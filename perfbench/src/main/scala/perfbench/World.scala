package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.concurrent.duration._

import graft.plans.Scheduler
import graft.sources.{Naming, Store}

/** Deterministic bytes and choices from a seed. */
object Gen {
  /** splitmix64 finaliser */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** A 64-bit key for (seed, parts), stable across JVMs. */
  def key(seed: Long, parts: Any*): Long =
    parts.foldLeft(mix(seed))((h, p) =>
      mix(h ^ scala.util.hashing.MurmurHash3.stringHash(p.toString).toLong))

  /** `size` pseudo-random bytes drawn from `k`. */
  def bytes(k: Long, size: Int): Array[Byte] = {
    val out = new Array[Byte](size)
    var s = k
    var i = 0
    while (i < size) {
      s = mix(s)
      var j = 0
      while (j < 8 && i < size) { out(i) = (s >>> (8 * j)).toByte; i += 1; j += 1 }
    }
    out
  }

  def md5(b: Array[Byte]): String = Store.md5Hex(b)
}

/** A RouteViews-shaped manifest feed: rows are `seqnum<TAB>epoch<TAB>path`
  * with `path = YYYY/MM/routeviews-<tag>-YYYYMMDD-HHMM.pfx2as.gz`, one row
  * every 12 hours. A row's payload is a pure function of (seed, feed,
  * seqnum), so the origin generates it on demand. */
final class RvFeed(seed: Long, val dataset: String, val dir: String, tag: String,
                   payloadBytes: Int) {
  private val firstSeq = 3000 + (math.abs(Gen.key(seed, dataset, "seq")) % 1000).toInt
  private val firstTs = 1483228800L + 3600L * (math.abs(Gen.key(seed, dataset, "ts")) % 24)
  private val pathFmt = DateTimeFormatter.ofPattern("yyyy/MM/'routeviews-'").withZone(ZoneOffset.UTC)
  private val stampFmt = DateTimeFormatter.ofPattern("yyyyMMdd-HHmm").withZone(ZoneOffset.UTC)
  private var rows = 0
  private val bySuffix = mutable.HashMap.empty[String, Int] // path -> seqnum

  def count: Int = rows

  /** Drop the rows after the first `n` (the payloads stay servable). */
  def truncate(n: Int): Unit = synchronized { rows = n }
  def maxSeq: Long = firstSeq + rows - 1L
  def seq(i: Int): Int = firstSeq + i
  def ts(i: Int): Long = firstTs + 43200L * i

  def path(i: Int): String = {
    val t = Instant.ofEpochSecond(ts(i))
    pathFmt.format(t) + tag + "-" + stampFmt.format(t) + ".pfx2as.gz"
  }

  /** Archive key the pipeline derives for row i. */
  def name(i: Int): String = s"$dataset/${path(i)}"

  def payload(seqnum: Int): Array[Byte] = Gen.bytes(Gen.key(seed, dataset, seqnum), payloadBytes)

  private val md5s = mutable.HashMap.empty[Int, String]

  /** md5 of a row's payload, memoised: the model asks for it every sample. */
  def md5(seqnum: Int): String = synchronized(md5s.getOrElseUpdate(seqnum, Gen.md5(payload(seqnum))))

  def payloadFor(path: String): Option[Array[Byte]] = synchronized(bySuffix.get(path)).map(payload)

  /** Append `n` rows to the manifest. */
  def grow(n: Int): Unit = synchronized {
    (rows until rows + n).foreach(i => bySuffix(path(i)) = seq(i))
    rows += n
  }

  def manifest: Array[Byte] = synchronized {
    val sb = new StringBuilder("# seqnum\ttimestamp\tpath\n")
    (0 until rows).foreach(i => sb.append(seq(i)).append('\t').append(ts(i)).append('\t')
      .append(path(i)).append('\n'))
    sb.toString.getBytes(UTF_8)
  }
}

/** The origin's content plus the generator's own model of what the store
  * must hold after each iteration. Two RouteViews feeds (IPv4, IPv6) and
  * one MaxMind-shaped fixed feed whose bytes change every 7 simulated days.
  * Every payload is `payloadBytes` long; the seed picks its content.
  */
final class World(val seed: Long, payloadBytes: Int) {
  val rv: Seq[RvFeed] = Seq(
    new RvFeed(seed, "RouteViewIPv4", "rv4", "rv2", payloadBytes),
    new RvFeed(seed, "RouteViewIPv6", "rv6", "rv6", payloadBytes))
  val fixedDataset = "Maxmind"
  val fixedFile = "GeoLite2-City.tar.gz"
  val fixedCurrent = s"$fixedDataset/current/$fixedFile"
  val rvCurrent: Map[String, String] =
    rv.map(f => f.dataset -> s"${f.dataset}/current/routeview.pfx2as.gz").toMap

  private val rng = new scala.util.Random(Gen.key(seed, "clock"))
  /** simulated clock and day */
  var now: Instant = Instant.ofEpochSecond(
    1500000000L + (math.abs(Gen.key(seed, "start")) % 86400L))
  var day = 0
  /** the fixed feed's bytes change every 7 simulated days */
  var fixedVersion = 0
  def fixedPayload: Array[Byte] = Gen.bytes(Gen.key(seed, fixedDataset, fixedVersion), payloadBytes)

  // ---- expected store contents
  /** archived object name -> md5 */
  val kept = mutable.HashMap.empty[String, String]
  /** current pointer -> md5 of the bytes it must hold */
  val current = mutable.HashMap.empty[String, String]
  /** dataset -> persisted watermark */
  val watermark = mutable.HashMap.empty[String, Long]
  private val scopeMd5 = mutable.HashMap.empty[String, mutable.Set[String]]

  /** Month scope of a fixed-feed name: everything up to the slash before
    * the day directory, as the deployed config's dedup regex cuts it. */
  def fixedScope(name: String): String = name.substring(0, name.lastIndexOf('/', name.lastIndexOf('/') - 1) + 1)

  def fixedName(at: Instant): String =
    Naming.fixedName(s"$fixedDataset/" + Naming.datePrefix(at), Naming.timestampPrefix(at), fixedFile)

  /** Advance the simulated clock by one jittered day (the daemon's sleep,
    * drawn as `Downloader.loop` draws it, in zero wall time). */
  def nextDay(): Unit = {
    now = now.plusNanos(Scheduler.uniformJitter(24.hours, 4.hours, rng).toNanos)
    day += 1
    fixedVersion = day / 7
  }

  def mark(): World.Mark = new World.Mark(rv.map(_.count), now, day, fixedVersion, kept.toMap, current.toMap,
    watermark.toMap, scopeMd5.map { case (k, v) => k -> v.toSet }.toMap)

  /** Return to `m`, except for the clock's random stream, which goes on. */
  def reset(m: World.Mark): Unit = {
    rv.zip(m.rows).foreach { case (f, n) => f.truncate(n) }
    now = m.now; day = m.day; fixedVersion = m.fixedVersion
    kept.clear(); current.clear(); watermark.clear(); scopeMd5.clear()
    kept ++= m.kept; current ++= m.current; watermark ++= m.watermark
    m.scopes.foreach { case (k, v) => scopeMd5(k) = mutable.Set.from(v) }
  }

  /** Model the verdicts of one iteration at `now` over RouteViews rows
    * `[from(f), f.count)`: every new row is kept (self-scope dedup); the
    * fixed file is kept unless its month scope already holds its bytes.
    * Returns (kept, fetched). */
  def expectIteration(from: Map[String, Int]): (Int, Int) = {
    var keptN = 0
    var fetched = 0
    rv.foreach { f =>
      val start = from(f.dataset)
      (start until f.count).foreach { i =>
        kept(f.name(i)) = f.md5(f.seq(i))
        keptN += 1; fetched += 1
      }
      if (f.count > start) {
        current(rvCurrent(f.dataset)) = f.md5(f.seq(f.count - 1))
        watermark(f.dataset) = f.maxSeq
      }
    }
    val name = fixedName(now)
    val md5 = Gen.md5(fixedPayload)
    val scope = scopeMd5.getOrElseUpdate(fixedScope(name), mutable.Set.empty)
    fetched += 1
    if (scope.add(md5)) {
      kept(name) = md5
      current(fixedCurrent) = md5
      keptN += 1
    }
    (keptN, fetched)
  }

  /** Write rows `[0, f.count)` of every feed, and the fixed feed as fetched
    * on each of `days`, straight into `store`, as the archive would hold
    * them after running daily; seeds the store without fetching. */
  def seedStore(store: Store, days: Seq[Instant], pool: java.util.concurrent.ExecutorService): Unit = {
    import scala.jdk.CollectionConverters._
    val writes = mutable.ArrayBuffer.empty[java.util.concurrent.Callable[Unit]]
    rv.foreach { f =>
      (0 until f.count).foreach { i =>
        val n = f.name(i); val s = f.seq(i)
        writes += (() => store.write(n, f.payload(s)))
      }
    }
    val saved = (now, day)
    days.zipWithIndex.foreach { case (t, d) =>
      now = t; day = d; fixedVersion = d / 7
      val name = fixedName(t)
      val md5 = Gen.md5(fixedPayload)
      if (scopeMd5.getOrElseUpdate(fixedScope(name), mutable.Set.empty).add(md5)) {
        kept(name) = md5
        current(fixedCurrent) = md5
        val bytes = fixedPayload
        writes += (() => store.write(name, bytes))
      }
    }
    now = saved._1; day = saved._2; fixedVersion = day / 7
    pool.invokeAll(writes.asJava).asScala.foreach(_.get())
    rv.foreach { f =>
      (0 until f.count).foreach(i => kept(f.name(i)) = f.md5(f.seq(i)))
      store.copy(f.name(f.count - 1), rvCurrent(f.dataset))
      current(rvCurrent(f.dataset)) = kept(f.name(f.count - 1))
      graft.plans.Downloader.saveWatermark(store, f.dataset, f.maxSeq)
      watermark(f.dataset) = f.maxSeq
    }
    kept.keys.filter(_.startsWith(fixedDataset + "/")).maxOption
      .foreach(store.copy(_, fixedCurrent))
  }
}

object World {
  /** A point to return to: row counts, clock and the expected store. */
  final class Mark private[perfbench] (val rows: Seq[Int], val now: Instant, val day: Int,
      val fixedVersion: Int, val kept: Map[String, String], val current: Map[String, String],
      val watermark: Map[String, Long], val scopes: Map[String, Set[String]])
}
