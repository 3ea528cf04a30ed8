package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.Executors

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.{InMemoryMetricsSink, Metrics, MetricsPublisher, Sessions}
import graft.plans.{Downloader, FixedFeed, ManifestFeed}
import graft.sources.{HadoopFsStore, HttpFetcher, Store}

/** The deployed daemon path, one closed-loop client: `Downloader.runOnce`
  * over loopback HTTP (`HttpFetcher`) into a `HadoopFsStore` on `file://`,
  * followed by the bookkeeping `Downloader.loop` does after each iteration
  * (all-success gauge, metrics publication). The loop's 24 h ± 2 h sleep
  * passes in zero wall time on a simulated clock, which is also passed to
  * `runOnce` so names derived from it never depend on timing.
  *
  * Set-up seeds a store with days of history; every sample is the next
  * simulated day on that store, restored to its seeded state first so
  * every sample sees the same depth: the IPv4 manifest gains 1 row and the
  * IPv6 manifest 2, and the fixed feed is refetched, a month-scope
  * duplicate in 6 samples of 7.
  */
final class ArchiveWorkload(seed: Long, work: Path, nproc: Int) extends Workload {
  import ArchiveWorkload._

  private val storeDir = work.resolve("store")
  private var spark: SparkSession = _
  private var origin: Origin = _
  private var world: World = _
  private var store: Store = _
  private var rawStore: Store = _
  private var fetcher: HttpFetcher = _
  private var metrics: Metrics = _
  private var sink: InMemoryMetricsSink = _
  private var publisher: MetricsPublisher = _
  private var feeds: (Seq[ManifestFeed], Seq[FixedFeed]) = _
  private var check: StoreCheck = _
  private var probe: Option[SparkProbe] = None
  private var opId = 0L
  private val seedDir = work.resolve("store-seed")
  private var seeded: World.Mark = _
  private var seededObjects = 0L
  private var days = 0

  private val walls = mutable.ArrayBuffer.empty[Double]
  private var files = 0L
  val tally = new Tally
  val mismatches = mutable.ArrayBuffer.empty[String]
  val layers = new LayerTotals

  def setUp(): Unit = {
    spark = Sessions.local(nproc)
    spark.sparkContext.setLogLevel("ERROR")
    world = new World(seed, PayloadBytes)
    origin = new Origin(world, threads = nproc).start()
    feeds = deployedFeeds(origin, world)
    deleteTree(storeDir)
    val raw = new HadoopFsStore(storeDir.toUri.toString)
    rawStore = raw
    store = if (Trace.enabled) new TracingStore(raw) else raw
    fetcher = if (Trace.enabled) new TracingFetcher(HttpFetcher()) else HttpFetcher()
    metrics = new Metrics(spark)
    sink = new InMemoryMetricsSink
    publisher = new MetricsPublisher(spark, metrics, sink)
    check = new StoreCheck(storeDir, world)
    val history = mutable.ArrayBuffer.empty[java.time.Instant]
    (0 until HistoryDays).foreach { d =>
      if (d > 0) world.nextDay()
      history += world.now
      world.rv.foreach(f => f.grow(1 + d % 2))
    }
    val pool = Executors.newFixedThreadPool(nproc)
    try world.seedStore(raw, history.toSeq, pool) finally pool.shutdown()
    val bad = check.check()
    if (bad.nonEmpty) mismatches ++= bad.map("seed: " + _)
    seededObjects = check.visibleObjects
    seeded = world.mark()
    deleteTree(seedDir)
    copyTree(storeDir, seedDir)
    probe = if (Trace.enabled) Some(new SparkProbe(spark).install()) else None
    (1 to WarmupIterations).foreach(_ => iterate(measured = false))
  }

  def tearDown(): Unit = {
    probe.foreach(_.uninstall())
    origin.stop()
    spark.stop()
  }

  /** One operation: prepare the origin and model, time `runOnce` plus the
    * loop's bookkeeping, then check the store against the model. */
  private def iterate(measured: Boolean): Unit = {
    world.reset(seeded)
    deleteTree(storeDir)
    copyTree(seedDir, storeDir)
    val from = world.rv.map(f => f.dataset -> f.count).toMap
    world.nextDay()
    world.rv.zipWithIndex.foreach { case (f, i) => f.grow(1 + i) }
    // new bytes on one sample in 7, a duplicate of the seeded ones otherwise
    days += 1
    world.fixedVersion = seeded.fixedVersion + (if (days % 7 == 0) days else 0)
    val (keptN, fetchedN) = world.expectIteration(from)
    origin.beginEpoch()
    opId += 1
    val root = Trace.nextId()
    Trace.beginOp(opId, root)
    Trace.storedObjects.set(seededObjects)
    Trace.take(); probe.foreach { p => p.drain(); p.take() }
    Trace.takeListStored()

    val t0 = System.nanoTime()
    val results = Downloader.runOnce(spark, store, fetcher, metrics, feeds._1, feeds._2,
      now = () => world.now)
    val allOk = results.forall(identity)
    if (allOk) metrics.markAllSuccess(world.now.getEpochSecond)
    Trace.span("core.metrics.publish")(publisher.publishNow())
    val t1 = System.nanoTime()
    Trace.record(Trace.Span(root, "plans.iteration", t0, t1, 0L, opId, fetchedN, !allOk))

    val (requests, urls) = origin.beginEpoch()
    val bad = check.check() ++ metricsMismatches(allOk)
    if (bad.nonEmpty) mismatches ++= bad.take(10).map(m => s"op $opId (day ${world.day}): $m")
    tally.add(fetchedN, if (bad.nonEmpty || !allOk) fetchedN else 0)
    if (measured) {
      walls += (t1 - t0) / 1e9
      files += fetchedN
      probe.foreach { p =>
        p.drain()
        layers.addOp(t0, t1, Trace.take(), p.take(), Trace.takeListStored())
        layers.addVerdicts(keptN, fetchedN, requests, urls)
        val lag = world.rv.map(f => f.maxSeq - Downloader.loadWatermark(rawStore, f.dataset)).max
        layers.watermarkLag = math.max(layers.watermarkLag, lag)
        layers.diskPerUnique = check.diskBytes.toDouble / check.uniqueBytes
      }
    }
  }

  /** The reference's four series after an iteration: no failed downloads,
    * no row or manifest errors, and the all-success gauge at the simulated
    * time; the sink holds the same snapshot. */
  private def metricsMismatches(allOk: Boolean): Seq[String] = {
    val snap = metrics.snapshot
    val bad = mutable.ArrayBuffer.empty[String]
    snap.foreach { case (k, v) =>
      if ((k.startsWith("downloader_download_failed_total") ||
           k.startsWith("downloader_error_total") ||
           k.startsWith("downloader_downloader_routeviews_url_error_total")) && v != 0L)
        bad += s"metric $k = $v, expected 0"
    }
    if (!allOk) bad += "an iteration feed failed"
    val gauge = snap.get("downloader_last_success_time_seconds")
    if (!gauge.contains(world.now.getEpochSecond))
      bad += s"downloader_last_success_time_seconds = $gauge, expected ${world.now.getEpochSecond}"
    if (!sink.latest.contains(snap)) bad += "published snapshot differs from Metrics.snapshot"
    bad.toSeq
  }

  def measure(deadline: Long): Unit =
    while (System.nanoTime() < deadline) iterate(measured = true)

  /** One more measured iteration (tests drive the workload step by step). */
  private[perfbench] def step(): Unit = iterate(measured = true)
  private[perfbench] def storeRoot: Path = storeDir
  private[perfbench] def metricsSnapshot: Map[String, Long] = metrics.snapshot

  def opWalls: Seq[Double] = walls.toSeq
  def filesPerSecond: Double = files / walls.sum
  def storeBytesPerUniqueByte: Double = check.diskBytes.toDouble / check.uniqueBytes
}

object ArchiveWorkload {
  /** every payload's size, as a scaled pfx2as file; fixed so that every
    * seed moves the same bytes */
  val PayloadBytes: Int = 256 << 10
  /** simulated days of history in the seeded store (1-2 rows per feed per
    * day) */
  val HistoryDays = 3
  /** unmeasured iterations at the end of set-up: iterations get faster
    * while the JIT settles, the first by 1.5x. They level off after about
    * 16; the run budget pays for 8, which leaves the first few measured
    * ones up to 1.25x slower than the level. */
  val WarmupIterations = 8

  /** The deployed three-feed shape (two RouteViews manifests and one
    * MaxMind fixed file), built through the program's own config parser;
    * only the retry waits are shortened so a retry costs milliseconds. */
  def deployedFeeds(origin: Origin, world: World): (Seq[ManifestFeed], Seq[FixedFeed]) = {
    val spec = (world.rv.map(f => s"manifest|${f.dataset}|${origin.manifestUrl(f)}") :+
      s"fixed|${world.fixedDataset}|${world.fixedFile}|${origin.fixedUrl}").mkString(";")
    val (m, f) = Downloader.parseFeeds(spec)
    def fast(c: graft.plans.SourceConfig) = c.copy(retryInitialMs = 1L, retryMaxMs = 8L)
    (m.map(x => x.copy(cfg = fast(x.cfg))), f.map(x => x.copy(cfg = fast(x.cfg))))
  }

  /** Copy a directory tree, keeping modification times. */
  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { x =>
      val dst = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(dst)
      else Files.copy(x, dst, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally walk.close()
  }
}
