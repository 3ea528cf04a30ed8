package graft.plans

import graft.SparkSpec
import graft.core.Metrics
import graft.sources.{InMemoryStore, PermanentError, Retry, Store}

import scala.concurrent.duration._
import scala.util.matching.Regex

/** End-to-end pipeline tests mirroring the reference's table-driven
  * download tests (/root/reference/download/common_test.go:101-188,
  * routeviews_test.go:16-102): success, fetch failure gating the
  * watermark, duplicate deletion, current-pointer promotion.
  */
object ArchivePipelineSpec {
  // Top-level so the task closure doesn't drag the (non-serializable)
  // suite instance along as $outer.
  class MapFetcher(pages: Map[String, String],
                   failOn: Set[String] = Set.empty) extends Fetcher {
    def fetch(url: String): Array[Byte] = {
      if (failOn.exists(url.endsWith _)) throw new RuntimeException(s"fetch failed: $url")
      pages.collectFirst { case (k, v) if url.endsWith(k) => v.getBytes("UTF-8") }
        .getOrElse(throw new RuntimeException(s"404: $url"))
    }
  }

  /** Delegating store whose first `copy` fails permanently: a promotion
    * lost after the write, as a failed copy or a crash between the write
    * and the copy leaves it. */
  class CopyFailsOnce(inner: Store) extends Store {
    private var failed = false
    def list(prefix: String): Seq[graft.sources.ObjectMeta] = inner.list(prefix)
    def read(name: String): Array[Byte] = inner.read(name)
    def write(name: String, content: Array[Byte]): Unit = inner.write(name, content)
    override def writeStream(name: String, in: java.io.InputStream): (Long, String) =
      inner.writeStream(name, in)
    def delete(name: String): Unit = inner.delete(name)
    def copy(src: String, dst: String): Unit =
      if (failed) inner.copy(src, dst)
      else { failed = true; throw PermanentError(s"injected copy failure: $src") }
  }
}

class ArchivePipelineSpec extends SparkSpec {

  private val manifestUrl = "http://example.test/rv/pfx2as-creation.log"

  private def manifest(rows: (Int, String)*): String =
    "# comment line\n" +
      rows.map { case (seq, path) => s"$seq\t1497717708\t$path" }.mkString("\n")

  private def cfg = SourceConfig(
    dataset = "RouteViewIPv4",
    pathPrefix = "RouteViewIPv4/",
    currentName = "RouteViewIPv4/current/routeviews.pfx2as.gz",
    urlRegex = Some(new Regex(""".*(\d{4}/\d{2}/)(.*)""")),
    dedupScopeRegex = new Regex("(.*)"), // self-scope: always unique
    retryInitialMs = 1, retryMaxMs = 0)  // no in-task retries in tests

  import ArchivePipelineSpec.MapFetcher

  test("success path: fetch, archive key derivation, watermark, current pointer") {
    val store = new InMemoryStore
    val body = manifest(
      3363 -> "2017/06/routeviews-rv2-20170616-1200.pfx2as.gz",
      3364 -> "2017/06/routeviews-rv2-20170617-1200.pfx2as.gz")
    val fetcher = new MapFetcher(Map(
      "20170616-1200.pfx2as.gz" -> "payload-16",
      "20170617-1200.pfx2as.gz" -> "payload-17"))
    val r = ArchivePipeline.run(spark, body, manifestUrl, cfg, store, 0L,
      fetcher, new Metrics(spark))
    assert(r.newWatermark == 3364L)
    assert(r.kept.sorted == Seq(
      "RouteViewIPv4/2017/06/routeviews-rv2-20170616-1200.pfx2as.gz",
      "RouteViewIPv4/2017/06/routeviews-rv2-20170617-1200.pfx2as.gz"))
    assert(r.duplicates.isEmpty && r.failed.isEmpty)
    assert(r.currentPromoted == Seq(cfg.currentName))
    assert(new String(store.read(cfg.currentName), "UTF-8") == "payload-17")
  }

  test("watermark filter: rows at or below the watermark are not fetched") {
    val store = new InMemoryStore
    val body = manifest(
      3363 -> "2017/06/a.pfx2as.gz", 3364 -> "2017/06/b.pfx2as.gz")
    val fetcher = new MapFetcher(Map("b.pfx2as.gz" -> "only-b"))
    val r = ArchivePipeline.run(spark, body, manifestUrl, cfg, store, 3363L,
      fetcher, new Metrics(spark))
    assert(r.kept == Seq("RouteViewIPv4/2017/06/b.pfx2as.gz"))
    assert(r.newWatermark == 3364L)
  }

  test("fetch failure gates the watermark and is counted") {
    val store = new InMemoryStore
    val body = manifest(
      3363 -> "2017/06/a.pfx2as.gz",
      3364 -> "2017/06/b.pfx2as.gz",
      3365 -> "2017/06/c.pfx2as.gz")
    val fetcher = new MapFetcher(
      Map("a.pfx2as.gz" -> "pa", "c.pfx2as.gz" -> "pc"),
      failOn = Set("b.pfx2as.gz"))
    val metrics = new Metrics(spark)
    val r = ArchivePipeline.run(spark, body, manifestUrl, cfg, store, 0L,
      fetcher, metrics)
    assert(r.failed == Seq(3364L))
    assert(r.newWatermark == 3363L) // gated: stops before the failure
    assert(r.kept.sorted == Seq(
      "RouteViewIPv4/2017/06/a.pfx2as.gz", "RouteViewIPv4/2017/06/c.pfx2as.gz"))
    assert(metrics.snapshot("downloader_download_failed_total{RouteViewIPv4}") == 1L)
  }

  test("month-scope dedup deletes the duplicate and keeps the first") {
    val store = new InMemoryStore
    // maxmind-style month scope: (.*/).*/.* → group 1 = dir prefix
    val monthCfg = cfg.copy(dedupScopeRegex = new Regex("""(.*/).*"""))
    val body = manifest(
      3363 -> "2017/06/a.pfx2as.gz", 3364 -> "2017/06/b.pfx2as.gz")
    val fetcher = new MapFetcher(Map(
      "a.pfx2as.gz" -> "same-bytes", "b.pfx2as.gz" -> "same-bytes"))
    val r = ArchivePipeline.run(spark, body, manifestUrl, monthCfg, store, 0L,
      fetcher, new Metrics(spark))
    assert(r.kept == Seq("RouteViewIPv4/2017/06/a.pfx2as.gz"))
    assert(r.duplicates == Seq("RouteViewIPv4/2017/06/b.pfx2as.gz"))
    assert(store.list("RouteViewIPv4/2017/06/").map(_.name)
      == Seq("RouteViewIPv4/2017/06/a.pfx2as.gz"))
  }

  test("pre-existing identical content in scope makes the new file a duplicate") {
    val store = new InMemoryStore
    store.write("RouteViewIPv4/2017/06/old.pfx2as.gz", "same-bytes".getBytes("UTF-8"))
    val monthCfg = cfg.copy(dedupScopeRegex = new Regex("""(.*/).*"""))
    val body = manifest(3364 -> "2017/06/new.pfx2as.gz")
    val fetcher = new MapFetcher(Map("new.pfx2as.gz" -> "same-bytes"))
    val r = ArchivePipeline.run(spark, body, manifestUrl, monthCfg, store, 0L,
      fetcher, new Metrics(spark))
    assert(r.kept.isEmpty)
    assert(r.duplicates == Seq("RouteViewIPv4/2017/06/new.pfx2as.gz"))
    assert(r.newWatermark == 3364L) // dedup is not a failure; watermark advances
  }

  test("identical content in a DIFFERENT scope is kept, not deduped") {
    // Month-scoped dedup exists precisely so an unchanged file re-ingested
    // in a new month IS archived again (IsFileNew compares only within the
    // listed scope prefix, common.go:162-190). Batch spans two months with
    // the same bytes, plus a pre-existing same-bytes object in yet another
    // month: everything must survive.
    val store = new InMemoryStore
    store.write("RouteViewIPv4/2017/05/old.pfx2as.gz", "same-bytes".getBytes("UTF-8"))
    val monthCfg = cfg.copy(dedupScopeRegex = new Regex("""(.*/).*"""))
    val body = manifest(
      3363 -> "2017/06/a.pfx2as.gz", 3364 -> "2017/07/b.pfx2as.gz")
    val fetcher = new MapFetcher(Map(
      "a.pfx2as.gz" -> "same-bytes", "b.pfx2as.gz" -> "same-bytes"))
    val r = ArchivePipeline.run(spark, body, manifestUrl, monthCfg, store, 0L,
      fetcher, new Metrics(spark))
    assert(r.kept.sorted == Seq(
      "RouteViewIPv4/2017/06/a.pfx2as.gz", "RouteViewIPv4/2017/07/b.pfx2as.gz"))
    assert(r.duplicates.isEmpty)
    assert(store.list("RouteViewIPv4/2017/").map(_.name) == Seq(
      "RouteViewIPv4/2017/05/old.pfx2as.gz",
      "RouteViewIPv4/2017/06/a.pfx2as.gz",
      "RouteViewIPv4/2017/07/b.pfx2as.gz"))
  }

  test("end-to-end on a HadoopFsStore file:// root (cluster deployment path)") {
    val root = java.nio.file.Files.createTempDirectory("graft_hdfs_e2e").toString
    val store = new graft.sources.HadoopFsStore("file://" + root)
    val monthCfg = cfg.copy(dedupScopeRegex = new Regex("""(.*/).*"""))
    val body = manifest(
      3363 -> "2017/06/a.pfx2as.gz", 3364 -> "2017/06/b.pfx2as.gz")
    val fetcher = new MapFetcher(Map(
      "a.pfx2as.gz" -> "same-bytes", "b.pfx2as.gz" -> "same-bytes"))
    val r = ArchivePipeline.run(spark, body, manifestUrl, monthCfg, store, 0L,
      fetcher, new Metrics(spark))
    assert(r.kept == Seq("RouteViewIPv4/2017/06/a.pfx2as.gz"))
    assert(r.duplicates == Seq("RouteViewIPv4/2017/06/b.pfx2as.gz"))
    assert(r.currentPromoted == Seq(monthCfg.currentName))
    assert(new String(store.read(monthCfg.currentName), "UTF-8") == "same-bytes")
    assert(store.list("RouteViewIPv4/2017/06/").map(_.name)
      == Seq("RouteViewIPv4/2017/06/a.pfx2as.gz"))
  }

  test("empty manifest delta is a no-op") {
    val r = ArchivePipeline.run(spark, manifest(), manifestUrl, cfg,
      new InMemoryStore, 99L, new MapFetcher(Map.empty), new Metrics(spark))
    assert(r == IngestReport(99L, Nil, Nil, Nil, Nil))
  }

  test("retry: transient errors retried with doubling backoff, permanent aborts") {
    var calls = 0
    val sleeps = collection.mutable.ArrayBuffer.empty[FiniteDuration]
    val r = Retry.withRetry(1.minute, 8.minutes, sleeps.append(_)) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(r == Right("ok") && calls == 3)
    assert(sleeps.toSeq == Seq(1.minute, 2.minutes))

    var permCalls = 0
    val p = Retry.withRetry(1.minute, 8.minutes, _ => ()) {
      permCalls += 1
      throw PermanentError("nope")
    }
    assert(p.isLeft && permCalls == 1)

    // transient forever: aborts once next wait exceeds the cap (≤ 5 sleeps)
    var n = 0
    val t = Retry.withRetry(1.minute, 8.minutes, _ => ()) {
      n += 1; throw new RuntimeException("always")
    }
    assert(t.isLeft && n == 5)
  }

  test("in-task retry recovers a flaky fetch without failing the file") {
    val store = new InMemoryStore
    val flaky = new Fetcher {
      private var calls = 0
      def fetch(url: String): Array[Byte] = {
        calls += 1
        if (calls < 3) throw new RuntimeException("transient")
        "payload".getBytes("UTF-8")
      }
    }
    val fast = cfg.copy(retryInitialMs = 1, retryMaxMs = 10)
    val r = ArchivePipeline.run(spark, manifest(3363 -> "2017/06/a.pfx2as.gz"),
      manifestUrl, fast, store, 0L, flaky, new Metrics(spark))
    assert(r.failed.isEmpty && r.kept == Seq("RouteViewIPv4/2017/06/a.pfx2as.gz"))
  }

  test("fixed-name source (maxmind pipeline): archive key, dedup, current pointer") {
    val store = new InMemoryStore
    val mm = SourceConfig(
      dataset = "Maxmind",
      pathPrefix = "Maxmind/",
      currentName = "Maxmind/current/GeoLite2-City.tar.gz",
      fixedFilename = Some("GeoLite2-City.tar.gz"),
      dedupScopeRegex = new Regex("""(.*/).*/.*"""), // month scope
      retryInitialMs = 1, retryMaxMs = 0)
    val now = java.time.Instant.parse("2017-09-15T10:20:30Z")
    val fetcher = new ArchivePipelineSpec.MapFetcher(Map("city.tgz" -> "geo-bytes"))
    val r1 = ArchivePipeline.runFixedSource(mm, "http://x/city.tgz", store, fetcher, now)
    val expectName = "Maxmind/2017/09/15/20170915T102030Z-GeoLite2-City.tar.gz"
    assert(r1 == Right(IngestReport(0L, Seq(expectName), Nil, Nil, Seq(mm.currentName))))
    assert(new String(store.read(mm.currentName), "UTF-8") == "geo-bytes")

    // same content next day, same month → month-scope duplicate, deleted
    val later = java.time.Instant.parse("2017-09-16T10:20:30Z")
    val r2 = ArchivePipeline.runFixedSource(mm, "http://x/city.tgz", store, fetcher, later)
    val dupName = "Maxmind/2017/09/16/20170916T102030Z-GeoLite2-City.tar.gz"
    assert(r2 == Right(IngestReport(0L, Nil, Seq(dupName), Nil, Nil)))
    assert(store.list("Maxmind/2017/09/1").map(_.name) == Seq(expectName))
  }

  test("fixed-name source: a duplicate of an unpromoted object promotes it to current") {
    val store = new InMemoryStore
    val (_, Seq(mmFeed)) = Downloader.parseFeeds("fixed|Maxmind|GeoLite2-City.tar.gz|http://x/city.tgz")
    val mm = mmFeed.cfg.copy(retryInitialMs = 1, retryMaxMs = 0)
    def day(d: Int) = java.time.Instant.parse(f"2017-09-$d%02dT10:20:30Z")
    def bytes(v: String) = new ArchivePipelineSpec.MapFetcher(Map("city.tgz" -> v))
    def current = new String(store.read(mm.currentName), "UTF-8")

    // day 1 archives v1 and promotes it
    assert(ArchivePipeline.runFixedSource(mm, mmFeed.url, store, bytes("v1"), day(15)).isRight)
    assert(current == "v1")
    // day 2 writes v2, then the promoting copy fails
    val failing = new ArchivePipelineSpec.CopyFailsOnce(store)
    assert(ArchivePipeline.runFixedSource(mm, mmFeed.url, failing, bytes("v2"), day(16)).isLeft)
    val day2 = "Maxmind/2017/09/16/20170916T102030Z-GeoLite2-City.tar.gz"
    assert(store.list("Maxmind/2017/09/").map(_.name).contains(day2))
    assert(current == "v1")
    // day 3 fetches v2 again: a duplicate of day 2's object, which it promotes
    val day3 = "Maxmind/2017/09/17/20170917T102030Z-GeoLite2-City.tar.gz"
    assert(ArchivePipeline.runFixedSource(mm, mmFeed.url, store, bytes("v2"), day(17)) ==
      Right(IngestReport(0L, Nil, Seq(day3), Nil, Seq(mm.currentName))))
    assert(current == "v2")
    assert(!store.list("Maxmind/2017/09/").map(_.name).contains(day3))
    // day 4: current already holds v2, so a duplicate promotes nothing
    val day4 = "Maxmind/2017/09/18/20170918T102030Z-GeoLite2-City.tar.gz"
    assert(ArchivePipeline.runFixedSource(mm, mmFeed.url, store, bytes("v2"), day(18)) ==
      Right(IngestReport(0L, Nil, Seq(day4), Nil, Nil)))
  }

  test("fixed-name source: a scope regex whose group 1 does not take part scopes to the whole store") {
    // (x/)?.* matches every key without group 1: the scope is "" (the
    // regexp_extract semantics the manifest path uses), not a null that
    // store.list would throw on inside the retry loop
    val store = new InMemoryStore
    val mm = SourceConfig(
      dataset = "Maxmind",
      pathPrefix = "Maxmind/",
      currentName = "Maxmind/current/GeoLite2-City.tar.gz",
      fixedFilename = Some("GeoLite2-City.tar.gz"),
      dedupScopeRegex = new Regex("(x/)?.*"),
      retryInitialMs = 1, retryMaxMs = 0)
    store.write("Other/2017/01/01/old.tar.gz", "geo-bytes".getBytes("UTF-8"))
    val fetcher = new ArchivePipelineSpec.MapFetcher(Map("city.tgz" -> "geo-bytes"))
    val now = java.time.Instant.parse("2017-09-15T10:20:30Z")
    val name = "Maxmind/2017/09/15/20170915T102030Z-GeoLite2-City.tar.gz"
    assert(ArchivePipeline.runFixedSource(mm, "http://x/city.tgz", store, fetcher, now) ==
      Right(IngestReport(0L, Nil, Seq(name), Nil, Nil)))

    // the manifest path derives the same scope
    val r = ArchivePipeline.run(spark, manifest(3363 -> "2017/06/a.pfx2as.gz"),
      manifestUrl, cfg.copy(dedupScopeRegex = new Regex("(x/)?.*")), store, 0L,
      new MapFetcher(Map("a.pfx2as.gz" -> "geo-bytes")), new Metrics(spark))
    assert(r.kept.isEmpty && r.duplicates == Seq("RouteViewIPv4/2017/06/a.pfx2as.gz"))
  }

  test("a run submits one Spark job: one stage, no shuffle; no new rows submit none") {
    val store = new InMemoryStore
    val rows = (1 to 5).map(i => (3362 + i) -> s"2017/06/f$i.pfx2as.gz")
    val fetcher = new MapFetcher(rows.map { case (_, p) =>
      p.substring(p.lastIndexOf('/') + 1) -> s"bytes-of-$p" }.toMap)
    val body = manifest(rows: _*)
    val (r, counts) = graft.SparkJobCount.during(spark) {
      ArchivePipeline.run(spark, body, manifestUrl, cfg, store, 0L, fetcher, new Metrics(spark))
    }
    assert(r.kept.size == 5 && r.newWatermark == 3367L)
    assert(counts == graft.SparkJobCount(jobs = 1, stages = 1, shuffleBytes = 0L))

    val (again, none) = graft.SparkJobCount.during(spark) {
      ArchivePipeline.run(spark, body, manifestUrl, cfg, store, 3367L, fetcher, new Metrics(spark))
    }
    assert(again == IngestReport(3367L, Nil, Nil, Nil, Nil))
    assert(none.jobs == 0)
  }

  test("scheduler: jitter bounds and all-success gating") {
    import scala.concurrent.duration._
    val rng = new scala.util.Random(0)
    for (_ <- 1 to 100) {
      val j = Scheduler.uniformJitter(24.hours, 4.hours, rng)
      assert(j >= 22.hours && j <= 26.hours)
    }
    var gauge = 0
    val sleeps = collection.mutable.ArrayBuffer.empty[FiniteDuration]
    var srcBFails = true
    val results = Scheduler.loop(
      sources = Seq(() => true, () => if (srcBFails) { srcBFails = false; false } else true),
      iterations = 2,
      onAllSuccess = () => gauge += 1,
      sleep = sleeps.append(_), rng = rng)
    assert(results == Seq(false, true)) // gauge set only when ALL succeed
    assert(gauge == 1 && sleeps.length == 1) // no sleep after the final run
  }

  test("retry propagates InterruptedException instead of sleeping on it") {
    intercept[InterruptedException] {
      Retry.withRetry(1.millis, 8.millis, _ => ()) {
        throw new InterruptedException("cancelled")
      }
    }
  }

  test("injected copy failure surfaces as PermanentError") {
    val store = new InMemoryStore
    store.write("a/copyFail", "x".getBytes)
    intercept[PermanentError](store.copy("a/copyFail", "a/current"))
  }
}
