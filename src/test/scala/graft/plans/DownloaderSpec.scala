package graft.plans

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkSpec
import graft.core.{InMemoryMetricsSink, Metrics}
import graft.sources.{HttpFetcher, InMemoryStore, Store}

import scala.util.matching.Regex

/** Executor-visible fetch bookkeeping: local-mode tasks share the JVM,
  * so the spec observes counts through the companion's static maps
  * (closure-serialized copies of a per-instance map would reset). */
object DownloaderSpec {
  val fetchCounts = scala.collection.concurrent.TrieMap.empty[String, Int]
  /** basename -> remaining PermanentError failures to inject */
  val permanentFailures = scala.collection.concurrent.TrieMap.empty[String, Int]
}

/** Delegating fetcher that counts per-basename payload fetches and
  * injects configured permanent failures (no in-task retry). It extends
  * [[HttpFetcher]] because `Downloader.runOnce` takes that type, and
  * counts in `fetchTo` as well as `fetch`: the pipeline streams payloads
  * through `fetchTo`. Manifest reads (`fetchString`) are not counted. */
class CountingFetcher(inner: HttpFetcher)
    extends HttpFetcher(inner.basicAuthUser, inner.basicAuthPass, inner.attemptTimeout) {
  private def count(url: String): Unit = {
    val base = url.substring(url.lastIndexOf('/') + 1)
    DownloaderSpec.fetchCounts.updateWith(base)(c => Some(c.getOrElse(0) + 1))
    val remaining = DownloaderSpec.permanentFailures.getOrElse(base, 0)
    if (remaining > 0) {
      DownloaderSpec.permanentFailures.put(base, remaining - 1)
      throw graft.sources.PermanentError(s"injected failure for $base")
    }
  }

  override def fetch(url: String): Array[Byte] = { count(url); inner.fetch(url) }

  override def fetchTo(url: String, store: Store, name: String): (Long, String) = {
    count(url); inner.fetchTo(url, store, name)
  }

  override def fetchString(url: String): String = inner.fetchString(url)
}

/** The composed daemon over live HTTP: watermark persistence across
  * restarts (the deliberate fix of the reference's process-local
  * watermark amnesia, downloader.go:61-62), manifest-error metrics,
  * all-success gauge gating, per-iteration publication, and the replay
  * of a failed file on the next iteration.
  */
class DownloaderSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private var server: HttpServer = _
  private def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  // mutable feed state the handlers serve
  @volatile private var manifestRows: Seq[(Int, String)] = Nil
  @volatile private var manifestFails = false

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
      ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    }
    server.createContext("/rv/", ex => {
      val p = ex.getRequestURI.getPath
      if (p.endsWith("pfx2as-creation.log")) {
        if (manifestFails) reply(ex, 500, Array.emptyByteArray)
        else reply(ex, 200, ("# manifest\n" + manifestRows.map { case (s, f) =>
          s"$s\t1497717708\t$f"
        }.mkString("\n") + "\n").getBytes(UTF_8))
      } else reply(ex, 200, s"payload-of:$p".getBytes(UTF_8))
    })
    server.start()
  }

  override protected def afterAll(): Unit = { server.stop(0); super.afterAll() }

  private def feed = ManifestFeed(SourceConfig(
    dataset = "RouteViewIPv4",
    pathPrefix = "RouteViewIPv4/",
    currentName = "RouteViewIPv4/current/routeviews.pfx2as.gz",
    urlRegex = Some(new Regex(""".*(\d{4}/\d{2}/)(.*)""")),
    dedupScopeRegex = new Regex("(.*)"),
    retryInitialMs = 1, retryMaxMs = 0), s"$base/rv/pfx2as-creation.log")

  test("watermark persists in the store across daemon restarts") {
    val store = new InMemoryStore
    val fetcher = HttpFetcher()
    manifestRows = Seq(3363 -> "2017/06/a.pfx2as.gz", 3364 -> "2017/06/b.pfx2as.gz")

    val m1 = new Metrics(spark)
    val r1 = Downloader.runOnce(spark, store, fetcher, m1, Seq(feed), Nil)
    assert(r1 == Seq(true))
    assert(Downloader.loadWatermark(store, "RouteViewIPv4") == 3364L)

    // "restart": fresh Metrics, same store — only the new row is fetched
    manifestRows = manifestRows :+ (3365 -> "2017/06/c.pfx2as.gz")
    val m2 = new Metrics(spark)
    val r2 = Downloader.runOnce(spark, store, fetcher, m2, Seq(feed), Nil)
    assert(r2 == Seq(true))
    assert(Downloader.loadWatermark(store, "RouteViewIPv4") == 3365L)
    // a and b were not re-archived (their keys existed already; no dups
    // were created in scope) and c arrived
    assert(store.list("RouteViewIPv4/2017/06/").map(_.name) == Seq(
      "RouteViewIPv4/2017/06/a.pfx2as.gz",
      "RouteViewIPv4/2017/06/b.pfx2as.gz",
      "RouteViewIPv4/2017/06/c.pfx2as.gz"))
  }

  test("a permanently failing file holds the watermark below it; the next run fetches only that file") {
    val store = new InMemoryStore
    DownloaderSpec.fetchCounts.clear()
    DownloaderSpec.permanentFailures.put("c.pfx2as.gz", 1)
    val fetcher = new CountingFetcher(HttpFetcher())
    manifestRows = Seq(3363 -> "2017/06/a.pfx2as.gz", 3364 -> "2017/06/b.pfx2as.gz",
      3365 -> "2017/06/c.pfx2as.gz")

    val metrics = new Metrics(spark)
    assert(Downloader.runOnce(spark, store, fetcher, metrics, Seq(feed), Nil) == Seq(false))
    // gated advance: the persisted watermark stops below the failed seqnum
    assert(Downloader.loadWatermark(store, "RouteViewIPv4") == 3364L)
    assert(store.list("RouteViewIPv4/2017/06/").map(_.name) == Seq(
      "RouteViewIPv4/2017/06/a.pfx2as.gz", "RouteViewIPv4/2017/06/b.pfx2as.gz"))
    assert(metrics.snapshot("downloader_download_failed_total{RouteViewIPv4}") == 1L)

    // the next run replays only the failed file, which now succeeds
    assert(Downloader.runOnce(spark, store, fetcher, metrics, Seq(feed), Nil) == Seq(true))
    assert(Downloader.loadWatermark(store, "RouteViewIPv4") == 3365L)
    assert(store.list("RouteViewIPv4/2017/06/").map(_.name) == Seq(
      "RouteViewIPv4/2017/06/a.pfx2as.gz", "RouteViewIPv4/2017/06/b.pfx2as.gz",
      "RouteViewIPv4/2017/06/c.pfx2as.gz"))
    assert(new String(store.read("RouteViewIPv4/2017/06/c.pfx2as.gz"), UTF_8) ==
      "payload-of:/rv/2017/06/c.pfx2as.gz")
    assert(DownloaderSpec.fetchCounts.toMap ==
      Map("a.pfx2as.gz" -> 1, "b.pfx2as.gz" -> 1, "c.pfx2as.gz" -> 2))
  }

  test("manifest failure counts the routeviews-url error and fails the feed") {
    val store = new InMemoryStore
    val metrics = new Metrics(spark)
    manifestFails = true
    try {
      val r = Downloader.runOnce(spark, store, HttpFetcher(), metrics, Seq(feed), Nil)
      assert(r == Seq(false))
      assert(metrics.snapshot(
        "downloader_downloader_routeviews_url_error_total{Couldnt get list}") == 1L)
      assert(Downloader.loadWatermark(store, "RouteViewIPv4") == 0L)
    } finally manifestFails = false
  }

  test("multi-feed service wiring: two manifests + one fixed per iteration; gauge only on all-three-success") {
    // a second, independently failing manifest endpoint (RouteViewIPv6)
    @volatile var v6Fails = true
    server.createContext("/rv6/", ex => {
      val p = ex.getRequestURI.getPath
      val body =
        if (p.endsWith("pfx2as-creation.log")) {
          if (v6Fails) null
          else ("# manifest\n3363\t1497717708\t2017/06/a6.pfx2as.gz\n").getBytes(UTF_8)
        } else s"payload-of:$p".getBytes(UTF_8)
      if (body == null) { ex.sendResponseHeaders(500, -1); ex.close() }
      else {
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    val store = new InMemoryStore
    val metrics = new Metrics(spark)
    val sink = new InMemoryMetricsSink
    manifestRows = Seq(3363 -> "2017/06/a.pfx2as.gz")
    // the reference daemon's deployed wiring, as config (downloader.go:71-96)
    val (mf, ff) = Downloader.parseFeeds(
      s"manifest|RouteViewIPv4|$base/rv/pfx2as-creation.log;" +
        s"manifest|RouteViewIPv6|$base/rv6/pfx2as-creation.log;" +
        s"fixed|Maxmind|GeoLite2-City.tar.gz|$base/rv/GeoLite2-City.tar.gz")
    assert(mf.map(_.cfg.dataset) == Seq("RouteViewIPv4", "RouteViewIPv6"))
    assert(ff.map(_.cfg.dataset) == Seq("Maxmind"))

    // iteration 1: the v6 feed fails -> 2/3 success, gauge NOT set
    var clock = 7000L
    val r1 = Downloader.loop(spark, store, HttpFetcher(), metrics, sink,
      mf, ff, iterations = 1, sleep = _ => (),
      clock = () => { clock += 1; clock })
    assert(r1 == Seq(false))
    assert(sink.publications.size == 1)
    assert(sink.latest.get.getOrElse("downloader_last_success_time_seconds", 0L) == 0L)
    // the healthy feeds still did their work in the same iteration
    assert(store.list("RouteViewIPv4/2017/06/").map(_.name) ==
      Seq("RouteViewIPv4/2017/06/a.pfx2as.gz"))
    assert(store.list("Maxmind/").exists(_.name == "Maxmind/current/GeoLite2-City.tar.gz"))

    // iteration 2: all three succeed -> gauge set
    v6Fails = false
    val r2 = Downloader.loop(spark, store, HttpFetcher(), metrics, sink,
      mf, ff, iterations = 1, sleep = _ => (),
      clock = () => { clock += 1; clock })
    assert(r2 == Seq(true))
    assert(store.list("RouteViewIPv6/2017/06/").map(_.name) ==
      Seq("RouteViewIPv6/2017/06/a6.pfx2as.gz"))
    assert(sink.latest.get("downloader_last_success_time_seconds") >= 7001L)
  }

  test("runOnce with two manifest feeds and one fixed feed submits two Spark jobs") {
    // one fetch job per manifest feed with new rows; the fixed feed and
    // every dedup, promotion and watermark decision stay on the driver
    val store = new InMemoryStore
    manifestRows = Seq(3363 -> "2017/06/a.pfx2as.gz", 3364 -> "2017/06/b.pfx2as.gz")
    val url = s"$base/rv/pfx2as-creation.log"
    val (mf, ff) = Downloader.parseFeeds(
      s"manifest|FeedA|$url;manifest|FeedB|$url;" +
        s"fixed|Maxmind|GeoLite2-City.tar.gz|$base/rv/GeoLite2-City.tar.gz")
    val (results, counts) = graft.SparkJobCount.during(spark) {
      Downloader.runOnce(spark, store, HttpFetcher(), new Metrics(spark), mf, ff)
    }
    assert(results == Seq(true, true, true))
    assert(Downloader.loadWatermark(store, "FeedA") == 3364L)
    assert(Downloader.loadWatermark(store, "FeedB") == 3364L)
    assert(counts.jobs == 2)
  }

  test("loop publishes per iteration and gates the gauge on all-success") {
    val store = new InMemoryStore
    val metrics = new Metrics(spark)
    val sink = new InMemoryMetricsSink
    manifestRows = Seq(3363 -> "2017/06/a.pfx2as.gz")
    var clock = 5000L
    val results = Downloader.loop(spark, store, HttpFetcher(), metrics, sink,
      Seq(feed), Nil, iterations = 2, sleep = _ => (),
      clock = () => { clock += 1; clock })
    assert(results == Seq(true, true))
    assert(sink.publications.size == 2)
    assert(sink.latest.get("downloader_last_success_time_seconds") >= 5001L)
  }
}
