package graft.sources

import java.io.IOException
import java.net.InetSocketAddress
import java.net.http.HttpTimeoutException
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkSpec
import graft.core.Metrics
import graft.plans.{ArchivePipeline, SourceConfig}

import scala.util.matching.Regex

/** Table-driven live-HTTP tests replicating the reference's download
  * scenarios (/root/reference/download/common_test.go:101-188: bad URL,
  * non-OK response, success) against an embedded JDK HttpServer, plus
  * Basic Auth (maxmind.go:44-45), the per-attempt timeout
  * (common.go:23), streamed store writes, and an end-to-end
  * ArchivePipeline run over real HTTP.
  */
class HttpFetcherSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private var server: HttpServer = _
  /** client ports the `/conn` handler has seen: one per connection */
  private val connPorts = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
      ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    }
    server.createContext("/ok", ex => reply(ex, 200, "payload-bytes".getBytes(UTF_8)))
    server.createContext("/conn", ex => {
      connPorts.add(ex.getRemoteAddress.getPort)
      reply(ex, 200, "c".getBytes(UTF_8))
    })
    server.createContext("/missing", ex => reply(ex, 404, Array.emptyByteArray))
    server.createContext("/auth", ex => {
      val h = Option(ex.getRequestHeaders.getFirst("Authorization"))
      val want = "Basic " + java.util.Base64.getEncoder
        .encodeToString("user:pass".getBytes(UTF_8))
      if (h.contains(want)) reply(ex, 200, "secret".getBytes(UTF_8))
      else reply(ex, 401, Array.emptyByteArray)
    })
    server.createContext("/slow", ex => {
      // headers immediately, then a byte-trickle that outlives any
      // sub-second attempt budget
      ex.sendResponseHeaders(200, 1024L)
      val out = ex.getResponseBody
      try {
        for (_ <- 1 to 1024) { out.write('x'); out.flush(); Thread.sleep(20) }
      } catch { case _: IOException => () } finally ex.close()
    })
    server.createContext("/stall", ex => {
      // headers + a few bytes, then full silence: no data, no close
      ex.sendResponseHeaders(200, 1024L)
      val out = ex.getResponseBody
      try { out.write("abc".getBytes(UTF_8)); out.flush(); Thread.sleep(15000) }
      catch { case _: InterruptedException | _: IOException => () } finally ex.close()
    })
    server.createContext("/rv/", ex => {
      val p = ex.getRequestURI.getPath
      if (p.endsWith("pfx2as-creation.log"))
        reply(ex, 200,
          ("# manifest\n" +
            "3363\t1497717708\t2017/06/routeviews-rv2-20170616-1200.pfx2as.gz\n" +
            "3364\t1497803191\t2017/06/routeviews-rv2-20170617-1200.pfx2as.gz\n")
            .getBytes(UTF_8))
      else if (p.contains("20170616")) reply(ex, 200, "same-bytes".getBytes(UTF_8))
      else if (p.contains("20170617")) reply(ex, 200, "same-bytes".getBytes(UTF_8))
      else reply(ex, 404, Array.emptyByteArray)
    })
    server.start()
  }

  override protected def afterAll(): Unit = {
    server.stop(0)
    super.afterAll()
  }

  test("success: body bytes returned verbatim") {
    assert(new String(HttpFetcher().fetch(s"$base/ok"), UTF_8) == "payload-bytes")
  }

  test("table-driven failures are transient (plain exceptions, never PermanentError)") {
    val f = HttpFetcher(attemptTimeout = Duration.ofSeconds(2))
    val cases: Seq[(String, String)] = Seq(
      ("malformed url", "ht!tp://%%%"),
      ("non-OK response", s"$base/missing"),
      ("connection refused", "http://127.0.0.1:1/nope"))
    for ((label, url) <- cases) {
      val e = intercept[Exception](f.fetch(url))
      assert(!e.isInstanceOf[PermanentError], s"$label must stay retryable")
    }
    val nf = intercept[IOException](f.fetch(s"$base/missing"))
    assert(nf.getMessage.contains("response code 404"))
  }

  test("basic auth header matches SetBasicAuth; absence is 401") {
    val authed = HttpFetcher(Some("user"), Some("pass"))
    assert(new String(authed.fetch(s"$base/auth"), UTF_8) == "secret")
    val anon = intercept[IOException](HttpFetcher().fetch(s"$base/auth"))
    assert(anon.getMessage.contains("401"))
  }

  test("per-attempt timeout covers the body drain, not just the headers") {
    val f = HttpFetcher(attemptTimeout = Duration.ofMillis(300))
    intercept[HttpTimeoutException](f.fetch(s"$base/slow"))
  }

  test("a fully-silent server cannot wedge the task: watchdog breaks the read") {
    val f = HttpFetcher(attemptTimeout = Duration.ofMillis(400))
    val t0 = System.nanoTime()
    intercept[Exception](f.fetch(s"$base/stall"))
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(elapsedMs < 5000, s"stalled read held the thread ${elapsedMs}ms")
  }

  test("fetchers deserialized per task share one client and its pooled connection") {
    // a timeout no other test uses, so the client and its pool start empty
    val f = HttpFetcher(attemptTimeout = Duration.ofSeconds(61))
    def taskCopy(): HttpFetcher = {
      val buf = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(buf)
      out.writeObject(f); out.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(buf.toByteArray))
        .readObject().asInstanceOf[HttpFetcher]
    }
    connPorts.clear()
    (1 to 5).foreach(_ => assert(new String(taskCopy().fetch(s"$base/conn"), UTF_8) == "c"))
    assert(connPorts.size == 1, s"5 sequential fetches opened ${connPorts.size} connections")
  }

  test("fetchTo streams into the store with on-the-fly md5") {
    val store = new InMemoryStore
    val (n, md5) = HttpFetcher().fetchTo(s"$base/ok", store, "a/b/ok.bin")
    assert(n == "payload-bytes".length.toLong)
    assert(md5 == Store.md5Hex("payload-bytes".getBytes(UTF_8)))
    assert(new String(store.read("a/b/ok.bin"), UTF_8) == "payload-bytes")
  }

  test("retry taxonomy composes: transient 404 retries then gives up") {
    var sleeps = 0
    val r = Retry.withRetry(
      scala.concurrent.duration.Duration(1, "ms"),
      scala.concurrent.duration.Duration(2, "ms"), _ => sleeps += 1) {
      HttpFetcher().fetch(s"$base/missing")
    }
    assert(r.isLeft && sleeps == 2)
  }

  test("end-to-end: ArchivePipeline over live HTTP, manifest to dedup") {
    val fetcher = HttpFetcher()
    val manifest = fetcher.fetchString(s"$base/rv/pfx2as-creation.log")
    val store = new InMemoryStore
    val cfg = SourceConfig(
      dataset = "RouteViewIPv4",
      pathPrefix = "RouteViewIPv4/",
      currentName = "RouteViewIPv4/current/routeviews.pfx2as.gz",
      urlRegex = Some(new Regex(""".*(\d{4}/\d{2}/)(.*)""")),
      dedupScopeRegex = new Regex("""(.*/).*"""), // month scope
      retryInitialMs = 1, retryMaxMs = 0)
    val r = ArchivePipeline.run(spark, manifest, s"$base/rv/pfx2as-creation.log",
      cfg, store, 0L, fetcher, new Metrics(spark))
    // identical bytes within the month scope: first kept, second deduped
    assert(r.kept == Seq("RouteViewIPv4/2017/06/routeviews-rv2-20170616-1200.pfx2as.gz"))
    assert(r.duplicates == Seq("RouteViewIPv4/2017/06/routeviews-rv2-20170617-1200.pfx2as.gz"))
    assert(r.newWatermark == 3364L)
    assert(new String(store.read(cfg.currentName), UTF_8) == "same-bytes")
  }
}
