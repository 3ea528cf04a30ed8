package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback origin serving a [[World]]: each RouteViews feed's manifest at
  * `/<dir>/pfx2as-creation.log`, its files under `/<dir>/<path>`, and the
  * fixed feed at `/maxmind/<file>`. A seeded 1 in 50 of file GETs answers
  * 503 to its first attempt within an epoch (one iteration), so the
  * program's per-file retry runs. Counts every request, so the retry ratio
  * is measured where the work happens. */
final class Origin(world: World, threads: Int) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-origin")
    t.setDaemon(true)
    t
  })
  @volatile private var epoch = 0L
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  private val fileRequests = new AtomicLong()

  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => serve(ex))

  def start(): this.type = { server.start(); this }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def manifestUrl(f: RvFeed): String = s"$base/${f.dir}/pfx2as-creation.log"
  def fixedUrl: String = s"$base/maxmind/${world.fixedFile}"

  /** Start a new iteration's epoch; returns the previous epoch's
    * (file requests, distinct file URLs). */
  def beginEpoch(): (Long, Long) = {
    val r = (fileRequests.getAndSet(0), attempts.size.toLong)
    attempts.clear()
    epoch += 1
    r
  }

  private def reply(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  private def serve(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val parts = path.stripPrefix("/").split("/", 2)
    val (dir, rest) = (parts(0), if (parts.length > 1) parts(1) else "")
    if (rest == "pfx2as-creation.log")
      world.rv.find(_.dir == dir) match {
        case Some(f) => reply(ex, 200, f.manifest)
        case None => reply(ex, 404, Array.emptyByteArray)
      }
    else {
      val body =
        if (dir == "maxmind" && rest == world.fixedFile) Some(world.fixedPayload)
        else world.rv.find(_.dir == dir).flatMap(_.payloadFor(rest))
      body match {
        case None => reply(ex, 404, Array.emptyByteArray)
        case Some(b) =>
          fileRequests.incrementAndGet()
          val n = attempts.computeIfAbsent(path, _ => new AtomicInteger()).incrementAndGet()
          if (n == 1 && Origin.failsFirst(world.seed, epoch, path)) reply(ex, 503, Array.emptyByteArray)
          else reply(ex, 200, b)
      }
    }
  }
}

object Origin {
  /** Whether the first GET of `path` in `epoch` answers 503 (1 in 50). */
  def failsFirst(seed: Long, epoch: Long, path: String): Boolean =
    java.lang.Long.remainderUnsigned(Gen.key(seed, "503", epoch, path), 50L) == 0L
}
