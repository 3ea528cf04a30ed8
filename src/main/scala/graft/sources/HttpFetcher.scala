package graft.sources

import java.io.{FilterInputStream, IOException, InputStream}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, HttpTimeoutException}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.Base64

import graft.plans.Fetcher

/** Production HTTP blob fetcher — the live implementation of the
  * [[graft.plans.Fetcher]] contract, matching the reference's download
  * function (/root/reference/download/common.go:61-111):
  *
  *  - optional HTTP Basic Auth (`SetBasicAuth`, common.go:74-77 /
  *    maxmind.go:44-45) via a precomputed Authorization header;
  *  - a per-attempt timeout covering the WHOLE fetch — connect, headers
  *    and body drain (the reference's `context.WithTimeout(ctx,
  *    dc.MaxDuration)` spans download+save; default 30 min,
  *    common.go:23). The response body streams through a
  *    deadline-checking wrapper so a stalled server can't hold a task
  *    past the budget;
  *  - error taxonomy: every fetch-path failure — malformed URL, connect
  *    error, non-200, mid-body I/O error, timeout — is TRANSIENT
  *    (common.go:61-111 always returns `permanence=false`), so plain
  *    exceptions propagate and [[Retry.withRetry]] backs off;
  *    [[PermanentError]] is never thrown here (permanence belongs to
  *    store-side copy/delete failures).
  *
  * Serializable by construction (fetches run inside executor tasks):
  * the JDK [[HttpClient]] is not serializable, so a deserialized
  * instance looks up the JVM's shared client for its timeout lazily.
  */
case class HttpFetcher(
    basicAuthUser: Option[String] = None,
    basicAuthPass: Option[String] = None,
    attemptTimeout: Duration = HttpFetcher.DefaultAttemptTimeout) extends Fetcher {

  @transient private lazy val client: HttpClient = HttpFetcher.clientFor(attemptTimeout)

  private def request(url: String): HttpRequest = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(attemptTimeout)
      .GET()
    basicAuthUser.filter(_.nonEmpty).foreach { u =>
      val token = Base64.getEncoder.encodeToString(
        s"$u:${basicAuthPass.getOrElse("")}".getBytes(StandardCharsets.UTF_8))
      b.header("Authorization", s"Basic $token")
    }
    b.build()
  }

  /** GET `url` and hand the (deadline-wrapped) body stream to `f`.
    * Non-200 responses raise IOException with the status in the message
    * (mirroring the reference's error string, common.go:91).
    *
    * The deadline is enforced two ways: the wrapper checks it between
    * reads (fast path, catches byte-tricklers), and a watchdog closes
    * the body AT the deadline so a fully-silent server — no bytes, no
    * FIN — unblocks the read with an IOException instead of wedging the
    * task forever (`HttpRequest.timeout` only covers up to response
    * headers). */
  def withStream[A](url: String)(f: InputStream => A): A = {
    val deadline = System.nanoTime() + attemptTimeout.toNanos
    val resp = client.send(request(url), HttpResponse.BodyHandlers.ofInputStream())
    val body = resp.body()
    val watchdog = HttpFetcher.watchdogExec.schedule(new Runnable {
      def run(): Unit = try body.close() catch { case _: IOException => () }
    }, attemptTimeout.toNanos, java.util.concurrent.TimeUnit.NANOSECONDS)
    try {
      if (resp.statusCode() != 200)
        throw new IOException(s"URL:$url gave response code ${resp.statusCode()}")
      try f(new HttpFetcher.DeadlineInputStream(body, deadline, url))
      catch {
        // the watchdog's close surfaces as a bare IOException mid-read:
        // report it as the timeout it is
        case e: IOException if System.nanoTime() > deadline =>
          throw new HttpTimeoutException(
            s"attempt timeout exceeded mid-body for $url (${e.getMessage})")
      }
    } finally {
      watchdog.cancel(false)
      body.close()
    }
  }

  override def fetch(url: String): Array[Byte] =
    withStream(url)(_.readAllBytes())

  /** Streamed fetch-to-store (the reference's `io.Copy(gcsWriter, body)`,
    * common.go:106): bytes flow straight into [[Store.writeStream]], md5
    * computed on the fly, payload never fully buffered in this JVM.
    * Returns (bytes, md5-hex). */
  override def fetchTo(url: String, store: Store, name: String): (Long, String) =
    withStream(url)(store.writeStream(name, _))

  /** Driver-side text fetch (the manifest GET of
    * /root/reference/download/routeviews.go:79-95). */
  def fetchString(url: String): String =
    new String(fetch(url), StandardCharsets.UTF_8)
}

object HttpFetcher {
  val DefaultAttemptTimeout: Duration = Duration.ofMinutes(30)

  /** One client per connect timeout for the whole JVM. A client owns a
    * selector thread, a worker pool and a keep-alive connection pool,
    * and a fetcher is deserialized afresh into every fetch task, so a
    * client per instance would open a connection per task and leave its
    * threads and socket behind until a GC collected it (back-to-back
    * daily iterations would grow the JVM by about 20 threads a second).
    * Shared, tasks reuse pooled connections and start no threads. */
  private val clients = new java.util.concurrent.ConcurrentHashMap[Duration, HttpClient]()

  private def clientFor(connectTimeout: Duration): HttpClient =
    clients.computeIfAbsent(connectTimeout, t => HttpClient.newBuilder()
      .followRedirects(HttpClient.Redirect.NORMAL)
      .connectTimeout(t)
      .build())

  /** One daemon thread arms per-attempt watchdogs for the whole JVM —
    * scheduled tasks are cancelled on normal completion, so the queue
    * stays near-empty. */
  private val watchdogExec: java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "http-fetcher-watchdog")
      t.setDaemon(true)
      t
    })

  /** Enforces the per-attempt deadline while the body drains: checked on
    * every read, so a byte-trickling server fails the attempt instead of
    * wedging the task. */
  private final class DeadlineInputStream(in: InputStream, deadlineNanos: Long,
                                          url: String) extends FilterInputStream(in) {
    private def check(): Unit =
      if (System.nanoTime() > deadlineNanos)
        throw new HttpTimeoutException(s"attempt timeout exceeded mid-body for $url")
    override def read(): Int = { check(); super.read() }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      check(); super.read(b, off, len)
    }
  }
}
