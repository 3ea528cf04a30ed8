package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.SparkSession

/** Where rendered metrics go. The reference serves them over HTTP
  * (/root/reference/downloader.go:52 `promhttp.Handler` on /metrics);
  * here the sink is pluggable so deployments choose exposition style
  * (agent-scraped textfile, push, log line) without touching operators.
  */
trait MetricsSink {
  def publish(exposition: String, snapshot: Map[String, Long]): Unit
}

/** Test/assertion sink: retains every publication in order. */
class InMemoryMetricsSink extends MetricsSink {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, Long])]
  def publish(exposition: String, snapshot: Map[String, Long]): Unit =
    synchronized { buf += ((exposition, snapshot)) }
  def publications: Seq[(String, Map[String, Long])] = synchronized(buf.toSeq)
  def latest: Option[Map[String, Long]] = synchronized(buf.lastOption.map(_._2))
}

/** Prometheus node-exporter *textfile collector* convention: write the
  * exposition to `<path>` atomically (temp + rename) so a scraper never
  * reads a torn file. The standard agent-side pattern when a process
  * can't serve its own /metrics endpoint.
  *
  * `publish` is synchronized: the daemon calls it from its loop thread
  * after each iteration and from the listener bus after every job end,
  * and the writes share one `.tmp` sibling — an unserialized
  * write-vs-move pair can interleave or throw NoSuchFileException
  * inside a healthy iteration. */
class TextFileMetricsSink(path: String) extends MetricsSink {
  def publish(exposition: String, snapshot: Map[String, Long]): Unit = synchronized {
    val target = Paths.get(path)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling("." + target.getFileName + ".tmp")
    Files.write(tmp, exposition.getBytes(UTF_8))
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Serves the current exposition over HTTP — the reference's
  * `promhttp.Handler` on /metrics (/root/reference/downloader.go:52,
  * port 9090 per its Dockerfile). JDK-builtin server, no extra deps;
  * renders on demand so a scrape always sees current accumulator
  * values. Bind port 0 for an ephemeral port (tests).
  */
class MetricsHttpEndpoint(metrics: Metrics, port: Int = 9090) {
  private val server = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress(port), 0)
  server.createContext("/metrics", ex => {
    val body = metrics.render.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", "text/plain; version=0.0.4")
    ex.sendResponseHeaders(200, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
  })

  def start(): this.type = { server.start(); this }
  def boundPort: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)
}

/** Publishes the [[Metrics]] accumulator vectors to a sink so operators
  * can observe a RUNNING job, not just a finished one: registered as a
  * [[SparkListener]], it re-renders after every Spark job completes
  * (accumulator values are current at job end), and [[publishNow]] gives
  * the driver loop a synchronous flush point (e.g. per Scheduler
  * iteration, next to the all-success gauge gating of
  * downloader.go:98-100).
  */
class MetricsPublisher(spark: SparkSession, metrics: Metrics,
                       sink: MetricsSink) extends SparkListener {

  def publishNow(): Unit = sink.publish(metrics.render, metrics.snapshot)

  override def onJobEnd(jobEnd: SparkListenerJobEnd): Unit = publishNow()

  /** Attach to the session's listener bus (publications then track every
    * job). Call [[stop]] to detach. */
  def start(): this.type = {
    spark.sparkContext.addSparkListener(this)
    this
  }

  def stop(): Unit = spark.sparkContext.removeSparkListener(this)
}
