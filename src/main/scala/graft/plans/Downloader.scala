package graft.plans

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

import graft.core.{Metrics, MetricsHttpEndpoint, MetricsPublisher, MetricsSink}
import graft.sources.{HttpFetcher, Store}

/** A manifest-driven feed: the routeviews shape (manifest URL + per-file
  * fetch) of /root/reference/downloader.go:70-96. */
case class ManifestFeed(cfg: SourceConfig, manifestUrl: String)

/** A fixed-file feed: the maxmind shape (one URL, timestamped archive
  * key) of /root/reference/downloader.go:71-75. */
case class FixedFeed(cfg: SourceConfig, url: String)

/** The complete runnable service — the reference-equivalent daemon
  * (/root/reference/downloader.go:59-103) composed from the engine's
  * parts: production HTTP fetcher, durable store, per-iteration metrics
  * publication, the all-success gauge gating, uniform-jitter scheduling
  * — plus one deliberate improvement: the per-feed WATERMARK IS
  * PERSISTED IN THE STORE (`_meta/watermark/<dataset>`), so a restart
  * resumes where the last successful run stopped instead of
  * re-fetching from zero (the reference's process-local ints reset on
  * restart, downloader.go:61-62 — dedup made that survivable, not
  * free).
  */
object Downloader {

  private def watermarkKey(dataset: String) = s"_meta/watermark/$dataset"

  /** Load the persisted watermark. ONLY a missing key (first run) maps
    * to 0 — a transient store read failure or corrupt content must FAIL
    * the feed rather than silently reset the watermark and re-fetch the
    * entire feed history through a degraded run. */
  def loadWatermark(store: Store, dataset: String): Long =
    try new String(store.read(watermarkKey(dataset)), UTF_8).trim.toLong
    catch {
      case _: NoSuchElementException | _: java.io.FileNotFoundException |
           _: java.nio.file.NoSuchFileException => 0L
    }

  def saveWatermark(store: Store, dataset: String, wm: Long): Unit =
    store.write(watermarkKey(dataset), wm.toString.getBytes(UTF_8))

  /** One iteration over every feed. Returns per-feed success (the
    * all-success AND gates the gauge upstream). Manifest retrieval or
    * parse failure counts into the reference's routeviews-url error
    * vector and fails the feed without touching its watermark. */
  def runOnce(spark: SparkSession,
              store: Store,
              fetcher: HttpFetcher,
              metrics: Metrics,
              manifestFeeds: Seq[ManifestFeed],
              fixedFeeds: Seq[FixedFeed],
              now: () => java.time.Instant = () => java.time.Instant.now()): Seq[Boolean] = {
    val manifestResults = manifestFeeds.map { f =>
      val ds = f.cfg.dataset
      val body =
        try Right(fetcher.fetchString(f.manifestUrl))
        catch {
          case scala.util.control.NonFatal(e) =>
            metrics.routeviewsUrlError("Couldnt get list").add(1)
            Left(e)
        }
      body match {
        case Left(_) => false
        case Right(text) =>
          try {
            val wm = loadWatermark(store, ds)
            val report = ArchivePipeline.run(
              spark, text, f.manifestUrl, f.cfg, store, wm, fetcher, metrics)
            if (report.newWatermark > wm) saveWatermark(store, ds, report.newWatermark)
            report.failed.isEmpty
          } catch {
            case scala.util.control.NonFatal(_) =>
              metrics.downloadFailed(ds).add(1)
              false
          }
      }
    }
    val fixedResults = fixedFeeds.map { f =>
      ArchivePipeline.runFixedSource(f.cfg, f.url, store, fetcher, now()) match {
        case Right(_) => true
        case Left(_) =>
          metrics.downloadFailed(f.cfg.dataset).add(1)
          false
      }
    }
    manifestResults ++ fixedResults
  }

  /** The eternal loop: `iterations = Int.MaxValue` for the service form.
    * Publishes metrics every iteration and sets the all-success gauge
    * exactly like downloader.go:98-100. */
  def loop(spark: SparkSession,
           store: Store,
           fetcher: HttpFetcher,
           metrics: Metrics,
           sink: MetricsSink,
           manifestFeeds: Seq[ManifestFeed],
           fixedFeeds: Seq[FixedFeed],
           iterations: Int,
           interval: scala.concurrent.duration.FiniteDuration =
             scala.concurrent.duration.DurationInt(24).hours,
           deviation: scala.concurrent.duration.FiniteDuration =
             scala.concurrent.duration.DurationInt(4).hours,
           sleep: scala.concurrent.duration.FiniteDuration => Unit =
             d => Thread.sleep(d.toMillis),
           clock: () => Long = () => System.currentTimeMillis() / 1000L): Seq[Boolean] = {
    val publisher = new MetricsPublisher(spark, metrics, sink)
    Scheduler.loop(
      // one composite source per iteration: feed-level successes fold
      // into the iteration verdict exactly like the reference's lastErr
      sources = Seq(() =>
        runOnce(spark, store, fetcher, metrics, manifestFeeds, fixedFeeds)
          .forall(identity)),
      iterations = iterations,
      onAllSuccess = () => metrics.markAllSuccess(clock()),
      onIteration = (_, _) => publisher.publishNow(),
      interval = interval, deviation = deviation, sleep = sleep)
  }

  /** Build the per-iteration feed list from a config string — the
    * reference daemon's deployed shape is THREE sources per iteration
    * (MaxMind fixed files + RouteViews IPv4 + IPv6 manifests,
    * /root/reference/downloader.go:71-96); this makes that wiring
    * config, not code. Entries separated by `;`, fields by `|`:
    *
    *  - `manifest|<dataset>|<manifestUrl>` — a routeviews-shaped feed:
    *    archive prefix `<dataset>/`, current pointer
    *    `<dataset>/current/routeview.pfx2as.gz`, the reference's URL
    *    regex (routeviews.go:18) and whole-archive dedup scope
    *    (routeviews.go:19).
    *  - `fixed|<dataset>|<filename>|<url>` — a maxmind-shaped feed:
    *    fixed filename under a UTC date directory, current pointer
    *    `<dataset>/current/<filename>`, per-date-directory dedup scope
    *    (maxmind.go:13 — its regex's group 1 is the date directory).
    */
  def parseFeeds(spec: String): (Seq[ManifestFeed], Seq[FixedFeed]) = {
    val entries = spec.split(';').map(_.trim).filter(_.nonEmpty).toSeq
    val parsed = entries.map { e =>
      e.split('|').toSeq match {
        case Seq("manifest", ds, url) =>
          Left(ManifestFeed(routeviewsConfig(ds), url))
        case Seq("fixed", ds, filename, url) =>
          Right(FixedFeed(SourceConfig(
            dataset = ds,
            pathPrefix = s"$ds/",
            currentName = s"$ds/current/$filename",
            fixedFilename = Some(filename),
            dedupScopeRegex = new scala.util.matching.Regex("""(.*/).*/.*""")),
            url))
        case other => throw new IllegalArgumentException(
          s"bad feed entry '${other.mkString("|")}' — expected " +
            "manifest|<dataset>|<url> or fixed|<dataset>|<filename>|<url>")
      }
    }
    (parsed.collect { case Left(m) => m }, parsed.collect { case Right(f) => f })
  }

  /** The routeviews feed shape (download/routeviews.go:45-56). */
  def routeviewsConfig(dataset: String): SourceConfig = SourceConfig(
    dataset = dataset,
    pathPrefix = s"$dataset/",
    currentName = s"$dataset/current/routeview.pfx2as.gz",
    urlRegex = Some(new scala.util.matching.Regex(""".*(\d{4}/\d{2}/)(.*)""")),
    dedupScopeRegex = new scala.util.matching.Regex("""(.*)"""))

  /** Service entry: graft.plans.Downloader <storeRootUri> <manifestUrl>.
    * Serves /metrics on GRAFT_METRICS_PORT (default 9090); Basic Auth
    * from GRAFT_AUTH_USER/GRAFT_AUTH_PASS (the maxmind licence-key
    * pattern).
    *
    * GRAFT_FEEDS (see [[parseFeeds]]) replaces the single-feed CLI with
    * the reference's multi-source iteration — e.g. the deployed
    * reference daemon is
    * `manifest|RouteViewIPv4|http://…/pfx2as-creation.log;
    *  manifest|RouteViewIPv6|http://…6…/pfx2as-creation.log;
    *  fixed|Maxmind|GeoLite2-City.tar.gz|https://…/download?suffix=tar.gz`
    * — with the all-success gauge set only when EVERY feed's iteration
    * succeeds (downloader.go:98-100). Without GRAFT_FEEDS, args(1) is a
    * single RouteViews-shaped manifest URL (unchanged contract).
    *
    * The loop runs forever, one iteration per 24 h ± 2 h of uniform
    * jitter (downloader.go:59-103), and publishes the metric series to
    * GRAFT_METRICS_FILE (default /tmp/graft_metrics.prom) after each
    * iteration. */
  def main(args: Array[String]): Unit = {
    // Operational subcommand, the reference's UpdateCurrent.sh crash
    // recovery: re-derive a current pointer from the listing and exit.
    if (args.headOption.contains("repair-current")) {
      require(args.length == 5, "usage: Downloader repair-current " +
        "<storeRootUri> <prefix> <suffix> <currentName>")
      val store = new graft.sources.HadoopFsStore(args(1))
      graft.operators.CurrentPointer.repair(store, args(2), args(3), args(4)) match {
        case Some(src) => println(s"promoted $src -> ${args(4)}")
        case None =>
          System.err.println(s"no candidate under ${args(2)} matching *${args(3)}")
          sys.exit(2)
      }
      return
    }
    require(args.length >= 1, "usage: Downloader <storeRootUri> [<manifestUrl>]")
    val spark = graft.core.Sessions.local(sys.env.getOrElse("GRAFT_CPUS", "8").toInt)
    val store = new graft.sources.HadoopFsStore(args(0))
    val fetcher = HttpFetcher(
      sys.env.get("GRAFT_AUTH_USER"), sys.env.get("GRAFT_AUTH_PASS"))
    val metrics = new Metrics(spark)
    val endpoint = new MetricsHttpEndpoint(metrics,
      sys.env.getOrElse("GRAFT_METRICS_PORT", "9090").toInt).start()
    val (manifestFeeds, fixedFeeds) = sys.env.get("GRAFT_FEEDS") match {
      case Some(spec) => parseFeeds(spec)
      case None =>
        require(args.length >= 2,
          "usage: Downloader <storeRootUri> <manifestUrl> (or set GRAFT_FEEDS)")
        (Seq(ManifestFeed(routeviewsConfig("RouteViewIPv4"), args(1))), Nil)
    }
    try loop(spark, store, fetcher, metrics, new graft.core.TextFileMetricsSink(
        sys.env.getOrElse("GRAFT_METRICS_FILE", "/tmp/graft_metrics.prom")),
      manifestFeeds, fixedFeeds, iterations = Int.MaxValue)
    finally { endpoint.stop(); spark.stop() }
  }
}
