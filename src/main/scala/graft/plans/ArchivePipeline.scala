package graft.plans

import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession

import graft.core.Metrics
import graft.operators.ManifestParser
import graft.sources.{Naming, ObjectMeta, Store}

/** Blob fetcher: executors call this inside `mapPartitions`, so the fetch
  * fans out one task per partition of the work-item set (the reference
  * fetches sequentially in one goroutine — downloader.go:59-103; the
  * Spark design parallelizes the per-file loop while keeping per-file
  * retry/permanence semantics in the closure).
  */
trait Fetcher extends Serializable {
  /** Returns the payload, or throws (transient errors are retried by the
    * task; [[graft.sources.PermanentError]] aborts). */
  def fetch(url: String): Array[Byte]

  /** Fetch straight into the store, returning (bytes, md5-hex). The
    * default buffers via [[fetch]]; streaming implementations (e.g.
    * [[graft.sources.HttpFetcher]]) override so payload bytes flow
    * source → digest → store without full materialization in the task —
    * the reference's `io.Copy` semantics (download/common.go:106). */
  def fetchTo(url: String, store: Store, name: String): (Long, String) = {
    val bytes = fetch(url)
    store.write(name, bytes)
    (bytes.length.toLong, Store.md5Hex(bytes))
  }
}

/** Static per-source plan descriptor — the reference's `config` struct
  * (/root/reference/download/common.go:28-41) as an immutable case class
  * (no package-level mutable flags).
  */
case class SourceConfig(
  dataset: String,
  pathPrefix: String,
  currentName: String,
  filePrefix: String = "",
  urlRegex: Option[Regex] = None,
  fixedFilename: Option[String] = None,
  dedupScopeRegex: Regex = new Regex("(.*)"),
  // per-file retry policy (reference: 1 min doubling to 8 min,
  // common.go:21-22); tests inject zero waits
  retryInitialMs: Long = 60000L,
  retryMaxMs: Long = 480000L)

/** Result of one pipeline run. `newWatermark` follows the gated-advance
  * rule; `kept`/`duplicates` partition the successfully fetched files by
  * the dedup verdict.
  */
case class IngestReport(
  newWatermark: Long,
  kept: Seq[String],
  duplicates: Seq[String],
  failed: Seq[Long],
  currentPromoted: Seq[String])

/** One work item as the fetch stage reports it: metadata only. A failed
  * fetch carries `failed = true`, a `<failed:…>` name and no md5. */
case class FetchedRow(seqnum: Long, name: String, md5: String, failed: Boolean)

/** What a batch's metadata decides before any store side effect: the
  * dedup verdict (`kept`/`duplicates`), the kept file to promote to the
  * current pointer, the failed seqnums and the gated watermark advance.
  */
case class BatchVerdict(
  kept: Seq[String],
  duplicates: Seq[String],
  promote: Option[String],
  failed: Seq[Long],
  newWatermark: Long)

/** The reference's E2/E3 pipeline on Spark (SURVEY §3): manifest scan →
  * regex projection → watermark filter → distributed fetch →
  * content-hash dedup against the scope listing → partitioned archive
  * write → current-pointer promotion → gated watermark advance.
  *
  * Data-movement design: a batch costs ONE Spark job, the fetch fan-out
  * — one task per partition of the work items, no shuffle, payload bytes
  * flowing source → digest → store inside the task. Everything else is
  * a metadata decision the driver takes over rows it already holds: the
  * manifest body (parsed by [[ManifestParser.parseLines]]), the
  * collected `(seqnum, name, md5, failed)` rows and the scope listings
  * from [[Store.list]] (see [[verdict]]). Those rows are a few per day
  * for a daily feed, and even a manifest covering three decades of one
  * holds about 30 × 365 × 10 ≈ 100k, so sending them through Spark
  * operators would only add job dispatch.
  */
object ArchivePipeline {

  /** One run of a fixed-name source (the MaxMind pipeline, E2 of SURVEY
    * §3): single URL, UTC date directory + timestamp file prefix, scope
    * dedup, current-pointer promotion. Driver-side by design — one
    * object per iteration has no fan-out to distribute; the manifest
    * path ([[run]]) is where executor parallelism pays.
    */
  def runFixedSource(cfg: SourceConfig, url: String, store: Store,
                     fetcher: Fetcher, now: java.time.Instant,
                     sleep: scala.concurrent.duration.FiniteDuration => Unit =
                       d => Thread.sleep(d.toMillis)): Either[Throwable, IngestReport] = {
    import scala.concurrent.duration._
    val name = Naming.fixedName(
      cfg.pathPrefix + Naming.datePrefix(now),
      Naming.timestampPrefix(now),
      cfg.fixedFilename.getOrElse(
        return Left(new IllegalArgumentException("fixedFilename required"))))
    graft.sources.Retry.withRetry(
        cfg.retryInitialMs.millis, cfg.retryMaxMs.millis, sleep) {
      val (_, md5) = fetcher.fetchTo(url, store, name)
      val scope = Naming.scopeOf(cfg.dedupScopeRegex, name)
      val isDup = store.list(scope).exists(o => o.name != name && o.md5.contains(md5))
      if (isDup) {
        store.delete(name) // delete failure throws PermanentError → aborts
        IngestReport(0L, Nil, Seq(name), Nil, Nil)
      } else {
        store.copy(name, cfg.currentName)
        IngestReport(0L, Seq(name), Nil, Nil, Seq(cfg.currentName))
      }
    }
  }

  /** One incremental run over a routeviews-style manifest feed. */
  def run(spark: SparkSession,
          manifestBody: String,
          manifestUrl: String,
          cfg: SourceConfig,
          store: Store,
          watermark: Long,
          fetcher: Fetcher,
          metrics: Metrics): IngestReport = {
    // 1. Manifest scan + projection + watermark filter (O3-O6, O8).
    val fresh = ManifestParser.parseLines(manifestBody)
      .filter(_.seqnum > watermark)
      .map(e => (e.seqnum.toLong, ManifestParser.absoluteUrl(manifestUrl, e.path)))
    if (fresh.isEmpty)
      return IngestReport(watermark, Nil, Nil, Nil, Nil)
    val rep = ingest(spark, fresh, cfg, store, fetcher, metrics)
    rep.copy(newWatermark = math.max(watermark, rep.newWatermark))
  }

  /** Fetch → dedup → promote → gated advance for an ALREADY
    * watermark-filtered batch of `(seqnum, absoluteUrl)` work items —
    * the tail of [[run]], exposed so the STREAMING daemon can call it
    * per micro-batch (the `graft-manifest` source's checkpointed offset
    * has already done the filtering there). `newWatermark` is the gated
    * advance over THIS batch only; [[run]] maxes it with the incoming
    * watermark.
    */
  def ingest(spark: SparkSession,
             fresh: Seq[(Long, String)],
             cfg: SourceConfig,
             store: Store,
             fetcher: Fetcher,
             metrics: Metrics): IngestReport = {
    if (fresh.isEmpty) return IngestReport(0L, Nil, Nil, Nil, Nil)

    // 2. Distributed fetch + store write (O9-O10), the batch's one Spark
    // job. Each task fetches, derives the archive key, writes, and emits
    // metadata only. Collecting drains the side-effecting work (fetch,
    // store write, failure counter) exactly once.
    val failedAcc = metrics.downloadFailed(cfg.dataset)
    val fetched = spark.sparkContext
      .parallelize(fresh, math.min(fresh.length, 32))
      .mapPartitions(_.map { case (seq, url) =>
        val name = archiveName(cfg, url)
        // Per-file retry with the reference's backoff taxonomy runs
        // INSIDE the task (transient network errors don't fail the
        // task; PermanentError aborts immediately) — Spark task
        // retries remain the outer safety net.
        graft.sources.Retry.withRetry(
          scala.concurrent.duration.Duration(cfg.retryInitialMs, "ms"),
          scala.concurrent.duration.Duration(cfg.retryMaxMs, "ms")) {
          // streamed when the fetcher supports it: payload bytes flow
          // source → digest → store inside the task, never buffered
          val (_, md5) = fetcher.fetchTo(url, store, name)
          FetchedRow(seq, name, md5, failed = false)
        } match {
          case Right(row) => row
          case Left(e) =>
            failedAcc.add(1)
            FetchedRow(seq, s"<failed:${e.getMessage}>", "", failed = true)
        }
      }).collect().toSeq

    // 3. Dedup verdict (O11-O13) over the scope listings, driver-side.
    val listing = scopes(fetched, cfg.dedupScopeRegex).flatMap(store.list)
    val v = verdict(fetched, listing, cfg.dedupScopeRegex)

    // 4. Duplicate deletion (O14) — reference deletes the just-uploaded
    // duplicate; delete failure is permanent (common.go:123-130).
    v.duplicates.foreach(store.delete)

    // 5. Current-pointer promotion (O15): latest kept file by archive key
    // order is copied to the canonical current name.
    val promoted = v.promote.map { newest =>
      store.copy(newest, cfg.currentName)
      cfg.currentName
    }.toSeq

    IngestReport(v.newWatermark, v.kept, v.duplicates, v.failed, promoted)
  }

  /** Archive key of a manifest work item (O10): the fixed name, or the
    * URL regex's groups around the file prefix, or the URL's basename. */
  private def archiveName(cfg: SourceConfig, url: String): String =
    cfg.fixedFilename match {
      case Some(fix) => Naming.fixedName(cfg.pathPrefix, cfg.filePrefix, fix)
      case None => Naming.regexName(cfg.pathPrefix, cfg.filePrefix,
        cfg.urlRegex.getOrElse(new Regex("(.*/)([^/]+)$")), url)
        .getOrElse(cfg.pathPrefix + url.substring(url.lastIndexOf('/') + 1))
    }

  /** The distinct dedup scopes of a batch's fetched files, in batch
    * order: the prefixes whose listings [[verdict]] compares against. */
  def scopes(fetched: Seq[FetchedRow], scopeRegex: Regex): Seq[String] =
    fetched.filterNot(_.failed).map(r => Naming.scopeOf(scopeRegex, r.name)).distinct

  /** The batch's decisions, a pure function of the fetched rows and the
    * listings of their [[scopes]].
    *
    * A fetched file is a duplicate iff another file in its scope holds
    * the same md5. The reference checks sequentially at upload time
    * (first of an identical pair wins, common.go:162-190); the batch
    * equivalent keeps the first row per (scope, md5) by seqnum, then
    * drops any row whose (scope, md5) an object already in the listing
    * holds. Scope equality is part of the predicate: the reference's
    * IsFileNew only ever compares within the scope prefix it listed, so
    * bytes shared with an object in a DIFFERENT scope (an unchanged file
    * across a month boundary under month-scoped dedup) are kept. The
    * listing includes the batch's own just-written objects; they do not
    * count as pre-existing, and neither do listed objects without an md5.
    *
    * The watermark advance is gated (O7): the max seqnum when nothing
    * failed, else the first failed seqnum − 1.
    */
  def verdict(fetched: Seq[FetchedRow], listing: Seq[ObjectMeta],
              scopeRegex: Regex): BatchVerdict = {
    val ok = fetched.filterNot(_.failed)
    val batchNames = ok.map(_.name).toSet
    val held = listing.iterator
      .filterNot(o => batchNames.contains(o.name))
      .flatMap(o => o.md5.map(md5 => (Naming.scopeOf(scopeRegex, o.name), md5)))
      .toSet
    val seen = scala.collection.mutable.HashSet.empty[(String, String)]
    val kept = ok.sortBy(_.seqnum).filter { r =>
      val key = (Naming.scopeOf(scopeRegex, r.name), r.md5)
      seen.add(key) && !held.contains(key)
    }.map(_.name)
    val failed = fetched.filter(_.failed).map(_.seqnum)
    val maxSeq = fetched.map(_.seqnum).max
    BatchVerdict(
      kept = kept,
      duplicates = (batchNames -- kept).toSeq.sorted,
      promote = kept.maxOption,
      failed = failed,
      newWatermark = failed.minOption.fold(maxSeq)(f => math.min(maxSeq, f - 1)))
  }
}
