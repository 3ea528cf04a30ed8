package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.MinHashLsh

/** STREAMING CORPUS BUILDER — the end-to-end dedup ingestion shape a
  * training-data pipeline runs continuously: each micro-batch of
  * documents is deduplicated in three tiers and the survivors'
  * signatures are appended to the stored corpus, so later batches
  * dedup against everything accepted so far.
  *
  * Per batch:
  *   1. EXACT within batch: md5 keep-first (lowest doc_id survives).
  *   2. NEAR-DUP within batch: [[MinHashLsh.nearDup]] pairs collapsed
  *      greedily — a doc is dropped iff it near-duplicates a LOWER-id
  *      batch survivor candidate (b_id of any pair dies, keep-first
  *      again; one anti-join, no iteration — a near-dup CHAIN thus
  *      keeps its lowest id and may keep later members whose only link
  *      was a dropped middle doc, the standard greedy tradeoff;
  *      [[graft.operators.DedupClusters]] is the transitive batch-mode
  *      alternative).
  *   3. AGAINST THE STORE: [[MinHashLsh.nearDupAgainst]] — batch
  *      signatures joined to STORED signatures; any hit drops the new
  *      doc. Per-batch cost is proportional to the batch; at 100 TB the
  *      stored side is the bucketed band table and only the batch's
  *      slim band rows shuffle.
  *
  * Survivor signatures (doc_id, shh, mh) append to `sigDir`. The
  * checkpoint makes delivery effectively-once at the SOURCE; the
  * parquet append itself is at-least-once on crash-retry (a replayed
  * batch re-dedups against the store, and docs it appended before the
  * crash are now IN the store, so replays converge — re-appended
  * signatures of identical content are prevented by tier 3; the md5
  * column guards the exact tier).
  *
  * The signature store IS the corpus index: near-dup queries, ANN
  * seeding and incremental dedup all read it without touching text.
  */
object CorpusIngest {

  /** One micro-batch through the three dedup tiers; returns the
    * survivors' signature rows that were appended (for tests /
    * metrics). Exposed separately so batch backfills can reuse the
    * exact semantics of the stream. */
  def ingestBatch(batch: DataFrame, sigDir: String,
                  bands: Int = 4, rowsPerBand: Int = 2, shingleN: Int = 3,
                  numHashes: Int = 8, minJaccard: Double = 0.5,
                  scrubPii: Boolean = false,
                  bandTableName: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    // tier 0 (optional): PII scrub INSIDE the ingest projection —
    // redaction happens before any hash/signature is derived, so the
    // store never carries fingerprints of unscrubbed text (and two docs
    // differing only in redacted values dedup as the duplicates they
    // are). Scan-local, no extra pass.
    val cleaned =
      if (scrubPii)
        batch.withColumn("text", graft.functions.TextOps.redactPii(col("text")))
      else batch
    // tier 1: exact content dedup, keep-first by doc_id
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__md5")).orderBy(col("doc_id"))
    val exact = cleaned.select(col("doc_id"), col("text"))
      .withColumn("__md5", md5(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // signatures computed ONCE per batch (the hot text-kernel scan) and
    // shared by tiers 2 and 3 — tier 2 via the stored-signature band
    // join, tier 3 by filtering to tier-2 survivors; banding from the
    // same mh family also keeps batch keys comparable with the store's
    val sigAll = MinHashLsh.signatures(
        exact.select(col("doc_id"), col("text")), numHashes, shingleN)
      .join(exact.select(col("doc_id"), col("__md5")), "doc_id")
      .localCheckpoint() // two consumers — don't re-run the kernel scan
    // tier 2: near-dup within batch — b_id of any pair dies (keep-first)
    val pairs = MinHashLsh.nearDupFromSignatures(sigAll, bands, rowsPerBand,
      minJaccard)
    val batchKept = exact.join(pairs.select(col("b_id").as("doc_id")),
      Seq("doc_id"), "left_anti")
    // tier 3: against the stored corpus
    val sig = sigAll.join(batchKept.select(col("doc_id")), "doc_id")
    val accepted = Continuous.readStore(spark, sigDir, "doc_id") match {
      case Some(stored) =>
        // exact vs store (md5 equality) + near-dup vs store. With a
        // band table maintained (the 100 TB steady state), the stored
        // side's band keys come from the BUCKETED layout — zero band-
        // key Exchange, stored signatures never re-banded per batch
        // ([[MinHashLsh.nearDupAgainstBands]]); without one, the keys
        // recompute from stored `mh` ([[MinHashLsh.nearDupAgainst]]).
        val nearHits = bandTableName
          .filter(spark.catalog.tableExists) match {
            case Some(bt) => MinHashLsh.nearDupAgainstBands(
              sig, spark.table(bt), stored, bands, rowsPerBand, minJaccard)
            case None => MinHashLsh.nearDupAgainst(
              sig, stored, bands, rowsPerBand, minJaccard)
          }
        sig
          .join(stored.select(col("__md5")).distinct(), Seq("__md5"), "left_anti")
          .join(nearHits.select(col("new_id").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
      case None => sig
    }
    val out = accepted.select(col("doc_id"), col("shh"), col("mh"), col("__md5"))
      .localCheckpoint() // materialize BEFORE appending to the dir we read
    // r14: `out` was sigAll's LAST consumer — free the tier-2/3 shared
    // signature blocks now, or an unbounded stream strands one
    // batch-sized checkpoint per micro-batch (the VectorIngest
    // semanticDedupBatch leak class, fixed the same way).
    // PRECONDITION (r14 ADVICE): `localCheckpoint()` above is the EAGER
    // overload — `out`'s blocks are already materialized when sigAll is
    // freed here. A switch to `localCheckpoint(eager = false)` would
    // make the band/sig writes below recompute `out` against freed
    // parent blocks and fail at runtime; keep the checkpoint eager (or
    // move this release after the last write) if that ever changes.
    graft.core.Pins.releaseCheckpoint(sigAll)
    // band rows append BEFORE the signature store, deliberately: a crash
    // between the two writes then leaves orphan band rows, which are
    // harmless (candidates verify against storedSig by inner join, and
    // the replayed batch re-appends both). The reverse order would be a
    // permanent recall hole: sig rows in the store make the replay's
    // md5 anti-join drop the survivors, so their band keys would never
    // be written and later batches could never near-dup against them.
    bandTableName.foreach { bt =>
      MinHashLsh.bandTable(out, bands, rowsPerBand)
        .write.mode(SaveMode.Append)
        .bucketBy(32, "bk").sortBy("bk")
        .format("parquet").saveAsTable(bt)
    }
    out.write.mode(SaveMode.Append).parquet(sigDir)
    out
  }

  /** The continuous form: a streaming docs source (doc_id, text) driven
    * through [[ingestBatch]] per micro-batch. Forwards every tuning
    * knob [[ingestBatch]] exposes — a stream pinned to defaults would
    * silently band a backfill's differently-sized signature family
    * with mismatched keys, degrading cross-batch dedup recall. */
  def start(docs: DataFrame, sigDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            bands: Int = 4, rowsPerBand: Int = 2, shingleN: Int = 3,
            numHashes: Int = 8, minJaccard: Double = 0.5,
            scrubPii: Boolean = false,
            bandTableName: Option[String] = None): StreamingQuery =
    Continuous.run(docs, checkpointDir, trigger) { (batch, _) =>
      Some(ingestBatch(batch, sigDir, bands, rowsPerBand, shingleN,
        numHashes, minJaccard, scrubPii, bandTableName))
    }

  /** One micro-batch of the NOVELTY monitor (q106's continuous twin):
    * per document, the fraction of its distinct word shingles appearing
    * for the first time — first within this batch (min doc_id, q106's
    * exact semantic) or first ever, judged against the stored
    * first-appearance relation `(sg, first_doc)` in `shDir`. Replaying
    * batches in doc_id order over an empty store reproduces batch q106
    * row for row (spec-pinned), so the monitor's numbers mean the same
    * thing as the batch report.
    *
    * The store keeps `first_doc` (not bare membership) deliberately:
    * a crash-replayed batch finds its own shingles stored with
    * `first_doc` pointing back at its docs and still counts them novel
    * — the emitted rows are IDEMPOTENT under replay (spec-pinned),
    * where a membership-only store would collapse a replay's novelty
    * to 0 and double-emit conflicting rows. `(sg, min doc_id)` is the
    * same mergeable statistic q104/q106 aggregate, maintained
    * incrementally. At 100 TB the store is laid out bucketed by `sg`
    * with a bloom sidecar (the q84 shape): bloom-negative batch
    * shingles are definitively new and skip the join entirely; only
    * possible repeats probe their bucket. */
  def noveltyBatch(batch: DataFrame, shDir: String,
                   shingleN: Int = 3): DataFrame = {
    val spark = batch.sparkSession
    val sh = batch.select(col("doc_id"),
      explode(graft.functions.TextOps.shinglesNative(col("text"), shingleN)).as("sg"))
    val batchFirst = sh.withColumn("batch_first",
      min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("sg"))))
    val flagged = Continuous.readStore(spark, shDir, "sg") match {
      case Some(st) =>
        // fold the store to one row per shingle: a crash-replayed batch
        // appends its (sg, first_doc) pairs a second time, and a bare
        // left join against the duplicated rows would double-count
        // n_shingles. min == the unique first_doc for replay dups; on
        // the bucketed-by-sg deployment layout this fold is
        // exchange-free.
        batchFirst.join(
            st.groupBy(col("sg")).agg(min(col("first_doc")).as("stored_first")),
            Seq("sg"), "left")
          .withColumn("novel",
            when(col("stored_first").isNotNull, col("stored_first") === col("doc_id"))
              .otherwise(col("batch_first") === col("doc_id")))
      case None =>
        batchFirst.withColumn("stored_first", lit(null).cast("long"))
          .withColumn("novel", col("batch_first") === col("doc_id"))
    }
    // materialize BOTH consumers before touching the store dir the
    // lineage reads (the ingestBatch discipline)
    val out = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("novel"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 4))
      .localCheckpoint()
    val newFirsts = flagged
      .filter(col("stored_first").isNull && col("batch_first") === col("doc_id"))
      .select(col("sg"), col("doc_id").as("first_doc"))
      .localCheckpoint()
    newFirsts.write.mode(SaveMode.Append).parquet(shDir)
    // r14: the store append was newFirsts' only consumer — free it
    graft.core.Pins.releaseCheckpoint(newFirsts)
    out
  }

  /** One micro-batch of KMV-sketch maintenance (q112's continuous
    * side): the per-source k-minimum-values content sketch merges each
    * batch's k-smallest hashes into the stored sketch — KMV union is
    * "k smallest of the concatenation", so incremental maintenance is
    * BIT-EXACT equal to rebuilding from the full corpus (spec-pinned),
    * and re-merging an already-merged batch is a no-op (min-k is
    * idempotent under re-union), so crash-replay converges without any
    * dedup bookkeeping. The store is sources × k hashes — model-sized
    * — and overwrites atomically like the other model artifacts; every
    * q112-style overlap/distinct estimate then reads the store without
    * touching the corpus. The overwrite rides
    * [[graft.core.Sinks.atomicSwap]], healed on entry — a plain
    * `mode(Overwrite)` has a delete-then-write window that loses the
    * whole sketch history on a crash. */
  def kmvBatch(batch: DataFrame, skDir: String, k: Int = 64): DataFrame = {
    val bs = batch
      .select(col("source"), md5(concat(lit("kmv|"), col("text"))).as("h"))
      .distinct()
      .groupBy(col("source"))
      .agg(graft.operators.TopK.minKByString(k)(col("h"), lit(0L)).as("sk"))
      .select(col("source"),
        org.apache.spark.sql.functions.transform(col("sk"), p => p.getField("_1")).as("hs"))
    val emptyArr = array().cast("array<string>")
    val merged = Continuous.readStore(batch.sparkSession, skDir, "hs") match {
      case Some(st) =>
        bs.join(st.select(col("source"), col("hs").as("old")), Seq("source"), "full")
          .select(col("source"),
            slice(array_sort(array_union(
              coalesce(col("hs"), emptyArr), coalesce(col("old"), emptyArr))), 1, k).as("hs"))
      case None => bs
    }
    // materialize BEFORE overwriting the store the lineage reads
    val out = merged.localCheckpoint()
    graft.core.Sinks.atomicSwap(skDir, "sketch") { tmp =>
      out.write.parquet(tmp)
    }
    out
  }

  /** One micro-batch of CHUNK-STORE maintenance (q114's continuous
    * side): each batch document's 8-token chunk hashes land in the
    * stored `(doc_id, h)` pair relation, and the batch's documents are
    * verdict-scored against everything stored SO FAR — the incremental
    * form of the chunk-duplication gate, where a new document dropping
    * because it shares > ½ its chunks with an already-ingested one is
    * decided at arrival time, not in a nightly rebuild.
    *
    * Replay discipline: appends are DOC-granular — a batch's docs are
    * anti-joined against the store's doc_ids, so a crash-replayed
    * batch appends nothing and re-emits identical verdicts
    * (spec-pinned). Judging happens AFTER the append, against the
    * store pruned to this batch's chunk hashes (per-batch cost
    * O(batch), not O(store); at 100 TB the store is bucketed by `h`
    * with a q84 bloom sidecar, so never-before-seen chunks skip the
    * probe entirely). One batch containing the whole corpus reproduces
    * batch q114 row for row (spec-pinned); across batches the verdicts
    * are first-arrival-wins — an early singleton keeps even when its
    * duplicate arrives later, which is exactly the decision an
    * at-ingest gate can make (the batch query remains the
    * whole-corpus re-audit). */
  def chunkBatch(batch: DataFrame, chDir: String,
                 chunkTokens: Int = 8): DataFrame = {
    val spark = batch.sparkSession
    val ch = batch
      .select(col("doc_id"), graft.functions.TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= chunkTokens)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), floor(size(col("t")) / chunkTokens).cast("int")),
        i => md5(concat_ws(" ", slice(col("t"),
          (i - lit(1)) * lit(chunkTokens) + lit(1), lit(chunkTokens)))))).as("h"))
      .localCheckpoint() // pin BEFORE touching the dir the lineage reads
    val newPairs = Continuous.readStore(spark, chDir, "h") match {
      case Some(st) => ch.join(st.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      case None => ch
    }
    val appended = newPairs.select(col("doc_id"), col("h")).distinct()
      .localCheckpoint()
    appended.write.mode(SaveMode.Append).parquet(chDir)
    // r14: the append was this checkpoint's only consumer — free it
    graft.core.Pins.releaseCheckpoint(appended)
    // score THIS batch against the store (now containing it), pruned to
    // the batch's chunk hashes before any counting
    val batchHashes = ch.select(col("h")).distinct()
    val nd = spark.read.parquet(chDir)
      .join(batchHashes, Seq("h"), "left_semi")
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
    ch.join(nd, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4)
          .as("dup_ratio"),
        when(col("n_dup_chunks") * 2 > col("n_chunks"), "drop")
          .otherwise("keep").as("verdict"))
  }

  /** The continuous form of [[noveltyBatch]]: per-batch novelty rows
    * append to `outDir`, the first-appearance store advances in
    * `shDir`. The content-yield dashboard a crawl ingest watches — a
    * batch arriving mostly non-novel is not worth its processing cost
    * downstream. */
  def startNoveltyMonitor(docs: DataFrame, shDir: String, outDir: String,
                          checkpointDir: String,
                          trigger: Trigger = Trigger.AvailableNow(),
                          shingleN: Int = 3): StreamingQuery =
    Continuous.run(docs, checkpointDir, trigger) { (batch, _) =>
      val nov = noveltyBatch(batch, shDir, shingleN)
      nov.write.mode(SaveMode.Append).parquet(outDir)
      Some(nov)
    }

  /** One micro-batch of MERKLE-FINGERPRINT maintenance — q267's
    * continuous side, completing the data-versioning story: the batch
    * query fingerprints a corpus snapshot; this keeps the fingerprint
    * CURRENT as documents arrive, without ever re-reading the corpus.
    *
    * The store is q267's LEVEL-1 rows — per (source, doc_id-div-1024
    * bucket): doc count, char mass, and the SORTED per-doc content-hash
    * multiset (bounded: ≤ 1024 × 32-hex entries per row) — exactly the
    * incremental unit the batch query's doc comment promises. A batch
    * folds to its own level-1 increments (one partial-aggregable pass),
    * full-joins the store on (source, bucket), and each touched bucket
    * re-sorts its concatenated multiset; untouched buckets pass through
    * byte-identical. [[merkleFingerprint]] then folds level 2 from the
    * store alone — bucket-count-sized, corpus never touched — and is
    * spec-pinned EQUAL to batch q267 over the ingested prefix for any
    * batching.
    *
    * Replay discipline: multiset concat is NOT idempotent, so this uses
    * the batch-id transaction rule (the CMS-store pattern, not KMV's
    * free idempotence): merge only when `batchId` EXCEEDS the stored
    * high-water mark; a replayed batch finds its id recorded and skips.
    * The overwrite rides the crash-safe atomic swap with heal-on-entry;
    * the store is corpus-hash-sized, so it keeps the merge's
    * partitioning instead of funnelling into one file.
    * Corollary: one store per checkpoint lineage. */
  def merkleBatch(batch: DataFrame, fpDir: String, batchId: Long): Unit =
    Continuous.mergeBatch(batch.sparkSession, fpDir, "merkle", batchId,
        Seq("source", "bucket", "n_docs", "n_chars", "hs"), oneFile = false) { stored =>
      val inc = batch
        .select(col("source"), expr("doc_id div 1024").as("bucket"),
          md5(col("text")).as("h"), col("n_chars"))
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
          collect_list(col("h")).as("hs"))
      val emptyArr = array().cast("array<string>")
      stored match {
        case Some(st) =>
          inc.join(st.select(col("source"), col("bucket"),
              col("n_docs").as("od"), col("n_chars").as("oc"), col("hs").as("oh")),
              Seq("source", "bucket"), "full")
            .select(col("source"), col("bucket"),
              (coalesce(col("n_docs"), lit(0L)) + coalesce(col("od"), lit(0L))).as("n_docs"),
              (coalesce(col("n_chars"), lit(0L)) + coalesce(col("oc"), lit(0L))).as("n_chars"),
              array_sort(concat(coalesce(col("hs"), emptyArr),
                coalesce(col("oh"), emptyArr))).as("hs"))
        case None =>
          inc.select(col("source"), col("bucket"), col("n_docs"),
            col("n_chars"), array_sort(col("hs")).as("hs"))
      }
    }

  /** Level-2 fold over the stored level-1 rows: per source the Merkle
    * root + dataset-card counts — SAME columns, SAME values as batch
    * q267 over the ingested document set (spec-pinned). Bucket-count-
    * sized input; the corpus is never read. */
  def merkleFingerprint(store: DataFrame): DataFrame =
    store
      .select(col("source"), col("n_docs"), col("n_chars"),
        md5(concat_ws("", col("hs"))).as("d1"))
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), count(lit(1)).as("n_buckets"),
        sum(col("n_chars")).as("n_chars"),
        md5(concat_ws("", array_sort(collect_list(col("d1"))))).as("fingerprint"))
      .orderBy(col("source"))

  /** The continuous form of [[merkleBatch]]. */
  def startMerkleMaintenance(docs: DataFrame, fpDir: String,
                             checkpointDir: String,
                             trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    Continuous.run(docs, checkpointDir, trigger) { (batch, batchId) =>
      merkleBatch(batch, fpDir, batchId)
      None
    }

  /** CONTINUOUS COLUMN-CHECKSUM MAINTENANCE — q293's streaming twin
    * for the documents feed: the store holds one (col_name, n, n_null,
    * sum52) row per column, each micro-batch folds its own melt
    * scan-locally and MERGES by integer addition (commutative digest
    * sums are exactly mergeable, so [[checksumAudit]] is bit-equal to
    * the batch q293 documents rows over any prefix and any batching —
    * spec-pinned; addition is NOT idempotent, so the CMS/Merkle
    * batch-id transaction rule refuses crash-replays, spec-pinned).
    * This is how a replication target proves column-level integrity
    * continuously instead of re-scanning at audit time. */
  def checksumBatch(batch: DataFrame, ckDir: String, batchId: Long): Unit =
    Continuous.mergeBatch(batch.sparkSession, ckDir, "sketch", batchId,
        Seq("col_name", "n", "n_null", "sum52")) { stored =>
      // the SAME melt + fold code the declared q293 runs — the
      // bit-equality contract is structural
      val inc = graft.queries.PipelineQueries.checksumFold(
        graft.queries.PipelineQueries.checksumMelt(batch, "documents",
          graft.queries.PipelineQueries.documentsChecksumCols))
      stored.fold(inc)(_.unionByName(inc))
        .groupBy(col("col_name"))
        .agg(sum(col("n")).as("n"), sum(col("n_null")).as("n_null"),
          sum(col("sum52")).cast("decimal(38,0)").as("sum52"))
    }

  /** q293's documents rows served FROM the [[checksumBatch]] store —
    * same columns, same digests, over everything ingested so far. */
  def checksumAudit(spark: org.apache.spark.sql.SparkSession,
                    ckDir: String): DataFrame =
    graft.queries.PipelineQueries.checksumDigest(
      spark.read.parquet(ckDir)
        .select(col("col_name"), col("n"), col("n_null"), col("sum52")))

  /** The continuous form of [[checksumBatch]]. */
  def startChecksumMaintenance(docs: DataFrame, ckDir: String,
                               checkpointDir: String,
                               trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    Continuous.run(docs, checkpointDir, trigger) { (batch, batchId) =>
      checksumBatch(batch, ckDir, batchId)
      None
    }
}
