package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.{Pq, VectorOps}

/** STREAMING ANN-INDEX MAINTENANCE — the vector-side sibling of
  * [[CorpusIngest]]: each micro-batch of (vec_id, embedding) rows is
  * assigned to its IVF cell and PQ-encoded against the TRAINED models
  * (quantizer centroids + codebooks are frozen ingest artifacts — the
  * q30/q74 contract; retraining per batch would silently re-key the
  * whole stored index), then appended to the stored codes table in the
  * q78 search layout: `(vec_id, cell, codes)`, where the cell column
  * prunes WHICH rows a probe touches and the m-byte codes bound the
  * BYTES per touched row. Searches read the store and never re-encode.
  *
  * Replay discipline: the source checkpoint makes delivery
  * effectively-once; the parquet append is at-least-once on
  * crash-retry, and a replayed batch anti-joins the store on vec_id so
  * rows appended before the crash are not duplicated — the same
  * converge-on-retry shape as [[CorpusIngest]]'s md5 tier. (A vec_id
  * REDELIVERED with different payload keeps the stored encoding — ids
  * are immutable content handles here, as doc ids are for signatures.)
  *
  * At 100 TB: per-batch cost is one scan of the batch (assignment is a
  * broadcast of nCells model rows; encode is a scan-local literal
  * argmin — no exchange at all beyond the append), and the stored
  * table grows by exactly the accepted rows. Partition the store by
  * `cell` at deployment and probes read only their cell's files.
  */
object VectorIngest {

  /** One micro-batch: assign + encode against the frozen models, drop
    * already-stored ids, append. Returns the appended rows (for tests /
    * metrics). Exposed separately so batch backfills share the exact
    * semantics of the stream. */
  def ingestBatch(batch: DataFrame, ivf: VectorOps.IvfModel, pq: Pq.PqModel,
                  codesDir: String,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val rows = VectorOps.assignTo(batch, idCol, vecCol, ivf)
      .select(col(idCol).as("vec_id"), col("cell"),
        Pq.codesColumn(col("__v"), pq).as("codes"))
    val fresh = Continuous.readStore(batch.sparkSession, codesDir, "vec_id") match {
      case Some(st) => rows.join(st.select(col("vec_id")), Seq("vec_id"), "left_anti")
      case None => rows
    }
    // materialize BEFORE appending to the directory the anti-join reads
    val out = fresh.localCheckpoint()
    out.write.mode(SaveMode.Append).parquet(codesDir)
    out
  }

  /** CONTINUOUS ISOTROPY MAINTENANCE — q282's streaming twin: the
    * store holds the per-dimension moment triple (j, Sⱼ, Qⱼ, n) on the
    * round(x·1000) grid — 64 rows however long the stream runs — and
    * each micro-batch MERGES its own fold by integer ADDITION.
    * Moments are mergeable exactly (Σ over a union = Σ of Σs), so
    * [[isotropyAudit]] is bit-equal to the batch q282 over any prefix
    * and any batching (spec-pinned); addition is NOT idempotent, so
    * the CMS/FK-orphan batch-id transaction rule guards crash-replay
    * (spec-pinned). This is the shape a 100 TB embedding feed audits
    * itself with: per-batch cost is one scan-local explode fold that
    * collapses map-side to 64 rows, and the collapse-detection page
    * (participation ratio sinking toward 1) fires on merge rather
    * than at the next offline audit. */
  def isotropyBatch(batch: DataFrame, statsDir: String, batchId: Long,
                    vecCol: String = "embedding"): Unit = {
    val bs = batch
      .select(expr(s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
        .as("qv"))
      .select(posexplode(col("qv")).as(Seq("j", "q")))
      .groupBy(col("j"))
      .agg(sum(col("q")).as("sj"), sum(col("q") * col("q")).as("qj"),
        count(lit(1)).as("n"))
    // a batch of NULL/empty vectors folds to ZERO rows and contributes
    // no moments: skipping it IS the correct sum, and keeps the store
    // from ever holding zero rows (the audit reads one spectrum row)
    if (!bs.isEmpty)
      Continuous.mergeBatch(batch.sparkSession, statsDir, "sketch", batchId,
          Seq("j", "sj", "qj", "n")) { stored =>
        stored.fold(bs)(_.unionByName(bs))
          .groupBy(col("j"))
          .agg(sum(col("sj")).as("sj"), sum(col("qj")).as("qj"),
            sum(col("n")).as("n"))
      }
  }

  /** q282's audit row served FROM the [[isotropyBatch]] moment store —
    * the same trace / worst-dimension share / participation ratio /
    * mean-mass outputs, over everything ingested so far. */
  def isotropyAudit(spark: org.apache.spark.sql.SparkSession,
                    statsDir: String): DataFrame =
    // the SAME derivation the declared q282 runs — structural parity
    graft.queries.PipelineQueries.isotropyDerive(
      spark.read.parquet(statsDir).select("j", "sj", "qj", "n"))

  /** The continuous isotropy form: a streaming (vec_id, embedding)
    * source driven through [[isotropyBatch]], with `onCollapse` paged
    * when the participation ratio sinks under `prCentiFloor`. */
  def startIsotropyMonitor(vecs: DataFrame, statsDir: String,
                           checkpointDir: String,
                           prCentiFloor: Long = 200L,
                           onCollapse: Long => Unit = _ => ())
      : StreamingQuery =
    Continuous.run(vecs, checkpointDir) { (batch, batchId) =>
      isotropyBatch(batch, statsDir, batchId)
      // pr_centi is NULL while the store has zero variance (one
      // vector, or all identical) — that's "no spectrum yet", not
      // a collapse page, and must not NPE the query into a
      // crash-replay wedge
      if (new java.io.File(statsDir).isDirectory) {
        val row = isotropyAudit(batch.sparkSession, statsDir)
          .select(col("pr_centi")).head()
        if (!row.isNullAt(0) && row.getLong(0) < prCentiFloor)
          onCollapse(row.getLong(0))
      }
      None
    }

  /** One micro-batch of INCREMENTAL SEMANTIC DEDUP — q303's streaming
    * twin (the q55 vs-store discipline): the store at `memberDir`
    * holds every previously-seen member as (cell, vec_id, q); a
    * batch's NEW members are compared against each other AND against
    * the stored members of their cell through the SAME compiled fold
    * batch q303 runs ([[graft.operators.SemanticDedup.incrementalStats]]
    * — fresh-tagged union, stored-stored pairs never recompared, the
    * degenerate-cell sub-shard bound holding against the GROWN store),
    * then appended. Per-cell stats summed over any id-ordered batching
    * equal the batch operator over the union (VectorIngestSpec pins
    * it); out-of-order arrivals keep exact pair counts but leave the
    * stored side's removed flag to the retrospective batch fold (the
    * q113/q118 at-arrival rule).
    *
    * Replay discipline (the [[ingestBatch]] shape): a replayed batch
    * anti-joins the store on vec_id, so its members are already
    * stored, its fresh set is EMPTY, and it appends nothing and
    * reports zero stats — crash-retry converges with no double count.
    * The converse window is an UNDER-count, not a double count: the
    * member append commits before the caller's per-batch stats write,
    * so a crash between the two permanently loses that batch's stats
    * rows (replay sees the members stored and emits zero). Cumulative
    * pair/removed totals then lag until the retrospective batch fold
    * (q303 over the member store) re-derives them — the heal path; a
    * stats-first transactional order would instead need statsDir
    * deduped by (batch_id, cell) on replay, the isotropyBatch rule.
    *
    * Returns (cell, n_new, n_dup_pairs, n_removed) for this batch. */
  def semanticDedupBatch(batch: DataFrame, memberDir: String,
                         tau2Num: Long, tau2Den: Long,
                         maxTaskMembers: Int = 4096): DataFrame = {
    val rows = batch.select(col("cell"), col("vec_id"), col("q"))
    val stored = Continuous.readStore(batch.sparkSession, memberDir, "vec_id")
      .map(_.select(col("cell"), col("vec_id"), col("q")))
    val fresh = (stored match {
      case Some(st) =>
        rows.join(st.select(col("vec_id")), Seq("vec_id"), "left_anti")
      case None => rows
    }).localCheckpoint() // pin before appending to the dir the plan reads
    val tagged = stored match {
      case Some(st) => fresh.withColumn("fresh", lit(true))
        .unionByName(st.withColumn("fresh", lit(false)))
      case None => fresh.withColumn("fresh", lit(true))
    }
    // route the stats checkpoint through the pin registry so the
    // driver's Pins.release() frees it after consumption (r14, the
    // ADVICE leak: a bare localCheckpoint per micro-batch strands one
    // block-manager RDD per batch on an unbounded stream)
    val stats = graft.core.Pins.track(
      graft.operators.SemanticDedup
        .incrementalStats(tagged, tau2Num, tau2Den, maxTaskMembers)
        .localCheckpoint()) // materialize BEFORE the append below
    fresh.write.mode(SaveMode.Append).parquet(memberDir)
    // the append was fresh's last consumer (stats is already
    // materialized above) — free its checkpoint now, per the
    // isotropyBatch pattern
    graft.core.Pins.releaseCheckpoint(fresh)
    stats
  }

  /** The continuous semantic-dedup form: a streaming quantized
    * (cell, vec_id, q) source driven through [[semanticDedupBatch]],
    * per-batch stats appended to `statsDir` (an audit LOG — sum it
    * per cell for the running totals). */
  def startSemanticDedup(vecs: DataFrame, memberDir: String,
                         statsDir: String, checkpointDir: String,
                         tau2Num: Long, tau2Den: Long,
                         maxTaskMembers: Int = 4096,
                         trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    Continuous.run(vecs, checkpointDir, trigger) { (batch, batchId) =>
      semanticDedupBatch(batch, memberDir, tau2Num, tau2Den,
        maxTaskMembers)
        .withColumn("batch_id", lit(batchId))
        .write.mode(SaveMode.Append).parquet(statsDir)
      // the batch fully consumed its fold pin (stats are
      // checkpointed, members appended) — free it so an unbounded
      // stream doesn't strand a block per micro-batch (the Pins
      // one-driver protocol: this stream owns its session)
      graft.core.Pins.release()
      None
    }

  /** The continuous form: a streaming (vec_id, embedding) source driven
    * through [[ingestBatch]] per micro-batch. */
  def start(vecs: DataFrame, ivf: VectorOps.IvfModel, pq: Pq.PqModel,
            codesDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery =
    Continuous.run(vecs, checkpointDir, trigger) { (batch, _) =>
      Some(ingestBatch(batch, ivf, pq, codesDir, idCol, vecCol))
    }
}
