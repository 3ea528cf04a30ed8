package graft.streaming

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.core.{Pins, Sinks}

/** The one harness the continuous twins in [[graft.streaming]] run on:
  * the micro-batch runner, the watermark-closed window head the windowed
  * monitors share, and the batch-id swap store the integer-addition
  * stores merge through. Each piece of per-batch bookkeeping (checkpoint
  * option, output mode, empty-batch skip, checkpoint release, store
  * recovery, replay guard) lives here once instead of in every twin.
  */
object Continuous {

  /** Run `batchFn` on every non-empty micro-batch of `input` (Append
    * mode, offsets checkpointed at `checkpointDir`). `trigger` defaults
    * to Spark's own default, `ProcessingTime(0)`. The frame `batchFn`
    * returns, if any, is the last consumer of the batch's
    * `localCheckpoint`s: its checkpointed leaves are released after the
    * batch, so an unbounded stream strands no block-manager entry per
    * micro-batch. */
  def run(input: DataFrame, checkpointDir: String,
          trigger: Trigger = Trigger.ProcessingTime(0L))
         (batchFn: (DataFrame, Long) => Option[DataFrame]): StreamingQuery =
    input.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) batchFn(batch, batchId).foreach(Pins.releaseCheckpoint)
      }
      .start()

  /** Tumbling `width` windows over event time `ts`, grouped by `keys`
    * and folded by `aggs`, emitted once each — when the watermark
    * (`watermarkDelay` behind the latest event) passes the window's end
    * and its state is dropped. Output: `win_us` (window start, epoch µs),
    * then the keys, then the aggregates. */
  def closedWindows(events: DataFrame, width: String, watermarkDelay: String,
                    keys: Column*)(aggs: Column*): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), width).as("w") +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(unix_micros(col("w.start")).as("win_us"), col("*"))
      .drop("w")

  /** The parquet store at `dir` if it holds column `probe`; None before
    * its first write. A store stranded between the two renames of a
    * [[graft.core.Sinks.atomicSwap]] is restored first, so a crash there
    * never reads as an empty store. */
  def readStore(spark: SparkSession, dir: String, probe: String): Option[DataFrame] = {
    Sinks.recoverStrandedBackup(dir)
    try {
      val df = spark.read.parquet(dir)
      if (df.columns.contains(probe)) Some(df) else None
    } catch { case _: AnalysisException => None }
  }

  /** What [[mergeBatch]] did with one batch. */
  sealed trait Outcome
  /** The batch id exceeded the stored one: folded in and swapped. */
  case object Merged extends Outcome
  /** The batch id equals the stored one: a crash-replay of the batch
    * already merged — nothing changed, but a notification the crash may
    * have lost is due again. */
  case object Replayed extends Outcome
  /** The batch id is below the stored one: skipped. */
  case object Stale extends Outcome

  /** The batch-id transaction of the stores whose merge is NOT
    * idempotent (integer addition, multiset concat, a Misra-Gries fold):
    * the store at `dir` carries the id of the last merged batch in a
    * `batch_id` column, and a batch merges only when its id exceeds it —
    * so a batch replayed after a crash before the checkpoint commit never
    * double-counts. `fold` gets the stored rows (`cols` only; None before
    * the first merge) and returns the new store content, which is
    * materialized before the crash-safe [[graft.core.Sinks.atomicSwap]]
    * overwrites the directory it reads, then released. A zero-row store
    * (a batch that folded to nothing) reads as "no batch merged", never
    * as a NULL id. `oneFile = false` keeps the merged frame's partitioning
    * for a store too large for one writer. One store belongs to one
    * checkpoint lineage: a fresh checkpoint restarts batch ids at 0. */
  def mergeBatch(spark: SparkSession, dir: String, tag: String, batchId: Long,
                 cols: Seq[String], oneFile: Boolean = true)
                (fold: Option[DataFrame] => DataFrame): Outcome = {
    val stored = readStore(spark, dir, "batch_id")
    val storedId = stored
      .flatMap(df => Option(df.agg(max(col("batch_id"))).head().get(0)))
      .fold(-1L)(_.asInstanceOf[Long])
    if (batchId < storedId) Stale
    else if (batchId == storedId) Replayed
    else {
      val out = fold(stored.map(_.select(cols.map(col): _*))).localCheckpoint()
      Sinks.atomicSwap(dir, tag) { tmp =>
        val rows = out.withColumn("batch_id", lit(batchId))
        (if (oneFile) rows.coalesce(1) else rows).write.parquet(tmp)
      }
      Pins.releaseCheckpoint(out)
      Merged
    }
  }
}
