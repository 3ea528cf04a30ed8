package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec
import graft.functions.{Pq, VectorOps}

/** Every `foreachBatch` twin, soaked: after EVERY micro-batch the
  * block manager's persistent-RDD set must be back at its pre-stream
  * level. A twin whose per-batch `localCheckpoint` is never released
  * strands one entry per micro-batch, which an unbounded stream turns
  * into unbounded storage. Two small batches each; the windowed
  * monitors' second batch drives the watermark past the first batch's
  * windows, so their scoring path runs on closed windows.
  */
class StreamingSoakSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val hourUs = 3600L * 1000000L
  private val dayUs = 24 * hourUs
  private val now = Trigger.ProcessingTime(0L)

  /** Each step runs one micro-batch to completion. */
  private case class Soak(steps: Seq[() => Unit], stop: () => Unit)

  private def memory[T: Encoder](batches: Seq[T]*)(start: DataFrame => StreamingQuery): Soak = {
    val in = MemoryStream[T]
    val q = start(in.toDF())
    Soak(batches.map(b => () => { in.addData(b); q.processAllAvailable() }), () => q.stop())
  }

  private def events(df: DataFrame) =
    df.withColumn("ts", timestamp_micros(col("tsMicros")))
      .withColumnRenamed("eventType", "event_type")

  private def ev(id: Long, us: Long, user: Long, value: Double) =
    Event(id, us, user, if (id % 2 == 0) "view" else "click", value)

  private val hours = Seq(
    (1 to 6).map(i => ev(i, (i % 2) * hourUs + i * 60000000L, i, i * 3.0)),
    Seq(ev(7, 5 * hourUs, 1, 1.0)))
  private val days = Seq(
    (1 to 6).map(i => ev(i, (i % 2) * dayUs + hourUs, i, i * 1.5)),
    Seq(ev(7, 5 * dayUs, 1, 1.0)))

  private val docs = Seq(
    Seq((1L, "alpha beta gamma delta epsilon zeta", "web", 36L),
      (2L, "one two three four five six seven", "news", 33L)),
    Seq((3L, "alpha beta gamma delta epsilon zeta", "web", 36L),
      (4L, "a wholly different document here", "web", 32L)))

  private def vecs(from: Int) = (from until from + 4).map { i =>
    val rnd = new scala.util.Random(i)
    (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2f - 1f))
  }

  private lazy val models = {
    val emb = vecs(100).toDF("vec_id", "embedding")
    (VectorOps.ivfModel(emb, "vec_id", "embedding", nCells = 2),
      Pq.train(emb, "vec_id", "embedding", m = 2, k = 2))
  }

  private val twins: Seq[(String, String => Soak)] = Seq(
    "EventStream.startDriftMonitor" -> (d => memory(hours: _*)(df =>
      EventStream.startDriftMonitor(events(df), s"$d/store", s"$d/ckpt"))),
    "EventStream.startValueDriftMonitor" -> (d => memory(hours: _*)(df =>
      EventStream.startValueDriftMonitor(events(df), Seq(10.0), s"$d/store", s"$d/ckpt"))),
    "EventStream.startBurstMonitor" -> (d => memory(hours: _*)(df =>
      EventStream.startBurstMonitor(events(df), s"$d/store", s"$d/ckpt"))),
    "EventStream.startCusumMonitor" -> (d => memory(days: _*)(df =>
      EventStream.startCusumMonitor(events(df), s"$d/store", s"$d/ckpt",
        targetCents = 100L, slackCents = 5L, alarmCents = 50L))),
    "EventStream.startEwmaMonitor" -> (d => memory(days: _*)(df =>
      EventStream.startEwmaMonitor(events(df), s"$d/store", s"$d/ckpt"))),
    "EventStream.startUpsertSink" -> (d => memory(hours: _*)(df =>
      EventStream.startUpsertSink(
        df.select(col("userId").as("k"), col("value").as("v"), col("tsMicros").as("ver")),
        s"$d/store", s"$d/ckpt", Seq("k"), Seq("ver")))),
    "EventStream.startHeavyHittersMonitor" -> (d => memory(Seq("a", "a", "b"), Seq("c", "a"))(df =>
      EventStream.startHeavyHittersMonitor(df, "value", s"$d/store", s"$d/ckpt"))),
    "EventStream.startCountMinMonitor" -> (d => memory(Seq("a", "a", "b"), Seq("c", "a"))(df =>
      EventStream.startCountMinMonitor(df, "value", s"$d/store", s"$d/ckpt"))),
    "EventStream.startFkOrphanMonitor" -> (d => memory(Seq(1L, 2L, 9L), Seq(9L, 8L))(df =>
      EventStream.startFkOrphanMonitor(df, "value", Seq(1L, 2L).toDF("pk"),
        s"$d/store", s"$d/ckpt"))),
    "EventStream.startSrmMonitor" -> (d => memory(hours: _*)(df =>
      EventStream.startSrmMonitor(events(df).withColumnRenamed("userId", "user_id"),
        s"$d/store", s"$d/ckpt"))),
    "EventStream.startSchemaDriftMonitor" -> (d =>
      memory(Seq("""{"k": 1}""", """{"k": 2}"""), Seq("""{"k": "s"}"""))(df =>
        EventStream.startSchemaDriftMonitor(df.toDF("j"), "j", s"$d/store", s"$d/ckpt"))),
    "CorpusIngest.start" -> (d => memory(docs: _*)(df =>
      CorpusIngest.start(df.toDF("doc_id", "text", "source", "n_chars")
        .select("doc_id", "text"), s"$d/store", s"$d/ckpt", trigger = now))),
    "CorpusIngest.startNoveltyMonitor" -> (d => memory(docs: _*)(df =>
      CorpusIngest.startNoveltyMonitor(df.toDF("doc_id", "text", "source", "n_chars")
        .select("doc_id", "text"), s"$d/store", s"$d/out", s"$d/ckpt", trigger = now))),
    "CorpusIngest.startMerkleMaintenance" -> (d => memory(docs: _*)(df =>
      CorpusIngest.startMerkleMaintenance(df.toDF("doc_id", "text", "source", "n_chars"),
        s"$d/store", s"$d/ckpt", trigger = now))),
    "CorpusIngest.startChecksumMaintenance" -> (d => memory(docs: _*)(df =>
      CorpusIngest.startChecksumMaintenance(df.toDF("doc_id", "text", "source", "n_chars")
        .withColumn("lang", lit("en")), s"$d/store", s"$d/ckpt", trigger = now))),
    "VectorIngest.start" -> (d => memory(vecs(0), vecs(4))(df =>
      VectorIngest.start(df.toDF("vec_id", "embedding"), models._1, models._2,
        s"$d/store", s"$d/ckpt", trigger = now))),
    "VectorIngest.startIsotropyMonitor" -> (d => memory(vecs(0), vecs(4))(df =>
      VectorIngest.startIsotropyMonitor(df.toDF("vec_id", "embedding"),
        s"$d/store", s"$d/ckpt"))),
    "VectorIngest.startSemanticDedup" -> (d =>
      memory(Seq((0L, 1L, Seq(1L, 2L)), (0L, 2L, Seq(1L, 2L))), Seq((0L, 3L, Seq(1L, 3L))))(df =>
        VectorIngest.startSemanticDedup(df.toDF("cell", "vec_id", "q"), s"$d/store",
          s"$d/stats", s"$d/ckpt", 49L, 400L, trigger = now))),
    "EventStream.archiveToParquet" -> { d =>
      // an AvailableNow file-source twin: each step drains one new file
      val step = (b: Seq[Event]) => () => {
        events(b.toDF()).write.mode("append").parquet(s"$d/src")
        val src = spark.readStream.schema(spark.read.parquet(s"$d/src").schema)
          .parquet(s"$d/src")
        EventStream.archiveToParquet(src, s"$d/out", s"$d/ckpt").awaitTermination()
      }
      Soak(hours.map(step), () => ())
    })

  twins.foreach { case (name, soak) =>
    test(s"soak: $name strands no checkpoint block after any micro-batch") {
      val dir = Files.createTempDirectory("graft_soak").toString
      val run = soak(dir)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      try run.steps.zipWithIndex.foreach { case (step, i) =>
        step()
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(leaked.isEmpty, s"after micro-batch ${i + 1}: stranded checkpoint RDDs $leaked")
      } finally run.stop()
    }
  }
}
