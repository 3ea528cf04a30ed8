package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** q106's continuous twin: per-batch novelty against the stored
  * first-appearance relation. The twin contract is REPLAY EQUALITY —
  * batches in doc_id order over an empty store must reproduce batch
  * q106 row for row — plus idempotence of a crash-replayed batch
  * (guaranteed by storing (sg, first_doc), not bare membership).
  */
class NoveltyMonitorSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_novel").toString

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select("doc_id", "n_shingles", "n_novel", "novelty")
    .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq

  test("doc_id-ordered replay over an empty store equals batch q106") {
    val docs = graft.core.Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val shDir = tmp() + "/sh"
    val streamed =
      Seq(docs.filter(col("doc_id") <= cuts(0)),
          docs.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)),
          docs.filter(col("doc_id") > cuts(1)))
        .flatMap(b => rows(CorpusIngest.noveltyBatch(b, shDir)))
        .sortBy(_._1)
    val batch = rows(graft.queries.PipelineQueries.q106(spark, sf0001))
    assert(streamed == batch,
      s"streamed novelty diverges from batch q106 (first diff: ${
        streamed.zip(batch).find(p => p._1 != p._2)})")
  }

  test("a crash-replayed batch re-emits identical rows (first_doc store, not membership)") {
    val shDir = tmp() + "/sh"
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val first = rows(CorpusIngest.noveltyBatch(b1, shDir))
    val replayed = rows(CorpusIngest.noveltyBatch(b1, shDir))
    assert(first == replayed, s"replay changed the emitted rows: $first vs $replayed")
    assert(first.forall(_._4 == 1.0), s"fresh store must report full novelty: $first")
    // the store holds each shingle exactly once per replay-free append;
    // the replay appended the same (sg, first_doc) pairs again, which
    // the left join tolerates — later batches still see one first_doc
    val b2 = Seq((9L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val later = rows(CorpusIngest.noveltyBatch(b2, shDir))
    assert(later.head._3 == 0L && later.head._4 == 0.0,
      s"doc repeating stored content must be zero-novel: $later")
    assert(later.head._2 == 4L,
      s"replay-duplicated store rows must not inflate n_shingles: $later")
  }

  test("KMV maintenance: incremental merge is bit-equal to the batch-built sketch, and replay is a no-op") {
    import org.apache.spark.sql.functions._
    val skDir = tmp() + "/sk"
    val docs = graft.core.Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val cut = ids(ids.length / 2)
    val b1 = docs.filter(col("doc_id") <= cut)
    val b2 = docs.filter(col("doc_id") > cut)
    CorpusIngest.kmvBatch(b1, skDir)
    CorpusIngest.kmvBatch(b2, skDir)
    def sketches(df: org.apache.spark.sql.DataFrame) = df
      .select("source", "hs").as[(String, Seq[String])].collect().toMap
    val incremental = sketches(spark.read.parquet(skDir))
    val batchBuilt = sketches(
      docs.select(col("source"), md5(concat(lit("kmv|"), col("text"))).as("h"))
        .distinct()
        .groupBy(col("source"))
        .agg(graft.operators.TopK.minKByString(64)(col("h"), lit(0L)).as("sk"))
        .select(col("source"), transform(col("sk"), p => p.getField("_1")).as("hs")))
    assert(incremental == batchBuilt,
      "incremental KMV merge diverged from the batch-built sketch")
    // crash-replay: merging b2 again must leave the store unchanged
    CorpusIngest.kmvBatch(b2, skDir)
    assert(sketches(spark.read.parquet(skDir)) == batchBuilt,
      "re-merging an already-merged batch changed the sketch")
    // crash INSIDE the two-rename window (backup present, live absent):
    // the next batch heals the store and converges to the same sketch
    val live = new java.io.File(skDir).toPath
    java.nio.file.Files.move(live, live.resolveSibling(".sk.sketch_old"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    CorpusIngest.kmvBatch(b2, skDir)
    assert(sketches(spark.read.parquet(skDir)) == batchBuilt,
      "heal + replay after a mid-swap crash diverged from the batch-built sketch")
  }

  test("streaming form: checkpointed monitor writes per-batch novelty to outDir") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val input = MemoryStream[(Long, String)]
    val q = CorpusIngest.startNoveltyMonitor(input.toDF().toDF("doc_id", "text"),
      s"$dir/sh", s"$dir/out", s"$dir/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData((1L, "alpha beta gamma delta epsilon zeta"))
      q.processAllAvailable()
      input.addData((2L, "alpha beta gamma delta epsilon zeta"),
        (3L, "one two three four five six"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
        .select("doc_id", "novelty").as[(Long, Double)].collect().toMap
      assert(out == Map(1L -> 1.0, 2L -> 0.0, 3L -> 1.0),
        s"streamed novelty wrong: $out")
    } finally q.stop()
  }
}
