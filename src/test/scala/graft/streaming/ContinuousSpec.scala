package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The batch-id swap store every integer-addition twin merges through:
  * the replay guard, the zero-row read, crash recovery between the two
  * renames, and the release of the merged frame's checkpoint.
  */
class ContinuousSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): Path = Files.createTempDirectory("graft_continuous")

  /** Add `rows` into a (k, n) counter store by integer addition. */
  private def add(dir: String, batchId: Long, rows: (String, Long)*) =
    Continuous.mergeBatch(spark, dir, "sketch", batchId, Seq("k", "n")) { stored =>
      val bs = rows.toDF("k", "n")
      stored.fold(bs)(_.unionByName(bs)).groupBy("k").agg(sum("n").as("n"))
    }

  private def counts(dir: String) =
    spark.read.parquet(dir).select("k", "n").as[(String, Long)].collect().toMap

  private def storedId(dir: String) =
    spark.read.parquet(dir).select("batch_id").as[Long].collect().distinct.toSeq

  test("a newer batch id merges; an equal one is a replay; a lower one is stale") {
    val dir = tmp().resolve("store").toString
    assert(add(dir, 0L, "a" -> 1L) == Continuous.Merged)
    assert(add(dir, 1L, "a" -> 2L, "b" -> 5L) == Continuous.Merged)
    assert(counts(dir) == Map("a" -> 3L, "b" -> 5L))
    assert(add(dir, 1L, "a" -> 100L) == Continuous.Replayed)
    assert(add(dir, 0L, "a" -> 100L) == Continuous.Stale)
    assert(counts(dir) == Map("a" -> 3L, "b" -> 5L), "a replayed or stale batch merged")
    assert(storedId(dir) == Seq(1L))
  }

  test("a zero-row store reads as no batch merged") {
    val dir = tmp().resolve("store").toString
    // a batch that folds to nothing leaves a store with a NULL max(batch_id)
    assert(add(dir, 3L) == Continuous.Merged)
    assert(spark.read.parquet(dir).count() == 0L)
    assert(add(dir, 0L, "a" -> 1L) == Continuous.Merged)
    assert(counts(dir) == Map("a" -> 1L))
  }

  test("a crash between the two renames is restored on the next call") {
    val root = tmp()
    val dir = root.resolve("store")
    add(dir.toString, 0L, "a" -> 1L)
    // the swap moved the live store to its backup, then died
    Files.move(dir, root.resolve(".store.sketch_old"), StandardCopyOption.ATOMIC_MOVE)
    assert(add(dir.toString, 0L, "a" -> 1L) == Continuous.Replayed,
      "the stranded store read as empty, so the replay merged")
    assert(add(dir.toString, 1L, "a" -> 2L) == Continuous.Merged)
    assert(counts(dir.toString) == Map("a" -> 3L))
  }

  test("the merged frame's checkpoint is released") {
    val dir = tmp().resolve("store").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    add(dir, 0L, "a" -> 1L)
    add(dir, 1L, "b" -> 2L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"stranded checkpoint RDDs: $leaked")
  }

  test("readStore: None before the first write and for a store without the column") {
    val root = tmp()
    assert(Continuous.readStore(spark, root.resolve("absent").toString, "k").isEmpty)
    val dir = root.resolve("store").toString
    Seq(("a", 1L)).toDF("k", "n").write.parquet(dir)
    assert(Continuous.readStore(spark, dir, "k").map(_.count()).contains(1L))
    assert(Continuous.readStore(spark, dir, "nope").isEmpty)
  }
}
