package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SchemaDriftMonitorSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_drift").toString

  private def batchFold(js: Seq[String]) =
    js.toDF("j")
      .select(graft.functions.JsonOps.keyValues(col("j")).as(Seq("key", "v")))
      .select(col("key"), graft.functions.JsonOps.typeClass(col("v")).as("ty"))
      .groupBy("key", "ty").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet

  private val clean = (1 to 40).map(i => s"""{"k": $i, "tag": "t$i"}""")
  private val drifted = (1 to 10).map(i => s"""{"k": "s$i", "flag": true}""")

  /** one monitored lineage: append each chunk to the same source dir and
    * resume the same checkpoint, so batch ids advance 0, 1, 2, … (a fresh
    * checkpoint would restart at 0 and the replay guard would skip —
    * the monitor's one-store-per-lineage contract) */
  private def drive(root: String, chunks: Seq[Seq[String]],
                    onDrift: Seq[String] => Unit = _ => ()): Unit = {
    val src = root + "/src"
    chunks.foreach { b =>
      b.toDF("j").write.mode("append").parquet(src)
      val st = spark.readStream.schema("j string").parquet(src)
      val sq = EventStream.startSchemaDriftMonitor(st, "j", root + "/store",
        root + "/ckpt", onDrift)
      sq.processAllAvailable(); sq.stop()
    }
  }

  private def store(root: String) =
    spark.read.parquet(root + "/store").select("key", "ty", "n")
      .as[(String, String, Long)].collect().toSet

  test("store equals the batch fold over the prefix, for any batching") {
    val all = clean ++ drifted
    val r1 = tmp(); drive(r1, Seq(all))
    val r2 = tmp(); drive(r2, Seq(clean.take(15), clean.drop(15), drifted))
    val expected = batchFold(all)
    assert(store(r1) == expected)
    assert(store(r2) == expected)
  }

  test("drift alert fires exactly when a key's type set grows past one") {
    val root = tmp()
    var alerts = Vector.empty[Seq[String]]
    drive(root, Seq(clean), ks => alerts :+= ks)
    assert(alerts.last.isEmpty, "clean feed must not alert")
    drive(root, Seq(drifted), ks => alerts :+= ks)
    // "k" arrived int then string; "flag"/"tag" stay single-typed
    assert(alerts.last == Seq("k"), s"got ${alerts.last}")
  }

  test("a first batch whose JSON yields no key does not wedge the monitor") {
    // the all-"{}" batch merges to a zero-row store; the next batch must
    // read that as "no batch merged", not as a NULL batch id
    val root = tmp()
    var alerts = Vector.empty[Seq[String]]
    drive(root, Seq(Seq.fill(5)("{}"), clean ++ drifted), ks => alerts :+= ks)
    assert(store(root) == batchFold(clean ++ drifted))
    assert(alerts == Vector(Seq.empty, Seq("k")), s"got $alerts")
  }

  test("replayed batch id refuses the merge but re-delivers the alert") {
    val root = tmp()
    var alerts = Vector.empty[Seq[String]]
    drive(root, Seq(clean ++ drifted), ks => alerts :+= ks)
    val before = store(root)
    // a FRESH checkpoint restarts batch ids at 0: the same batch id
    // against the same store is the crash-replay shape — must skip the
    // merge (no double counts) but still deliver the alert
    val st = spark.readStream.schema("j string").parquet(root + "/src")
    val sq = EventStream.startSchemaDriftMonitor(st, "j", root + "/store",
      root + "/ckpt_fresh", ks => alerts :+= ks)
    sq.processAllAvailable(); sq.stop()
    assert(store(root) == before, "replay must not double-count")
    assert(alerts.last == Seq("k"))
  }
}
