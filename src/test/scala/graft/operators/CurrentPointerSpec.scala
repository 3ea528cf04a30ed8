package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.util.Random

/** Latest-per-group "current pointer" (/root/reference/download/
  * common.go:115-122, UpdateCurrent.sh): both formulations (max_by agg
  * and row_number window) must agree and pick the lexicographic max of
  * the order key.
  */
class CurrentPointerSpec extends SparkSpec {
  import spark.implicits._

  test("latest picks max (ts, id) per group; formulations agree") {
    for (seed <- 1 to 10) {
      val rnd = new Random(seed)
      val rows = (0 until rnd.nextInt(50) + 1).map { i =>
        (("d" + rnd.nextInt(4)), rnd.nextInt(10).toLong, i.toLong)
      }
      val d = rows.toDF("ds", "ts", "id")
      val viaAgg = CurrentPointer.latest(d, Seq(col("ds")),
          Seq(col("ts"), col("id")), struct(col("ts"), col("id")))
        .select(col("ds"), col("latest.ts"), col("latest.id"))
        .as[(String, Long, Long)].collect().toSet
      val viaWin = CurrentPointer.latestWindow(d, Seq(col("ds")),
          Seq(col("ts"), col("id")))
        .select("ds", "ts", "id").as[(String, Long, Long)].collect().toSet
      val naive = rows.groupBy(_._1).map { case (ds, rs) =>
        val (_, ts, id) = rs.maxBy(r => (r._2, r._3)); (ds, ts, id)
      }.toSet
      assert(viaAgg == naive, s"agg seed=$seed")
      assert(viaWin == naive, s"window seed=$seed")
    }
  }

  test("repair re-derives a stale current pointer from the listing (UpdateCurrent.sh semantics)") {
    import java.nio.charset.StandardCharsets.UTF_8
    val root = java.nio.file.Files.createTempDirectory("graft_repair").toString
    val store = new graft.sources.HadoopFsStore(root)
    val current = "rv/current/routeview.pfx2as.gz"
    // a crash left `current` pointing at January's content
    store.write("rv/2024/01/20240115-routeview.pfx2as.gz", "jan".getBytes(UTF_8))
    store.write("rv/2024/02/20240210-routeview.pfx2as.gz", "feb".getBytes(UTF_8))
    store.write("rv/2024/02/20240210-other.dat", "noise".getBytes(UTF_8))
    store.write(current, "jan".getBytes(UTF_8))
    val promoted = CurrentPointer.repair(store, "rv/", "routeview.pfx2as.gz", current)
    assert(promoted.contains("rv/2024/02/20240210-routeview.pfx2as.gz"),
      s"must pick the lexicographic tail, got $promoted")
    assert(new String(store.read(current), UTF_8) == "feb")
    // idempotent: a second repair promotes the same key to the same bytes
    assert(CurrentPointer.repair(store, "rv/", "routeview.pfx2as.gz", current)
      == promoted)
    assert(new String(store.read(current), UTF_8) == "feb")
    // the pointer itself is never a candidate (current/ names excluded):
    // even though `current` ends with the suffix, an archive-free store
    // leaves the pointer untouched instead of self-promoting or deleting
    val root2 = java.nio.file.Files.createTempDirectory("graft_repair2").toString
    val store2 = new graft.sources.HadoopFsStore(root2)
    store2.write(current, "only-copy".getBytes(UTF_8))
    assert(CurrentPointer.repair(store2, "rv/", "routeview.pfx2as.gz", current).isEmpty)
    assert(new String(store2.read(current), UTF_8) == "only-copy")
  }
}
