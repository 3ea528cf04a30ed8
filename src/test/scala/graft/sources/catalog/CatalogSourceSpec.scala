package graft.sources.catalog

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.HadoopFsStore
import org.apache.spark.sql.functions._

class CatalogSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): (String, HadoopFsStore) = {
    val dir = Files.createTempDirectory("graft_cat").toString
    val store = new HadoopFsStore(dir)
    store.write("Maxmind/2017/06/a.tgz", "aaa".getBytes)
    store.write("Maxmind/2017/07/b.tgz", "bbb".getBytes)
    store.write("RouteViewIPv4/2017/06/c.gz", "ccc".getBytes)
    (dir, store)
  }

  test("reads the catalog relation by short name") {
    val (dir, store) = freshStore()
    val df = spark.read.format("graft-catalog").option("root", dir).load()
    assert(df.columns.toSeq == Seq("name", "md5", "size"))
    assert(df.count() == 3)
    val got = df.orderBy("name").as[(String, String, Long)].collect()
    assert(got.map(_._1).toSeq == Seq(
      "Maxmind/2017/06/a.tgz", "Maxmind/2017/07/b.tgz", "RouteViewIPv4/2017/06/c.gz"))
    assert(got.forall(_._2.matches("[0-9a-f]{32}")))
    assert(got.forall(_._3 == 3L))
  }

  test("startsWith predicate is pushed to the store listing") {
    val (dir, _) = freshStore()
    val df = spark.read.format("graft-catalog").option("root", dir).load()
      .filter(col("name").startsWith("Maxmind/2017/06/"))
    val plan = df.queryExecution.executedPlan.toString
    // the scan itself carries the prefix and the Filter node disappears:
    // the predicate was fully consumed by the source
    assert(plan.contains("prefix='Maxmind/2017/06/'"), s"pushdown missing in:\n$plan")
    assert(!plan.contains("Filter "), s"residual filter survived:\n$plan")
    assert(df.count() == 1)
    assert(df.select("name").as[String].head() == "Maxmind/2017/06/a.tgz")
  }

  test("conflicting pushed prefixes produce an empty result, not wrong rows") {
    val (dir, _) = freshStore()
    val df = spark.read.format("graft-catalog").option("root", dir).load()
      .filter(col("name").startsWith("Maxmind/") && col("name").startsWith("RouteViewIPv4/"))
    assert(df.count() == 0)
    // nesting prefixes still narrow to the longest
    val nested = spark.read.format("graft-catalog").option("root", dir).load()
      .filter(col("name").startsWith("Maxmind/") && col("name").startsWith("Maxmind/2017/06/"))
    assert(nested.count() == 1)
  }

  test("dedup anti-join runs against the catalog relation") {
    val (dir, store) = freshStore()
    store.write("Maxmind/2017/06/dup.tgz", "aaa".getBytes) // same content as a.tgz
    val cat = spark.read.format("graft-catalog").option("root", dir).load()
      .filter(col("name").startsWith("Maxmind/2017/06/"))
    val uniques = graft.operators.HashDedup.uniques(cat, col("md5"), Nil)
    assert(uniques.count() == 0) // both copies share the hash → neither unique
  }
}
