package graft.plans

import graft.SparkSpec
import graft.operators.CurrentPointer
import org.apache.spark.sql.functions._

import scala.util.Random

class RewriteLatestPerGroupSpec extends SparkSpec {
  import spark.implicits._

  // the shared session installs the rule (GraftExtensions); baselines
  // plan without it
  private def withoutRule[T](f: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", RewriteLatestPerGroup.ruleName)
    try f
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def rows(seed: Int) = {
    val rnd = new Random(seed)
    (0 until 200).map(i => ("g" + rnd.nextInt(8), rnd.nextInt(50).toLong, i.toLong))
  }

  test("rn=1 window rewrites to max_by aggregation with identical results") {
    val d = rows(1).toDF("grp", "ts", "id")
    val expected = withoutRule {
      val q = CurrentPointer.latestWindow(d, Seq(col("grp")), Seq(col("ts"), col("id")))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("Window ["), s"baseline lost its window:\n$plan")
      q.select("grp", "ts", "id").as[(String, Long, Long)].collect().toSet
    }
    val o = CurrentPointer.latestWindow(d, Seq(col("grp")), Seq(col("ts"), col("id")))
    val plan = o.queryExecution.optimizedPlan.toString
    // the Window node must be gone (Spark's WindowGroupLimit prefilter
    // may remain below the aggregate — it is a compatible top-1 pushdown)
    assert(!plan.contains("Window ["), s"window survived:\n$plan")
    assert(plan.contains("max_by"), s"no max_by in:\n$plan")
    val got = o.select("grp", "ts", "id").as[(String, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("top-k (k>1) and nullable order keys are left untouched") {
    val d = rows(2).toDF("grp", "ts", "id")
    // k = 3: not a latest-per-group — must keep the window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("ts").desc, col("id").desc)
    val topk = d.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    assert(topk.queryExecution.optimizedPlan.toString.contains("Window"))
    assert(topk.count() == topk.select("grp", "rn").distinct().count())

    // nullable order key: must keep the window
    val dn = rows(3).toDF("grp", "ts", "id")
      .withColumn("ts", when(col("ts") > 5, col("ts")))
    val latestN = CurrentPointer.latestWindow(dn, Seq(col("grp")), Seq(col("ts")))
    assert(latestN.queryExecution.optimizedPlan.toString.contains("Window"))
  }

  test("graft_dot works as a SQL function") {
    // the shared session installs GraftExtensions, as Sessions.local does
    val d = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0)
    assert(d == 11.0)
  }

  test("GraftExtensions installs without error on a fresh builder") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // throws on malformed injection
  }

  test("graft_dot builder casts int arrays instead of crashing") {
    val d = spark.sql("SELECT graft_dot(array(1, 2, 3), array(1, 2, 3)) AS d")
      .collect().head.getDouble(0)
    assert(d == 14.0)
  }

  test("graft_cosine / graft_shingles / graft_edit1 work as SQL functions") {
    val cos = spark.sql("SELECT graft_cosine(array(1, 0), array(1, 0)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val sh = spark.sql("SELECT graft_shingles('a b c d', 3) AS s")
      .collect().head.getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    assert(spark.sql("SELECT graft_edit1('kitten', 'mitten') AS e")
      .collect().head.getBoolean(0))
    assert(!spark.sql("SELECT graft_edit1('kitten', 'kitten') AS e")
      .collect().head.getBoolean(0))
    // n is a construction parameter: a non-literal must fail fast
    intercept[Exception] {
      spark.sql("SELECT graft_shingles('a b c', length('xx')) AS s").collect()
    }
  }

  test("graft_sqdist_long / graft_cdc_chunks work as SQL functions") {
    val d = spark.sql("SELECT graft_sqdist_long(array(1, 5, 2), array(4, 1, 2)) AS d")
      .collect().head.getLong(0)
    assert(d == 25L) // 9 + 16 + 0, int args widened by the builder cast
    val ch = spark.sql("SELECT graft_cdc_chunks('tiny', 8) AS c")
      .collect().head.getSeq[String](0)
    assert(ch.length == 1 && ch.head.length == 32)
    intercept[Exception] { // w is a construction parameter
      spark.sql("SELECT graft_cdc_chunks('abc', length('xx')) AS c").collect()
    }
    // graft_winnow: one fingerprint for a single-window doc; 32-hex
    val fp = spark.sql("SELECT graft_winnow('abcdefgh', 5, 4) AS f")
      .collect().head.getSeq[String](0)
    assert(fp.nonEmpty && fp.forall(_.length == 32))
    intercept[Exception] {
      spark.sql("SELECT graft_winnow('abcdefgh', 5, length('xxxx')) AS f").collect()
    }
  }

  test("graft_redact_pii scrubs from SQL with the DataFrame patterns") {
    val out = spark.sql(
      "SELECT graft_redact_pii('mail a@b.io or call (555)123-4567') AS t")
      .collect().head.getString(0)
    assert(out == "mail [EMAIL] or call [PHONE]", out)
  }

}
