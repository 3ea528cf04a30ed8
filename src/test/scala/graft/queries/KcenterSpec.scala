package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q289's greedy k-center selection, proven against an independent JVM
  * replay plus the structural properties the Gonzalez construction
  * guarantees: the farthest-distance sequence at pick time is
  * non-increasing, and the final coverage radius never exceeds the
  * last pick's distance (each later center can only shrink coverage).
  */
class KcenterSpec extends SparkSpec {

  private def d2(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  test("greedy picks equal a JVM farthest-point replay; coverage radius is bounded by pick distances") {
    val pts = graft.core.Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, e -> CAST(round(e * 1000) AS BIGINT))"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1)

    // independent replay of the declared semantics
    var chosen = Vector(pts.head)
    var pickDists = Vector.empty[Long]
    for (_ <- 2 to 8) {
      val far = pts
        .map(p => (p, chosen.map(c => d2(p._2, c._2)).min))
        .maxBy { case ((vid, _), dm) => (dm, -vid) }
      chosen :+= far._1
      pickDists :+= far._2
    }
    // Gonzalez property: pick-time farthest distances never increase
    assert(pickDists.zip(pickDists.tail).forall { case (a, b) => a >= b },
      s"pick distances increased: $pickDists")

    val rows = PipelineQueries.q289(spark, sf0001).collect()
    assert(rows.map(_.getLong(1)).toSeq == chosen.map(_._1),
      "engine picks diverge from the JVM replay")
    // coverage radius after all k centers <= the last pick's distance
    val radius = rows.map(_.getLong(3)).max
    assert(radius <= pickDists.last,
      s"coverage radius $radius exceeds last pick distance ${pickDists.last}")
    // every point is assigned exactly once
    assert(rows.map(_.getLong(2)).sum == pts.length)
  }

  test("a ragged embedding or a null element makes q289 throw instead of truncating") {
    import spark.implicits._
    val fixed = (1L to 12L).map(i => (i, Seq.tabulate(4)(j => Option((i * j % 5).toFloat)), 0))
    for ((what, bad) <- Seq(
        "a ragged embedding" -> ((13L, Seq(Option(1f), Option(2f)), 0)),
        "a null element" -> ((13L, Seq(Option(1f), None, Option(2f), Option(3f)), 0)))) {
      val dir = java.nio.file.Files.createTempDirectory("graft_kcenter").toString
      (fixed :+ bad).toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
      val e = intercept[IllegalArgumentException](PipelineQueries.q289(spark, dir).collect())
      assert(e.getMessage.contains("fixed-dimension"), what)
    }
  }
}
