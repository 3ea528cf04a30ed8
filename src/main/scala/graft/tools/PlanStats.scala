package graft.tools

/** One-off plan-statistics dump used to seed and refresh the
  * PlanAuditSpec ratchets: per query, the parquet-scan count and the
  * shuffle-Exchange count (broadcast exchanges listed separately —
  * they ship model-sized relations and are not the scale hazard the
  * ratchet guards). Run: `sbt "runMain graft.tools.PlanStats [prefix,...]"`.
  * [[scans]] and [[shuffles]] are the ratchet's one definition of what
  * it counts; PlanAuditSpec calls them too.
  */
object PlanStats {
  /** Parquet scans in an executed plan's string form. */
  def scans(plan: String): Int =
    plan.linesIterator.count(_.contains("Scan parquet"))

  /** Non-broadcast (shuffle) Exchanges in an executed plan's string form. */
  def shuffles(plan: String): Int =
    plan.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("BroadcastExchange"))

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val only = args.headOption.map(_.split(',').toSeq)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          val bcasts = plan.linesIterator.count(_.contains("BroadcastExchange"))
          println(f"$name%-28s scans=${scans(plan)} shuffles=${shuffles(plan)} broadcasts=$bcasts")
        } catch { case e: Throwable => println(s"$name ERR ${e.getMessage.take(80)}") }
        graft.core.Pins.release()
      }
    spark.stop()
  }
}
