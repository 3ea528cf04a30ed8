package graft

/** Plan inspection: prints the formatted physical plan of each declared
  * query (or the ones named in args) so scan pruning, pushed filters,
  * broadcast choices, and exchange counts can be reviewed per query.
  * The session comes from [[graft.core.Sessions.local]], so the plans
  * are the ones Verify, Bench and perfbench execute (extensions and
  * read-boundary settings included).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n===== $name =====")
      try println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
