package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated name prefixes — dump (and list in
    // oracle_sql.json) only matching queries, for fast local iteration.
    // The driver's 2-arg invocation dumps everything, unchanged.
    val only: String => Boolean = args.drop(2).headOption match {
      case Some(pfx) =>
        val ps = pfx.split(',').toSeq; name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failed query must be LOUDLY broken: in round 5 six queries threw
    // at analysis and simply vanished from the round artifact (no dump,
    // no error row) because this loop printed to stderr and moved on —
    // the reference's own discipline is drop-with-metric, never
    // drop-silently (download/routeviews.go:101-106). Collect every
    // failure and publish it as `_errors.json` next to the dumps so a
    // broken query surfaces as a visible error entry downstream.
    val errors = SparkEntry.queries.filter(e => only(e._1)).toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
        } finally {
          // free this query's localCheckpoint pins — the dump is the
          // last consumer, and 100 queries of stranded pin blocks add up
          graft.core.Pins.release()
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => only(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // always written, even when empty — an absent _errors.json is then
    // itself a signal that Verify didn't complete
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.map(_._1).mkString(", "))
    spark.stop()
  }
}
