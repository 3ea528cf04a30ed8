package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A parsed manifest row: `seqnum` is the monotone sequence number used as
  * the incremental watermark, `tsEpoch` the 10-digit epoch-seconds stamp,
  * `path` the relative file path.
  */
case class ManifestEntry(seqnum: Int, tsEpoch: Long, path: String)

/** Manifest scan → regex projection → safe cast (operators O3–O5, O8 of
  * SURVEY §2.1).
  *
  * Models the reference's CAIDA `pfx2as-creation.log` parser
  * (`/root/reference/download/routeviews.go:73-113`): a whitespace-
  * delimited text feed where comment lines (`#`) are dropped implicitly
  * because they do not match the row regex, and rows whose seqnum fails
  * integer parsing are dropped (counted, not fatal —
  * `routeviews.go:101-106`). ANSI mode stays off so `cast` yields NULL on
  * bad input (the drop-with-metric semantics), surfaced via
  * `observe`-style counters rather than job failure.
  *
  * The regex is applied per line with `regexp_extract`, which stays inside
  * whole-stage codegen — no UDFs, so the parse scales linearly with input
  * splits on a cluster.
  */
object ManifestParser {
  /** Reference row regex (`/root/reference/download/routeviews.go:77`). */
  val RowRegex = """(\d{1,6})\s*(\d{10})\s*(.*)"""

  /** Regex projection + safe cast; malformed rows surface as NULLs. */
  private def projected(lines: DataFrame): DataFrame =
    lines
      .select(
        regexp_extract(col("value"), RowRegex, 1).as("seq_str"),
        regexp_extract(col("value"), RowRegex, 2).as("ts_str"),
        regexp_extract(col("value"), RowRegex, 3).as("path"))
      // Non-matching lines (comments, blanks) extract to '' → try_cast
      // NULL → dropped: the reference's drop-with-metric semantics
      // (routeviews.go:101-106), kept even under ANSI mode.
      .select(
        expr("try_cast(seq_str AS INT)").as("seqnum"),
        expr("try_cast(ts_str AS BIGINT)").as("tsEpoch"),
        col("path"))

  /** Parse manifest lines (one row per line in `value`) into typed entries. */
  def parse(lines: DataFrame): Dataset[ManifestEntry] = {
    val spark = lines.sparkSession
    import spark.implicits._
    projected(lines)
      .filter(col("seqnum").isNotNull && col("tsEpoch").isNotNull)
      .as[ManifestEntry]
  }

  /** [[parse]] with an `observe()` side-channel counting total and
    * malformed lines — the Spark-native form of the reference's
    * metric-on-parse-failure (`routeviews.go:101-106`,
    * `metrics.go:29-52`): counts ride the job, no second pass, and
    * surface through the `Observation` handle / QueryExecutionListener.
    */
  def parseObserved(lines: DataFrame,
                    observation: org.apache.spark.sql.Observation): Dataset[ManifestEntry] = {
    val spark = lines.sparkSession
    import spark.implicits._
    projected(lines)
      .observe(observation,
        count(lit(1)).as("lines_total"),
        count(when(col("seqnum").isNull || col("tsEpoch").isNull, 1)).as("lines_dropped"))
      .filter(col("seqnum").isNotNull && col("tsEpoch").isNotNull)
      .as[ManifestEntry]
  }

  /** Absolute URL for a manifest path: directory of the manifest URL +
    * relative path (`/root/reference/download/routeviews.go:109`). */
  def absoluteUrl(manifestUrl: String, path: String): String =
    manifestUrl.substring(0, manifestUrl.lastIndexOf('/') + 1) + path

  /** Driver-side pure parse with the same drop semantics as [[parse]],
    * for a manifest body the driver already holds: the archive
    * pipeline's manifest scan. Like `regexp_extract`, it takes the first
    * regex match per line; comments and blanks don't match and drop. */
  def parseLines(body: String): Seq[ManifestEntry] = {
    val re = RowRegex.r
    body.split("\n", -1).toSeq.flatMap { line =>
      re.findFirstMatchIn(line).map { m =>
        ManifestEntry(m.group(1).toInt, m.group(2).toLong, m.group(3))
      }
    }
  }
}
