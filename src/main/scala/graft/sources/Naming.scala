package graft.sources

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import scala.util.matching.Regex

/** Archive-key derivation (operator O10 of SURVEY §2.1), all in UTC —
  * the reference mixes local-time directory dates with UTC file prefixes
  * (/root/reference/downloader.go:64 vs download/maxmind.go:38-41); we
  * normalize to UTC everywhere.
  */
object Naming {
  private val dirFmt = DateTimeFormatter.ofPattern("yyyy/MM/dd/").withZone(ZoneOffset.UTC)
  private val stampFmt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z-'").withZone(ZoneOffset.UTC)

  /** `YYYY/MM/DD/` date partition directory (downloader.go:64, UTC-fixed). */
  def datePrefix(now: Instant): String = dirFmt.format(now)

  /** `yyyyMMddTHHmmssZ-` timestamp file prefix (maxmind.go:38-41). */
  def timestampPrefix(now: Instant): String = stampFmt.format(now)

  /** Fixed-name branch: `pathPrefix + filePrefix + fixedFilename`
    * (common.go:96-97). */
  def fixedName(pathPrefix: String, filePrefix: String, fixed: String): String =
    pathPrefix + filePrefix + fixed

  /** Regex branch: groups 1 and 2 of `urlRegex` sandwich the prefix:
    * `pathPrefix + g1 + filePrefix + g2` (common.go:99-100; routeviews
    * uses `.*(\d{4}/\d{2}/)(.*)` so g1 is the YYYY/MM/ dir lifted from
    * the source URL, routeviews.go:18).
    */
  def regexName(pathPrefix: String, filePrefix: String, urlRegex: Regex,
                url: String): Option[String] =
    urlRegex.findFirstMatchIn(url).map(m =>
      pathPrefix + m.group(1) + filePrefix + m.group(2))

  /** Dedup scope of an archive key: group 1 of the first match of
    * `scopeRegex`, with Spark `regexp_extract` semantics — `""` when
    * nothing matches or group 1 does not take part in the match (an
    * optional group such as `(x/)?.*`), never `null`. */
  def scopeOf(scopeRegex: Regex, name: String): String =
    scopeRegex.findFirstMatchIn(name).flatMap(m => Option(m.group(1))).getOrElse("")
}
