package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.{Metrics, Sinks, Tables}
import graft.operators.HashDedup
import graft.plans.{ArchivePipeline, SourceConfig}
import graft.sources.{HadoopFsStore, HttpFetcher}

import scala.util.matching.Regex

/** End-to-end demonstration of the whole engine on one local run:
  * manifest → watermark → distributed fetch → dedup → current-pointer
  * promotion, then the archived catalog read back through the DSv2
  * `graft-catalog` source with prefix pushdown, a relational dedup check
  * over it, and a date-partitioned analytical sink of the events table.
  * Prints a short report; exits nonzero if any stage misbehaves.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft_demo_store").toString
    val store = new HadoopFsStore(root)

    // --- 1. Incremental archive ingestion (reference E3 semantics) over
    // LIVE HTTP: an embedded localhost server plays the routeviews feed,
    // fetched by the production java.net.http fetcher (Basic Auth +
    // per-attempt timeout), so the demo exercises the real ingest edge.
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/rv/", ex => {
      val p = ex.getRequestURI.getPath
      val body: Array[Byte] =
        if (p.endsWith("pfx2as-creation.log"))
          ("""# demo manifest
             |3363	1497717708	2017/06/routeviews-rv2-20170616-1200.pfx2as.gz
             |3364	1497803191	2017/06/routeviews-rv2-20170617-1200.pfx2as.gz
             |3365	1497889599	2017/06/routeviews-rv2-20170618-1200.pfx2as.gz""".stripMargin + "\n")
            .getBytes("UTF-8")
        else {
          // deterministic payloads; 17th repeats the 16th's bytes
          val day = """rv2-(\d{8})-""".r.findFirstMatchIn(p).get.group(1)
          (if (day == "20170617") "payload-20170616" else s"payload-$day").getBytes("UTF-8")
        }
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    val feedBase = s"http://127.0.0.1:${server.getAddress.getPort}/rv"
    val fetcher = HttpFetcher(attemptTimeout = java.time.Duration.ofSeconds(30))
    val manifest = fetcher.fetchString(s"$feedBase/pfx2as-creation.log")
    val cfg = SourceConfig(
      dataset = "RouteViewIPv4",
      pathPrefix = "RouteViewIPv4/",
      currentName = "RouteViewIPv4/current/routeviews.pfx2as.gz",
      urlRegex = Some(new Regex(""".*(\d{4}/\d{2}/)(.*)""")),
      dedupScopeRegex = new Regex("""(.*/).*"""), // month scope
      retryInitialMs = 1, retryMaxMs = 10)
    val report = ArchivePipeline.run(spark, manifest,
      s"$feedBase/pfx2as-creation.log", cfg, store, 0L, fetcher,
      new Metrics(spark))
    server.stop(0)
    println(s"[demo] ingest: kept=${report.kept.size} dups=${report.duplicates.size} " +
      s"watermark=${report.newWatermark} current=${report.currentPromoted.headOption.getOrElse("-")}")
    assert(report.kept.size == 2 && report.duplicates.size == 1,
      s"unexpected ingest report: $report")
    assert(report.newWatermark == 3365L)

    // --- 2. The catalog as a DSv2 relation with prefix pushdown
    val cat = spark.read.format("graft-catalog").option("root", root).load()
      .filter(col("name").startsWith("RouteViewIPv4/2017/06/"))
    val catRows = cat.count()
    val uniques = HashDedup.uniques(cat, col("md5"), Nil).count()
    println(s"[demo] catalog scan (pushed prefix): $catRows objects, $uniques unique hashes")
    assert(catRows == 2 && uniques == 2)

    // --- 3. Analytical archive: date-partitioned events + pruned read
    val outDir = Files.createTempDirectory("graft_demo_archive").toString
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    Sinks.writeDatePartitioned(events, col("ts"), outDir)
    val pruned = Sinks.readDatePartitioned(spark, outDir)
      .filter(col("year") === 2024 && col("month") === 1 && col("day") === 1)
    val prunedCount = pruned.count()
    println(s"[demo] partitioned archive: day-1 partition holds $prunedCount events")
    assert(prunedCount > 0, "partition-pruned read returned no rows")

    // --- 4. A declared query over the fixtures (flagship entry)
    val flagship = SparkEntry.entry(spark)
    val flagshipRows = flagship.count()
    println(s"[demo] flagship q10 rows: $flagshipRows")
    assert(flagshipRows > 0, "flagship query returned no rows")
    println("[demo] OK")
    spark.stop()
  }
}
