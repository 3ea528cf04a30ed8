package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** What a workload gives [[Main]]: a set-up, a timed phase, and its
  * outcome counts. */
trait Workload {
  /** Build everything the timed phase needs (session, seeded inputs,
    * warm-up). */
  def setUp(): Unit
  /** Release what [[setUp]] built. */
  def tearDown(): Unit
  /** Run operations back to back until `deadline` (System.nanoTime). */
  def measure(deadline: Long): Unit
  /** Wall time of each measured operation, seconds. */
  def opWalls: Seq[Double]
  def tally: Tally
  def mismatches: collection.Seq[String]
  def layers: LayerTotals
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    java.lang.Double.toString(v)
  }

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")
}

/** Runs one workload in this JVM and writes `result.json` (and, traced,
  * `spans.jsonl`) into the work directory for run.py.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <commit>
  */
object Main {
  val Workloads = Seq("archive_daily", "query_mix")

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(' ').take(3).mkString("[", ",", "]")
    catch { case scala.util.control.NonFatal(_) => "[]" }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: perfbench.Main <workload> <seed> <seconds> <trace> <workDir> <dataDir> <commit>")
    val Array(name, seedS, secondsS, traceS, workS, dataDir, commit) = args
    require(Workloads.contains(name), s"unknown workload $name; one of ${Workloads.mkString(", ")}")
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val work = Paths.get(workS).toAbsolutePath
    Trace.enabled = traceS == "1"
    val loadBefore = loadavg()
    val nproc = Runtime.getRuntime.availableProcessors
    val w: Workload = name match {
      case "archive_daily" => new ArchiveWorkload(seed, work, nproc)
      case "query_mix" => new QueryWorkload(dataDir, work, nproc)
    }

    // set-up counts from JVM start to the first timed operation
    val jvmStartNanos = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    w.setUp()
    val setupS = (System.nanoTime() - jvmStartNanos) / 1e9
    val t0 = System.nanoTime()
    w.measure(t0 + seconds * 1000000000L)
    val measuredS = (System.nanoTime() - t0) / 1e9
    val rss = peakRssMb()
    if (name == "query_mix") w.asInstanceOf[QueryWorkload].writeOracle(work.resolve("oracle_sql.json"))
    val sparkVersion = org.apache.spark.SPARK_VERSION
    w.tearDown()
    val loadAfter = loadavg()

    val walls = w.opWalls
    val p50 = Stats.median(walls)
    val tail = Stats.tail(walls)
    val tailValue = tail.map(_.value).getOrElse(walls.max)
    val tailName = tail.map(t => s"p${t.percentile}").getOrElse("max")
    // the human-readable report names each metric as the workload knows it
    val (endToEnd, report) = w match {
      case a: ArchiveWorkload =>
        (Seq(("items_per_s", a.filesPerSecond, "1/s")),
          Seq(("iteration_p50_s", p50, "s"), ("iteration_tail_s", tailValue, "s"),
            ("files_per_s", a.filesPerSecond, "1/s"),
            ("store_bytes_per_unique_byte", a.storeBytesPerUniqueByte, "ratio")))
      case q: QueryWorkload =>
        (Seq(("items_per_s", QueryWorkload.Mix.size / q.suiteSeconds, "1/s")),
          Seq(("query_p50_s", p50, "s"), ("query_tail_s", tailValue, "s"),
            ("suite_s", q.suiteSeconds, "s")) ++
            q.medians.map { case (n, v) => (s"median.$n", v, "s") })
    }
    val metrics =
      if (Trace.enabled) w.layers.metrics(Trace.spanCount)
      else Seq(("setup_s", setupS, "s"), ("op_p50_s", p50, "s"), ("op_tail_s", tailValue, "s")) ++
        endToEnd :+ (("peak_rss_mb", rss, "MB"))
    val fullReport = Seq(("setup_s", setupS, "s")) ++ report ++ Seq(
      ("failed_ratio", w.tally.ratio, "ratio"), ("peak_rss_mb", rss, "MB"),
      ("samples", walls.size.toDouble, "count"), ("measured_s", measuredS, "s"))

    val env = Seq(
      "nproc" -> nproc.toString, "spark_master" -> s"\"local[$nproc]\"",
      "origin_threads" -> (if (name.startsWith("archive")) nproc else 0).toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> Json.str(sparkVersion), "commit" -> Json.str(commit),
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
      "tail" -> Json.str(s"$tailName of n=${walls.size}"),
      "op_walls_s" -> walls.map(Json.num).mkString("[", ",", "]"))
    val json = "{" + Seq(
      "\"correct\":" + w.mismatches.isEmpty,
      "\"attempted\":" + w.tally.attempted,
      "\"failed\":" + w.tally.failed,
      "\"metrics\":" + Json.metrics(metrics),
      "\"report\":" + Json.metrics(fullReport),
      "\"env\":" + env.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}"),
      "\"mismatches\":" + w.mismatches.take(50).map(Json.str).mkString("[", ",", "]")
    ).mkString(",") + "}"
    Files.writeString(work.resolve("result.json"), json)
    if (Trace.enabled) Trace.writeSpans(work.resolve("spans.jsonl"))
    // HttpClient and Spark leave non-daemon threads behind
    System.exit(0)
  }
}
