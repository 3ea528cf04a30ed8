package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.{Pins, Sessions}

/** The query surface, one closed-loop client: a fixed, named mix run
  * pass-major (every query once per pass), so one burst of load cannot
  * inflate every repetition of neighbouring queries. Each execution is the
  * `SparkEntry` builder call plus `Bench.action`. The set-up warm-up pass
  * writes each query's result as parquet; run.py compares it with the
  * query's oracle SQL in DuckDB outside the timed passes. */
final class QueryWorkload(dataDir: String, work: Path, nproc: Int) extends Workload {
  private val outDir = work.resolve("results")
  private var spark: SparkSession = _
  private var probe: Option[SparkProbe] = None
  private val queries = graft.SparkEntry.queries
  private val samples = QueryWorkload.Mix.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
  private var opId = 0L
  val tally = new Tally
  val mismatches = mutable.ArrayBuffer.empty[String]
  val layers = new LayerTotals

  def setUp(): Unit = {
    spark = Sessions.local(nproc)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(outDir)
    QueryWorkload.Mix.foreach { name =>
      val ok = try {
        queries(name)(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(outDir.resolve(name).toString)
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          mismatches += s"$name failed in warm-up: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      } finally Pins.release()
      tally.add(1, if (ok) 0 else 1)
    }
    probe = if (Trace.enabled) Some(new SparkProbe(spark).install()) else None
  }

  def tearDown(): Unit = {
    probe.foreach(_.uninstall())
    spark.stop()
  }

  private def execute(name: String): Unit = {
    opId += 1
    val root = Trace.nextId()
    Trace.beginOp(opId, root)
    Trace.take(); probe.foreach { p => p.drain(); p.take() }
    val t0 = System.nanoTime()
    val ok = tally.record {
      try {
        val df = Trace.span("queries.construct")(queries(name)(spark, dataDir))
        Trace.span("queries.execute")(graft.Bench.action(df))
        true
      } finally Pins.release()
    }
    val t1 = System.nanoTime()
    Trace.record(Trace.Span(root, "queries.op", t0, t1, 0L, opId, 0L, !ok))
    if (ok) samples(name) += (t1 - t0) / 1e9
    else mismatches += s"$name failed in pass"
    probe.foreach { p =>
      p.drain()
      layers.addOp(t0, t1, Trace.take(), p.take(), Nil)
    }
  }

  /** Whole passes only, so every run times the same mix: one pass, then
    * another while the time left still fits one more like the last. */
  def measure(deadline: Long): Unit = {
    var last = 0L
    do {
      val t0 = System.nanoTime()
      QueryWorkload.Mix.foreach(execute)
      last = System.nanoTime() - t0
    } while (deadline - System.nanoTime() >= last)
  }

  def opWalls: Seq[Double] = samples.values.flatten.toSeq
  /** Sum over the mix of each query's median time. */
  def suiteSeconds: Double = samples.values.filter(_.nonEmpty).map(s => Stats.median(s.toSeq)).sum
  def medians: Seq[(String, Double)] =
    QueryWorkload.Mix.filter(samples(_).nonEmpty).map(n => n -> Stats.median(samples(n).toSeq))

  /** The mix's oracle SQL, for run.py's DuckDB comparison. */
  def writeOracle(path: Path): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(path, QueryWorkload.Mix.map(n => Json.str(n) + ":" + Json.str(sql(n)))
      .mkString("{", ",", "}"))
  }
}

object QueryWorkload {
  /** All 18 reference-surface queries: each is short, so driver-side
    * planning and job dispatch dominate its time. */
  val Core: Seq[String] = graft.queries.CoreQueries.entries.map(_._1)

  /** One heavier query per operator family the roadmap targets next. */
  val Heavy: Seq[(String, String)] = Seq(
    "q289_kcenter_coreset" -> "native array kernel (ArraySqDistLong)",
    "q245_negative_sampling" -> "collect_set ObjectHashAggregate",
    "q206_readability" -> "higher-order-function text kernels",
    "q130_countmin_heavy" -> "ENTITY-tier single-partition window",
    "q127_lsh_recall" -> "MinHash LSH banding join",
    "q142_stationary_markov" -> "driver-tier fork gated by take(limit+1)",
    "q125_neardup_degree" -> "parquet footer counts instead of a scan")

  val Mix: Seq[String] = Core ++ Heavy.map(_._1)
}
