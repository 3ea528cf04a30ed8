package graft
import org.apache.spark.sql.DataFrame

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{name:sec,...}}.
  *
  * One warmup pass executes every query before timing so JIT/codegen
  * compilation and the parquet footer cache don't bill to whichever query
  * happens to run first; the timed pass then reflects steady-state
  * per-query cost.
  */
object Bench {

  /** The bench ACTION: evaluate EVERY output column and the final sort.
    *
    * `.count()` was the round-1..6 action, and it under-measures
    * scan-local projection queries: under a count, Catalyst prunes every
    * unreferenced projection column (q91's eight JL dot products never
    * ran) and `EliminateSorts` drops the output ordering — while the
    * DuckDB side `fetchall()`s the full materialized result. A write to
    * the built-in `noop` sink fixes both asymmetries: the write consumes
    * all columns (so nothing prunes), keeps the top-level Sort (write
    * output order is observable), and discards rows executor-side — no
    * driver `collect()` serialization billing Spark for work DuckDB's
    * embedded fetch doesn't pay either. BenchActionSpec pins both
    * properties on the executed plan of the formerly-pruned queries. */
  def action(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // optional arg: comma-separated name prefixes for fast iteration
    // (same contract as Verify); the driver's full run passes no args.
    // The engine-native sketch fast paths (EngineNative.fastPaths,
    // `native_` prefix) are OUTSIDE the declared surface and excluded
    // from the no-args run (they have no oracle row and would skew the
    // headline total); target them explicitly with a `native_` prefix.
    val only = args.headOption.map(_.split(',').toSeq)
    val pool = SparkEntry.queries.toSeq ++ graft.queries.EngineNative.fastPaths
    val ordered = pool.sortBy(_._1).filter { case (n, _) =>
      only match {
        case Some(ps) => ps.exists(n.startsWith)
        case None     => !n.startsWith("native_")
      }
    }
    // Machine-load honesty: this bench runs on a shared machine, and a
    // loaded neighbor can spike individual queries (a round-3 verdict
    // burned judge time proving two such spikes were noise). The JSON
    // carries /proc/loadavg before/after and EVERY raw per-run time, so
    // a reader can attribute outliers to load instead of re-running.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(' ').take(3).mkString("[", ",", "]")
      catch { case scala.util.control.NonFatal(_) => "[]" }
    // read BEFORE the warmup pass: the warmup itself saturates the
    // machine, so a read after it reports the bench's own load and
    // makes every run look like a loaded-machine run
    val loadBefore = loadavg()
    // warmup: full pass, untimed; release each query's checkpoint pins
    // so 300 query executions don't stack pinned blocks in one session
    ordered.foreach { case (_, fn) =>
      try action(fn(spark, sfDir)) catch { case _: Throwable => () }
      finally graft.core.Pins.release()
    }
    // best-of-3: the min of the SUCCESSFUL runs reports the query's
    // cost, not a neighbor's (or the JVM's own GC/JIT) noise — r6
    // observed both reps of a 2-rep run inflated ~6x by transient
    // mid-run state while an adjacent run measured clean, so two
    // samples are not enough for a min to be trustworthy; a query
    // that throws reports -1, never its time-to-failure
    val raw = ordered.map { case (name, fn) =>
      val times = (1 to 3).flatMap { _ =>
        val t0 = System.nanoTime()
        try { action(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None }
        finally graft.core.Pins.release()
      }
      name -> times
    }
    val loadAfter = loadavg()
    val results = raw.map { case (name, times) =>
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    // 4-decimal (0.1 ms) formatting: sub-ms digits are noise, and the
    // driver stores a bounded TAIL of this stream — full-precision
    // doubles once pushed the line past it, truncating the r4 artifact
    // mid-JSON. %.4f is locale-independent ASCII and valid JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val best = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val runs = raw.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // failures report -1 per query; exclude the sentinel from the total
    // (it must not DEFLATE the headline) and surface the count instead
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    // median-of-3 beside best-of: co-tenant noise is then visible in the
    // artifact itself (a best far below the median flags a noisy run)
    // without a judge-side re-run over the raw arrays
    val medians = raw.map { case (k, ts) =>
      val m = if (ts.isEmpty) -1.0 else ts.sorted.apply(ts.size / 2)
      s"\"" + k + "\":" + fmt(m)
    }.mkString("{", ",", "}")
    val runsJson =
      s"""{"best":$best,"runs":$runs,"median":$medians,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"sf":"$sfDir"}"""
    val runsPath = sys.env.getOrElse("SPARK_GRAFT_RUNS_OUT", "bench_runs.json")
    val summaryPath =
      sys.env.getOrElse("SPARK_GRAFT_SUMMARY_OUT", "BENCH_SUMMARY.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(runsPath), runsJson)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $runsPath: $e") }
    // The stdout line must stay SHORT on the driver's no-args full run:
    // it stores a bounded tail of this stream, and the r8/r9 lines
    // (260+ queries × "name":sec) overran it mid-key, leaving
    // BENCH_r{N}.json with parsed:null two rounds running. The full run
    // therefore prints totals plus ONLY the 18 reference-surface
    // headline queries (the full best/median/runs tables live in
    // bench_runs.json, committed each round); a targeted prefix run
    // prints every query it ran — merge_speed.py reads them from here.
    val lineQs =
      if (only.isDefined) results
      else {
        val coreNames = graft.queries.CoreQueries.entries.map(_._1).toSet
        // r15 (round-14 verdict item 7): printing ONLY the 18 core
        // queries made the per-round PERF diff sample the cheapest,
        // most dispatch-noise-dominated fraction of the suite (five
        // phantom "regressions" in r14 were exactly that). ADD the top
        // 50 queries by measured time — where a real regression or win
        // is visible above the ~0.1–0.2 s dispatch floor — while
        // keeping the stdout line bounded: ~65 entries ≈ 2 KB stays
        // inside the driver's stdout-tail budget that the r8/r9
        // full-map lines (260+ entries) overran, truncating the
        // artifact mid-key. Additions-only: every core query still
        // prints under its old name; the full per-query map is in
        // bench_runs.json / BENCH_SUMMARY.json (committed each round).
        val topByTime = results.filter(_._2 >= 0)
          .sortBy { case (n, v) => (-v, n) }.take(50).map(_._1).toSet
        results.filter(r => coreNames.contains(r._1) || topByTime.contains(r._1))
      }
    val qsJson = lineQs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"failed":$failed,"queries":$qsJson,"runs_file":"$runsPath","summary_file":"$summaryPath","loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"sf":"$sfDir"}"""
    // Mirror the summary to a known file FIRST: even if a log line lands
    // near the stdout print, the artifact survives on disk.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(summaryPath), summary + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $summaryPath: $e") }
    // The summary must be the process's LITERAL LAST line of output: a
    // stdout-tail reader (the per-round driver) parses the final line as
    // JSON, so Spark's shutdown chatter must precede it. Silence logging,
    // stop the session (its INFO/WARN stream is now suppressed), THEN
    // print — with a leading newline so the JSON starts at column 0 even
    // if an interleaved writer left a partial line.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    System.out.println("\n" + summary)
    System.out.flush()
  }
}
