package graft.core

import org.apache.spark.sql.DataFrame

import graft.{SparkJobCount, SparkSpec}
import graft.operators.DedupClusters
import graft.queries.{MiningQueries, PipelineQueries, StatQueries}

/** Tier equality of every [[LocalTier]] path. Each path runs at cap 0,
  * where any non-empty input takes the distributed form, and at a cap
  * above every input, where it takes the driver fold; both must return
  * the same rows, column names and column types. The inputs are sf0.01
  * and adversarial fixtures: nulls, duplicates and empty relations.
  * ArchiveVerdictSpec is the same check for the archive verdict.
  */
class LocalTierSpec extends SparkSpec {
  import spark.implicits._

  private val sf001 = "/root/testdata/sf0.01"
  private val AboveEveryInput = 1000000000

  private def underCap[T](cap: Int)(f: => T): T = {
    spark.conf.set(LocalTier.CapKey, cap.toString)
    try f
    finally { spark.conf.unset(LocalTier.CapKey); Pins.release() }
  }

  /** Column names and types, and rows, sorted when the path's output
    * has no order of its own. */
  private def result(df: DataFrame, sorted: Boolean) = {
    val rows = df.collect().toSeq
    (df.schema.map(f => (f.name, f.dataType)),
      if (sorted) rows.sortBy(_.toString) else rows)
  }

  /** Runs `run` under both tiers after a warm-up run, so both count
    * steady-state jobs (no first table load or model training); returns
    * the local and the distributed run's Spark jobs. */
  private def assertTiersEqual(clue: String, sorted: Boolean = false)(run: => DataFrame): (Int, Int) = {
    underCap(AboveEveryInput)(run.collect())
    val ((distCols, distRows), dist) =
      underCap(0)(SparkJobCount.during(spark)(result(run, sorted)))
    val ((localCols, localRows), local) =
      underCap(AboveEveryInput)(SparkJobCount.during(spark)(result(run, sorted)))
    assert(distCols == localCols, s"$clue: columns")
    assert(distRows == localRows, s"$clue: rows")
    (local.jobs, dist.jobs)
  }

  // ------------------------------------------------------------ the gate

  test("the cap decides the tier: cap rows fold locally, one more goes distributed") {
    val ds = (1 to 10).toDS().repartition(3)
    def tier(cap: Int) =
      underCap(cap)(LocalTier(ds, AboveEveryInput)(rows => Option(rows.sorted.toSeq))(None))
    assert(tier(10) == Some(1 to 10))
    assert(tier(9).isEmpty)
    assert(tier(0).isEmpty)
    assert(LocalTier(ds, 10)(_.length)(-1) == 10, "the caller's default applies when the key is unset")
    assert(LocalTier(ds, 9)(_.length)(-1) == -1)
    assert(LocalTier(spark.emptyDataset[Int], 0)(_.length)(-1) == 0, "an empty input folds locally at cap 0")
  }

  test("the bounded collect is one job whatever the partition count, rows in partition order") {
    val ds = spark.range(0, 100, 1, 7).as[Long]
    val (rows, counts) = SparkJobCount.during(spark)(LocalTier(ds, 1000)(_.toSeq)(Nil))
    assert(rows == (0L until 100L))
    assert(counts.jobs == 1)
  }

  test("an input over the cap sends at most cap + 1 rows to the driver, however it is partitioned") {
    // 40 partitions of 3 distinct 10 KB rows: each partition is under the
    // cap of 10, the whole is over it
    val rowBytes = 10000
    val ds = spark.range(0, 120, 1, 40).as[Long].map(i => i.toString + "x" * rowBytes)
    val sc = spark.sparkContext
    val resultBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => resultBytes.addAndGet(m.resultSize))
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val tier =
      try {
        val t = underCap(10)(LocalTier(ds, 0)(_ => "local")("distributed"))
        org.apache.spark.ListenerBusDrain(sc)
        t
      } finally sc.removeSparkListener(listener)
    assert(tier == "distributed")
    // 11 rows and one task's metrics; a task per partition sending its
    // rows would be 120 rows, 1.2 MB
    assert(resultBytes.get < 11 * rowBytes + 100000, s"${resultBytes.get} result bytes")
  }

  // ---------------------------------------------------- paths on sf0.01

  private val eventPaths = Seq("q142" -> StatQueries.q142, "q189" -> MiningQueries.q189)
  private val edgePaths = Seq(
    "q200" -> PipelineQueries.q200, "q262" -> PipelineQueries.q262,
    "q52" -> PipelineQueries.q52, "q109" -> PipelineQueries.q109,
    "q147" -> StatQueries.q147, "q276" -> PipelineQueries.q276,
    "q294" -> PipelineQueries.q294)

  /** Ceilings on the local tier's Spark jobs per query on sf0.01
    * (construction and collect, caches warm): measured alone, before
    * LocalTier q142 and q189 ran these counts and every
    * connectedComponents path two more. Caches other suites warm in the
    * shared session can save a job. */
  private val localJobs = Map("q142" -> 6, "q189" -> 5, "q200" -> 22, "q262" -> 10,
    "q52" -> 6, "q109" -> 15, "q147" -> 12, "q276" -> 15, "q294" -> 9)

  for ((name, q) <- eventPaths ++ edgePaths)
    test(s"$name: both tiers agree on sf0.01") {
      val (local, dist) = assertTiersEqual(name)(q(spark, sf001))
      assert(dist > local, s"$name: cap 0 did not take the distributed tier")
      assert(local <= localJobs(name), s"$name: local tier jobs")
    }

  // ------------------------------------------------- adversarial events

  private type Event = (Long, java.sql.Timestamp, Long, String, Option[Double], String)

  private def day(i: Long) = 1 + (i % 6).toInt

  /** Four users over six June days, every event id distinct. */
  private val events: Seq[Event] = (1L to 40L).map { i =>
    val ts = java.time.LocalDateTime.of(2024, 6, day(i), (i % 24).toInt, 0)
      .toInstant(java.time.ZoneOffset.UTC)
    (i, java.sql.Timestamp.from(ts), i % 4, Seq("view", "click", "cart", "buy")((i * 7 % 4).toInt),
      Some(0.25 * (i % 9)), "{}")
  }

  private val eventFixtures = Seq(
    // mid-sequence in user 1's ten events: the transition into it has
    // a null next state
    "a null event_type mid-sequence" -> events.map(e =>
      if (e._1 == 21L) e.copy(_4 = null: String) else e),
    "a null ts" -> events.map(e =>
      if (e._1 == 22L) e.copy(_2 = null: java.sql.Timestamp) else e),
    "a day whose values are all null" -> events.map(e =>
      if (day(e._1) == 3) e.copy(_5 = None) else e),
    "full-row duplicate events" -> (events ++ events.take(5)),
    "an empty table" -> Nil)

  private lazy val eventDirs: Map[String, String] = eventFixtures.map { case (what, rows) =>
    val dir = java.nio.file.Files.createTempDirectory("graft_tier").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    what -> dir
  }.toMap

  for ((name, q) <- eventPaths; (what, _) <- eventFixtures)
    test(s"$name: both tiers agree on $what") {
      assertTiersEqual(s"$name on $what")(q(spark, eventDirs(what)))
    }

  // -------------------------------------------------- adversarial edges

  private def randomEdges(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until 70).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
  }

  private val edgeFixtures = Seq(
    "duplicate, reversed and self-loop edges" ->
      Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 3L), (4L, 5L), (5L, 4L), (5L, 6L), (7L, 7L)),
    "an empty edge set" -> Seq.empty[(Long, Long)],
    "a random graph (seed 7)" -> randomEdges(7),
    "a random graph (seed 55)" -> randomEdges(55))

  for ((what, edges) <- edgeFixtures)
    test(s"connectedComponents: both tiers agree on $what") {
      val (local, dist) = assertTiersEqual(what, sorted = true)(
        DedupClusters.connectedComponents(edges.toDF("a_id", "b_id")))
      if (edges.nonEmpty) {
        assert(dist > local, s"$what: cap 0 did not take the distributed tier")
        // the edge checkpoint and the bounded collect (count + collect
        // before LocalTier)
        assert(local == 2, s"$what: local tier jobs")
      }
    }
}
