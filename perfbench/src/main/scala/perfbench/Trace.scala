package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{HttpFetcher, ObjectMeta, Store}

/** In-memory span recorder for the traced run. Spans are timed from
  * outside the program: around calls into the layers' public interfaces
  * (the wrappers below) and from Spark's listener bus.
  *
  * State is JVM-global because the wrappers are serialized into Spark task
  * closures; a per-instance field would be a copy per task. One client runs
  * one operation at a time, so spans started on any thread during an
  * operation belong to it; spans opened on a thread nest under that
  * thread's innermost open span, and otherwise under the operation's root.
  */
object Trace {
  /** `bytes` carries the layer's work count: payload bytes for fetches and
    * writes, objects returned for listings. */
  final case class Span(id: Long, name: String, start: Long, end: Long,
                        parent: Long, op: Long, bytes: Long, error: Boolean) {
    def seconds: Double = (end - start) / 1e9
  }

  @volatile var enabled: Boolean = false
  @volatile private var currentOp: Long = 0L
  @volatile private var currentRoot: Long = 0L
  private val ids = new AtomicLong()
  private val pending = new ConcurrentLinkedQueue[Span]()
  private val finished = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Objects visible to `Store.list` right now: set before each operation
    * from the seeded store, then moved by traced writes and deletes. */
  val storedObjects = new AtomicLong()

  /** Nanosecond offset turning Spark's epoch-millisecond event times into
    * `System.nanoTime` readings. */
  val epochMsToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def nextId(): Long = ids.incrementAndGet()

  /** Start operation `op` whose root span will have id `root`. */
  def beginOp(op: Long, root: Long): Unit = { currentOp = op; currentRoot = root }

  def span[A](name: String)(f: => A): A = counted(name, (_: A) => 0L)(f)

  /** A span whose work count is read from the call's result. */
  def counted[A](name: String, work: A => Long)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId()
      val stack = open.get
      val parent = stack.headOption.getOrElse(currentRoot)
      val op = currentOp
      open.set(id :: stack)
      val t0 = System.nanoTime()
      var ok = false
      var n = 0L
      try { val r = f; n = work(r); ok = true; r }
      finally {
        open.set(stack)
        pending.add(Span(id, name, t0, System.nanoTime(), parent, op, n, !ok))
      }
    }

  /** Record a span timed elsewhere (operation roots). */
  def record(s: Span): Unit = if (enabled) pending.add(s)

  /** Record a span timed elsewhere as a child of the current operation's
    * root (Spark jobs, delivered by the listener bus). */
  def recordChild(name: String, start: Long, end: Long, work: Long, error: Boolean): Unit =
    record(Span(nextId(), name, start, end, currentRoot, currentOp, work, error))

  private val listStored = new ConcurrentLinkedQueue[java.lang.Long]()

  /** Note the stored-object count a listing saw when it was called. */
  def noteList(): Unit = if (enabled) listStored.add(storedObjects.get)

  /** Stored-object counts of the listings since the last call. */
  def takeListStored(): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    var v = listStored.poll()
    while (v != null) { out += v.longValue; v = listStored.poll() }
    out.result()
  }

  /** Take the spans recorded since the last call; they stay in memory for
    * [[writeSpans]]. */
  def take(): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var s = pending.poll()
    while (s != null) { out += s; s = pending.poll() }
    val r = out.result()
    finished ++= r
    r
  }

  def spanCount: Int = finished.size

  /** Write every span taken so far as JSON lines (name, start, end,
    * parent, operation id; times in ns on one monotonic clock). */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try finished.foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","start":${s.start},"end":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op},"work":${s.bytes},"error":${s.error}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Delegating fetcher that times every call. `fetchTo` is overridden as
  * well as `fetch`: the trait's default `fetchTo` buffers the payload, and
  * the program under test streams it through `HttpFetcher.fetchTo`. It
  * extends [[HttpFetcher]] only because `Downloader.runOnce` takes that
  * type; every call goes to `inner`. */
class TracingFetcher(inner: HttpFetcher)
    extends HttpFetcher(inner.basicAuthUser, inner.basicAuthPass, inner.attemptTimeout) {

  override def fetch(url: String): Array[Byte] =
    Trace.counted("sources.fetch", (b: Array[Byte]) => b.length.toLong)(inner.fetch(url))

  override def fetchTo(url: String, store: Store, name: String): (Long, String) =
    Trace.counted("sources.fetch", (r: (Long, String)) => r._1)(inner.fetchTo(url, store, name))

  override def fetchString(url: String): String =
    Trace.counted("sources.manifest", (s: String) => s.length.toLong)(inner.fetchString(url))
}

/** Delegating store that times every call, including the streamed
  * `writeStream` (the trait default would buffer it). */
class TracingStore(inner: Store) extends Store {
  def list(prefix: String): Seq[ObjectMeta] = {
    Trace.noteList()
    Trace.counted("sources.store.list", (r: Seq[ObjectMeta]) => r.size.toLong)(inner.list(prefix))
  }

  def read(name: String): Array[Byte] =
    Trace.counted("sources.store.read", (b: Array[Byte]) => b.length.toLong)(inner.read(name))

  def write(name: String, content: Array[Byte]): Unit = {
    Trace.counted("sources.store.write", (_: Unit) => content.length.toLong)(
      inner.write(name, content))
    Trace.storedObjects.incrementAndGet()
  }

  override def writeStream(name: String, in: java.io.InputStream): (Long, String) = {
    val r = Trace.counted("sources.store.write", (r: (Long, String)) => r._1)(
      inner.writeStream(name, in))
    Trace.storedObjects.incrementAndGet()
    r
  }

  def copy(src: String, dst: String): Unit =
    Trace.span("sources.store.copy")(inner.copy(src, dst))

  def delete(name: String): Unit = {
    Trace.span("sources.store.delete")(inner.delete(name))
    Trace.storedObjects.decrementAndGet()
  }
}

/** Spark-side counters of one operation, filled from the listener bus. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  /** max over stages of (max task time / median task time) */
  var taskSkew = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listens on the session's bus: a [[SparkListener]] for jobs, stages and
  * tasks, and a [[QueryExecutionListener]] for Catalyst's planning phases.
  * Events are attributed to the operation that is current when the bus
  * delivers them, so [[drain]] the bus before closing an operation. */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var cur = new SparkCounters
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until the bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Counters since the previous call (drain first). */
  def take(): SparkCounters = synchronized { val c = cur; cur = new SparkCounters; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 =>
      val a = t0 * 1000000L + Trace.epochMsToNano
      val b = e.time * 1000000L + Trace.epochMsToNano
      cur.jobIntervals += ((a, b))
      Trace.recordChild("spark.job", a, b, e.jobId.toLong, e.jobResult != JobSucceeded)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    if (e.taskInfo != null) {
      cur.taskMs += e.taskInfo.duration
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
    if (e.taskMetrics != null)
      cur.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
    stageTasks.remove(e.stageInfo.stageId).filter(_.nonEmpty).foreach { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      val skew = if (med > 0) ts.max / med else 1.0
      cur.taskSkew = math.max(cur.taskSkew, skew)
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    cur.analysisMs += ms("analysis")
    cur.optimizationMs += ms("optimization")
    cur.planningMs += ms("planning")
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** Per-layer metrics accumulated over the measured operations of a traced
  * run. Additive metrics are reported as a workload total and per
  * operation; ratios are reported once. */
final class LayerTotals {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private var listReturned = 0.0
  private var listStored = 0.0
  private var kept = 0.0
  private var verdicts = 0.0
  private var originRequests = 0.0
  private var originUrls = 0.0
  private val skews = mutable.ArrayBuffer.empty[Double]
  private val opWalls = mutable.ArrayBuffer.empty[Double]
  var watermarkLag = 0L
  var diskPerUnique = 0.0

  def ops: Int = opWalls.size

  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  /** Fold one operation: its root interval, the spans taken after it, and
    * its Spark counters. `storedAtList` holds the stored-object count each
    * of its listings saw. */
  def addOp(start: Long, end: Long, spans: Seq[Trace.Span], sc: SparkCounters,
            storedAtList: Seq[Long]): Unit = {
    val wall = end - start
    opWalls += wall / 1e9
    def of(n: String) = spans.filter(_.name == n)
    def busy(ss: Seq[Trace.Span]) = ss.map(_.seconds).sum
    val fetch = of("sources.fetch")
    add("sources.fetch.calls", fetch.size)
    add("sources.fetch.bytes", fetch.map(_.bytes).sum.toDouble)
    add("sources.fetch.busy_s", busy(fetch))
    add("sources.fetch.wall_s", Stats.unionLength(fetch.map(s => (s.start, s.end))) / 1e9)
    add("sources.fetch.errors", fetch.count(_.error))
    add("sources.manifest.fetch_s", busy(of("sources.manifest")))
    val lists = of("sources.store.list")
    add("sources.store.list.calls", lists.size)
    add("sources.store.list.busy_s", busy(lists))
    add("sources.store.list.returned", lists.map(_.bytes).sum.toDouble)
    listReturned += lists.map(_.bytes).sum.toDouble
    listStored += storedAtList.sum.toDouble
    val writes = of("sources.store.write")
    add("sources.store.write.calls", writes.size)
    add("sources.store.write.bytes", writes.map(_.bytes).sum.toDouble)
    add("sources.store.write.busy_s", busy(writes))
    for (verb <- Seq("copy", "delete", "read")) {
      val ss = of(s"sources.store.$verb")
      add(s"sources.store.$verb.calls", ss.size)
      add(s"sources.store.$verb.busy_s", busy(ss))
    }
    val publish = of("core.metrics.publish")
    add("core.metrics.publish_s", busy(publish))
    // spans of the layers outside Spark: sources and core
    val outside = spans.filter(s => s.name.startsWith("sources.") || s.name.startsWith("core."))
      .map(s => (s.start, s.end))
    val isArchive = spans.exists(_.name == "plans.iteration")
    add("plans.iteration.self_s",
      if (isArchive) (wall - Stats.unionWithin(outside, start, end)) / 1e9 else 0.0)
    add("spark.jobs", sc.jobs.toDouble)
    add("spark.stages", sc.stages.toDouble)
    add("spark.tasks", sc.tasks.toDouble)
    add("spark.task_s", sc.taskMs / 1e3)
    add("spark.job_wall_s", Stats.unionWithin(sc.jobIntervals, start, end) / 1e9)
    add("spark.driver_gap_s",
      (wall - Stats.unionWithin(sc.jobIntervals ++ outside, start, end)) / 1e9)
    add("spark.shuffle_bytes", sc.shuffleBytes.toDouble)
    skews += sc.taskSkew
    add("catalyst.analysis_s", sc.analysisMs / 1e3)
    add("catalyst.optimization_s", sc.optimizationMs / 1e3)
    add("catalyst.planning_s", sc.planningMs / 1e3)
    val construct = of("queries.construct")
    add("queries.construct_s", busy(construct))
    add("queries.construct_jobs", sc.jobIntervals.count { case (a, _) =>
      construct.exists(c => a >= c.start - 1000000L && a <= c.end) }.toDouble)
    add("queries.execute_s", busy(of("queries.execute")))
  }

  /** Fold an archive iteration's verdict and origin counts. */
  def addVerdicts(keptFiles: Int, fetchedFiles: Int, requests: Long, urls: Long): Unit = {
    kept += keptFiles; verdicts += fetchedFiles
    originRequests += requests; originUrls += urls
  }

  def metrics(spans: Int): Seq[(String, Double, String)] = {
    def unit(k: String) =
      if (k.endsWith("_s")) "s" else if (k.endsWith("bytes")) "B" else "count"
    val n = math.max(1, ops)
    val additive = sums.toSeq.flatMap { case (k, v) =>
      Seq((k, v, unit(k)), (s"$k.per_op", v / n, unit(k)))
    }
    val listShare = sums.getOrElse("sources.store.list.busy_s", 0.0) / math.max(1e-9, opWalls.sum)
    additive ++ Seq(
      ("sources.fetch.retry_ratio", if (originUrls > 0) originRequests / originUrls else 0.0, "ratio"),
      ("sources.store.list.returned_per_stored", if (listStored > 0) listReturned / listStored else 0.0, "ratio"),
      ("sources.store.list.share", listShare, "ratio"),
      ("sources.store.disk_bytes_per_unique_byte", diskPerUnique, "ratio"),
      ("plans.fetch_kept_ratio", if (verdicts > 0) kept / verdicts else 0.0, "ratio"),
      ("plans.watermark_lag", watermarkLag.toDouble, "count"),
      ("spark.task_skew", if (skews.isEmpty) 0.0 else Stats.median(skews.toSeq), "ratio"),
      ("trace.ops", ops.toDouble, "count"),
      ("trace.ops_wall_s", opWalls.sum, "s"),
      ("trace.op_p50_s", if (opWalls.isEmpty) 0.0 else Stats.median(opWalls.toSeq), "s"),
      ("trace.spans", spans.toDouble, "count"))
  }
}
