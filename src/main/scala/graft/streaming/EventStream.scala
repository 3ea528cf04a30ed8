package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.core.Dsl

/** A raw event row for typed stateful operators. `tsMicros` is epoch
  * micros (timestamps cross the state store as primitives).
  */
case class Event(eventId: Long, tsMicros: Long, userId: Long,
                 eventType: String, value: Double)

/** The per-user "current pointer" state row. */
case class Latest(userId: Long, eventId: Long, tsMicros: Long,
                  eventType: String, value: Double)

/** One side-tagged row of the streaming as-of merge: `isUpdate = true`
  * rows carry new state payloads, `false` rows are facts to enrich. */
case class Tagged(key: Long, tMicros: Long, isUpdate: Boolean,
                  id: Long, payload: Double)

/** Per-key as-of state: the latest update's (time, payload). */
case class AsOfState(tMicros: Long, payload: Double)

/** An enriched fact: the update payload in force AS OF the fact's
  * event time (None before any update). */
case class Enriched(key: Long, id: Long, tMicros: Long,
                    lastPayload: Option[Double])

/** Per-user funnel progress (q87's stages as state): epoch-micros of
  * the first view, the first ordered click (after the view) and the
  * first ordered purchase (after that click); 0 = stage unreached. */
case class FunnelProgress(userId: Long, tvMicros: Long, tcMicros: Long,
                          tpMicros: Long)

/** Per-(type, UTC day) running LOCF-integral state for [[EventStream.twapDaily]]:
  * the last observation and the partial exact-integer integral. */
case class TwapState(eventType: String, dayUs: Long, lastTs: Long,
                     lastCents: Long, n: Long, num: Long, den: Long)

/** Per-key clamped-ledger state ([[EventStream.ledgerLive]]): last
  * applied posting coordinates + the running clamp fold. */
case class LedgerState(lastTs: Long, lastSeq: Long, bal: Long, n: Long,
                       nCapped: Long, nFloored: Long)

case class StreakState(lastDay: Long, curLen: Long, best: Long,
                       nActive: Long, nStreaks: Long)

/** Per-user retention-tail state ([[EventStream.retentionTailLive]]):
  * the [[graft.operators.LastKAgg]] buffer (≤ K (us, id, type) triples,
  * recency order) plus the running total and the last applied (us, id)
  * coordinates for the monotone at-arrival guard. */
case class TailState(lastUs: Long, lastId: Long, nTotal: Long,
                     kept: Seq[(Long, Long, String)])

/** The q302 feature row a retention-tail batch emits per user. */
case class TailRow(user_id: Long, n_total: Long, n_kept: Long,
                   tail_span_us: Long, tail_sig: String,
                   tail_purchases: Long)

/** Per-user purchase extremes for [[EventStream.preferencePairsLive]]:
  * the lexicographic (cents, eventId) max/min — q248's fold as state. */
case class PrefState(chC: Long, chE: Long, rjC: Long, rjE: Long)
case class PrefPairRow(userId: Long, chosenEvent: Long, rejectedEvent: Long,
                       marginCents: Long)
case class StreakRow(userId: Long, nActiveDays: Long, nStreaks: Long,
                     longestStreak: Long)

/** A finalized TWAP day — the exact columns batch q178 computes. */
case class TwapRow(eventType: String, dayUs: Long, n: Long,
                   num: Long, den: Long, twapCents: Long)

/** Structured Streaming operators for the reference's unbounded
  * incremental semantics (SURVEY §2.2 Streaming): the eternal ingest loop
  * becomes a streaming query with checkpointed offsets instead of
  * process-local watermark ints (/root/reference/downloader.go:59-103,
  * 61-62), late/duplicate deliveries are absorbed by in-stream dedup the
  * way re-downloads are absorbed by md5 dedup, and the current pointer is
  * continuously maintained state rather than a batch repair job.
  *
  * Every transform here is batch/stream agnostic where Spark allows it
  * (`window`, `dropDuplicates`) so the DuckDB-oracle-checked batch query
  * (Q18) and the streaming job share one definition.
  */
object EventStream {

  private val HourUs = 3600L * 1000000L

  /** Tumbling 1-hour counts/sums per event type — the streaming twin of
    * CoreQueries.q18. With a watermark, state for closed windows is
    * dropped, so state size is O(open windows × event types) regardless
    * of stream length.
    */
  def tumblingCounts(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    Continuous.closedWindows(events, "1 hour", watermarkDelay, col("event_type"))(
      count(lit(1)).as("n_events"), Dsl.sum2(col("value")).as("sum_value"))

  /** One batch of the continuous DRIFT monitor (the streaming twin of
    * q68): `closed` carries this trigger's CLOSED windows as
    * `(win_us, event_type, n_events)`; they append to the distribution
    * store at `distDir`, and each newly closed window is scored
    * against its immediate predecessor window from the store — the
    * population stability index Σ (p−q)·ln(p/q) over event-type
    * shares. The store is window × type rows (model-sized however long
    * the stream runs); like q68, only buckets present in BOTH windows
    * compare, with `n_buckets` exposing the compared count.
    */
  def driftPsiBatch(closed: DataFrame, distDir: String,
                    windowUs: Long, keyCol: String = "event_type"): DataFrame = {
    val spark = closed.sparkSession
    import org.apache.spark.sql.expressions.Window
    val materialized = closed
      .select(col("win_us"), col(keyCol).as("event_type"), col("n_events"))
      .localCheckpoint() // pin BEFORE appending to the dir logic reads
    materialized.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(distDir)
    // only this batch's windows and their immediate predecessors matter:
    // prune the store BEFORE any window math so per-batch cost stays
    // O(batch), not O(stream lifetime)
    val newWins = materialized.select(col("win_us")).distinct()
    val needed = newWins
      .union(newWins.select((col("win_us") - windowUs).as("win_us"))).distinct()
    // max() over (win_us, event_type) makes a foreachBatch REPLAY
    // harmless: a crash between the append and the checkpoint commit
    // re-appends identical rows, which must not double the counts (a
    // duplicated predecessor would halve every q and fan the join out —
    // a permanent false alarm baked into the store)
    val all = spark.read.parquet(distDir)
      .join(broadcast(needed), Seq("win_us"), "left_semi")
      .groupBy(col("win_us"), col("event_type"))
      .agg(max(col("n_events")).as("n_events"))
    val p = all.withColumn("p", col("n_events").cast("double") /
      sum(col("n_events")).over(Window.partitionBy(col("win_us"))))
    val prev = p.select((col("win_us") + windowUs).as("win_us"),
      col("event_type"), col("p").as("q"))
    p.join(prev, Seq("win_us", "event_type"))
      .join(newWins, Seq("win_us"),
        "left_semi") // score only THIS batch's newly closed windows
      .groupBy(col("win_us"))
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 4).as("psi"),
        count(lit(1)).as("n_buckets"))
  }

  /** The continuous form: watermarked tumbling type-counts in APPEND
    * mode (only finalized windows emit) driven through
    * [[driftPsiBatch]], with `onAlarm` invoked per scored window —
    * the guardrail loop a continuously-ingesting pipeline runs. */
  def startDriftMonitor(events: DataFrame, distDir: String,
                        checkpointDir: String,
                        watermarkDelay: String = "2 hours",
                        onAlarm: (Long, Double) => Unit = (_, _) => ())
      : StreamingQuery =
    Continuous.run(Continuous.closedWindows(events, "1 hour", watermarkDelay,
        col("event_type"))(count(lit(1)).as("n_events")), checkpointDir) { (batch, _) =>
      val scored = driftPsiBatch(batch, distDir, HourUs)
      scored.collect().foreach(r => onAlarm(r.getLong(0), r.getDouble(1)))
      Some(scored)
    }

  /** Continuous NUMERIC drift — q86's streaming twin. `value` buckets
    * by the STORED quantile `breakpoints` — a trained ingest artifact
    * exactly like the IVF centroids (the batch path derives them as
    * k-th order statistics of a reference window; see q86's ulp
    * rationale for why they are stored values, never interpolations) —
    * and each watermark-closed hour window scores window-over-window
    * PSI over bucket shares through the SAME [[driftPsiBatch]]
    * machinery as the categorical monitor (store pruning, replay
    * idempotence and predecessor lookup are shared, not re-proven).
    * The drift alarm a pipeline runs on score/length/loss columns. */
  def startValueDriftMonitor(events: DataFrame, breakpoints: Seq[Double],
                             distDir: String, checkpointDir: String,
                             watermarkDelay: String = "2 hours",
                             onAlarm: (Long, Double) => Unit = (_, _) => ())
      : StreamingQuery = {
    require(breakpoints.nonEmpty, "value drift needs at least one breakpoint")
    require(breakpoints == breakpoints.sorted, "breakpoints must be ascending")
    val bktNum = breakpoints.foldLeft(lit(0L)) { (acc, b) =>
      acc + (col("value") > lit(b)).cast("long")
    }
    val closed = Continuous.closedWindows(
      events.withColumn("bucket", concat(lit("b"), bktNum)), "1 hour",
      watermarkDelay, col("bucket"))(count(lit(1)).as("n_events"))
    Continuous.run(closed, checkpointDir) { (batch, _) =>
      val scored = driftPsiBatch(batch, distDir, HourUs, keyCol = "bucket")
      scored.collect().foreach(r => onAlarm(r.getLong(0), r.getDouble(1)))
      Some(scored)
    }
  }

  /** One batch of the continuous BURST monitor (q113's streaming twin):
    * this trigger's CLOSED hours arrive as `(win_us, n_events)`, append
    * to the hourly-count store at `hoursDir`, and each is scored with
    * q113's z formula against its trailing 24 CLOCK hours read back
    * from the store. Range (not row) framing is deliberate for the
    * continuous form: a silent hour simply contributes nothing, rather
    * than stretching the baseline arbitrarily far into the past — on a
    * dense series the two framings coincide (q113's batch table is
    * dense at every test SF). Store discipline is [[driftPsiBatch]]'s
    * verbatim: prune to this batch's hours + their 24 predecessors
    * BEFORE any math (per-batch cost O(batch), not O(stream life)),
    * and max-dedup (win_us) so a crash-replay re-append cannot inflate
    * a baseline. Output: (win_us, n, baseline, z, burst) for scoreable
    * batch hours — same columns and 4-dp rounding as q113.
    */
  def burstBatch(closed: DataFrame, hoursDir: String,
                 minHistory: Int = 12, zThreshold: Double = 3.0): DataFrame = {
    val spark = closed.sparkSession
    val materialized = closed.select(col("win_us"), col("n_events"))
      .localCheckpoint() // pin BEFORE appending to the dir logic reads
    materialized.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(hoursDir)
    val newWins = materialized.select(col("win_us")).distinct()
    val needed = newWins
      .select(explode(sequence(lit(0), lit(24))).as("k"), col("win_us"))
      .select((col("win_us") - col("k") * HourUs).as("win_us")).distinct()
    val store = spark.read.parquet(hoursDir)
      .join(broadcast(needed), Seq("win_us"), "left_semi")
      .groupBy(col("win_us")).agg(max(col("n_events")).as("n"))
    val hist = store.select(col("win_us").as("h_us"), col("n").as("hn"))
    val scored = store.join(newWins, Seq("win_us"), "left_semi")
      .join(hist,
        col("h_us") >= col("win_us") - lit(24L) * HourUs &&
          col("h_us") <= col("win_us") - HourUs)
      .groupBy(col("win_us"), col("n"))
      .agg(sum(col("hn")).as("s"), sum(col("hn") * col("hn")).as("ssq"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minHistory &&
        col("ssq") * col("cnt") > col("s") * col("s"))
    val z = (col("n").cast("double") - col("s").cast("double") / col("cnt")) /
      sqrt((col("ssq").cast("double") -
        col("s").cast("double") * col("s") / col("cnt")) / col("cnt"))
    scored.select(col("win_us"), col("n"),
      round(col("s").cast("double") / col("cnt"), 4).as("baseline"),
      round(z, 4).as("z"),
      (z >= zThreshold).cast("int").as("burst"))
  }

  /** One batch of the continuous SEASONAL monitor (q118's streaming
    * twin, [[burstBatch]]'s hour-of-day sibling): each closed hour is
    * z-scored against the stored history of the SAME hour-of-day —
    * strictly EARLIER hours only, because an at-arrival monitor can
    * only know the past (the batch q118 is the retrospective
    * whole-horizon re-audit, exactly the chunk-gate relationship to
    * q114). Store format and discipline are [[burstBatch]]'s verbatim
    * — same `(win_us, n_events)` rows, same max-dedup — so the two
    * monitors can SHARE one hours store: the dedup-on-read makes the
    * double append of running both harmless (spec-pinned). Pruning is
    * by hour-of-day: the store read carries hours × 1 row, model-sized
    * at any event volume (q118's scale note). Output columns and 4-dp
    * rounding match q118 (hod derived as epoch-hour mod 24 = UTC
    * `hour()`). */
  def seasonalBatch(closed: DataFrame, hoursDir: String,
                    minHistory: Int = 5, zThreshold: Double = 2.0): DataFrame = {
    val spark = closed.sparkSession
    def hodOf(c: Column): Column = floor(c / HourUs) % 24
    val materialized = closed.select(col("win_us"), col("n_events"))
      .localCheckpoint()
    materialized.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(hoursDir)
    val newWins = materialized.select(col("win_us")).distinct()
    val batchHods = newWins.select(hodOf(col("win_us")).as("hod")).distinct()
    val store = spark.read.parquet(hoursDir)
      .groupBy(col("win_us")).agg(max(col("n_events")).as("n"))
      .withColumn("hod", hodOf(col("win_us")))
      .join(broadcast(batchHods), Seq("hod"), "left_semi")
    val hist = store.select(col("hod"), col("win_us").as("h_us"), col("n").as("hn"))
    val scored = store.join(newWins, Seq("win_us"), "left_semi")
      .join(hist, Seq("hod"))
      .filter(col("h_us") < col("win_us"))
      .groupBy(col("win_us"), col("hod"), col("n"))
      .agg(sum(col("hn")).as("s"), sum(col("hn") * col("hn")).as("ssq"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minHistory &&
        col("ssq") * col("cnt") > col("s") * col("s"))
    val z = (col("n").cast("double") - col("s").cast("double") / col("cnt")) /
      sqrt((col("ssq").cast("double") -
        col("s").cast("double") * col("s") / col("cnt")) / col("cnt"))
    scored.select(col("win_us"), col("hod").cast("int").as("hod"), col("n"),
      round(col("s").cast("double") / col("cnt"), 4).as("seasonal_mean"),
      round(z, 4).as("z"),
      (z >= zThreshold).cast("int").as("spike"))
  }

  /** Continuous ACTIVITY-STREAK tracker — q190's streaming twin with
    * TYPED per-user state (the twapDaily discipline): one fixed-width
    * row per user — (last active day, current run, best run, totals) —
    * never an event buffer, updated by the same rank-difference
    * semantics the batch query computes retrospectively (a new day
    * extends the run iff it is exactly lastDay+1). Emission is
    * UPDATE-mode: each batch emits the refreshed per-user row, so the
    * latest row per user always equals batch q190 over the prefix
    * processed so far (spec-pinned). Monotone at-arrival contract:
    * days ≤ the last seen day are ignored — which makes a crash-replay
    * of a processed batch a NO-OP on the state (spec-pinned), and
    * matches what an at-arrival tracker can know (a late day can only
    * be healed by the retrospective batch query — the q113/q118
    * at-arrival rule). */
  def streaksLive(events: Dataset[Event]): Dataset[StreakRow] = {
    import events.sparkSession.implicits._
    val dayUs = 86400L * 1000000L
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[StreakState, StreakRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[StreakState]) =>
          var st = state.getOption.getOrElse(StreakState(Long.MinValue, 0L, 0L, 0L, 0L))
          rows.map(e => e.tsMicros / dayUs).toSeq.distinct.sorted.foreach { d =>
            if (d > st.lastDay) {
              st =
                if (st.lastDay != Long.MinValue && d == st.lastDay + 1)
                  st.copy(lastDay = d, curLen = st.curLen + 1,
                    nActive = st.nActive + 1)
                else
                  st.copy(lastDay = d, curLen = 1L, nActive = st.nActive + 1,
                    nStreaks = st.nStreaks + 1)
              if (st.curLen > st.best) st = st.copy(best = st.curLen)
            }
          }
          state.update(st)
          Iterator.single(StreakRow(userId, st.nActive, st.nStreaks, st.best))
      }
  }

  /** Continuous RETENTION-TAIL tracker — q302's streaming twin: per
    * user the state IS the [[graft.operators.LastKAgg]] buffer (≤ K
    * triples — the operator's O(K) aggregation buffer doubles as a
    * state-store entry, which is exactly why the retention fold
    * streams where the lag-window form can't) plus the running total;
    * every batch applies its events through the SAME `reduce` the
    * batch aggregate runs and emits the refreshed q302 feature row
    * (UPDATE-mode), so the latest row per user equals batch q302 over
    * the prefix processed so far (spec-pinned). Monotone at-arrival
    * contract (the ledgerLive discipline — a count and a buffer insert
    * are not replay-idempotent): events at or before the last applied
    * (us, eventId) are IGNORED, so a crash-replay of a processed batch
    * is a state no-op (spec-pinned) and a genuinely late event is
    * healed by the retrospective batch query, never silently
    * double-counted. */
  def retentionTailLive(events: Dataset[Event], k: Int = 8)
      : Dataset[TailRow] = {
    import events.sparkSession.implicits._
    val agg = new graft.operators.LastKAgg(k) // the SHARED batch fold
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[TailState, TailRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[TailState]) =>
          var st = state.getOption.getOrElse(
            TailState(Long.MinValue, Long.MinValue, 0L, agg.zero))
          rows.toSeq.sortBy(e => (e.tsMicros, e.eventId)).foreach { e =>
            if (e.tsMicros > st.lastUs ||
                (e.tsMicros == st.lastUs && e.eventId > st.lastId)) {
              st = TailState(e.tsMicros, e.eventId, st.nTotal + 1,
                agg.reduce(st.kept, (e.tsMicros, e.eventId, e.eventType)))
            }
          }
          state.update(st)
          val kept = agg.finish(st.kept) // chronological, the q302 order
          if (kept.isEmpty) Iterator.empty
          else Iterator.single(TailRow(userId, st.nTotal, kept.length.toLong,
            kept.last._1 - kept.head._1,
            kept.map(_._3).mkString(">"),
            kept.count(_._3 == "purchase").toLong))
      }
  }

  /** Continuous PREFERENCE-PAIR tracker — q248's streaming twin: per
    * user, the running (chosen, rejected) purchase extremes as typed
    * state (two (cents, eventId) pairs — fixed width, never an event
    * buffer), a pair row emitted whenever a batch CHANGES a user's
    * extremes and a strict margin exists. Lexicographic max/min are
    * IDEMPOTENT folds, so a crash-replayed batch is a state no-op that
    * emits nothing (spec-pinned) — no at-arrival guard or batch-id
    * rule is needed (the ledgerLive contrast: a clamp fold is
    * order-dependent, an extreme is not; arrival order across batches
    * never matters here). The latest emitted row per user equals batch
    * q248 over the prefix processed so far, minus n_purchases — a
    * count is NOT replay-idempotent, so it deliberately stays with the
    * batch query (the quantileSampleBatch rationale). */
  def preferencePairsLive(events: Dataset[Event]): Dataset[PrefPairRow] = {
    import events.sparkSession.implicits._
    events
      .filter(_.eventType == "purchase")
      .groupByKey(_.userId)
      .flatMapGroupsWithState[PrefState, PrefPairRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[PrefState]) =>
          val prev = state.getOption
          var st = prev.getOrElse(
            PrefState(Long.MinValue, 0L, Long.MaxValue, 0L))
          rows.foreach { e =>
            // batch q248 rounds with Spark round() = HALF_UP away from
            // zero; math.round is half-up toward +inf (-12.5 -> -12 vs
            // -13), so use the same BigDecimal mode or the twin contract
            // breaks on negative values at exact half-cent boundaries
            val c = BigDecimal(e.value * 100)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
            // lexicographic (cents, eventId) extremes — q248's order
            if (c > st.chC || (c == st.chC && e.eventId > st.chE))
              st = st.copy(chC = c, chE = e.eventId)
            if (c < st.rjC || (c == st.rjC && e.eventId < st.rjE))
              st = st.copy(rjC = c, rjE = e.eventId)
          }
          state.update(st)
          if (!prev.contains(st) && st.chC > st.rjC)
            Iterator.single(PrefPairRow(userId, st.chE, st.rjE, st.chC - st.rjC))
          else Iterator.empty
      }
  }

  /** Continuous CLAMPED-LEDGER tracker —
    * [[graft.operators.KeyedLedger]]'s streaming twin with TYPED
    * per-key state (the streaksLive discipline): one fixed-width row
    * per key — (last applied (ts, seq), balance, counts) — never a
    * posting buffer; each batch's postings apply in (tsUs, seq) order
    * through the SAME clamp fold the batch operator runs. Emission is
    * UPDATE-mode: the latest row per key equals batch
    * `KeyedLedger.cappedBalance` over the prefix processed so far
    * (spec-pinned). Monotone at-arrival contract: postings at or
    * before the last applied (tsUs, seq) are IGNORED — a crash-replay
    * of a processed batch is a no-op on the state (spec-pinned), and
    * a genuinely late posting can only be healed by the retrospective
    * batch fold (the q113/q118 at-arrival rule — the clamp makes the
    * fold order-dependent, so silent late application would diverge
    * from the batch semantics rather than converge to it). */
  def ledgerLive(postings: org.apache.spark.sql.Dataset[graft.operators.LedgerEvent],
                 lo: Long, hi: Long)
      : org.apache.spark.sql.Dataset[graft.operators.LedgerResult] = {
    import postings.sparkSession.implicits._
    postings
      .groupByKey(_.key)
      .flatMapGroupsWithState[LedgerState, graft.operators.LedgerResult](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[graft.operators.LedgerEvent],
         state: GroupState[LedgerState]) =>
          var st = state.getOption.getOrElse(
            LedgerState(Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L))
          rows.toSeq.sortBy(e => (e.tsUs, e.seq)).foreach { e =>
            if (e.tsUs > st.lastTs ||
                (e.tsUs == st.lastTs && e.seq > st.lastSeq)) {
              val raw = st.bal + e.delta
              st =
                if (raw > hi) st.copy(lastTs = e.tsUs, lastSeq = e.seq,
                  bal = hi, n = st.n + 1, nCapped = st.nCapped + 1)
                else if (raw < lo) st.copy(lastTs = e.tsUs, lastSeq = e.seq,
                  bal = lo, n = st.n + 1, nFloored = st.nFloored + 1)
                else st.copy(lastTs = e.tsUs, lastSeq = e.seq,
                  bal = raw, n = st.n + 1)
            }
          }
          state.update(st)
          Iterator.single(graft.operators.LedgerResult(
            key, st.n, st.bal, st.nCapped, st.nFloored))
      }
  }

  /** One batch of the continuous CUSUM drift monitor (q189's streaming
    * twin): newly closed DAYS append to a replay-idempotent store
    * (max-dedup on read, [[burstBatch]]'s discipline) and the whole
    * Page recursion replays over the days-sized store via the same
    * prefix-sum/running-min window collapse as the batch q189 — the
    * store IS the recursion state, so a crash-replayed batch lands on
    * identical CUSUMs (spec-pinned). One deliberate difference from
    * q189: the target/slack/alarm dials are FIXED configuration, not
    * the retrospective median — an at-arrival monitor cannot know the
    * horizon's median yet (the q113-vs-q118 at-arrival rule), and a
    * drifting target would defeat the point of a drift detector.
    * Integer cents throughout; returns only the batch's NEW days. */
  def cusumBatch(closed: DataFrame, daysDir: String, targetCents: Long,
                 slackCents: Long, alarmCents: Long): DataFrame = {
    val spark = closed.sparkSession
    val materialized = closed.select(col("day_us"), col("cents"))
      .localCheckpoint()
    materialized.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(daysDir)
    val newDays = materialized.select(col("day_us")).distinct()
    val store = spark.read.parquet(daysDir)
      .groupBy(col("day_us")).agg(max(col("cents")).as("cents"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day_us"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    store
      .withColumn("p_hi",
        sum(col("cents") - lit(targetCents) - lit(slackCents)).over(w))
      .withColumn("p_lo",
        sum(lit(targetCents) - col("cents") - lit(slackCents)).over(w))
      .withColumn("cusum_hi", col("p_hi") - least(min(col("p_hi")).over(w), lit(0L)))
      .withColumn("cusum_lo", col("p_lo") - least(min(col("p_lo")).over(w), lit(0L)))
      .join(newDays, Seq("day_us"), "left_semi")
      .select(col("day_us"), col("cents"), col("cusum_hi"), col("cusum_lo"),
        (col("cusum_hi") > alarmCents).cast("int").as("alarm_hi"),
        (col("cusum_lo") > alarmCents).cast("int").as("alarm_lo"))
  }

  /** Store-backed EWMA control chart batch — q205's streaming twin
    * (the [[cusumBatch]] discipline applied to the λ = 1/4 chart):
    * newly closed (type, day) revenue rows append to a
    * replay-idempotent store (max-dedup on read) and the ENTIRE
    * 16-lag dyadic kernel — integer weights 3^(j−1)·4^(16−j), the
    * N/W rational prediction, the |x·W − N|·nchg > 3·W·Σ|Δx| alarm —
    * replays over the days-sized store exactly as batch q205 writes
    * it, so the twin's rows for the processed prefix EQUAL q205 run
    * over that prefix (spec-pinned) and a crash-replayed batch is a
    * store NO-OP. The dispersion scale is the PREFIX's mean |Δ| (an
    * at-arrival monitor knows only its prefix — the q113-vs-q118
    * at-arrival rule; batch q205 over the same prefix agrees by
    * construction). Returns only the batch's NEW (type, day) rows. */
  def ewmaBatch(closed: DataFrame, daysDir: String): DataFrame = {
    val spark = closed.sparkSession
    val materialized = closed.select(col("event_type"), col("day_us"), col("cents"))
      .localCheckpoint()
    materialized.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(daysDir)
    val newDays = materialized.select(col("event_type"), col("day_us")).distinct()
    val store = spark.read.parquet(daysDir)
      .groupBy(col("event_type"), col("day_us")).agg(max(col("cents")).as("x"))
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day_us"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    def wj(j: Int): Long =
      (1 until j).foldLeft(1L)((a, _) => a * 3) *
        (j until 16).foldLeft(1L)((a, _) => a * 4)
    val lagged = (1 to 16).foldLeft(store) { (df, j) =>
      df.withColumn(s"l$j", lag(col("x"), j).over(wLag))
    }
    val num = (1 to 16).map(j =>
      when(col(s"l$j").isNotNull, lit(wj(j)) * col(s"l$j"))
        .otherwise(lit(0L))).reduce(_ + _)
    val den = (1 to 16).map(j =>
      when(col(s"l$j").isNotNull, lit(wj(j))).otherwise(lit(0L))).reduce(_ + _)
    lagged
      .withColumn("num", num).withColumn("den", den)
      .withColumn("diff", abs(col("x") - col("l1")))
      .withColumn("sumabs", sum(col("diff")).over(wAll))
      .withColumn("nchg", count(col("diff")).over(wAll).cast("long"))
      .filter(col("den") > 0)
      .withColumn("ewma_c", expr("num div den"))
      .withColumn("alarm",
        // x·den is lifted to DECIMAL BEFORE the multiply: den reaches
        // 4¹⁶−3¹⁶ ≈ 4.25·10⁹, so a Long product wraps silently past
        // x ≈ 2.1·10⁹ cents/day (~$21M) — the round-7 ADVICE hazard
        (abs(col("x").cast("decimal(38,0)") * col("den") - col("num"))
          * col("nchg") >
          col("den").cast("decimal(38,0)") * col("sumabs") * 3).cast("int"))
      .join(newDays, Seq("event_type", "day_us"), "left_semi")
      .select(col("event_type"), col("day_us"), col("x").as("x_cents"),
        col("ewma_c"), col("alarm"))
  }

  /** The continuous form of [[ewmaBatch]]: watermarked per-type daily
    * revenue in APPEND mode, `onAlarm(event_type, day_us, x_cents)`
    * per flagged day — the small-shift pager beside
    * [[startCusumMonitor]]'s drift pager (EWMA reacts within ~1/λ
    * days to shifts CUSUM needs a longer run to accumulate). */
  def startEwmaMonitor(events: DataFrame, daysDir: String,
                       checkpointDir: String,
                       watermarkDelay: String = "2 hours",
                       onAlarm: (String, Long, Long) => Unit = (_, _, _) => ())
      : StreamingQuery =
    Continuous.run(dailyCents(events, watermarkDelay, col("event_type")),
        checkpointDir) { (batch, _) =>
      val scored = ewmaBatch(batch, daysDir)
      scored.filter(col("alarm") === 1).collect()
        .foreach(r => onAlarm(r.getString(0), r.getLong(1), r.getLong(2)))
      Some(scored)
    }

  /** The continuous form of [[cusumBatch]]: watermarked tumbling DAILY
    * revenue in APPEND mode, `onAlarm(day_us, cusum_cents)` per flagged
    * side — the slow-drift pager beside [[startBurstMonitor]]'s spike
    * pager (a 10% sag no single day's z-score sees accumulates in the
    * low-side CUSUM within days). */
  def startCusumMonitor(events: DataFrame, daysDir: String,
                        checkpointDir: String,
                        targetCents: Long, slackCents: Long, alarmCents: Long,
                        watermarkDelay: String = "2 hours",
                        onAlarm: (Long, Long) => Unit = (_, _) => ())
      : StreamingQuery =
    Continuous.run(dailyCents(events, watermarkDelay), checkpointDir) { (batch, _) =>
      val scored = cusumBatch(batch, daysDir, targetCents, slackCents, alarmCents)
      scored.filter(col("alarm_hi") === 1 || col("alarm_lo") === 1).collect()
        .foreach(r => onAlarm(r.getLong(0), math.max(r.getLong(2), r.getLong(3))))
      Some(scored)
    }

  /** Watermark-closed UTC days of revenue in integer cents per `keys`:
    * the `(day_us, keys…, cents)` input of [[cusumBatch]] and
    * [[ewmaBatch]]. */
  private def dailyCents(events: DataFrame, watermarkDelay: String,
                         keys: Column*): DataFrame =
    Continuous.closedWindows(events, "1 day", watermarkDelay, keys: _*)(
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumnRenamed("win_us", "day_us")

  /** The continuous form: watermarked tumbling hourly counts in APPEND
    * mode driven through [[burstBatch]], `onAlarm(win_us, z)` fired per
    * flagged hour — the rate-spike pager a continuously-ingesting
    * pipeline runs next to the drift monitors. */
  def startBurstMonitor(events: DataFrame, hoursDir: String,
                        checkpointDir: String,
                        watermarkDelay: String = "2 hours",
                        onAlarm: (Long, Double) => Unit = (_, _) => ())
      : StreamingQuery =
    Continuous.run(Continuous.closedWindows(events, "1 hour", watermarkDelay)(
        count(lit(1)).as("n_events")), checkpointDir) { (batch, _) =>
      val scored = burstBatch(batch, hoursDir)
      scored.filter(col("burst") === 1).collect()
        .foreach(r => onAlarm(r.getLong(0), r.getDouble(3)))
      Some(scored)
    }

  /** In-stream exact dedup on a key (content hash / event id): the
    * streaming analog of the md5 anti-join — a true duplicate is dropped
    * even when it arrives with a DIFFERENT event time (the key alone
    * decides identity, exactly like the md5 comparison), via
    * `dropDuplicatesWithinWatermark`: state for a key expires once the
    * watermark passes its event time, so memory stays bounded at any
    * stream length without `ts` polluting the identity.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermarkDelay: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark(keyCols)
    else {
      // batch twin: same key-only identity, DETERMINISTIC survivor —
      // keep the earliest event time per key, with the remaining payload
      // columns as a total-order tiebreaker: rows tying on (key, ts)
      // with different payloads would otherwise surface whichever row
      // partition order produced first, varying run to run. Only
      // ORDERABLE columns participate (a map payload column would fail
      // the sort's analysis; rows tying on every orderable column are
      // genuinely indistinguishable to an orderBy anyway).
      val tiebreak = events.schema.fields
        .filter(f => !keyCols.contains(f.name) && f.name != "ts" &&
          org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
        .map(_.name).sorted.map(col)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*).orderBy(col("ts") +: tiebreak: _*)
      events.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }

  /** Incremental archive ingestion: a checkpointed streaming query
    * draining a file source into the UTC date-partitioned archive
    * ([[graft.core.Sinks]]). The checkpoint replaces the reference's
    * process-local watermark ints (downloader.go:61-62): already-seen
    * files are never re-READ across restarts. Delivery into the plain
    * append parquet sink is AT-LEAST-ONCE — a batch that partially
    * writes before a crash is retried whole, so readers needing exact
    * semantics must dedup downstream (the md5 anti-join / [[dedupStream]])
    * or use a transactional table format for the sink.
    */
  def archiveToParquet(events: DataFrame, outDir: String,
                       checkpointDir: String): StreamingQuery =
    Continuous.run(events, checkpointDir, Trigger.AvailableNow()) { (batch, _) =>
      graft.core.Sinks.writeDatePartitioned(batch, col("ts"), outDir, mode = "append")
      None
    }

  /** Per-user session aggregation — ONE definition shared by the batch
    * query (q39's inner relation) and the streaming twin: Spark's
    * `session_window` is batch/stream agnostic, so the oracle-checked
    * batch semantics and the continuous job cannot drift apart.
    * A session is [first_ts, last_ts + gap); an event landing exactly
    * `gap` after its predecessor opens a NEW session (the boundary rule
    * q39's gaps-and-islands oracle pins with `>=`).
    */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("span_us"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        col("n_ev"), col("span_us"))

  /** Continuous sessionization — q39's streaming twin: watermark-CLOSED
    * sessions (append mode: a session emits exactly once, when the
    * watermark passes its end and its state is dropped) land in a
    * parquet session store via the file sink, whose `_spark_metadata`
    * commit log makes delivery EXACTLY-ONCE across crash/replay —
    * readers list committed files only, so a half-written retried batch
    * is invisible. State is O(open sessions), bounded by the watermark;
    * merging out-of-order events into an open session is the state
    * store's job, never a re-read of emitted history.
    */
  def startSessionizer(events: DataFrame, sessionDir: String,
                       checkpointDir: String,
                       gap: String = "30 minutes",
                       watermarkDelay: String = "2 hours")
      : org.apache.spark.sql.streaming.StreamingQuery =
    sessionAgg(events.withWatermark("ts", watermarkDelay), gap)
      .writeStream
      .format("parquet")
      .option("path", sessionDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .start()

  /** Stream-static enrichment: join a live event stream against a
    * static dimension table. The static side is planned per micro-batch
    * — dimension updates between batches are picked up, and Catalyst
    * broadcasts it when it fits the threshold (no forced hint: a large
    * dim must be allowed to shuffle rather than OOM the driver).
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(dim, key)

  /** Stream-stream join with event-time bounds: pair each view with
    * purchases by the same user within [0, maxDelay] after it.
    * Watermarks on both sides bound the buffered state — without them a
    * stream-stream join would hold both streams forever.
    */
  def viewToPurchase(views: DataFrame, purchases: DataFrame,
                     watermarkDelay: String = "1 hour",
                     maxDelay: String = "30 minutes"): DataFrame = {
    val v = views.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val p = purchases.withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    v.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $maxDelay"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"))
  }

  /** Streaming SCD-1 materialized view: every micro-batch reduces to its
    * latest row per key and MERGEs into the stored table — the unbounded
    * twin of q77 ([[graft.operators.Merge]]), and the streaming form of
    * the reference's current-pointer promotion generalized to row keys.
    *
    * Per batch: (1) keep one row per key — the highest `versionCols`
    * tuple wins within the batch; (2) the upsert itself is
    * [[graft.operators.Merge.upsertInto]]'s bucketed-table merge, with
    * `versionCols` passed through so an out-of-order update landing in a
    * LATER batch with a LOWER version tuple is rejected against the
    * STORED row — cross-batch SCD-1 ordering, not just within-batch.
    * The table layer also CREATES the table on the first batch
    * (write-tmp-then-rename — a crash mid-create can't leave a
    * half-written table that wedges replays) and restores any bucket
    * stranded in a swap window. Replay-safe: re-running a batch (crash
    * before the checkpoint commits) re-asserts the same keyed rows, and
    * re-asserting already-present versions is filtered to a no-op —
    * effectively-once state from an at-least-once sink.
    *
    * At scale: the batch broadcasts, and ONLY the key-hash buckets the
    * batch touches are read and rewritten — per-trigger I/O is
    * O(touched buckets), not O(table). Readers of a bucket mid-swap may
    * observe a brief absence (healed by [[graft.operators.Merge.readTable]];
    * a transactional table format removes the window entirely).
    */
  def startUpsertSink(updates: DataFrame, tablePath: String,
                      checkpointDir: String, keys: Seq[String],
                      versionCols: Seq[String])
      : StreamingQuery = {
    require(keys.nonEmpty && versionCols.nonEmpty)
    Continuous.run(updates, checkpointDir) { (batch, _) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(versionCols.map(col(_).desc): _*)
      val latest = batch.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      // versionCols passes through to the table layer: an out-of-
      // order update arriving in a LATER batch with a lower version
      // tuple is dropped against the STORED row's version, not just
      // reduced within its own batch — cross-batch SCD-1 ordering
      graft.operators.Merge.upsertInto(
        batch.sparkSession, tablePath, latest, keys,
        versionCols = versionCols)
      None
    }
  }

  /** Continuous heavy hitters — q79's streaming twin: each micro-batch
    * aggregates to its own Misra-Gries sketch (ONE distributed pass,
    * partial-aggregable, ≤ capacity rows reach the driver), which folds
    * into the stored running sketch via the driver-side mergeable-
    * summaries rule ([[graft.operators.FrequentItems.mergeSketches]];
    * undercount bound adds across merges). The store is (item, est,
    * batch_id) parquet replaced through the crash-safe atomic swap.
    *
    * TRANSACTIONAL against replay, the standard foreachBatch idempotence
    * pattern: the sketch only merges when `batchId` EXCEEDS the stored
    * one — a batch replayed after a crash-before-checkpoint-commit finds
    * its own id already recorded and skips the merge, so nothing
    * double-counts. The replayed batch still fires `onUpdate` from the
    * STORED sketch (a crash between swap and callback must not silently
    * drop the notification), so delivery is at-least-once — consumers
    * needing exactly-once should read the store instead. Corollary: one
    * sketch store belongs to one checkpoint lineage (a fresh checkpoint
    * restarts batch ids at 0 and will skip against an old store — point
    * it at a fresh sketchDir too).
    */
  def startHeavyHittersMonitor(updates: DataFrame, termCol: String,
                               sketchDir: String, checkpointDir: String,
                               capacity: Int = 64,
                               onUpdate: Seq[(String, Long)] => Unit = _ => ())
      : StreamingQuery =
    Continuous.run(updates, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      import spark.implicits._
      def pairs(df: DataFrame) = df.select("item", "est").as[(String, Long)].collect().toSeq
      var merged = Seq.empty[(String, Long)]
      Continuous.mergeBatch(spark, sketchDir, "sketch", batchId, Seq("item", "est")) { stored =>
        val bs = batch
          .agg(graft.operators.FrequentItems.sketch(capacity)(col(termCol)).as("hh"))
          .head().getSeq[org.apache.spark.sql.Row](0)
          .map(r => (r.getString(0), r.getLong(1)))
        merged = graft.operators.FrequentItems
          .mergeSketches(stored.fold(Seq.empty[(String, Long)])(pairs), bs, capacity)
        merged.toDF("item", "est")
      } match {
        case Continuous.Merged => onUpdate(merged)
        // replay of the batch whose merge already committed: don't
        // re-merge (double-count), but don't drop the notification a
        // pre-callback crash may have lost — at-least-once delivery
        case Continuous.Replayed =>
          onUpdate(pairs(spark.read.parquet(sketchDir)).sortBy { case (t, n) => (-n, t) })
        case Continuous.Stale => ()
      }
      None
    }

  /** Continuous count-min maintenance — q130's streaming twin, and the
    * DISTRIBUTED member of the sketch-twin family: where the
    * Misra-Gries monitor above collects its capacity-bounded sketch to
    * the driver, the CMS cells stay a DataFrame end to end — each
    * micro-batch builds its own cells ([[graft.operators.CountMin
    * .cells]], one partial-aggregable scan) and folds into the store by
    * cellwise ADD ([[graft.operators.CountMin.merge]]). Integer
    * addition is associative and commutative, so incremental
    * maintenance is BIT-EQUAL to a batch rebuild over the full corpus
    * regardless of how the stream was batched (spec-pinned) — the
    * mergeable-summaries property, same family as the KMV store's
    * min-union, but where KMV merge is idempotent under replay CMS
    * addition is NOT: replay protection is the batch-id transaction
    * rule (merge only when `batchId` exceeds the stored id), shared
    * verbatim with the heavy-hitters monitor above. The store is
    * (j, b, c, batch_id) parquet — ≤ d×256 cells — swapped atomically;
    * any consumer answers point-frequency queries from the store
    * without touching the corpus ([[graft.operators.CountMin
    * .estimates]] against a broadcast of it). */
  def startCountMinMonitor(updates: DataFrame, itemCol: String,
                           sketchDir: String, checkpointDir: String,
                           d: Int = 4)
      : StreamingQuery =
    Continuous.run(updates, checkpointDir) { (batch, batchId) =>
      // a replayed batch id is skipped (cell addition would double-
      // count); consumers read the store, so nothing is re-delivered
      Continuous.mergeBatch(batch.sparkSession, sketchDir, "sketch", batchId,
          Seq("j", "b", "c")) { stored =>
        val bs = graft.operators.CountMin.cells(batch.select(col(itemCol)), itemCol, d)
        stored.fold(bs)(graft.operators.CountMin.merge(_, bs))
      }
      None
    }

  /** Continuous FK-ORPHAN monitor — q256's streaming twin for one
    * declared edge (the governance shelf's audit-as-you-ingest story):
    * each micro-batch LeftAnti-probes the BROADCAST distinct parent
    * key set (exactly the q256 batch shape — orphan rows only ever
    * touch the fold) and merges per-key orphan occurrence counts plus
    * a reserved totals row into the store by integer addition —
    * mergeable like the CMS cells, so batching never matters and a
    * crash-replayed batch is skipped by the same batch-id guard
    * ([[startCountMinMonitor]]'s transactional discipline, two-rename
    * atomic swap included). NULL child keys are orphans (q256's
    * null-safe contract) and keep their own store row — the totals
    * row is distinguished by the `tot` flag, never by key nullness.
    * State is orphan-key-set-sized (~empty on healthy feeds), the
    * whole point of auditing AT ingest rather than over the
    * accumulated corpus. [[fkOrphanAudit]] serves the q256-shaped
    * audit row FROM the store without touching any event. */
  def startFkOrphanMonitor(updates: DataFrame, keyCol: String,
                           parentKeys: DataFrame, storeDir: String,
                           checkpointDir: String)
      : StreamingQuery =
    Continuous.run(updates, checkpointDir) { (batch, batchId) =>
      Continuous.mergeBatch(batch.sparkSession, storeDir, "orphans", batchId,
          Seq("tot", "k", "cnt")) { stored =>
        val pkCol = parentKeys.columns.head
        val pks = parentKeys
          .select(col(pkCol).cast("long").as("pk")).distinct()
        val child = batch.select(col(keyCol).cast("long").as("k"))
        val totals = child.agg(count(lit(1)).as("cnt"))
          .select(lit(true).as("tot"), lit(null).cast("long").as("k"),
            col("cnt"))
        val orphans = child
          .join(broadcast(pks), col("k") === col("pk"), "left_anti")
          .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
          .select(lit(false).as("tot"), col("k"), col("cnt"))
        val bs = totals.unionByName(orphans)
        stored.fold(bs)(_.unionByName(bs))
          .groupBy(col("tot"), col("k")).agg(sum(col("cnt")).as("cnt"))
      }
      None
    }

  /** CONTINUOUS SRM monitor — q281's streaming twin: the store holds
    * the distinct (event_type, user_id) pairs seen so far, each batch
    * merges its own distinct pairs by SET UNION — idempotent, so
    * unlike the count-addition stores (CMS/FK-orphan) no batch-id
    * transaction rule is needed: a crash-replayed batch's pairs are
    * already members and the union dedups them (the KMV-store replay
    * discipline, spec-pinned). [[srmAudit]] folds the store into
    * exactly q281's rows, so incremental maintenance is bit-equal to
    * the batch audit over any prefix and any batching. The stored
    * distinct set is the exact form; at 10⁹ users per surface the
    * KMV/theta pair store (q156's twin) is the documented sketch dial.
    * `onBreach` fires after each merge with the surfaces whose χ²
    * crossed the 3.841 critical value — the page a misconfigured
    * randomizer triggers mid-experiment rather than at readout.
    * Cost note: the swap-store pattern rewrites the whole pair store
    * per batch (unavoidable for an atomic single-dir store; this is
    * the only corpus-sized monitor store, so at high user cardinality
    * the KMV/theta pair sketch is the documented dial — and the
    * breach check folds the already-materialized merge result, never
    * re-reading the just-written files). */
  def startSrmMonitor(events: DataFrame, storeDir: String,
                      checkpointDir: String,
                      onBreach: Seq[String] => Unit = _ => ())
      : StreamingQuery =
    Continuous.run(events, checkpointDir) { (batch, _) =>
      val bs = batch
        .select(col("event_type").cast("string").as("event_type"),
          col("user_id").cast("long").as("user_id"))
        .distinct()
      val merged = Continuous.readStore(batch.sparkSession, storeDir, "user_id")
        .fold(bs)(_.unionByName(bs).distinct())
      // materialize BEFORE overwriting the store the lineage reads
      val out = merged.localCheckpoint()
      graft.core.Sinks.atomicSwap(storeDir, "srm") { tmp =>
        out.coalesce(1).write.parquet(tmp)
      }
      // breach check folds the already-materialized frame — no
      // second read of the just-written store per batch
      val breached = graft.queries.PipelineQueries.srmFold(out)
        .filter(col("srm_flag") === 1L)
        .select(col("event_type")).collect().map(_.getString(0)).toSeq
      if (breached.nonEmpty) onBreach(breached)
      Some(out)
    }

  /** q281's audit rows served FROM the [[startSrmMonitor]] pair store —
    * the same arm counts, imbalance ppm, χ² milli-units, and breach
    * flag, over everything ingested so far. */
  def srmAudit(spark: org.apache.spark.sql.SparkSession,
               storeDir: String): DataFrame =
    // the SAME fold the declared q281 runs — structural parity
    graft.queries.PipelineQueries.srmFold(spark.read.parquet(storeDir))

  /** The q256-shaped audit row for one edge, served FROM the
    * [[startFkOrphanMonitor]] store: n_rows / n_orphans /
    * n_orphan_keys / valid_ppm over everything ingested so far.
    * countDistinct-style null skipping matches the batch query: a
    * null orphan key counts in n_orphans, never in n_orphan_keys. */
  def fkOrphanAudit(spark: org.apache.spark.sql.SparkSession, storeDir: String): DataFrame = {
    spark.read.parquet(storeDir)
      .agg(sum(when(col("tot"), col("cnt")).otherwise(0L)).as("n_rows"),
        sum(when(!col("tot"), col("cnt")).otherwise(0L)).as("n_orphans"),
        count(when(!col("tot"), col("k"))).as("n_orphan_keys"))
      .withColumn("valid_ppm",
        expr("(n_rows - n_orphans) * 1000000 div n_rows"))
  }

  /** One micro-batch of QUANTILE-SAMPLE maintenance — q247's streaming
    * twin, completing the sketch-twin trio (KMV store ↔ q156, CMS
    * monitor ↔ q130, this ↔ q247): per event type the store holds the
    * k md5-smallest (h, cents) pairs seen so far, each batch folds its
    * own bottom-k (one partial-aggregable scan, the q247 aggregate)
    * and merges by BOTTOM-K UNION — min-union is idempotent, so unlike
    * the CMS monitor no batch-id transaction rule is needed: a
    * crash-replayed batch's pairs are already members and the union
    * dedups them (the KMV store's replay discipline, spec-pinned).
    * Incremental maintenance is BIT-EQUAL to the batch rebuild over
    * the full corpus regardless of batching (bottom-k of a union =
    * bottom-k of bottom-ks — the mergeable-summaries property q247
    * declares). Returns the store's current p50/p95 per type — the
    * same discrete order statistics q247 emits (the exact row count,
    * NOT maintainable idempotently, deliberately stays with the batch
    * query / the CMS family's transaction rule). */
  def quantileSampleBatch(batch: DataFrame, skDir: String,
                          k: Int = 256): DataFrame = {
    val arrT = "array<struct<h:string,cents:bigint>>"
    val bs = batch
      .select(col("event_type"),
        md5(concat(lit("qs|"), col("event_id").cast("string"))).as("h"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(graft.operators.TopK.minKByString(k)(col("h"), col("cents")).as("sk"))
      .select(col("event_type"),
        expr("transform(sk, p -> struct(p._1 AS h, p._2 AS cents))").as("smp"))
    val merged = Continuous.readStore(batch.sparkSession, skDir, "smp") match {
      case Some(st) =>
        bs.join(st.select(col("event_type"), col("smp").as("old")),
            Seq("event_type"), "full")
          .select(col("event_type"),
            slice(array_sort(array_union(
              coalesce(col("smp"), expr(s"CAST(array() AS $arrT)")),
              coalesce(col("old"), expr(s"CAST(array() AS $arrT)")))),
              1, k).as("smp"))
      case None => bs
    }
    // materialize BEFORE overwriting the store the lineage reads
    val out = merged.localCheckpoint()
    graft.core.Sinks.atomicSwap(skDir, "sketch") { tmp =>
      out.coalesce(1).write.parquet(tmp)
    }
    val q = out
      .withColumn("cs", array_sort(expr("transform(smp, x -> x.cents)")))
      .withColumn("m", size(col("cs")))
      .select(col("event_type"),
        element_at(col("cs"), ceil(col("m") * lit(0.5)).cast("int"))
          .as("p50_cents"),
        element_at(col("cs"), ceil(col("m") * lit(0.95)).cast("int"))
          .as("p95_cents"))
      .orderBy(col("event_type"))
      .localCheckpoint()
    graft.core.Pins.releaseCheckpoint(out)
    q
  }

  /** Continuous funnel monitor — the streaming twin of q87: per-user
    * ordered view → click → purchase stage times as typed state, an
    * update emitted whenever a user's progress changes. State is ONE
    * 3-field row per user regardless of stream length (the stages are
    * first-reach times — no event buffer).
    *
    * Within a micro-batch a user's rows are walked in (ts, eventId)
    * order, so arrival order inside a batch never matters. ACROSS
    * batches the twin is EXACT when each user's events arrive
    * non-decreasing in event time (delay the feed by a watermark
    * upstream to get that); under genuine cross-batch disorder the
    * stages only ever TIGHTEN monotonically — a late earlier view
    * lowers tv but does not re-admit clicks that preceded the old tv
    * (that would need an unbounded per-user event buffer, the same
    * trade [[asOfEnrich]] documents for retro-correction).
    */
  def funnelProgress(events: Dataset[Event]): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelProgress, FunnelProgress](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[FunnelProgress]) =>
          var st = state.getOption.getOrElse(FunnelProgress(userId, 0L, 0L, 0L))
          val before = st
          rows.toSeq.sortBy(e => (e.tsMicros, e.eventId)).foreach { e =>
            e.eventType match {
              case "view"
                if st.tvMicros == 0L || e.tsMicros < st.tvMicros =>
                st = st.copy(tvMicros = e.tsMicros)
              case "click"
                if st.tvMicros != 0L && e.tsMicros > st.tvMicros &&
                  (st.tcMicros == 0L || e.tsMicros < st.tcMicros) =>
                st = st.copy(tcMicros = e.tsMicros)
              case "purchase"
                if st.tcMicros != 0L && e.tsMicros > st.tcMicros &&
                  (st.tpMicros == 0L || e.tsMicros < st.tpMicros) =>
                st = st.copy(tpMicros = e.tsMicros)
              case _ => ()
            }
          }
          if (st != before) { state.update(st); Iterator.single(st) }
          else Iterator.empty
      }
  }

  /** Streaming AS-OF enrichment — the unbounded twin of
    * [[graft.operators.AsOfJoin.backward]]: one merged stream of
    * side-tagged rows per key (state updates + facts), each fact
    * emitted with the latest update payload at-or-before its event
    * time. State is ONE row per key (the current update), not a
    * buffer of history — the streaming-native shape of the operator.
    *
    * Within a micro-batch a group's rows are walked in (time, side)
    * order with updates winning ties, so interleaved arrivals enrich
    * deterministically and identically to the batch operator. ACROSS
    * batches the guarantee is carry-forward: an update arriving in a
    * LATER batch than a fact it precedes in event time cannot
    * retro-correct the already-emitted fact (facts emit exactly once);
    * when that strictness is needed, delay the fact side by a
    * watermark upstream so updates always arrive first. A late update
    * older than the current state never regresses it.
    */
  def asOfEnrich(merged: Dataset[Tagged]): Dataset[Enriched] = {
    import merged.sparkSession.implicits._
    merged.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfState, Enriched](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[Tagged], state: GroupState[AsOfState]) =>
          var cur = state.getOption
          val out = Seq.newBuilder[Enriched]
          // updates sort before facts at the same instant (inclusive <=)
          rows.toSeq.sortBy(r => (r.tMicros, !r.isUpdate)).foreach { r =>
            if (r.isUpdate) {
              if (cur.forall(_.tMicros <= r.tMicros))
                cur = Some(AsOfState(r.tMicros, r.payload))
            } else out += Enriched(key, r.id, r.tMicros, cur.map(_.payload))
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Continuously-maintained latest-per-user pointer via typed state
    * (flatMapGroupsWithState): emits an update whenever a group's maximum
    * (ts, eventId) changes — the streaming form of the current-pointer
    * promotion (O15). State is one row per user.
    */
  def latestPerUser(events: Dataset[Event]): Dataset[Latest] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[Latest, Latest](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[Latest]) =>
          val incoming = rows.maxByOption(e => (e.tsMicros, e.eventId))
          val best = (incoming, state.getOption) match {
            case (Some(in), Some(cur)) =>
              import scala.math.Ordering.Implicits._
              if ((in.tsMicros, in.eventId) > ((cur.tsMicros, cur.eventId)))
                Some(Latest(userId, in.eventId, in.tsMicros, in.eventType, in.value))
              else None
            case (Some(in), None) =>
              Some(Latest(userId, in.eventId, in.tsMicros, in.eventType, in.value))
            case _ => None
          }
          best.foreach(state.update)
          best.iterator
      }
  }

  /** Continuous TWAP — q178's streaming twin via typed event-time
    * state: per (type, UTC day) the state is the day's RUNNING LOCF
    * integral — (last observation, partial Σ cents·held-μs, Σ held-μs,
    * event count) — one fixed-width row per open day, never an event
    * buffer. A day FINALIZES when the watermark passes its midnight
    * (EventTimeTimeout): the held value extends to day end exactly as
    * batch q178 extends it, and the emitted row carries the identical
    * exact-integer (n, num, den, twap_cents).
    *
    * Within a micro-batch a day's rows integrate in (ts, eventId)
    * order, so batch-internal arrival order never matters; equal
    * timestamps resolve to the later eventId's value holding — the
    * batch query's lead-window tie rule, reproduced. ACROSS batches
    * the twin is exact when per-key events arrive non-decreasing in
    * event time (the watermark-delayed-feed discipline every typed
    * twin here documents); a cross-batch straggler older than the held
    * pointer is COUNTED in n but cannot retro-shape the integral (that
    * would need the event buffer this operator exists to avoid). */
  def twapDaily(events: Dataset[Event],
                watermarkDelay: String = "1 hour"): Dataset[TwapRow] = {
    import events.sparkSession.implicits._
    val dayLenUs = 86400L * 1000000L
    events
      .withColumn("eventTime", timestamp_micros(col("tsMicros")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Event]
      .groupByKey(e => (e.eventType, e.tsMicros / dayLenUs * dayLenUs))
      .flatMapGroupsWithState[TwapState, TwapRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((typ, day), rows, state) =>
          if (state.hasTimedOut) {
            val st = state.get
            val tail = st.dayUs + dayLenUs - st.lastTs
            val num = st.num + st.lastCents * tail
            val den = st.den + tail
            state.remove()
            Iterator.single(TwapRow(st.eventType, st.dayUs, st.n, num, den, num / den))
          } else {
            var st = state.getOption
              .getOrElse(TwapState(typ, day, 0L, 0L, 0L, 0L, 0L))
            rows.toSeq.sortBy(e => (e.tsMicros, e.eventId)).foreach { e =>
              // floor(x+0.5) = Spark's HALF_UP round() on this domain
              // (values nonnegative)
              val cents = math.floor(e.value * 100 + 0.5).toLong
              if (st.n == 0L)
                st = st.copy(lastTs = e.tsMicros, lastCents = cents, n = 1L)
              else if (e.tsMicros >= st.lastTs)
                st = st.copy(
                  num = st.num + st.lastCents * (e.tsMicros - st.lastTs),
                  den = st.den + (e.tsMicros - st.lastTs),
                  lastTs = e.tsMicros, lastCents = cents, n = st.n + 1L)
              else st = st.copy(n = st.n + 1L)
            }
            state.update(st)
            state.setTimeoutTimestamp(math.max((day + dayLenUs) / 1000L,
              state.getCurrentWatermarkMs + 1L))
            Iterator.empty
          }
      }
  }

  // ------------------------------------------------------------ profile

  /** One batch of the continuous COLUMN-PROFILE maintainer — q161's
    * streaming twin, proving the "every aggregate mergeable" claim by
    * actually merging. The wide profile row itself is NOT the mergeable
    * representation (its histogram bins depend on the global bounds,
    * which move as data arrives — bins stored per batch could never be
    * re-binned); what merges is
    *   (a) the value-domain-sized cents GRID (count, bounds and ANY
    *       binning derive from it — the q167 insight applied to
    *       incremental maintenance),
    *   (b) the distinct user/type key stores (an exact NDV is not
    *       mergeable as a NUMBER, but it is as a SET), and
    *   (c) a per-batch meta row for row/null tallies.
    * Store discipline: append-only parquet, (batch_id, …)-keyed with
    * max-dedup on read for grid/meta, value-dedup on read for the key
    * stores — a crash-replay re-append of the same batch cannot
    * double-count (the burst/count-min replay rule). Per-batch cost is
    * the batch scan + value-domain-sized writes, never the stream
    * life. */
  def profileBatch(batch: DataFrame, batchId: Long, profDir: String): Unit = {
    val b = batch.select(col("user_id"), col("event_type"), col("props"),
      round(col("value") * 100).cast("long").as("cents"))
      .localCheckpoint()
    try {
      b.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
        .withColumn("batch_id", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"$profDir/grid")
      b.select(col("user_id")).distinct()
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"$profDir/users")
      b.select(col("event_type")).distinct()
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"$profDir/types")
      b.agg(count(lit(1)).as("n_rows"),
          sum(when(col("props").isNull, 1L).otherwise(0L)).as("null_props"))
        .withColumn("batch_id", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"$profDir/meta")
    } finally b.unpersist()
  }

  /** The maintained profile derived from the stores — bit-identical to
    * batch q161 over the union of every ingested batch (spec-pinned,
    * including a replayed batch). Bins are (re)derived from the CURRENT
    * global bounds over the grid, so the moving-bounds problem never
    * exists; the heaviest read is the value-domain-sized grid plus one
    * distinct count over each key store. */
  def profileSnapshot(spark: org.apache.spark.sql.SparkSession,
                      profDir: String): DataFrame = {
    val grid = spark.read.parquet(s"$profDir/grid")
      .groupBy(col("batch_id"), col("cents")).agg(max(col("cnt")).as("cnt"))
      .groupBy(col("cents")).agg(sum(col("cnt")).as("cnt"))
    val bounds = grid.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
    val hist = (0 to 9).map(i =>
      sum(when(col("bin") === i, col("cnt")).otherwise(0L)).as(s"h$i"))
    val binned = grid.crossJoin(broadcast(bounds))
      .withColumn("bin",
        least(lit(9L), (lit(10L) * (col("cents") - col("lo")))
          .divide(greatest(lit(1L), col("hi") - col("lo"))).cast("long")))
      .groupBy()
      .agg(min(col("cents")).as("lo_cents"), Seq(max(col("cents")).as("hi_cents")) ++ hist: _*)
    val meta = spark.read.parquet(s"$profDir/meta")
      .groupBy(col("batch_id"))
      .agg(max(col("n_rows")).as("n_rows"), max(col("null_props")).as("null_props"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("null_props")).as("null_props"))
    val users = spark.read.parquet(s"$profDir/users")
      .agg(countDistinct(col("user_id")).as("n_users"))
    val types = spark.read.parquet(s"$profDir/types")
      .agg(countDistinct(col("event_type")).as("n_types"))
    val outCols = Seq("n_rows", "n_users", "n_types", "null_props",
      "lo_cents", "hi_cents") ++ (0 to 9).map(i => s"h$i")
    meta.crossJoin(users).crossJoin(types).crossJoin(binned)
      .select(outCols.map(col): _*)
  }

  /** Continuous SCHEMA-DRIFT monitor — q274's streaming twin: the batch
    * profiler reads a snapshot; this watches a semi-structured feed AS
    * IT ARRIVES and alerts the moment a key's type set grows (the int
    * key that starts arriving as a string is caught at the batch that
    * introduced it, not in tomorrow's profile run). Each micro-batch
    * folds its (key, type-class) counts through the SAME
    * [[graft.functions.JsonOps]] kernels the batch query uses (one
    * shared definition, two consumers), and merges into the store by
    * integer ADDITION — mergeable like the CMS cells, so the store is
    * BIT-EQUAL to a batch rebuild over the ingested prefix for any
    * batching (spec-pinned). Addition is not replay-idempotent, so the
    * batch-id transaction rule guards the merge (merge only when
    * `batchId` exceeds the stored id); the overwrite rides the atomic
    * swap with heal-on-entry. `onDrift` receives the sorted keys whose
    * type set exceeds one AFTER the merge — at-least-once (a replayed
    * batch re-delivers from the stored counts; consumers needing
    * exactly-once read the store). */
  def startSchemaDriftMonitor(updates: DataFrame, jsonCol: String,
                              storeDir: String, checkpointDir: String,
                              onDrift: Seq[String] => Unit = _ => ())
      : StreamingQuery =
    Continuous.run(updates, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      Continuous.mergeBatch(spark, storeDir, "sketch", batchId,
          Seq("key", "ty", "n")) { stored =>
        val bs = batch
          .select(graft.functions.JsonOps.keyValues(col(jsonCol))
            .as(Seq("key", "v")))
          .select(col("key"),
            graft.functions.JsonOps.typeClass(col("v")).as("ty"))
          .groupBy(col("key"), col("ty"))
          .agg(count(lit(1)).as("n"))
        stored.fold(bs)(st =>
          bs.join(st.select(col("key"), col("ty"), col("n").as("o")),
              Seq("key", "ty"), "full")
            .select(col("key"), col("ty"),
              (coalesce(col("n"), lit(0L)) + coalesce(col("o"), lit(0L))).as("n")))
      } match {
        // a replay of a committed batch doesn't double-count, but
        // re-delivers a notification a pre-callback crash may have lost
        case Continuous.Merged | Continuous.Replayed =>
          onDrift(spark.read.parquet(storeDir)
            .groupBy(col("key"))
            .agg(countDistinct(col("ty")).as("nty"))
            .filter(col("nty") > 1)
            .select("key").collect().map(_.getString(0)).toSeq.sorted)
        case Continuous.Stale => ()
      }
      None
    }
}
