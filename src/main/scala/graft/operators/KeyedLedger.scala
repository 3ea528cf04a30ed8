package graft.operators

import org.apache.spark.sql.{Dataset, Encoders}

/** One ledger posting: `delta` applied to `key`'s balance in
  * (`tsUs`, `seq`) order — `seq` is the unique tiebreaker (event id). */
case class LedgerEvent(key: Long, seq: Long, tsUs: Long, delta: Long)

/** Per-key ledger outcome: final clamped balance plus how often each
  * bound bit. */
case class LedgerResult(key: Long, n_events: Long, final_balance: Long,
                        n_capped: Long, n_floored: Long)

/** CLAMPED running balance per key — the genuinely SEQUENTIAL per-key
  * fold (loyalty points with an earn cap and a zero floor, credit
  * limits, inventory with shelf capacity): balance' = clamp(balance +
  * delta, lo, hi) applied in event order.
  *
  * This is the one aggregation shape a window function CANNOT express:
  * the clamp makes each step depend on the POST-CLAMP value of the
  * previous step, so no prefix-sum reformulation exists (contrast
  * q146's forward-fill or the EWMA chart, which both unroll into
  * window algebra). The scale-correct batch form is the typed
  * `KeyValueGroupedDataset.flatMapGroups`: one shuffle on the key,
  * then an in-memory ordered fold per key — per-key state is O(1) and
  * the per-key ROW bound is the retention window (documented: a key's
  * history must fit a task; for unbounded histories the streaming twin
  * is `flatMapGroupsWithState`, the
  * [[graft.streaming.EventStream.streaksLive]] pattern, which
  * carries the same fold incrementally and never re-sorts).
  *
  * Determinism: the fold orders by (tsUs, seq) — a total order — and
  * clamp arithmetic is exact Long, so the result is bit-identical on
  * any partitioning.
  */
object KeyedLedger {
  def cappedBalance(ds: Dataset[LedgerEvent], lo: Long, hi: Long)
      : Dataset[LedgerResult] = {
    require(lo <= 0 && 0 <= hi, "the opening balance 0 must lie in [lo, hi]")
    implicit val enc = Encoders.product[LedgerResult]
    ds.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroups { (k: Long, it: Iterator[LedgerEvent]) =>
        val rows = it.toArray.sortBy(e => (e.tsUs, e.seq))
        var bal = 0L; var nCap = 0L; var nFloor = 0L
        var i = 0
        while (i < rows.length) {
          val raw = bal + rows(i).delta
          if (raw > hi) { bal = hi; nCap += 1 }
          else if (raw < lo) { bal = lo; nFloor += 1 }
          else bal = raw
          i += 1
        }
        Iterator.single(LedgerResult(k, rows.length.toLong, bal, nCap, nFloor))
      }
  }
}
