package graft.operators

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** RETENTION-BOUNDED SEQUENCE STATE — keep-last-K per key as a typed
  * [[Aggregator]], the operator form of the "retention dial" the
  * per-user sequence queries narrate (q291's 100× probe shows a lag
  * window paying 100×-longer user histories inside single tasks: a
  * window must sort and hold each user's FULL sequence, so per-task
  * cost grows with history length forever). This fold bounds the
  * state instead: the buffer holds at most k (us, id, payload)
  * triples under the (us DESC, id DESC) recency order, `reduce`
  * rejects a non-member of the last-K in O(1) once the buffer is
  * warm (the q247 sorted-buffer lesson), and `merge` trims eagerly —
  * so the aggregate is partial-aggregable: map-side combine ships at
  * most k rows per user per partition and the shuffle carries
  * O(users × k) REGARDLESS of history length. At 100× longer
  * histories the scan grows 100× but per-task state and the exchange
  * stay flat — SequenceRetentionSpec's "buffer never exceeds k" test
  * pins the bound, so this is not a doc note.
  *
  * Determinism: (us DESC, id DESC) with a unique id is a total order,
  * so the kept tail is bit-identical under any partitioning and
  * replayable by a row_number window in any engine — which is what
  * lets the operator sit behind the exact cross-engine oracle (q302).
  *
  * `finish` reverses the buffer to CHRONOLOGICAL order (us ASC, id
  * ASC): consumers read the kept tail as "the user's recent history,
  * oldest first" — the feature-extraction contract (session
  * fingerprints, next-event features) that motivates keeping it.
  */
class LastKAgg(k: Int)
    extends Aggregator[(Long, Long, String), Seq[(Long, Long, String)],
      Seq[(Long, Long, String)]] {
  // recency order: newer first; unique id breaks timestamp ties
  private def newer(a: (Long, Long, String), b: (Long, Long, String)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 > b._2)

  private def trim(s: Seq[(Long, Long, String)]): Seq[(Long, Long, String)] =
    s.sortWith(newer).take(k)

  override def zero: Seq[(Long, Long, String)] = Vector.empty
  // sorted buffer ⇒ O(1) reject of anything older than the kept tail
  override def reduce(buf: Seq[(Long, Long, String)],
                      in: (Long, Long, String)): Seq[(Long, Long, String)] =
    if (buf.length >= k && !newer(in, buf.last)) buf
    else trim(buf :+ in).toVector
  override def merge(a: Seq[(Long, Long, String)],
                     b: Seq[(Long, Long, String)]): Seq[(Long, Long, String)] =
    trim(a ++ b).toVector
  override def finish(buf: Seq[(Long, Long, String)]): Seq[(Long, Long, String)] =
    buf.reverse
  override def bufferEncoder: Encoder[Seq[(Long, Long, String)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Long, Long, String)]] =
    bufferEncoder
}

object SequenceRetention {
  /** Column aggregate: the last k (us, id, payload) triples per group
    * by (us DESC, id DESC), returned in chronological (us ASC, id ASC)
    * order as an array of structs (fields `_1` = us, `_2` = id,
    * `_3` = payload). Usage:
    * `df.groupBy(user).agg(SequenceRetention.lastK(8)(us, id, etype))`. */
  def lastK(k: Int): (Column, Column, Column) => Column = {
    val fn = udaf(new LastKAgg(k))
    (us, id, payload) => fn(us, id, payload)
  }
}
