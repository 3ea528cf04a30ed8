package graft.operators

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Exact per-group top-k as a typed [[Aggregator]]: the buffer holds at
  * most k (value, id) pairs, `reduce`/`merge` trim eagerly, so the
  * aggregate is partial-aggregable — map-side combine keeps k rows per
  * group per partition and the shuffle carries O(groups × k), versus the
  * window formulation's full per-group shuffle + sort. This is the
  * `TypedImperativeAggregate`-style top-k SURVEY §4 reserves for the
  * 100 TB path (row_number windows keep whole groups resident).
  *
  * Ordering: value DESC, id ASC (the unique id makes results
  * deterministic under value ties, like the reference's lexicographic
  * `tail -n 1` tie-break).
  */
class TopKAgg(k: Int) extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
  private def order(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  private def trim(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
    s.sortWith(order).take(k)

  override def zero: Seq[(Double, Long)] = Vector.empty
  // the buffer is kept sorted, so a full buffer rejects a non-member
  // in O(1) (the overwhelmingly common case once the buffer warms —
  // a per-row re-sort made a k=256 aggregate the scan's wall)
  override def reduce(buf: Seq[(Double, Long)], in: (Double, Long)): Seq[(Double, Long)] =
    if (buf.length >= k && !order(in, buf.last)) buf
    else trim(buf :+ in).toVector
  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    trim(a ++ b).toVector
  override def finish(buf: Seq[(Double, Long)]): Seq[(Double, Long)] = buf
  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] = bufferEncoder
}

/** [[TopKAgg]]'s string-keyed sibling: the k LEXICOGRAPHICALLY-smallest
  * (key, id) pairs per group — the fixed-size deterministic sampler
  * (k-smallest md5 per stratum IS a uniform without-replacement sample,
  * and the hex string order is portable across engines where a
  * float-converted hash would round). Same partial-aggregable shape:
  * the shuffle carries O(groups × k), never the stratum.
  */
class MinKByStringAgg(k: Int)
    extends Aggregator[(String, Long), Seq[(String, Long)], Seq[(String, Long)]] {
  private def order(a: (String, Long), b: (String, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  private def trim(s: Seq[(String, Long)]): Seq[(String, Long)] =
    s.sortWith(order).take(k)

  override def zero: Seq[(String, Long)] = Vector.empty
  // sorted buffer ⇒ O(1) reject once full (the q247 k=256 lesson:
  // a per-row re-sort made the aggregate the scan's wall)
  override def reduce(buf: Seq[(String, Long)], in: (String, Long)): Seq[(String, Long)] =
    if (buf.length >= k && !order(in, buf.last)) buf
    else trim(buf :+ in).toVector
  override def merge(a: Seq[(String, Long)], b: Seq[(String, Long)]): Seq[(String, Long)] =
    trim(a ++ b).toVector
  override def finish(buf: Seq[(String, Long)]): Seq[(String, Long)] = buf
  override def bufferEncoder: Encoder[Seq[(String, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(String, Long)]] = bufferEncoder
}

/** [[MinKByStringAgg]]'s long-keyed sibling: the k smallest (key, id)
  * pairs per group under the lexicographic (key ASC, id ASC) order —
  * the partial-aggregable per-group bottom-k for integer sort keys
  * (q245's top-3-by-hash: a collect_list + array_sort + slice builds a
  * pool-sized array per group row-by-row; this keeps a ≤ k buffer with
  * an O(1) reject once warm — the q247 buffer lesson). */
class MinKByLongAgg(k: Int)
    extends Aggregator[(Long, Long), Seq[(Long, Long)], Seq[(Long, Long)]] {
  private def order(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  private def trim(s: Seq[(Long, Long)]): Seq[(Long, Long)] =
    s.sortWith(order).take(k)

  override def zero: Seq[(Long, Long)] = Vector.empty
  // sorted buffer ⇒ O(1) reject once full
  override def reduce(buf: Seq[(Long, Long)], in: (Long, Long)): Seq[(Long, Long)] =
    if (buf.length >= k && !order(in, buf.last)) buf
    else trim(buf :+ in).toVector
  override def merge(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    trim(a ++ b).toVector
  override def finish(buf: Seq[(Long, Long)]): Seq[(Long, Long)] = buf
  override def bufferEncoder: Encoder[Seq[(Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Long, Long)]] = bufferEncoder
}

/** The KMV (k-minimum-values / theta) sketch INSERT as a typed
  * [[Aggregator]]: the k lexicographically-smallest DISTINCT strings per
  * group. Distinctness is the defining KMV property (a duplicate hash
  * must not occupy a slot, or the (k−1)/θ estimator biases low), and
  * folding it into the aggregate removes the pre-`distinct()` shuffle
  * the non-deduping [[MinKByStringAgg]] path needs (q112): ONE
  * partial-aggregable pass, map-side buffers capped at k, shuffle
  * O(groups × k) — the sketch's whole point at 100 TB. The buffer is
  * kept sorted, so the common non-member insert above θ is an O(1)
  * reject and membership is an O(k) scan of 64 strings.
  *
  * On md5 input the sketch — hence the estimator — is fully
  * DETERMINISTIC and replayable in any engine (the q112 rationale:
  * the first 13 hex digits are a 52-bit integer, exact in a double,
  * over the power-of-two 16¹³), which is what lets a distinct-COUNT
  * sketch join the oracle-EXACT family (q156) instead of the rows-only
  * HLL policy (q47).
  */
class KmvSketchAgg(k: Int) extends Aggregator[String, Seq[String], Seq[String]] {
  override def zero: Seq[String] = Seq.empty
  // buffer invariant: sorted ascending, distinct, size ≤ k
  override def reduce(buf: Seq[String], in: String): Seq[String] =
    if (buf.length >= k && in >= buf.last) buf
    else if (buf.contains(in)) buf
    else ((buf :+ in).sorted).take(k)
  override def merge(a: Seq[String], b: Seq[String]): Seq[String] =
    (a ++ b).distinct.sorted.take(k)
  override def finish(buf: Seq[String]): Seq[String] = buf
  override def bufferEncoder: Encoder[Seq[String]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[String]] = bufferEncoder
}

object TopK {
  /** Column aggregate: top-k (value, id) pairs per group, ordered value
    * DESC then id ASC. Usage: `df.groupBy(g).agg(TopK.topK(3)(v, id))`. */
  def topK(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKAgg(k))
    (value, id) => fn(value, id)
  }

  /** Column aggregate: the k lexicographically-smallest (key, id) pairs
    * per group, key ASC then id ASC. */
  def minKByString(k: Int): (Column, Column) => Column = {
    val fn = udaf(new MinKByStringAgg(k))
    (key, id) => fn(key, id)
  }

  /** Column aggregate: the k lexicographically-smallest (key, id) LONG
    * pairs per group, key ASC then id ASC ([[MinKByLongAgg]]). */
  def minKByLong(k: Int): (Column, Column) => Column = {
    val fn = udaf(new MinKByLongAgg(k))
    (key, id) => fn(key, id)
  }

  /** Column aggregate: the KMV sketch — k smallest DISTINCT strings per
    * group ([[KmvSketchAgg]]). */
  def kmvSketch(k: Int): Column => Column = {
    val fn = udaf(new KmvSketchAgg(k))
    key => fn(key)
  }
}
