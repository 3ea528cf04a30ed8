package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Median with the midpoint rule for even sample counts. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile: `percentile` is the highest whole percentile whose
    * nearest-rank sample has at least `beyond` samples ranked above it,
    * and `n` is the sample count it was taken from. */
  final case class Tail(percentile: Int, value: Double, n: Int)

  /** The tail of `xs`, or None when too few samples leave `beyond` of them
    * above the median (n < 2 * beyond): a lower percentile is no tail. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n < 2 * beyond) None
    else {
      // nearest rank of percentile p is ceil(p * n / 100); it leaves
      // n - rank samples above it, so the largest p with rank <= n - beyond
      val p = (100L * (n - beyond) / n).toInt
      val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
      Some(Tail(p, xs.sorted.apply(rank - 1), n))
    }
  }

  /** Total length covered by the union of half-open intervals. */
  def unionLength(intervals: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** [[unionLength]] of the intervals clipped to [lo, hi). */
  def unionWithin(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long =
    unionLength(intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) })
}

/** Counts operations for `failed_ratio`: every attempt counts in the
  * denominator, including ones that throw or are refused. */
final class Tally {
  private var attemptedN = 0L
  private var failedN = 0L

  def attempted: Long = attemptedN
  def failed: Long = failedN
  def ratio: Double = if (attemptedN == 0) 0.0 else failedN.toDouble / attemptedN

  /** Run one operation; it fails if it returns false or throws. */
  def record(op: => Boolean): Boolean = {
    attemptedN += 1
    val ok = try op catch { case scala.util.control.NonFatal(_) => false }
    if (!ok) failedN += 1
    ok
  }

  /** Count `n` operations that were attempted outside [[record]], of
    * which `bad` failed (e.g. the files of one iteration). */
  def add(n: Long, bad: Long): Unit = {
    require(bad >= 0 && bad <= n, s"bad=$bad out of n=$n")
    attemptedN += n
    failedN += bad
  }
}
