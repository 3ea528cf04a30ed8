package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least 10 samples above it, with n") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs).get
    assert(t.percentile == 90 && t.n == 100)
    assert(t.value == 90.0)
    assert(xs.count(_ > t.value) == 10)
    // 40 samples: p75 leaves exactly 10 above
    val t40 = Stats.tail((1 to 40).map(_.toDouble)).get
    assert(t40.percentile == 75 && t40.value == 30.0 && t40.n == 40)
    // order of the input does not matter
    assert(Stats.tail(scala.util.Random.shuffle(xs)).contains(t))
  }

  test("no tail below 2 x 10 samples: any qualifying percentile would sit under the median") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble)).map(_.percentile).contains(50))
  }

  test("median uses the midpoint for even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("union length merges overlapping and nested intervals and clips") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (21L, 22L))) == 25L)
    assert(Stats.unionWithin(Seq((0L, 10L), (20L, 30L)), 5L, 25L) == 10L)
    assert(Stats.unionLength(Nil) == 0L)
  }

  test("failed_ratio counts refused and thrown operations in its denominator") {
    val t = new Tally
    assert(t.record(true))
    assert(!t.record(false)) // refused
    assert(!t.record(throw new IllegalStateException("boom"))) // thrown
    t.add(7, 1)
    assert(t.attempted == 10 && t.failed == 3)
    assert(t.ratio == 0.3)
  }
}
