package perfbench

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private def snapshot(seed: Long): (Seq[Seq[Byte]], Seq[String], Seq[Instant]) = {
    val w = new World(seed, ArchiveWorkload.PayloadBytes)
    w.rv.foreach(_.grow(6))
    val days = (0 until 10).map { _ => w.nextDay(); w.now }
    val md5s = w.rv.flatMap(f => (0 until f.count).map(i => f.md5(f.seq(i)))) :+ Gen.md5(w.fixedPayload)
    (w.rv.map(_.manifest.toSeq), md5s, days)
  }

  test("the same seed gives byte-identical manifests, payloads and clock") {
    assert(snapshot(7L) == snapshot(7L))
  }

  test("a different seed gives different manifests and payloads") {
    val (m1, p1, _) = snapshot(7L)
    val (m2, p2, _) = snapshot(8L)
    assert(m1 != m2)
    assert(p1.toSet.intersect(p2.toSet).isEmpty)
  }

  test("payloads have the fixed size and the md5 memo matches the bytes") {
    val w = new World(3L, ArchiveWorkload.PayloadBytes)
    w.rv.foreach(_.grow(4))
    w.rv.foreach { f =>
      (0 until f.count).foreach { i =>
        val b = f.payload(f.seq(i))
        assert(b.length == ArchiveWorkload.PayloadBytes)
        assert(f.md5(f.seq(i)) == Gen.md5(b))
        assert(f.payloadFor(f.path(i)).map(_.toSeq).contains(b.toSeq))
      }
    }
  }

  test("the fixed feed changes bytes once per 7 simulated days") {
    val w = new World(11L, ArchiveWorkload.PayloadBytes)
    val versions = (0 until 28).map { _ => w.nextDay(); Gen.md5(w.fixedPayload) }
    assert(versions.distinct.size == 4 || versions.distinct.size == 5)
    assert(versions.sliding(2).count { case Seq(a, b) => a != b } == versions.distinct.size - 1)
  }

  test("about 1 in 50 first attempts answer 503") {
    val n = (0 until 20000).count(i => Origin.failsFirst(5L, 1L, s"/rv4/f$i"))
    assert(n > 300 && n < 500)
  }
}
