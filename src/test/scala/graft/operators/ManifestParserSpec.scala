package graft.operators

import graft.SparkSpec

import scala.io.Source

/** Golden-fixture parse test mirroring the reference's manifest test
  * expectations (/root/reference/download/routeviews_test.go:104-230):
  * 30 data rows behind comment lines; watermark 0 → all, 3380 → the 12
  * rows 3381-3392, 4000 → none.
  */
class ManifestParserSpec extends SparkSpec {
  private lazy val body = {
    val src = Source.fromResource("pfx2as-creation.log")
    try src.mkString finally src.close()
  }

  test("parses 30 rows, drops comments") {
    val rows = ManifestParser.parseLines(body)
    assert(rows.length == 30)
    assert(rows.map(_.seqnum).sorted.toSeq == (3363 to 3392))
    assert(rows.forall(_.path.endsWith(".pfx2as.gz")))
    assert(rows.forall(_.tsEpoch >= 1497717708L))
  }

  test("watermark filtering matches reference golden cases") {
    val parsed = ManifestParser.parseLines(body)
    def after(wm: Long) = parsed.filter(_.seqnum > wm).map(_.seqnum).sorted
    assert(after(0L).toSeq == (3363 to 3392))
    assert(after(3380L).toSeq == (3381 to 3392))
    assert(after(4000L).isEmpty)
  }

  test("malformed rows are dropped, not fatal") {
    val noisy = body + "\nnot a row\n9999999 12345 too-many-digits-seq\n"
    assert(ManifestParser.parseLines(noisy).length == 30)
  }

  test("parseLines equals parse over a lines DataFrame (seeded property)") {
    import org.scalacheck.{Gen, Prop, Test}
    import spark.implicits._
    def digits(n: Int) = Gen.listOfN(n, Gen.numChar).map(_.mkString)
    val sep = Gen.oneOf("\t", " ", "")
    // 7-digit seqnums and 9- or 11-digit stamps shift or break the match
    val dataLine = for {
      seq <- Gen.choose(1, 7).flatMap(digits)
      stamp <- Gen.oneOf(9, 10, 11).flatMap(digits)
      s1 <- sep
      s2 <- sep
      file <- Gen.alphaNumStr
      tail <- Gen.oneOf("", " trailing text", "\tmore")
    } yield s"$seq$s1$stamp${s2}2017/06/$file.pfx2as.gz$tail"
    val line = Gen.frequency(
      6 -> dataLine,
      1 -> Gen.alphaStr.map("# " + _),
      1 -> Gen.const(""),
      1 -> Gen.asciiPrintableStr)
    val body = Gen.frequency(
      1 -> Gen.const(""),
      9 -> Gen.zip(Gen.listOf(line), Gen.oneOf("\n", "\r\n"))
        .map { case (lines, eol) => lines.mkString(eol) })
    val prop = Prop.forAll(body) { b =>
      val lines = b.split("\n", -1).toSeq.toDF("value")
      ManifestParser.parseLines(b) == ManifestParser.parse(lines).collect().toSeq
    }
    val res = Test.check(
      Test.Parameters.default.withInitialSeed(4L).withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status)
  }

  test("absoluteUrl joins manifest dir with relative path") {
    assert(ManifestParser.absoluteUrl(
      "http://data.example.org/routeviews/pfx2as-creation.log",
      "2017/06/file.pfx2as.gz")
      == "http://data.example.org/routeviews/2017/06/file.pfx2as.gz")
  }
}
