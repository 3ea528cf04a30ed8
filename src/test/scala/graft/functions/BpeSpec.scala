package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** BPE train/encode: the dataflow trainer must match an independent
  * in-memory reference implementation of the published algorithm on
  * the real corpus, and the encode chain must preserve content while
  * only ever shrinking the token count.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // ---- independent reference implementation (lists + maps) ----
  private def refMergeWord(w: List[String], a: String, b: String): List[String] =
    w match {
      case x :: y :: rest if x == a && y == b => (a + b) :: refMergeWord(rest, a, b)
      case x :: rest => x :: refMergeWord(rest, a, b)
      case Nil => Nil
    }

  private def refTrain(freq: Map[String, Long], k: Int): Seq[(String, String, Long)] = {
    var words = freq.toSeq.map { case (w, n) => (w.map(_.toString).toList, n) }
    val out = Seq.newBuilder[(String, String, Long)]
    var i = 0
    var done = false
    while (i < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, n) =>
        syms.zip(syms.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + n
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), f) = counts.minBy { case ((a, b), f) => (-f, a + "!" + b) }
        out += ((a, b, f))
        words = words.map { case (syms, n) => (refMergeWord(syms, a, b), n) }
      }
      i += 1
    }
    out.result()
  }

  private def docs = Tables.load(spark, sf0001, "documents")

  test("dataflow trainer matches the reference implementation on the corpus") {
    val freq = docs.select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val expect = refTrain(freq, 12)
    val got = Bpe.train(docs, 12).map(m => (m.a, m.b, m.freq))
    assert(got == expect, s"\ngot:    $got\nexpect: $expect")
  }

  test("local trainer: merge list IDENTICAL to sequential on the fixture corpus") {
    val k = 24
    val seqMerges = Bpe.train(docs, k).map(m => (m.a, m.b, m.freq))
    val locMerges = Bpe.trainLocal(docs, k).map(m => (m.a, m.b, m.freq))
    assert(locMerges == seqMerges,
      s"\nlocal:      $locMerges\nsequential: $seqMerges")
  }

  test("local trainer stays exact on adversarial corpora (runs, chains, plateaus)") {
    // the incremental count updates must survive the cases where a
    // naive incremental update diverges: same-symbol runs (left-to-
    // right non-overlap semantics), overlapping chains (a merge
    // changes its neighbors' counts), and tie plateaus (UTF-8 byte
    // tie-break on the joined key)
    val corpora = Seq(
      Seq.fill(50)("aaaa") ++ Seq.fill(30)("aaa"),
      Seq.fill(40)("abcd") ++ Seq.fill(35)("bcd") ++ Seq.fill(30)("cd"),
      Seq.fill(20)("xy") ++ Seq.fill(20)("yz") ++ Seq.fill(20)("zw"),
      (0 until 60).map(i => ("abcdef".take(2 + i % 5)) * (1 + i % 3)))
    for ((words, ci) <- corpora.zipWithIndex) {
      val df = words.toDF("text")
      val seqMerges = Bpe.train(df, 10).map(m => (m.a, m.b, m.freq))
      val locMerges = Bpe.trainLocal(df, 10).map(m => (m.a, m.b, m.freq))
      assert(locMerges == seqMerges,
        s"corpus $ci:\nlocal:      $locMerges\nsequential: $seqMerges")
    }
  }

  test("local trainer exhausts exactly like the sequential trainer") {
    // tiny corpus: fewer possible merges than k — both must stop at
    // the same (shorter) list
    val df = Seq("ab", "ab", "cd").toDF("text")
    assert(Bpe.trainLocal(df, 50) == Bpe.train(df, 50))
  }

  test("encode preserves content and shrinks monotonically") {
    val merges = Bpe.train(docs, 8)
    val base = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("w"), Bpe.symbolize(col("w")).as("ws0"))
    // apply merges cumulatively: token count never increases, and the
    // concatenated symbols always reconstruct the original word
    val steps = merges.indices.map(i => Bpe.applyMerges(col("ws0"), merges.take(i + 1)))
    val checked = base.select(
      col("w"),
      Bpe.tokenCount(col("ws0")).as("c0"),
      array(steps.map(Bpe.tokenCount): _*).as("counts"),
      concat_ws("", Bpe.symbols(steps.last)).as("rebuilt"))
      .as[(String, Long, Seq[Long], String)].collect()
    checked.foreach { case (w, c0, counts, rebuilt) =>
      assert(rebuilt == w, s"content changed for $w")
      val all = c0 +: counts
      all.zip(all.tail).foreach { case (x, y) =>
        assert(y <= x, s"token count grew for $w: $all")
      }
    }
  }

  test("merge application is unambiguous under wrapped symbols") {
    // symbol "ab" vs symbols "a","b": the wrapper must keep the merge
    // (a, b) from touching the fused "ab" symbol
    val df = Seq("(ab)(c)", "(a)(b)(c)", "(a)(a)(a)").toDF("ws")
    val got = df.select(Bpe.applyMerge(col("ws"), "a", "b")).as[String].collect()
    assert(got.toSeq == Seq("(ab)(c)", "(ab)(c)", "(a)(a)(a)"))
    val aa = df.select(Bpe.applyMerge(col("ws"), "a", "a")).as[String].collect()
    assert(aa.toSeq == Seq("(ab)(c)", "(a)(b)(c)", "(aa)(a)"))
  }
}
