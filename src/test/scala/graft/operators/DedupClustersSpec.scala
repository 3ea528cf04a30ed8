package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Connected-component dedup clustering: label propagation must
  * collapse transitive near-dup chains, leave disjoint clusters
  * disjoint, and converge — the pair-list → canonical-corpus step.
  */
class DedupClustersSpec extends SparkSpec {
  import spark.implicits._

  private def pairsDf(ps: (Long, Long)*) =
    ps.toDF("a_id", "b_id")

  test("transitive chain collapses to one component under the min id") {
    // 1-2, 2-3, 3-4: 1 and 4 never paired directly
    val comp = DedupClusters.connectedComponents(pairsDf(1L -> 2L, 2L -> 3L, 3L -> 4L))
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint clusters keep distinct labels; direction of pairs is irrelevant") {
    // {5,6,7} (one edge given 'backwards') and {10,11}
    val comp = DedupClusters.connectedComponents(
        pairsDf(6L -> 5L, 6L -> 7L, 10L -> 11L))
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 10L -> 10L, 11L -> 10L))
  }

  test("long path converges within maxIter (min propagates one hop per round)") {
    val n = 20 // path 0-1-...-19, min at one end: worst-case round count
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1))
    val comp = DedupClusters.connectedComponents(pairsDf(chain: _*))
      .as[(Long, Long)].collect().toMap
    assert(comp.size == n && comp.values.forall(_ == 0L))
  }

  test("assignAll labels singletons with their own id") {
    val docs = Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id")
    val got = DedupClusters.assignAll(docs, pairsDf(1L -> 2L, 3L -> 4L))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 9L -> 9L))
  }

  test("canonical keeps exactly one survivor per cluster plus singletons") {
    val docs = Seq((1L, "a"), (2L, "a'"), (3L, "b"), (4L, "b'"), (9L, "solo"))
      .toDF("doc_id", "text")
    val kept = DedupClusters.canonical(docs, pairsDf(1L -> 2L, 3L -> 4L))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 9L))
  }

  test("random graphs match an in-memory union-find reference") {
    for (seed <- Seq(1, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = (0 until 80)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // reference: union-find with path compression, components keyed
      // by their minimum member (self-loops are singletons, matching
      // the operator's aId != bId-free symmetric-closure semantics)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.map(v => v -> find(v.toInt).toLong).toMap
      val got = DedupClusters.connectedComponents(edges.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"seed $seed")
    }
  }

  test("star contraction matches label propagation and union-find on random graphs") {
    for (seed <- Seq(2, 31)) {
      val rnd = new scala.util.Random(seed)
      val n = 50
      val edges = (0 until 70)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val viaProp = DedupClusters.connectedComponents(edges.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
      val viaStar = DedupClusters.connectedComponentsStar(edges.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
      assert(viaStar == viaProp, s"seed $seed")
    }
  }

  test("star contraction collapses a 100-node chain in logarithmic rounds") {
    // diameter 99: label propagation needs ~99 rounds (its default
    // maxIter of 30 would NOT converge); the star contraction halves
    // chain structure every round
    val chain = (0L until 99L).map(i => (i, i + 1))
    val comp = DedupClusters.connectedComponentsStar(chain.toDF("a_id", "b_id"))
      .as[(Long, Long)].collect().toMap
    assert(comp.size == 100 && comp.values.forall(_ == 0L))
  }

  test("star contraction: self-pairs are singletons unless joined by real edges") {
    val pairs = Seq((7L, 7L), (5L, 5L), (5L, 3L)).toDF("a_id", "b_id")
    val comp = DedupClusters.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(7L -> 7L, 5L -> 3L, 3L -> 3L))
  }

  test("empty pair set: everything is a singleton, loop exits immediately") {
    val docs = Seq(1L, 2L).toDF("doc_id")
    val got = DedupClusters.assignAll(docs, pairsDf())
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L))
  }

  test("exhausted iteration budget throws; star routed via assignAll absorbs the chain") {
    // a 40-node path needs ~39 propagation rounds — maxIter=3 must NOT
    // return silently-split components (those would survive canonical()
    // as bogus extra 'survivors'); the local union-find tier has no
    // iteration budget, so pin the distributed loop for this contract
    val chain = pairsDf((0L until 39L).map(i => (i, i + 1)): _*)
    spark.conf.set(graft.core.LocalTier.CapKey, "0")
    val e =
      try intercept[IllegalStateException](
        DedupClusters.connectedComponents(chain, maxIter = 3))
      finally spark.conf.unset(graft.core.LocalTier.CapKey)
    assert(e.getMessage.contains("did not converge"))
    // the same chain through assignAll(star = true) converges in
    // O(log n) rounds and labels the whole path with the min id
    val docs = (0L until 40L).toDF("doc_id")
    val got = DedupClusters.assignAll(docs, chain, maxIter = 10, star = true)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 40 && got.values.forall(_ == 0L))
    // the star variant honors the same loudness contract
    val longChain = pairsDf((0L until 99L).map(i => (i, i + 1)): _*)
    val e2 = intercept[IllegalStateException](
      DedupClusters.connectedComponentsStar(longChain, maxIter = 2))
    assert(e2.getMessage.contains("did not converge"))
  }
}
