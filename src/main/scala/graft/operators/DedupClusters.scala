package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate CLUSTERING — the tail of the dedup story the pair
  * queries (q19/q21/q50) leave open: near-dup pairs form a graph, a
  * training corpus needs one canonical document per connected
  * component, not a pair list (A≈B and B≈C must collapse {A, B, C} to
  * one survivor even when A and C never paired directly).
  *
  * [[connectedComponents]] folds a model-sized edge list with a driver
  * union-find and a larger one by iterative min-label propagation:
  * every node starts as its own label, and each round replaces it with
  * the minimum across its neighbors' labels, so at fixpoint every member
  * carries the component's minimum doc_id. Each round is one equi-join +
  * one partial-aggregable min, `localCheckpoint`ed so the next round
  * reads materialized partitions over a truncated lineage.
  *
  * Scale shape: rounds = eccentricity of the component's min-id node,
  * and near-dup graphs are clique-dense (a duplicate cluster collides
  * in every band), so they converge in 2–3 rounds. A long CHAIN of
  * pairwise-similar docs costs O(diameter) rounds; for it,
  * [[connectedComponentsStar]] contracts in O(log n). `maxIter` bounds
  * the loop, and an exhausted budget throws.
  */
object DedupClusters {

  /** [[connectedComponents]]' [[graft.core.LocalTier]] default:
    * 2,000,000 edges ≈ 32 MB of edge pairs on the driver. */
  private val EdgeCap = 2000000

  /** Driver-side union-find over a materialized edge array: root = the
    * component's minimum member id (unions always point the larger root
    * at the smaller, so the invariant holds at every step — the same
    * reference algorithm DedupClustersSpec checks the distributed loop
    * against). Returns (node → min member id) for every node present. */
  private def unionFindLabels(es: Array[(Long, Long)]): Array[(Long, Long)] = {
    // boxed key/value types: a Scala-primitive-typed java.util.HashMap
    // silently unboxes an absent-key null to 0
    val idx = new java.util.HashMap[java.lang.Long, Integer](es.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def id(x: Long): Int = {
      val got = idx.get(x)
      if (got == null) {
        val i = ids.length; idx.put(x, i); ids += x; i
      } else got.intValue()
    }
    // first pass: assign dense indices
    es.foreach { case (u, v) => id(u); id(v) }
    val n = ids.length
    // parent by VALUE-minimum: roots are node ids, not indices, so the
    // min-id invariant is direct long comparison
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    es.foreach { case (u, v) =>
      val ru = find(idx.get(u).intValue()); val rv = find(idx.get(v).intValue())
      if (ru != rv) {
        // point the root with the LARGER member id at the smaller, so
        // every root remains its component's minimum id
        if (ids(ru) < ids(rv)) parent(rv) = ru else parent(ru) = rv
      }
    }
    Array.tabulate(n)(i => (ids(i), ids(find(i))))
  }

  /** Component label (= minimum member doc_id) for every node that
    * appears in `pairs` (columns a_id, b_id). Nodes absent from `pairs`
    * are singletons — callers left-join and coalesce to their own id
    * (see [[assignAll]]).
    *
    * Two tiers, chosen by [[graft.core.LocalTier]]: an edge set under
    * the cap (near-dup graphs are dup-count-sized) solves in one
    * collect + union-find — against 10 propagation rounds × 2 jobs ≈
    * 4.7 s on q200's 3,451-edge graph at sf0.1. Over the cap the
    * distributed min-label loop runs, its round delta check a join-free
    * label-sum compare (labels never increase, so the exact decimal sum
    * is stable iff no label moved). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col("a_id").cast("long").as("u"), col("b_id").cast("long").as("v"))
      .localCheckpoint()
    graft.core.LocalTier(edges.as[(Long, Long)], EdgeCap) { es =>
      val labels = unionFindLabels(es)
      graft.core.Pins.releaseCheckpoint(edges)
      // small results return as a LocalRelation (size-known, so
      // downstream joins can broadcast them); larger ones ship as RDD
      // partitions instead of plan-embedded constants
      if (labels.length <= 100000)
        spark.createDataset(labels.toSeq).toDF("doc_id", "component")
      else
        spark.createDataset(spark.sparkContext.parallelize(
          labels.toSeq, math.max(1, labels.length / 500000)))
          .toDF("doc_id", "component")
    }(propagate(edges, maxIter))
  }

  /** [[connectedComponents]]' distributed tier over its (u, v) edges. */
  private def propagate(edges: DataFrame, maxIter: Int): DataFrame = {
    // symmetric closure: propagation must flow both directions
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    graft.core.Pins.releaseCheckpoint(edges)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
    var labels = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // a node's new label: min over its own and all neighbors' labels
      val viaNeighbors = sym.join(labels, col("v") === col("node"))
        .select(col("u").as("node"), col("label"))
      val next = labels.union(viaNeighbors)
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint()
      // labels decrease monotonically and the node set is fixed, so an
      // unchanged exact sum IS the fixpoint — one single-column agg on
      // the just-materialized checkpoint, replacing the r13 form's
      // per-round (next ⋈ labels) delta join
      val curSum = labelSum(next)
      // the superseded round's blocks are dead once `next` is
      // materialized and the delta check has read them — free them now,
      // or an O(rounds) pile of label snapshots outlives the query
      graft.core.Pins.releaseCheckpoint(labels)
      labels = next
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      iter += 1
    }
    // an exhausted budget must be LOUD: unconverged labels split real
    // clusters and the duplicates they hide would silently survive
    // canonical(); long-chain graphs belong on the star variant
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — the " +
          "pair graph has a long-diameter component; raise maxIter or use " +
          "connectedComponentsStar (O(log n) rounds)")
    // sym's blocks are dead (labels is materialized); the FINAL labels
    // round is consumed lazily by the caller, so it rides the pin
    // registry and frees at the driver's next Pins.release()
    graft.core.Pins.releaseCheckpoint(sym)
    graft.core.Pins.track(labels)
      .select(col("node").as("doc_id"), col("label").as("component"))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR — the
    * published MapReduce-CC contraction (O(log n) rounds on ANY graph,
    * vs [[connectedComponents]]'s O(diameter)): use it when clusters
    * may form long chains rather than cliques. Both star steps reduce
    * to one partial-aggregable groupBy-min plus one equi-join — NO
    * per-node neighbor list is ever collected, so a hot node's degree
    * never concentrates in one task's heap:
    *
    *   large-star: every edge's larger endpoint re-points to the
    *   minimum of its neighborhood ∪ itself;
    *   small-star: every smaller-or-equal endpoint (and the center)
    *   re-points to that minimum.
    *
    * Convergence = the edge multiset's (count, endpoint-sum, hash-sum)
    * triple is stable across a round; endpoint sums are monotonically
    * non-increasing under both steps, and the hash-sum guards the
    * theoretical swap case. At fixpoint the graph is a star forest, so
    * ONE final neighborhood-min pass labels every node with its
    * component's minimum id.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val init = pairs
      .select(col("a_id").cast("long").as("u"), col("b_id").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint()
    val selfNodes = pairs // self-pairs are singleton components
      .select(col("a_id").cast("long").as("n"))
      .where(col("a_id").cast("long") === col("b_id").cast("long"))

    // decimal(38,0) accumulators: a sum of xxhash64 values overflows
    // Long almost immediately (ANSI would abort the job)
    def sig(e: DataFrame): Seq[Any] = {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      e.agg(count(lit(1)), sum(dec(col("u")) + dec(col("v"))),
        sum(dec(xxhash64(col("u"), col("v"))))).head().toSeq
    }

    // large-star over symmetric neighborhoods: center c, neighbor n
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .toDF("c", "n")
      val mins = sym.groupBy("c").agg(least(min(col("n")), first(col("c"))).as("m"))
      sym.join(mins, "c")
        .filter(col("n") > col("c")) // larger neighbors re-point to m
        .select(col("n").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }

    // small-star over (larger -> smaller) directed edges: center c
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("c"),
        least(col("u"), col("v")).as("n"))
      val mins = dir.groupBy("c").agg(min(col("n")).as("m")) // all n < c
      val joined = dir.join(mins, "c")
      joined.select(col("n").as("x"), col("m"))
        .union(joined.select(col("c").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v"))
        .distinct()
    }

    var edges = init
    var prev = sig(edges)
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      val contracted = smallStar(largeStar(edges)).localCheckpoint()
      // free the superseded round (the contraction is materialized)
      graft.core.Pins.releaseCheckpoint(edges)
      edges = contracted
      val cur = sig(edges)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    // same loudness contract as the propagation variant: labeling a
    // graph that is not yet a star forest silently splits components
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds " +
          "(expected O(log n)); raise maxIter")
    // star forest: one neighborhood-min pass labels every node; the
    // final edge round is consumed lazily by the caller → pin registry
    graft.core.Pins.track(edges)
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val labeled = sym.groupBy(col("u").as("doc_id"))
      .agg(least(min(col("v")), first(col("u"))).as("component"))
    // min over the union: a node with BOTH a self-pair and real edges
    // must take the star label (always <= its own id), not an arbitrary
    // survivor of a dropDuplicates
    labeled.unionByName(
        selfNodes.select(col("n").as("doc_id"), col("n").as("component")))
      .groupBy("doc_id").agg(min(col("component")).as("component"))
  }

  /** Every document labeled: component members carry the component min
    * id, singletons carry their own id. `docs` needs a doc_id column.
    * `star = true` routes through [[connectedComponentsStar]] — the
    * O(log n) choice when clusters may chain rather than clique. */
  def assignAll(docs: DataFrame, pairs: DataFrame, maxIter: Int = 30,
                star: Boolean = false): DataFrame = {
    val comps =
      if (star) connectedComponentsStar(pairs, maxIter)
      else connectedComponents(pairs, maxIter)
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }

  /** The dedup SURVIVOR set: one row per cluster — the member whose
    * doc_id equals the component label (the minimum, matching
    * keep-first semantics; swap the ordering upstream to keep by
    * quality instead). Singletons survive as themselves. */
  def canonical(docs: DataFrame, pairs: DataFrame, maxIter: Int = 30,
                star: Boolean = false): DataFrame =
    docs.join(assignAll(docs, pairs, maxIter, star)
        .filter(col("doc_id") === col("component"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
}
