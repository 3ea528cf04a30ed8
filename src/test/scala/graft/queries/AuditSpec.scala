package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.functions.TextOps

/** Invariant tests for the audit-query family (q114–q118) on sf0.001,
  * complementing the DuckDB oracle gate with the properties an exact
  * value compare cannot express: containment between the fuzzy and
  * exact contamination sets, recall bounds, and alarm consistency.
  */
class AuditSpec extends SparkSpec {
  import spark.implicits._

  test("q114: ratios bounded, verdict consistent, duplicated chunks symmetric") {
    val got = AuditQueries.q114(spark, sf0001)
      .select("doc_id", "n_chunks", "n_dup_chunks", "dup_ratio", "verdict")
      .as[(Long, Long, Long, Double, String)].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, nc, dup, r, v) =>
      assert(nc >= 1 && dup >= 0 && dup <= nc, s"doc $id: $dup/$nc")
      assert(r >= 0.0 && r <= 1.0, s"doc $id ratio $r")
      assert(v == (if (dup * 2 > nc) "drop" else "keep"), s"doc $id verdict $v")
    }
    // duplication is a cross-doc property: any doc with a dup chunk implies
    // at least one OTHER doc also has a dup chunk (the sharer)
    val withDups = got.count(_._3 > 0)
    assert(withDups != 1, "a lone doc cannot share a chunk with itself")
  }

  test("q115: fuzzy contamination ⊇ exact 5-gram contamination, per doc") {
    // exact contamination reference: distinct positional 5-grams shared
    // verbatim with the src0 benchmark (q59's construction at n=5)
    val docs = Tables.load(spark, sf0001, "documents")
    val sh = docs.select(col("doc_id"), col("source"),
      explode(array_distinct(TextOps.shinglesNative(col("text"), 5))).as("g"))
    val bench = sh.filter(col("source") === "src0").select(col("g")).distinct()
    val exact = sh.filter(col("source") =!= "src0")
      .join(bench, "g").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    val fuzzy = AuditQueries.q115(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    exact.foreach { case (id, n) =>
      assert(fuzzy.getOrElse(id, 0L) >= n,
        s"doc $id: fuzzy ${fuzzy.get(id)} < exact $n — tolerance lost exact matches")
    }
  }

  test("q115: hashed variant keys reproduce the string-key formulation exactly") {
    // the fused 64-bit-hash kernel must yield the SAME per-doc counts as
    // the round-6 string (position|kept-tokens) keys — the SymSpell
    // equivalence plus collision-freeness on this data
    val docs = Tables.load(spark, sf0001, "documents")
    val grams = docs
      .filter(col("source") =!= lit("zzz")) // all docs: bench + corpus
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(1), size(col("t")) - 4),
          i => slice(col("t"), i, lit(5)))).as("w"))
    def el(k: Int) = element_at(col("w"), k)
    val variants = array((0 until 5).map { j =>
      concat_ws(" ", (1 to 5).filter(_ != j + 1).map(el): _*)
    }: _*)
    val keyed = grams
      .select(col("doc_id"), col("source"), concat_ws(" ", col("w")).as("gram"),
        posexplode(variants).as(Seq("j", "v")))
      .select(col("doc_id"), col("source"), col("gram"),
        concat(col("j").cast("string"), lit("|"), col("v")).as("vk"))
    val bench = keyed.filter(col("source") === "src0").select(col("vk")).distinct()
    val stringForm = keyed.filter(col("source") =!= "src0")
      .join(broadcast(bench), "vk")
      .select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    AuditQueries.clearBenchVariants()
    val kernelForm = AuditQueries.q115(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(kernelForm.nonEmpty && kernelForm == stringForm)
  }

  test("q115: steady-state plan reads the memoized benchmark — zero benchmark-side tokenize") {
    AuditQueries.q115(spark, sf0001) // train the variant-key artifact
    val p = AuditQueries.q115(spark, sf0001).queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      "steady plan must scan parquet once (the corpus side only)")
    assert(p.linesIterator.count(_.contains("Scan ExistingRDD")) == 1,
      "the benchmark side must read the checkpointed variant-key set")
  }

  test("q116: drift bounded in [0, 2] and label counts cover the table") {
    val got = AuditQueries.q116(spark, sf0001)
      .as[(Int, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (l, n, drift) =>
      assert(n > 0, s"label $l empty")
      assert(drift >= 0.0 && drift <= 2.0, s"label $l drift $drift")
    }
    val total = Tables.load(spark, sf0001, "embeddings").count()
    assert(got.map(_._2).sum == total, "per-label n_vecs must partition the table")
  }

  test("q117: recall bounds — n_hits ≤ 10 and ≤ candidate-set size") {
    val got = AuditQueries.q117(spark, sf0001)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (p, nc, nh, r) =>
      assert(nc >= 1, s"probe $p: empty bucket (its own bucket always matches)")
      assert(nh >= 0 && nh <= 10 && nh <= nc, s"probe $p: hits $nh cand $nc")
      assert(math.abs(r - nh / 10.0) < 1e-9, s"probe $p recall $r != $nh/10")
    }
  }

  test("q117: widening the probe set to every vector keeps recall defined") {
    // the 4-bit bucket of each probe always contains the probe's own
    // neighbors-in-bucket; candidate counts across probes must sum to
    // Σ (bucket size − 1) over probed buckets — cross-checked for the
    // declared 5-probe set against an independent bucket histogram
    val e = Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bkt", graft.functions.VectorOps.signBucket(col("v"), 4))
    val sizes = e.groupBy("bkt").count().as[(Long, Long)].collect().toMap
    val probeBkt = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("bkt")).as[(Long, Long)].collect().toMap
    val got = AuditQueries.q117(spark, sf0001)
      .select("probe_id", "n_candidates").as[(Long, Long)].collect().toMap
    probeBkt.foreach { case (p, b) =>
      assert(got(p) == sizes(b) - 1,
        s"probe $p: candidates ${got(p)} != bucket size ${sizes(b)} - 1")
    }
  }

  test("q119: coverage curve is monotone and terminates at 1.0") {
    val got = AuditQueries.q119(spark, sf0001)
      .select("rank", "k", "cum_share").as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.map(_._1).toSeq == (1L to got.length).toSeq, "ranks dense from 1")
    got.sliding(2).foreach {
      case Array((_, k1, c1), (_, k2, c2)) =>
        assert(k1 >= k2, "counts must descend with rank")
        assert(c2 >= c1, "cumulative share must not decrease")
      case _ => ()
    }
    assert(math.abs(got.last._3 - 1.0) < 1e-9, "full vocab covers everything")
  }

  test("q120: top-50 ordering and signal cross-check against raw tokens") {
    val got = AuditQueries.q120(spark, sf0001)
      .select("doc_id", "s_len", "blend").as[(Long, Long, Double)].collect()
    assert(got.length == 50)
    got.sliding(2).foreach {
      case Array((id1, _, b1), (id2, _, b2)) =>
        assert(b1 > b2 || (b1 == b2 && id1 < id2), "(blend desc, doc_id) order")
      case _ => ()
    }
    val lens = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long"))
      .as[(Long, Long)].collect().toMap
    got.foreach { case (id, sl, _) => assert(lens(id) == sl, s"doc $id s_len") }
  }

  test("q121: funnel counts are consistent and the benchmark source is exempt") {
    val got = AuditQueries.q121(spark, sf0001)
      .select("source", "n_total", "n_gopher_fail", "n_exact_dup",
        "n_chunk_dup", "n_contaminated", "n_kept")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val totals = got.map(_._2).sum
    assert(totals == Tables.load(spark, sf0001, "documents").count())
    got.foreach { case (src, n, g, d, c, x, kept) =>
      Seq(g, d, c, x).foreach(f => assert(f >= 0 && f <= n, s"$src flag $f > $n"))
      assert(kept <= n, s"$src kept $kept > $n")
      // union bound: can't lose more docs than the gates flag
      assert(n - kept <= g + d + c + x, s"$src attrition exceeds flag sum")
      if (src == "src0") assert(x == 0, "the benchmark source cannot self-contaminate")
    }
  }

  test("q122: top chunk share bounded and doc totals cover the eligible corpus") {
    val got = AuditQueries.q122(spark, sf0001)
      .select("source", "n_docs", "top_n", "top_share")
      .as[(String, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (src, n, top, share) =>
      assert(top >= 1 && top <= n, s"$src: top $top of $n")
      assert(share > 0.0 && share <= 1.0, s"$src share $share")
    }
    val eligible = Tables.load(spark, sf0001, "documents")
      .filter(size(TextOps.tokens(col("text"))) >= 8).count()
    assert(got.map(_._2).sum == eligible, "n_docs must partition eligible docs")
  }

  test("q123: per-band verified pairs cover q19's distinct near-dup pairs") {
    val got = AuditQueries.q123(spark, sf0001)
      .select("band", "n_candidates", "n_verified", "precision")
      .as[(Int, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (b, nc, nv, p) =>
      assert(b >= 0 && b <= 3, s"band $b out of family")
      assert(nv >= 0 && nv <= nc, s"band $b: $nv of $nc")
      assert(math.abs(p - nv.toDouble / nc) < 1e-3, s"band $b precision $p")
    }
    // every q19 pair collides in ≥ 1 band, so per-band verified counts
    // (which multi-count cross-band pairs) must at least cover them
    val q19Pairs = PipelineQueries.q19(spark, sf0001).count()
    assert(got.map(_._3).sum >= q19Pairs,
      s"per-band verified ${got.map(_._3).sum} < q19 distinct pairs $q19Pairs")
  }

  test("q124: sides partition the event stream and sessions agree with q39") {
    val got = AuditQueries.q124(spark, sf0001)
      .select("side", "n_sessions", "n_events", "n_users")
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.map(_._1).toSet.subsetOf(Set("train", "test", "spanning")))
    val events = Tables.load(spark, sf0001, "events").count()
    assert(got.map(_._3).sum == events, "every event lands in exactly one side")
    // session totals must agree with q39's per-user session counts
    val q39Sessions = PipelineQueries.q39(spark, sf0001)
      .agg(sum(col("n_sessions"))).as[Long].head()
    assert(got.map(_._2).sum == q39Sessions,
      "the split must not invent or lose sessions vs q39")
  }

  test("q125: the degree histogram partitions the corpus and covers q19's pairs") {
    val got = AuditQueries.q125(spark, sf0001)
      .as[(Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.map(_._1).distinct.length == got.length, "one row per degree")
    val docs = Tables.load(spark, sf0001, "documents").count()
    assert(got.map(_._2).sum == docs, "histogram must partition the corpus")
    // handshake: Σ degree·count = 2 × pair count
    val pairSum = got.map { case (deg, n) => deg * n }.sum
    val q19Pairs = PipelineQueries.q19(spark, sf0001).count()
    assert(pairSum == 2 * q19Pairs,
      s"degree mass $pairSum != 2 × ${q19Pairs} q19 pairs")
  }

  test("q125 contract: documents.doc_id is unique on the sf0.001 and sf0.01 fixtures") {
    // q125's degree-0 count is |documents| − Σ n_docs, exact only when
    // no doc_id repeats: compare the distinct count to the footer count
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val nDistinct = Tables.load(spark, dir, "documents")
        .agg(countDistinct(col("doc_id"))).as[Long].head()
      val nRows = Tables.rowCount(spark, dir, "documents")
      assert(nDistinct == nRows, s"$dir: $nDistinct distinct doc_ids in $nRows rows")
    }
  }

  test("q127: LSH pairs are a subset of exact pairs and counts agree with q19/q21") {
    val got = AuditQueries.q127(spark, sf0001)
      .as[(Long, Long, Long, Double)].head()
    val (nExact, nLsh, nMissed, recall) = got
    assert(nLsh <= nExact && nMissed == nExact - nLsh)
    assert(recall >= 0.0 && recall <= 1.0)
    assert(nExact == PipelineQueries.q21(spark, sf0001).count(), "exact side is q21")
    assert(nLsh == PipelineQueries.q19(spark, sf0001).count(), "LSH side is q19")
  }

  test("q128: hygiene counts partition each label and flag planted bad vectors") {
    val got = AuditQueries.q128(spark, sf0001)
      .select("label", "n_vecs", "n_nan", "n_zero_norm", "n_truncated",
        "n_out_of_range", "n_clean")
      .as[(Int, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (l, n, nan, zero, tr, rng, clean) =>
      assert(clean <= n && nan + zero + tr + rng >= n - clean,
        s"label $l: clean $clean of $n with flags ${(nan, zero, tr, rng)}")
    }
    // planted fixtures: a NaN vector, a zero vector, and a short vector
    // must each be flagged by exactly the right rule
    val bad = Seq(
      (1, Array.fill(64)(Float.NaN)),
      (2, Array.fill(64)(0.0f)),
      (3, Array.fill(8)(1.0f))).toDF("label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_hyg").toString
    Tables.load(spark, sf0001, "embeddings").unionByName(
        bad.select(lit(9999L).as("vec_id"), col("embedding"), col("label")))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val audited = AuditQueries.q128(spark, dir)
      .select("label", "n_nan", "n_zero_norm", "n_truncated")
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(audited(1)._2 >= 1, "planted NaN vector flagged")
    assert(audited(2)._3 >= 1, "planted zero vector flagged")
    assert(audited(3)._4 >= 1, "planted short vector flagged")
  }

  test("q118: spike ⟺ z ≥ 2, seasonal groups well-formed") {
    val got = AuditQueries.q118(spark, sf0001)
      .select("h", "hod", "n", "seasonal_mean", "z", "spike")
      .as[(java.sql.Timestamp, Int, Long, Double, Double, Int)].collect()
    assert(got.nonEmpty)
    got.foreach { case (h, hod, n, mean, z, spike) =>
      assert(hod >= 0 && hod <= 23)
      assert(spike == (if (z >= 2.0) 1 else 0), s"$h: spike $spike z $z")
      assert(mean > 0.0)
    }
    // every flagged hour must sit above its seasonal mean (one-sided alarm)
    got.filter(_._6 == 1).foreach { case (h, _, n, mean, _, _) =>
      assert(n > mean, s"$h flagged but n $n ≤ mean $mean")
    }
  }

  test("q207: perfect separation and all-tied degenerate curves are exact; real AUC matches the pairwise identity") {
    // perfect separation: every en doc is pure marker tokens, every
    // other doc has none -> the curve reaches (fpr 0, tpr 1e6) and
    // the final integral is exactly 2*P*N
    val sep = ((1 to 3).map(i => (i.toLong, "hash order window", "en", "s", 17L)) ++
      (4 to 9).map(i => (i.toLong, "scan table merge", "de", "s", 16L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d1 = java.nio.file.Files.createTempDirectory("graft_roc1").toString
    sep.write.mode("overwrite").parquet(s"$d1/documents.parquet")
    val cSep = AuditQueries.q207(spark, d1)
      .select("score", "tp", "fp", "tpr_ppm", "fpr_ppm", "auc2pn_cum")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(cSep.head == ((1000000L, 3L, 0L, 1000000L, 0L, 0L)),
      s"separation must put (tpr 1e6, fpr 0) at the top threshold: ${cSep.head}")
    assert(cSep.last._6 == 2L * 3 * 6, s"perfect AUC integral 2PN: ${cSep.last}")
    // all-tied: one score bucket -> a single parallelogram, AUC exactly 1/2
    val tie = ((1 to 2).map(i => (i.toLong, "big scan", "en", "s", 8L)) ++
      (3 to 7).map(i => (i.toLong, "big scan", "fr", "s", 8L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d2 = java.nio.file.Files.createTempDirectory("graft_roc2").toString
    tie.write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val cTie = AuditQueries.q207(spark, d2)
      .select("score", "auc2pn_cum").as[(Long, Long)].collect()
    assert(cTie.length == 1 && cTie.head._2 == 2L * 5, // fp*(tp+0) = 5*2 = PN
      s"an all-tied score must integrate to PN (AUC 1/2): ${cTie.mkString(",")}")
    // real data: the sweep's final integral equals the q196-style
    // pairwise count 2*[pos>neg] + [pos=neg] over score pairs
    val markers = Set("hash", "order", "window", "group", "batch", "big")
    val docs = Tables.load(spark, sf0001, "documents")
      .select("text", "lang").as[(String, String)].collect().map { case (tx, lg) =>
        val toks = tx.split(" ", -1)
        (lg == "en", toks.count(markers) * 1000000L / toks.length)
      }
    val (ps, ns) = (docs.filter(_._1).map(_._2), docs.filterNot(_._1).map(_._2))
    val pairwise = ps.map(x => 2L * ns.count(_ < x) + ns.count(_ == x)).sum
    val real = AuditQueries.q207(spark, sf0001)
      .select("tp", "fp", "auc2pn_cum").as[(Long, Long, Long)].collect()
    assert(real.last._3 == pairwise,
      s"trapezoid integral ${real.last._3} vs pairwise identity $pairwise")
    assert(real.last._1 == ps.length && real.last._2 == ns.length,
      "the curve must end at (P, N)")
    // monotone: tp/fp never decrease along descending thresholds
    assert(real.sliding(2).forall(w => w.length < 2 ||
      (w(0)._1 <= w(1)._1 && w(0)._2 <= w(1)._2)), "curve must be monotone")
  }

  test("q211: MMR demotes an exact duplicate below a diverse pick; greedy matches a reference replay") {
    // probe v0; v1 = v2 (exact duplicates, highest relevance);
    // v3 partially diverse; v4 orthogonal. Pure-relevance order is
    // 0,1,2,3,4 — MMR must pick the DUPLICATE v2 LAST
    val vecs = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f), 0),
      (1L, Array(0.8f, 0.6f, 0f, 0f), 0),
      (2L, Array(0.8f, 0.6f, 0f, 0f), 0),
      (3L, Array(0.7f, -0.6f, 0.4f, 0f), 1),
      (4L, Array(0f, 0f, 0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_mmr").toString
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = PipelineQueries.q211(spark, dir)
      .select("step", "vec_id", "rel", "score2")
      .as[(Long, Long, Long, Long)].collect()
    graft.core.Pins.release()
    assert(got.map(_._2).toSeq == Seq(0L, 1L, 3L, 4L, 2L),
      s"MMR order must demote the duplicate: ${got.map(_._2).mkString(",")}")
    // shortlist (5) < k (8): the sweep must stop at 5 rows, like the
    // oracle's recursion
    assert(got.length == 5, s"must stop when candidates exhaust: ${got.length}")
    // hand-checked scores: step3 v3 wins at 0 while the duplicate
    // sits at rel - sim(v2,v1) = 800000 - 1000000 = -200000
    val s3 = got.find(_._1 == 3L).get
    assert((s3._2, s3._4) == ((3L, 0L)), s"step-3 diverse pick: $s3")
    // real-data replay: greedy recomputed from collected candidates
    val emb = Tables.load(spark, sf0001, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS v")
      .as[(Long, Array[Long])].collect().toMap
    val pv = emb(0L)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val cand = emb.toSeq.map { case (id, v) => (id, dot(v, pv)) }
      .sortBy { case (id, r) => (-r, id) }.take(32)
    var picked = Seq.empty[Long]
    val expect = (1 to 8).flatMap { _ =>
      val remaining = cand.filterNot(c => picked.contains(c._1))
      if (remaining.isEmpty) None else {
        val scored = remaining.map { case (id, r) =>
          val pen = if (picked.isEmpty) 0L
            else picked.map(p => dot(emb(id), emb(p))).max
          (id, r, r - pen)
        }
        val best = scored.minBy { case (id, _, s2) => (-s2, id) }
        picked = picked :+ best._1
        Some(best)
      }
    }
    val real = PipelineQueries.q211(spark, sf0001)
      .select("vec_id", "rel", "score2").as[(Long, Long, Long)].collect().toSeq
    graft.core.Pins.release()
    assert(real == expect, s"greedy replay: $real vs $expect")
  }

  test("q219: each contract check counts its planted violation exactly; real data matches a replay") {
    // header: key 1 duplicated, key 4 has no details, key 2's total is
    // off by exactly 7 cents, key 3 matches; detail key 9 is an orphan
    val ord = Seq((1L, 10.00), (1L, 10.00), (2L, 20.00), (3L, 30.00), (4L, 40.00))
      .toDF("o_orderkey", "o_totalprice")
    val li = Seq((1L, 10.00), (1L, 10.00), (2L, 19.93), (3L, 30.00), (9L, 5.00))
      .toDF("l_orderkey", "l_extendedprice")
    val dir = java.nio.file.Files.createTempDirectory("graft_rec").toString
    ord.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = AuditQueries.q219(spark, dir)
      .select("check", "n_checked", "n_violations", "worst_cents")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    graft.core.Pins.release()
    assert(got("header_key_unique") == (("header_key_unique", 4L, 1L, 0L)),
      s"dup key: ${got("header_key_unique")}")
    // key 1 appears TWICE in the header (dup) -> joined rows count
    // both; 4 of the 6 header-side rows have details
    assert(got("header_has_details")._3 == 1L, s"orphan header: ${got("header_has_details")}")
    // the duplicated header row fans the key-1 detail fold out twice,
    // so 5 detail-side rows are checked — the dup is visible here too
    assert(got("detail_has_header") == (("detail_has_header", 5L, 1L, 0L)),
      s"orphan detail: ${got("detail_has_header")}")
    // key 1's detail sum (2000c) vs each dup header row (1000c) gives
    // gap 1000; key 2's planted gap is 7c
    val tm = got("total_matches_detail_sum")
    assert(tm._3 == 3L && tm._4 == 1000L, s"total check: $tm")
    // real-data replay of all four checks
    val hdr = Tables.load(spark, sf0001, "orders")
      .selectExpr("o_orderkey", "CAST(round(o_totalprice * 100) AS BIGINT)")
      .as[(Long, Long)].collect()
    val det = Tables.load(spark, sf0001, "lineitem")
      .selectExpr("l_orderkey", "CAST(round(l_extendedprice * 100) AS BIGINT)")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val hdrKeys = hdr.map(_._1).toSet
    val expect2 = Map(
      "header_key_unique" -> ((hdrKeys.size.toLong,
        hdr.groupBy(_._1).count(_._2.length > 1).toLong, 0L)),
      "header_has_details" -> ((hdr.length.toLong,
        hdr.count(h => !det.contains(h._1)).toLong, 0L)),
      "detail_has_header" -> ((det.size.toLong,
        det.keys.count(k => !hdrKeys(k)).toLong, 0L)),
      "total_matches_detail_sum" -> {
        val both = hdr.filter(h => det.contains(h._1))
        ((both.length.toLong, both.count(h => h._2 != det(h._1)).toLong,
          both.map(h => (h._2 - det(h._1)).abs).max))
      })
    val real = AuditQueries.q219(spark, sf0001)
      .select("check", "n_checked", "n_violations", "worst_cents")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    graft.core.Pins.release()
    assert(real == expect2, s"reconciliation replay: ${
      (real.keySet ++ expect2.keySet).filter(k => real.get(k) != expect2.get(k))}")
  }

  test("q234: planted digit skew counted exactly; Benford constants sum to 1e6; real data matches a replay") {
    import spark.implicits._
    // planted: 6 totals with first digits 1,1,1,2,9,9
    val dir = java.nio.file.Files.createTempDirectory("graft_benford").toString
    def d0(s0: String) = java.sql.Timestamp.valueOf(s0 + " 00:00:00")
    Seq(1.00, 12.34, 199.99, 2.50, 9.00, 95.55).zipWithIndex
      .map { case (v, i) => (i.toLong, 1L, "O", v, d0("1997-01-01"), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = AuditQueries.q234(spark, dir)
      .select("digit", "n", "obs_ppm", "exp_ppm", "dev_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == (1L to 9L), "all nine digits must report")
    assert(got.map(_._4).sum == 1000000L, "Benford ppm constants must sum to 1e6")
    val byD = got.map(r => r._1 -> r).toMap
    assert(byD(1L)._2 == 3 && byD(2L)._2 == 1 && byD(9L)._2 == 2 &&
      byD(5L)._2 == 0, s"planted counts: $got")
    assert(byD(1L)._3 == 500000L && byD(9L)._3 == 333333L,
      "observed ppm must be the exact floor division")
    got.foreach(r => assert(r._5 == r._3 - r._4, "dev must be obs - exp"))
    // real data replay
    val cents = Tables.load(spark, sf0001, "orders")
      .select(round(col("o_totalprice") * 100).cast("long")).as[Long].collect()
    val n = cents.length.toLong
    val cnt = cents.map(_.toString.head.asDigit.toLong)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val real = AuditQueries.q234(spark, sf0001)
      .select("digit", "n", "obs_ppm").as[(Long, Long, Long)].collect()
    real.foreach { case (d0_, nd, ppm) =>
      assert(nd == cnt.getOrElse(d0_, 0L) && ppm == nd * 1000000L / n,
        s"digit $d0_: ($nd, $ppm)")
    }
  }
}
