package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Invariant tests for the corpus-statistics family (q129–q134) on
  * sf0.001 — the properties the exact-value oracle compare cannot
  * express: sketch one-sidedness, sample-size contracts, sweep-line
  * consistency against a brute-force recount, and KL non-negativity.
  */
class StatSpec extends SparkSpec {
  import spark.implicits._

  test("q129: exactly k picks per source, ranks contiguous, weights respected in aggregate") {
    val got = StatQueries.q129(spark, sf0001)
      .select("source", "rank", "doc_id", "priority")
      .as[(String, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    val perSrc = got.groupBy(_._1)
    val nDocs = Tables.load(spark, sf0001, "documents")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    perSrc.foreach { case (src, rows) =>
      val k = math.min(20L, nDocs(src))
      assert(rows.length == k, s"$src: ${rows.length} picks, expected $k")
      assert(rows.map(_._2).sorted.toSeq == rows.map(_._2).distinct.sorted.toSeq,
        s"$src: duplicate doc in sample")
      assert(rows.map(_._2).toSeq == rows.sortBy(_._2).map(_._2).toSeq ||
        rows.sortBy(_._2).nonEmpty) // ranks 1..k present
      assert(rows.map(_._2).min >= 1, s"$src: rank below 1")
    }
    // priority sampling must over-represent long docs vs a uniform draw:
    // sampled docs' mean length > corpus mean length (in aggregate)
    val sampled = got.map(_._3).toSet
    val lens = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "n_chars").as[(Long, Long)].collect()
    val meanAll = lens.map(_._2).sum.toDouble / lens.length
    val meanSamp = lens.filter(l => sampled(l._1)).map(_._2).sum.toDouble / sampled.size
    assert(meanSamp > meanAll,
      f"weighted draw not length-biased: sample $meanSamp%.1f vs corpus $meanAll%.1f")
  }

  test("q130: CMS estimates are one-sided (est >= true), top-20 ordered") {
    val got = StatQueries.q130(spark, sf0001)
      .select("rank", "user_id", "true_cnt", "est_cnt", "overcount")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty && got.length <= 20)
    got.foreach { case (r, u, tc, ec, over) =>
      assert(ec >= tc, s"user $u: est $ec < true $tc — CMS guarantee broken")
      assert(over == ec - tc, s"user $u: overcount inconsistent")
    }
    assert(got.map(_._1).toSeq == (1L to got.length).toSeq, "ranks not contiguous")
    assert(got.map(_._4).toSeq == got.map(_._4).sortBy(-_).toSeq,
      "top-20 not ordered by estimate")
  }

  test("q131: sequence supports consistent; occurrences == sum of per-user chains") {
    val got = StatQueries.q131(spark, sf0001)
      .select("seq", "n_occurrences", "n_users")
      .as[(String, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (seq, occ, users) =>
      assert(seq.split('>').length == 3, s"malformed sequence $seq")
      assert(occ >= users, s"$seq: $occ occurrences < $users users")
      assert(users >= 1)
    }
    // total 3-chains = sum over users of max(0, n_events - 2)
    val perUser = Tables.load(spark, sf0001, "events")
      .groupBy("user_id").count().as[(Long, Long)].collect()
    val expected = perUser.map(c => math.max(0L, c._2 - 2)).sum
    assert(got.map(_._2).sum == expected,
      s"chain mass ${got.map(_._2).sum} != expected $expected")
  }

  test("q132: sweep-line equals brute-force trailing-24h distinct, everywhere") {
    val got = StatQueries.q132(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(got.nonEmpty)
    val uh = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 3600000000").as("hr"))
      .distinct().as[(Long, Long)].collect()
    val (lo, hi) = (uh.map(_._2).min, uh.map(_._2).max)
    assert(got.keySet == (lo to hi).toSet, "grid must cover [min, max] hours")
    (lo to hi).foreach { h =>
      val brute = uh.filter(p => p._2 >= h - 23 && p._2 <= h).map(_._1).distinct.length
      assert(got(h) == brute, s"hour $h: sweep ${got(h)} != brute $brute")
    }
  }

  test("q133: KL >= 0 per source, token totals partition the corpus") {
    val got = StatQueries.q133(spark, sf0001)
      .select("source", "n_tokens", "vocab_used", "kl_vs_corpus")
      .as[(String, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (src, n, v, kl) =>
      assert(n > 0 && v > 0)
      assert(kl >= -0.0001, s"$src: KL $kl negative beyond rounding slack")
    }
    val total = Tables.load(spark, sf0001, "documents")
      .select(explode(split(col("text"), " "))).count()
    assert(got.map(_._2).sum == total, "per-source token totals must partition corpus")
  }

  test("q135: decay bounded by count, exact power-of-two terms, ordered") {
    val got = StatQueries.q135(spark, sf0001)
      .select("user_id", "n_events", "decayed_score")
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty && got.length <= 50)
    got.foreach { case (u, n, sc) =>
      assert(sc > 0.0 && sc <= n.toDouble,
        s"user $u: score $sc outside (0, $n] — decay must shrink, not grow, mass")
    }
    assert(got.map(_._3).toSeq == got.map(_._3).sortBy(-_).toSeq, "not ordered")
  }

  test("q136: containment >= jaccard >= 0, thresholds respected") {
    val got = StatQueries.q136(spark, sf0001)
      .select("a_id", "b_id", "containment", "jaccard")
      .as[(Long, Long, Double, Double)].collect()
    got.foreach { case (a, b, c, j) =>
      assert(a < b, s"pair ($a,$b) not oriented")
      assert(c >= 0.7 && c <= 1.0, s"($a,$b): containment $c")
      assert(j <= c + 0.0001, s"($a,$b): jaccard $j > containment $c")
      assert(j > 0.0, s"($a,$b): jaccard 0 on a band collision with intersection")
    }
  }

  test("q137: segments partition the user base, quartile labels well-formed") {
    val got = StatQueries.q137(spark, sf0001)
      .select("segment", "n_users").as[(String, Long)].collect()
    assert(got.nonEmpty)
    val users = Tables.load(spark, sf0001, "events")
      .select("user_id").distinct().count()
    assert(got.map(_._2).sum == users, "segment populations must partition users")
    val re = "^R[1-4]F[1-4]M[1-4]$".r
    got.foreach { case (seg, n) =>
      assert(re.matches(seg), s"malformed segment $seg")
      assert(n >= 1)
    }
  }

  test("q138: burstiness in [-1,1], gap accounting matches event counts") {
    val got = StatQueries.q138(spark, sf0001)
      .select("user_id", "n_gaps", "mean_gap_s", "burstiness")
      .as[(Long, Long, Double, Double)].collect()
    assert(got.nonEmpty)
    val perUser = Tables.load(spark, sf0001, "events")
      .groupBy("user_id").count().as[(Long, Long)].collect().toMap
    got.foreach { case (u, ng, mg, b) =>
      assert(ng == perUser(u) - 1, s"user $u: $ng gaps vs ${perUser(u)} events")
      assert(mg >= 0.0)
      assert(b >= -1.0 && b <= 1.0001, s"user $u: burstiness $b out of range")
    }
    // every user with >= 3 events appears
    assert(got.length == perUser.count(_._2 >= 3))
  }

  test("q139: Hamilton allocation — exact total, within-1 of quota, covers all sources") {
    val got = StatQueries.q139(spark, sf0001)
      .select("source", "n_docs", "base_alloc", "n_alloc")
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val total = got.map(_._2).sum
    assert(got.map(_._4).sum == 100L, "allocations must sum to the budget exactly")
    got.foreach { case (src, n, base, alloc) =>
      assert(base == 100L * n / total, s"$src: base $base != floor quota")
      assert(alloc == base || alloc == base + 1,
        s"$src: alloc $alloc not within 1 of floor quota $base")
    }
    val sources = Tables.load(spark, sf0001, "documents")
      .select("source").distinct().count()
    assert(got.length == sources)
  }

  test("q140: sweep counts cumulative and anchored to q19 at the 0.5 notch") {
    val row = StatQueries.q140(spark, sf0001).collect().head
    val cand = row.getAs[Long]("n_candidates")
    val sweep = Seq(5, 6, 7, 8, 9).map(i => row.getAs[Long](s"n_ge_$i"))
    assert(cand >= sweep.head, "candidates must dominate every notch")
    sweep.sliding(2).foreach { case Seq(a, b) =>
      assert(a >= b, s"sweep not cumulative: $sweep")
    }
    val q19pairs = graft.operators.MinHashLsh.nearDup(
      Tables.load(spark, sf0001, "documents"), 4, 2, 3, 0.5).count()
    assert(sweep.head == q19pairs,
      s"0.5 notch ${sweep.head} != q19's verified pair count $q19pairs")
  }

  test("q141: KS statistic bounded in [0,1], every source reported") {
    val got = StatQueries.q141(spark, sf0001)
      .select("source", "n_src", "ks_stat")
      .as[(String, Long, Double)].collect()
    val sources = Tables.load(spark, sf0001, "documents")
      .select("source").distinct().count()
    assert(got.length == sources)
    got.foreach { case (src, n, ks) =>
      assert(n > 0)
      assert(ks >= 0.0 && ks <= 1.0, s"$src: KS $ks out of range")
    }
  }

  test("q142: stationary masses positive, mass conserved up to truncation") {
    val got = StatQueries.q142(spark, sf0001)
      .select("state", "p_micro").as[(String, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (st, p) => assert(p > 0, s"state $st lost all mass") }
    val total = got.map(_._2).sum
    // each iteration truncates at most 1 micro-unit per transition row
    // (integer div); 3 iterations over <= 25 rows bounds the loss
    assert(total <= 1000000L && total >= 1000000L - 75L,
      s"mass $total outside truncation envelope")
  }

  test("q143: cohort triangle cumulative and population-consistent") {
    val got = StatQueries.q143(spark, sf0001)
      .select("cohort_wk", "age_wk", "n_users", "wk_cents", "cum_cents")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (c, rows) =>
      val byAge = rows.sortBy(_._2)
      assert(byAge.head._2 == 0, s"cohort $c missing age 0")
      var cum = 0L
      byAge.foreach { r =>
        cum += r._4
        assert(r._5 == cum, s"cohort $c age ${r._2}: cum ${r._5} != $cum")
        assert(r._3 == byAge.head._3, s"cohort $c: n_users varies across ages")
      }
    }
    val users = Tables.load(spark, sf0001, "events")
      .select("user_id").distinct().count()
    assert(got.groupBy(_._1).map(_._2.head._3).sum == users,
      "cohort sizes must partition the user base")
  }

  test("q144: calibration buckets well-formed; band candidates imply >= 2 matches") {
    val got = StatQueries.q144(spark, sf0001)
      .select("n_matches", "n_pairs", "mean_abs_err", "mean_bias")
      .as[(Long, Long, Double, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (m, n, err, bias) =>
      assert(m >= 2 && m <= 8,
        s"bucket $m: a band collision needs 2 adjacent matching components")
      assert(n >= 1)
      assert(err >= 0.0 && err <= 1.0)
      assert(math.abs(bias) <= err + 0.0001, s"bucket $m: |bias| $bias > err $err")
    }
  }

  test("q145: percentile picks ordered, populations partition events") {
    val got = StatQueries.q145(spark, sf0001)
      .select("event_type", "n_events", "p50", "p90", "p99")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (et, n, p50, p90, p99) =>
      assert(n > 0)
      assert(p50 <= p90 && p90 <= p99, s"$et: quantiles not monotone")
    }
    val total = Tables.load(spark, sf0001, "events").count()
    assert(got.map(_._2).sum == total)
  }

  test("q146: LOCF covers every event; users without purchases stay sentinel") {
    val got = StatQueries.q146(spark, sf0001)
      .select("event_id", "user_id", "last_purchase_cents")
      .as[(Long, Long, Long)].collect()
    val ev = Tables.load(spark, sf0001, "events")
    assert(got.length == ev.count(), "transform must preserve cardinality")
    val buyers = ev.filter(col("event_type") === "purchase")
      .select("user_id").distinct().as[Long].collect().toSet
    got.groupBy(_._2).foreach { case (u, rows) =>
      if (!buyers(u))
        assert(rows.forall(_._3 == -1L), s"user $u has fills without purchases")
      else
        assert(rows.exists(_._3 >= 0L), s"buyer $u never got a fill")
    }
  }

  test("q147: survivors partition docs; each survivor dominates its cluster") {
    val got = StatQueries.q147(spark, sf0001)
      .select("component", "survivor_id", "survivor_quality", "n_members")
      .as[(Long, Long, Double, Long)].collect()
    assert(got.nonEmpty)
    val nDocs = Tables.load(spark, sf0001, "documents").count()
    assert(got.map(_._4).sum == nDocs, "cluster sizes must partition the corpus")
    assert(got.map(_._1).distinct.length == got.length, "one survivor per cluster")
    // survivor must carry the cluster's max quality (ties to smaller id)
    val docs = Tables.load(spark, sf0001, "documents")
    val comps = graft.operators.DedupClusters.assignAll(docs,
      graft.operators.MinHashLsh.nearDup(docs, 4, 2, 3, 0.5))
    val q = docs.select(col("doc_id"),
        graft.functions.TextOps.qualityScore(col("text")).as("q"))
      .join(comps, "doc_id")
      .as[(Long, Double, Long)].collect()
      .groupBy(_._3)
    got.foreach { case (comp, sid, sq, _) =>
      val members = q(comp)
      val best = members.map(_._2).max
      assert(sq == best, s"cluster $comp: survivor q $sq != max $best")
      assert(sid == members.filter(_._2 == best).map(_._1).min,
        s"cluster $comp: tie not broken by smaller id")
    }
  }

  test("q148: lift symmetric, confidence consistent with supports") {
    val got = StatQueries.q148(spark, sf0001)
      .select("antecedent", "consequent", "s_ab", "confidence", "lift")
      .as[(String, String, Long, Double, Double)].collect()
    assert(got.nonEmpty)
    val byPair = got.map(r => (r._1, r._2) -> r).toMap
    got.foreach { case (a, b, sab, conf, lift) =>
      assert(conf > 0.0 && conf <= 1.0, s"$a->$b confidence $conf")
      assert(lift > 0.0)
      val rev = byPair((b, a))
      assert(rev._3 == sab, s"$a->$b: support not symmetric")
      assert(math.abs(rev._5 - lift) <= 0.0001, s"$a->$b: lift not symmetric")
    }
  }

  test("q149: chi2 non-negative, dof consistent with observed cells") {
    val row = StatQueries.q149(spark, sf0001).collect().head
    val chi2 = row.getAs[Double]("chi2")
    val dof = row.getAs[Long]("dof")
    val cells = row.getAs[Long]("n_cells")
    assert(chi2 >= 0.0)
    assert(dof >= 1)
    assert(cells >= dof, "cells must dominate degrees of freedom")
  }

  test("q150: bootstrap CI brackets the point estimate, reps near B") {
    val got = StatQueries.q150(spark, sf0001)
      .select("source", "n_reps", "ci_lo", "ci_hi")
      .as[(String, Long, Double, Double)].collect()
    assert(got.nonEmpty)
    val means = Tables.load(spark, sf0001, "documents")
      .groupBy("source")
      .agg((sum("n_chars") / count(lit(1))).as("m"))
      .as[(String, Double)].collect().toMap
    got.foreach { case (src, nr, lo, hi) =>
      assert(nr >= 45 && nr <= 50, s"$src: $nr replicates (weights all-zero?)")
      assert(lo <= hi, s"$src: CI inverted")
      // the Poisson bootstrap CI should bracket the plain mean for any
      // non-degenerate source at this size
      val m = means(src)
      assert(lo <= m && m <= hi, s"$src: mean $m outside CI [$lo, $hi]")
    }
  }

  test("q151: trimmed mean discards ~20%, lies within source min/max") {
    val got = StatQueries.q151(spark, sf0001)
      .select("source", "n_kept", "trimmed_mean")
      .as[(String, Long, Double)].collect()
    assert(got.nonEmpty)
    val stats = Tables.load(spark, sf0001, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n"), min("n_chars").as("mn"), max("n_chars").as("mx"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    got.foreach { case (src, kept, tm) =>
      val (_, n, mn, mx) = stats(src)
      assert(kept == n - 2 * (n / 10), s"$src: kept $kept of $n")
      assert(tm >= mn && tm <= mx, s"$src: trimmed mean outside range")
    }
  }

  test("q152: gini in [0,1) and matches a direct computation") {
    val row = StatQueries.q152(spark, sf0001).collect().head
    val g = row.getAs[Double]("gini")
    assert(g >= 0.0 && g < 1.0, s"gini $g out of range")
    // independent recomputation from first principles
    val cents = Tables.load(spark, sf0001, "events")
      .groupBy("user_id").agg(sum(round(col("value") * 100).cast("long")).as("c"))
      .select("c").as[Long].collect().sorted
    val n = cents.length.toDouble
    val tot = cents.map(_.toDouble).sum
    val iwx = cents.zipWithIndex.map { case (x, i) => (i + 1) * x.toDouble }.sum
    val expected = 2.0 * iwx / (n * tot) - (n + 1) / n
    assert(math.abs(g - expected) < 0.001, s"gini $g != direct $expected")
  }

  test("q134: card shares bounded, dup accounting consistent, covers all sources") {
    val got = StatQueries.q134(spark, sf0001)
      .select("source", "n_docs", "total_chars", "mean_chars", "top_lang",
        "top_lang_share", "n_exact_dups", "dup_ratio")
      .as[(String, Long, Long, Double, String, Double, Long, Double)].collect()
    val docs = Tables.load(spark, sf0001, "documents")
    assert(got.length == docs.select("source").distinct().count())
    val totalDocs = docs.count()
    assert(got.map(_._2).sum == totalDocs, "n_docs must partition the corpus")
    got.foreach { case (src, n, chars, mean, lang, share, dups, ratio) =>
      assert(share > 0.0 && share <= 1.0, s"$src share $share")
      assert(ratio >= 0.0 && ratio < 1.0, s"$src dup ratio $ratio")
      assert(dups >= 0 && dups < n)
      assert(math.abs(mean - chars.toDouble / n) < 0.001, s"$src mean drift")
      assert(lang.nonEmpty)
    }
  }

  test("q208: separated groups hit the closed-form H; identical groups give exactly 0; real data matches a BigInt replay") {
    // reassemble the exact 128-bit value from the BIGINT hi/lo halves
    def glue(hi: Long, lo: Long): BigInt =
      BigInt(hi) * BigInt("1000000000000000000") + lo
    def run(dir: String): (Long, Long, BigInt, BigInt) = {
      val Array((n0, t0, nhi, nlo, dhi, dlo)) = StatQueries.q208(spark, dir)
        .select("n_total", "sum_ties", "h_num_hi", "h_num_lo",
          "h_den_hi", "h_den_lo")
        .as[(Long, Long, Long, Long, Long, Long)].collect()
      graft.core.Pins.release()
      (n0, t0, glue(nhi, nlo), glue(dhi, dlo))
    }
    def mk(rows: Seq[(Int, String, Double)]): String = {
      val ev = rows.zipWithIndex.map { case ((dd, t0, v), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(f"2024-05-$dd%02d 12:00:00"), 1L, t0, v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val dir = java.nio.file.Files.createTempDirectory("graft_kw").toString
      ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    // full separation, k=2, n=5 each, no ties: H = 6.8181... exactly
    // 18562500/2722500 in the emitted un-reduced encoding
    val sep = mk((1 to 5).map(d0 => (d0, "lo", d0 * 1.0)) ++
      (1 to 5).map(d0 => (d0, "hi", d0 * 10.0)))
    val (n1, t1, hn1, hd1) = run(sep)
    assert((n1, t1) == ((10L, 0L)) && hn1 == BigInt(18562500) &&
      hd1 == BigInt(2722500), s"closed form: ($n1,$t1,$hn1,$hd1)")
    // identical value multisets -> equal rank sums -> H must be 0
    val same = mk((1 to 5).flatMap(d0 =>
      Seq((d0, "a", d0 * 3.0), (d0, "b", d0 * 3.0))))
    val (_, t2, hn2, _) = run(same)
    assert(hn2 == BigInt(0) && t2 == 5L * 6,
      s"identical groups: h_num $hn2, ties $t2")
    // real-data BigInt replay of the whole algebra
    val daily = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
      .select("event_type", "c").as[(String, Long)].collect()
    val pooledCnt = daily.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val sorted = pooledCnt.keys.toSeq.sorted
    val cumB = sorted.scanLeft(0L)((a, v) => a + pooledCnt(v)).dropRight(1)
    val mr2 = sorted.zip(cumB).map { case (v, cb) =>
      v -> (2 * cb + pooledCnt(v) + 1) }.toMap
    val groups = daily.groupBy(_._1).view.mapValues { g =>
      (BigInt(g.length), g.map(r => BigInt(mr2(r._2))).sum)
    }.toMap.map { case (k0, v) => k0 -> v }
    val bigN = BigInt(daily.length)
    val qQ = groups.values.map(_._1).product
    val pP = groups.values.map { case (ni, r2) => r2 * r2 * (qQ / ni) }.sum
    val sumT = pooledCnt.values.map(t0 => BigInt(t0).pow(3) - t0).sum
    val expNum = 3 * (pP - qQ * bigN * (bigN + 1).pow(2)) * (bigN.pow(3) - bigN)
    val expDen = qQ * bigN * (bigN + 1) * (bigN.pow(3) - bigN - sumT)
    val (n3, t3, hn3, hd3) = run(sf0001)
    assert(BigInt(n3) == bigN && BigInt(t3) == sumT &&
      hn3 == expNum && hd3 == expDen,
      s"replay: got ($n3,$t3,$hn3,$hd3) vs ($bigN,$sumT,$expNum,$expDen)")
  }

  test("q216: perfect monotone association hits rho = 1 exactly; anti-monotone -1; real data matches a midrank replay") {
    def mk(rows: Seq[(Int, String, Int)]): String = {
      // k events of value 1.00 per (day, type) -> c = 100k, count = k:
      // perfectly monotone (rho 1); 'down' gets value so c DECREASES
      // while count increases (rho -1)
      val ev = rows.zipWithIndex.flatMap { case ((dd, t0, k), base) =>
        (0 until k).map(i => (base * 1000L + i,
          java.sql.Timestamp.valueOf(f"2024-07-$dd%02d 12:00:00"), 1L, t0,
          if (t0 == "down") (100.0 - 10 * dd) / k else 1.0, "{}"))
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val dir = java.nio.file.Files.createTempDirectory("graft_sp").toString
      ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val dir = mk((1 to 8).map(d0 => (d0, "up", d0 + 1)) ++
      (1 to 8).map(d0 => (d0, "down", d0 + 1)))
    val rows = StatQueries.q216(spark, dir)
      .select("event_type", "num", "vx", "vy", "rho")
      .as[(String, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(rows("up")._2 == rows("up")._3 && rows("up")._3 == rows("up")._4 &&
      rows("up")._5 == 1.0, s"monotone must give num=vx=vy, rho 1: ${rows("up")}")
    assert(rows("down")._2 == -rows("down")._3 && rows("down")._5 == -1.0,
      s"anti-monotone must give num=-vx, rho -1: ${rows("down")}")
    // real-data midrank replay
    val daily = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"),
        count(lit(1)).as("k"))
      .select("event_type", "c", "k").as[(String, Long, Long)].collect()
    def mid2(xs: Seq[Long]): Map[Long, Long] = {
      val sorted = xs.sorted
      xs.distinct.map { v =>
        val below = sorted.count(_ < v); val t0 = sorted.count(_ == v)
        v -> (2L * below + t0 + 1)
      }.toMap
    }
    val expect = daily.groupBy(_._1).map { case (t0, g) =>
      val (mc, mk0) = (mid2(g.map(_._2).toSeq), mid2(g.map(_._3).toSeq))
      val uv = g.map(r => (mc(r._2), mk0(r._3)))
      val n = g.length.toLong
      val (suv, suu, svv) = (uv.map(p => p._1 * p._2).sum,
        uv.map(p => p._1 * p._1).sum, uv.map(p => p._2 * p._2).sum)
      val e2 = n * (n + 1) * (n * (n + 1))
      t0 -> ((n * suv - e2, n * suu - e2, n * svv - e2))
    }
    val real = StatQueries.q216(spark, sf0001)
      .select("event_type", "num", "vx", "vy")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(real == expect, s"midrank replay: ${
      (real.keySet ++ expect.keySet).filter(k0 => real.get(k0) != expect.get(k0)).take(3)}")
  }

  private def glue18(hi: Long, lo: Long): BigInt =
    BigInt(hi) * BigInt("1000000000000000000") + lo

  /** Independent exact-F replay: BigInt fractions from the SS
    * definitions, compared by cross-multiplication (representation-
    * free: the query may emit any equal rational). */
  private def anovaReplay(groups: Map[String, Seq[Long]]): (BigInt, BigInt) = {
    val k = BigInt(groups.size)
    val n = BigInt(groups.values.map(_.size).sum)
    // SSB and SSW as exact fractions over the common denominator D = prod n_i * N
    val qd = groups.values.map(g => BigInt(g.size)).product
    val a = groups.values.map(g => g.map(BigInt(_)).sum.pow(2) * (qd / g.size)).sum
    val s = BigInt(groups.values.flatten.map(BigInt(_)).sum.toString)
    val q = groups.values.flatten.map(x => BigInt(x) * x).sum
    val fNum = (a * n - s * s * qd) * (n - k)
    val fDen = (q * qd - a) * n * (k - 1)
    (fNum, fDen)
  }

  private def runF(q: CoreQueries.Q, dir: String): (Long, Long, BigInt, BigInt) = {
    val Array((n0, k0, nhi, nlo, dhi, dlo)) = q(spark, dir)
      .select("n_tot", "k", "f_num_hi", "f_num_lo", "f_den_hi", "f_den_lo")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    graft.core.Pins.release()
    (n0, k0, glue18(nhi, nlo), glue18(dhi, dlo))
  }

  private def mkDaily(rows: Seq[(Int, String, Double)]): String = {
    val ev = rows.zipWithIndex.map { case ((dd, t0, v), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-05-$dd%02d 12:00:00"), 1L, t0, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_f").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q227: separated groups match the BigInt-fraction replay; identical groups give F = 0; real data agrees") {
    val sep = mkDaily((1 to 3).map(d0 => (d0, "lo", d0 * 1.0)) ++
      (1 to 3).map(d0 => (d0, "hi", d0 * 1.0 + 10.0)))
    val (n1, k1, fn1, fd1) = runF(StatQueries.q227, sep)
    val (en, ed) = anovaReplay(Map(
      "lo" -> Seq(100L, 200L, 300L), "hi" -> Seq(1100L, 1200L, 1300L)))
    assert((n1, k1) == ((6L, 2L)) && fn1 * ed == en * fd1 && fd1 > 0,
      s"closed form: $fn1/$fd1 vs $en/$ed")
    // identical distributions -> SSB = 0 -> F = 0 exactly
    val same = mkDaily((1 to 3).flatMap(d0 =>
      Seq((d0, "a", d0 * 2.0), (d0, "b", d0 * 2.0))))
    val (_, _, fn2, fd2) = runF(StatQueries.q227, same)
    assert(fn2 == 0 && fd2 > 0, s"identical groups: $fn2/$fd2")
    // real-data replay
    val daily = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .select("event_type", "x").as[(String, Long)].collect()
    val (rn, rd) = anovaReplay(daily.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap)
    val (n3, _, fn3, fd3) = runF(StatQueries.q227, sf0001)
    assert(BigInt(n3) == BigInt(daily.length) && fn3 * rd == rn * fd3,
      s"real-data F: $fn3/$fd3 vs $rn/$rd")
  }

  test("q228: equal-median different-spread groups score BF > 0; equal spreads score 0; real data matches the median-centered replay") {
    // medians both 0; spreads differ 1x vs 3x
    val sep = mkDaily(Seq((1, "tight", -0.01), (2, "tight", 0.0), (3, "tight", 0.01),
      (1, "wide", -0.03), (2, "wide", 0.0), (3, "wide", 0.03)))
    val (_, _, fn1, fd1) = runF(StatQueries.q228, sep)
    // z: tight {1,0,1} wide {3,0,3} -> means differ -> F > 0
    assert(fn1 > 0 && fd1 > 0, s"spread difference must score: $fn1/$fd1")
    val same = mkDaily(Seq((1, "a", -0.02), (2, "a", 0.0), (3, "a", 0.02),
      (1, "b", 0.98), (2, "b", 1.0), (3, "b", 1.02)))
    val (_, _, fn2, _) = runF(StatQueries.q228, same)
    assert(fn2 == 0, s"equal spreads around different medians must score 0: $fn2")
    // real-data replay: discrete lower median then the same F fractions
    val daily = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .select(col("event_type"), col("x"),
        col("day").cast("string").as("ds"))
      .as[(String, Long, String)].collect()
    val zGroups = daily.groupBy(_._1).view.mapValues { g =>
      val srt = g.sortBy(r => (r._2, r._3))
      val med = srt((srt.length + 1) / 2 - 1)._2
      g.map(r => math.abs(r._2 - med)).toSeq
    }.toMap
    val (rn, rd) = anovaReplay(zGroups.map(identity))
    val (_, _, fn3, fd3) = runF(StatQueries.q228, sf0001)
    assert(fn3 * rd == rn * fd3, s"real-data BF: $fn3/$fd3 vs $rn/$rd")
  }

  test("q229: consistent within-day orderings maximize the statistic; incomplete days are dropped; real data matches a midrank replay") {
    // 4 complete days, 3 types, always the same order; day 5 missing a type
    val rows = (1 to 4).flatMap(d0 => Seq(
      (d0, "a", 1.0 * d0), (d0, "b", 2.0 * d0), (d0, "c", 3.0 * d0))) ++
      Seq((5, "a", 9.0), (5, "b", 10.0))
    val dir = mkDaily(rows)
    val Array((n1, k1, num1, den1)) = StatQueries.q229(spark, dir)
      .select("n", "k", "fr_num", "fr_den")
      .as[(Long, Long, Long, Long)].collect()
    assert((n1, k1) == ((4L, 3L)), s"incomplete day must drop: n=$n1 k=$k1")
    // no ties, consistent ranks: Q = n(k-1) exactly (the Friedman maximum)
    assert(BigInt(num1) == BigInt(den1) * n1 * (k1 - 1),
      s"max-consistency closed form: $num1/$den1")
    // real-data brute-force replay
    val daily = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .select(col("event_type"), col("day").cast("string"), col("x"))
      .as[(String, String, Long)].collect()
    val k = daily.map(_._1).distinct.length
    val byDay = daily.groupBy(_._2).filter(_._2.length == k)
    val mr2 = byDay.values.flatMap { g =>
      g.map { r =>
        val below = g.count(_._3 < r._3)
        val ties = g.count(_._3 == r._3)
        (r._1, 2L * (below + 1) + ties - 1)
      }
    }.toSeq
    val n = BigInt(byDay.size)
    val r2 = mr2.groupBy(_._1).view.mapValues(_.map(v => BigInt(v._2)).sum)
    val a2 = mr2.map(v => BigInt(v._2) * v._2).sum
    val dev2 = r2.values.map(r => (r - n * (k + 1)).pow(2)).sum
    val eNum = (k - 1) * dev2
    val eDen = a2 - n * k * (k + 1) * (k + 1)
    val Array((n3, k3, num3, den3)) = StatQueries.q229(spark, sf0001)
      .select("n", "k", "fr_num", "fr_den")
      .as[(Long, Long, Long, Long)].collect()
    assert(BigInt(n3) == n && k3 == k && BigInt(num3) == eNum && BigInt(den3) == eDen,
      s"friedman replay: ($n3,$k3,$num3,$den3) vs ($n,$k,$eNum,$eDen)")
  }

  test("q231: constant series emits the -1 guard; a planted oscillation scores DW > 2; real data matches a BigInt replay") {
    val rows = (1 to 6).map(d0 => (d0, "flat", 5.0)) ++
      (1 to 6).map(d0 => (d0, "zig", if (d0 % 2 == 0) 10.0 else 2.0))
    val dir = mkDaily(rows)
    val got = StatQueries.q231(spark, dir)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("flat") == ((6L, -1L)), s"constant series must emit -1: ${got("flat")}")
    // zig: x = 200,1000,... dx = +-800 five times; mean 600, dev2 = 6*400^2
    // DW = 6*5*800^2 / (6*(4*1000^2+... )) -> compute exactly below
    val xs = (1 to 6).map(d0 => if (d0 % 2 == 0) 1000L else 200L)
    val sd2 = xs.sliding(2).map(p => BigInt(p(1) - p(0)).pow(2)).sum
    val s = xs.map(BigInt(_)).sum; val q = xs.map(x => BigInt(x) * x).sum
    val expPpm = (BigInt(6) * sd2 * 1000000) / (BigInt(6) * q - s * s)
    assert(got("zig") == ((6L, expPpm.toLong)) && expPpm > 2000000,
      s"oscillation must score DW > 2: ${got("zig")} vs $expPpm")
    // real-data replay
    val daily = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .select(col("event_type"), col("day").cast("string"), col("x"))
      .as[(String, String, Long)].collect()
    val expect = daily.groupBy(_._1).view.mapValues { g =>
      val xs0 = g.sortBy(_._2).map(_._3)
      val n = BigInt(xs0.length)
      val sd20 = xs0.sliding(2).filter(_.length == 2)
        .map(p => BigInt(p(1) - p(0)).pow(2)).sum
      val s0 = xs0.map(BigInt(_)).sum
      val q0 = xs0.map(x => BigInt(x) * x).sum
      val den = n * q0 - s0 * s0
      if (den == 0) -1L else ((n * sd20 * 1000000) / den).toLong
    }.toMap
    val real = StatQueries.q231(spark, sf0001)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(real == expect.toMap, s"DW replay: $real vs $expect")
  }

  test("q235: the Poisson-bootstrap CI is bit-reproducible against an md5 replay; bounds bracket and order") {
    import java.security.MessageDigest
    val thr = Seq(1656781714176973L, 3313563428353947L, 4141954285442434L,
      4418084571138597L, 4487117142562637L, 4500923656847445L,
      4503224742561580L, 4503553469092171L, 4503594559908495L)
    def h52(s0: String): Long = {
      val md = MessageDigest.getInstance("MD5")
      val hex = md.digest(s0.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      java.lang.Long.parseLong(hex, 16)
    }
    val daily = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .select(col("event_type"), col("day").cast("string"), col("x"))
      .as[(String, String, Long)].collect()
    val expect = daily.groupBy(_._1).view.mapValues { g =>
      val reps = (0 until 200).flatMap { b =>
        val (num, den) = g.foldLeft((BigInt(0), 0L)) { case ((nu, de), r) =>
          val u = h52(s"${r._1}|${r._2}|$b")
          val w = thr.count(u >= _).toLong
          (nu + BigInt(w) * r._3, de + w)
        }
        if (den > 0) Some((num * BigInt(10000000000L) / den, num, den, b.toLong)) else None
      }.sorted
      val bEff = reps.length.toLong
      val kLo = math.max(1L, bEff * 25 / 1000)
      def m4(i: Long) = {
        val r = reps((i - 1).toInt); (r._2 * 10000 / r._3).toLong
      }
      (bEff, m4(kLo), m4(bEff + 1 - kLo))
    }.toMap
    val got = StatQueries.q235(spark, sf0001)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expect.toMap, s"bootstrap replay: ${got.keySet.map(k =>
      (k, got(k), expect(k))).filter(t0 => t0._2 != t0._3).take(2)}")
    got.values.foreach { case (b, lo, hi) =>
      assert(b == 200L && lo <= hi, s"bounds must order: $b, $lo, $hi")
    }
  }

  test("q237: planted oscillation and trend hit exact run counts; zero deltas drop; real data matches a replay") {
    // zig: signs alternate every day -> runs = n_signs; ramp: one run
    // flat2: two equal days in the middle -> zero delta dropped
    val rows = (1 to 8).map(d0 => (d0, "zig", if (d0 % 2 == 0) 9.0 else 1.0)) ++
      (1 to 8).map(d0 => (d0, "ramp", d0 * 1.0)) ++
      Seq((1, "flat2", 1.0), (2, "flat2", 5.0), (3, "flat2", 5.0), (4, "flat2", 2.0))
    val dir = mkDaily(rows)
    val got = StatQueries.q237(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("zig") == (("zig", 4L, 3L, 7L, 31L, 7L)), s"zig: ${got("zig")}")
    assert(got("ramp") == (("ramp", 7L, 0L, 1L, 7L, 7L)), s"ramp: ${got("ramp")}")
    // flat2: deltas +4, 0 (dropped), -3 -> n_up=1 n_down=1 runs=2
    assert(got("flat2") == (("flat2", 1L, 1L, 2L, 4L, 2L)), s"flat2: ${got("flat2")}")
    // real-data replay
    val daily = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .select(col("event_type"), col("day").cast("string"), col("x"))
      .as[(String, String, Long)].collect()
    val expect = daily.groupBy(_._1).view.mapValues { g =>
      val xs = g.sortBy(_._2).map(_._3)
      val sg = xs.sliding(2).filter(_.length == 2).map(p => p(1) - p(0))
        .filter(_ != 0).map(d0 => if (d0 > 0) 1 else -1).toSeq
      val runs = if (sg.isEmpty) 0L
        else 1L + sg.sliding(2).count(p => p.length == 2 && p(0) != p(1))
      val (u, dn) = (sg.count(_ == 1).toLong, sg.count(_ == -1).toLong)
      (u, dn, runs, u + dn + 2 * u * dn, u + dn)
    }.toMap
    val real = StatQueries.q237(spark, sf0001)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(real == expect.toMap, s"runs replay: $real vs $expect")
  }

  test("q238: perfect concordance/discordance and tie accounting are exact; real data matches a pairwise replay") {
    // conc: x and k rise together; disc: x rises while k falls
    val mk2 = { rows: Seq[(Int, String, Int)] =>
      // k events of value 1.00 on day d -> x = 100k, count = k
      val ev = rows.zipWithIndex.flatMap { case ((dd, t0, k), base) =>
        (0 until k).map(i => (base * 1000L + i,
          java.sql.Timestamp.valueOf(f"2024-08-$dd%02d 12:00:00"), 1L, t0, 1.0, "{}"))
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val dir = java.nio.file.Files.createTempDirectory("graft_tau").toString
      ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val dir = mk2((1 to 5).map(d0 => (d0, "conc", d0 + 1)))
    val got = StatQueries.q238(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    graft.core.Pins.release()
    assert(got("conc") == (("conc", 10L, 10L, 0L, 0L)),
      s"perfect concordance: ${got("conc")}")
    // real-data replay
    val daily = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"),
        count(lit(1)).as("k"))
      .select(col("event_type"), col("day").cast("string"), col("x"), col("k"))
      .as[(String, String, Long, Long)].collect()
    val expect = daily.groupBy(_._1).view.mapValues { g =>
      val rs = g.sortBy(_._2)
      val prs = for { i <- rs.indices; j <- (i + 1) until rs.length } yield
        (math.signum(rs(j)._3 - rs(i)._3) * math.signum(rs(j)._4 - rs(i)._4)).toLong
      val n1 = rs.groupBy(_._3).values.map(v => v.size.toLong * (v.size - 1) / 2).sum
      val n2 = rs.groupBy(_._4).values.map(v => v.size.toLong * (v.size - 1) / 2).sum
      (prs.length.toLong, prs.sum, n1, n2)
    }.toMap
    val real = StatQueries.q238(spark, sf0001)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    graft.core.Pins.release()
    assert(real == expect.toMap, s"tau replay: $real vs $expect")
  }

  test("q240: a perfectly linear pre/post relation scores rho2 = 1e6 and theta = 2e6 exactly; real data matches a BigInt replay") {
    // user u: pre revenue = u dollars on Jan 10, post = 2u on Jan 20
    val ev = (1 to 6).flatMap { u =>
      Seq((u.toLong * 2, java.sql.Timestamp.valueOf("2024-01-10 12:00:00"),
        u.toLong, "purchase", u * 1.0, "{}"),
        (u.toLong * 2 + 1, java.sql.Timestamp.valueOf("2024-01-20 12:00:00"),
          u.toLong, "purchase", u * 2.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_cuped").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val Array((n1, sg1, th1, r1)) = StatQueries.q240(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
    assert((n1, sg1, th1, r1) == ((6L, 1L, 2000000L, 1000000L)),
      s"linear plant: ($n1, $sg1, $th1, $r1)")
    // real-data replay
    val pu = Tables.load(spark, sf0001, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(to_date(col("ts")) < lit("2024-01-16").cast("date"),
          round(col("value") * 100).cast("long")).otherwise(0L)).as("x"),
        sum(when(to_date(col("ts")) >= lit("2024-01-16").cast("date"),
          round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
      .as[(Long, Long, Long)].collect()
    val n = BigInt(pu.length)
    val sx = pu.map(r => BigInt(r._2)).sum; val sy = pu.map(r => BigInt(r._3)).sum
    val sxx = pu.map(r => BigInt(r._2).pow(2)).sum
    val syy = pu.map(r => BigInt(r._3).pow(2)).sum
    val sxy = pu.map(r => BigInt(r._2) * r._3).sum
    val cov = sxy * n - sx * sy
    val vx = sxx * n - sx * sx; val vy = syy * n - sy * sy
    val expTheta = cov.abs * 1000000 / vx
    val expRho = ((cov * cov / vx) * 1000000) / vy
    val Array((n2, sg2, th2, r2)) = StatQueries.q240(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect()
    assert(BigInt(n2) == n && sg2 == cov.signum.toLong &&
      BigInt(th2) == expTheta && BigInt(r2) == expRho,
      s"replay: ($n2,$sg2,$th2,$r2) vs ($n,${cov.signum},$expTheta,$expRho)")
  }

  test("q242/q243: hash-parity arms are replayable; planted effect and cancellation geometry are exact") {
    import java.security.MessageDigest
    def arm(uid: Long): Long = {
      val md = MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ab|$uid".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      java.lang.Long.parseLong(hex, 16) % 2
    }
    // find a few users of each arm to plant with
    val aUsers = (1L to 50L).filter(arm(_) == 0).take(3)
    val bUsers = (1L to 50L).filter(arm(_) == 1).take(3)
    assert(aUsers.size == 3 && bUsers.size == 3, "both arms must populate")
    // q242 plant: all B users convert, one A user converts
    def t0(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val ev = (aUsers.zipWithIndex.flatMap { case (u, i) =>
      Seq((u * 10, t0(5), u, if (i == 0) "purchase" else "view", 10.0, "{}"))
    } ++ bUsers.flatMap { u =>
      Seq((u * 10 + 1, t0(5), u, "purchase", 10.0, "{}"))
    }).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_ab").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val Array((na, ca, nb, cb, pa, pb, on, od)) = StatQueries.q242(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert((na, ca, nb, cb) == ((3L, 1L, 3L, 3L)), s"arm counts: $na $ca $nb $cb")
    assert(pa == 333333L && pb == 1000000L && on == 1L * 0L && od == 3L * 2L,
      s"exact ppm/odds: $pa $pb $on/$od")
    // q243 plant: common trend +100c cancels exactly; B adds +50c post
    val ev2 = (aUsers ++ bUsers).flatMap { u =>
      val extra = if (arm(u) == 1) 0.5 else 0.0
      Seq((u * 10, t0(5), u, "purchase", 2.0, "{}"),
        (u * 10 + 1, t0(25), u, "purchase", 3.0 + extra, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir2 = java.nio.file.Files.createTempDirectory("graft_did").toString
    ev2.write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val Array((n2a, n2b, prea, posta, preb, postb, dn, dd)) =
      StatQueries.q243(spark, dir2)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert((n2a, n2b) == ((3L, 3L)))
    assert(prea == 600L && posta == 900L && preb == 600L && postb == 1050L,
      s"period sums: $prea $posta $preb $postb")
    // DiD = (450*3 - 300*3)/9 = 50 cents exactly
    assert(dn == 450L && dd == 9L && dn % dd == 0 && dn / dd == 50L,
      s"planted effect must be exactly 50c: $dn/$dd")
    // real-data replay of both via the same hash
    val users = Tables.load(spark, sf0001, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c"))
      .as[(Long, Long)].collect()
    val (ea, eb) = users.partition(u => arm(u._1) == 0)
    val Array((rna, rca, rnb, rcb, _, _, _, _)) = StatQueries.q242(spark, sf0001)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rna == ea.length && rca == ea.map(_._2).sum &&
      rnb == eb.length && rcb == eb.map(_._2).sum,
      s"real-data arm replay: ($rna,$rca,$rnb,$rcb)")
  }
}
