package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Invariant tests for the round-7 mining family (q159–q167) on
  * sf0.001 plus synthetic constructions — the properties the
  * exact-value oracle compare cannot express: OLS on a known line,
  * perfect/zero correlation endpoints, histogram mass conservation,
  * and the temperature-sampling monotonicity contract.
  */
class MiningSpec extends SparkSpec {
  import spark.implicits._

  test("q159: every returned pair meets the threshold exactly; symmetric in input order") {
    val rows = MiningQueries.q159(spark, sf0001)
      .select("a_id", "b_id", "inter", "n_a", "n_b")
      .as[(Long, Long, Long, Long, Long)].collect()
    rows.foreach { case (a, b, inter, na, nb) =>
      assert(a < b, s"pair ($a,$b) not ordered")
      assert(2 * inter >= na + nb - inter, s"pair ($a,$b) below τ")
      assert(inter <= math.min(na, nb), s"pair ($a,$b) inter exceeds set size")
    }
  }

  test("q160: exact slope on a constructed line, integer moments") {
    // y = 3x + 7 over 5 days → slope_num/slope_den = 3 exactly
    val ev = (0 until 5).flatMap { day =>
      (0 until 3 * day + 7).map { i =>
        (day.toLong * 1000 + i, java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"),
          1L, "click", 1.0, "{}")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_ols").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = MiningQueries.q160(spark, dir)
      .select("slope_num", "slope_den", "slope")
      .as[(Long, Long, Double)].head()
    assert(got._1 == 3 * got._2, s"slope ${got._1}/${got._2} ≠ 3")
    assert(got._3 == 3.0)
  }

  test("q161: histogram mass equals the row count, bounds ordered") {
    val row = MiningQueries.q161(spark, sf0001).collect().head
    val n = row.getAs[Long]("n_rows")
    val hsum = (0 to 9).map(i => row.getAs[Long](s"h$i")).sum
    assert(hsum == n, s"histogram mass $hsum ≠ n_rows $n")
    assert(row.getAs[Long]("lo_cents") <= row.getAs[Long]("hi_cents"))
    assert(row.getAs[Long]("n_users") > 0 && row.getAs[Long]("n_types") > 0)
  }

  test("q163: α=0.5 upweights low-resource languages; samples within bounds") {
    val rows = MiningQueries.q163(spark, sf0001)
      .select("lang", "n_docs", "w_ppm", "n_sampled")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (l, n, _, k) =>
      assert(k >= 0 && k <= n, s"$l: sampled $k of $n")
    }
    // temperature flattening: weight SHARE per doc strictly higher for
    // smaller languages — w/n ∝ 1/√n is monotone decreasing in n
    val byN = rows.sortBy(_._2)
    byN.sliding(2).foreach {
      case Array((la, na, wa, _), (lb, nb, wb, _)) if na < nb =>
        assert(wa.toDouble / na > wb.toDouble / nb,
          s"$la (n=$na) not upweighted vs $lb (n=$nb)")
      case _ => ()
    }
  }

  test("q164: perfect line → r2_ppm = 10⁶ with the line's sign; constant value → 0") {
    // value = 2·hour cents-exact → r² = 1; value constant → vary = 0 → 0
    val ev = (0 until 24).flatMap { h =>
      Seq((h.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00"),
          1L, "lin", 2.0 * h, "{}"),
        (100L + h, java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00"),
          1L, "flat", 5.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_corr").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val byType = MiningQueries.q164(spark, dir)
      .select("event_type", "r_sign", "r2_ppm")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(byType("lin") == ((1L, 1000000L)), s"lin: ${byType("lin")}")
    assert(byType("flat") == ((0L, 0L)), s"flat: ${byType("flat")}")
  }

  test("q169: calibration mass equals the corpus; rates in [0, 10⁶]; bins tile the score range") {
    val rows = PipelineQueries.q169(spark, sf0001)
      .select("bucket", "n", "n_pos", "pos_ppm", "lo_score", "hi_score")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    graft.core.Pins.release()
    val total = Tables.load(spark, sf0001, "embeddings").count()
    assert(rows.map(_._2).sum == total, "every vector must land in a bin")
    rows.foreach { case (b, n, np, ppm, lo, hi) =>
      assert(b >= 0 && b <= 9 && np <= n && ppm >= 0 && ppm <= 1000000 && lo <= hi,
        s"bucket $b malformed")
      assert(ppm == 1000000L * np / n, s"bucket $b: ppm not the exact ratio")
    }
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._6 < b._5,
        s"bucket ${a._1} hi must sit below bucket ${b._1} lo")
      case _ => ()
    }
  }

  test("q170: median/MAD/outlier counts equal a brute-force recompute per type") {
    val got = MiningQueries.q170(spark, sf0001)
      .select("event_type", "n", "med_cents", "mad_cents", "n_outliers")
      .as[(String, Long, Long, Long, Long)].collect()
    graft.core.Pins.release()
    val rows = Tables.load(spark, sf0001, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .as[(String, Long)].collect()
    def lowerMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted; s(((s.length + 1) / 2) - 1)
    }
    got.foreach { case (t, n, med, mad, out) =>
      val xs = rows.filter(_._1 == t).map(_._2).toSeq
      assert(n == xs.length, s"$t: n")
      val m = lowerMedian(xs)
      assert(med == m, s"$t: median $med vs brute $m")
      val devs = xs.map(x => math.abs(x - m))
      val md = lowerMedian(devs)
      assert(mad == md, s"$t: MAD $mad vs brute $md")
      assert(out == devs.count(_ > 3 * md), s"$t: outlier count")
    }
  }

  test("q171: window skyline equals brute-force dominance; tie shapes survive") {
    val got = MiningQueries.q171(spark, sf0001)
      .select("custkey", "spend_cents", "n_orders")
      .as[(Long, Long, Long)].collect().toSet
    val p = Tables.load(spark, sf0001, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("s"),
        count(lit(1)).as("c"))
      .as[(Long, Long, Long)].collect()
    val brute = p.filter { case (_, s, c) =>
      !p.exists { case (_, s2, c2) => s2 >= s && c2 >= c && (s2 > s || c2 > c) }
    }.map { case (k, s, c) => (k, s, c) }.toSet
    assert(got == brute, s"missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    // crafted ties: equal-best duplicates BOTH stay; a same-spend
    // fewer-orders point drops; an off-axis point survives
    val dir = java.nio.file.Files.createTempDirectory("graft_sky").toString
    Seq((1L, 10L, 5), (2L, 10L, 5), (3L, 8L, 4), (4L, 9L, 9))
      .flatMap { case (k, spendCents, cnt) =>
        (1 to cnt).map(i => (k * 100 + i, k, "F",
          spendCents.toDouble / cnt / 100.0,
          java.sql.Timestamp.valueOf("1995-01-01 00:00:00"), "1-URGENT"))
      }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val sky = MiningQueries.q171(spark, dir)
      .select("custkey").as[Long].collect().toSet
    assert(sky == Set(1L, 2L, 4L),
      s"tie semantics: equal-best pair + off-axis point expected, got $sky")
  }

  test("q172: allocations sum to the budget; weights are exact ⌊√v⌋; variance bias holds") {
    val rows = MiningQueries.q172(spark, sf0001)
      .select("event_type", "n", "w", "alloc")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.map(_._4).sum == 1000L, "Hamilton rounding must conserve the budget")
    // recompute ⌊√(n·Σx²−(Σx)²)⌋ with BigInt ground truth
    val moments = Tables.load(spark, sf0001, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("x"))
      .as[(String, Long)].collect().groupBy(_._1)
    rows.foreach { case (t, n, w, alloc) =>
      val xs = moments(t).map(_._2)
      val v = BigInt(xs.length) * xs.map(x => BigInt(x) * x).sum -
        xs.map(BigInt(_)).sum.pow(2)
      val isq = {
        var lo = BigInt(0); var hi = BigInt(1) << 32
        while (lo < hi) { val m = (lo + hi + 1) / 2; if (m * m <= v) lo = m else hi = m - 1 }
        lo
      }
      assert(n == xs.length && BigInt(w) == isq, s"$t: w $w vs exact isqrt $isq")
      assert(alloc >= 0, s"$t: negative allocation")
    }
    // Neyman bias: the stratum with the largest n·σ gets the largest cut
    val maxW = rows.maxBy(_._3); val maxA = rows.maxBy(_._4)
    assert(maxW._1 == maxA._1, "largest-variance-mass stratum must get the largest allocation")
  }

  test("q173: brute-force SNM replay matches; boundary miss is the documented trade") {
    // full replay on sf0.001: block by first char, sort by (text, id),
    // window w=4, word-set Jaccard >= 0.5
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val expected = docs.groupBy(_._2.take(1)).values.flatMap { blk =>
      val sorted = blk.sortBy { case (id, tx) => (tx, id) }
      for {
        i <- sorted.indices; j <- (i + 1) until math.min(i + 4, sorted.length)
        wa = sorted(i)._2.split(' ').distinct.toSet
        wb = sorted(j)._2.split(' ').distinct.toSet
        inter = (wa & wb).size
        if 2 * inter >= (wa ++ wb).size
      } yield (math.min(sorted(i)._1, sorted(j)._1),
        math.max(sorted(i)._1, sorted(j)._1))
    }.toSet
    val got = MiningQueries.q173(spark, sf0001)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == expected, s"SNM mismatch: ${(got diff expected, expected diff got)}")

    // crafted: adjacent same-block near-dups FOUND, cross-block twin MISSED
    val base = "shared words repeated exactly alike in every copy"
    val crafted = Seq(
      (1L, s"alpha $base", "en", "src0", 10L),
      (2L, s"alpha $base extra", "en", "src0", 10L),
      (3L, s"zeta $base", "en", "src0", 10L) // same set, different block
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_snm").toString
    crafted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = MiningQueries.q173(spark, dir)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "adjacent same-block near-dup must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "cross-block twin must be MISSED — the documented single-pass SNM trade")
  }

  test("q174: score matches a BigInt Wilson recompute; output is confidence-ordered") {
    val rows = MiningQueries.q174(spark, sf0001)
      .select("source", "n", "k", "score_ppm")
      .as[(String, Long, Long, Long)].collect()
    def isqrt(v: BigInt): BigInt = {
      var lo = BigInt(0); var hi = v + 1
      while (lo < hi) { val m = (lo + hi + 1) / 2; if (m * m <= v) lo = m else hi = m - 1 }
      lo
    }
    rows.foreach { case (src, n, k, score) =>
      val bn = BigInt(n); val bk = BigInt(k)
      val rt = isqrt(bn * (bk * (bn - bk) + bn))
      val exact = (BigInt(1000000) * (bn * (bk + 2) - 2 * rt)) / (bn * (bn + 4))
      assert(BigInt(score) == exact, s"$src: $score vs exact $exact")
      assert(score >= 0 && score <= 1000000, s"$src: score outside [0, 1e6]")
    }
    assert(rows.map(-_._4).toSeq == rows.map(-_._4).toSeq.sorted,
      "rows must be ordered by descending confidence score")
  }

  test("q175: g3 matches brute force; the key FD structurally holds") {
    val got = MiningQueries.q175(spark, sf0001)
      .select("fd", "n_rows", "n_det", "viol_rows", "holds", "g3_ppm")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    def brute(pairs: Seq[(Any, Any)]): (Long, Long, Long) = {
      val byDet = pairs.groupBy(_._1)
      val n = pairs.size.toLong
      val kept = byDet.values.map(g => g.groupBy(_._2).values.map(_.size).max.toLong).sum
      (n, byDet.size.toLong, n - kept)
    }
    val li = Tables.load(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey")
      .as[(Long, Long, Long)].collect()
    val (n1, d1, v1) = brute(li.map(r => (r._1: Any, r._3: Any)).toSeq)
    val r1 = got("lineitem.l_orderkey->l_suppkey")
    assert((r1._2, r1._3, r1._4) == ((n1, d1, v1)), s"l_orderkey FD: $r1 vs ($n1,$d1,$v1)")
    assert(r1._6 == 1000000L * v1 / n1, "g3_ppm must be the exact floor ratio")
    val key = got("orders.o_orderkey->o_custkey")
    assert(key._5 == 1L && key._4 == 0L,
      "a unique key trivially determines every column — holds must be 1")
  }

  test("q176: a perfectly linear daily series autocorrelates at exactly 1e6 for every lag") {
    // one event per day, value = d dollars -> daily series v_t = t,
    // linear in t, so lag-k Pearson is EXACTLY 1 for every k
    val ev = (1 to 10).map { d =>
      (d.toLong, java.sql.Timestamp.valueOf(f"2024-03-$d%02d 09:00:00"),
        1L, "click", d.toDouble, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_acf").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = MiningQueries.q176(spark, dir)
      .select("lag", "n", "r_sign", "r2_ppm").as[(Long, Long, Long, Long)].collect()
    assert(rows.length == 7)
    rows.foreach { case (lag, n, sign, r2) =>
      assert(n == 10 - lag, s"lag $lag: n must be the overlap count")
      assert(sign == 1L && r2 == 1000000L, s"lag $lag: ($sign, $r2) not perfect")
    }
    // and on real data: BigInt recompute from the daily series
    val daily = Tables.load(spark, sf0001, "events")
      .select(to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("day").agg(sum("c").as("c"))
      .select(col("day").cast("string"), expr("c div 100"))
      .as[(String, Long)].collect().sortBy(_._1).map(_._2)
    val got = MiningQueries.q176(spark, sf0001)
      .select("lag", "r2_ppm").as[(Long, Long)].collect().toMap
    for (lag <- 1 to 7) {
      val x = daily.dropRight(lag).map(BigInt(_)); val y = daily.drop(lag).map(BigInt(_))
      val n = BigInt(x.length)
      val cov = n * x.zip(y).map { case (a, b) => a * b }.sum - x.sum * y.sum
      val vx = n * x.map(a => a * a).sum - x.sum * x.sum
      val vy = n * y.map(a => a * a).sum - y.sum * y.sum
      val exact = if (vx == 0 || vy == 0) BigInt(0)
        else BigInt(1000000) * cov * cov / (vx * vy)
      assert(BigInt(got(lag.toLong)) == exact, s"lag $lag: ${got(lag.toLong)} vs $exact")
    }
  }

  test("q178: hand-checked TWAP on crafted steps; burst under-weighting vs the row mean") {
    // day 1: 1.00 at 00:00, 3.00 at 12:00 -> each holds 12h, TWAP = 200c
    // day 2: 1.00 at 00:00 (23h), then 6 bursts of 5.00 in the last
    // hour -> TWAP = (100*23h + 500*1h)/24h ≈ 116c, row mean = 443c
    val ev = Seq(
      (1L, "2024-05-01 00:00:00", 1.00), (2L, "2024-05-01 12:00:00", 3.00),
      (3L, "2024-05-02 00:00:00", 1.00)) ++
      (0 until 6).map(i => (10L + i, f"2024-05-02 23:${i * 10}%02d:00", 5.00))
    val df = ev.map { case (id, ts, v) =>
      (id, java.sql.Timestamp.valueOf(ts), 1L, "click", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_twap").toString
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = MiningQueries.q178(spark, dir)
      .select("day", "n", "num", "den", "twap_cents")
      .as[(java.sql.Date, Long, Long, Long, Long)].collect()
      .map(r => r._1.toString -> r).toMap
    val d1 = rows("2024-05-01")
    assert(d1._2 == 2 && d1._4 == 86400L * 1000000L && d1._5 == 200L,
      s"day 1: $d1 (expected full-day den, TWAP exactly 200 cents)")
    val d2 = rows("2024-05-02")
    val num2 = 100L * 23 * 3600 * 1000000L + 500L * 3600 * 1000000L
    assert(d2._3 == num2 && d2._5 == num2 / (86400L * 1000000L), s"day 2: $d2")
    assert(d2._5 < 443, "TWAP must under-weight the burst vs the row mean (443c)")
  }

  test("q180: Benford constants sum to exactly 1e6; observed masses account for every order") {
    val rows = MiningQueries.q180(spark, sf0001)
      .select("digit", "obs", "obs_ppm", "exp_ppm", "dev_ppm")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.map(_._4).sum == 1000000L,
      "the nine expected-ppm constants must sum to exactly 1e6")
    val n = Tables.load(spark, sf0001, "orders")
      .filter(round(col("o_totalprice") * 100) > 0).count()
    assert(rows.map(_._2).sum == n, "observed digit counts must cover every positive total")
    rows.foreach { case (dg, obs, oppm, eppm, dev) =>
      assert(dg.length == 1 && dg >= "1" && dg <= "9", s"bad digit $dg")
      assert(oppm == 1000000L * obs / n && dev == oppm - eppm, s"digit $dg row inconsistent")
    }
  }

  test("q181: audit matches a brute-force recompute of the QI groups") {
    val cust = Tables.load(spark, sf0001, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bc"))
      .as[(Long, String, Long)].collect()
    val groups = cust.groupBy(c => (c._1, c._2, (c._3 + 1000000000L) / 10000L))
    val sizes = groups.values.map(_.length.toLong)
    val ldivs = groups.values.map(_.map(_._3).distinct.length.toLong)
    val got = MiningQueries.q181(spark, sf0001)
      .select("k_anonymity", "n_groups", "viol_groups", "risky_rows", "l_diversity_min")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got == ((sizes.min, groups.size.toLong,
      sizes.count(_ < 5).toLong, sizes.filter(_ < 5).sum, ldivs.min)),
      s"audit row $got disagrees with brute force")
  }

  test("q182: every order matches exactly one version; the strict PIT rule excludes same-instant state") {
    // one customer, balance 5.00, orders 10.00 (day 1) and 20.00 (day 2):
    // order 1 must see the BASE version (500c) -- not the version its own
    // arrival opens -- and order 2 must see order 1's version (1000c)
    val cust = Seq((7L, "Customer#7", 1L, 5.00, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val ords = Seq(
      (100L, 7L, "O", 10.00, java.sql.Timestamp.valueOf("1995-02-01 00:00:00"), "1-URGENT"),
      (101L, 7L, "O", 20.00, java.sql.Timestamp.valueOf("1995-02-02 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val dir = java.nio.file.Files.createTempDirectory("graft_pit").toString
    cust.write.mode("overwrite").parquet(s"$dir/customer.parquet")
    ords.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = MiningQueries.q182(spark, dir)
      .select("version", "n_orders", "rev_cents", "feat_cents")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(rows == Seq((1L, 1L, 1000L, 500L), (2L, 1L, 2000L, 1000L)),
      s"PIT join picked the wrong versions: $rows")
    // on real data: the interval tiling makes the join exactly 1:1
    val matched = MiningQueries.q182(spark, sf0001)
      .agg(sum("n_orders")).as[Long].head()
    val nOrders = Tables.load(spark, sf0001, "orders").count()
    assert(matched == nOrders, s"$matched matches for $nOrders orders — not 1:1")
  }

  test("q188: the rolling median shrugs off a planted outlier day; ragged frames are honest") {
    // 15 days of 100c daily totals with day 8 at 100000c: the 7-day
    // rolling MEAN spikes for a week, the median stays at 100
    val ev = (1 to 15).map { dd =>
      (dd.toLong, java.sql.Timestamp.valueOf(f"2024-06-$dd%02d 12:00:00"),
        1L, "click", if (dd == 8) 1000.00 else 1.00, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_rmed").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = MiningQueries.q188(spark, dir)
      .select("day", "daily_cents", "n_win", "med_cents")
      .as[(java.sql.Date, Long, Long, Long)].collect().sortBy(_._1.toString)
    rows.zipWithIndex.foreach { case ((_, _, nWin, med), i) =>
      assert(nWin == math.min(i + 1, 7), s"day $i: ragged frame width $nWin")
      assert(med == 100L, s"day $i: median $med moved off 100 despite the outlier")
    }
    // and on real data: a BigInt-free brute force over the daily series
    val daily = Tables.load(spark, sf0001, "events")
      .select(to_date(col("ts")).cast("string").as("day"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("day").agg(sum("c").as("c"))
      .as[(String, Long)].collect().sortBy(_._1)
    val got = MiningQueries.q188(spark, sf0001)
      .select(col("day").cast("string"), col("med_cents"))
      .as[(String, Long)].collect().toMap
    daily.indices.foreach { i =>
      val win = daily.slice(math.max(0, i - 6), i + 1).map(_._2).sorted
      assert(got(daily(i)._1) == win((win.length - 1) / 2),
        s"day ${daily(i)._1}: rolling median mismatch")
    }
  }

  test("q189: the CUSUM alarm fires only after a planted sustained shift; the window collapse replays the recursion") {
    // 20 baseline days at 100c, then 10 days at 160c: median = 100c,
    // k = 5c, so the high CUSUM jumps 55c on the first shifted day
    // (day 21) and crosses h = 50c immediately — never before it
    val ev = (1 to 30).map { dd =>
      (dd.toLong, java.sql.Timestamp.valueOf(f"2024-06-$dd%02d 12:00:00"),
        1L, "click", if (dd > 20) 1.60 else 1.00, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_cusum").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = MiningQueries.q189(spark, dir)
      .select("day", "cusum_hi_cents", "alarm_hi", "alarm_lo")
      .as[(java.sql.Date, Long, Long, Long)].collect().sortBy(_._1.toString)
    rows.take(20).foreach { case (d0, _, hi, lo) =>
      assert(hi == 0L && lo == 0L, s"$d0: alarm before the shift") }
    assert(rows.drop(20).forall(_._3 == 1L), "alarm_hi must stay on from day 21")
    // and on real data: replay Page's recursion directly
    val daily = Tables.load(spark, sf0001, "events")
      .select(to_date(col("ts")).cast("string").as("day"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("day").agg(sum("c").as("c"))
      .as[(String, Long)].collect().sortBy(_._1)
    val m = daily.map(_._2).sorted.apply((daily.length - 1) / 2)
    val k = m / 20
    val got = MiningQueries.q189(spark, sf0001)
      .select(col("day").cast("string"), col("cusum_hi_cents"), col("cusum_lo_cents"))
      .as[(String, Long, Long)].collect().map { case (d0, a, b) => d0 -> ((a, b)) }.toMap
    var (sHi, sLo) = (0L, 0L)
    daily.foreach { case (d0, c) =>
      sHi = math.max(0L, sHi + c - m - k); sLo = math.max(0L, sLo + m - c - k)
      assert(got(d0) == ((sHi, sLo)), s"$d0: window collapse diverges from the recursion")
    }
  }

  test("q189: a null day or an all-null-value day takes the distributed tier, equal to the forced fallback") {
    // day 5's values are all null (daily_cents null) and one row has a
    // null ts (a null day): the driver replay decodes Longs and would
    // throw, so the default cap must yield the over-gate form's rows
    val ev = (1 to 10).map { dd =>
      (dd.toLong, java.sql.Timestamp.valueOf(f"2024-06-$dd%02d 12:00:00"),
        1L, "click", if (dd == 5) None else Some(1.00 * dd), "{}")
    } :+ ((11L, null: java.sql.Timestamp, 1L, "click", Some(3.00), "{}"))
    val dir = java.nio.file.Files.createTempDirectory("graft_cusum_null").toString
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def run() = MiningQueries.q189(spark, dir).collect().toSeq
    try {
      val dflt = run()
      assert(dflt.length == 11, s"expected 10 days + the null day, got $dflt")
      spark.conf.set(MiningQueries.CusumLocalDayLimitKey, "0")
      val forced = run()
      assert(dflt == forced, s"default cap diverged:\n$dflt\nforced:\n$forced")
    } finally {
      spark.conf.unset(MiningQueries.CusumLocalDayLimitKey)
      graft.core.Pins.release()
    }
  }

  test("q190: crafted islands count exactly; real-data streaks match a brute-force replay") {
    val ev = Seq(1, 2, 3, 5, 6, 10).zipWithIndex.map { case (dd, i) =>
      ((i + 1).toLong, java.sql.Timestamp.valueOf(f"2024-06-$dd%02d 12:00:00"),
        7L, "click", 1.00, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_streak").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val Array((days, streaks, longest)) = MiningQueries.q190(spark, dir)
      .select("n_active_days", "n_streaks", "longest_streak")
      .as[(Long, Long, Long)].collect()
    assert((days, streaks, longest) == ((6L, 3L, 3L)),
      s"crafted 1-2-3 / 5-6 / 10 pattern gave ($days,$streaks,$longest)")
    // brute force per user on sf0.001
    val act = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), datediff(to_date(col("ts")),
        lit("1970-01-01").cast("date")).as("di"))
      .distinct().as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    val got = MiningQueries.q190(spark, sf0001)
      .select("user_id", "n_active_days", "n_streaks", "longest_streak")
      .as[(Long, Long, Long, Long)].collect()
    got.foreach { case (u, nd, ns, lg) =>
      val ds = act(u)
      var lens = Vector.empty[Long]; var cur = 1L
      ds.sliding(2).foreach {
        case Vector(a, b) => if (b == a + 1) cur += 1 else { lens :+= cur; cur = 1 }
        case _ => ()
      }
      lens :+= cur
      assert(nd == ds.length.toLong && ns == lens.length.toLong && lg == lens.max,
        s"user $u: ($nd,$ns,$lg) vs brute (${ds.length},${lens.length},${lens.max})")
    }
  }

  test("q191: crafted overlap merges; real-data coverage matches an interval-union replay") {
    val base = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    val ev = Seq(0L, 100L, 1000L).zipWithIndex.map { case (secs, i) =>
      ((i + 1).toLong, new java.sql.Timestamp(base + secs * 1000), 7L, "click", 1.00, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_iv").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val Array((cov, isl, nev)) = MiningQueries.q191(spark, dir)
      .select("covered_micros", "n_islands", "n_events")
      .as[(Long, Long, Long)].collect()
    assert((cov, isl, nev) == ((700000000L, 2L, 3L)),
      s"overlapping 0s/100s + isolated 1000s gave ($cov,$isl,$nev)")
    // brute-force union sweep per user on sf0.001
    val evs = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("st"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toVector).toMap
    val got = MiningQueries.q191(spark, sf0001)
      .select("user_id", "covered_micros", "n_islands")
      .as[(Long, Long, Long)].collect()
    got.foreach { case (u, cov0, isl0) =>
      var (covB, islB, end) = (0L, 0L, Long.MinValue)
      evs(u).foreach { st =>
        val en = st + 300000000L
        if (st > end) { islB += 1; covB += en - st; end = en }
        else if (en > end) { covB += en - end; end = en }
      }
      assert((cov0, isl0) == ((covB, islB)),
        s"user $u: ($cov0,$isl0) vs swept ($covB,$islB)")
    }
  }

  test("q193: censored gaps enter the risk set but never the event count; the fold replays KM exactly") {
    // A: events at h0,h10 (one 10h event-gap, one 10h censored tail);
    // B: event at h0 (20h censored); C: event at h20 (defines corpus
    // end, 0h censored). Only dur=10 has events: n_risk=3 (both 10h
    // gaps + B's 20h), d=1 → surv = 1e6*2//3 = 666666.
    val base = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    val ev = Seq((1L, 0), (1L, 10), (2L, 0), (3L, 20)).zipWithIndex.map {
      case ((u, h), i) =>
        ((i + 1).toLong, new java.sql.Timestamp(base + h * 3600000L), u, "click", 1.00, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_km").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val craft = MiningQueries.q193(spark, dir)
      .select("dur_hours", "n_risk", "d", "surv_ppm")
      .as[(Long, Long, Long, Long)].collect()
    graft.core.Pins.release()
    assert(craft.toSeq == Seq((10L, 3L, 1L, 666666L)),
      s"hand-computed KM row diverges: ${craft.toSeq}")
    // real data: replay the estimator from raw gaps
    val evs = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)].collect()
    val mx = evs.map(_._2).max
    val gaps = evs.groupBy(_._1).values.flatMap { g =>
      val ts = g.map(_._2).sorted
      ts.sliding(2).collect { case Array(a, b) => ((b - a) / 3600000000L, 1L) } ++
        Seq(((mx - ts.last) / 3600000000L, 0L))
    }.toVector
    val grid = gaps.groupBy(_._1).map { case (dur, xs) =>
      (dur, xs.length.toLong, xs.map(_._2).sum) }.toVector.sortBy(_._1)
    var atRisk = gaps.length.toLong
    var s = 1000000L
    val expect = grid.flatMap { case (dur, nAll, dd) =>
      val row = if (dd > 0) { s = s * (atRisk - dd) / atRisk
        Some((dur, atRisk, dd, s)) } else None
      atRisk -= nAll
      row
    }
    val got = MiningQueries.q193(spark, sf0001)
      .select("dur_hours", "n_risk", "d", "surv_ppm")
      .as[(Long, Long, Long, Long)].collect().toVector
    graft.core.Pins.release()
    assert(got == expect, "KM curve diverges from the direct replay")
    assert(got.map(_._4) == got.map(_._4).sorted.reverse, "survival must be non-increasing")
  }

  test("q194: an exact planted plane is recovered rationally; dets match a BigInt replay") {
    // daily cents = 500 + 300*x1 - 200*x2 exactly, over 14 days
    // (2 weekends in range): Cramer must return det_bi = beta_i * det_a
    val epoch = java.time.LocalDate.parse("2024-01-01")
    val ev = (0 until 14).map { i =>
      val day = java.time.LocalDate.parse("2024-06-01").plusDays(i)
      val x1 = java.time.temporal.ChronoUnit.DAYS.between(epoch, day)
      val x2 = if (day.getDayOfWeek.getValue >= 6) 1L else 0L
      val cents = 500L + 300L * x1 - 200L * x2
      ((i + 1).toLong, java.sql.Timestamp.valueOf(day.atTime(12, 0)),
        1L, "click", cents / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_ols").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    // reassemble each exact determinant from its (sgn, hi, lo) triple
    def dets(dir0: String): Array[(String, BigInt, BigInt, BigInt, BigInt)] =
      MiningQueries.q194(spark, dir0)
        .select("event_type", Seq("a", "b0", "b1", "b2").flatMap(o =>
          Seq(s"${o}_sgn", s"${o}_hi", s"${o}_lo")): _*)
        .collect().map { r =>
          def g(i: Int): BigInt = BigInt(r.getLong(i)) *
            (BigInt(r.getLong(i + 1)) * BigInt("1000000000000000000") +
              r.getLong(i + 2))
          (r.getString(0), g(1), g(4), g(7), g(10))
        }
    val Array((_, da, d0, d1, d2)) = dets(dir)
    assert(da > 0, "Gram determinant must be positive for a full-rank design")
    assert(d0 == 500 * da && d1 == 300 * da && d2 == -200 * da,
      s"plane not recovered: b0=$d0/$da b1=$d1/$da b2=$d2/$da")
    // BigInt replay on real data
    val daily = Tables.load(spark, sf0001, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("event_type", "day").agg(sum("c").as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("long").as("x1"),
        (weekday(col("day")) >= 5).cast("long").as("x2"), col("y"))
      .as[(String, Long, Long, Long)].collect()
    val got = dets(sf0001)
    got.foreach { case (et, sa, s0, s1, s2) =>
      val rows = daily.filter(_._1 == et).map(r => (BigInt(r._2), BigInt(r._3), BigInt(r._4)))
      val n = BigInt(rows.length)
      val (sx1, sx2) = (rows.map(_._1).sum, rows.map(_._2).sum)
      val (s11, s12, s22) = (rows.map(r => r._1 * r._1).sum,
        rows.map(r => r._1 * r._2).sum, rows.map(r => r._2 * r._2).sum)
      val (sy, s1y, s2y) = (rows.map(_._3).sum,
        rows.map(r => r._1 * r._3).sum, rows.map(r => r._2 * r._3).sum)
      def det3(a: BigInt, b: BigInt, c: BigInt, d0_ : BigInt, e: BigInt, f: BigInt,
               g: BigInt, h: BigInt, i: BigInt) =
        a * (e * i - f * h) - b * (d0_ * i - f * g) + c * (d0_ * h - e * g)
      val da2 = det3(n, sx1, sx2, sx1, s11, s12, sx2, s12, s22)
      val db0 = det3(sy, sx1, sx2, s1y, s11, s12, s2y, s12, s22)
      val db1 = det3(n, sy, sx2, sx1, s1y, s12, sx2, s2y, s22)
      val db2 = det3(n, sx1, sy, sx1, s11, s1y, sx2, s12, s2y)
      assert(sa == da2 && s0 == db0 &&
        s1 == db1 && s2 == db2, s"$et: dets diverge from BigInt replay")
    }
  }

  test("q196: U2 equals the brute-force pairwise count; perfect separation hits AUC exactly 1") {
    // crafted: 'hi' strictly above everything else -> U2 = 2*n1*n2, auc = 1e6
    val t0s = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    val ev = ((1 to 5).map(i => (i.toLong, t0s, 1L, "hi", 100.0 + i, "{}")) ++
      (6 to 15).map(i => (i.toLong, t0s, 2L, "lo", 1.0 + i * 0.01, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_mwu").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val craft = MiningQueries.q196(spark, dir)
      .select("event_type", "n1", "n2", "u2", "auc_ppm")
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    graft.core.Pins.release()
    assert(craft("hi")._4 == 2 * 5 * 10 && craft("hi")._5 == 1000000L,
      s"perfect separation must score U2=2*n1*n2, AUC=1e6: ${craft("hi")}")
    assert(craft("lo")._4 == 0L && craft("lo")._5 == 0L, "the dominated side scores 0")
    // brute force on sf0.001
    val vals = Tables.load(spark, sf0001, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .as[(String, Long)].collect()
    val got = MiningQueries.q196(spark, sf0001)
      .select("event_type", "u2").as[(String, Long)].collect().toMap
    graft.core.Pins.release()
    vals.map(_._1).distinct.foreach { t0 =>
      val xs = vals.filter(_._1 == t0).map(_._2)
      val ys = vals.filter(_._1 != t0).map(_._2)
      val u2b = xs.map(x => ys.count(_ < x) * 2L + ys.count(_ == x)).sum
      assert(got(t0) == u2b, s"$t0: U2 ${got(t0)} vs brute $u2b")
    }
  }

  test("q197: a strictly increasing series maxes S with tie-free variance; real data matches brute force") {
    val ev = (1 to 10).map { dd =>
      (dd.toLong, java.sql.Timestamp.valueOf(f"2024-06-$dd%02d 12:00:00"),
        1L, "click", dd * 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_mk").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val Array((n, s0, v18)) = MiningQueries.q197(spark, dir)
      .select("n_days", "s", "var18").as[(Long, Long, Long)].collect()
    graft.core.Pins.release()
    assert(n == 10L && s0 == 45L && v18 == 10L * 9 * 25,
      s"monotone series must give S=n(n-1)/2 and tie-free var18: ($n,$s0,$v18)")
    // brute-force per type on sf0.001
    val daily = Tables.load(spark, sf0001, "events")
      .select(col("event_type"), to_date(col("ts")).cast("string").as("day"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("event_type", "day").agg(sum("c").as("c"))
      .as[(String, String, Long)].collect()
    val got = MiningQueries.q197(spark, sf0001)
      .select("event_type", "s", "var18").as[(String, Long, Long)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    graft.core.Pins.release()
    daily.map(_._1).distinct.foreach { t0 =>
      val ser = daily.filter(_._1 == t0).sortBy(_._2).map(_._3)
      val sB = (for { i <- ser.indices; j <- (i + 1) until ser.length }
        yield (ser(j) - ser(i)).sign.toLong).sum
      val nD = ser.length.toLong
      val tieB = ser.groupBy(identity).values.map(_.length.toLong)
        .map(t => t * (t - 1) * (2 * t + 5)).sum
      assert(got(t0) == ((sB, nD * (nD - 1) * (2 * nD + 5) - tieB)),
        s"$t0: (S, var18) ${got(t0)} vs brute")
    }
  }

  test("q198: shares and gini match a direct frequency replay on both key columns") {
    val got = MiningQueries.q198(spark, sf0001)
      .select("tag", "n_keys", "n_rows", "max_share_ppm", "top10_share_ppm", "gini")
      .as[(String, Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    def replay(counts: Seq[Long]): (Long, Long, Long, Long, Double) = {
      val n = counts.sum; val sorted = counts.sorted
      val iwx = sorted.zipWithIndex.map { case (c, i) => (i + 1) * c }.sum
      val gini = BigDecimal(2.0 * iwx / (counts.length.toDouble * n) -
        (counts.length + 1).toDouble / counts.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (counts.length.toLong, n, 1000000L * counts.max / n,
        1000000L * counts.sorted.reverse.take(10).sum / n, gini)
    }
    val evCounts = Tables.load(spark, sf0001, "events")
      .groupBy("user_id").count().as[(Long, Long)].collect().map(_._2).toSeq
    val ordCounts = Tables.load(spark, sf0001, "orders")
      .groupBy("o_custkey").count().as[(Long, Long)].collect().map(_._2).toSeq
    assert(got("events.user_id").productIterator.drop(1).toSeq ==
      replay(evCounts).productIterator.toSeq, "events.user_id skew row diverges")
    assert(got("orders.o_custkey").productIterator.drop(1).toSeq ==
      replay(ordCounts).productIterator.toSeq, "orders.o_custkey skew row diverges")
  }

  test("q199: mapping is monotone per source and lands on exact pooled order statistics") {
    val vals = Tables.load(spark, sf0001, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .as[(String, Long)].collect()
    val pooledSorted = vals.map(_._2).sorted
    val n = pooledSorted.length.toLong
    val got = MiningQueries.q199(spark, sf0001)
      .select("event_type", "cents", "n_t", "mapped_cents")
      .as[(String, Long, Long, Long)].collect()
    graft.core.Pins.release()
    got.groupBy(_._1).foreach { case (t0, rows) =>
      val sortedRows = rows.sortBy(_._2)
      assert(sortedRows.map(_._4).toSeq == sortedRows.map(_._4).sorted.toSeq,
        s"$t0: quantile mapping must be monotone")
      val src = vals.filter(_._1 == t0).map(_._2)
      val nS = src.length.toLong
      var r = 0L
      sortedRows.foreach { case (_, c, nT, mapped) =>
        r += nT
        val k = (r * n + nS - 1) / nS
        assert(mapped == pooledSorted((k - 1).toInt),
          s"$t0 cents=$c: mapped $mapped is not the pooled ${k}-th order statistic")
      }
      assert(r == nS, s"$t0: cumulative ranks must exhaust the source")
    }
  }

  test("q200: crafted geometry lands exact roles; real-data roles satisfy the DBSCAN invariants") {
    // K5 blob on dim0 (0,200,400,600,800 quantized — all pairwise <= 640k
    // <= eps2): every blob point has degree 4 -> core, one cluster labeled
    // by the min id. Border at 1900: within eps of the 800-point only
    // (1100^2 = 1.21e6), degree 1. Noise at 5000: beyond eps of everything.
    val mk = (id: Long, d0: Double) =>
      (id, (d0 +: Seq.fill(63)(0.0)).map(_.toFloat), 0)
    val pts = Seq(mk(1L, 0.0), mk(2L, 0.2), mk(3L, 0.4), mk(4L, 0.6),
      mk(5L, 0.8), mk(6L, 1.9), mk(7L, 5.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_dbscan").toString
    pts.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val craft = PipelineQueries.q200(spark, dir)
      .select("vec_id", "role", "cluster")
      .as[(Long, String, Option[Long])].collect().sortBy(_._1)
    graft.core.Pins.release()
    assert(craft.toSeq == Seq(
      (1L, "core", Some(1L)), (2L, "core", Some(1L)), (3L, "core", Some(1L)),
      (4L, "core", Some(1L)), (5L, "core", Some(1L)),
      (6L, "border", Some(1L)), (7L, "noise", None)),
      s"crafted geometry misclassified: ${craft.toSeq}")
    // real data: replay the eps-graph brute force and check every invariant
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * 1000).cast("long")).as("v"))
      .as[(Long, Array[Long])].collect()
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      d2 = vecs(i)._2.zip(vecs(j)._2).map { case (a, b) => (a - b) * (a - b) }.sum
      if d2 <= 1300000L
    } {
      adj(vecs(i)._1) += vecs(j)._1; adj(vecs(j)._1) += vecs(i)._1
    }
    val cores = vecs.map(_._1).filter(adj(_).size >= 3).toSet
    val got = PipelineQueries.q200(spark, sf0001)
      .select("vec_id", "role", "cluster")
      .as[(Long, String, Option[Long])].collect()
    graft.core.Pins.release()
    val byId = got.map(r => r._1 -> r).toMap
    got.foreach { case (id, role, cl) =>
      role match {
        case "core" =>
          assert(cores(id) && cl.isDefined, s"$id: core without degree >= 3")
        case "border" =>
          assert(!cores(id) && adj(id).exists(cores), s"$id: border needs a core neighbor")
          val expect = adj(id).filter(cores).map(n => byId(n)._3.get).min
          assert(cl.contains(expect), s"$id: border must take the MIN core-neighbor cluster")
        case "noise" =>
          assert(!cores(id) && !adj(id).exists(cores) && cl.isEmpty,
            s"$id: noise with a core neighbor")
      }
    }
    // local label consistency: eps-adjacent cores share a cluster
    cores.foreach { c =>
      adj(c).filter(cores).foreach { n =>
        assert(byId(c)._3 == byId(n)._3, s"adjacent cores $c/$n in different clusters")
      }
    }
  }

  test("q165: versions contiguous per key — each close equals the next open; one live row per key") {
    val rows = MiningQueries.q165(spark, sf0001)
      .select("custkey", "version", "valid_from_us", "valid_to_us")
      .as[(Long, Long, Long, Option[Long])].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (k, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.head._2 == 1L && sorted.head._3 == 0L,
        s"key $k: version 1 must be the base row opening at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3),
            s"key $k: version ${a._2} closes at ${a._4}, next opens ${b._3}")
        case _ => ()
      }
      assert(sorted.count(_._4.isEmpty) == 1, s"key $k: exactly one live row")
    }
  }

  test("q166: change types partition the key space; mass checks out") {
    val rows = MiningQueries.q166(spark, sf0001)
      .select("change_type", "n_keys", "delta_cents")
      .as[(String, Long, Long)].collect()
    graft.core.Pins.release()
    assert(rows.map(_._1).toSet.subsetOf(
      Set("added", "removed", "changed", "unchanged")))
    val totalKeys = rows.map(_._2).sum
    val want = Tables.load(spark, sf0001, "orders")
      .select("o_custkey").distinct().count()
    assert(totalKeys == want,
      s"diff covered $totalKeys keys, union of snapshots has $want")
  }

  test("q167: buckets tile the value domain in order; mass conserved; depths bounded") {
    val rows = MiningQueries.q167(spark, sf0001)
      .select("bucket", "n_rows", "lo_cents", "hi_cents", "n_users")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    graft.core.Pins.release()
    val total = Tables.load(spark, sf0001, "events").count()
    assert(rows.map(_._2).sum == total, "histogram mass must equal the row count")
    rows.foreach { case (b, n, lo, hi, u) =>
      assert(b >= 0 && b <= 9 && n > 0 && lo <= hi && u <= n, s"bucket $b malformed")
    }
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._4 < b._3,
        s"bucket ${a._1} hi ${a._4} must sit below bucket ${b._1} lo ${b._3}")
      case _ => ()
    }
    // equi-DEPTH: no bucket more than ~3× the ideal tenth (ties can
    // skew, but the breakpoints must still spread the mass)
    assert(rows.map(_._2).max <= 3 * (total / 10 + 1),
      s"a bucket holds ${rows.map(_._2).max} of $total rows — breakpoints degenerate")
  }

  test("q203: crafted twins classify as the top pattern; real-data weights match a BigInt replay") {
    // one nation, six customers: 1001 & 2001 are twins agreeing on
    // ALL THREE fields (segment, $1000 band, key suffix 1); the other
    // four are pairwise-distinct on every field, so chance agreement
    // (the data-estimated u) is LOW and the likelihood ratio
    // separates: all-agree ⇒ match, all-disagree ⇒ non-match
    val cust = Seq(
      (1001L, "Customer#1001", 7, 1234.00, "BUILDING"),
      (2001L, "Customer#2001", 7, 1250.00, "BUILDING"),
      (3503L, "Customer#3503", 7, 9200.00, "MACHINERY"),
      (4777L, "Customer#4777", 7, 5100.00, "AUTOMOBILE"),
      (5999L, "Customer#5999", 7, 7300.00, "HOUSEHOLD"),
      (6888L, "Customer#6888", 7, 3500.00, "FURNITURE"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val dir = java.nio.file.Files.createTempDirectory("graft_fs").toString
    cust.write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = MiningQueries.q203(spark, dir)
      .select("g_seg", "g_bal", "g_key", "n_pairs", "w_num", "w_den", "cls")
      .as[(Int, Int, Int, Long, Long, Long, Int)].collect()
      .map(r => (r._1, r._2, r._3) -> r).toMap
    graft.core.Pins.release()
    // pairs: the twin pair = (1,1,1); the other 14 = (0,0,0)
    assert(got((1, 1, 1))._4 == 1L && got((0, 0, 0))._4 == 14L &&
      got.size == 2, s"pattern counts: $got")
    // full agreement must be a MATCH (R >> 100), full disagreement a
    // NON-match (R < 1) for any data-estimated u in (0, 1)
    assert(got((1, 1, 1))._7 == 2, "the all-agree pattern must classify as match")
    assert(got((0, 0, 0))._7 == 0, "the all-disagree pattern must classify as non-match")
    // real data: weights and counts match an exact BigInt replay
    val rows = Tables.load(spark, sf0001, "customer")
      .selectExpr("c_custkey", "CAST(c_nationkey AS BIGINT)", "c_mktsegment",
        "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000",
        "c_custkey % 1000")
      .as[(Long, Long, String, Long, Long)].collect()
    val n = BigInt(rows.length)
    def uOf[K](f: ((Long, Long, String, Long, Long)) => K): BigInt = {
      val num = rows.groupBy(f).values
        .map(g => BigInt(g.length) * (g.length - 1)).sum
      (num * 1000000 / (n * (n - 1))).max(1)
    }
    val (uS, uB, uK) = (uOf(_._3), uOf(_._4), uOf(_._5))
    val ms = Map(1 -> BigInt(900000), 0 -> BigInt(100000))
    val mb = Map(1 -> BigInt(850000), 0 -> BigInt(150000))
    val mk = Map(1 -> BigInt(999000), 0 -> BigInt(1000))
    val pairs = for {
      i <- rows.indices; j <- rows.indices
      if rows(i)._1 < rows(j)._1 && rows(i)._2 == rows(j)._2
    } yield ((if (rows(i)._3 == rows(j)._3) 1 else 0,
      if (rows(i)._4 == rows(j)._4) 1 else 0,
      if (rows(i)._5 == rows(j)._5) 1 else 0))
    val brute = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val real = MiningQueries.q203(spark, sf0001)
      .select("g_seg", "g_bal", "g_key", "n_pairs", "w_num", "w_den")
      .as[(Int, Int, Int, Long, Long, Long)].collect()
    graft.core.Pins.release()
    assert(real.map(r => (r._1, r._2, r._3) -> r._4).toMap == brute,
      "pattern pair counts must match the brute-force block replay")
    real.foreach { case (gs, gb, gk, _, wn, wd) =>
      val en = ms(gs) * mb(gb) * mk(gk)
      val ed = (if (gs == 1) uS else 1000000 - uS) *
        (if (gb == 1) uB else 1000000 - uB) *
        (if (gk == 1) uK else 1000000 - uK)
      assert(BigInt(wn) == en && BigInt(wd) == ed,
        s"pattern ($gs,$gb,$gk): weights ($wn,$wd) vs replay ($en,$ed)")
    }
  }

  test("q204: crafted edge/containment/touch geometry lands exact seconds; real data matches a range-join replay") {
    def ts(t: String) = java.sql.Timestamp.valueOf(s"2024-06-01 $t")
    // incident hour 10:00-11:00 is forced by user 99's six errors;
    // user 1 overlaps the left edge 180 s, user 2 the right edge 30 s,
    // user 3 TOUCHES the boundary exactly (session end = window start)
    // and must not appear — [a,b) x [b,c) is empty
    val ev = (Seq(
      (1L, ts("09:58:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("10:59:30"), 2L, "view", 1.0, "{}"),
      (3L, ts("09:55:00"), 3L, "view", 1.0, "{}")) ++
      (0 until 6).map(i =>
        (10L + i, ts(f"10:30:0$i"), 99L, "error", 1.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_ovj").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = MiningQueries.q204(spark, dir)
      .select("user_id", "n_sessions", "n_windows", "lost_seconds")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    graft.core.Pins.release()
    assert(got(1L) == ((1L, 1L, 1L, 180L)), s"left-edge overlap: ${got.get(1L)}")
    assert(got(2L) == ((2L, 1L, 1L, 30L)), s"right-edge overlap: ${got.get(2L)}")
    assert(!got.contains(3L), "a session TOUCHING the window boundary must not join")
    // user 99's errors merge to one island [10:30:00, 10:35:05) wholly
    // inside the hour -> 305 s
    assert(got(99L) == ((99L, 1L, 1L, 305L)), s"contained session: ${got.get(99L)}")
    // real data: brute-force range-join replay
    val evs = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id", "event_type", "unix_micros(ts) div 1000000 AS st")
      .as[(Long, String, Long)].collect()
    val wins = evs.filter(_._2 == "error").groupBy(e => e._3 / 3600 * 3600)
      .collect { case (w, g) if g.length >= 6 => w }.toSeq
    val sessions = evs.groupBy(_._1).toSeq.flatMap { case (u, g) =>
      val sorted = g.map(_._3).sorted
      val isl = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      sorted.foreach { st =>
        if (isl.nonEmpty && st <= isl.last._2)
          isl(isl.length - 1) = (isl.last._1, math.max(isl.last._2, st + 300))
        else isl += ((st, st + 300))
      }
      isl.map { case (a, b) => (u, a, b) }
    }
    val brute = sessions.flatMap { case (u, a, b) =>
      wins.filter(w => a < w + 3600 && w < b)
        .map(w => (u, (a, b), w, math.min(b, w + 3600) - math.max(a, w)))
    }.groupBy(_._1).view.mapValues { rows =>
      (rows.map(_._2).distinct.size.toLong, rows.map(_._3).distinct.size.toLong,
        rows.map(_._4).sum)
    }.toMap
    val real = MiningQueries.q204(spark, sf0001)
      .select("user_id", "n_sessions", "n_windows", "lost_seconds")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    graft.core.Pins.release()
    assert(real == brute, s"bucket-join vs range-join replay: ${
      (real.keySet ++ brute.keySet).filter(k => real.get(k) != brute.get(k)).take(3)}")
  }

  test("q205: a planted spike alarms, a flat series never does; real data matches a BigInt kernel replay") {
    // 25 flat days of 1000 cents then one 50000-cent spike
    val ev = (1 to 26).flatMap { dd =>
      val n = if (dd == 26) 500 else 10
      (1 to n).map(i => (dd * 1000L + i,
        java.sql.Timestamp.valueOf(f"2024-03-$dd%02d 12:00:00"), 1L, "click", 1.0, "{}"))
    } ++ (1 to 20).map(dd => (90000L + dd,
      java.sql.Timestamp.valueOf(f"2024-03-$dd%02d 13:00:00"), 2L, "view", 2.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ewma").toString
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = MiningQueries.q205(spark, dir)
      .select("event_type", "day", "x_cents", "ewma_c", "alarm")
      .as[(String, java.sql.Date, Long, Long, Int)].collect()
    graft.core.Pins.release()
    val clicks = got.filter(_._1 == "click")
    assert(clicks.filter(_._5 == 1).map(_._2.toString) sameElements Array("2024-03-26"),
      s"only the spike day may alarm: ${clicks.filter(_._5 == 1).mkString(",")}")
    // the spike day's prediction is the flat level exactly (all lags 1000)
    assert(clicks.last._4 == 1000L, s"flat-history EWMA must be the level: ${clicks.last}")
    assert(got.filter(_._1 == "view").forall(_._5 == 0), "a flat series must never alarm")
    // real-data replay of the full integer kernel
    val daily = Tables.load(spark, sf0001, "events")
      .selectExpr("event_type", "CAST(ts AS DATE) AS day",
        "CAST(round(value * 100) AS BIGINT) AS c")
      .groupBy("event_type", "day").agg(sum("c").as("x"))
      .selectExpr("event_type", "CAST(day AS STRING)", "x")
      .as[(String, String, Long)].collect()
    def wj(j: Int): BigInt = BigInt(3).pow(j - 1) * BigInt(4).pow(16 - j)
    val expect = daily.groupBy(_._1).flatMap { case (t0, g) =>
      val ser = g.sortBy(_._2).map(r => (r._2, r._3))
      val diffs = ser.indices.drop(1).map(i => (ser(i)._2 - ser(i - 1)._2).abs)
      val (sumabs, nchg) = (diffs.map(BigInt(_)).sum, BigInt(diffs.length))
      ser.indices.flatMap { i =>
        val lags = (1 to 16).filter(j => i - j >= 0)
        if (lags.isEmpty) None else {
          val numB = lags.map(j => wj(j) * ser(i - j)._2).sum
          val denB = lags.map(wj).sum
          val alarm = (BigInt(ser(i)._2) * denB - numB).abs * nchg > denB * sumabs * 3
          Some((t0, ser(i)._1) ->
            ((ser(i)._2, (numB / denB).toLong, if (alarm) 1 else 0)))
        }
      }
    }
    val real = MiningQueries.q205(spark, sf0001)
      .select("event_type", "day", "x_cents", "ewma_c", "alarm")
      .as[(String, java.sql.Date, Long, Long, Int)].collect()
      .map(r => (r._1, r._2.toString) -> ((r._3, r._4, r._5))).toMap
    graft.core.Pins.release()
    assert(real == expect, s"kernel replay mismatch: ${
      (real.keySet ++ expect.keySet).filter(k => real.get(k) != expect.get(k)).take(3)}")
  }

  test("q212: a planted line survives a huge outlier day (where the mean slope would not); real data matches a BigInt median replay") {
    // y = 500 + 5c/day for 11 days, except day 6 explodes 1000x:
    // 10 of 55 pair slopes are contaminated, the median stays 5
    val ev = (0 until 11).flatMap { dd =>
      val cents = if (dd == 6) 500000L else 500L + 5 * dd
      Seq((dd.toLong, java.sql.Timestamp.valueOf(f"2024-04-${dd + 1}%02d 09:00:00"),
        1L, "click", cents / 100.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_ts").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val Array((_, np, num, den)) = MiningQueries.q212(spark, dir)
      .select("event_type", "n_pairs", "med_num", "med_den")
      .as[(String, Long, Long, Long)].collect()
    graft.core.Pins.release()
    assert(np == 55L && num == 5 * den,
      s"median slope must stay exactly 5 c/day under the outlier: n=$np, $num/$den")
    // a >29-day gap must raise (the lcm(1..29) window guard), not mis-order
    val evLong = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-04-01 09:00:00"), 1L, "click", 5.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-05-15 09:00:00"), 1L, "click", 9.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dirLong = java.nio.file.Files.createTempDirectory("graft_ts_guard").toString
    evLong.write.mode("overwrite").parquet(s"$dirLong/events.parquet")
    val guard = intercept[Exception] {
      MiningQueries.q212(spark, dirLong).collect()
    }
    graft.core.Pins.release()
    assert(guard.getMessage != null &&
      (guard.getMessage.contains("q212") ||
        Option(guard.getCause).exists(_.getMessage.contains("q212"))),
      s"expected the q212 day-gap guard to fire, got: ${guard.getMessage}")
    // real-data replay: k-th smallest by exact BigInt key over all pairs
    val daily = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("di"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
      .as[(String, Long, Long)].collect()
    val bigD = BigInt(2329089562800L)
    val expect = daily.groupBy(_._1).map { case (t0, g) =>
      val pts = g.map(r => (r._2, r._3)).sortBy(_._1)
      val ps = for { i <- pts.indices; j <- (i + 1) until pts.length } yield {
        val (num0, den0) = (pts(j)._2 - pts(i)._2, pts(j)._1 - pts(i)._1)
        (BigInt(num0) * (bigD / den0), num0, den0, pts(i)._1, pts(j)._1)
      }
      val k = (ps.length + 1) / 2
      t0 -> ps.sorted.apply(k - 1)
    }
    val real = MiningQueries.q212(spark, sf0001)
      .select("event_type", "med_num", "med_den")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    graft.core.Pins.release()
    expect.foreach { case (t0, (_, num0, den0, _, _)) =>
      assert(real(t0) == ((num0, den0)),
        s"$t0: ${real(t0)} vs replay ($num0,$den0)")
    }
  }

  test("q215: window/lookback/same-instant boundaries are exact; real data matches a correlated-max replay") {
    def ts(mins: Long) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-06-01T00:00:00Z").plusSeconds(mins * 60))
    // user 1: click at 0, purchase at 30min (lag 30m), purchase at
    // 2h (same click too old -> unattributed)
    // user 2: purchase with NO preceding click; then a click AFTER it
    // user 3: click and purchase at the SAME microsecond — ids order
    // the click first, so it qualifies at lag 0
    // user 4: purchase exactly at the 1h bound (inclusive)
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.0, "{}"),
      (2L, ts(30), 1L, "purchase", 1.0, "{}"),
      (3L, ts(120), 1L, "purchase", 1.0, "{}"),
      (4L, ts(10), 2L, "purchase", 1.0, "{}"),
      (5L, ts(20), 2L, "click", 1.0, "{}"),
      (6L, ts(40), 3L, "click", 1.0, "{}"),
      (7L, ts(40), 3L, "purchase", 1.0, "{}"),
      (8L, ts(0), 4L, "click", 1.0, "{}"),
      (9L, ts(60), 4L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_attr").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = MiningQueries.q215(spark, dir)
      .select("user_id", "n_purchases", "n_attributed", "lag_us_total")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 1L, 30L * 60 * 1000000)), s"u1: ${got(1L)}")
    assert(got(2L) == ((2L, 1L, 0L, 0L)), "a later click must not attribute")
    assert(got(3L) == ((3L, 1L, 1L, 0L)), "same-instant click (lower id) attributes at lag 0")
    assert(got(4L) == ((4L, 1L, 1L, 3600L * 1000000)), "the 1h bound is inclusive")
    // real-data replay via the correlated-max formulation
    val evs = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS t")
      .as[(Long, Long, String, Long)].collect()
    val byUser = evs.groupBy(_._1)
    val expect = byUser.flatMap { case (u, g) =>
      val clicks = g.filter(_._3 == "click").map(r => (r._4, r._2)).sorted
      val ps = g.filter(_._3 == "purchase")
      if (ps.isEmpty) None else {
        val stats = ps.map { p =>
          val qual = clicks.filter(c => c._1 < p._4 || (c._1 == p._4 && c._2 < p._2))
          if (qual.nonEmpty && p._4 - qual.map(_._1).max <= 3600000000L)
            (1L, p._4 - qual.map(_._1).max) else (0L, 0L)
        }
        Some(u -> ((ps.length.toLong, stats.map(_._1).sum, stats.map(s0 => s0._1 * s0._2).sum)))
      }
    }
    val real = MiningQueries.q215(spark, sf0001)
      .select("user_id", "n_purchases", "n_attributed", "lag_us_total")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(real == expect, s"attribution replay: ${
      (real.keySet ++ expect.keySet).filter(k => real.get(k) != expect.get(k)).take(3)}")
  }

  test("q217: the chain binds view-before-CLICK and spans from the view; real data matches a nested correlated replay") {
    def ts(mins: Long) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-06-01T00:00:00Z").plusSeconds(mins * 60))
    val ev = Seq(
      // u1: v@0 c@10 p@30 -> match, span 30m
      (1L, ts(0), 1L, "view", 1.0, "{}"),
      (2L, ts(10), 1L, "click", 1.0, "{}"),
      (3L, ts(30), 1L, "purchase", 1.0, "{}"),
      // u2: click with NO view -> no match
      (4L, ts(0), 2L, "click", 1.0, "{}"),
      (5L, ts(10), 2L, "purchase", 1.0, "{}"),
      // u3: view but NO click -> no match
      (6L, ts(0), 3L, "view", 1.0, "{}"),
      (7L, ts(10), 3L, "purchase", 1.0, "{}"),
      // u5: v@0 c@10 v@20 p@30 -> the chain view is the one before the
      // CLICK (span 30m), not the v@20 before the purchase
      (8L, ts(0), 5L, "view", 1.0, "{}"),
      (9L, ts(10), 5L, "click", 1.0, "{}"),
      (10L, ts(20), 5L, "view", 1.0, "{}"),
      (11L, ts(30), 5L, "purchase", 1.0, "{}"),
      // u6: v@0 c@110 p@130 -> click->purchase is 20m but the span
      // counts FROM THE VIEW: 130m > 120m -> no match
      (12L, ts(0), 6L, "view", 1.0, "{}"),
      (13L, ts(110), 6L, "click", 1.0, "{}"),
      (14L, ts(130), 6L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_seq").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = MiningQueries.q217(spark, dir)
      .select("user_id", "n_purchases", "n_matched", "span_us_total")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 1L, 1L, 30L * 60 * 1000000)), s"u1: ${got(1L)}")
    assert(got(2L) == ((2L, 1L, 0L, 0L)), "no view -> no match")
    assert(got(3L) == ((3L, 1L, 0L, 0L)), "no click -> no match")
    assert(got(5L) == ((5L, 1L, 1L, 30L * 60 * 1000000)),
      s"the chain view precedes the CLICK: ${got(5L)}")
    assert(got(6L) == ((6L, 1L, 0L, 0L)), "the 2h span counts from the view")
    // real-data replay: nested correlated maxima
    val evs = Tables.load(spark, sf0001, "events")
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS t")
      .as[(Long, Long, String, Long)].collect()
    val expect = evs.groupBy(_._1).flatMap { case (u, g) =>
      val clicks = g.filter(_._3 == "click").map(r => (r._4, r._2))
      val views = g.filter(_._3 == "view").map(r => (r._4, r._2))
      val ps = g.filter(_._3 == "purchase")
      if (ps.isEmpty) None else {
        val st = ps.map { p =>
          val ck = clicks.filter(c => c._1 < p._4 || (c._1 == p._4 && c._2 < p._2))
          if (ck.isEmpty) (0L, 0L) else {
            val c0 = ck.maxBy(identity)
            val vs = views.filter(v => v._1 < c0._1 || (v._1 == c0._1 && v._2 < c0._2))
            if (vs.nonEmpty && p._4 - vs.map(_._1).max <= 7200000000L)
              (1L, p._4 - vs.map(_._1).max) else (0L, 0L)
          }
        }
        Some(u -> ((ps.length.toLong, st.map(_._1).sum, st.map(s0 => s0._1 * s0._2).sum)))
      }
    }
    val real = MiningQueries.q217(spark, sf0001)
      .select("user_id", "n_purchases", "n_matched", "span_us_total")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(real == expect, s"sequence replay: ${
      (real.keySet ++ expect.keySet).filter(k => real.get(k) != expect.get(k)).take(3)}")
  }

  test("q221: a dominant order is a certainty pick for every hash; real inclusion matches an md5 replay") {
    // one whale: w so large that n·w >= Σw (p capped at 1) — the
    // algebra must include it regardless of its hash; 2000 minnows
    // have p = 1000·w/Σw ≈ 1/4
    val ord = ((1 to 2000).map(i => (i.toLong, 1L, "O", 10.00,
      java.sql.Timestamp.valueOf("1996-01-01 00:00:00"), "3-MEDIUM")) :+
      ((999999L, 1L, "O", 100000.00,
        java.sql.Timestamp.valueOf("1996-01-01 00:00:00"), "1-URGENT")))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val dir = java.nio.file.Files.createTempDirectory("graft_ws").toString
    ord.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val gotM = MiningQueries.q221(spark, dir)
      .select("o_orderpriority", "n_sampled", "sum_w_cents")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(gotM.get("1-URGENT").exists(_._1 == 1L),
      s"the whale (n·w >= Σw) must always be sampled: $gotM")
    // minnows: p ≈ 1000·1000/(2000·1000 + 10^7)... sanity-bounded
    val mn = gotM.getOrElse("3-MEDIUM", (0L, 0L))._1
    assert(mn > 50 && mn < 500, s"minnow sample far from its expectation: $mn")
    // real-data replay: md5-hex-prefix inclusion recomputed exactly
    def h52(key: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      java.lang.Long.parseLong(hex, 16)
    }
    val ords = Tables.load(spark, sf0001, "orders")
      .selectExpr("o_orderkey", "o_orderpriority",
        "CAST(round(o_totalprice * 100) AS BIGINT)")
      .as[(Long, String, Long)].collect()
    val sw = ords.map(_._3).sum
    val expect = ords.filter { case (k, _, w) =>
      BigInt(h52(k)) * sw < BigInt(1000) * w * 4503599627370496L
    }.groupBy(_._2).view.mapValues(g => (g.length.toLong, g.map(_._3).sum)).toMap
    val real = MiningQueries.q221(spark, sf0001)
      .select("o_orderpriority", "n_sampled", "sum_w_cents")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(real == expect.map { case (k, v) => k -> v },
      s"inclusion replay: $real vs $expect")
  }

  test("q236: a planted level shift splits exactly at the jump; all-flat ties break earliest; real data matches a BigInt argmax replay") {
    // 10 days at 1.00, then 10 days at 10.00 -> split after t=10
    val ev = (0 until 20).map { dd =>
      val v = if (dd < 10) 1.0 else 10.0
      (dd.toLong, java.sql.Timestamp.valueOf(f"2024-03-${dd + 1}%02d 09:00:00"),
        1L, "click", v, "{}")
    } ++ (0 until 6).map { dd =>
      (100L + dd, java.sql.Timestamp.valueOf(f"2024-03-${dd + 1}%02d 09:00:00"),
        1L, "flat", 5.0, "{}")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_cp").toString
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = MiningQueries.q236(spark, dir)
      .select("event_type", "n_days", "t_split", "s1", "s2")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("click") == (("click", 20L, 10L, 1000L, 10000L)),
      s"planted shift must split at the jump: ${got("click")}")
    // flat series: every split scores 0 -> earliest split wins the tiebreak
    assert(got("flat")._3 == 1L, s"all-tied argmax must take t=1: ${got("flat")}")
    // real-data replay: exact rational argmax over all splits
    val daily = graft.core.Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("di"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .as[(String, Long, Long)].collect()
    val expect = daily.groupBy(_._1).map { case (et, g) =>
      val xs = g.sortBy(_._2).map(_._3)
      val n = BigInt(xs.length); val s = xs.map(BigInt(_)).sum
      var s1 = BigInt(0)
      val cands = (1 until xs.length).map { t0 =>
        s1 += xs(t0 - 1)
        val num = (n * s1 - t0 * s).pow(2)
        (num, BigInt(t0) * (xs.length - t0), t0.toLong, s1)
      }
      // argmax num/den with earliest-t tiebreak, exact cross-mult compare
      val best = cands.reduceLeft { (a, b) =>
        val cmp = a._1 * b._2 - b._1 * a._2
        if (cmp > 0 || (cmp == 0 && a._3 <= b._3)) a else b
      }
      et -> ((xs.length.toLong, best._3, best._4.toLong, (s - best._4).toLong))
    }
    val real = MiningQueries.q236(spark, sf0001)
      .select("event_type", "n_days", "t_split", "s1", "s2")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(real == expect, s"argmax replay: ${real.keySet.map(k =>
      (k, real(k), expect(k))).filter(t0 => t0._2 != t0._3).take(2)}")
  }

  test("q239: a pure weekly cycle scores S = 0 where plain MK would not; a trend survives; real data matches a stratified replay") {
    // cycle: value depends ONLY on weekday (every within-stratum pair ties -> S=0)
    // trend: strictly rising -> every within-stratum pair concordant
    val ev = (0 until 21).flatMap { i =>
      val day = java.time.LocalDate.parse("2024-04-01").plusDays(i)
      val ts0 = java.sql.Timestamp.valueOf(day.atTime(12, 0))
      Seq((i.toLong, ts0, 1L, "cycle", (day.getDayOfWeek.getValue * 10).toDouble, "{}"),
        (100L + i, ts0, 1L, "trend", (i + 1) * 1.0, "{}"))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_smk").toString
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = MiningQueries.q239(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    graft.core.Pins.release()
    // 21 days = 3 complete weeks: 7 strata x C(3,2)=3 pairs = 21 pairs
    assert(got("cycle") == (("cycle", 21L, 21L, 0L, 7L * (3L * 2 * 11))),
      s"weekday cycle must cancel: ${got("cycle")}")
    assert(got("trend")._4 == 21L, s"trend must be fully concordant: ${got("trend")}")
    // real-data replay
    val daily = graft.core.Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .select(col("event_type"), col("day").cast("string"), col("x"))
      .as[(String, String, Long)].collect()
    val expect = daily.groupBy(_._1).view.mapValues { g =>
      val withWd = g.map { r =>
        (java.time.LocalDate.parse(r._2).getDayOfWeek.getValue - 1, r._2, r._3) }
      val strata = withWd.groupBy(_._1)
      val s0 = strata.values.map { st =>
        val rs = st.sortBy(_._2)
        (for { i <- rs.indices; j <- (i + 1) until rs.length }
          yield math.signum(rs(j)._3 - rs(i)._3).toLong).sum
      }.sum
      val pairs = strata.values.map(st => st.size.toLong * (st.size - 1) / 2).sum
      val var18 = strata.values.map(st =>
        st.size.toLong * (st.size - 1) * (2L * st.size + 5)).sum
      (g.length.toLong, pairs, s0, var18)
    }.toMap
    val real = MiningQueries.q239(spark, sf0001)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    graft.core.Pins.release()
    assert(real == expect.toMap, s"seasonal-MK replay: $real vs $expect")
  }

  test("q241: the query-level delta mapping and clamp match a sequential replay on real data") {
    val rows = graft.core.Tables.load(spark, sf0001, "events")
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        col("event_type"), round(col("value") * 100).cast("long"))
      .as[(Long, Long, Long, String, Long)].collect()
    val expect = rows.groupBy(_._1).view.mapValues { g =>
      var bal = 0L; var nc = 0L; var nf = 0L
      g.sortBy(r => (r._3, r._2)).foreach { r =>
        val delta = if (r._4 == "purchase") r._5 / 10 else -(r._5 / 5)
        val raw = bal + delta
        if (raw > 5000) { bal = 5000; nc += 1 }
        else if (raw < 0) { bal = 0; nf += 1 }
        else bal = raw
      }
      (g.size.toLong, bal, nc, nf)
    }.toMap
    val got = MiningQueries.q241(spark, sf0001)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == expect.toMap, s"ledger replay: ${(got.keySet ++ expect.keySet)
      .filter(k => got.get(k) != expect.get(k)).take(3)}")
    // clamps actually fire on this corpus (the fixture is not vacuous)
    assert(got.values.exists(_._3 > 0) && got.values.exists(_._4 > 0),
      "expected both cap and floor hits at these earn/burn rates")
  }
}
