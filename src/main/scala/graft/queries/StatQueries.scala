package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

import graft.core.{LocalTier, Tables}
import graft.functions.TextOps

/** Corpus-STATISTICS queries (q129–q146): the sampling, sketching and
  * distribution-analysis layer of a training-data pipeline — weighted
  * and quota-allocated draws, count-min heavy hitters, behavioral
  * sequence/chain/cohort analytics, sliding-window reach, domain
  * divergence and KS drift, sketch-estimator calibration, LOCF
  * densification, and the per-source "datasheet" report that stitches
  * the signals together. They extend the reference's sampling
  * discipline (jittered scheduling, `download/download.go`'s
  * bounded-retry draw) from control flow to data: every draw here is
  * HASH-deterministic, so a rerun ships the identical sample and the
  * DuckDB oracle replays it digit for digit.
  *
  * House rules as everywhere else: codegen'd built-ins only, a DuckDB
  * oracle per query, integer dataflow wherever a float sum would be
  * order-sensitive, round(…, 4) at the float boundary, total ORDER BY.
  */
object StatQueries {
  import CoreQueries.Q

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** q142's [[LocalTier]] default: 100,000 transitions ≈ 316 states. */
  private val MarkovTransCap = 100000

  /** DuckDB rendering of "first 13 md5 hex digits as an exact double"
    * (Spark side: `conv(substring(h,1,13),16,10)` cast to double) — the
    * q112 construction: each digit term is exact, every partial sum is
    * an integer < 2⁵³, so both engines hold the identical 52-bit value. */
  private def sqlHex52(expr: String): String =
    s"""list_sum(list_transform(generate_series(1, 13), i ->
       |               CAST(strpos('0123456789abcdef', substr($expr, i, 1)) - 1 AS DOUBLE)
       |               * power(16.0, 13 - i)))""".stripMargin

  // --------------------------------------------------------------- Q129
  /** WEIGHTED reservoir sample — priority sampling (Duffield–Lund–
    * Thorup): k = 20 docs per source with inclusion probability
    * proportional to length, chosen as the top-k by priority
    * p = w / u where w = n_chars and u is a hash-uniform on (0, 1].
    * This is q110's weighted sibling: q110 draws uniformly for eval
    * sets; this draws ∝ weight for token-budget-aware inspection
    * ("show me 20 docs per source, long ones more likely — same 20
    * every rerun"). Determinism without libm: u = (52-bit md5 prefix
    * + 1) / 2⁵² and p = (w · 2⁵²) / (h + 1) — the multiply is a pure
    * exponent shift (exact for any w < 2⁵³), the divide is a single
    * correctly-rounded IEEE op, so both engines compute the
    * bit-identical double with no ln/pow in sight. Top-k per group is
    * [[graft.operators.TopKAgg]] — partial-aggregable, the shuffle
    * carries O(sources × k), never the stratum. Oracle = the
    * independently-derived row_number window form. */
  val q129: Q = (s, d) => {
    val h52 = conv(substring(md5(concat(lit("prio|"),
      col("doc_id").cast("string"))), 1, 13), 16, 10).cast("double")
    val p = (col("n_chars").cast("double") * lit(4503599627370496.0)) /
      (h52 + lit(1.0))
    t(s, d, "documents")
      .select(col("source"), p.as("p"), col("doc_id"))
      .groupBy(col("source"))
      .agg(graft.operators.TopK.topK(20)(col("p"), col("doc_id")).as("picks"))
      .select(col("source"), posexplode(col("picks")).as(Seq("pos", "pk")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("pk._2").as("doc_id"), round(col("pk._1"), 4).as("priority"))
      .orderBy(col("source"), col("rank"))
  }

  val q129Sql: String =
    s"""WITH pr AS (
       |  SELECT source, doc_id,
       |         (CAST(n_chars AS DOUBLE) * 4503599627370496.0)
       |         / (${sqlHex52("md5('prio|' || CAST(doc_id AS VARCHAR))")} + 1.0) AS p
       |  FROM documents),
       |rk AS (SELECT source, doc_id, p,
       |         CAST(row_number() OVER (PARTITION BY source
       |                ORDER BY p DESC, doc_id) AS BIGINT) AS rank
       |       FROM pr)
       |SELECT source, rank, doc_id, round(p, 4) AS priority
       |FROM rk WHERE rank <= 20 ORDER BY source, rank""".stripMargin

  // --------------------------------------------------------------- Q130
  /** COUNT-MIN sketch heavy hitters — the fixed-memory frequency
    * sketch (Cormode–Muthukrishnan) over event actors: d = 4 hash
    * rows × w = 256 buckets (bucket = first 2 md5 hex digits, keyed
    * by row index), estimate(x) = min over rows of its bucket count,
    * report the top 20 users by estimate beside their true counts.
    * Like q112's KMV, the sketch is DETERMINISTIC on md5 so the
    * whole estimator replays in DuckDB and the family gets a second
    * oracle-EXACT member (est ≥ true always — the one-sided CMS
    * guarantee — is additionally spec-pinned). Scale shape: the
    * sketch build is one scan exploded ×4 into slim (row, bucket)
    * pairs folded by a partial-aggregable count into ≤ 1024 cells —
    * mergeable across partitions, days, or streams by cellwise add;
    * the probe side joins candidate users to the BROADCAST sketch.
    * At 100 TB the candidate set is the sketch's own promise: any
    * user with true count ≥ T has est ≥ T, so screening on the
    * broadcast sketch never misses a heavy hitter. */
  val q130: Q = (s, d) => {
    val ev = t(s, d, "events").select(col("user_id"))
    val sk = graft.core.Pins.pin(
      graft.operators.CountMin.cells(ev, "user_id"))
    val est = graft.operators.CountMin.estimates(
      ev.groupBy(col("user_id")).agg(count(lit(1)).as("true_cnt")),
      sk, "user_id")
    // top-20 via TakeOrderedAndProject (scalable), rank over the 20
    val top = est.orderBy(col("est_cnt").desc, col("user_id").asc).limit(20)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("est_cnt").desc, col("user_id").asc))
          .cast("long"))
      .select(col("rank"), col("user_id"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("true_cnt")).as("overcount"))
      .orderBy(col("rank"))
  }

  val q130Sql: String =
    """WITH jj AS (SELECT unnest(generate_series(0, 3)) AS j),
      |sk AS (SELECT j, substr(md5(CAST(j AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 2) AS b,
      |         count(*) AS c
      |       FROM events, jj GROUP BY 1, 2),
      |truth AS (SELECT user_id, count(*) AS true_cnt FROM events GROUP BY 1),
      |est AS (SELECT t.user_id, t.true_cnt, min(sk.c) AS est_cnt
      |        FROM truth t, jj
      |        JOIN sk ON sk.j = jj.j
      |          AND sk.b = substr(md5(CAST(jj.j AS VARCHAR) || '|' || CAST(t.user_id AS VARCHAR)), 1, 2)
      |        GROUP BY 1, 2),
      |rk AS (SELECT CAST(row_number() OVER (ORDER BY est_cnt DESC, user_id) AS BIGINT) AS rank,
      |         user_id, true_cnt, est_cnt
      |       FROM est)
      |SELECT rank, user_id, true_cnt, est_cnt, est_cnt - true_cnt AS overcount
      |FROM rk WHERE rank <= 20 ORDER BY rank""".stripMargin

  // --------------------------------------------------------------- Q131
  /** SEQUENCE mining — support counts for every length-3 event-type
    * sequence (consecutive, per user, time-ordered): the behavioral
    * n-gram table behind funnel design (q87 checks ONE hypothesized
    * order; this surfaces which orders actually occur, with user and
    * occurrence support). Two `lead`s over one (user, time) window —
    * a single key shuffle, sequences assembled scan-side, then a
    * partial-aggregable fold over at most |event_types|³ groups.
    * Event-time ties are broken by event_id so the sequence relation
    * is total and both engines see the same neighbor pairs. */
  val q131: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      // (r15 measured-negative: an explicit user_id repartition — the
      // q297 discipline, to undo AQE's 1-partition coalesce and run the
      // window+sequence stage in parallel — A/B'd 0.44 → 0.72 s
      // best-of-5: the 32-task dispatch overhead across the window and
      // both agg stages swamps the ~240 ms serial window at this bytes
      // scale. AQE's coalesce is RIGHT here; reverted.)
      .withColumn("l1", lead(col("event_type"), 1).over(w))
      .withColumn("l2", lead(col("event_type"), 2).over(w))
      .filter(col("l2").isNotNull)
      .select(concat_ws(">", col("event_type"), col("l1"), col("l2")).as("seq"),
        col("user_id"))
      .groupBy(col("seq"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_users").desc, col("n_occurrences").desc, col("seq").asc)
  }

  val q131Sql: String =
    """WITH nx AS (
      |  SELECT user_id, event_type,
      |         lead(event_type, 1) OVER w AS l1,
      |         lead(event_type, 2) OVER w AS l2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_type || '>' || l1 || '>' || l2 AS seq,
      |       count(*) AS n_occurrences,
      |       count(DISTINCT user_id) AS n_users
      |FROM nx WHERE l2 IS NOT NULL
      |GROUP BY 1 ORDER BY n_users DESC, n_occurrences DESC, seq""".stripMargin

  // --------------------------------------------------------------- Q132
  /** SLIDING-window distinct reach — trailing-24h distinct active
    * users for EVERY hour, exactly. `count(DISTINCT)` over a sliding
    * window is the classic non-aggregable ask (q94's WAU sidesteps it
    * with per-day buckets); the scalable exact form is a SWEEP-LINE:
    * a user active at hour a covers window-ends [a, a+23], so per
    * user, merge overlapping coverage intervals (one lag + running
    * sum over the user's DISTINCT active hours — corpus-sized work,
    * fully distributed), emit ±1 boundary deltas, and integrate over
    * the hour grid. The only single-partition step is the final
    * running sum over the GRID (one row per hour — 8,760/year no
    * matter how many trillion events), which is also why the oracle
    * can afford an independent derivation: a correlated
    * count-distinct probe per grid hour. */
  val q132: Q = (s, d) => {
    val uh = t(s, d, "events")
      .select(col("user_id"),
        expr("unix_micros(ts) div 3600000000").as("hr"))
      .distinct()
    val wu = Window.partitionBy(col("user_id")).orderBy(col("hr"))
    val iv = uh
      .withColumn("prev", lag(col("hr"), 1).over(wu))
      .withColumn("brk",
        when(col("prev").isNull || col("hr") > col("prev") + 23, 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("brk"))
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("hr")).as("s"), (max(col("hr")) + 23).as("e"))
    // each interval emits BOTH its boundary deltas from one row — an
    // explode, not a self-union (a union would execute the child twice).
    // r15: the pin moved HERE from the interval relation — deltas is
    // HOURS-sized (the grid's own scale bound), so the checkpoint
    // materializes tiny blocks, and both remaining consumers (grid
    // bounds, the final join) read it; the intervals relation now has
    // exactly ONE consumer and needs no pin. The r13 form pinned the
    // corpus-fold-sized intervals for THREE consumers; the third (grid
    // bounds off iv) is redundant — see the bounds derivation below.
    val deltas = graft.core.Pins.pin(iv.select(explode(array(
        struct(col("s").as("h"), lit(1L).as("dlt")),
        struct((col("e") + 1).as("h"), lit(-1L).as("dlt")))).as("d"))
      .groupBy(col("d.h").as("h")).agg(sum(col("d.dlt")).as("dlt")))
    // grid bounds derive from the DELTAS, not the intervals: min(h)
    // over deltas = min interval start (each interval's end-delta sits
    // at e+1 ≥ s+24 > its own s, so no end-delta can undercut the
    // global min start), and max(h) = max(e+1), so hi = max(h) − 1 − 23.
    // The groupBy above never drops an hour row (a zero SUM keeps its
    // group), so the bounds are exact — bit-identical to the r13
    // min(s)/max(e)−23 over the interval relation.
    val grid = deltas.agg(min(col("h")).as("lo"), (max(col("h")) - 24).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("h"))
    grid.join(deltas, Seq("h"), "left")
      .withColumn("active_24h",
        sum(coalesce(col("dlt"), lit(0L)))
          .over(Window.orderBy(col("h"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("h").as("hr"), col("active_24h"))
      .orderBy(col("hr"))
  }

  val q132Sql: String =
    """WITH uh AS (SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS hr
      |            FROM events),
      |g AS (SELECT unnest(generate_series((SELECT min(hr) FROM uh),
      |                                    (SELECT max(hr) FROM uh))) AS hr)
      |SELECT g.hr,
      |       (SELECT count(DISTINCT user_id) FROM uh
      |        WHERE uh.hr BETWEEN g.hr - 23 AND g.hr) AS active_24h
      |FROM g ORDER BY g.hr""".stripMargin

  // --------------------------------------------------------------- Q133
  /** DOMAIN divergence — per-source KL(source ‖ corpus) over unigram
    * distributions: the mixture-design signal ("which sources speak a
    * different language than the blend?") that decides q111's epoch
    * weights and flags sources worth their own quality gate. ONE
    * tokenize/explode pass (q89's discipline): the (source, word)
    * count relation is pinned and every downstream distribution —
    * per-source totals, corpus totals, the grand total — folds from
    * it; corpus-level relations are vocabulary-sized broadcasts. The
    * probability ratio is assembled from exact integer counts cast
    * late ((c·N) / (ns·cw) — identical correctly-rounded IEEE ops both
    * engines) with the single ln at the boundary, summed per source
    * and rounded at 4 dp. */
  val q133: Q = (s, d) => {
    val tok = t(s, d, "documents")
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
    val cnt = graft.core.Pins.pin(
      tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c")))
    val ns = cnt.groupBy(col("source"))
      .agg(sum(col("c")).as("ns"), count(lit(1)).as("vocab_used"))
    val cw = cnt.groupBy(col("w")).agg(sum(col("c")).as("cw"))
    val nn = cw.agg(sum(col("cw")).as("nn"))
    val term = (col("c").cast("double") / col("ns").cast("double")) *
      log((col("c").cast("double") * col("nn").cast("double")) /
        (col("ns").cast("double") * col("cw").cast("double")))
    cnt.join(broadcast(cw), "w")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(nn))
      .groupBy(col("source"), col("ns"), col("vocab_used"))
      .agg(round(sum(term), 4).as("kl_vs_corpus"))
      .select(col("source"), col("ns").as("n_tokens"), col("vocab_used"),
        col("kl_vs_corpus"))
      .orderBy(col("source"))
  }

  val q133Sql: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
      |             FROM documents),
      |cnt AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns,
      |         count(*) AS vocab_used FROM cnt GROUP BY 1),
      |cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM cnt GROUP BY 1),
      |nn AS (SELECT CAST(sum(cw) AS BIGINT) AS nn FROM cw)
      |SELECT cnt.source, ns.ns AS n_tokens, ns.vocab_used,
      |       round(sum((CAST(c AS DOUBLE) / CAST(ns.ns AS DOUBLE))
      |         * ln((CAST(c AS DOUBLE) * CAST(nn.nn AS DOUBLE))
      |               / (CAST(ns.ns AS DOUBLE) * CAST(cw.cw AS DOUBLE)))), 4)
      |         AS kl_vs_corpus
      |FROM cnt JOIN cw USING (w) JOIN ns ON cnt.source = ns.source, nn
      |GROUP BY 1, 2, 3 ORDER BY cnt.source""".stripMargin

  // --------------------------------------------------------------- Q134
  /** DATASET CARD — the per-source datasheet row that stitches the
    * audit signals into the one table a curation review reads first:
    * volume (docs, chars, mean length), language identity (majority
    * lang + its share), and exact-duplicate mass (distinct-md5
    * deficit). Two scans by design: the heavy pass reads text ONCE
    * for the content hash; the lang-majority pass prunes to two
    * 8-byte-ish columns (column pruning makes it nearly free —
    * ReadSchema shows (source, lang) only). Majority-lang ties break
    * lexicographically via the row_number order so the card is total.
    * Every downstream relation is sources-sized. */
  val q134: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val vol = docs
      .select(col("source"), col("n_chars"), md5(col("text")).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("h")).as("n_uniq"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        round(col("total_chars").cast("double") / col("n_docs"), 4)
          .as("mean_chars"),
        (col("n_docs") - col("n_uniq")).as("n_exact_dups"),
        round((col("n_docs") - col("n_uniq")).cast("double") / col("n_docs"), 4)
          .as("dup_ratio"))
    val wl = Window.partitionBy(col("source"))
      .orderBy(col("n_lang").desc, col("lang").asc)
    val langs = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_lang"))
      .withColumn("rn", row_number().over(wl))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("n_lang"))
    vol.join(langs, "source")
      .select(col("source"), col("n_docs"), col("total_chars"),
        col("mean_chars"), col("top_lang"),
        round(col("n_lang").cast("double") / col("n_docs"), 4)
          .as("top_lang_share"),
        col("n_exact_dups"), col("dup_ratio"))
      .orderBy(col("source"))
  }

  val q134Sql: String =
    """WITH vol AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |         count(DISTINCT md5(text)) AS n_uniq
      |  FROM documents GROUP BY 1),
      |langs AS (
      |  SELECT source, lang AS top_lang, n_lang FROM (
      |    SELECT source, lang, count(*) AS n_lang,
      |           row_number() OVER (PARTITION BY source
      |             ORDER BY count(*) DESC, lang) AS rn
      |    FROM documents GROUP BY source, lang)
      |  WHERE rn = 1)
      |SELECT v.source, v.n_docs, v.total_chars,
      |       round(CAST(v.total_chars AS DOUBLE) / v.n_docs, 4) AS mean_chars,
      |       l.top_lang,
      |       round(CAST(l.n_lang AS DOUBLE) / v.n_docs, 4) AS top_lang_share,
      |       v.n_docs - v.n_uniq AS n_exact_dups,
      |       round(CAST(v.n_docs - v.n_uniq AS DOUBLE) / v.n_docs, 4) AS dup_ratio
      |FROM vol v JOIN langs l USING (source)
      |ORDER BY v.source""".stripMargin

  // --------------------------------------------------------------- Q135
  /** DECAYED engagement — exponential time-decay score per user
    * (score = Σ 2^−age_days over the user's events, 1-day half-life):
    * the recency-weighted frequency every feature store keeps beside
    * the raw count, here in a form that is EXACT and order-independent:
    * 2^−k is computed as 1 / (1 << k) — an integer shift and one exact
    * power-of-two divide, no libm pow — and every partial sum of such
    * terms is exact in a double (exponent span ≤ data-age span + log₂
    * count ≪ 53 bits), so Spark's unordered aggregation and DuckDB's
    * ordered one produce the identical bits. The reference age is the
    * corpus max event time (one-row broadcast). Scan-local arithmetic
    * + one partial-aggregable groupBy; top-50 via
    * TakeOrderedAndProject. */
  val q135: Q = (s, d) => {
    val ev = t(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val ref = ev.agg(max(col("us")).as("ref"))
    ev.crossJoin(broadcast(ref))
      .withColumn("age", expr("(ref - us) div 86400000000"))
      .withColumn("decay",
        when(col("age") > 62, 0.0).otherwise(
          expr("1.0 / cast(shiftleft(1L, cast(age as int)) as double)")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("decay")), 4).as("decayed_score"))
      .orderBy(col("decayed_score").desc, col("user_id").asc)
      .limit(50)
  }

  val q135Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |ref AS (SELECT max(us) AS ref FROM ev),
      |sc AS (SELECT user_id,
      |         (ref - us) // 86400000000 AS age
      |       FROM ev, ref),
      |agg AS (SELECT user_id, count(*) AS n_events,
      |          round(sum(CASE WHEN age > 62 THEN 0.0
      |            ELSE 1.0 / CAST((CAST(1 AS BIGINT) << age) AS DOUBLE) END), 4)
      |            AS decayed_score
      |        FROM sc GROUP BY 1)
      |SELECT user_id, n_events, decayed_score FROM agg
      |ORDER BY decayed_score DESC, user_id LIMIT 50""".stripMargin

  // --------------------------------------------------------------- Q136
  /** Asymmetric CONTAINMENT near-dup — |A∩B| / min(|A|,|B|) over LSH
    * band candidates: catches "B quotes most of A" where symmetric
    * Jaccard (q19/q21) stays low because |B| ≫ |A| — the
    * excerpt/quotation relation a span detector (q61/q100) sees at
    * passage level, here as whole-document set containment. Candidates
    * come from the SAME production band machinery as q19
    * ([[graft.operators.MinHashLsh]]'s fused band-key kernel — slim
    * (doc_id, bk) self-join, text never in the join); the verify
    * re-join computes both directional containments from the hashed
    * shingle sets, keeps max-containment ≥ 0.7, and reports pairs the
    * symmetric threshold would have missed alongside their Jaccard.
    * At 100 TB this rides the stored band table exactly like q19. */
  val q136: Q = (s, d) => {
    val sh = TextOps.shinglesNative(col("text"), 3)
    // r14: spread the single-split corpus before the two kernel scans
    // (the nearDup pattern — both consumers reuse ONE text exchange,
    // and the shingle kernels run parallel instead of in one task;
    // no-op at scale). A shared-signature-pin rewrite was measured
    // NEGATIVE here (1.11 → 1.55 s: checkpoint write of corpus-sized
    // shh+mh arrays exceeds the saved second kernel scan).
    val docs = graft.operators.MinHashLsh.spreadSmallInput(
      t(s, d, "documents"))
    val slim = docs.select(col("doc_id"),
      explode(TextOps.bandKeysNative(sh, 4, 2)).as("bk"))
    val shh = docs.select(col("doc_id"),
      array_sort(array_distinct(transform(sh, x => xxhash64(x)))).as("shh"))
    val cands = slim.as("a").join(slim.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    cands
      .join(shh.select(col("doc_id").as("a_id"), col("shh").as("sa")), "a_id")
      .join(shh.select(col("doc_id").as("b_id"), col("shh").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(inter / least(size(col("sa")), size(col("sb"))).cast("double"), 4)
          .as("containment"),
        round(inter / (size(col("sa")) + size(col("sb")) -
          size(array_intersect(col("sa"), col("sb")))).cast("double"), 4)
          .as("jaccard"))
      .filter(col("containment") >= 0.7)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q136Sql: String = {
    val sigCols = (0 until 8).map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i")
      .mkString(", ")
    val bandCond = (0 until 4).map(b =>
      s"(a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1})")
      .mkString(" OR ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |shl AS (SELECT doc_id, list_distinct(list_transform(
       |          generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))) AS sh
       |        FROM toks),
       |sig AS (SELECT doc_id, sh, $sigCols FROM shl),
       |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS sa, b.sh AS sb
       |         FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandCond)),
       |m AS (SELECT a_id, b_id,
       |        round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
       |          / CAST(least(len(sa), len(sb)) AS DOUBLE), 4) AS containment,
       |        round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
       |          / CAST(len(sa) + len(sb) - len(list_intersect(sa, sb)) AS DOUBLE), 4)
       |          AS jaccard
       |      FROM cand)
       |SELECT a_id, b_id, containment, jaccard FROM m
       |WHERE containment >= 0.7 ORDER BY a_id, b_id""".stripMargin
  }

  // --------------------------------------------------------------- Q137
  /** RFM segmentation — recency/frequency/monetary quartile binning of
    * the user base (the classic engagement-marketing cut, equally the
    * shape of contributor-quality binning for a data pipeline): per
    * user, days since last event, event count, and EXACT integer cents
    * (round(value·100) per event — a float money SUM would be
    * order-sensitive; integer cents are not), then `ntile(4)` per
    * dimension under a total (dim, user_id) order → 64 possible
    * "R#F#M#" segments, reported with their populations. The corpus
    * folds to ONE ROW PER USER before any window: the ntile windows
    * ride the users-sized relation, and at production scale the three
    * quartile BREAKPOINTS become stored artifacts (q90's discipline)
    * with binning a broadcast compare — semantics unchanged. */
  val q137: Q = (s, d) => {
    val ev = t(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
    val ref = ev.agg(max(col("us")).as("ref"))
    val base = ev.crossJoin(broadcast(ref))
      .groupBy(col("user_id"))
      .agg(expr("(max(ref) - max(us)) div 86400000000").as("rec_days"),
        count(lit(1)).as("freq"),
        sum(col("cents")).as("mon_cents"))
    def quart(c: String) = ntile(4)
      .over(Window.orderBy(col(c).asc, col("user_id").asc))
    base
      .withColumn("rq", quart("rec_days"))
      .withColumn("fq", quart("freq"))
      .withColumn("mq", quart("mon_cents"))
      .select(concat(lit("R"), col("rq"), lit("F"), col("fq"),
        lit("M"), col("mq")).as("segment"), col("user_id"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("segment"))
  }

  val q137Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
      |              CAST(round(value * 100) AS BIGINT) AS cents
      |            FROM events),
      |ref AS (SELECT max(us) AS ref FROM ev),
      |base AS (SELECT user_id,
      |           (max(ref) - max(us)) // 86400000000 AS rec_days,
      |           count(*) AS freq,
      |           CAST(sum(cents) AS BIGINT) AS mon_cents
      |         FROM ev, ref GROUP BY 1),
      |q AS (SELECT user_id,
      |        ntile(4) OVER (ORDER BY rec_days, user_id) AS rq,
      |        ntile(4) OVER (ORDER BY freq, user_id) AS fq,
      |        ntile(4) OVER (ORDER BY mon_cents, user_id) AS mq
      |      FROM base)
      |SELECT 'R' || rq || 'F' || fq || 'M' || mq AS segment,
      |       count(*) AS n_users
      |FROM q GROUP BY 1 ORDER BY segment""".stripMargin

  // --------------------------------------------------------------- Q138
  /** BURSTINESS — per-user inter-arrival regularity B = (σ−μ)/(σ+μ)
    * over gap seconds (Goh–Barabási): B → −1 for metronomic traffic,
    * → +1 for extreme bursts; the behavioral fingerprint that
    * separates schedulers/bots from humans, and for a pipeline the
    * crawl-cadence health check per source. Determinism discipline:
    * gaps are INTEGER seconds off one (user, time) window; each user
    * folds to exact integer (n, Σg, Σg²) in a partial-aggregable
    * aggregate — order-independent by construction — and only the
    * final μ/σ/B arithmetic touches doubles, in the same literal
    * expression order on both engines (variance clamped ≥ 0: the
    * all-equal-gaps case rounds to −ε and sqrt(−ε) would NaN). */
  val q138: Q = (s, d) => {
    val gaps = t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("g", expr("(us - lag(us, 1) over (partition by user_id order by ts, event_id)) div 1000000"))
      .filter(col("g").isNotNull)
    val agg = gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sg"),
        sum(col("g") * col("g")).as("sg2"))
      .filter(col("n_gaps") >= 2)
    val n = col("n_gaps").cast("double")
    val mu = col("sg").cast("double") / n
    val variance = (col("sg2").cast("double") -
      col("sg").cast("double") * col("sg").cast("double") / n) / n
    val sigma = sqrt(greatest(variance, lit(0.0)))
    // σ+μ = 0 ⟺ sg = 0 (gaps are non-negative under the (ts, event_id)
    // ordering, so μ = 0 forces every gap — hence σ — to 0): a user with
    // ≥ 2 events all in the same second would otherwise emit 0/0 = NaN
    // and break the portable total-order/hash compare. Emit −1.0, the
    // metronomic limit (σ→0, μ>0), which is also the correct limit here.
    // Guarded on the exact INTEGER sg, not the derived doubles, so both
    // engines take the same branch bit-for-bit.
    agg.select(col("user_id"), col("n_gaps"),
        round(mu, 4).as("mean_gap_s"),
        when(col("sg") === 0L, lit(-1.0))
          .otherwise(round((sigma - mu) / (sigma + mu), 4)).as("burstiness"))
      .orderBy(col("user_id"))
  }

  val q138Sql: String =
    """WITH g AS (
      |  SELECT user_id,
      |         (epoch_us(ts) - lag(epoch_us(ts), 1) OVER
      |            (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS g
      |  FROM events),
      |agg AS (SELECT user_id, count(*) AS n_gaps,
      |          CAST(sum(g) AS BIGINT) AS sg,
      |          CAST(sum(g * g) AS BIGINT) AS sg2
      |        FROM g WHERE g IS NOT NULL GROUP BY 1
      |        HAVING count(*) >= 2)
      |SELECT user_id, n_gaps,
      |       round(CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE), 4) AS mean_gap_s,
      |       CASE WHEN sg = 0 THEN -1.0 ELSE
      |       round((sqrt(greatest((CAST(sg2 AS DOUBLE)
      |                - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |               / CAST(n_gaps AS DOUBLE), 0.0))
      |              - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |             / (sqrt(greatest((CAST(sg2 AS DOUBLE)
      |                - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |               / CAST(n_gaps AS DOUBLE), 0.0))
      |              + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 4) END AS burstiness
      |FROM agg ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- Q139
  /** QUOTA-allocated holdout — proportional stratified sampling with
    * the largest-remainder (Hamilton) method: a fixed eval budget of
    * k = 100 docs split across sources ∝ size, exactly (Σ nᵢ = k,
    * every nᵢ within 1 of its exact quota — the apportionment rule
    * census systems use). q110 fixes k PER stratum; this fixes the
    * TOTAL and derives the strata shares. All-integer dataflow:
    * quota = k·Nₛ split as div/mod against N, leftover seats go to the
    * largest remainders (ties by source) via one rank over the
    * SOURCES-sized relation — the corpus contributes only its per-
    * stratum counts (one partial-aggregable fold). The draw itself
    * would then reuse q110's min-k-by-hash machinery per stratum;
    * reported here is the allocation table a reviewer signs off. */
  val q139: Q = (s, d) => {
    val k = 100
    val counts = t(s, d, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"))
    val base = counts.crossJoin(broadcast(tot))
      .withColumn("base_alloc", expr(s"($k * n_docs) div n_total"))
      .withColumn("rem", expr(s"($k * n_docs) % n_total"))
    val leftover = base.agg((lit(k) - sum(col("base_alloc"))).as("seats"))
    val wr = Window.orderBy(col("rem").desc, col("source").asc)
    base.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(wr))
      .select(col("source"), col("n_docs"), col("base_alloc"),
        (col("base_alloc") +
          when(col("rk") <= col("seats"), 1L).otherwise(0L)).as("n_alloc"))
      .orderBy(col("source"))
  }

  val q139Sql: String =
    """WITH counts AS (SELECT source, count(*) AS n_docs
      |                FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM counts),
      |base AS (SELECT source, n_docs,
      |           (100 * n_docs) // n_total AS base_alloc,
      |           (100 * n_docs) % n_total AS rem
      |         FROM counts, tot),
      |lo AS (SELECT 100 - CAST(sum(base_alloc) AS BIGINT) AS seats FROM base),
      |rk AS (SELECT source, n_docs, base_alloc, rem,
      |         row_number() OVER (ORDER BY rem DESC, source) AS rk
      |       FROM base)
      |SELECT source, n_docs, base_alloc,
      |       base_alloc + CASE WHEN rk <= (SELECT seats FROM lo)
      |                         THEN 1 ELSE 0 END AS n_alloc
      |FROM rk ORDER BY source""".stripMargin

  // --------------------------------------------------------------- Q140
  /** Dedup THRESHOLD SWEEP — verified near-dup pair counts at Jaccard
    * cutoffs 0.5 … 0.9 from ONE candidate generation + ONE verify
    * pass: the tuning table read before committing a dedup threshold
    * (how much duplicate mass does each notch remove?), where running
    * q19 five times would re-shingle and re-join five times. The
    * exact Jaccard is computed once per candidate pair; the sweep is
    * a conditional-sum fold over the pair relation (pairs-sized, five
    * integer sums), cumulative by construction (≥ 0.9 ⊆ ≥ 0.8 ⊆ …,
    * spec-pinned). Candidates ride the q19 band machinery, so the
    * sweep measures exactly what production dedup at each threshold
    * would keep. */
  val q140: Q = (s, d) => {
    val pairs = graft.operators.MinHashLsh.nearDup(
      t(s, d, "documents"), bands = 4, rowsPerBand = 2, shingleN = 3,
      minJaccard = 0.0)
    val sweep = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    pairs.agg(
      count(lit(1)).as("n_candidates"),
      sweep.map(th => sum(when(col("jac") >= th, 1L).otherwise(0L))
        .as(s"n_ge_${(th * 10).toInt}")): _*)
  }

  val q140Sql: String = {
    val sigCols = (0 until 8).map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i")
      .mkString(", ")
    val bandCond = (0 until 4).map(b =>
      s"(a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1})")
      .mkString(" OR ")
    val sums = Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(th =>
      s"CAST(sum(CASE WHEN jac >= $th THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_${(th * 10).toInt}")
      .mkString(",\n      |       ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |shl AS (SELECT doc_id, list_distinct(list_transform(
       |          generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))) AS sh
       |        FROM toks),
       |sig AS (SELECT doc_id, sh, $sigCols FROM shl),
       |pr AS (SELECT round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jac
       |       FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandCond))
       |SELECT count(*) AS n_candidates,
       |       $sums
       |FROM pr""".stripMargin
  }

  // --------------------------------------------------------------- Q141
  /** KS-statistic DRIFT — two-sample Kolmogorov–Smirnov distance
    * between each source's doc-length distribution and the rest of
    * the corpus: D = max over lengths of |F_src − F_rest|, the
    * distribution-shape alarm that mean/quantile drift (q86) can
    * miss. EXACT-integer core: per (source, length) counts fold once;
    * each source's CDF and its complement's CDF are cumulative
    * integer sums over the values grid, and D's comparisons happen on
    * the integer cross-product |c_s·N_r − c_r·N_s| — no division
    * until the single reported max is scaled at the boundary. The
    * values grid (distinct lengths) is the only windowed relation —
    * bounded by the value domain, not the corpus (the q113/q119 small-
    * series rationale); everything corpus-sized is one partial-
    * aggregable fold.
    *
    * Scale bound (q152's convention): the exact-integer comparison
    * c_s·N_r is a Long product of a cumulative count and the
    * complement's row count, so it overflows once N_src·N_rest ≥ 2⁶³ —
    * i.e. per-side counts approaching ~3×10⁹ rows. Documents at 100 TB
    * can exceed that; past the bound, run the identical plan with the
    * two products (`num`) computed in DecimalType(38,0) — same shape,
    * exactness kept, ~2× slower arithmetic on the grid-sized relation
    * only (the corpus-sized fold is untouched). */
  val q141: Q = (s, d) => {
    // per (source, n_chars) counts — the only corpus-sized fold
    val cnt = graft.core.Pins.pin(
      t(s, d, "documents")
        .groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c")))
    val ns = cnt.groupBy(col("source")).agg(sum(col("c")).as("n_src"))
    val nn = ns.agg(sum(col("n_src")).as("n_all"))
    // grid = source × distinct length values (need F at EVERY corpus
    // length, not just the source's own — the max can sit on a step of
    // the other CDF)
    val lens = cnt.select(col("n_chars")).distinct()
    val grid = ns.crossJoin(broadcast(nn)).crossJoin(broadcast(lens))
    val wcdf = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withC = grid
      .join(cnt, Seq("source", "n_chars"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    // corpus cumulative at each length, from the same pinned counts
    val wall = Window.orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val callDf = cnt.groupBy(col("n_chars")).agg(sum(col("c")).as("ca"))
      .withColumn("cum_all", sum(col("ca")).over(wall))
      .select(col("n_chars"), col("cum_all"))
    withC
      .withColumn("cum_src", sum(col("c")).over(wcdf))
      .join(broadcast(callDf), "n_chars")
      .withColumn("n_rest", col("n_all") - col("n_src"))
      .withColumn("cum_rest", col("cum_all") - col("cum_src"))
      // |F_s - F_r| as an exact integer numerator over n_src * n_rest
      .withColumn("num",
        abs(col("cum_src") * col("n_rest") - col("cum_rest") * col("n_src")))
      .groupBy(col("source"), col("n_src"), col("n_rest"))
      .agg(max(col("num")).as("num_max"))
      .select(col("source"), col("n_src"),
        round(col("num_max").cast("double") /
          (col("n_src").cast("double") * col("n_rest").cast("double")), 4)
          .as("ks_stat"))
      .orderBy(col("source"))
  }

  val q141Sql: String =
    """WITH cnt AS (SELECT source, n_chars, count(*) AS c
      |             FROM documents GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM cnt GROUP BY 1),
      |nn AS (SELECT CAST(sum(n_src) AS BIGINT) AS n_all FROM ns),
      |lens AS (SELECT DISTINCT n_chars FROM cnt),
      |grid AS (SELECT ns.source, ns.n_src, nn.n_all, lens.n_chars
      |         FROM ns, nn, lens),
      |wc AS (SELECT g.source, g.n_src, g.n_all, g.n_chars,
      |         coalesce(cnt.c, 0) AS c
      |       FROM grid g LEFT JOIN cnt
      |         ON cnt.source = g.source AND cnt.n_chars = g.n_chars),
      |ca AS (SELECT n_chars,
      |         CAST(sum(sum(c)) OVER (ORDER BY n_chars
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           AS cum_all
      |       FROM cnt GROUP BY n_chars),
      |cum AS (SELECT wc.source, wc.n_src, wc.n_all, wc.n_chars,
      |          CAST(sum(wc.c) OVER (PARTITION BY wc.source ORDER BY wc.n_chars
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |            AS cum_src,
      |          ca.cum_all
      |        FROM wc JOIN ca USING (n_chars)),
      |d AS (SELECT source, n_src, n_all - n_src AS n_rest,
      |        abs(cum_src * (n_all - n_src) - (cum_all - cum_src) * n_src) AS num
      |      FROM cum)
      |SELECT source, n_src,
      |       round(CAST(max(num) AS DOUBLE)
      |         / (CAST(n_src AS DOUBLE) * CAST(n_rest AS DOUBLE)), 4) AS ks_stat
      |FROM d GROUP BY source, n_src, n_rest ORDER BY source""".stripMargin

  // --------------------------------------------------------------- Q142
  /** STATIONARY behavior distribution — where q92 reports the raw
    * transition matrix, this reports where the chain SETTLES: three
    * power iterations of p′ = pP from uniform, in INTEGER MICRO-UNITS
    * (q93's PageRank discipline — per-transition mass is
    * `(p·n) div rowsum`, positive integer division, so both engines
    * land on bit-identical masses where float iteration differs in
    * summation order). The corpus-sized work is q92's single window
    * pass + fold; the chain itself is |event_types|² rows, so each
    * iteration is arithmetic over a broadcast-sized relation — the
    * states relation IS the model (at 100 TB the transition counts
    * are the stored artifact, refreshed incrementally like the other
    * ingest sketches). Truncation loses ≤ states·its micro-units of
    * mass — reported, not hidden: masses sum to ≤ 1e6 exactly. */
  val q142: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = t(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    // The transition matrix is STATES²-sized (tens of rows at any
    // corpus size), so under the [[LocalTier]] cap the three power
    // iterations replay in driver Scala with the SAME integer arithmetic
    // ((p·n) div rs per edge, summed by next state): one corpus job.
    // No transitions (one event per user) replay to an empty result,
    // as the oracle's p3 CTE is empty.
    LocalTier(trans.as[(String, String, Long)], MarkovTransCap) { tp =>
      val rs = tp.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
      val states = tp.map(_._1).distinct.sorted
      var p: Map[String, Long] =
        states.map(_ -> 1000000L / states.length).toMap
      for (_ <- 1 to 3) {
        val nx = scala.collection.mutable.Map.empty[String, Long]
        tp.foreach { case (prev, next, n) =>
          p.get(prev).foreach { pv =>
            nx(next) = nx.getOrElse(next, 0L) + pv * n / rs(prev)
          }
        }
        p = nx.toMap
      }
      // a null event_type is a null next state: Spark's ascending sort
      // puts it first, as in the distributed tier (Scala's
      // Ordering.String throws on null)
      p.toSeq.toDF("state", "p_micro").orderBy(col("state"))
    } {
      // over the cap: the r13 distributed loop — the matrix stays in the
      // cluster, each iteration a broadcast join + fold over the pinned
      // transition relation
      val tpd = graft.core.Pins.pin(
        trans.join(trans.groupBy(col("prev")).agg(sum(col("n")).as("rs")), "prev"))
      val states = tpd.select(col("prev").as("state")).distinct()
      val nStates = states.count()
      var p = states.withColumn("p", lit(1000000L / nStates))
      for (_ <- 1 to 3) {
        p = tpd.join(broadcast(p.withColumnRenamed("state", "prev")), "prev")
          .select(col("next").as("state"),
            expr("(p * n) div rs").as("m"))
          .groupBy(col("state")).agg(sum(col("m")).as("p"))
      }
      p.select(col("state"), col("p").as("p_micro")).orderBy(col("state"))
    }
  }

  val q142Sql: String =
    """WITH seq AS (SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |tr AS (SELECT prev, event_type AS next, count(*) AS n
      |       FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
      |tp AS (SELECT tr.prev, tr.next, tr.n,
      |         CAST(sum(tr.n) OVER (PARTITION BY tr.prev) AS BIGINT) AS rs
      |       FROM tr),
      |p0 AS (SELECT prev AS state,
      |         1000000 // (SELECT count(DISTINCT prev) FROM tp) AS p
      |       FROM tp GROUP BY prev),
      |p1 AS (SELECT tp.next AS state, CAST(sum((p0.p * tp.n) // tp.rs) AS BIGINT) AS p
      |       FROM tp JOIN p0 ON tp.prev = p0.state GROUP BY 1),
      |p2 AS (SELECT tp.next AS state, CAST(sum((p1.p * tp.n) // tp.rs) AS BIGINT) AS p
      |       FROM tp JOIN p1 ON tp.prev = p1.state GROUP BY 1),
      |p3 AS (SELECT tp.next AS state, CAST(sum((p2.p * tp.n) // tp.rs) AS BIGINT) AS p
      |       FROM tp JOIN p2 ON tp.prev = p2.state GROUP BY 1)
      |SELECT state, p AS p_micro FROM p3 ORDER BY state""".stripMargin

  // --------------------------------------------------------------- Q143
  /** COHORT LTV triangle — weekly signup cohorts × account age, with
    * cohort size and CUMULATIVE value: the retention-revenue table
    * behind every growth review, and for a data pipeline the
    * "contribution by source vintage" report. Money is EXACT integer
    * cents end to end (q137's rule); the cumulative ride is one window
    * over the (cohort, age) relation — triangle-sized (weeks²/2),
    * never event-sized, after a single partial-aggregable fold. Cohort
    * = the user's first event week (one min over the user partition,
    * shared shuffle with the age computation). */
  val q143: Q = (s, d) => {
    val ev = t(s, d, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"),
        round(col("value") * 100).cast("long").as("cents"))
    val wu = Window.partitionBy(col("user_id"))
    val aged = ev.withColumn("cohort_wk", min(col("wk")).over(wu))
      .withColumn("age_wk", col("wk") - col("cohort_wk"))
    val sizes = aged.groupBy(col("cohort_wk"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val tri = aged.groupBy(col("cohort_wk"), col("age_wk"))
      .agg(sum(col("cents")).as("wk_cents"))
    val wc = Window.partitionBy(col("cohort_wk")).orderBy(col("age_wk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tri.withColumn("cum_cents", sum(col("wk_cents")).over(wc))
      .join(broadcast(sizes), "cohort_wk")
      .select(col("cohort_wk"), col("age_wk"), col("n_users"),
        col("wk_cents"), col("cum_cents"))
      .orderBy(col("cohort_wk"), col("age_wk"))
  }

  val q143Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
      |              CAST(round(value * 100) AS BIGINT) AS cents
      |            FROM events),
      |aged AS (SELECT user_id, wk, cents,
      |           min(wk) OVER (PARTITION BY user_id) AS cohort_wk
      |         FROM ev),
      |sizes AS (SELECT cohort_wk, count(DISTINCT user_id) AS n_users
      |          FROM aged GROUP BY 1),
      |tri AS (SELECT cohort_wk, wk - cohort_wk AS age_wk,
      |          CAST(sum(cents) AS BIGINT) AS wk_cents
      |        FROM aged GROUP BY 1, 2)
      |SELECT t.cohort_wk, t.age_wk, s.n_users, t.wk_cents,
      |       CAST(sum(t.wk_cents) OVER (PARTITION BY t.cohort_wk ORDER BY t.age_wk
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS cum_cents
      |FROM tri t JOIN sizes s USING (cohort_wk)
      |ORDER BY t.cohort_wk, t.age_wk""".stripMargin

  // --------------------------------------------------------------- Q144
  /** MinHash ESTIMATOR calibration — the eval behind trusting q19's
    * bands: for every band-candidate pair, the 8-component signature
    * estimate ĵ = matches/8 against the exact Jaccard, bucketed by
    * match count: how biased is the estimator the LSH keys implicitly
    * use? (q123/q127 grade the BANDS' precision/recall; this grades
    * the SIGNATURE as an estimator — the third leg of the sketch-eval
    * family.) Signatures and exact sets come from ONE
    * [[graft.operators.MinHashLsh.signatures]] relation (the stored
    * ingest artifact); the fold is pairs-sized, the report ≤ 9 rows.
    * Mean |error| aggregates exact per-pair values rounded at the
    * boundary. */
  val q144: Q = (s, d) => {
    // r14: spread the single-split corpus before the signature kernel —
    // the pin job ran the whole shingle+minhash scan in ONE task
    // (probe: 0.92–0.99 s of q144's 1.31 s wall); the spread is the
    // [[graft.operators.MinHashLsh.nearDup]] pattern, a no-op at scale
    val sig = graft.core.Pins.pin(graft.operators.MinHashLsh.signatures(
      graft.operators.MinHashLsh.spreadSmallInput(t(s, d, "documents")),
      numHashes = 8, shingleN = 3)
      .filter(col("mh").isNotNull))
    // candidates from the band table (the production candidate set)
    val bands = graft.operators.MinHashLsh.bandTable(sig, 4, 2)
    val cands = bands.as("a").join(bands.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val m = size(filter(zip_with(col("ma"), col("mb"), (x, y) => x === y),
      x => x))
    val inter = size(array_intersect(col("sa"), col("sb")))
    cands
      .join(sig.select(col("doc_id").as("a_id"), col("shh").as("sa"),
        col("mh").as("ma")), "a_id")
      .join(sig.select(col("doc_id").as("b_id"), col("shh").as("sb"),
        col("mh").as("mb")), "b_id")
      .select(m.cast("long").as("n_matches"),
        (m.cast("double") / 8.0).as("est"),
        (inter.cast("double") /
          (size(col("sa")) + size(col("sb")) - inter)).as("jac"))
      .groupBy(col("n_matches"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(abs(col("est") - col("jac"))), 4).as("mean_abs_err"),
        round(avg(col("est") - col("jac")), 4).as("mean_bias"))
      .orderBy(col("n_matches"))
  }

  val q144Sql: String = {
    val sigCols = (0 until 8).map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i")
      .mkString(", ")
    val bandCond = (0 until 4).map(b =>
      s"(a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1})")
      .mkString(" OR ")
    val matchSum = (0 until 8).map(i =>
      s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |shl AS (SELECT doc_id, list_distinct(list_transform(
       |          generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))) AS sh
       |        FROM toks WHERE len(t) >= 3),
       |sig AS (SELECT doc_id, sh, $sigCols FROM shl),
       |pr AS (SELECT CAST(($matchSum) AS BIGINT) AS n_matches,
       |         CAST(($matchSum) AS DOUBLE) / 8.0 AS est,
       |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
       |       FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandCond))
       |SELECT n_matches, count(*) AS n_pairs,
       |       round(avg(abs(est - jac)), 4) AS mean_abs_err,
       |       round(avg(est - jac), 4) AS mean_bias
       |FROM pr GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------------------------- Q145
  /** Tail PERCENTILES — exact p50/p90/p99 of event value per event
    * type as DISCRETE k-th-smallest order statistics (q86/q90's
    * breakpoint discipline: interpolated percentiles differ by an ulp
    * across engines and flip downstream compares; the k-th element of
    * a finite set is engine-portable). One rank window + one count
    * per event_type partition — a single key shuffle — then three
    * conditional max-picks fold the partition to one row. At 100 TB
    * the per-group sort swaps for the q71 KLL sketch with the same
    * report shape (the q90 note applies verbatim). */
  val q145: Q = (s, d) => {
    val wr = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val wc = Window.partitionBy(col("event_type"))
    def kOf(p: Double) = ceil(lit(p) * col("n")).cast("long")
    t(s, d, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rk", row_number().over(wr).cast("long"))
      .withColumn("n", count(lit(1)).over(wc))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        max(when(col("rk") === kOf(0.5), col("value"))).as("p50"),
        max(when(col("rk") === kOf(0.9), col("value"))).as("p90"),
        max(when(col("rk") === kOf(0.99), col("value"))).as("p99"))
      .orderBy(col("event_type"))
  }

  val q145Sql: String =
    """WITH rk AS (SELECT event_type, value,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |           ORDER BY value, event_id) AS BIGINT) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
      |       max(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
      |       max(CASE WHEN rk = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
      |       max(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
      |FROM rk GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q146
  /** FORWARD-FILL (last observation carried forward) — every event
    * annotated with the user's most recent purchase value at that
    * instant: the sparse-column densification every feature pipeline
    * runs before training (sensor gaps, price carry, config
    * versions). One (user, time) window; `last(…, ignoreNulls)` over
    * the running frame is the codegen'd LOCF idiom — no self-join, no
    * as-of lookup, the carry rides the same shuffle the ordering
    * needs. Cents integer (q137's rule); events without a prior
    * purchase stay NULL (reported as -1 sentinel for a portable total
    * order). Output is event-grained by design — this is a
    * TRANSFORM (the densified column production writes back), not a
    * report. */
  val q146: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("last_purchase_cents",
        coalesce(
          last(when(col("event_type") === "purchase", col("cents")), ignoreNulls = true)
            .over(w),
          lit(-1L)))
      .select(col("event_id"), col("user_id"), col("last_purchase_cents"))
      .orderBy(col("event_id"))
  }

  val q146Sql: String =
    """WITH f AS (
      |  SELECT event_id, user_id,
      |         last_value(CASE WHEN event_type = 'purchase'
      |                    THEN CAST(round(value * 100) AS BIGINT) END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp
      |  FROM events)
      |SELECT event_id, user_id, coalesce(lp, -1) AS last_purchase_cents
      |FROM f ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- Q147
  /** KEEP-BEST dedup survivorship — the curation-grade alternative to
    * q05's keep-first and q52's min-id canonical: within each near-dup
    * CLUSTER (q52's connected components over the verified LSH pair
    * graph) the survivor is the HIGHEST-QUALITY member (q25's scorer —
    * [[TextOps.qualityScore]], ONE definition shared with q54/q65), ties
    * to the smaller id. This is the dedup decision a training-data
    * pipeline actually ships: near-dups differ by boilerplate and
    * truncation, and keeping the best-scoring copy instead of the
    * first-seen one is free once clusters exist. One row_number window
    * over the component partition; cluster labels are the stored
    * ingest artifact at 100 TB (q109's policy), so the query is a
    * docs-sized join + window, no signature work. */
  val q147: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val comps = graft.operators.DedupClusters.assignAll(docs,
      graft.operators.MinHashLsh.nearDup(docs, 4, 2, 3, 0.5))
    val scored = docs
      .select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
      .join(comps, "doc_id")
    // r15 (guide §2.4 — windows sharing one partitioning): cluster size
    // is count(*) OVER the SAME component partitioning the survivor
    // rank already rides, so both fold in ONE window pass — the
    // separate sizes fold, its exchange, its join back, and the second
    // consumer of the components relation (which re-ran the docs-spine
    // join) all disappear. scored is one row per doc (doc_id unique on
    // both join sides), so the per-partition count IS the member count.
    // A/B best-of-7: 1.15 → 1.10 s, every rep at or below the old form.
    val wr = Window.partitionBy(col("component"))
      .orderBy(col("q").desc, col("doc_id").asc)
    val wc = Window.partitionBy(col("component"))
    scored.withColumn("rn", row_number().over(wr))
      .withColumn("n_members", count(lit(1)).over(wc))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("survivor_id"),
        col("q").as("survivor_quality"), col("n_members"))
      .orderBy(col("component"))
  }

  val q147Sql: String = {
    val sigCols = (0 until 8).map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i")
      .mkString(", ")
    val bandCond = (0 until 4).map(b =>
      s"(a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1})")
      .mkString(" OR ")
    s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |shl AS (SELECT doc_id, list_distinct(list_transform(
       |          generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))) AS sh
       |        FROM toks),
       |sig AS (SELECT doc_id, sh, $sigCols FROM shl),
       |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS sha, b.sh AS shb
       |         FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandCond)),
       |pairs AS (SELECT a_id, b_id FROM cand
       |          WHERE round(CAST(len(list_intersect(sha, shb)) AS DOUBLE)
       |                / (len(sha) + len(shb) - len(list_intersect(sha, shb))), 4) >= 0.5),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
       |         FROM reach GROUP BY u),
       |allc AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
       |           string_split(d.text, ' ') AS t,
       |           CAST(len(list_filter(string_split(d.text, ' '),
       |                  x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) AS stops
       |         FROM documents d LEFT JOIN comp c USING (doc_id)),
       |scored AS (SELECT doc_id, component,
       |             round(least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
       |               * (1.0 - stops / len(t)), 4) AS q
       |           FROM allc),
       |sizes AS (SELECT component, count(*) AS n_members FROM scored GROUP BY 1),
       |rk AS (SELECT component, doc_id, q,
       |         row_number() OVER (PARTITION BY component
       |           ORDER BY q DESC, doc_id) AS rn
       |       FROM scored)
       |SELECT rk.component, rk.doc_id AS survivor_id, rk.q AS survivor_quality,
       |       s.n_members
       |FROM rk JOIN sizes s USING (component)
       |WHERE rk.rn = 1 ORDER BY rk.component""".stripMargin
  }

  // --------------------------------------------------------------- Q148
  /** ASSOCIATION rules — support/confidence/lift for event-type pairs
    * over (user, day) BASKETS: the market-basket classic, and for a
    * pipeline the "which behaviors co-occur within a day" table that
    * q131's strict-adjacency sequences can't see (a view and a
    * purchase hours apart never sit in one 3-chain). Baskets are the
    * distinct (user, day, type) relation — slim, one fold; pair
    * supports come from a basket-key self-join bounded by
    * |types|²/2 per basket; confidence and lift are assembled from
    * exact integer supports cast late ((s_ab·N)/(s_a·s_b) — identical
    * correctly-rounded ops both engines). Rules reported in BOTH
    * directions (confidence is asymmetric), ordered by antecedent,
    * consequent. */
  val q148: Q = (s, d) => {
    val b = graft.core.Pins.pin(
      t(s, d, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
          col("event_type"))
        .distinct())
    val nb = b.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val sA = b.groupBy(col("event_type")).agg(count(lit(1)).as("s"))
    val pairsAB = b.as("x").join(b.as("y"),
        col("x.user_id") === col("y.user_id") && col("x.day") === col("y.day") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("a"), col("y.event_type").as("b"))
      .agg(count(lit(1)).as("s_ab"))
    val rules = pairsAB.unionByName(
      pairsAB.select(col("b").as("a"), col("a").as("b"), col("s_ab")))
    rules
      .join(broadcast(sA.select(col("event_type").as("a"), col("s").as("s_a"))), "a")
      .join(broadcast(sA.select(col("event_type").as("b"), col("s").as("s_b"))), "b")
      .crossJoin(broadcast(nb))
      .select(col("a").as("antecedent"), col("b").as("consequent"),
        col("s_ab"),
        round(col("s_ab").cast("double") / col("s_a").cast("double"), 4)
          .as("confidence"),
        round((col("s_ab").cast("double") * col("n_baskets").cast("double")) /
          (col("s_a").cast("double") * col("s_b").cast("double")), 4)
          .as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  val q148Sql: String =
    """WITH b AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day,
      |             event_type
      |           FROM events),
      |nb AS (SELECT count(*) AS n_baskets
      |       FROM (SELECT DISTINCT user_id, day FROM b)),
      |sa AS (SELECT event_type, count(*) AS s FROM b GROUP BY 1),
      |pab AS (SELECT x.event_type AS a, y.event_type AS b, count(*) AS s_ab
      |        FROM b x JOIN b y
      |          ON x.user_id = y.user_id AND x.day = y.day
      |         AND x.event_type < y.event_type
      |        GROUP BY 1, 2),
      |rules AS (SELECT a, b, s_ab FROM pab
      |          UNION ALL SELECT b, a, s_ab FROM pab)
      |SELECT r.a AS antecedent, r.b AS consequent, r.s_ab,
      |       round(CAST(r.s_ab AS DOUBLE) / CAST(x.s AS DOUBLE), 4) AS confidence,
      |       round((CAST(r.s_ab AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE))
      |         / (CAST(x.s AS DOUBLE) * CAST(y.s AS DOUBLE)), 4) AS lift
      |FROM rules r
      |JOIN sa x ON r.a = x.event_type
      |JOIN sa y ON r.b = y.event_type, nb
      |ORDER BY antecedent, consequent""".stripMargin

  // --------------------------------------------------------------- Q149
  /** χ² INDEPENDENCE test — is language distribution independent of
    * source? The categorical-drift significance test behind q133's
    * KL magnitude (KL says "how different"; χ² says "bigger than
    * chance?"). One contingency fold (source × lang counts), marginals
    * derived from it, χ² = Σ (N·o − r·c)² / (N·r·c) assembled from
    * exact integer counts with division at the term boundary — the
    * numerator is the exact integer (N·o − r·c)², so both engines sum
    * identical term values (one correctly-rounded divide each).
    * Output: one row (χ², degrees of freedom, cells) — compare to the
    * χ²₀.₀₅ critical value offline. Corpus-sized work is the single
    * fold; everything downstream is cells-sized. */
  val q149: Q = (s, d) => {
    val cnt = graft.core.Pins.pin(
      t(s, d, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o")))
    val rm = cnt.groupBy(col("source")).agg(sum(col("o")).as("r"))
    val cm = cnt.groupBy(col("lang")).agg(sum(col("o")).as("c"))
    val nn = cnt.agg(sum(col("o")).as("nn"))
    val num = (col("nn") * col("o") - col("r") * col("c")).cast("double")
    val term = (num * num) /
      (col("nn").cast("double") * col("r").cast("double") * col("c").cast("double"))
    cnt.join(broadcast(rm), "source")
      .join(broadcast(cm), "lang")
      .crossJoin(broadcast(nn))
      .agg(round(sum(term), 4).as("chi2"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        count(lit(1)).as("n_cells"))
      .select(col("chi2"),
        ((col("n_sources") - 1) * (col("n_langs") - 1)).as("dof"),
        col("n_cells"))
  }

  val q149Sql: String =
    """WITH cnt AS (SELECT source, lang, count(*) AS o
      |             FROM documents GROUP BY 1, 2),
      |rm AS (SELECT source, CAST(sum(o) AS BIGINT) AS r FROM cnt GROUP BY 1),
      |cm AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c FROM cnt GROUP BY 1),
      |nn AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cnt)
      |SELECT round(sum(CAST(nn.nn * cnt.o - rm.r * cm.c AS DOUBLE)
      |               * CAST(nn.nn * cnt.o - rm.r * cm.c AS DOUBLE)
      |               / (CAST(nn.nn AS DOUBLE) * CAST(rm.r AS DOUBLE)
      |                  * CAST(cm.c AS DOUBLE))), 4) AS chi2,
      |       (count(DISTINCT cnt.source) - 1) * (count(DISTINCT cnt.lang) - 1) AS dof,
      |       count(*) AS n_cells
      |FROM cnt JOIN rm USING (source) JOIN cm USING (lang), nn""".stripMargin

  // --------------------------------------------------------------- Q150
  /** BOOTSTRAP confidence interval for mean doc length per source —
    * with ZERO randomness: the Poisson(1) resample weights every
    * bootstrap replicate needs come from a 16-bit md5 uniform pushed
    * through the Poisson inverse CDF, whose cumulative breakpoints
    * are PRE-COMPILED hex literals (q111's frontier discipline — no
    * float arithmetic survives into the dataflow). Same doc, same
    * replicate → same weight, every run, both engines; the Poisson
    * bootstrap is the standard streaming-friendly multinomial
    * approximation (weights are i.i.d. per element, so the resample
    * never needs to know N — THE bootstrap form for distributed
    * data). B = 50 replicates explode from a literal array; per
    * (source, replicate) the weighted sums are exact integers; the CI
    * is the 2nd/49th order statistic of the 50 replicate means (a
    * B-sized sort per source, model-sized). */
  private[queries] val PoissonCdfHex: Seq[String] = {
    // P(X <= k) for Poisson(1), k = 0..5, as 4-hex-digit frontiers of
    // the 16-bit uniform; the tail beyond k=6 (~1e-5) rounds into the
    // last bucket. Computed once at plan build from exact doubles.
    val e1 = math.exp(-1.0)
    val probs = (0 to 5).scanLeft(0.0) { (acc, k) =>
      acc + e1 / (1 to k).product.toDouble
    }.tail // cumulative P(<=k), k=0..5
    probs.map(p => f"${math.min(65535, (p * 65536).toInt)}%04x")
  }

  val q150: Q = (s, d) => {
    val bs = typedLit((0 until 50).toList)
    val u = substring(md5(concat(lit("boot|"), col("b").cast("string"),
      lit("|"), col("doc_id").cast("string"))), 1, 4)
    // weight = inverse CDF: number of frontiers u has passed
    val wExpr = PoissonCdfHex.map(h => when(u >= lit(h), 1L).otherwise(0L))
      .reduce(_ + _)
    val reps = t(s, d, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"), explode(bs).as("b"))
      .withColumn("w", wExpr)
      .groupBy(col("source"), col("b"))
      .agg(sum(col("w") * col("n_chars")).as("sw"), sum(col("w")).as("nw"))
      .filter(col("nw") > 0)
      .select(col("source"), col("b"),
        (col("sw").cast("double") / col("nw").cast("double")).as("m"))
    val wr = Window.partitionBy(col("source")).orderBy(col("m"), col("b"))
    reps.withColumn("rk", row_number().over(wr))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(max(col("nb")).as("n_reps"),
        round(max(when(col("rk") === 2, col("m"))), 4).as("ci_lo"),
        round(max(when(col("rk") === col("nb") - 1, col("m"))), 4).as("ci_hi"))
      .orderBy(col("source"))
  }

  val q150Sql: String = {
    val wSum = PoissonCdfHex.map(h =>
      s"CASE WHEN substr(md5('boot|' || CAST(bb.b AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)), 1, 4) >= '$h' THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH bb AS (SELECT unnest(generate_series(0, 49)) AS b),
       |reps AS (SELECT source, bb.b,
       |           CAST(sum(($wSum) * n_chars) AS BIGINT) AS sw,
       |           CAST(sum($wSum) AS BIGINT) AS nw
       |         FROM documents, bb GROUP BY 1, 2),
       |m AS (SELECT source, b, CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE) AS m
       |      FROM reps WHERE nw > 0),
       |rk AS (SELECT source, b, m,
       |         row_number() OVER (PARTITION BY source ORDER BY m, b) AS rk,
       |         count(*) OVER (PARTITION BY source) AS nb
       |       FROM m)
       |SELECT source, CAST(max(nb) AS BIGINT) AS n_reps,
       |       round(max(CASE WHEN rk = 2 THEN m END), 4) AS ci_lo,
       |       round(max(CASE WHEN rk = nb - 1 THEN m END), 4) AS ci_hi
       |FROM rk GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- Q151
  /** TRIMMED mean — mean doc length per source with the top and
    * bottom 10% (by length, ties by id) removed: the robust location
    * estimate a mean poisoned by boilerplate giants or empty stubs
    * needs (q90's fences FLAG outliers; this reports a statistic
    * immune to them). Trim boundaries are DISCRETE rank cuts
    * (row_number over one source partition — the q90/q145 order-
    * statistic discipline), the kept mass folds to exact integer
    * (Σ, n) per source, one divide at the boundary. */
  val q151: Q = (s, d) => {
    val wr = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    val wc = Window.partitionBy(col("source"))
    t(s, d, "documents")
      .select(col("source"), col("n_chars"), col("doc_id"))
      .withColumn("rk", row_number().over(wr).cast("long"))
      .withColumn("n", count(lit(1)).over(wc))
      .filter(col("rk") > expr("n div 10") &&
        col("rk") <= col("n") - expr("n div 10"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("sum_kept"))
      .select(col("source"), col("n_kept"),
        round(col("sum_kept").cast("double") / col("n_kept").cast("double"), 4)
          .as("trimmed_mean"))
      .orderBy(col("source"))
  }

  val q151Sql: String =
    """WITH rk AS (SELECT source, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source
      |           ORDER BY n_chars, doc_id) AS BIGINT) AS rk,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT source, count(*) AS n_kept,
      |       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS trimmed_mean
      |FROM rk WHERE rk > n // 10 AND rk <= n - n // 10
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- Q152
  /** GINI concentration — how unequally is event value distributed
    * across users? (engagement inequality; for a corpus, contribution
    * concentration per source — a pipeline where 1% of contributors
    * supply 90% of tokens has a different risk profile). Exact-sort
    * formula G = (2·Σᵢ i·xᵢ) / (n·Σx) − (n+1)/n over per-user cent
    * totals ranked ascending: every term is an exact integer
    * (Σ i·xᵢ ≤ n·Σx < 2⁶³ at any realistic scale), the two divides
    * happen at the output boundary in the same literal order both
    * engines. The corpus folds to one row per user before the rank
    * window (users-sized, the q137 note); one final one-row fold. */
  val q152: Q = (s, d) => {
    val pu = t(s, d, "events")
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val wr = Window.orderBy(col("cents"), col("user_id"))
    pu.withColumn("i", row_number().over(wr).cast("long"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("cents")).as("total_cents"),
        sum(col("i") * col("cents")).as("iwx"))
      .select(col("n_users"), col("total_cents"),
        round(
          (lit(2.0) * col("iwx").cast("double")) /
            (col("n_users").cast("double") * col("total_cents").cast("double")) -
            (col("n_users") + 1).cast("double") / col("n_users").cast("double"),
          4).as("gini"))
  }

  val q152Sql: String =
    """WITH pu AS (SELECT user_id,
      |              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |            FROM events GROUP BY 1),
      |rk AS (SELECT cents,
      |         CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) AS i
      |       FROM pu)
      |SELECT count(*) AS n_users,
      |       CAST(sum(cents) AS BIGINT) AS total_cents,
      |       round((2.0 * CAST(sum(i * cents) AS DOUBLE))
      |               / (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
      |             - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
      |         AS gini
      |FROM rk""".stripMargin

  /** name → (query, oracle) */
  // --------------------------------------------------------------- Q208
  /** KRUSKAL–WALLIS H across event types on daily revenue — the
    * MULTI-group rank test completing the nonparametric shelf (q196
    * is two-group location, q141 two-sample shape, q149 categorical
    * independence; KW is "one-way ANOVA on ranks"): does ANY event
    * type's daily-revenue distribution differ? Exact end to end by
    * the q196 disciplines compounded: the sample is the DAILY fold
    * (N = types×span-days, grid-sized at any corpus scale), pooled
    * midranks are 2-SCALED integers (2·cum_below + t + 1 — always
    * integral, computed on the value GRID: no global row sort, the
    * corpus crosses once in the day fold), Σ R_i²/n_i is the exact
    * rational P/Q with Q = Π n_i, and the tie-corrected statistic
    *   H = [3·(P − Q·N(N+1)²)·(N³−N)] / [Q·N(N+1)·(N³−N−ΣT)]
    * (ΣT = Σ t³−t over pooled tie groups) is the exact rational
    * (h_num, h_den) — Cauchy–Schwarz guarantees h_num ≥ 0, so no
    * sign-dependent floor exists; χ²(k−1) scoring is the caller's
    * float boundary. The 128-bit pair is emitted as BIGINT hi/lo
    * halves (h = hi·10¹⁸ + lo, both sides non-negative — the
    * q163/q164 driver-hashable discipline; DECIMAL(38,0) vs HUGEINT
    * hash differently even when bit-equal, the round-7 lesson).
    * Magnitude bounds (the round-7 ADVICE audit): Q = Π n_i and
    * P = Σ (2R_i)²·(Q div n_i) are NOT BIGINT-safe at long spans
    * (6 types × 365 days puts P ≈ 10²², past 2⁶³), so both are
    * folded in DECIMAL(38,0)/HUGEINT — the only BIGINT-bounded
    * intermediate left is each quotient Q div n_i = Π_{j≠i} n_j,
    * safe while the OTHER groups' size product < 2⁶³ (365-day spans
    * hold to ~9 types); (2R)² ≤ (N(N+1))² and the ×(N³−N) lift cap
    * h_num ~10²³ at this grid, inside DECIMAL(38,0) to ~3000× the
    * span. */
  val q208: Q = (s, d) => {
    val daily = graft.core.Pins.pin(
      t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("c"))
        .select(col("event_type"), col("c")))
    val pooled = daily.groupBy(col("c")).agg(count(lit(1)).as("t"))
      .withColumn("cum", coalesce(sum(col("t"))
        .over(Window.orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("mr2", lit(2L) * col("cum") + col("t") + 1)
    val ties = pooled.agg(sum(col("t") * col("t") * col("t") - col("t"))
      .as("sum_ties"), sum(col("t")).as("n_total"))
    val grp = daily.join(broadcast(pooled.select(col("c"), col("mr2"))), Seq("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_i"), sum(col("mr2")).as("r2_i"))
    // P/Q without per-row rational division: P = Σ (2R_i)²·(Q div n_i)
    // (exact — Q = Π n_i is divisible by each n_i), Q folded by an
    // aggregate HOF over the ≤ |types| group sizes — in DECIMAL(38,0)
    // (a BIGINT fold wraps silently past 2⁶³; see the docstring bound)
    val q0 = grp.agg(expr(
      "aggregate(collect_list(n_i), CAST(1 AS DECIMAL(38,0))," +
        " (a, x) -> CAST(a * x AS DECIMAL(38,0)))").as("qq"))
    val p0 = grp.crossJoin(broadcast(q0))
      .agg(sum(col("r2_i").cast("decimal(38,0)") * col("r2_i")
        * expr("qq div n_i")).cast("decimal(38,0)").as("pp"),
        min(col("qq")).as("qq"))
    p0.crossJoin(broadcast(ties))
      .select(col("n_total"), col("sum_ties"),
        (lit(3L).cast("decimal(38,0)")
          * (col("pp")
            - col("qq") * col("n_total")
              * (col("n_total") + 1) * (col("n_total") + 1))
          * (col("n_total") * col("n_total") * col("n_total") - col("n_total")))
          .cast("decimal(38,0)").as("h_num"),
        (col("qq") * col("n_total") * (col("n_total") + 1)
          * (col("n_total") * col("n_total") * col("n_total") - col("n_total")
            - col("sum_ties"))).cast("decimal(38,0)").as("h_den"))
      .select(col("n_total"), col("sum_ties"),
        expr("h_num div 1000000000000000000").as("h_num_hi"),
        expr("CAST(h_num % 1000000000000000000 AS BIGINT)").as("h_num_lo"),
        expr("h_den div 1000000000000000000").as("h_den_hi"),
        expr("CAST(h_den % 1000000000000000000 AS BIGINT)").as("h_den_lo"))
  }

  val q208Sql: String =
    """WITH daily AS (SELECT event_type,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      |       FROM (SELECT event_type, CAST(ts AS DATE) AS day,
      |               value FROM events)
      |       GROUP BY event_type, day),
      |pooled AS (SELECT c, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY 1),
      |mr AS (SELECT c, t,
      |         2 * coalesce(sum(t) OVER (ORDER BY c
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           + t + 1 AS mr2
      |       FROM pooled),
      |ties AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS sum_ties,
      |           CAST(sum(t) AS BIGINT) AS n_total FROM mr),
      |grp AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_i,
      |          CAST(sum(mr2) AS BIGINT) AS r2_i
      |        FROM daily JOIN mr USING (c) GROUP BY 1),
      |q0 AS (SELECT list_reduce(list(CAST(n_i AS HUGEINT)),
      |                 (a, x) -> a * x) AS qq FROM grp),
      |p0 AS (SELECT CAST(sum(CAST(r2_i AS HUGEINT) * r2_i
      |                       * CAST(qq // n_i AS BIGINT)) AS HUGEINT) AS pp,
      |         min(qq) AS qq
      |       FROM grp, q0),
      |h AS (SELECT n_total, sum_ties,
      |        CAST(3 * (pp
      |                  - qq * n_total * (n_total + 1) * (n_total + 1))
      |             * (CAST(n_total AS HUGEINT) * n_total * n_total - n_total)
      |             AS HUGEINT) AS h_num,
      |        CAST(qq * n_total * (n_total + 1)
      |             * (CAST(n_total AS HUGEINT) * n_total * n_total - n_total - sum_ties)
      |             AS HUGEINT) AS h_den
      |      FROM p0, ties)
      |SELECT n_total, sum_ties,
      |       CAST(h_num // 1000000000000000000 AS BIGINT) AS h_num_hi,
      |       CAST(h_num % 1000000000000000000 AS BIGINT) AS h_num_lo,
      |       CAST(h_den // 1000000000000000000 AS BIGINT) AS h_den_hi,
      |       CAST(h_den % 1000000000000000000 AS BIGINT) AS h_den_lo
      |FROM h""".stripMargin

  // --------------------------------------------------------------- Q216
  /** SPEARMAN rank correlation per event type, between daily revenue
    * and daily event count — the monotone-association measure
    * completing the correlation shelf (q164 is Pearson-on-values,
    * q197 Mann–Kendall's pair-sign trend; Spearman is Pearson on
    * RANKS, robust to any monotone transform): ranks are 2-SCALED
    * MIDRANKS (2·mid = 2·rank() + tiecount − 1, always integral —
    * the q196 discipline via rank-window + tie-count-window, both
    * engines stating the identical expression), and every moment is
    * an exact BIGINT fold: num = n·Σuv − (n(n+1))² (both 2-scaled
    * rank sums telescope to n(n+1)), vx/vy the matching variance
    * terms. ρ = num/√(vx·vy) is emitted BOTH ways: the exact integer
    * triple (num, vx, vy) for the engine-side consumer, and the
    * round(…, 4) float for the report (IEEE sqrt of exact integers —
    * the q83 boundary discipline), with the all-tied vx·vy = 0
    * degenerate emitting 0.0 (the q138 guard lesson). The daily fold
    * is the only corpus-sized exchange; ranks ride per-type windows
    * over ≤ span-days rows. */
  val q216: Q = (s, d) => {
    val daily = t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"),
        count(lit(1)).as("k"))
    def mr2(v: String): org.apache.spark.sql.Column =
      lit(2L) * rank().over(Window.partitionBy(col("event_type")).orderBy(col(v)))
        .cast("long") +
        count(lit(1)).over(Window.partitionBy(col("event_type"), col(v))) - 2
    // rank() is 1-based min-position; 2·mid = 2·rank + t − 1, and the
    // −2/+1 fold: 2·rank + (t − 1) = (2·rank + t) − 1 — stated as
    // lit-arithmetic identically in the oracle
    daily
      .withColumn("u", mr2("c") + 1)
      .withColumn("v", mr2("k") + 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("u") * col("v")).as("suv"),
        sum(col("u") * col("u")).as("suu"), sum(col("v") * col("v")).as("svv"))
      .select(col("event_type"), col("n"),
        (col("n") * col("suv") - (col("n") * (col("n") + 1))
          * (col("n") * (col("n") + 1))).as("num"),
        (col("n") * col("suu") - (col("n") * (col("n") + 1))
          * (col("n") * (col("n") + 1))).as("vx"),
        (col("n") * col("svv") - (col("n") * (col("n") + 1))
          * (col("n") * (col("n") + 1))).as("vy"))
      .withColumn("rho",
        when(col("vx") > 0 && col("vy") > 0,
          round(col("num") / sqrt(col("vx").cast("double") * col("vy")), 4))
          .otherwise(lit(0.0)))
      .orderBy(col("event_type"))
  }

  val q216Sql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c,
      |         CAST(count(*) AS BIGINT) AS k
      |       FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type,
      |        2 * CAST(rank() OVER (PARTITION BY event_type ORDER BY c) AS BIGINT)
      |          + CAST(count(*) OVER (PARTITION BY event_type, c) AS BIGINT) - 1 AS u,
      |        2 * CAST(rank() OVER (PARTITION BY event_type ORDER BY k) AS BIGINT)
      |          + CAST(count(*) OVER (PARTITION BY event_type, k) AS BIGINT) - 1 AS v
      |      FROM daily),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(u * v) AS BIGINT) AS suv,
      |        CAST(sum(u * u) AS BIGINT) AS suu,
      |        CAST(sum(v * v) AS BIGINT) AS svv
      |      FROM r GROUP BY 1)
      |SELECT event_type, n,
      |       n * suv - (n * (n + 1)) * (n * (n + 1)) AS num,
      |       n * suu - (n * (n + 1)) * (n * (n + 1)) AS vx,
      |       n * svv - (n * (n + 1)) * (n * (n + 1)) AS vy,
      |       CASE WHEN n * suu - (n * (n + 1)) * (n * (n + 1)) > 0
      |                 AND n * svv - (n * (n + 1)) * (n * (n + 1)) > 0
      |            THEN round((n * suv - (n * (n + 1)) * (n * (n + 1)))
      |                 / sqrt(CAST(n * suu - (n * (n + 1)) * (n * (n + 1)) AS DOUBLE)
      |                        * (n * svv - (n * (n + 1)) * (n * (n + 1)))), 4)
      |            ELSE 0.0 END AS rho
      |FROM m ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------- shared F
  /** EXACT one-way ANOVA F as a 128-bit rational, shared by q227 (raw
    * values) and q228 (Brown–Forsythe median-centered deviations). For
    * groups g with values x (exact BIGINTs): with S_i = Σx, Q_i = Σx²,
    * N = Σn_i, S = ΣS_i, Q = ΣQ_i and Qd = Π n_i (the q208 exact-
    * product discipline: folded in DECIMAL(38,0)/HUGEINT — a BIGINT
    * fold wraps past 2⁶³ at long spans), A = Σ S_i²·(Qd div n_i) gives
    * ΣS_i²/n_i = A/Qd exactly (each quotient Π_{j≠i} n_j must fit
    * BIGINT — documented, the q208 bound), and
    *   F = [SSB/(k−1)]/[SSW/(N−k)]
    *     = (A·N − S²·Qd)·(N−k) / [N·(Q·Qd − A)·(k−1)]
    * — both sides NON-NEGATIVE by Cauchy–Schwarz, emitted as the
    * driver-hashable BIGINT hi/lo halves (h = hi·10¹⁸ + lo). An
    * all-equal-within-groups input makes f_den 0 (F undefined) — the
    * exact integers pass through, the χ²/F scoring is the caller's
    * float boundary. */
  private def exactAnovaF(values: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dec = "decimal(38,0)"
    val grp = values.groupBy(col("g"))
      .agg(count(lit(1)).as("n_i"), sum(col("x")).as("s_i"),
        sum(col("x").cast(dec) * col("x")).cast(dec).as("q_i"))
    val tot = grp.agg(
      expr("aggregate(collect_list(n_i), CAST(1 AS DECIMAL(38,0))," +
        " (a, x) -> CAST(a * x AS DECIMAL(38,0)))").as("qd"),
      count(lit(1)).as("k"), sum(col("n_i")).as("n_tot"),
      sum(col("s_i")).cast(dec).as("s_all"),
      sum(col("q_i")).cast(dec).as("q_all"))
    grp.crossJoin(broadcast(tot))
      .agg(sum(col("s_i").cast(dec) * col("s_i") * expr("qd div n_i"))
          .cast(dec).as("aa"),
        min(col("qd")).as("qd"), min(col("k")).as("k"),
        min(col("n_tot")).as("n_tot"), min(col("s_all")).as("s_all"),
        min(col("q_all")).as("q_all"))
      .select(col("n_tot"), col("k"),
        ((col("aa") * col("n_tot") - col("s_all") * col("s_all") * col("qd"))
          * (col("n_tot") - col("k"))).cast(dec).as("f_num"),
        ((col("q_all") * col("qd") - col("aa")) * col("n_tot")
          * (col("k") - 1)).cast(dec).as("f_den"))
      .select(col("n_tot"), col("k"),
        expr("f_num div 1000000000000000000").as("f_num_hi"),
        expr("CAST(f_num % 1000000000000000000 AS BIGINT)").as("f_num_lo"),
        expr("f_den div 1000000000000000000").as("f_den_hi"),
        expr("CAST(f_den % 1000000000000000000 AS BIGINT)").as("f_den_lo"))
  }

  /** Shared SQL tail mirroring [[exactAnovaF]] — `vals` must be a CTE
    * named `vals(g, x)` with exact BIGINT x. */
  private def anovaSqlTail: String =
    """grp AS (SELECT g, CAST(count(*) AS BIGINT) AS n_i,
      |          CAST(sum(x) AS BIGINT) AS s_i,
      |          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q_i
      |        FROM vals GROUP BY 1),
      |tot AS (SELECT list_reduce(list(CAST(n_i AS HUGEINT)), (a, x) -> a * x) AS qd,
      |          CAST(count(*) AS BIGINT) AS k, CAST(sum(n_i) AS BIGINT) AS n_tot,
      |          CAST(sum(s_i) AS HUGEINT) AS s_all,
      |          CAST(sum(q_i) AS HUGEINT) AS q_all
      |        FROM grp),
      |a0 AS (SELECT CAST(sum(CAST(s_i AS HUGEINT) * s_i
      |                        * CAST(qd // n_i AS BIGINT)) AS HUGEINT) AS aa,
      |         min(qd) AS qd, min(k) AS k, min(n_tot) AS n_tot,
      |         min(s_all) AS s_all, min(q_all) AS q_all
      |       FROM grp, tot),
      |f AS (SELECT n_tot, k,
      |        CAST((aa * n_tot - s_all * s_all * qd) * (n_tot - k) AS HUGEINT)
      |          AS f_num,
      |        CAST((q_all * qd - aa) * n_tot * (k - 1) AS HUGEINT) AS f_den
      |      FROM a0)
      |SELECT n_tot, k,
      |       CAST(f_num // 1000000000000000000 AS BIGINT) AS f_num_hi,
      |       CAST(f_num % 1000000000000000000 AS BIGINT) AS f_num_lo,
      |       CAST(f_den // 1000000000000000000 AS BIGINT) AS f_den_hi,
      |       CAST(f_den % 1000000000000000000 AS BIGINT) AS f_den_lo
      |FROM f""".stripMargin

  // --------------------------------------------------------------- Q227
  /** ONE-WAY ANOVA F across event types on daily revenue — the
    * PARAMETRIC sibling of q208's Kruskal–Wallis (same question — does
    * ANY type's daily revenue differ? — answered on means instead of
    * ranks; together they bracket the location-test shelf). The sample
    * is the DAILY fold (grid-sized at any corpus scale, the q208
    * rationale), and the entire statistic is the exact 128-bit
    * rational of [[exactAnovaF]] — one corpus-sized exchange (the day
    * fold), then types-sized algebra. */
  val q227: Q = (s, d) => {
    val daily = t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .select(col("event_type").as("g"), col("x"))
    exactAnovaF(daily)
  }

  val q227Sql: String =
    """WITH vals AS (SELECT event_type AS g,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |       FROM (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events)
      |       GROUP BY event_type, day),
      |""".stripMargin + anovaSqlTail

  // --------------------------------------------------------------- Q228
  /** BROWN–FORSYTHE homogeneity-of-variance test — ANOVA F applied to
    * z = |x − med_g| (median-centered absolute deviations): do the
    * TYPES differ in daily-revenue SPREAD, robustly (the median
    * centering is what makes BF robust where Levene's mean centering
    * is not)? med_g is the DISCRETE k = (n+1) div 2 order statistic
    * per type (the q170/q212 lower-median discipline — no
    * interpolation, identical in both engines by a total (x, day)
    * order), so z is an exact BIGINT and the statistic reuses
    * [[exactAnovaF]] verbatim. One day fold crosses the corpus; the
    * median window rides a types-keyed partition of span-days rows. */
  val q228: Q = (s, d) => {
    val daily = graft.core.Pins.pin(
      t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x")))
    val wOrd = Window.partitionBy(col("event_type"))
      .orderBy(col("x"), col("day"))
    val med = daily
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("x").as("med"))
    exactAnovaF(
      daily.join(broadcast(med), Seq("event_type"))
        .select(col("event_type").as("g"), abs(col("x") - col("med")).as("x")))
  }

  val q228Sql: String =
    """WITH daily AS (SELECT event_type,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x,
      |         CAST(ts AS DATE) AS day
      |       FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |med AS (SELECT event_type, x AS med
      |        FROM (SELECT event_type, x,
      |                row_number() OVER (PARTITION BY event_type
      |                  ORDER BY x, day) AS rn,
      |                count(*) OVER (PARTITION BY event_type) AS n
      |              FROM daily)
      |        WHERE rn = (n + 1) // 2),
      |vals AS (SELECT d.event_type AS g, abs(d.x - m.med) AS x
      |         FROM daily d JOIN med m ON d.event_type = m.event_type),
      |""".stripMargin + anovaSqlTail

  // --------------------------------------------------------------- Q229
  /** FRIEDMAN test — the BLOCKED nonparametric design completing the
    * rank shelf (q196 two independent groups, q208 k independent
    * groups; Friedman is k TREATMENTS × n BLOCKS, here event types
    * ranked WITHIN each day, so day-level shocks that inflate q208's
    * pooled variance cancel entirely). Ranks are per-day 2-SCALED
    * MIDRANKS (the q196/q216 discipline — rank-window + tie-count
    * window, always integral), blocks are COMPLETE days only (a day
    * missing a type would bias its rank sums; the filter states the
    * design's requirement instead of silently degrading). The
    * tie-corrected statistic is the all-BIGINT rational
    *   Q = (k−1)·Σ_j (R2_j − n(k+1))² / (A2 − C2),
    * A2 = Σ mr2², C2 = n·k·(k+1)² (the 2-scaling cancels exactly —
    * every quantity is an integer, magnitudes grid-bounded: R2 ≤
    * 2nk). All-tied blocks make the denominator 0 (Q undefined) —
    * the integers pass through, χ²(k−1) scoring is the caller's
    * boundary. One day fold; ranks ride a day-keyed window over
    * k-row partitions. */
  val q229: Q = (s, d) => {
    val daily = t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
    val k0 = daily.select(col("event_type")).distinct()
      .agg(count(lit(1)).as("k"))
    val complete = daily
      .withColumn("types_in_day", count(lit(1))
        .over(Window.partitionBy(col("day"))))
      .crossJoin(broadcast(k0))
      .filter(col("types_in_day") === col("k"))
    val ranked = complete
      .withColumn("r", rank().over(
        Window.partitionBy(col("day")).orderBy(col("x"))).cast("long"))
      .withColumn("t", count(lit(1))
        .over(Window.partitionBy(col("day"), col("x"))).cast("long"))
      .withColumn("mr2", lit(2L) * col("r") + col("t") - 1)
    val byType = ranked.groupBy(col("event_type"))
      .agg(sum(col("mr2")).as("r2_j"), count(lit(1)).as("n_b"),
        sum(col("mr2") * col("mr2")).as("a2_j"), min(col("k")).as("k"))
    byType
      .agg(min(col("n_b")).as("n"), min(col("k")).as("k"),
        sum(col("a2_j")).as("a2"),
        sum((col("r2_j") - col("n_b") * (col("k") + 1))
          * (col("r2_j") - col("n_b") * (col("k") + 1))).as("dev2"))
      .select(col("n"), col("k"),
        ((col("k") - 1) * col("dev2")).as("fr_num"),
        (col("a2") - col("n") * col("k") * (col("k") + 1) * (col("k") + 1))
          .as("fr_den"))
  }

  val q229Sql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |       FROM events GROUP BY 1, 2),
      |k0 AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM daily),
      |complete AS (SELECT d.*, k0.k FROM daily d, k0
      |             QUALIFY count(*) OVER (PARTITION BY day) = k0.k),
      |ranked AS (SELECT event_type, k,
      |             2 * CAST(rank() OVER (PARTITION BY day ORDER BY x) AS BIGINT)
      |               + CAST(count(*) OVER (PARTITION BY day, x) AS BIGINT) - 1 AS mr2
      |           FROM complete),
      |bt AS (SELECT event_type, CAST(sum(mr2) AS BIGINT) AS r2_j,
      |         CAST(count(*) AS BIGINT) AS n_b,
      |         CAST(sum(mr2 * mr2) AS BIGINT) AS a2_j, min(k) AS k
      |       FROM ranked GROUP BY 1)
      |SELECT min(n_b) AS n, min(k) AS k,
      |       CAST((min(k) - 1) * sum((r2_j - n_b * (k + 1)) * (r2_j - n_b * (k + 1)))
      |            AS BIGINT) AS fr_num,
      |       CAST(sum(a2_j) - min(n_b) * min(k) * (min(k) + 1) * (min(k) + 1)
      |            AS BIGINT) AS fr_den
      |FROM bt""".stripMargin

  // --------------------------------------------------------------- Q231
  /** DURBIN–WATSON serial-correlation statistic per event type on the
    * daily-revenue series — the TIME-STRUCTURE test the location shelf
    * (q227/q208) deliberately ignores: DW = Σ(x_t − x_{t−1})² /
    * Σ(x_t − x̄)², ≈ 2(1−ρ₁), flagging momentum (DW → 0) or
    * oscillation (DW → 4) in a day series. Exact: the mean never
    * materializes — the denominator is the moment identity n·Q − S²
    * over exact cent BIGINTs, the numerator n·ΣΔ² (the lag window
    * rides the same type-keyed exchange as the day fold), both lifted
    * to DECIMAL(38,0)/HUGEINT before the multiply (n·Q passes 2⁶³
    * near ~4·10⁸ cents/day × 365 days — the q205 lift lesson), and
    * the report is the exact non-negative floor (num·10⁶ div den)
    * ppm (div ≡ // on non-negatives). A constant series (den = 0,
    * DW undefined) emits −1 by an exact-integer guard in BOTH
    * engines — never a null-vs-error divergence. */
  val q231: Q = (s, d) => {
    val dec = "decimal(38,0)"
    val wLag = Window.partitionBy(col("event_type")).orderBy(col("day"))
    t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .withColumn("dx", col("x") - lag(col("x"), 1).over(wLag))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("s"),
        sum(col("x").cast(dec) * col("x")).cast(dec).as("q"),
        sum(col("dx").cast(dec) * col("dx")).cast(dec).as("sd2"))
      .select(col("event_type"), col("n_days"),
        (col("n_days") * col("sd2")).cast(dec).as("dw_num"),
        (col("n_days") * col("q") - col("s").cast(dec) * col("s"))
          .cast(dec).as("dw_den"))
      .select(col("event_type"), col("n_days"),
        when(col("dw_den") === 0, lit(-1L))
          .otherwise(expr("(dw_num * 1000000) div dw_den")).as("dw_ppm"))
      .orderBy(col("event_type"))
  }

  val q231Sql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |       FROM events GROUP BY 1, 2),
      |l AS (SELECT event_type, x,
      |        x - lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS dx
      |      FROM daily),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |        CAST(sum(x) AS HUGEINT) AS s,
      |        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q,
      |        CAST(sum(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sd2
      |      FROM l GROUP BY 1),
      |f AS (SELECT event_type, n_days,
      |        n_days * sd2 AS dw_num, n_days * q - s * s AS dw_den
      |      FROM m)
      |SELECT event_type, n_days,
      |       CASE WHEN dw_den = 0 THEN CAST(-1 AS BIGINT)
      |            ELSE CAST(dw_num * 1000000 // dw_den AS BIGINT) END AS dw_ppm
      |FROM f ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q235
  /** POISSON-BOOTSTRAP confidence interval for mean daily revenue per
    * event type — the bootstrap THAT SCALES (independent per-row
    * Poisson(1) weights need no fixed-n resample, so replicas fold in
    * one pass — the published large-scale-bootstrap construction) made
    * fully DETERMINISTIC: the weight for (type, day, replica b) is
    * drawn from the md5-52-bit uniform (the q221/q46 hash-sampling
    * seam) against the FIXED Poisson(1) CDF thresholds ⌊2⁵²·F(k)⌋ —
    * nine exact integers stated identically in both engines, so every
    * replica is reproducible bit-for-bit. Each of B = 200 replicas is
    * the exact rational mean (Σw·x, Σw); ORDERING rationals without
    * floats rides the scaled-floor key ⌊num·10¹⁰/den⌋ — exact order
    * because distinct means differ by ≥ 1/(den·den') ≥ 1/(279)² while
    * the scaling resolves 10⁻¹⁰ (the q212 total-order discipline; den
    * ≤ 9·days) — with (num, den, b) as the deterministic tiebreak.
    * CI bounds = the discrete k-th order statistics (k = ⌊B_eff·25/
    * 1000⌋ ∨ 1 and its mirror — the q170 no-interpolation rule),
    * emitted as exact ⌊mean·10⁴⌋ fixed-point BIGINTs. Dataflow: one
    * corpus fold; replication happens on the GRID (days×B rows), so
    * the corpus never multiplies ×B. */
  val q235: Q = (s, d) => {
    val B = 200
    val thr = Seq(1656781714176973L, 3313563428353947L, 4141954285442434L,
      4418084571138597L, 4487117142562637L, 4500923656847445L,
      4503224742561580L, 4503553469092171L, 4503594559908495L)
    val daily = t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
    val reps = daily
      .withColumn("b", explode(sequence(lit(0), lit(B - 1))))
      .withColumn("h", conv(substring(md5(concat_ws("|",
        col("event_type"), col("day").cast("string"),
        col("b").cast("string"))), 1, 13), 16, 10).cast("long"))
      .withColumn("w",
        thr.map(t0 => when(col("h") >= t0, 1L).otherwise(0L)).reduce(_ + _))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("w") * col("x")).as("num"), sum(col("w")).as("den"))
      .filter(col("den") > 0)
      // the ordering key stays DECIMAL (subtract-mod floor — `div`
      // would narrow to LONG and wrap past ~9.2·10⁸ replica dollars);
      // the oracle keeps it HUGEINT: internal on both sides, never
      // output, so no 128-bit value ever reaches the hasher
      .withColumn("key",
        expr("(CAST(num AS DECIMAL(38,0)) * 10000000000" +
          " - (CAST(num AS DECIMAL(38,0)) * 10000000000) % den) / den"))
    val wOrd = Window.partitionBy(col("event_type"))
      .orderBy(col("key"), col("num"), col("den"), col("b"))
    reps
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("b_eff", count(lit(1))
        .over(Window.partitionBy(col("event_type"))))
      .withColumn("k_lo", greatest(lit(1L), expr("(b_eff * 25) div 1000")))
      .withColumn("mean_e4", expr("(CAST(num AS DECIMAL(38,0)) * 10000) div den"))
      .filter(col("rn") === col("k_lo")
        || col("rn") === col("b_eff") + 1 - col("k_lo"))
      .groupBy(col("event_type"))
      .agg(min(col("b_eff")).as("b_eff"),
        max(when(col("rn") === col("k_lo"), col("mean_e4"))).as("lo_mean_e4"),
        max(when(col("rn") === col("b_eff") + 1 - col("k_lo"),
          col("mean_e4"))).as("hi_mean_e4"))
      .orderBy(col("event_type"))
  }

  val q235Sql: String = {
    val thr = Seq(1656781714176973L, 3313563428353947L, 4141954285442434L,
      4418084571138597L, 4487117142562637L, 4500923656847445L,
      4503224742561580L, 4503553469092171L, 4503594559908495L)
    val wTerms = thr.map(t0 => s"CASE WHEN h >= $t0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
       |       FROM events GROUP BY 1, 2),
       |rep AS (SELECT event_type, x,
       |          ${sqlHex52("md5(event_type || '|' || CAST(day AS VARCHAR)" +
                  " || '|' || CAST(b AS VARCHAR))")} AS h, b
       |        FROM daily CROSS JOIN (SELECT unnest(generate_series(0, 199)) AS b)),
       |w AS (SELECT event_type, b, x, CAST($wTerms AS BIGINT) AS w FROM rep),
       |reps AS (SELECT event_type, b, CAST(sum(w * x) AS BIGINT) AS num,
       |           CAST(sum(w) AS BIGINT) AS den
       |         FROM w GROUP BY 1, 2 HAVING sum(w) > 0),
       |keyed AS (SELECT *,
       |            CAST(num AS HUGEINT) * 10000000000 // den AS key,
       |            CAST(CAST(num AS HUGEINT) * 10000 // den AS BIGINT) AS mean_e4
       |          FROM reps),
       |rk AS (SELECT *,
       |         CAST(row_number() OVER (PARTITION BY event_type
       |           ORDER BY key, num, den, b) AS BIGINT) AS rn,
       |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS b_eff,
       |         greatest(1, (CAST(count(*) OVER (PARTITION BY event_type)
       |           AS BIGINT) * 25) // 1000) AS k_lo
       |       FROM keyed)
       |SELECT event_type, min(b_eff) AS b_eff,
       |       max(CASE WHEN rn = k_lo THEN mean_e4 END) AS lo_mean_e4,
       |       max(CASE WHEN rn = b_eff + 1 - k_lo THEN mean_e4 END) AS hi_mean_e4
       |FROM rk WHERE rn = k_lo OR rn = b_eff + 1 - k_lo
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // --------------------------------------------------------------- Q237
  /** WALD–WOLFOWITZ runs test on daily revenue DIRECTION per event
    * type — is the up/down sequence random, or does it trend/oscillate
    * (q231's DW measures the magnitude autocorrelation; runs count the
    * SIGN pattern — the pair bracket momentum from both sides)? Zero
    * deltas are DROPPED (the classical convention, stated identically
    * in both engines — a tie is neither up nor down), runs count as
    * 1 + Σ[sign_t ≠ sign_{t−1}] over consecutive kept signs (one lag
    * window), and the null expectation E[R] = (n + 2·n₁·n₂)/n is
    * emitted as the exact BIGINT rational (e_num, e_den) — z-scoring
    * is the caller's float boundary. One corpus-sized day fold; both
    * windows ride one type-keyed exchange. */
  val q237: Q = (s, d) => {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val signs = t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .withColumn("dx", col("x") - lag(col("x"), 1).over(wOrd))
      .filter(col("dx").isNotNull && col("dx") =!= 0)
      .withColumn("sgn", when(col("dx") > 0, 1L).otherwise(-1L))
    val wKept = Window.partitionBy(col("event_type")).orderBy(col("day"))
    signs
      .withColumn("chg",
        when(lag(col("sgn"), 1).over(wKept).isNull, 1L)
          .when(lag(col("sgn"), 1).over(wKept) =!= col("sgn"), 1L)
          .otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_down"),
        sum(col("chg")).as("runs"))
      .select(col("event_type"), col("n_up"), col("n_down"), col("runs"),
        (col("n_up") + col("n_down") + col("n_up") * col("n_down") * 2)
          .as("e_num"),
        (col("n_up") + col("n_down")).as("e_den"))
      .orderBy(col("event_type"))
  }

  val q237Sql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |       FROM events GROUP BY 1, 2),
      |dx AS (SELECT event_type, day,
      |         x - lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS dx
      |       FROM daily),
      |sg AS (SELECT event_type, day,
      |         CASE WHEN dx > 0 THEN 1 ELSE -1 END AS sgn
      |       FROM dx WHERE dx IS NOT NULL AND dx <> 0),
      |ch AS (SELECT event_type, sgn,
      |         CASE WHEN lag(sgn, 1) OVER (PARTITION BY event_type ORDER BY day)
      |                   IS DISTINCT FROM sgn THEN 1 ELSE 0 END AS chg
      |       FROM sg),
      |agg AS (SELECT event_type,
      |          CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
      |          CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
      |          CAST(sum(chg) AS BIGINT) AS runs
      |        FROM ch GROUP BY 1)
      |SELECT event_type, n_up, n_down, runs,
      |       CAST(n_up + n_down + 2 * n_up * n_down AS BIGINT) AS e_num,
      |       CAST(n_up + n_down AS BIGINT) AS e_den
      |FROM agg ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q238
  /** KENDALL τ-b between daily revenue and daily event count per type
    * — the PAIRWISE-sign correlation completing the association shelf
    * (q164 Pearson on values, q216 Spearman on ranks; Kendall is the
    * direct concordance count, the most robust and the only one whose
    * tie correction is purely integer): over all day pairs i < j,
    * C − D = Σ sign((x_j−x_i)(k_j−k_i)), with tie terms n₁ = Σt(t−1)/2
    * over x-ties and n₂ over k-ties and n₀ = n(n−1)/2 — τ-b =
    * (C−D)/√((n₀−n₁)(n₀−n₂)) is the caller's float boundary; every
    * emitted quantity is an exact BIGINT. The pair set is days² —
    * grid-bounded at any corpus scale (the q212 rationale); ties fold
    * from value-grid counts, never pairwise. */
  val q238: Q = (s, d) => {
    val daily = graft.core.Pins.pin(
      t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x"),
          count(lit(1)).as("k")))
    val a = daily.select(col("event_type"), col("day").as("d1"),
      col("x").as("x1"), col("k").as("k1"))
    val b = daily.select(col("event_type"), col("day").as("d2"),
      col("x").as("x2"), col("k").as("k2"))
    val cd = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
      .select(col("event_type"),
        (signum((col("x2") - col("x1")).cast("double")) *
          signum((col("k2") - col("k1")).cast("double"))).cast("long").as("s"))
      .groupBy(col("event_type"))
      .agg(sum(col("s")).as("cd"), count(lit(1)).as("n0"))
    def tiePairs(c: String) = daily.groupBy(col("event_type"), col(c))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg((sum(col("t") * (col("t") - 1)) / 2).cast("long").as(s"ties_$c"))
    cd.join(tiePairs("x"), Seq("event_type"))
      .join(tiePairs("k"), Seq("event_type"))
      .select(col("event_type"), col("n0"), col("cd"),
        col("ties_x").as("n1"), col("ties_k").as("n2"))
      .orderBy(col("event_type"))
  }

  val q238Sql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x,
      |         CAST(count(*) AS BIGINT) AS k
      |       FROM events GROUP BY 1, 2),
      |cd AS (SELECT a.event_type,
      |         CAST(sum(sign(b.x - a.x) * sign(b.k - a.k)) AS BIGINT) AS cd,
      |         CAST(count(*) AS BIGINT) AS n0
      |       FROM daily a JOIN daily b
      |         ON a.event_type = b.event_type AND a.day < b.day
      |       GROUP BY 1),
      |tx AS (SELECT event_type, CAST(sum(t * (t - 1)) / 2 AS BIGINT) AS n1
      |       FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
      |             FROM daily GROUP BY 1, 2) GROUP BY 1),
      |tk AS (SELECT event_type, CAST(sum(t * (t - 1)) / 2 AS BIGINT) AS n2
      |       FROM (SELECT event_type, k, CAST(count(*) AS BIGINT) AS t
      |             FROM daily GROUP BY 1, 2) GROUP BY 1)
      |SELECT cd.event_type, n0, cd, n1, n2
      |FROM cd JOIN tx ON cd.event_type = tx.event_type
      |JOIN tk ON cd.event_type = tk.event_type
      |ORDER BY cd.event_type""".stripMargin

  // --------------------------------------------------------------- Q240
  /** CUPED pre-period adjustment audit — the experimentation-platform
    * workhorse (Controlled-experiment Using Pre-Experiment Data:
    * adjust each user's post-period metric by θ·X where X is their
    * pre-period value; variance shrinks by exactly ρ², often 30-50%
    * on revenue metrics, which is the whole reason A/B platforms ship
    * it): per-user pre (days < 16) and post revenue fold ONCE, the
    * moment algebra n·Σxy − ΣxΣy runs in DECIMAL(38,0)/HUGEINT
    * (n·Σx² passes 2⁶³ around 10⁵ users × $10⁴ — documented), and the
    * report is exact integers: θ = cov/varX as a sign + |cov|·10⁶ div
    * varX ppm (sign-safe — div on the non-negative |cov|), and the
    * variance-reduction fraction ρ² by the TWO-STEP floor
    * ((cov² div varX)·10⁶) div varY — Cauchy–Schwarz keeps every
    * quotient in range (cov²/varX ≤ varY), cov²·10⁶ never has to
    * exist, and the identical expression is stated in both engines
    * (compounded floors are within ~1 ppm of the true ratio —
    * documented, deterministic). Degenerate variances emit −1 by an
    * exact guard, never null-vs-error. */
  val q240: Q = (s, d) => {
    val dec = "decimal(38,0)"
    val split = lit("2024-01-16").cast("date")
    val cents = round(col("value") * 100).cast("long")
    val m = t(s, d, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(to_date(col("ts")) < split, cents).otherwise(0L)).as("x"),
        sum(when(to_date(col("ts")) >= split, cents).otherwise(0L)).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(dec) * col("x")).cast(dec).as("sxx"),
        sum(col("y").cast(dec) * col("y")).cast(dec).as("syy"),
        sum(col("x").cast(dec) * col("y")).cast(dec).as("sxy"))
      .select(col("n"),
        (col("sxy") * col("n") - col("sx").cast(dec) * col("sy"))
          .cast(dec).as("cov_n"),
        (col("sxx") * col("n") - col("sx").cast(dec) * col("sx"))
          .cast(dec).as("varx_n"),
        (col("syy") * col("n") - col("sy").cast(dec) * col("sy"))
          .cast(dec).as("vary_n"))
    m.select(col("n"),
      when(col("cov_n") < 0, -1L).when(col("cov_n") > 0, 1L)
        .otherwise(0L).as("theta_sgn"),
      when(col("varx_n") === 0, lit(-1L))
        .otherwise(expr("(abs(cov_n) * 1000000) div varx_n")).as("theta_abs_ppm"),
      when(col("varx_n") === 0 || col("vary_n") === 0, lit(-1L))
        .otherwise(expr(
          "(CAST((cov_n * cov_n) div varx_n AS DECIMAL(38,0)) * 1000000)" +
            " div vary_n")).as("rho2_ppm"))
  }

  val q240Sql: String =
    """WITH pu AS (SELECT user_id,
      |         CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
      |             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
      |         CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
      |             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
      |       FROM events GROUP BY 1),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |        CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
      |        CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      |      FROM pu),
      |c AS (SELECT n, sxy * n - sx * sy AS cov_n,
      |        sxx * n - sx * sx AS varx_n, syy * n - sy * sy AS vary_n
      |      FROM m)
      |SELECT n,
      |       CAST(CASE WHEN cov_n < 0 THEN -1 WHEN cov_n > 0 THEN 1 ELSE 0 END
      |            AS BIGINT) AS theta_sgn,
      |       CASE WHEN varx_n = 0 THEN CAST(-1 AS BIGINT)
      |            ELSE CAST(abs(cov_n) * 1000000 // varx_n AS BIGINT) END
      |         AS theta_abs_ppm,
      |       CASE WHEN varx_n = 0 OR vary_n = 0 THEN CAST(-1 AS BIGINT)
      |            ELSE CAST(((cov_n * cov_n) // varx_n) * 1000000 // vary_n
      |                      AS BIGINT) END AS rho2_ppm
      |FROM c""".stripMargin

  // --------------------------------------------------------------- Q242
  /** DETERMINISTIC A/B test with exact effect measures — the
    * experimentation shelf's entry point (q240 adjusts its variance,
    * q243 difference-in-differences its confounds): arm assignment is
    * the md5-52-bit PARITY of the user id (the q46/q221/q235 hash
    * seam — reproducible, uniform, and exactly replayable in the
    * oracle: no assignment table ever needs to exist), conversion =
    * the user had ≥ 1 purchase, and the report is exact integers: per-
    * arm (n, conversions, conv·10⁶ div n ppm) and the ODDS RATIO as
    * the exact rational pair (c_a·(n_b−c_b), c_b·(n_a−c_a)) — the χ²/
    * CI scoring is the caller's float boundary. One user fold; the
    * arm split is scan-local arithmetic on the fold. */
  val q242: Q = (s, d) => {
    val users = t(s, d, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .withColumn("arm", conv(substring(md5(concat(lit("ab|"),
        col("user_id").cast("string"))), 1, 13), 16, 10).cast("long") % 2)
    users.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c_b"))
      .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        // empty-arm guard (q231/q240 discipline): without it Spark's
        // div by n=0 yields NULL where DuckDB's // raises — a
        // null-vs-error engine divergence, not a value
        when(col("n_a") === 0, -1L)
          .otherwise(expr("c_a * 1000000 div n_a")).as("conv_a_ppm"),
        when(col("n_b") === 0, -1L)
          .otherwise(expr("c_b * 1000000 div n_b")).as("conv_b_ppm"),
        (col("c_a") * (col("n_b") - col("c_b"))).as("or_num"),
        (col("c_b") * (col("n_a") - col("c_a"))).as("or_den"))
  }

  val q242Sql: String =
    s"""WITH u AS (SELECT user_id,
       |         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS conv
       |       FROM events GROUP BY 1),
       |armd AS (SELECT conv,
       |           ${sqlHex52("md5('ab|' || CAST(user_id AS VARCHAR))")} % 2 AS arm
       |         FROM u),
       |agg AS (SELECT
       |          CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |          CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
       |          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |          CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
       |        FROM armd)
       |SELECT n_a, c_a, n_b, c_b,
       |       CASE WHEN n_a = 0 THEN CAST(-1 AS BIGINT)
       |            ELSE CAST(c_a * 1000000 // n_a AS BIGINT) END AS conv_a_ppm,
       |       CASE WHEN n_b = 0 THEN CAST(-1 AS BIGINT)
       |            ELSE CAST(c_b * 1000000 // n_b AS BIGINT) END AS conv_b_ppm,
       |       CAST(c_a * (n_b - c_b) AS BIGINT) AS or_num,
       |       CAST(c_b * (n_a - c_a) AS BIGINT) AS or_den
       |FROM agg""".stripMargin

  // --------------------------------------------------------------- Q243
  /** DIFFERENCE-IN-DIFFERENCES with exact rational means — the causal
    * workhorse when assignment isn't randomized-per-unit (parallel-
    * trends accounting: the treatment effect is the POST−PRE change
    * in B minus the same change in A, so any level difference and any
    * common trend cancel exactly): arms from the q242 hash parity,
    * periods split at Jan 16, per-user revenue folds once, and
    * DiD = ΔS_B/n_B − ΔS_A/n_A is emitted as the exact rational
    * (ΔS_B·n_A − ΔS_A·n_B, n_A·n_B) — BIGINT-safe to ~10⁹ users ×
    * ~10⁹ total cents deltas (documented; lift to DECIMAL past).
    * An empty arm yields did_den = 0, the rational's own undefined
    * marker — no division happens in-query, so the q242 null-vs-error
    * divergence class can't arise here.
    * Output also carries the four raw period sums, the full audit
    * trail of the cancellation. One user×period fold; arm/period
    * splits are scan-local. */
  val q243: Q = (s, d) => {
    val split = lit("2024-01-16").cast("date")
    val cents = round(col("value") * 100).cast("long")
    val pu = t(s, d, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(to_date(col("ts")) < split, cents).otherwise(0L)).as("pre"),
        sum(when(to_date(col("ts")) >= split, cents).otherwise(0L)).as("post"))
      .withColumn("arm", conv(substring(md5(concat(lit("ab|"),
        col("user_id").cast("string"))), 1, 13), 16, 10).cast("long") % 2)
    pu.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0, col("pre")).otherwise(0L)).as("pre_a"),
        sum(when(col("arm") === 0, col("post")).otherwise(0L)).as("post_a"),
        sum(when(col("arm") === 1, col("pre")).otherwise(0L)).as("pre_b"),
        sum(when(col("arm") === 1, col("post")).otherwise(0L)).as("post_b"))
      .select(col("n_a"), col("n_b"),
        col("pre_a"), col("post_a"), col("pre_b"), col("post_b"),
        ((col("post_b") - col("pre_b")) * col("n_a")
          - (col("post_a") - col("pre_a")) * col("n_b")).as("did_num"),
        (col("n_a") * col("n_b")).as("did_den"))
  }

  val q243Sql: String =
    s"""WITH pu AS (SELECT user_id,
       |         CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
       |             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
       |           AS BIGINT) AS pre,
       |         CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
       |             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
       |           AS BIGINT) AS post
       |       FROM events GROUP BY 1),
       |armd AS (SELECT pre, post,
       |           ${sqlHex52("md5('ab|' || CAST(user_id AS VARCHAR))")} % 2 AS arm
       |         FROM pu),
       |agg AS (SELECT
       |          CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |          CAST(sum(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS BIGINT) AS pre_a,
       |          CAST(sum(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT) AS post_a,
       |          CAST(sum(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS BIGINT) AS pre_b,
       |          CAST(sum(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT) AS post_b
       |        FROM armd)
       |SELECT n_a, n_b, pre_a, post_a, pre_b, post_b,
       |       CAST((post_b - pre_b) * n_a - (post_a - pre_a) * n_b AS BIGINT)
       |         AS did_num,
       |       CAST(n_a * n_b AS BIGINT) AS did_den
       |FROM agg""".stripMargin

  lazy val entries: Seq[(String, Q, String)] = Seq(
    ("q129_priority_sample", q129, q129Sql),
    ("q130_countmin_heavy", q130, q130Sql),
    ("q131_event_sequences", q131, q131Sql),
    ("q132_sliding_distinct", q132, q132Sql),
    ("q133_domain_divergence", q133, q133Sql),
    ("q134_dataset_card", q134, q134Sql),
    ("q135_decayed_engagement", q135, q135Sql),
    ("q136_containment", q136, q136Sql),
    ("q137_rfm_segments", q137, q137Sql),
    ("q138_burstiness", q138, q138Sql),
    ("q139_quota_holdout", q139, q139Sql),
    ("q140_threshold_sweep", q140, q140Sql),
    ("q141_ks_drift", q141, q141Sql),
    ("q142_stationary_markov", q142, q142Sql),
    ("q143_cohort_ltv", q143, q143Sql),
    ("q144_minhash_calibration", q144, q144Sql),
    ("q145_tail_percentiles", q145, q145Sql),
    ("q146_forward_fill", q146, q146Sql),
    ("q147_keep_best_dedup", q147, q147Sql),
    ("q148_association_rules", q148, q148Sql),
    ("q149_chi2_independence", q149, q149Sql),
    ("q150_bootstrap_ci", q150, q150Sql),
    ("q151_trimmed_mean", q151, q151Sql),
    ("q152_gini", q152, q152Sql),
    ("q208_kruskal_wallis", q208, q208Sql),
    ("q216_spearman", q216, q216Sql),
    ("q227_anova_f", q227, q227Sql),
    ("q228_brown_forsythe", q228, q228Sql),
    ("q229_friedman", q229, q229Sql),
    ("q231_durbin_watson", q231, q231Sql),
    ("q235_bootstrap_ci", q235, q235Sql),
    ("q237_runs_test", q237, q237Sql),
    ("q238_kendall_tau", q238, q238Sql),
    ("q240_cuped", q240, q240Sql),
    ("q242_ab_test", q242, q242Sql),
    ("q243_diff_in_diff", q243, q243Sql),
    ("q300_corr_matrix", q300, q300Sql),
    ("q301_mutual_information", q301, q301Sql))

  // --------------------------------------------------------------- Q300
  /** FEATURE CORRELATION MATRIX in ONE pass — the ANALYZE/feature-
    * selection primitive (q164 correlates ONE pair; a profiler wants
    * all of them, and the naive way runs k² scans): all five lineitem
    * numeric features' pairwise Pearson r from a SINGLE aggregation
    * computing every first/second moment side by side — n, 5 sums, 15
    * product sums (k literal ⇒ 21 codegen'd aggregate columns, ONE
    * HashAggregate, no explode) — then the 10 (i < j) pairs unpivot
    * from the one-row moment relation. Features quantize to integers
    * at the scan (qty, whole dollars, discount/tax centi, shipdate
    * epoch-day) so every moment is EXACT: per-row products stay under
    * 2⁶³ and the product moments SUM in DECIMAL(38,0) (matching the
    * oracle's HUGEINT — the largest second moment, whole-dollars² at
    * ~10¹⁰/row, would silently wrap a BIGINT sum past ~10⁹ rows under
    * ANSI-off; the decimal buffer makes the envelope exact, not
    * narrated) —
    * while the pairs-sized FINAL arithmetic (n·Σxy − Σx·Σy ≈ 4·10²⁰
    * at sf0.1) rides DECIMAL(38,0) where it costs nothing (the q272
    * discipline, kept out of the per-row path). r =
    * round(cov/√(varx·vary), 4) is the single IEEE expression at the
    * declared float boundary (identical integers in, identical
    * double out — the q216/q83 discipline), zero-variance guarded to
    * 0.0 (q138), with cov's exact SIGN beside it as the integer leg.
    *
    * Scale shape: one scan, one partial-aggregable fold to ONE row,
    * pairs-sized everything after — the k×k matrix costs exactly one
    * pass at any corpus size, and k is the literal dial. */
  val q300: Q = (s, d) => {
    val feats = Seq("qty", "dollars", "disc_centi", "tax_centi", "ship_day")
    val dec = "DECIMAL(38,0)"
    // (r15 measured-negative: spreading the single-split lineitem scan
    // before this fold — the q296 pattern — A/B'd 0.75 → 0.89 best-of-7:
    // the 20 decimal sums are codegen'd and cheap per row, so the
    // round-robin exchange of 600k raw rows costs more than the serial
    // partial agg it parallelizes. Single-scan form stays.)
    val base = t(s, d, "lineitem").select(
      expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 100")
        .as("dollars"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc_centi"),
      expr("CAST(round(l_tax * 100) AS BIGINT)").as("tax_centi"),
      expr("unix_micros(l_shipdate) div 86400000000").as("ship_day"))
    val moments = base.agg(
      count(lit(1)).as("n"),
      (feats.map(f => sum(col(f)).as(s"s_$f")) ++
        (for (i <- feats.indices; j <- i until feats.length) yield {
          val (a, b) = (feats(i), feats(j))
          // per-row product is exact BIGINT; the SUM buffer is
          // DECIMAL(38,0) like the oracle's HUGEINT, so past the
          // ~10⁹-row BIGINT envelope both engines stay exact instead
          // of Spark wrapping silently under ANSI-off
          sum((col(a) * col(b)).cast(dec)).as(s"q_${a}_${b}")
        })): _*)
    def D(c: String) = s"CAST($c AS $dec)"
    val pairRows = for (i <- feats.indices; j <- (i + 1) until feats.length)
      yield {
        val (a, b) = (feats(i), feats(j))
        s"""named_struct('f1', '$a', 'f2', '$b',
            'cov', ${D("n")} * q_${a}_${b} - ${D(s"s_$a")} * s_$b,
            'varx', ${D("n")} * q_${a}_${a} - ${D(s"s_$a")} * s_$a,
            'vary', ${D("n")} * q_${b}_${b} - ${D(s"s_$b")} * s_$b)"""
      }
    moments
      .select(col("n"),
        explode(expr(pairRows.mkString("array(", ", ", ")"))).as("p"))
      .select(col("p.f1").as("f1"), col("p.f2").as("f2"), col("n"),
        when(col("p.cov") > 0, 1L).when(col("p.cov") < 0, -1L)
          .otherwise(0L).as("cov_sign"),
        when(col("p.varx") === 0 || col("p.vary") === 0, lit(0.0))
          .otherwise(round(col("p.cov").cast("double") /
            sqrt(col("p.varx").cast("double") * col("p.vary").cast("double")),
            4)).as("r"))
      .orderBy(col("f1"), col("f2"))
  }

  val q300Sql: String = {
    val feats = Seq("qty", "dollars", "disc_centi", "tax_centi", "ship_day")
    val moments =
      (feats.map(f => s"CAST(sum(CAST($f AS HUGEINT)) AS HUGEINT) AS s_$f") ++
        (for (i <- feats.indices; j <- i until feats.length) yield {
          val (a, b) = (feats(i), feats(j))
          s"CAST(sum(CAST($a AS HUGEINT) * $b) AS HUGEINT) AS q_${a}_${b}"
        })).mkString(",\n         ")
    val legs = (for (i <- feats.indices; j <- (i + 1) until feats.length)
      yield {
        val (a, b) = (feats(i), feats(j))
        s"""SELECT '$a' AS f1, '$b' AS f2, CAST(n AS BIGINT) AS n,
           |  CAST(CASE WHEN n * q_${a}_${b} - s_$a * s_$b > 0 THEN 1
           |            WHEN n * q_${a}_${b} - s_$a * s_$b < 0 THEN -1
           |            ELSE 0 END AS BIGINT) AS cov_sign,
           |  CASE WHEN n * q_${a}_${a} - s_$a * s_$a = 0
           |         OR n * q_${b}_${b} - s_$b * s_$b = 0 THEN 0.0
           |       ELSE round(CAST(n * q_${a}_${b} - s_$a * s_$b AS DOUBLE)
           |         / sqrt(CAST(n * q_${a}_${a} - s_$a * s_$a AS DOUBLE)
           |              * CAST(n * q_${b}_${b} - s_$b * s_$b AS DOUBLE)), 4)
           |  END AS r
           |FROM m""".stripMargin
      }).mkString("\nUNION ALL\n")
    s"""WITH b AS (SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
       |         CAST(round(l_extendedprice * 100) AS BIGINT) // 100
       |           AS dollars,
       |         CAST(round(l_discount * 100) AS BIGINT) AS disc_centi,
       |         CAST(round(l_tax * 100) AS BIGINT) AS tax_centi,
       |         epoch_us(l_shipdate) // 86400000000 AS ship_day
       |       FROM lineitem),
       |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
       |         $moments
       |      FROM b)
       |SELECT * FROM (
       |$legs
       |) ORDER BY f1, f2""".stripMargin
  }

  // --------------------------------------------------------------- Q301
  /** MUTUAL INFORMATION between two categorical columns — the
    * information-theoretic association number beside q149's χ²
    * independence TEST (χ² says "dependent or not"; MI says HOW MANY
    * BITS one column tells you about the other — the feature-selection
    * ranking criterion): X = event_type, Y = hour-of-day (UTC), from
    * exact joint counts. Float discipline for a SUM of log terms (the
    * cross-engine trap q107/q63 avoid by never summing floats): each
    * cell's PMI mass term round(10⁴·(n_xy/N)·ln(n_xy·N/(n_x·n_y))/ln 2)
    * is ONE IEEE expression over exact integers rounded to an
    * INTEGER — spelled ln(x)/ln(2) with IDENTICAL text in both
    * engines (Spark LOG2 is StrictMath.log/log 2 while DuckDB log2 is
    * libm; a last-ulp gap could flip a .5-boundary round, the q133
    * same-ln-both-sides precedent) — and the total MI is the BIGINT
    * SUM of those integers —
    * order-invariant by construction, ≤ 0.5·10⁻⁴ bits/cell rounding
    * error (120 cells ⇒ ≤ 0.006 bits, stated beside the value).
    * Entropies H(X), H(Y) fold the same way from the marginals, and
    * the normalized-MI ratio 2·MI/(H(X)+H(Y)) comes out as pure
    * integer ppm of the e4 sums. One row: N, cells, mi_e4 (bits ×
    * 10⁴), hx_e4, hy_e4, nmi_ppm.
    *
    * Scale shape: ONE partial-aggregable (type, hour) fold — 120
    * cells at any corpus size; marginals are window sums over the
    * grid; everything after is grid-sized. */
  val q301: Q = (s, d) => {
    val grid = t(s, d, "events")
      .select(col("event_type").as("x"),
        expr("CAST(hour(ts) AS BIGINT)").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("nxy"))
    val wx = Window.partitionBy(col("x"))
    val wy = Window.partitionBy(col("y"))
    val wAll = Window.partitionBy()
    grid
      .withColumn("nx", sum(col("nxy")).over(wx))
      .withColumn("ny", sum(col("nxy")).over(wy))
      .withColumn("nn", sum(col("nxy")).over(wAll))
      .select(
        col("nn"),
        expr("""CAST(round(10000 * (CAST(nxy AS DOUBLE) / nn)
                * (ln(CAST(nxy AS DOUBLE) * nn
                       / (CAST(nx AS DOUBLE) * ny)) / ln(CAST(2 AS DOUBLE)))) AS BIGINT)""")
          .as("mi_term"),
        // entropy terms attribute once per marginal: the x-term rides
        // the cell with y = min over the x-group (and vice versa), so
        // each marginal contributes exactly once to the fold
        expr("""CASE WHEN y = min(y) OVER (PARTITION BY x)
                THEN CAST(round(-10000 * (CAST(nx AS DOUBLE) / nn)
                     * (ln(CAST(nx AS DOUBLE) / nn) / ln(CAST(2 AS DOUBLE)))) AS BIGINT)
                ELSE 0 END""").as("hx_term"),
        expr("""CASE WHEN x = min(x) OVER (PARTITION BY y)
                THEN CAST(round(-10000 * (CAST(ny AS DOUBLE) / nn)
                     * (ln(CAST(ny AS DOUBLE) / nn) / ln(CAST(2 AS DOUBLE)))) AS BIGINT)
                ELSE 0 END""").as("hy_term"))
      .groupBy()
      .agg(min(col("nn")).as("n"), count(lit(1)).as("cells"),
        sum(col("mi_term")).as("mi_e4"),
        sum(col("hx_term")).as("hx_e4"), sum(col("hy_term")).as("hy_e4"))
      .select(col("n"), col("cells"), col("mi_e4"), col("hx_e4"),
        col("hy_e4"),
        expr("2 * mi_e4 * 1000000 div (hx_e4 + hy_e4)").as("nmi_ppm"))
  }

  val q301Sql: String =
    """WITH g AS (SELECT event_type AS x,
      |         CAST(hour(ts) AS BIGINT) AS y,
      |         CAST(count(*) AS BIGINT) AS nxy
      |       FROM events GROUP BY 1, 2),
      |e AS (SELECT x, y, nxy,
      |        CAST(sum(nxy) OVER (PARTITION BY x) AS BIGINT) AS nx,
      |        CAST(sum(nxy) OVER (PARTITION BY y) AS BIGINT) AS ny,
      |        CAST(sum(nxy) OVER () AS BIGINT) AS nn
      |      FROM g),
      |terms AS (SELECT nn,
      |        CAST(round(10000 * (CAST(nxy AS DOUBLE) / nn)
      |             * (ln(CAST(nxy AS DOUBLE) * nn
      |                    / (CAST(nx AS DOUBLE) * ny)) / ln(CAST(2 AS DOUBLE)))) AS BIGINT)
      |          AS mi_term,
      |        CASE WHEN y = min(y) OVER (PARTITION BY x)
      |          THEN CAST(round(-10000 * (CAST(nx AS DOUBLE) / nn)
      |               * (ln(CAST(nx AS DOUBLE) / nn) / ln(CAST(2 AS DOUBLE)))) AS BIGINT)
      |          ELSE 0 END AS hx_term,
      |        CASE WHEN x = min(x) OVER (PARTITION BY y)
      |          THEN CAST(round(-10000 * (CAST(ny AS DOUBLE) / nn)
      |               * (ln(CAST(ny AS DOUBLE) / nn) / ln(CAST(2 AS DOUBLE)))) AS BIGINT)
      |          ELSE 0 END AS hy_term
      |      FROM e)
      |SELECT CAST(min(nn) AS BIGINT) AS n,
      |       CAST(count(*) AS BIGINT) AS cells,
      |       CAST(sum(mi_term) AS BIGINT) AS mi_e4,
      |       CAST(sum(hx_term) AS BIGINT) AS hx_e4,
      |       CAST(sum(hy_term) AS BIGINT) AS hy_e4,
      |       2 * CAST(sum(mi_term) AS BIGINT) * 1000000
      |         // (CAST(sum(hx_term) AS BIGINT)
      |            + CAST(sum(hy_term) AS BIGINT)) AS nmi_ppm
      |FROM terms""".stripMargin
}
