package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{LocalTier, Tables}

/** Round-7 mining/curation queries (q159–q167, minus the relational
  * q162 which lives with the TPC-H family): the EXACT set-similarity
  * join (prefix filtering — the no-recall-loss counterpart to LSH),
  * trend estimation and correlation in exact integer dataflow, the
  * warehouse ANALYZE-style column profile, temperature-based
  * multilingual mixture sampling (the α-weighted resampling every
  * multilingual LLM corpus ships through), the SCD-2 versioned
  * dimension build, the snapshot reconciliation diff, and the
  * sort-free equi-depth histogram.
  *
  * House rules as everywhere: codegen'd built-ins only, a DuckDB oracle
  * per query, integer (or decimal-exact) dataflow wherever a float sum
  * would be order-sensitive, round(…, 4) only at the output boundary,
  * total ORDER BY.
  */
object MiningQueries {
  import CoreQueries.Q

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** q189's [[LocalTier]] default: 200,000 days ≈ 547 years. */
  private val CusumDayCap = 200000

  /** DuckDB rendering of "first 13 md5 hex digits as an exact value"
    * (the StatQueries.sqlHex52 construction): every digit term and
    * partial sum is an integer < 2⁵³, so the double arithmetic is
    * exact and the final CAST to BIGINT is the identical 52-bit value
    * Spark's `conv(substring(h,1,13),16,10)` produces. */
  private def sqlHex52(expr: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 13), i ->
       |    CAST(strpos('0123456789abcdef', substr($expr, i, 1)) - 1 AS DOUBLE)
       |    * power(16.0, 13 - i))) AS BIGINT)""".stripMargin

  // --------------------------------------------------------------- Q159
  /** EXACT near-dup pairs at shingle-Jaccard ≥ 0.5 via prefix
    * filtering (`operators/PrefixFilterJoin` — AllPairs/PPJoin).
    * q19/q21 bracket this operator from both sides: q19's LSH is
    * approximate (recall < 1 by design), q21's tiled all-pairs is
    * exact but inherently quadratic. Prefix filtering is the exact
    * join that SCALES: the candidate self-join runs only on each
    * set's rarest (1−τ)·n + 1 tokens under the global ascending-df
    * order, so common shingles never generate a candidate and bucket
    * width tracks token RARITY, not corpus size. The set elements are
    * distinct word 5-gram shingles (q59/q61's unit). The gram size IS
    * the selectivity dial, measured at sf0.1: word SETS collapse onto
    * the shared vocabulary (~3/4 of all pairs rank "similar"),
    * 3-grams inherit enough template structure that 310k candidates
    * fund the same 256 final pairs, and 5-grams are perfectly
    * selective here — 256 candidates, 256 pairs (9.3 s → sub-second).
    * All threshold tests are integer cross-multiplications
    * (tDen·inter ≥ tNum·union); the oracle replays df-ranking, prefix
    * slicing and the intersection verify list-for-list. */
  val q159: Q = (s, d) => {
    // (r14 measured-negative: the spreadSmallInput round-robin before
    // the shingle kernel A/B'd 1.27 → 1.57 s — the operator pins
    // internally and the multi-partition checkpoint floods downstream
    // stages with tiny tasks, the q121 lesson. Left unspread.)
    val docs = t(s, d, "documents")
      .select(col("doc_id"),
        graft.functions.TextOps.shinglesNative(col("text"), 5).as("toks"))
    graft.operators.PrefixFilterJoin.join(docs, "doc_id", "toks", 1, 2)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q159Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |toks AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |           generate_series(1, len(w) - 4),
      |           i -> array_to_string(w[i:i+4], ' ')))) AS tok
      |         FROM w),
      |df AS (SELECT doc_id, tok, count(*) OVER (PARTITION BY tok) AS df FROM toks),
      |arr AS (SELECT doc_id, array_agg(tok ORDER BY df, tok) AS a,
      |               CAST(count(*) AS BIGINT) AS n
      |        FROM df GROUP BY doc_id),
      |pref AS (SELECT doc_id, n, unnest(a[1 : CAST(n - ((n + 1) // 2) + 1 AS INTEGER)]) AS ptok
      |         FROM arr),
      |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      |         FROM pref x JOIN pref y ON x.ptok = y.ptok AND x.doc_id < y.doc_id
      |         WHERE greatest(x.n, y.n) <= 2 * least(x.n, y.n)),
      |v AS (SELECT a_id, b_id,
      |        CAST(len(list_intersect(xa.a, ya.a)) AS BIGINT) AS inter,
      |        xa.n AS n_a, ya.n AS n_b
      |      FROM cand
      |      JOIN arr xa ON xa.doc_id = a_id
      |      JOIN arr ya ON ya.doc_id = b_id)
      |SELECT a_id, b_id, inter, n_a, n_b,
      |       round(CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE), 4) AS jac
      |FROM v WHERE 2 * inter >= 1 * (n_a + n_b - inter)
      |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------------- Q160
  /** Per-type activity TREND: ordinary-least-squares slope of daily
    * event counts over the day index — "is this event type growing?",
    * the monitoring question behind every ingestion dashboard. The
    * corpus-sized work is ONE (event_type, day) groupBy; the OLS
    * moments (n, Σx, Σy, Σxy, Σx²) then fold the days-sized relation
    * with every term an exact integer (x = days since the global min
    * day, y = a count), so `slope_num = n·Σxy − Σx·Σy` and
    * `slope_den = n·Σx² − (Σx)²` are engine-identical BIGINTs and the
    * single float divide happens once at the output boundary. Bound:
    * n·Σxy < 2⁶³ needs Σxy < 2⁶³/days — at 100 TB with y ~ 10¹²/day
    * and a 10-year x range the products stay < 10¹⁹ only if y is
    * pre-scaled; the moments themselves are partial-aggregable so the
    * fix is a per-day count in millions (documented dial). */
  val q160: Q = (s, d) => {
    val daily = t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val base = daily.agg(min(col("day")).as("d0"))
    daily.crossJoin(broadcast(base))
      .select(col("event_type"), datediff(col("day"), col("d0")).cast("long").as("x"),
        col("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        (col("n_days") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .withColumn("slope",
        round(col("slope_num").cast("double") / col("slope_den").cast("double"), 4))
      .orderBy(col("event_type"))
  }

  val q160Sql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |                 CAST(count(*) AS BIGINT) AS y
      |               FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS d0 FROM daily),
      |xy AS (SELECT event_type, CAST(date_diff('day', d0, day) AS BIGINT) AS x, y
      |       FROM daily CROSS JOIN b),
      |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |      FROM xy GROUP BY 1)
      |SELECT event_type, n_days,
      |       n_days * sxy - sx * sy AS slope_num,
      |       n_days * sxx - sx * sx AS slope_den,
      |       round(CAST(n_days * sxy - sx * sy AS DOUBLE)
      |             / CAST(n_days * sxx - sx * sx AS DOUBLE), 4) AS slope
      |FROM s ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q161
  /** ANALYZE-style COLUMN PROFILE of the events table in one wide row:
    * row count, exact distinct users/types, null tally, exact integer
    * value bounds (cents) and a 10-bin equi-width histogram — the
    * stats relation a cost-based optimizer or a dataset card consumes.
    * Two passes by construction: the bounds pass (at deployment this
    * is FREE — parquet footers already carry min/max, and the bounds
    * broadcast regardless), then one partial-aggregable profile scan.
    * Bin edges are exact integers — `bin = min(9, 10·(c−lo) div
    * span)` — because a float edge computed independently by two
    * engines can land a boundary value in different bins (the q86
    * breakpoint discipline). The two COUNT DISTINCTs expand the scan
    * 3-way in one Exchange; everything is mergeable, so the profile
    * maintains incrementally under union at scale. */
  val q161: Q = (s, d) => {
    val c = t(s, d, "events").select(col("user_id"), col("event_type"), col("props"),
      round(col("value") * 100).cast("long").as("cents"))
    val b = c.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
    val binned = c.crossJoin(broadcast(b))
      .withColumn("bin",
        least(lit(9L), (lit(10L) * (col("cents") - col("lo")))
          .divide(greatest(lit(1L), col("hi") - col("lo"))).cast("long")))
    val hist = (0 to 9).map(i =>
      sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"h$i"))
    binned.groupBy()
      .agg(count(lit(1)).as("n_rows"),
        Seq(countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("event_type")).as("n_types"),
          sum(when(col("props").isNull, 1L).otherwise(0L)).as("null_props"),
          min(col("cents")).as("lo_cents"),
          max(col("cents")).as("hi_cents")) ++ hist: _*)
  }

  val q161Sql: String = {
    val hist = (0 to 9).map(i =>
      s"CAST(sum(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS BIGINT) AS h$i").mkString(",\n  ")
    s"""WITH c AS (SELECT user_id, event_type, props,
       |             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
       |b AS (SELECT min(cents) AS lo, max(cents) AS hi FROM c),
       |binned AS (SELECT c.*, least(9, (10 * (cents - lo)) // greatest(1, hi - lo)) AS bin
       |           FROM c CROSS JOIN b)
       |SELECT count(*) AS n_rows,
       |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
       |  min(cents) AS lo_cents, max(cents) AS hi_cents,
       |  $hist
       |FROM binned""".stripMargin
  }

  // --------------------------------------------------------------- Q163
  /** TEMPERATURE-based mixture sampling (α = 0.5): the multilingual
    * resampling rule (w_lang ∝ n_lang^α) that upweights low-resource
    * languages relative to proportional sampling — the knob every
    * multilingual corpus recipe documents. Everything is exact:
    * w = ⌊√(n·10⁶)⌋ is an exact integer in BOTH engines because IEEE
    * sqrt is correctly rounded and for arguments < 2⁵² a non-square's
    * true root sits ≫ ½ulp from any integer (bound: n < 4.5·10⁹ per
    * language; beyond that, pre-scale n — the dial is documented);
    * the per-doc membership test is the q67 hash frontier with the
    * rate comparison cross-multiplied into DECIMAL(38,0)/HUGEINT —
    * h·W·n < B·w·2⁵² — so no float rate ever exists. Join shape: the
    * 5-row weight model broadcasts; the corpus scan is join-free
    * beyond it; the hash frontier NESTS (a larger budget strictly
    * grows the sample — q67's property, inherited). */
  val q163: Q = (s, d) => {
    val docs = t(s, d, "documents").select(col("lang"), col("doc_id"))
    val cnt = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val w = cnt.withColumn("w",
      floor(sqrt(col("n_docs").cast("double") * lit(1000000.0))).cast("long"))
    val tot = w.agg(sum(col("w")).as("wsum"), sum(col("n_docs")).as("n_all"))
    val model = broadcast(w.crossJoin(broadcast(tot)))
    val dec = "DECIMAL(38,0)"
    docs.join(model, "lang")
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10).cast("long"))
      .withColumn("sampled",
        expr(s"CAST(h AS $dec) * CAST(wsum AS $dec) * CAST(n_docs AS $dec) < " +
          s"CAST(n_all div 4 AS $dec) * CAST(w AS $dec) * CAST(4503599627370496 AS $dec)"))
      .groupBy(col("lang"), col("n_docs"), col("w"), col("wsum"))
      .agg(sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
      .select(col("lang"), col("n_docs"),
        expr("(1000000 * w) div wsum").as("w_ppm"), col("n_sampled"))
      .orderBy(col("lang"))
  }

  val q163Sql: String =
    s"""WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
       |             FROM documents GROUP BY 1),
       |w AS (SELECT lang, n_docs,
       |        CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1000000.0)) AS BIGINT) AS w
       |      FROM cnt),
       |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wsum,
       |               CAST(sum(n_docs) AS BIGINT) AS n_all FROM w),
       |j AS (SELECT d.lang, w.n_docs, w.w, t.wsum, t.n_all,
       |        ${sqlHex52("md5(CAST(d.doc_id AS VARCHAR))")} AS h
       |      FROM documents d JOIN w ON d.lang = w.lang CROSS JOIN tot t)
       |SELECT lang, n_docs, (1000000 * w) // wsum AS w_ppm,
       |  CAST(sum(CASE WHEN CAST(h AS HUGEINT) * wsum * n_docs
       |                     < CAST(n_all // 4 AS HUGEINT) * w * 4503599627370496
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
       |FROM j GROUP BY lang, n_docs, w, wsum ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- Q164
  /** Per-type value↔hour CORRELATION in exact integer dataflow: does
    * event value depend on time of day? Pearson r is irrational, so
    * the portable statistic is r² in ppm — `r2_ppm = 10⁶·cov² div
    * (varx·vary)` with `cov = n·Σxy − Σx·Σy` etc. all exact BIGINTs
    * and the squares/products lifted into DECIMAL(38,0)/HUGEINT
    * (cov² alone can pass 2⁶³; 10⁶·cov² < 10³⁸ bounds the method at
    * ~10⁷ rows × cent values per group — past that, pre-aggregate y
    * into larger units, same dial as q160). The sign travels
    * separately as an exact −1/0/+1. One partial-aggregable moments
    * scan; everything after is group-count-sized. Zero-variance
    * groups short-circuit to r2 = 0 BEFORE the divide (ANSI mode
    * would throw on /0; the CASE is the cross-engine guard). */
  val q164: Q = (s, d) => {
    val dec = "DECIMAL(38,0)"
    t(s, d, "events")
      .select(col("event_type"), hour(col("ts")).cast("long").as("x"),
        round(col("value") * 100).cast("long").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("varx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("vary"))
      .select(col("event_type"), col("n"),
        when(col("cov") > 0, 1L).when(col("cov") < 0, -1L).otherwise(0L).as("r_sign"),
        when(col("varx") === 0 || col("vary") === 0, 0L).otherwise(
          expr(s"(CAST(1000000 AS $dec) * CAST(cov AS $dec) * CAST(cov AS $dec)) div " +
            s"(CAST(varx AS $dec) * CAST(vary AS $dec))")).as("r2_ppm"))
      .orderBy(col("event_type"))
  }

  val q164Sql: String =
    """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |             CAST(sum(x * y) AS BIGINT) AS sxy,
      |             CAST(sum(x * x) AS BIGINT) AS sxx,
      |             CAST(sum(y * y) AS BIGINT) AS syy
      |           FROM (SELECT event_type,
      |                   CAST(hour(ts) AS BIGINT) AS x,
      |                   CAST(round(value * 100) AS BIGINT) AS y
      |                 FROM events)
      |           GROUP BY 1),
      |c AS (SELECT event_type, n,
      |        n * sxy - sx * sy AS cov,
      |        n * sxx - sx * sx AS varx,
      |        n * syy - sy * sy AS vary
      |      FROM m)
      |SELECT event_type, n,
      |  CAST(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END AS BIGINT) AS r_sign,
      |  CAST(CASE WHEN varx = 0 OR vary = 0 THEN 0
      |            ELSE (1000000 * CAST(cov AS HUGEINT) * cov)
      |                 // (CAST(varx AS HUGEINT) * vary) END AS BIGINT) AS r2_ppm
      |FROM c ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q165
  /** SCD-TYPE-2 history build — q77's upsert keeps only the CURRENT row
    * (SCD-1); this derives the full VERSIONED dimension: base snapshot
    * (customer balances) + an update stream (each customer's orders,
    * latest-per-day by the max_by(orderkey) determinism rule) become
    * contiguous validity intervals — version n closes exactly where
    * version n+1 opens (lead window), the live row carries NULL
    * valid_to. ONE shuffle on the dimension key does everything: the
    * union of base and updates rides a single (custkey)-partitioned
    * window for both the version numbers and the interval closes. At
    * 100 TB the update stream is the delta batch and the base is the
    * stored dimension — the same plan, with the window per-key state
    * bounded by versions-per-key, not table size. */
  /** q165's version build, shared with q182's point-in-time consumer:
    * ONE definition of the dimension history, two readers. */
  private def scd2Versions(s: SparkSession, d: String) = {
    val base = t(s, d, "customer").select(col("c_custkey").as("custkey"),
      lit(0L).as("valid_from_us"),
      round(col("c_acctbal") * 100).cast("long").as("value_cents"))
    val upd = t(s, d, "orders")
      .groupBy(col("o_custkey").as("custkey"),
        unix_micros(col("o_orderdate")).as("valid_from_us"))
      .agg(expr("max_by(o_totalprice, o_orderkey)").as("p"))
      .select(col("custkey"), col("valid_from_us"),
        round(col("p") * 100).cast("long").as("value_cents"))
    val w = Window.partitionBy(col("custkey")).orderBy(col("valid_from_us"))
    base.unionByName(upd)
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .select(col("custkey"), col("version"), col("value_cents"),
        col("valid_from_us"), col("valid_to_us"))
  }

  /** The same history as DuckDB CTEs (the prelude both oracles share). */
  private val scd2SqlPrelude: String =
    """base AS (SELECT c_custkey AS custkey, CAST(0 AS BIGINT) AS valid_from_us,
      |           CAST(round(c_acctbal * 100) AS BIGINT) AS value_cents
      |         FROM customer),
      |upd AS (SELECT o_custkey AS custkey, epoch_us(o_orderdate) AS valid_from_us,
      |          CAST(round(max_by(o_totalprice, o_orderkey) * 100) AS BIGINT) AS value_cents
      |        FROM orders GROUP BY 1, 2),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
      |vers AS (SELECT custkey,
      |    CAST(row_number() OVER (PARTITION BY custkey ORDER BY valid_from_us)
      |         AS BIGINT) AS version,
      |    value_cents, valid_from_us,
      |    lead(valid_from_us, 1) OVER (PARTITION BY custkey ORDER BY valid_from_us)
      |      AS valid_to_us
      |  FROM u)""".stripMargin

  val q165: Q = (s, d) =>
    scd2Versions(s, d).orderBy(col("custkey"), col("version"))

  val q165Sql: String =
    s"""WITH $scd2SqlPrelude
       |SELECT custkey, version, value_cents, valid_from_us, valid_to_us
       |FROM vers ORDER BY custkey, version""".stripMargin

  // --------------------------------------------------------------- Q166
  /** SNAPSHOT DIFF — the reconciliation audit between two versions of
    * a derived table (here: per-customer order profiles over two
    * overlapping date windows, so added / removed / changed / unchanged
    * all occur). The base fact scan is PINNED and both versions fold
    * from it (one scan, two slim aggregates); the diff is ONE full
    * outer join on the key and the report is a 4-row change_type
    * summary with exact integer row-count and value-delta mass. This
    * is the nightly "did the pipeline change what it shouldn't have"
    * gate: at scale both versions are stored snapshots, the join is
    * the only corpus-key shuffle, and every aggregate is mergeable. */
  val q166: Q = (s, d) => {
    val li = graft.core.Pins.pin(
      t(s, d, "orders").select(col("o_custkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long").as("cents")))
    def snap(lo: String, hi: String) = li
      .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
        col("o_orderdate") < lit(hi).cast("timestamp"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total"))
    val a = snap("1992-01-01", "1996-01-01")
      .select(col("o_custkey").as("k"), col("n").as("n_a"), col("total").as("t_a"))
    val b = snap("1995-01-01", "1999-01-01")
      .select(col("o_custkey").as("k"), col("n").as("n_b"), col("total").as("t_b"))
    a.join(b, Seq("k"), "full_outer")
      .withColumn("change_type",
        when(col("n_a").isNull, "added")
          .when(col("n_b").isNull, "removed")
          .when(col("n_a") === col("n_b") && col("t_a") === col("t_b"), "unchanged")
          .otherwise("changed"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_keys"),
        sum(coalesce(col("t_b"), lit(0L)) - coalesce(col("t_a"), lit(0L)))
          .as("delta_cents"))
      .orderBy(col("change_type"))
  }

  val q166Sql: String =
    """WITH li AS (SELECT o_custkey, o_orderdate,
      |              CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |a AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_a,
      |        CAST(sum(cents) AS BIGINT) AS t_a
      |      FROM li WHERE o_orderdate >= TIMESTAMP '1992-01-01'
      |        AND o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1),
      |b AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_b,
      |        CAST(sum(cents) AS BIGINT) AS t_b
      |      FROM li WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |        AND o_orderdate < TIMESTAMP '1999-01-01' GROUP BY 1),
      |j AS (SELECT coalesce(a.k, b.k) AS k, n_a, t_a, n_b, t_b
      |      FROM a FULL OUTER JOIN b ON a.k = b.k)
      |SELECT CASE WHEN n_a IS NULL THEN 'added'
      |            WHEN n_b IS NULL THEN 'removed'
      |            WHEN n_a = n_b AND t_a = t_b THEN 'unchanged'
      |            ELSE 'changed' END AS change_type,
      |  CAST(count(*) AS BIGINT) AS n_keys,
      |  CAST(sum(coalesce(t_b, 0) - coalesce(t_a, 0)) AS BIGINT) AS delta_cents
      |FROM j GROUP BY 1 ORDER BY change_type""".stripMargin

  // --------------------------------------------------------------- Q167
  /** EQUI-DEPTH histogram of event values WITHOUT a global sort —
    * q161's equi-width sibling, built the way it survives 100 TB. The
    * naive depth histogram ranks every row (q152's global window — fine
    * over a users-sized fold, a scale-killer over raw events); here the
    * 9 bucket BREAKPOINTS come from the cumulative counts of the
    * (cents → count) VALUES GRID (the q141 discipline: the grid is
    * value-domain-sized, ~50k cents values, regardless of row count),
    * each breakpoint b = the smallest value whose cumulative count
    * exceeds ⌊b·n/10⌋. The 9-row breakpoint relation then broadcasts
    * and bucket(v) = #breakpoints ≤ v is a scan-local integer — the
    * per-bucket aggregates (count, bounds, exact user NDV) are all
    * partial-aggregable. Ties land whole values in one bucket, so
    * depths are only approximately n/10 — the price of a
    * value-deterministic, engine-portable assignment (documented;
    * breakpoints themselves are exact order statistics, the q86
    * discipline). */
  val q167: Q = (s, d) => {
    val c = graft.core.Pins.pin(t(s, d, "events")
      .select(col("user_id"), round(col("value") * 100).cast("long").as("cents")))
    val grid = c.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
    val wcum = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("cum", sum(col("cnt")).over(wcum))
    val n = c.agg(count(lit(1)).as("n"))
    // breakpoint b (1..9): smallest value with cum > (b·n) div 10
    val bps = cum.crossJoin(broadcast(n))
      .crossJoin(broadcast(s.range(1, 10).select(col("id").as("b"))))
      .filter(col("cum") > expr("(b * n) div 10"))
      .groupBy(col("b")).agg(min(col("cents")).as("bp"))
    val bpArr = broadcast(bps.agg(sort_array(collect_list(col("bp"))).as("bpa")))
    c.crossJoin(bpArr)
      .withColumn("bucket",
        expr("size(filter(bpa, x -> x <= cents))").cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("bucket"))
  }

  val q167Sql: String =
    """WITH c AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |grid AS (SELECT cents, count(*) AS cnt FROM c GROUP BY 1),
      |cum AS (SELECT cents, sum(cnt) OVER (ORDER BY cents
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM grid),
      |n AS (SELECT count(*) AS n FROM c),
      |bps AS (SELECT b, min(cents) AS bp
      |        FROM cum CROSS JOIN n CROSS JOIN generate_series(1, 9) t(b)
      |        WHERE cum > (b * n) // 10 GROUP BY b),
      |bpa AS (SELECT list_sort(list(bp)) AS bpa FROM bps)
      |SELECT CAST(len(list_filter(bpa, x -> x <= cents)) AS BIGINT) AS bucket,
      |  count(*) AS n_rows, min(cents) AS lo_cents, max(cents) AS hi_cents,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM c CROSS JOIN bpa
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- Q170
  /** MAD robust outliers — q90's Tukey fences break down when the
    * contamination itself inflates the IQR; the median absolute
    * deviation is the 50%-breakdown robust scale. Per event type:
    * median (lower: k = (n+1) div 2 — a DISCRETE order statistic, the
    * q86 breakpoint discipline), MAD = median of |x − med|, outliers =
    * rows with |x − med| > 3·MAD, all in exact integer cents. Built
    * the q167 way — per-group (cents → count) GRIDS carry both median
    * selections, so the only ordered windows ride value-domain-sized
    * relations and the corpus crosses the wire exactly once
    * (map-side-combined grid fold); the deviation grid re-aggregates
    * the FIRST grid (model-sized), never the rows. */
  val q170: Q = (s, d) => {
    val grid = graft.core.Pins.pin(
      t(s, d, "events")
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("cents")).agg(count(lit(1)).as("cnt")))
    val n = grid.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = grid.withColumn("cum", sum(col("cnt")).over(wc))
      .join(broadcast(n), "event_type")
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("event_type"), col("n")).agg(min(col("cents")).as("med"))
    val dev = graft.core.Pins.pin(grid.join(broadcast(med), "event_type")
      .groupBy(col("event_type"), col("n"), col("med"),
        abs(col("cents") - col("med")).as("dev"))
      .agg(sum(col("cnt")).as("dcnt")))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("dev"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mad = dev.withColumn("cum", sum(col("dcnt")).over(wd))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("event_type"), col("n"), col("med"))
      .agg(min(col("dev")).as("mad"))
    dev.select(col("event_type"), col("dev"), col("dcnt"))
      .join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("n"), col("med"), col("mad"))
      .agg(sum(when(col("dev") > lit(3L) * col("mad"), col("dcnt")).otherwise(0L))
        .as("n_outliers"))
      .select(col("event_type"), col("n"), col("med").as("med_cents"),
        col("mad").as("mad_cents"), col("n_outliers"))
      .orderBy(col("event_type"))
  }

  val q170Sql: String =
    """WITH grid AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
      |                CAST(count(*) AS BIGINT) AS cnt
      |              FROM events GROUP BY 1, 2),
      |n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM grid GROUP BY 1),
      |med AS (SELECT event_type, n, min(cents) AS med FROM (
      |          SELECT g.event_type, g.cents, n.n,
      |            sum(g.cnt) OVER (PARTITION BY g.event_type ORDER BY g.cents
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |          FROM grid g JOIN n USING (event_type))
      |        WHERE cum >= (n + 1) // 2 GROUP BY event_type, n),
      |dev AS (SELECT g.event_type, m.n, m.med, abs(g.cents - m.med) AS dev,
      |          CAST(sum(g.cnt) AS BIGINT) AS dcnt
      |        FROM grid g JOIN med m USING (event_type)
      |        GROUP BY 1, 2, 3, 4),
      |mad AS (SELECT event_type, n, med, min(dev) AS mad FROM (
      |          SELECT event_type, n, med, dev,
      |            sum(dcnt) OVER (PARTITION BY event_type ORDER BY dev
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |          FROM dev)
      |        WHERE cum >= (n + 1) // 2 GROUP BY event_type, n, med)
      |SELECT d.event_type, m.n, m.med AS med_cents, m.mad AS mad_cents,
      |  CAST(sum(CASE WHEN d.dev > 3 * m.mad THEN d.dcnt ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type, m.n, m.med, m.mad
      |ORDER BY d.event_type""".stripMargin

  // --------------------------------------------------------------- Q171
  /** 2-D SKYLINE (Pareto frontier) of customers by (total spend, order
    * count) — "best under any monotone preference", the multi-criteria
    * operator none of the top-k queries cover. The textbook form is a
    * quadratic NOT EXISTS dominance test; in 2-D with integer keys it
    * collapses to ONE window pass: ordered by spend, a row survives
    * iff its count beats the running max over STRICTLY richer rows
    * (value-based RANGE frame ending at −1 — integer cents make
    * "strictly" exact) and it holds its spend-tie group's max count.
    * The window input is the per-customer fold (customers-sized — the
    * q152 single-partition rationale; at 10⁹ customers shard by spend
    * range and stitch frontier segments). The ORACLE is the quadratic
    * NOT EXISTS itself — an independent formulation proving the
    * window rewrite, the q57/q157 discipline. */
  val q171: Q = (s, d) => {
    val p = t(s, d, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("spend_cents"),
        count(lit(1)).as("n_orders"))
    val strictRicher = Window.orderBy(col("spend_cents").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val tieGroup = Window.partitionBy(col("spend_cents"))
    p.withColumn("m1", max(col("n_orders")).over(strictRicher))
      .withColumn("m2", max(col("n_orders")).over(tieGroup))
      .filter((col("m1").isNull || col("n_orders") > col("m1")) &&
        col("n_orders") === col("m2"))
      .select(col("custkey"), col("spend_cents"), col("n_orders"))
      .orderBy(col("spend_cents").desc, col("custkey"))
  }

  val q171Sql: String =
    """WITH p AS (SELECT o_custkey AS custkey,
      |             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |               AS spend_cents,
      |             CAST(count(*) AS BIGINT) AS n_orders
      |           FROM orders GROUP BY 1)
      |SELECT custkey, spend_cents, n_orders FROM p a
      |WHERE NOT EXISTS (SELECT 1 FROM p b
      |                  WHERE b.spend_cents >= a.spend_cents
      |                    AND b.n_orders >= a.n_orders
      |                    AND (b.spend_cents > a.spend_cents
      |                         OR b.n_orders > a.n_orders))
      |ORDER BY spend_cents DESC, custkey""".stripMargin

  // --------------------------------------------------------------- Q172
  /** NEYMAN-optimal stratified allocation — q139's Hamilton quota
    * allocates a sample budget ∝ stratum SIZE; the variance-minimizing
    * rule allocates ∝ n_h·σ_h, concentrating samples where the metric
    * actually varies. The algebra keeps it exact: n_h·σ_h =
    * √(n_h·Σx² − (Σx)²) — ONE integer square root of the integer
    * variance numerator, no float mean or division ever exists. The
    * isqrt itself is engine-exact via correct-then-verify: s₀ =
    * ⌊sqrt(double(v))⌋ is within 1 of the true root for any v < 2⁶³
    * (double conversion error ≤ 2⁻⁵³ relative halves through the
    * sqrt), and the ±1 INTEGER correction — compare (s₀±1)² against v
    * — lands both engines on the exact ⌊√v⌋ even where the double
    * rounds differently (the unguarded q163 form is only exact below
    * 2⁵²; this idiom removes that bound). Budget split = integer
    * floor + Hamilton largest-remainder (remainder desc, type
    * tie-break). One partial-aggregable moments scan; everything
    * after is strata-sized (the 5-row whole-frame window is the q113
    * small-series rationale). Allocations may exceed a stratum's n_h
    * on degenerate inputs (standard Neyman caveat — cap-and-
    * redistribute is a second pass, documented not implemented). */
  val q172: Q = (s, d) => {
    val m = t(s, d, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("v"))
      .withColumn("s0", floor(sqrt(col("v").cast("double"))).cast("long"))
      .withColumn("w",
        when((col("s0") + 1) * (col("s0") + 1) <= col("v"), col("s0") + 1)
          .when(col("s0") * col("s0") > col("v"), col("s0") - 1)
          .otherwise(col("s0")))
    val tot = m.agg(sum(col("w")).as("wsum"))
    val wAll = Window.partitionBy()
    m.crossJoin(broadcast(tot))
      .withColumn("base", expr("(1000 * w) div wsum"))
      .withColumn("rem", expr("(1000 * w) % wsum"))
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("rem").desc, col("event_type"))).cast("long"))
      .withColumn("leftover", lit(1000L) - sum(col("base")).over(wAll))
      .select(col("event_type"), col("n"), col("w"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(col("event_type"))
  }

  val q172Sql: String =
    """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
      |           FROM (SELECT event_type,
      |                   CAST(round(value * 100) AS BIGINT) AS x FROM events)
      |           GROUP BY 1),
      |vv AS (SELECT event_type, n, n * sxx - sx * sx AS v FROM m),
      |sq AS (SELECT event_type, n, v,
      |         CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS s0
      |       FROM vv),
      |w AS (SELECT event_type, n,
      |        CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1
      |             WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END AS w
      |      FROM sq),
      |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM w),
      |h AS (SELECT event_type, n, w,
      |        (1000 * w) // wsum AS base, (1000 * w) % wsum AS rem
      |      FROM w CROSS JOIN tot),
      |r AS (SELECT *,
      |        CAST(row_number() OVER (ORDER BY rem DESC, event_type) AS BIGINT) AS rk,
      |        1000 - CAST(sum(base) OVER () AS BIGINT) AS leftover
      |      FROM h)
      |SELECT event_type, n, w,
      |       base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
      |FROM r ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q173
  /** SORTED-NEIGHBORHOOD dedup (SNM — Hernández/Stolfo's merge/purge):
    * the third member of the candidate-generation triangle. q19's LSH
    * trades recall for speed, q159's prefix filter is exact on a SET
    * similarity; SNM is the classic RECORD-LINKAGE blocking — sort by
    * a key, compare each record only to its w−1 successors, O(N·w)
    * candidates by construction. Here: sort key = the text itself
    * (near-dup generation preserves prefixes, so edited copies sort
    * adjacently), blocks = the key's first character, window w = 4,
    * verify = distinct-word-set Jaccard ≥ 0.5 as an integer
    * cross-multiplication (2·inter ≥ union — no float ratio). The
    * DOCUMENTED miss class: pairs whose keys land in different blocks
    * (or > w−1 apart inside one) are never compared — production SNM
    * runs multiple passes with different keys; the spec pins one such
    * boundary miss on crafted rows. 100 TB shape: the block key is the
    * shuffle key, ranks/neighbor joins are per-block (block sizes are
    * first-character-bounded), and the candidate join carries slim
    * (block, rn, words) rows — the corpus text crosses the wire once. */
  val q173: Q = (s, d) => {
    val docs = graft.core.Pins.pin(
      t(s, d, "documents").select(col("doc_id"), col("text"),
        substring(col("text"), 1, 1).as("blk"),
        array_distinct(split(col("text"), " ")).as("words"))
        .withColumn("rn", row_number()
          .over(Window.partitionBy(col("blk"))
            .orderBy(col("text"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("blk"), col("rn"), col("words")))
    // the w-window as an EQUI-join: explode δ ∈ 1..w−1 and match
    // rn_b = rn + δ exactly — a range predicate beside the blk equi-key
    // would evaluate block²/2 rank comparisons per block with both word
    // arrays buffered through the join (measured 27 s at sf0.1); the
    // exploded key makes every candidate a hash/merge MATCH, so only
    // the ≤ (w−1)·N true window pairs ever materialize
    val a = docs.select(col("blk"), col("rn"),
        col("doc_id").as("a_id"), col("words").as("wa"))
      .withColumn("d", explode(expr("sequence(1, 3)")))
      .withColumn("rn_b", col("rn") + col("d"))
    val b = docs.select(col("blk"),
      col("rn").as("rn_b"), col("doc_id").as("b_id"), col("words").as("wb"))
    a.join(b, Seq("blk", "rn_b"))
      .withColumn("inter", size(array_intersect(col("wa"), col("wb"))).cast("long"))
      .withColumn("un",
        (size(col("wa")) + size(col("wb"))).cast("long") - col("inter"))
      .filter(col("inter") * 2 >= col("un"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        col("inter"), col("un"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val q173Sql: String =
    """WITH k AS (SELECT doc_id, text, substr(text, 1, 1) AS blk,
      |             list_distinct(string_split(text, ' ')) AS words
      |           FROM documents),
      |r AS (SELECT doc_id, blk, words,
      |        CAST(row_number() OVER (PARTITION BY blk ORDER BY text, doc_id)
      |             AS BIGINT) AS rn
      |      FROM k),
      |cand AS (SELECT a.doc_id AS aid, b.doc_id AS bid,
      |           CAST(len(list_intersect(a.words, b.words)) AS BIGINT) AS inter,
      |           CAST(len(a.words) + len(b.words) AS BIGINT)
      |             - CAST(len(list_intersect(a.words, b.words)) AS BIGINT) AS un
      |         FROM r a JOIN r b
      |           ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 3)
      |SELECT least(aid, bid) AS a_id, greatest(aid, bid) AS b_id, inter, un
      |FROM cand WHERE inter * 2 >= un
      |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------------- Q174
  /** WILSON lower-bound source ranking — "sort by confidence": rank
    * document sources by the worst-case quality-pass rate their sample
    * size supports, so a 3-for-3 source does NOT outrank a 480-for-500
    * one (the classic mean-rate ranking bug). z = 2 (95.45%) makes the
    * interval RATIONAL except one square root, and the algebra isolates
    * it over the integers: LB = (n(k+2) − 2·√(n(k(n−k)+n))) / (n(n+4)),
    * radicand v = n·(k(n−k)+n) an exact BIGINT, √v via the q172
    * correct-then-verify isqrt (exact for v < 2⁶³ ⇒ per-source n up to
    * ~3·10⁶; larger strata lift v into DECIMAL and widen the verify
    * window — the documented dial). score_ppm floors 10⁶·LB — a
    * deterministic integer both engines reproduce bit-for-bit. One
    * partial-aggregable scan; everything after is sources-sized. The
    * gate (n_chars ≥ 250) is the q25 length-quality proxy. */
  val q174: Q = (s, d) => {
    t(s, d, "documents")
      .select(col("source"),
        when(col("n_chars") >= 250, 1L).otherwise(0L).as("pass"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("pass")).as("k"))
      .withColumn("v", col("n") * (col("k") * (col("n") - col("k")) + col("n")))
      .withColumn("s0", floor(sqrt(col("v").cast("double"))).cast("long"))
      .withColumn("rt",
        when((col("s0") + 1) * (col("s0") + 1) <= col("v"), col("s0") + 1)
          .when(col("s0") * col("s0") > col("v"), col("s0") - 1)
          .otherwise(col("s0")))
      .select(col("source"), col("n"), col("k"),
        expr("(1000000 * (n * (k + 2) - 2 * rt)) div (n * (n + 4))")
          .as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("source"))
  }

  val q174Sql: String =
    """WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END)
      |                  AS BIGINT) AS k
      |           FROM documents GROUP BY 1),
      |v AS (SELECT source, n, k, n * (k * (n - k) + n) AS v FROM m),
      |sq AS (SELECT source, n, k, v,
      |         CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS s0
      |       FROM v),
      |rt AS (SELECT source, n, k,
      |         CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1
      |              WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END AS rt
      |       FROM sq)
      |SELECT source, n, k,
      |       (1000000 * (n * (k + 2) - 2 * rt)) // (n * (n + 4)) AS score_ppm
      |FROM rt ORDER BY score_ppm DESC, source""".stripMargin

  // --------------------------------------------------------------- Q175
  /** FUNCTIONAL-DEPENDENCY profiling (TANE's g₃ error, computed exactly)
    * — the schema-discovery side of q161's column profile: for each
    * candidate FD det→dep, the minimum number of rows to delete before
    * the dependency HOLDS is n − Σ_det max_dep(count), an exact integer
    * (Kivinen–Mannila g₃·n). Reported per candidate: row count, distinct
    * determinants, violating rows, holds flag, g3_ppm. Shape per
    * candidate: two partial-aggregable hash aggregations — (det, dep)
    * counts, then per-det max — and a final fold to ONE row; nothing
    * wider than the (det, dep) distinct pairs ever shuffles, so 100 TB
    * cost is the scans plus pair-cardinality-bounded exchanges. The
    * candidate list is fixed and spans fact, dimension, and stream
    * tables (the realistic ANALYZE batch: one declared FD per check).
    *
    * Round 11: fused to ONE tagged-union job (the q273 single-key
    * trick, lifted to the candidate dimension). The round-10 form ran
    * five independent two-level agg chains union'd — 10 keyed
    * exchanges and ~5 sub-jobs of the ~0.2 s local[32] dispatch floor
    * (PLANS.md § q175, the weak-screen boundary row). This form
    * `stack`s each table ONCE into (tag, det, dep_l, dep_s) rows
    * (lineitem and orders each scanned once for both their candidates
    * — generator output, so pruning still reads only the union of the
    * candidate columns), then runs the SAME two-level g₃ fold once
    * over the tagged union: pair fold → per-(tag, det) max → per-tag
    * row. Round 12: 3 scans + ONE data-sized exchange (repartition on
    * (tag, det) — a subset partitioning satisfies the pair grouping's
    * clustered distribution, so both fold levels run partition-local)
    * + the 5-row tag fold and sort; string deps ride injective
    * integer encodings spelled identically in both engines (the q287
    * discipline), so grouping hashes three longs. The round-12
    * per-stage decomposition (PLANS.md) pinned the wall to the pair
    * fold's exchange + near-distinct hash agg; this form removed the
    * second data-sized exchange and the string keys: 1.58 → 0.86 s
    * warm. */
  val q175: Q = (s, d) => {
    val li = t(s, d, "lineitem"); val ord = t(s, d, "orders")
    val ev = t(s, d, "events")
    // round 12: string deps ride injective integer encodings (the q287
    // compact-encoding discipline — priorities by their distinct first
    // digit, event types by the declared 5-value enum; BOTH engines
    // spell the identical encoding, so cross-engine exactness never
    // depends on the domain, and grouping hashes 3 longs, never a
    // string), and ONE repartition on (tag, det) — a subset
    // partitioning satisfies the pair grouping's clustered
    // distribution, so BOTH fold levels run partition-local and the
    // plan has a single data-sized exchange (was: two). Measured
    // 1.58 → 0.86 s warm (PLANS.md § q175 round-12 decomposition).
    val u = li.selectExpr(
        """stack(2, 0L, l_orderkey, l_suppkey,
                    1L, l_partkey,  l_suppkey) AS (tag, det, dep)""")
      .unionByName(ord.selectExpr(
        """stack(2, 2L, o_orderkey, o_custkey,
                    3L, o_custkey,
                    CAST(ascii(substr(o_orderpriority, 1, 1)) AS BIGINT))
           AS (tag, det, dep)"""))
      // the ELSE arm is the md5-52 of the raw value (never reached on
      // the declared 5-value enum — zero cost, CASE is lazy): a domain
      // drift lands each new value in its own dep bucket instead of
      // silently collapsing into one, so the FD verdict stays honest
      // and any enum/encoding skew surfaces as a visible divergence
      .unionByName(ev.selectExpr("4L AS tag", "user_id AS det",
        """CASE event_type WHEN 'view' THEN 1L WHEN 'click' THEN 2L
           WHEN 'purchase' THEN 3L WHEN 'signup' THEN 4L
           WHEN 'error' THEN 5L
           ELSE CAST(conv(substring(md5(event_type), 1, 13), 16, 10) AS BIGINT)
           END AS dep"""))
    u.repartition(col("tag"), col("det"))
      .groupBy(col("tag"), col("det"), col("dep"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("tag"), col("det"))
      .agg(sum(col("c")).as("rows"), max(col("c")).as("keep"))
      .groupBy(col("tag"))
      .agg(sum(col("rows")).as("n_rows"), count(lit(1)).as("n_det"),
        sum(col("keep")).as("kept"))
      .select(
        expr("""CASE tag WHEN 0 THEN 'lineitem.l_orderkey->l_suppkey'
                         WHEN 1 THEN 'lineitem.l_partkey->l_suppkey'
                         WHEN 2 THEN 'orders.o_orderkey->o_custkey'
                         WHEN 3 THEN 'orders.o_custkey->o_orderpriority'
                         ELSE 'events.user_id->event_type' END""").as("fd"),
        col("n_rows"), col("n_det"),
        (col("n_rows") - col("kept")).as("viol_rows"),
        when(col("n_rows") === col("kept"), 1L).otherwise(0L).as("holds"),
        expr("(1000000 * (n_rows - kept)) div n_rows").as("g3_ppm"))
      .orderBy(col("fd"))
  }

  val q175Sql: String = {
    def one(table: String, det: String, dep: String, name: String) =
      s"""SELECT '$name' AS fd, CAST(sum(rows) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_det,
         |  CAST(sum(rows) - sum(keep) AS BIGINT) AS viol_rows,
         |  CAST(CASE WHEN sum(rows) = sum(keep) THEN 1 ELSE 0 END AS BIGINT) AS holds,
         |  (1000000 * CAST(sum(rows) - sum(keep) AS BIGINT))
         |    // CAST(sum(rows) AS BIGINT) AS g3_ppm
         |FROM (SELECT det, CAST(sum(c) AS BIGINT) AS rows,
         |        CAST(max(c) AS BIGINT) AS keep
         |      FROM (SELECT $det AS det, $dep AS dep, count(*) AS c
         |            FROM $table GROUP BY 1, 2)
         |      GROUP BY det)""".stripMargin
    Seq(
      one("lineitem", "l_orderkey", "l_suppkey", "lineitem.l_orderkey->l_suppkey"),
      one("lineitem", "l_partkey", "l_suppkey", "lineitem.l_partkey->l_suppkey"),
      one("orders", "o_orderkey", "o_custkey", "orders.o_orderkey->o_custkey"),
      // the same injective integer encodings the engine uses — spelled
      // identically so distinct-dep counts match bit for bit
      one("orders", "o_custkey",
        "CAST(ascii(substr(o_orderpriority, 1, 1)) AS BIGINT)",
        "orders.o_custkey->o_orderpriority"),
      one("events", "user_id",
        s"""CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
           WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
           WHEN 'error' THEN 5
           ELSE ${sqlHex52("md5(event_type)")} END""",
        "events.user_id->event_type"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY fd")
  }

  // --------------------------------------------------------------- Q176
  /** LAG-k AUTOCORRELATION of the daily revenue series (k = 1..7) —
    * the time-series twin of q164's value↔hour correlation: is
    * tomorrow's total predictable from today's? The series is the
    * daily floor-dollar event total (sum of exact cents div 100 —
    * integer, and the divide-by-100 is the MAGNITUDE dial that keeps
    * 10⁶·cov² inside DECIMAL(38,0): exact up to ~3·10⁶ dollar daily
    * totals; past that, fold to larger units — q164's documented
    * bound, one dial earlier). Alignment is an equi-join of the
    * days-sized series to itself at day+k (7 broadcast lag literals,
    * inner join so calendar gaps pair only truly overlapping days), then
    * the q164 moments→r²·sign pipeline per lag. The corpus crosses
    * the wire ONCE in the daily fold; everything after rides the
    * 30-row series. */
  val q176: Q = (s, d) => {
    val dec = "DECIMAL(38,0)"
    val daily = graft.core.Pins.pin(
      t(s, d, "events")
        .select(to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("c"))
        .select(col("day"), expr("c div 100").as("v")))
    val lags = s.range(1, 8).select(col("id").as("lag"))
    val a = daily.select(col("day"), col("v").as("x"))
    val b = daily.select(col("day").as("day_b"), col("v").as("y"))
    a.crossJoin(broadcast(lags))
      .join(b, expr("day_b = date_add(day, CAST(lag AS INT))"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("varx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("vary"))
      .select(col("lag"), col("n"),
        when(col("cov") > 0, 1L).when(col("cov") < 0, -1L).otherwise(0L).as("r_sign"),
        when(col("varx") === 0 || col("vary") === 0, 0L).otherwise(
          expr(s"(CAST(1000000 AS $dec) * CAST(cov AS $dec) * CAST(cov AS $dec)) div " +
            s"(CAST(varx AS $dec) * CAST(vary AS $dec))")).as("r2_ppm"))
      .orderBy(col("lag"))
  }

  val q176Sql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
      |                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |                   // 100 AS v
      |               FROM events GROUP BY 1),
      |lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)),
      |p AS (SELECT l.lag, a.v AS x, b.v AS y
      |      FROM daily a CROSS JOIN lags l
      |      JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)),
      |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(x * y) AS BIGINT) AS sxy,
      |        CAST(sum(x * x) AS BIGINT) AS sxx,
      |        CAST(sum(y * y) AS BIGINT) AS syy
      |      FROM p GROUP BY 1),
      |c AS (SELECT lag, n,
      |        n * sxy - sx * sy AS cov,
      |        n * sxx - sx * sx AS varx,
      |        n * syy - sy * sy AS vary
      |      FROM m)
      |SELECT lag, n,
      |  CAST(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END AS BIGINT) AS r_sign,
      |  CAST(CASE WHEN varx = 0 OR vary = 0 THEN 0
      |            ELSE (1000000 * CAST(cov AS HUGEINT) * cov)
      |                 // (CAST(varx AS HUGEINT) * vary) END AS BIGINT) AS r2_ppm
      |FROM c ORDER BY lag""".stripMargin

  // --------------------------------------------------------------- Q178
  /** TIME-WEIGHTED average value (TWAP) per (type, day) — the correct
    * mean for an IRREGULARLY-sampled step signal, where the row mean
    * over-weights bursts (a metric sampled 100× in one hot minute and
    * once an hour elsewhere): each observation holds until the next
    * one (q146's LOCF semantics, integrated), weight = held MICROS,
    * the last observation holds to midnight, the pre-first gap carries
    * no value. Everything is exact integers — cents × μs products stay
    * under 2⁶³ for any event count (Σ cents_i·Δt_i ≤ max_cents·day_μs
    * ≈ 4·10¹⁵), and twap_cents = num div den with num/den published so
    * the floor is auditable. ONE exchange total: the lead window and
    * the aggregation share the (event_type, day) partitioning. */
  val q178: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts_us"), col("event_id"))
    t(s, d, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"), col("event_id"))
      .withColumn("nxt", lead(col("ts_us"), 1).over(w))
      .withColumn("held",
        coalesce(col("nxt"),
          unix_micros(date_add(col("day"), 1).cast("timestamp"))) - col("ts_us"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents") * col("held")).as("num"), sum(col("held")).as("den"))
      .select(col("event_type"), col("day"), col("n"), col("num"), col("den"),
        expr("num div den").as("twap_cents"))
      .orderBy(col("event_type"), col("day"))
  }

  val q178Sql: String =
    """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |              epoch_us(ts) AS ts_us,
      |              CAST(round(value * 100) AS BIGINT) AS cents, event_id
      |            FROM events),
      |w AS (SELECT event_type, day, cents,
      |        coalesce(lead(ts_us) OVER (PARTITION BY event_type, day
      |                                   ORDER BY ts_us, event_id),
      |                 epoch_us(CAST(day + 1 AS TIMESTAMP))) - ts_us AS held
      |      FROM ev)
      |SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(cents * held) AS BIGINT) AS num,
      |       CAST(sum(held) AS BIGINT) AS den,
      |       CAST(sum(cents * held) AS BIGINT)
      |         // CAST(sum(held) AS BIGINT) AS twap_cents
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- Q180
  /** BENFORD first-digit audit of order totals — the fraud/synthetic-
    * data screen: naturally-grown multiplicative quantities put digit d
    * first with probability log₁₀(1+1/d); fabricated or truncated data
    * doesn't. The expected distribution enters as NINE FIXED ppm
    * CONSTANTS (301030 … 45757 — the rounded-to-6-decimals logs, which
    * sum to exactly 10⁶, so no float ever enters the dataflow): per
    * digit, observed count, observed ppm (10⁶·obs div n), expected
    * ppm, and the signed deviation — all exact integers. First digit =
    * first character of the CENTS integer's decimal string (scale-free
    * and engine-portable; no log10 extraction). One partial-aggregable
    * scan; the digit fold is 9 rows. */
  val q180: Q = (s, d) => {
    val expected = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    val expCol = expected.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, i)) =>
      when(col("digit") === (i + 1).toString, p).otherwise(acc)
    }
    val tot = Window.partitionBy()
    t(s, d, "orders")
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
      .withColumn("n", sum(col("obs")).over(tot))
      .select(col("digit"), col("obs"),
        expr("(1000000 * obs) div n").as("obs_ppm"),
        expCol.as("exp_ppm"))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .orderBy(col("digit"))
  }

  val q180Sql: String = {
    val cases = Seq(301030, 176091, 124939, 96910, 79181, 66947, 57992,
      51153, 45757).zipWithIndex
      .map { case (p, i) => s"WHEN '${i + 1}' THEN $p" }.mkString(" ")
    s"""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |           FROM orders),
       |dg AS (SELECT substr(CAST(cents AS VARCHAR), 1, 1) AS digit
       |       FROM c WHERE cents > 0),
       |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS obs FROM dg GROUP BY 1),
       |t AS (SELECT digit, obs, CAST(sum(obs) OVER () AS BIGINT) AS n FROM o)
       |SELECT digit, obs, (1000000 * obs) // n AS obs_ppm,
       |  CAST(CASE digit $cases ELSE 0 END AS BIGINT) AS exp_ppm,
       |  (1000000 * obs) // n - CAST(CASE digit $cases ELSE 0 END AS BIGINT)
       |    AS dev_ppm
       |FROM t ORDER BY digit""".stripMargin
  }

  // --------------------------------------------------------------- Q181
  /** K-ANONYMITY / L-DIVERSITY audit — the privacy-governance gate a
    * dataset release runs before publishing: quasi-identifier = the
    * (nation, market segment, balance-band) triple an adversary can
    * link externally; a QI group smaller than k = 5 re-identifies its
    * members, and a group whose SENSITIVE column (exact balance cents)
    * takes < 2 distinct values leaks it even at size ≥ k (homogeneity
    * attack — hence l-diversity beside k). Output is the one-row audit
    * verdict: worst-case group size, group/violator counts, rows at
    * risk, and the minimum sensitive diversity. Two partial-aggregable
    * folds (QI groups, then one row); the QI fold is the only
    * data-sized exchange. */
  val q181: Q = (s, d) => {
    t(s, d, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      // +10⁹ shift before the band divide: balances go negative, and
      // Spark's `div` truncates toward zero while DuckDB's `//` floors
      // — on the shifted non-negative domain both are the same floor
      .withColumn("band", expr("(bal_cents + 1000000000) div 10000"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("band"))
      .agg(count(lit(1)).as("sz"),
        countDistinct(col("bal_cents")).as("ldiv"))
      .agg(min(col("sz")).as("k_anonymity"),
        count(lit(1)).as("n_groups"),
        sum(when(col("sz") < 5, 1L).otherwise(0L)).as("viol_groups"),
        sum(when(col("sz") < 5, col("sz")).otherwise(0L)).as("risky_rows"),
        min(col("ldiv")).as("l_diversity_min"))
  }

  val q181Sql: String =
    """WITH qi AS (SELECT c_nationkey, c_mktsegment,
      |              CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
      |              (CAST(round(c_acctbal * 100) AS BIGINT) + 1000000000)
      |                // 10000 AS band
      |            FROM customer),
      |g AS (SELECT c_nationkey, c_mktsegment, band,
      |        CAST(count(*) AS BIGINT) AS sz,
      |        CAST(count(DISTINCT bal_cents) AS BIGINT) AS ldiv
      |      FROM qi GROUP BY 1, 2, 3)
      |SELECT CAST(min(sz) AS BIGINT) AS k_anonymity,
      |       CAST(count(*) AS BIGINT) AS n_groups,
      |       CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS viol_groups,
      |       CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS risky_rows,
      |       CAST(min(ldiv) AS BIGINT) AS l_diversity_min
      |FROM g""".stripMargin

  // --------------------------------------------------------------- Q182
  /** POINT-IN-TIME dimension join — the feature-store correctness rule
    * applied to q165's SCD-2 history: each order joins the customer
    * version that was valid STRICTLY BEFORE its timestamp (valid_from
    * < ts ≤ valid_to), i.e. the state the customer was in WHEN the
    * order happened — joining the current row (SCD-1, q77) leaks the
    * future into training features; the strict inequality even excludes
    * the same-instant version the order itself opens. Exactly one
    * version matches per order (the intervals tile [0, ∞)), so the
    * join needs no dedup: one custkey equi-join with the interval
    * residual, per-key fan-out bounded by versions-per-key (the update
    * calendar, ≤ days — the documented dial; at 10⁹ keys this is the
    * same one-shuffle shape). Output folds to the version axis: how
    * much revenue was booked against how-stale dimension states, with
    * the joined feature mass proving WHICH version each order saw. */
  val q182: Q = (s, d) => {
    val vers = scd2Versions(s, d)
    val ord = t(s, d, "orders")
      .select(col("o_custkey").as("custkey"),
        unix_micros(col("o_orderdate")).as("ts"),
        round(col("o_totalprice") * 100).cast("long").as("ord_cents"))
    ord.join(vers, Seq("custkey"))
      .filter(col("valid_from_us") < col("ts") &&
        (col("valid_to_us").isNull || col("valid_to_us") >= col("ts")))
      .groupBy(col("version"))
      .agg(count(lit(1)).as("n_orders"), sum(col("ord_cents")).as("rev_cents"),
        sum(col("value_cents")).as("feat_cents"))
      .orderBy(col("version"))
  }

  val q182Sql: String =
    s"""WITH $scd2SqlPrelude,
       |o AS (SELECT o_custkey AS custkey, epoch_us(o_orderdate) AS ts,
       |        CAST(round(o_totalprice * 100) AS BIGINT) AS ord_cents
       |      FROM orders)
       |SELECT v.version, CAST(count(*) AS BIGINT) AS n_orders,
       |       CAST(sum(o.ord_cents) AS BIGINT) AS rev_cents,
       |       CAST(sum(v.value_cents) AS BIGINT) AS feat_cents
       |FROM o JOIN vers v ON o.custkey = v.custkey
       |  AND v.valid_from_us < o.ts
       |  AND (v.valid_to_us IS NULL OR v.valid_to_us >= o.ts)
       |GROUP BY v.version ORDER BY v.version""".stripMargin

  // --------------------------------------------------------------- Q188
  /** ROLLING 7-day MEDIAN of daily revenue — the robust trendline the
    * rolling MEAN (q118's shape) can't give: one anomalous day drags a
    * mean for a week, the median shrugs it off. Rolling ORDER
    * statistics are exact where rolling quantile-sketches aren't: the
    * 7-value window materializes as a sorted array and the lower
    * median is element ⌊(n−1)/2⌋ — a DISCRETE selection (q145's rule,
    * applied per frame), bit-identical cross-engine. The window input
    * is the DAYS-sized daily fold (the q113 small-series rationale:
    * a decade is 3,653 rows — the corpus crossed the wire once in the
    * fold; at many-key grain, partition by the key and the same frame
    * rides the per-key series). Ragged opening frames (n < 7) emit
    * their true n and median-of-available, deterministically. */
  val q188: Q = (s, d) => {
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    t(s, d, "events")
      .select(to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("daily_cents"))
      .withColumn("win", sort_array(collect_list(col("daily_cents")).over(w)))
      .select(col("day"), col("daily_cents"),
        size(col("win")).cast("long").as("n_win"),
        element_at(col("win"),
          (((size(col("win")) - 1) / 2) + 1).cast("int")).as("med_cents"))
      .orderBy(col("day"))
  }

  val q188Sql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
      |                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |                   AS daily_cents
      |               FROM events GROUP BY 1),
      |w AS (SELECT day, daily_cents,
      |        list_sort(list(daily_cents)
      |          OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
      |      FROM daily)
      |SELECT day, daily_cents, CAST(len(win) AS BIGINT) AS n_win,
      |       win[(len(win) - 1) // 2 + 1] AS med_cents
      |FROM w ORDER BY day""".stripMargin

  // --------------------------------------------------------------- Q189
  /** CUSUM change-point alarm on daily revenue — the SEQUENTIAL
    * detector (Page's cumulative sum) that flags a sustained small
    * shift long before a per-day z-score (q113's shape) fires: the
    * recursion s_i = max(0, s_{i−1} + x_i − target − k) looks
    * inherently serial, but the classic identity
    * s_i = P_i − min(0, min_{j≤i} P_j) (P = prefix sums of the
    * drift terms) collapses it to TWO stacked window passes — the
    * same recursion-to-window collapse as q171's skyline. Exact
    * integers throughout: target = the global lower-median daily
    * cents (discrete selection, q145's rule), allowance k = 5% and
    * alarm threshold h = 50% of the target (floor divisions,
    * documented dials); both the high-side and low-side CUSUMs ride
    * the SAME ordered frame. Window input is the days-sized daily
    * fold (q113 rationale — the corpus crosses the wire once); the
    * one-row median broadcasts. */
  val q189: Q = (s, d) => {
    import s.implicits._
    val daily = t(s, d, "events")
      .select(to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("daily_cents"))
    // The daily fold is DAYS-sized (calendar-bounded at any corpus
    // size), so under the [[LocalTier]] cap ONE corpus job collects it
    // and the median + both prefix/running-min passes replay in driver
    // Scala with identical integer arithmetic: lower median =
    // sorted[(n−1)/2] (the element_at((size−1)/2+1) selection), Scala
    // Long `/` = Spark `div`, running min = min over the frame including
    // the current row. A null day (null ts) or null daily_cents (a day
    // of null values) takes the distributed form, whose sum/min skip
    // nulls; so does a fold over the cap.
    def distributed: DataFrame = {
      val dailyP = graft.core.Pins.pin(daily)
      val med = dailyP
        .agg(sort_array(collect_list(col("daily_cents"))).as("v"))
        .select(element_at(col("v"),
          (((size(col("v")) - 1) / 2) + 1).cast("int")).as("m"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      dailyP.crossJoin(broadcast(med))
        .withColumn("p_hi",
          sum(col("daily_cents") - col("m") - expr("m div 20")).over(w))
        .withColumn("p_lo",
          sum(col("m") - col("daily_cents") - expr("m div 20")).over(w))
        .withColumn("cusum_hi_cents",
          col("p_hi") - least(min(col("p_hi")).over(w), lit(0L)))
        .withColumn("cusum_lo_cents",
          col("p_lo") - least(min(col("p_lo")).over(w), lit(0L)))
        .select(col("day"), col("daily_cents"),
          col("cusum_hi_cents"), col("cusum_lo_cents"),
          (col("cusum_hi_cents") > expr("m div 2")).cast("long").as("alarm_hi"),
          (col("cusum_lo_cents") > expr("m div 2")).cast("long").as("alarm_lo"))
        .orderBy(col("day"))
    }
    LocalTier(daily.as[(java.sql.Date, java.lang.Long)], CusumDayCap) { rows =>
      if (rows.exists(r => r._1 == null || r._2 == null)) distributed
      else if (rows.isEmpty)
        Seq.empty[(java.sql.Date, Long, Long, Long, Long, Long)]
          .toDF("day", "daily_cents", "cusum_hi_cents", "cusum_lo_cents",
            "alarm_hi", "alarm_lo")
      else {
        val vals = rows.map(_._2.longValue).sorted
        val m = vals((vals.length - 1) / 2)
        val k = m / 20
        val h = m / 2
        var pHi = 0L; var pLo = 0L
        var minHi = Long.MaxValue; var minLo = Long.MaxValue
        val out = rows.sortBy(_._1.getTime).toSeq.map { case (day, boxed) =>
          val cents = boxed.longValue
          pHi += cents - m - k
          pLo += m - cents - k
          minHi = math.min(minHi, pHi)
          minLo = math.min(minLo, pLo)
          val cHi = pHi - math.min(minHi, 0L)
          val cLo = pLo - math.min(minLo, 0L)
          (day, cents, cHi, cLo,
            if (cHi > h) 1L else 0L, if (cLo > h) 1L else 0L)
        }
        out.toDF("day", "daily_cents", "cusum_hi_cents", "cusum_lo_cents",
          "alarm_hi", "alarm_lo").orderBy(col("day"))
      }
    }(distributed)
  }

  val q189Sql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
      |                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |                   AS daily_cents
      |               FROM events GROUP BY 1),
      |med AS (SELECT daily_cents AS m FROM daily ORDER BY daily_cents
      |        LIMIT 1 OFFSET (SELECT (count(*) - 1) // 2 FROM daily)),
      |p AS (SELECT day, daily_cents, m,
      |        sum(daily_cents - m - m // 20) OVER w AS p_hi,
      |        sum(m - daily_cents - m // 20) OVER w AS p_lo
      |      FROM daily, med
      |      WINDOW w AS (ORDER BY day
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |c AS (SELECT day, daily_cents, m,
      |        p_hi - least(min(p_hi) OVER w, 0) AS cusum_hi_cents,
      |        p_lo - least(min(p_lo) OVER w, 0) AS cusum_lo_cents
      |      FROM p
      |      WINDOW w AS (ORDER BY day
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT day, daily_cents,
      |       CAST(cusum_hi_cents AS BIGINT) AS cusum_hi_cents,
      |       CAST(cusum_lo_cents AS BIGINT) AS cusum_lo_cents,
      |       CAST(cusum_hi_cents > m // 2 AS BIGINT) AS alarm_hi,
      |       CAST(cusum_lo_cents > m // 2 AS BIGINT) AS alarm_lo
      |FROM c ORDER BY day""".stripMargin

  // --------------------------------------------------------------- Q190
  /** ACTIVITY STREAKS per user — the gaps-and-islands fold behind
    * every "7-day streak" product metric: consecutive active DAYS
    * group into islands by the rank-difference trick (day_index −
    * row_number is constant exactly on a run of consecutive days —
    * no self-join, no recursion), then two cheap folds give per-user
    * total active days, streak count, and longest streak. Everything
    * partitions by user_id — per-key series ride their own
    * partitions, the corpus crosses the wire once on the user key
    * (the q131 sequence-mining layout), and island detection is
    * integer-exact (dates → epoch-day indices). */
  val q190: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    t(s, d, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      // (r15 measured-negative: an explicit user_id repartition here —
      // undoing AQE's 1-partition coalesce so the window and both folds
      // run multi-task — A/B'd 0.38 → 0.64 s best-of-5, the q131
      // failure mode exactly. Reverted; AQE's coalesce wins at this
      // bytes scale.)
      .withColumn("grp",
        datediff(col("day"), lit("1970-01-01").cast("date"))
          - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
      .orderBy(col("user_id"))
  }

  val q190Sql: String =
    """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |isl AS (SELECT user_id,
      |          date_diff('day', DATE '1970-01-01', day)
      |            - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |        FROM act),
      |runs AS (SELECT user_id, grp, count(*) AS len FROM isl GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
      |       CAST(count(*) AS BIGINT) AS n_streaks,
      |       CAST(max(len) AS BIGINT) AS longest_streak
      |FROM runs GROUP BY 1 ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- Q191
  /** INTERVAL-UNION coverage per user — merge each user's 5-minute
    * activity intervals [ts, ts+300s) and report the union length
    * and merged-island count: the sweep that q97 (peak concurrency)
    * counts OVERLAP with, this one measures COVERAGE with — sessions,
    * SLA windows, and GPU-occupancy accounting are all this fold. No
    * self-join: an interval starts a new island iff its start clears
    * the running max of all PRECEDING ends (one window pass), island
    * ids are the running sum of those flags, and each island's
    * coverage is exactly max(end) − min(start) because islands are
    * contiguous by construction. Tie-safe: equal starts can swap
    * order between engines but flag exactly one island opener either
    * way, and the per-island min/max folds are order-free. Partitions
    * by user_id; all arithmetic in epoch micros (exact longs). */
  val q191: Q = (s, d) => {
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("st"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("st"))
      .rowsBetween(Window.unboundedPreceding, 0)
    t(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("st"))
      .withColumn("en", col("st") + lit(300000000L))
      .withColumn("new_isl",
        (col("st") > coalesce(max(col("en")).over(wPrev),
          lit(Long.MinValue))).cast("long"))
      .withColumn("isl", sum(col("new_isl")).over(wRun))
      .groupBy(col("user_id"), col("isl"))
      .agg((max(col("en")) - min(col("st"))).as("cov"),
        count(lit(1)).as("n_ev"))
      .groupBy(col("user_id"))
      .agg(sum(col("cov")).as("covered_micros"),
        count(lit(1)).as("n_islands"),
        sum(col("n_ev")).as("n_events"))
      .orderBy(col("user_id"))
  }

  val q191Sql: String =
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS st,
      |              epoch_us(ts) + 300000000 AS en FROM events),
      |f AS (SELECT user_id, st, en,
      |        CASE WHEN st > coalesce(max(en) OVER
      |               (PARTITION BY user_id ORDER BY st
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |               -9223372036854775808)
      |             THEN 1 ELSE 0 END AS new_isl
      |      FROM iv),
      |g AS (SELECT user_id, st, en,
      |        sum(new_isl) OVER (PARTITION BY user_id ORDER BY st
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |      FROM f),
      |runs AS (SELECT user_id, isl, max(en) - min(st) AS cov,
      |           count(*) AS n_ev
      |         FROM g GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(cov) AS BIGINT) AS covered_micros,
      |       CAST(count(*) AS BIGINT) AS n_islands,
      |       CAST(sum(n_ev) AS BIGINT) AS n_events
      |FROM runs GROUP BY 1 ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- Q193
  /** KAPLAN–MEIER survival of inter-event gaps ("time to next event",
    * the engagement half-life) — the censoring-aware estimator a naive
    * gap histogram gets WRONG: each user's final open gap (last event →
    * corpus end) is right-CENSORED (we only know it's ≥ its current
    * length), and KM is exactly the estimator that uses that partial
    * information without bias. Exact integer dataflow end to end: the
    * hour-floored gap grid is value-domain-bounded (the q141/q167
    * rationale — the curve has ≤ span-hours rows no matter the corpus
    * size), the risk set n_t is a reverse cumulative sum, and the
    * survival product Π(1 − d/n) runs as a ppm-scaled integer
    * recurrence s ← s·(n−d) div n over each row's PREFIX of (n,d)
    * factors, PACKED one-per-BIGINT ((n−d)·2³¹ + n, both < 2³¹) so the
    * identical fold runs as Spark's `aggregate` HOF and DuckDB's
    * `list_reduce` — bit-identical floors, no float ever. Censoring
    * convention: same-time censored gaps stay in the risk set (the
    * standard events-before-censoring order, implied by n_t counting
    * obs ≥ t). One corpus scan, one user-keyed exchange for the lead,
    * then grid-sized windows. */
  val q193: Q = (s, d) => {
    val e = graft.core.Pins.pin(
      t(s, d, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us")))
    val mx = e.agg(max(col("us")).as("mxus"))
    val wU = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val gaps = e
      .withColumn("nxt", lead(col("us"), 1).over(wU))
      .crossJoin(broadcast(mx))
      .select(expr("(coalesce(nxt, mxus) - us) div 3600000000").as("dur"),
        col("nxt").isNotNull.cast("long").as("ev"))
    val wRev = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wFwd = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, 0)
    gaps.groupBy(col("dur"))
      .agg(count(lit(1)).as("n_all"), sum(col("ev")).as("d"))
      .withColumn("n_risk", sum(col("n_all")).over(wRev))
      .filter(col("d") > 0)
      .withColumn("packed",
        (col("n_risk") - col("d")) * lit(2147483648L) + col("n_risk"))
      .withColumn("lst", collect_list(col("packed")).over(wFwd))
      .select(col("dur").cast("long").as("dur_hours"),
        col("n_risk"), col("d"),
        expr("""aggregate(lst, CAST(1000000 AS BIGINT),
                (acc, x) -> acc * shiftright(x, 31) div (x & 2147483647))""")
          .as("surv_ppm"))
      .orderBy(col("dur_hours"))
  }

  val q193Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |mx AS (SELECT max(us) AS mxus FROM e),
      |lg AS (SELECT us, lead(us) OVER (PARTITION BY user_id ORDER BY us) AS nxt
      |       FROM e),
      |gaps AS (SELECT (coalesce(nxt, (SELECT mxus FROM mx)) - us)
      |                  // 3600000000 AS dur,
      |                CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS ev
      |         FROM lg),
      |g AS (SELECT dur, count(*) AS n_all, CAST(sum(ev) AS BIGINT) AS d
      |      FROM gaps GROUP BY 1),
      |r AS (SELECT dur, d,
      |        CAST(sum(n_all) OVER (ORDER BY dur DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |          AS n_risk
      |      FROM g),
      |evt AS (SELECT dur, n_risk, d,
      |          (n_risk - d) * 2147483648 + n_risk AS packed
      |        FROM r WHERE d > 0),
      |c AS (SELECT dur, n_risk, d,
      |        list(packed) OVER (ORDER BY dur
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lst
      |      FROM evt)
      |SELECT CAST(dur AS BIGINT) AS dur_hours, n_risk, d,
      |  list_reduce(list_prepend(CAST(1000000 AS BIGINT), lst),
      |    (acc, x) -> acc * (x >> 31) // (x & 2147483647)) AS surv_ppm
      |FROM c ORDER BY dur_hours""".stripMargin

  // --------------------------------------------------------------- Q194
  /** MULTIPLE linear regression (2 regressors + intercept) by exact
    * NORMAL EQUATIONS — q160 fits one regressor; this is the general
    * distributed-OLS shape: ONE scan folds the k² moment matrix
    * (map-side combinable sums — the only thing that ever crosses the
    * wire is 9 integers per group), the solve is CRAMER's rule on the
    * driver-free 3×3 system, and every determinant is an exact
    * integer in DECIMAL(38,0) (no float, no iterative solver, no
    * collect). Model per event type: daily_cents ~ b0 + b1·day_index
    * + b2·is_weekend (day index from the fixed 2024-01-01 calendar
    * epoch; weekend via Spark `weekday`/DuckDB `isodow`, pinned to
    * the same Monday-based convention). Output is the exact RATIONAL
    * solution — determinants (a, b0, b1, b2) with β_i = det_bi/det_a
    * — because a ppm floor-div would diverge cross-engine on negative
    * numerators (div truncates, // floors). Each 128-bit determinant
    * is emitted as the driver-hashable BIGINT TRIPLE (sgn, hi, lo)
    * with det = sgn·(hi·10¹⁸ + lo) — the q163/q164 64-bit-output
    * discipline: wide numerics stay internal because the driver's
    * hasher distinguishes DECIMAL(38,0) from HUGEINT even when the
    * values are bit-equal (the round-7 q194/q208/q212 lesson). The
    * split is sign-safe: hi/lo divide the NON-NEGATIVE |det|, where
    * Spark `div` (truncating) and DuckDB `//` agree. Bound: det terms
    * are 3-entry products ≤ ~10²³ at 10⁴× this SF — DECIMAL(38,0)
    * holds the math to ~10³⁸, and hi = |det|/10¹⁸ ≤ 10²⁰ < 2⁶³ to
    * ~10³⁷. */
  val q194: Q = (s, d) => {
    val dec = "DECIMAL(38,0)"
    def dcol(c: String) = s"CAST($c AS $dec)"
    val Seq(n, s1, s2, s11, s12, s22, sy, s1y, s2y) =
      Seq("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y").map(dcol)
    t(s, d, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cents")).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("long").as("x1"),
        (weekday(col("day")) >= 5).cast("long").as("x2"), col("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("y")).as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
      .select(col("event_type"), col("n"),
        expr(s"$n * ($s11 * $s22 - $s12 * $s12) - $s1 * ($s1 * $s22 - $s2 * $s12)" +
          s" + $s2 * ($s1 * $s12 - $s2 * $s11)").as("det_a"),
        expr(s"$sy * ($s11 * $s22 - $s12 * $s12) - $s1y * ($s1 * $s22 - $s2 * $s12)" +
          s" + $s2y * ($s1 * $s12 - $s2 * $s11)").as("det_b0"),
        expr(s"$n * ($s1y * $s22 - $s12 * $s2y) - $s1 * ($sy * $s22 - $s2 * $s2y)" +
          s" + $s2 * ($sy * $s12 - $s2 * $s1y)").as("det_b1"),
        expr(s"$n * ($s11 * $s2y - $s1y * $s12) - $s1 * ($s1 * $s2y - $sy * $s12)" +
          s" + $s2 * ($s1 * $s1y - $sy * $s11)").as("det_b2"))
      .select(col("event_type") +: col("n") +:
        Seq("a" -> "det_a", "b0" -> "det_b0", "b1" -> "det_b1", "b2" -> "det_b2")
          .flatMap { case (o, c) => Seq(
            when(col(c) < 0, lit(-1L)).when(col(c) > 0, lit(1L))
              .otherwise(lit(0L)).as(s"${o}_sgn"),
            expr(s"abs($c) div 1000000000000000000").as(s"${o}_hi"),
            expr(s"CAST(abs($c) % 1000000000000000000 AS BIGINT)").as(s"${o}_lo"))
          }: _*)
      .orderBy(col("event_type"))
  }

  val q194Sql: String = {
    def dcol(c: String) = s"CAST($c AS DECIMAL(38,0))"
    val Seq(n, s1, s2, s11, s12, s22, sy, s1y, s2y) =
      Seq("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y").map(dcol)
    s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
       |                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
       |               FROM events GROUP BY 1, 2),
       |x AS (SELECT event_type,
       |        CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) AS x1,
       |        CAST(CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END AS BIGINT) AS x2,
       |        y
       |      FROM daily),
       |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
       |        CAST(sum(x1 * x1) AS BIGINT) AS s11,
       |        CAST(sum(x1 * x2) AS BIGINT) AS s12,
       |        CAST(sum(x2 * x2) AS BIGINT) AS s22,
       |        CAST(sum(y) AS BIGINT) AS sy,
       |        CAST(sum(x1 * y) AS BIGINT) AS s1y,
       |        CAST(sum(x2 * y) AS BIGINT) AS s2y
       |      FROM x GROUP BY 1),
       |d AS (SELECT event_type, n,
       |  CAST($n * ($s11 * $s22 - $s12 * $s12) - $s1 * ($s1 * $s22 - $s2 * $s12)
       |       + $s2 * ($s1 * $s12 - $s2 * $s11) AS HUGEINT) AS det_a,
       |  CAST($sy * ($s11 * $s22 - $s12 * $s12) - $s1y * ($s1 * $s22 - $s2 * $s12)
       |       + $s2y * ($s1 * $s12 - $s2 * $s11) AS HUGEINT) AS det_b0,
       |  CAST($n * ($s1y * $s22 - $s12 * $s2y) - $s1 * ($sy * $s22 - $s2 * $s2y)
       |       + $s2 * ($sy * $s12 - $s2 * $s1y) AS HUGEINT) AS det_b1,
       |  CAST($n * ($s11 * $s2y - $s1y * $s12) - $s1 * ($s1 * $s2y - $sy * $s12)
       |       + $s2 * ($s1 * $s1y - $sy * $s11) AS HUGEINT) AS det_b2
       |FROM m)
       |SELECT event_type, n, ${Seq("a" -> "det_a", "b0" -> "det_b0",
             "b1" -> "det_b1", "b2" -> "det_b2").map { case (o, c) =>
        s"""CAST(CASE WHEN $c < 0 THEN -1 WHEN $c > 0 THEN 1 ELSE 0 END AS BIGINT)
       |    AS ${o}_sgn,
       |  CAST(abs($c) // 1000000000000000000 AS BIGINT) AS ${o}_hi,
       |  CAST(abs($c) % 1000000000000000000 AS BIGINT) AS ${o}_lo"""
      }.mkString(",\n       |  ")}
       |FROM d ORDER BY event_type""".stripMargin
  }

  // --------------------------------------------------------------- Q196
  /** MANN–WHITNEY U (one-vs-rest per event type) — the NONPARAMETRIC
    * location test beside q141's KS and q149's χ²: does one source's
    * value distribution sit ABOVE the rest's, without assuming any
    * shape? Rank statistics are exactly where float rank sums go
    * wrong; here everything is 2-SCALED integers: the midrank of a
    * tie group doubles to 2·cum_below + n + 1 (always odd, always
    * integral), the rank-sum W₂ = Σ n_t·mr₂ and U₂ = W₂ − n₁(n₁+1)
    * are plain BIGINT folds, and the identity U₂ = Σ 2·[x>y] + [x=y]
    * over all cross pairs (spec-verified by brute force) means U₂/2n₁n₂
    * IS the common-language effect size P(X>Y)+½P(X=Y) — emitted as a
    * positive-floor AUC ppm. The value GRID (q141/q167 rationale)
    * does all ranking: no global row sort, one grid-sized window, the
    * corpus crosses the wire once per fold. Bound: 10⁶·U₂ < 2⁶³ holds
    * to ~2·10⁶ rows per engine-pair side at this scale — lift to
    * DECIMAL past that (documented dial). */
  val q196: Q = (s, d) => {
    val vals = graft.core.Pins.pin(
      t(s, d, "events")
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents")))
    val wv = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = graft.core.Pins.pin(
      vals.groupBy(col("cents")).agg(count(lit(1)).as("n_all"))
        .withColumn("mr2",
          lit(2L) * coalesce(sum(col("n_all")).over(wv), lit(0L))
            + col("n_all") + lit(1L)))
    val tot = grid.agg(sum(col("n_all")).as("n"))
    vals.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("n_t"))
      .join(grid, Seq("cents"))
      .groupBy(col("event_type"))
      .agg(sum(col("n_t")).as("n1"), sum(col("n_t") * col("mr2")).as("w2"))
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("n1"), (col("n") - col("n1")).as("n2"),
        (col("w2") - col("n1") * (col("n1") + 1)).as("u2"))
      .select(col("event_type"), col("n1"), col("n2"), col("u2"),
        expr("(1000000 * u2) div (2 * n1 * n2)").as("auc_ppm"))
      .orderBy(col("event_type"))
  }

  val q196Sql: String =
    """WITH v AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events),
      |grid AS (SELECT cents, count(*) AS n_all FROM v GROUP BY 1),
      |g2 AS (SELECT cents, n_all,
      |         2 * coalesce(sum(n_all) OVER (ORDER BY cents
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           + n_all + 1 AS mr2
      |       FROM grid),
      |tot AS (SELECT CAST(sum(n_all) AS BIGINT) AS n FROM grid),
      |bt AS (SELECT event_type, cents, count(*) AS n_t FROM v GROUP BY 1, 2),
      |agg AS (SELECT event_type, CAST(sum(n_t) AS BIGINT) AS n1,
      |          CAST(sum(n_t * mr2) AS BIGINT) AS w2
      |        FROM bt JOIN g2 USING (cents) GROUP BY 1)
      |SELECT event_type, n1, (SELECT n FROM tot) - n1 AS n2,
      |       w2 - n1 * (n1 + 1) AS u2,
      |       (1000000 * (w2 - n1 * (n1 + 1)))
      |         // (2 * n1 * ((SELECT n FROM tot) - n1)) AS auc_ppm
      |FROM agg ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q197
  /** MANN–KENDALL trend test per event type — the NONPARAMETRIC
    * monotone-trend detector beside q160's parametric OLS slope: S =
    * Σ_{i<j} sgn(c_j − c_i) over the daily series counts concordant
    * minus discordant day pairs, immune to outliers and any monotone
    * transform of the values. The day grid is value-domain-bounded
    * (≤ span days — q188/q189's rationale), so the pair set is
    * grid², not corpus²: the self-join runs per type on the
    * days-sized daily fold the corpus crossed the wire once to build.
    * The tie-corrected variance numerator 18·Var(S) = n(n−1)(2n+5) −
    * Σ_g t_g(t_g−1)(2t_g+5) is a second grid-sized fold over the
    * per-type value tie groups — all exact BIGINTs; z-scoring (the
    * only float) is left to the caller with the /18 documented. */
  val q197: Q = (s, d) => {
    val daily = graft.core.Pins.pin(
      t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("c")))
    val a = daily.select(col("event_type"), col("day").as("d1"), col("c").as("c1"))
    val b = daily.select(col("event_type"), col("day").as("d2"), col("c").as("c2"))
    val s0 = a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("event_type"))
      .agg(sum(signum(col("c2") - col("c1")).cast("long")).as("s"))
    val ties = daily.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("tg"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups"), sum(col("tg")).as("n_days"),
        sum(col("tg") * (col("tg") - 1) * (lit(2L) * col("tg") + 5)).as("tie_term"))
    s0.join(ties, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("s"),
        (col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5)
          - col("tie_term")).as("var18"))
      .orderBy(col("event_type"))
  }

  val q197Sql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      |               FROM events GROUP BY 1, 2),
      |s0 AS (SELECT a.event_type,
      |         CAST(sum(CASE WHEN b.c > a.c THEN 1
      |                       WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s
      |       FROM daily a JOIN daily b
      |         ON a.event_type = b.event_type AND a.day < b.day
      |       GROUP BY 1),
      |ties AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_groups,
      |           CAST(sum(tg) AS BIGINT) AS n_days,
      |           CAST(sum(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT) AS tie_term
      |         FROM (SELECT event_type, c, count(*) AS tg
      |               FROM daily GROUP BY 1, 2)
      |         GROUP BY 1)
      |SELECT event_type, n_days, s,
      |       n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18
      |FROM s0 JOIN ties USING (event_type)
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q198
  /** JOIN-KEY SKEW report — the diagnostic that DECIDES the 100 TB
    * plan knobs this engine documents everywhere else: whether a key
    * needs q49's salting, whether AQE's skew-join split will engage,
    * and how hot the hottest shuffle partition will run. Per candidate
    * join key (events.user_id, orders.o_custkey): distinct keys, row
    * count, the max key's share, the top-10 keys' combined share (ppm
    * floors on positive BIGINTs), and the GINI of the key-frequency
    * distribution (q152's exact integer core — Σi·x as a BIGINT, one
    * float expression rounded at the boundary). Both rank windows ride
    * ONE (tag)-partitioned exchange; the per-key counts are the only
    * corpus-sized fold. A uniform key reads gini≈0 / max-share≈1/n;
    * a pathological key reads top10→10⁶ — the number that says "salt
    * this join before it runs". */
  val q198: Q = (s, d) => {
    val ev = t(s, d, "events").groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("cnt"))
      .select(lit("events.user_id").as("tag"), col("k"), col("cnt"))
    val ord = t(s, d, "orders").groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("cnt"))
      .select(lit("orders.o_custkey").as("tag"), col("k"), col("cnt"))
    val wAsc = Window.partitionBy(col("tag")).orderBy(col("cnt"), col("k"))
    val wDesc = Window.partitionBy(col("tag")).orderBy(col("cnt").desc, col("k"))
    ev.unionByName(ord)
      .withColumn("i", row_number().over(wAsc).cast("long"))
      .withColumn("dr", row_number().over(wDesc).cast("long"))
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"),
        sum(when(col("dr") <= 10, col("cnt")).otherwise(lit(0L))).as("top10"),
        sum(col("i") * col("cnt")).as("iwx"))
      .select(col("tag"), col("n_keys"), col("n_rows"),
        expr("(1000000 * max_cnt) div n_rows").as("max_share_ppm"),
        expr("(1000000 * top10) div n_rows").as("top10_share_ppm"),
        round(
          (lit(2.0) * col("iwx").cast("double")) /
            (col("n_keys").cast("double") * col("n_rows").cast("double")) -
            (col("n_keys") + 1).cast("double") / col("n_keys").cast("double"),
          4).as("gini"))
      .orderBy(col("tag"))
  }

  val q198Sql: String =
    """WITH ev AS (SELECT 'events.user_id' AS tag, user_id AS k, count(*) AS cnt
      |            FROM events GROUP BY 2),
      |ord AS (SELECT 'orders.o_custkey' AS tag, o_custkey AS k, count(*) AS cnt
      |        FROM orders GROUP BY 2),
      |u AS (SELECT * FROM ev UNION ALL SELECT * FROM ord),
      |rk AS (SELECT tag, k, cnt,
      |         CAST(row_number() OVER (PARTITION BY tag ORDER BY cnt, k)
      |              AS BIGINT) AS i,
      |         CAST(row_number() OVER (PARTITION BY tag ORDER BY cnt DESC, k)
      |              AS BIGINT) AS dr
      |       FROM u),
      |agg AS (SELECT tag, CAST(count(*) AS BIGINT) AS n_keys,
      |          CAST(sum(cnt) AS BIGINT) AS n_rows,
      |          CAST(max(cnt) AS BIGINT) AS max_cnt,
      |          CAST(sum(CASE WHEN dr <= 10 THEN cnt ELSE 0 END) AS BIGINT)
      |            AS top10,
      |          CAST(sum(i * cnt) AS BIGINT) AS iwx
      |        FROM rk GROUP BY 1)
      |SELECT tag, n_keys, n_rows,
      |  (1000000 * max_cnt) // n_rows AS max_share_ppm,
      |  (1000000 * top10) // n_rows AS top10_share_ppm,
      |  round((2.0 * CAST(iwx AS DOUBLE))
      |          / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE))
      |        - CAST(n_keys + 1 AS DOUBLE) / CAST(n_keys AS DOUBLE), 4) AS gini
      |FROM agg ORDER BY tag""".stripMargin

  // --------------------------------------------------------------- Q199
  /** QUANTILE NORMALIZATION — map every source's value distribution
    * onto the POOLED distribution (the batch-effect correction every
    * cross-source score/feature merge needs: after it, each source's
    * quantiles coincide by construction). Exact discrete semantics:
    * a source value with within-source cumulative rank r maps to the
    * pooled order statistic at k = ⌈r·N/n_s⌉ — all integer (ceil =
    * (r·N + n_s − 1) div n_s), no interpolated percentile ever
    * exists (q86's float-edge discipline). The k-th pooled value is
    * found by a distributed SEARCHSORTED: pooled grid rows become
    * BOUNDARY rows at pos = cum_before+1, query ranks become rows at
    * pos = k, and ONE ordered pass (boundaries first on ties) takes
    * last(pv, ignoreNulls) — the union is grid-sized (value-domain
    * bounded, q141's rationale), so the sort never sees the corpus.
    * The ORACLE finds the same k-th statistics by DuckDB's native
    * ASOF JOIN — an independent mechanism for the same lookup.
    * Bound: r·N < 2⁶³ holds to ~3·10⁹ rows; DECIMAL lift past that
    * (q141's documented dial). */
  val q199: Q = (s, d) => {
    val vals = graft.core.Pins.pin(
      t(s, d, "events")
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents")))
    val wPool = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pooled = graft.core.Pins.pin(
      vals.groupBy(col("cents")).agg(count(lit(1)).as("n_all"))
        .withColumn("pos", coalesce(sum(col("n_all")).over(wPool), lit(0L)) + 1))
    val nTot = pooled.agg(sum(col("n_all")).as("n"))
    val wSrc = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNs = Window.partitionBy(col("event_type"))
    val queries = vals.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("n_t"))
      .withColumn("r", sum(col("n_t")).over(wSrc))
      .withColumn("n_s", sum(col("n_t")).over(wNs))
      .crossJoin(broadcast(nTot))
      .withColumn("k", expr("(r * n + n_s - 1) div n_s"))
    val wScan = Window.orderBy(col("pos"), col("is_b").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val merged = pooled
      .select(col("pos"), col("cents").as("pv"), lit(1).as("is_b"),
        lit(null).cast("string").as("event_type"),
        lit(null).cast("long").as("cents"), lit(null).cast("long").as("n_t"))
      .unionByName(queries.select(col("k").as("pos"),
        lit(null).cast("long").as("pv"), lit(0).as("is_b"),
        col("event_type"), col("cents"), col("n_t")))
    merged
      .withColumn("mapped_cents", last(col("pv"), ignoreNulls = true).over(wScan))
      .filter(col("is_b") === 0)
      .select(col("event_type"), col("cents"), col("n_t"), col("mapped_cents"))
      .orderBy(col("event_type"), col("cents"))
  }

  val q199Sql: String =
    """WITH v AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events),
      |pooled AS (SELECT cents, count(*) AS n_all FROM v GROUP BY 1),
      |b AS (SELECT cents AS pv,
      |        coalesce(sum(n_all) OVER (ORDER BY cents
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS pos
      |      FROM pooled),
      |tot AS (SELECT CAST(sum(n_all) AS BIGINT) AS n FROM pooled),
      |src AS (SELECT event_type, cents, count(*) AS n_t FROM v GROUP BY 1, 2),
      |q AS (SELECT event_type, cents, CAST(n_t AS BIGINT) AS n_t,
      |        CAST(sum(n_t) OVER (PARTITION BY event_type ORDER BY cents
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r,
      |        CAST(sum(n_t) OVER (PARTITION BY event_type) AS BIGINT) AS n_s
      |      FROM src),
      |keyed AS (SELECT event_type, cents, n_t,
      |            (r * (SELECT n FROM tot) + n_s - 1) // n_s AS k
      |          FROM q)
      |SELECT keyed.event_type, keyed.cents, keyed.n_t,
      |       b.pv AS mapped_cents
      |FROM keyed ASOF JOIN b ON keyed.k >= b.pos
      |ORDER BY event_type, cents""".stripMargin

  // --------------------------------------------------------------- Q203
  /** FELLEGI–SUNTER probabilistic record linkage (the 1969 decision
    * model under every production linker — Splink, dedupe.io): the
    * SCORING layer the candidate-generation triangle (q19 LSH, q159
    * prefix, q173 SNM) feeds. Within c_nationkey blocks, every
    * customer pair gets an agreement VECTOR γ over three fields —
    * market segment, $1000 balance band, key-suffix (custkey mod
    * 1000, the synthetic "phone suffix") — and each of the 8 patterns
    * is classified by the likelihood ratio R = Π m_i/u_i (agree) ×
    * Π (1−m_i)/(1−u_i) (disagree). Exactness discipline: the
    * u-probabilities (chance agreement of a RANDOM pair) are
    * ESTIMATED FROM THE DATA exactly — u_i = Σ_v n_v(n_v−1) / N(N−1)
    * floored to ppm (identical integer floor both engines; the only
    * rounding, at a documented boundary) and clamped ≥ 1 ppm so a
    * degenerate all-distinct field cannot zero a denominator;
    * m-probabilities are declared ppm constants (m: seg .90, bal .85,
    * key .999 — production fits them by EM, out of scope here). R is
    * then a RATIO OF BIGINT PRODUCTS (three ppm factors each ≤ 10⁶ ⇒
    * products ≤ 10¹⁸, in-range) and match/possible/non-match is the
    * cross-multiplied DECIMAL(38,0) comparison w_num ≷ {100·w_den,
    * w_den} — no log-weight float ever exists, so no threshold can
    * straddle an ulp. Dataflow: the slim 5-column projection pins
    * once; three value-keyed u-folds (each two partial-aggregable
    * groupBys ending in one row) broadcast; the block self-join keys
    * on nationkey and the γ-pattern fold map-side-combines to ≤ 8
    * rows before the wire — pair rows never shuffle. 100 TB shape:
    * the BLOCK KEY is the dial (swap nationkey for any candidate
    * generator's key — the scoring layer is unchanged); u-folds are
    * value-domain-sized; u_num·10⁶ and N(N−1) need the DECIMAL lift
    * past ~3·10⁹ rows per value (q141's documented bound). */
  val q203: Q = (s, d) => {
    val M = 1000000L
    val (mSeg, mBal, mKey) = (900000L, 850000L, 999000L)
    val base = graft.core.Pins.pin(
      t(s, d, "customer").selectExpr(
        "c_custkey AS id", "CAST(c_nationkey AS BIGINT) AS nat",
        "c_mktsegment AS seg",
        "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000 AS bal",
        "c_custkey % 1000 AS key3"))
    def uPpm(field: String, alias: String) =
      base.groupBy(col(field)).agg(count(lit(1)).as("k"))
        .agg(sum(col("k") * (col("k") - 1)).as("unum"), sum(col("k")).as("nn"))
        .selectExpr(s"greatest(1L, unum * $M div (nn * (nn - 1))) AS $alias")
    val u = uPpm("seg", "u_seg").crossJoin(uPpm("bal", "u_bal"))
      .crossJoin(uPpm("key3", "u_key"))
    val a = base.select(col("nat"), col("id").as("a_id"),
      col("seg").as("a_seg"), col("bal").as("a_bal"), col("key3").as("a_key"))
    val b = base.select(col("nat"), col("id").as("b_id"),
      col("seg").as("b_seg"), col("bal").as("b_bal"), col("key3").as("b_key"))
    val pat = a.join(b, Seq("nat")).filter(col("a_id") < col("b_id"))
      .select((col("a_seg") === col("b_seg")).cast("int").as("g_seg"),
        (col("a_bal") === col("b_bal")).cast("int").as("g_bal"),
        (col("a_key") === col("b_key")).cast("int").as("g_key"))
      .groupBy(col("g_seg"), col("g_bal"), col("g_key"))
      .agg(count(lit(1)).as("n_pairs"))
    pat.crossJoin(broadcast(u))
      .withColumn("w_num",
        when(col("g_seg") === 1, lit(mSeg)).otherwise(lit(M - mSeg)) *
        when(col("g_bal") === 1, lit(mBal)).otherwise(lit(M - mBal)) *
        when(col("g_key") === 1, lit(mKey)).otherwise(lit(M - mKey)))
      .withColumn("w_den",
        when(col("g_seg") === 1, col("u_seg")).otherwise(lit(M) - col("u_seg")) *
        when(col("g_bal") === 1, col("u_bal")).otherwise(lit(M) - col("u_bal")) *
        when(col("g_key") === 1, col("u_key")).otherwise(lit(M) - col("u_key")))
      .withColumn("cls",
        when(col("w_num").cast("decimal(38,0)") >
          col("w_den").cast("decimal(38,0)") * 100, 2)
          .when(col("w_num") < col("w_den"), 0).otherwise(1))
      .select(col("g_seg"), col("g_bal"), col("g_key"), col("n_pairs"),
        col("w_num"), col("w_den"), col("cls"))
      .orderBy(col("g_seg"), col("g_bal"), col("g_key"))
  }

  val q203Sql: String =
    """WITH base AS (SELECT c_custkey AS id, c_nationkey AS nat,
      |                c_mktsegment AS seg,
      |                (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS bal,
      |                c_custkey % 1000 AS key3
      |              FROM customer),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
      |us AS (SELECT CAST(sum(k * (k - 1)) AS BIGINT) AS un
      |       FROM (SELECT count(*) AS k FROM base GROUP BY seg)),
      |ub AS (SELECT CAST(sum(k * (k - 1)) AS BIGINT) AS un
      |       FROM (SELECT count(*) AS k FROM base GROUP BY bal)),
      |uk AS (SELECT CAST(sum(k * (k - 1)) AS BIGINT) AS un
      |       FROM (SELECT count(*) AS k FROM base GROUP BY key3)),
      |u AS (SELECT greatest(1, us.un * 1000000 // (n * (n - 1))) AS u_seg,
      |             greatest(1, ub.un * 1000000 // (n * (n - 1))) AS u_bal,
      |             greatest(1, uk.un * 1000000 // (n * (n - 1))) AS u_key
      |      FROM us, ub, uk, nn),
      |pat AS (SELECT CAST(a.seg = b.seg AS INT) AS g_seg,
      |               CAST(a.bal = b.bal AS INT) AS g_bal,
      |               CAST(a.key3 = b.key3 AS INT) AS g_key,
      |               CAST(count(*) AS BIGINT) AS n_pairs
      |        FROM base a JOIN base b ON a.nat = b.nat AND a.id < b.id
      |        GROUP BY 1, 2, 3),
      |w AS (SELECT g_seg, g_bal, g_key, n_pairs,
      |        (CASE WHEN g_seg = 1 THEN 900000 ELSE 100000 END)
      |          * CAST(CASE WHEN g_bal = 1 THEN 850000 ELSE 150000 END AS BIGINT)
      |          * (CASE WHEN g_key = 1 THEN 999000 ELSE 1000 END) AS w_num,
      |        (CASE WHEN g_seg = 1 THEN u_seg ELSE 1000000 - u_seg END)
      |          * CAST(CASE WHEN g_bal = 1 THEN u_bal ELSE 1000000 - u_bal END AS BIGINT)
      |          * (CASE WHEN g_key = 1 THEN u_key ELSE 1000000 - u_key END) AS w_den
      |      FROM pat, u)
      |SELECT g_seg, g_bal, g_key, n_pairs, w_num, w_den,
      |       CAST(CASE WHEN CAST(w_num AS HUGEINT) > 100 * CAST(w_den AS HUGEINT)
      |                 THEN 2
      |                 WHEN w_num < w_den THEN 0 ELSE 1 END AS INT) AS cls
      |FROM w ORDER BY g_seg, g_bal, g_key""".stripMargin

  // --------------------------------------------------------------- Q204
  /** INTERVAL-OVERLAP JOIN — user activity sessions × incident
    * windows, with exact overlap seconds: the temporal join q182
    * (point-in-time) and q191 (union coverage) don't cover — BOTH
    * sides are intervals and the answer is pairwise intersection
    * length ("how much session time fell inside incidents" — SLA
    * attribution, maintenance-impact accounting, ad-break overlap).
    * Sessions = q191's island merge of [ts, ts+300s) per user;
    * incident windows = clock hours with ≥ 6 error events. The join
    * itself is the scale story: a raw range predicate (s_start <
    * wend AND wstart < s_end) is a theta-join no engine hashes — so
    * each session EXPLODES to its covered hour BUCKETS and the join
    * is a pure hash equi-join on the bucket; because every window IS
    * exactly one bucket the bucket⊂session ↔ interval-overlap
    * equivalence is exact (proved in the oracle: DuckDB evaluates
    * the genuine RANGE join instead — an independent mechanism —
    * and must produce identical rows). Overlap = least(ends) −
    * greatest(starts), all epoch-second longs. 100 TB shape: the
    * bucket key carries the join (bucket count is the granularity
    * dial — coarser buckets = fewer replicas × wider per-key lists);
    * here the window side is additionally span-hours-bounded so it
    * broadcasts and sessions never shuffle for the join at all. */
  val q204: Q = (s, d) => {
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("st"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("st"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ev = graft.core.Pins.pin(t(s, d, "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 1000000").as("st")))
    val sess = ev.select(col("user_id"), col("st"))
      .withColumn("en", col("st") + 300)
      .withColumn("new_isl",
        (col("st") > coalesce(max(col("en")).over(wPrev),
          lit(Long.MinValue))).cast("long"))
      .withColumn("isl", sum(col("new_isl")).over(wRun))
      .groupBy(col("user_id"), col("isl"))
      .agg(min(col("st")).as("s_start"), max(col("en")).as("s_end"))
    val wins = ev.filter(col("event_type") === "error")
      .withColumn("wstart", expr("st div 3600 * 3600"))
      .groupBy(col("wstart")).agg(count(lit(1)).as("k"))
      .filter(col("k") >= 6).select(col("wstart"))
    sess
      .withColumn("hb",
        explode(expr("sequence(s_start div 3600, (s_end - 1) div 3600)")))
      .join(broadcast(wins), col("hb") * 3600 === col("wstart"))
      .withColumn("ov_s", least(col("s_end"), col("wstart") + 3600)
        - greatest(col("s_start"), col("wstart")))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("isl")).as("n_sessions"),
        countDistinct(col("wstart")).as("n_windows"),
        sum(col("ov_s")).as("lost_seconds"))
      .orderBy(col("user_id"))
  }

  val q204Sql: String =
    """WITH iv AS (SELECT user_id, epoch_us(ts) // 1000000 AS st,
      |              epoch_us(ts) // 1000000 + 300 AS en FROM events),
      |f AS (SELECT user_id, st, en,
      |        CASE WHEN st > coalesce(max(en) OVER
      |               (PARTITION BY user_id ORDER BY st
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |               -9223372036854775808)
      |             THEN 1 ELSE 0 END AS new_isl
      |      FROM iv),
      |g AS (SELECT user_id, st, en,
      |        sum(new_isl) OVER (PARTITION BY user_id ORDER BY st
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |      FROM f),
      |sess AS (SELECT user_id, isl, min(st) AS s_start, max(en) AS s_end
      |         FROM g GROUP BY 1, 2),
      |w AS (SELECT (epoch_us(ts) // 1000000) // 3600 * 3600 AS wstart
      |      FROM events WHERE event_type = 'error'
      |      GROUP BY 1 HAVING count(*) >= 6),
      |ov AS (SELECT s.user_id, s.isl, w.wstart,
      |         least(s.s_end, w.wstart + 3600)
      |           - greatest(s.s_start, w.wstart) AS ov_s
      |       FROM sess s JOIN w
      |         ON s.s_start < w.wstart + 3600 AND w.wstart < s.s_end)
      |SELECT user_id, CAST(count(DISTINCT isl) AS BIGINT) AS n_sessions,
      |       CAST(count(DISTINCT wstart) AS BIGINT) AS n_windows,
      |       CAST(sum(ov_s) AS BIGINT) AS lost_seconds
      |FROM ov GROUP BY 1 ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- Q205
  /** EWMA CONTROL CHART over daily revenue, EXACT (Roberts 1959 — the
    * small-shift-sensitive chart beside q189's CUSUM): per event type
    * the day-t prediction is the λ = 1/4 exponentially weighted
    * average of the PRECEDING days, and a point alarms when its
    * deviation from the prediction exceeds 3× the series' own mean
    * absolute day-over-day change (a robust dispersion scale that
    * needs no square root). The exactness trick is DYADIC λ with a
    * TRUNCATED 16-lag kernel: weight of lag j is the INTEGER
    * 3^(j−1)·4^(16−j) (∝ (3/4)^(j−1), common denominator 4^16), so
    * the prediction is the rational N/W of two BIGINT folds —
    * Σw_j·x_{t−j} ≤ 4^16·maxdaily ≈ 10^17 in-range — emitted as the
    * floor cents N div W (the identical floor both engines; lags
    * beyond the truncation carry ≤ (3/4)^16 < 1% of the mass, the
    * documented truncation bound). The alarm test |x·W − N|·nchg >
    * 3·W·Σ|Δx| is the cross-multiplied DECIMAL(38,0)/HUGEINT compare
    * — no float EWMA or σ ever exists. Ragged heads are honest: each
    * row's N/W spans only its AVAILABLE lags. One scan; the day fold,
    * the 16-lag window, and the per-type dispersion window all ride
    * ONE type-keyed exchange; output is the full grid with an alarm
    * flag (grid-sized, the q141 value-domain rationale). */
  val q205: Q = (s, d) => {
    val wLag = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("event_type"))
    def wj(j: Int): Long =
      (1 until j).foldLeft(1L)((a, _) => a * 3) *
        (j until 16).foldLeft(1L)((a, _) => a * 4)
    val daily = t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
    val lagged = (1 to 16).foldLeft(daily) { (df, j) =>
      df.withColumn(s"l$j", lag(col("x"), j).over(wLag))
    }
    val num = (1 to 16).map(j =>
      when(col(s"l$j").isNotNull, lit(wj(j)) * col(s"l$j"))
        .otherwise(lit(0L))).reduce(_ + _)
    val den = (1 to 16).map(j =>
      when(col(s"l$j").isNotNull, lit(wj(j))).otherwise(lit(0L))).reduce(_ + _)
    lagged
      .withColumn("num", num).withColumn("den", den)
      .withColumn("diff", abs(col("x") - col("l1")))
      .withColumn("sumabs", sum(col("diff")).over(wAll))
      .withColumn("nchg", count(col("diff")).over(wAll).cast("long"))
      .filter(col("den") > 0)
      .withColumn("ewma_c", expr("num div den"))
      .withColumn("alarm",
        // x·den lifted to DECIMAL BEFORE the multiply (den ≈ 4.25·10⁹
        // at the full 16-lag window ⇒ Long wraps past ~$21M/day) —
        // mirrors the HUGEINT-operand oracle; round-7 ADVICE hazard
        (abs(col("x").cast("decimal(38,0)") * col("den") - col("num"))
          * col("nchg") >
          col("den").cast("decimal(38,0)") * col("sumabs") * 3).cast("int"))
      .select(col("event_type"), col("day"), col("x").as("x_cents"),
        col("ewma_c"), col("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  val q205Sql: String = {
    def wj(j: Int): Long =
      (1 until j).foldLeft(1L)((a, _) => a * 3) *
        (j until 16).foldLeft(1L)((a, _) => a * 4)
    val lags = (1 to 16).map(j => s"lag(x, $j) OVER w AS l$j").mkString(",\n      |        ")
    val num = (1 to 16).map(j =>
      s"CASE WHEN l$j IS NOT NULL THEN ${wj(j)} * l$j ELSE 0 END").mkString(" + ")
    val den = (1 to 16).map(j =>
      s"CASE WHEN l$j IS NOT NULL THEN CAST(${wj(j)} AS BIGINT) ELSE 0 END").mkString(" + ")
    s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |               FROM events GROUP BY 1, 2),
      |l AS (SELECT event_type, day, x,
      |        $lags
      |      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |s AS (SELECT *, $num AS num,
      |        $den AS den,
      |        abs(x - l1) AS diff
      |      FROM l),
      |t AS (SELECT *, sum(diff) OVER (PARTITION BY event_type) AS sumabs,
      |        CAST(count(diff) OVER (PARTITION BY event_type) AS BIGINT) AS nchg
      |      FROM s)
      |SELECT event_type, day, x AS x_cents, num // den AS ewma_c,
      |       CAST(abs(CAST(x AS HUGEINT) * den - num) * nchg
      |              > CAST(den AS HUGEINT) * sumabs * 3 AS INT) AS alarm
      |FROM t WHERE den > 0
      |ORDER BY event_type, day""".stripMargin
  }

  // --------------------------------------------------------------- Q212
  /** THEIL–SEN robust slope per event type — the median of all
    * pairwise daily-revenue slopes (the estimator that shrugs off
    * 29% outliers where q160's OLS line chases them; with q170's MAD
    * and q151's trimmed mean it completes the robust shelf). The
    * exactness problem is ORDERING RATIONALS (c_j−c_i)/(d_j−d_i)
    * without a float: every denominator is a day gap 1..29 (the
    * 30-day corpus window), so scaling each slope by D = lcm(1..29)
    * = 2329089562800 gives the EXACT total-order key num·(D div den)
    * — an integer, compared in DECIMAL(38,0)/HUGEINT (|num|·D ~
    * 10²⁰). The median is the DISCRETE k = (n+1) div 2 order
    * statistic (q170's k-th-smallest discipline — no interpolation),
    * picked by row_number over (key, num, den, d_i, d_j) — a TOTAL
    * order, so equal-slope ties resolve to the same pair in both
    * engines. Pair set = days², grid²-bounded (≤ 435 pairs/type at
    * any corpus scale — the q197 rationale); the corpus crosses the
    * wire once in the daily fold. The key is only the ORDERING
    * device — the median pair is fully identified by (med_num,
    * med_den), so the 128-bit key stays internal and the output is
    * all-BIGINT (driver-hashable; the round-7 DECIMAL-vs-HUGEINT
    * hasher lesson). Longer horizons: a gap > 29 days would floor
    * D div den silently and could mis-order near-equal slopes, so
    * BOTH engines raise on den > 29 (raise_error / error()) instead
    * of degrading — the documented lift is per-gap bucketing or a
    * DECIMAL D. */
  val q212: Q = (s, d) => {
    val D = 2329089562800L // lcm(1..29): every day-gap divides it
    val daily = graft.core.Pins.pin(
      t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("di"))
        .agg(sum(round(col("value") * 100).cast("long")).as("c")))
    val a = daily.select(col("event_type"), col("di").as("d1"), col("c").as("c1"))
    val b = daily.select(col("event_type"), col("di").as("d2"), col("c").as("c2"))
    val pairs = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
      .select(col("event_type"),
        (col("c2") - col("c1")).as("num"), (col("d2") - col("d1")).as("den"),
        col("d1"), col("d2"))
      .withColumn("key",
        col("num").cast("decimal(38,0)") * expr(
          s"CASE WHEN den > 29 THEN raise_error(" +
            "'q212: day gap > 29 exceeds the lcm(1..29) exact-ordering window')" +
            s" ELSE $D div den END"))
    val wOrd = Window.partitionBy(col("event_type"))
      .orderBy(col("key"), col("num"), col("den"), col("d1"), col("d2"))
    pairs
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("n_pairs", count(lit(1))
        .over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("event_type"), col("n_pairs"),
        col("num").as("med_num"), col("den").as("med_den"))
      .orderBy(col("event_type"))
  }

  val q212Sql: String =
    """WITH daily AS (SELECT event_type,
      |         epoch_us(ts) // 86400000000 AS di,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      |       FROM events GROUP BY 1, 2),
      |pairs AS (SELECT a.event_type,
      |            b.c - a.c AS num, b.di - a.di AS den,
      |            a.di AS d1, b.di AS d2,
      |            CAST(b.c - a.c AS HUGEINT)
      |              * (CASE WHEN b.di - a.di > 29 THEN CAST(error(
      |                   'q212: day gap > 29 exceeds the lcm(1..29) window')
      |                   AS BIGINT)
      |                 ELSE 2329089562800 // (b.di - a.di) END) AS key
      |          FROM daily a JOIN daily b
      |            ON a.event_type = b.event_type AND a.di < b.di),
      |r AS (SELECT *,
      |        row_number() OVER (PARTITION BY event_type
      |          ORDER BY key, num, den, d1, d2) AS rn,
      |        count(*) OVER (PARTITION BY event_type) AS n_pairs
      |      FROM pairs)
      |SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
      |       num AS med_num, den AS med_den
      |FROM r WHERE rn = (n_pairs + 1) // 2
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q215
  /** LAST-TOUCH ATTRIBUTION with a lookback window — the marketing
    * core query (every purchase credits the MOST RECENT click within
    * 1 hour; q87's funnel counts step conversion, this assigns each
    * conversion to its touchpoint and measures the lag): per user,
    * purchases / attributed purchases / total click→purchase lag.
    * The scalable form is ONE user-keyed window — carry the last
    * click timestamp forward over the event sequence (LOCF,
    * last(..., ignoreNulls) over the ordered frame) and test the
    * 1-hour bound at each purchase row; no self-join ever exists.
    * The ORACLE is the OTHER formulation — a correlated subquery
    * max(click.ts ≤ purchase.ts) per purchase — so agreement proves
    * the window carry enumerates exactly the correlated maxima.
    * Tie-safe: a click and purchase at the SAME microsecond — the
    * sequence orders by (ts, event_id) and the purchase looks back
    * over PRECEDING rows only, so a same-instant click qualifies
    * iff its event_id orders first; the oracle states the identical
    * rule (c.ts < p.ts OR (c.ts = p.ts AND c.id < p.id)). All epoch
    * micros, exact longs. Partitions by user (q131's layout). */
  val q215: Q = (s, d) => {
    val wSeq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, d, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("last_click_us",
        last(when(col("event_type") === "click", col("ts_us")), ignoreNulls = true)
          .over(wSeq))
      .filter(col("event_type") === "purchase")
      .withColumn("lag_us", col("ts_us") - col("last_click_us"))
      .withColumn("attributed",
        (col("last_click_us").isNotNull && col("lag_us") <= 3600000000L)
          .cast("long"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("attributed")).as("n_attributed"),
        coalesce(sum(when(col("attributed") === 1, col("lag_us"))), lit(0L))
          .as("lag_us_total"))
      .orderBy(col("user_id"))
  }

  val q215Sql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type,
      |              epoch_us(ts) AS ts_us FROM events),
      |p AS (SELECT user_id, event_id, ts_us,
      |        (SELECT max(c.ts_us) FROM ev c
      |         WHERE c.user_id = p0.user_id AND c.event_type = 'click'
      |           AND (c.ts_us < p0.ts_us
      |                OR (c.ts_us = p0.ts_us AND c.event_id < p0.event_id)))
      |          AS last_click_us
      |      FROM ev p0 WHERE event_type = 'purchase'),
      |a AS (SELECT user_id,
      |        CASE WHEN last_click_us IS NOT NULL
      |                  AND ts_us - last_click_us <= 3600000000
      |             THEN 1 ELSE 0 END AS attributed,
      |        ts_us - last_click_us AS lag_us
      |      FROM p)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(sum(attributed) AS BIGINT) AS n_attributed,
      |       CAST(coalesce(sum(CASE WHEN attributed = 1 THEN lag_us END), 0)
      |            AS BIGINT) AS lag_us_total
      |FROM a GROUP BY 1 ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- Q217
  /** ORDERED SEQUENCE-PATTERN match — view → click → purchase within
    * 2 hours, per user (the MATCH_RECOGNIZE shape; q87's funnel
    * counts step populations, q215 attributes ONE hop — this matches
    * the strict 3-step chain with a span bound): a purchase COMPLETES
    * the pattern iff its most recent preceding click has a view
    * before IT, and the whole view→purchase span fits in 2 h (the
    * last-touch chain convention: each step binds to its most recent
    * qualifying predecessor, each purchase matches at most once).
    * The scalable form is ONE user-keyed window pass with CHAINED
    * LOCF carries — carry last_view_us; at click rows materialize
    * "click with its view" (the view carried at that click); carry
    * THAT forward; test the span at purchase rows. No join, no
    * per-pattern state machine, rows stream through two
    * last(ignoreNulls) frames. The ORACLE is the independent
    * nested-correlated-max formulation (max view < max click <
    * purchase). Same-instant ties ordered by (ts, event_id), stated
    * identically in both engines. Output per user: purchases,
    * completed sequences, total view→purchase span. */
  val q217: Q = (s, d) => {
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, d, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("last_view_us",
        last(when(col("event_type") === "view", col("ts_us")), ignoreNulls = true)
          .over(wPrev))
      .withColumn("click_view_us",
        when(col("event_type") === "click", col("last_view_us")))
      .withColumn("chain_view_us",
        last(col("click_view_us"), ignoreNulls = true).over(wPrev))
      .filter(col("event_type") === "purchase")
      .withColumn("matched",
        (col("chain_view_us").isNotNull &&
          col("ts_us") - col("chain_view_us") <= 7200000000L).cast("long"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("matched")).as("n_matched"),
        coalesce(sum(when(col("matched") === 1,
          col("ts_us") - col("chain_view_us"))), lit(0L)).as("span_us_total"))
      .orderBy(col("user_id"))
  }

  val q217Sql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type,
      |              epoch_us(ts) AS ts_us FROM events),
      |pc AS (SELECT p0.user_id, p0.ts_us, ck.cts, ck.cid
      |       FROM ev p0 LEFT JOIN LATERAL (
      |         SELECT c.ts_us AS cts, c.event_id AS cid FROM ev c
      |         WHERE c.user_id = p0.user_id AND c.event_type = 'click'
      |           AND (c.ts_us, c.event_id) < (p0.ts_us, p0.event_id)
      |         ORDER BY c.ts_us DESC, c.event_id DESC LIMIT 1) ck ON TRUE
      |       WHERE p0.event_type = 'purchase'),
      |p AS (SELECT user_id, ts_us,
      |        (SELECT max(v.ts_us) FROM ev v
      |         WHERE v.user_id = pc.user_id AND v.event_type = 'view'
      |           AND pc.cts IS NOT NULL
      |           AND (v.ts_us, v.event_id) < (pc.cts, pc.cid))
      |          AS chain_view_us
      |      FROM pc),
      |a AS (SELECT user_id,
      |        CASE WHEN chain_view_us IS NOT NULL
      |                  AND ts_us - chain_view_us <= 7200000000
      |             THEN 1 ELSE 0 END AS matched,
      |        ts_us - chain_view_us AS span_us
      |      FROM p)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(sum(matched) AS BIGINT) AS n_matched,
      |       CAST(coalesce(sum(CASE WHEN matched = 1 THEN span_us END), 0)
      |            AS BIGINT) AS span_us_total
      |FROM a GROUP BY 1 ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- Q221
  /** WEIGHTED Poisson sampling — inclusion probability ∝ order value
    * (importance sampling for curation mixing; completes the sampling
    * shelf: q110 is uniform fixed-size, q111 epoch oversampling, q163
    * temperature mixing — this is the VALUE-weighted member): order i
    * enters the sample iff h52(i)·Σw < n·w_i·2⁵² — the md5-hash
    * threshold (q110's deterministic-hash machinery) stated as a
    * DECIMAL(38,0)/HUGEINT cross-multiplication, so inclusion
    * probability is min(1, n·w_i/Σw) with NO float probability ever
    * materializing, the expected size n = 1000 is scale-free
    * (relative shares), and — the A-ES "certainty tier" — any order
    * with n·w_i ≥ Σw satisfies the inequality for every hash value
    * and is ALWAYS included, with no special-casing: the algebra
    * does it. Deterministic ⇒ the oracle replays inclusion exactly
    * (sqlHex52's digit-exact DuckDB rendering of the 52-bit md5
    * prefix). Dataflow: one Σw fold broadcast into a scan-local
    * filter, one priority-sized fold — the sample never shuffles. */
  val q221: Q = (s, d) => {
    val M = 4503599627370496L // 2^52
    val o = t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"),
      round(col("o_totalprice") * 100).cast("long").as("w"))
    val tot = o.agg(sum(col("w")).as("sw"))
    o.crossJoin(broadcast(tot))
      .withColumn("h52",
        conv(substring(md5(col("o_orderkey").cast("string")), 1, 13), 16, 10)
          .cast("long"))
      .filter(col("h52").cast("decimal(38,0)") * col("sw") <
        lit(1000L).cast("decimal(38,0)") * col("w") * lit(M))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("w")).as("sum_w_cents"))
      .orderBy(col("o_orderpriority"))
  }

  val q221Sql: String =
    s"""WITH o AS (SELECT o_orderkey, o_orderpriority,
      |             CAST(round(o_totalprice * 100) AS BIGINT) AS w FROM orders),
      |tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM o),
      |s AS (SELECT o_orderpriority, w,
      |        ${sqlHex52("md5(CAST(o_orderkey AS VARCHAR))")} AS h52
      |      FROM o)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_sampled,
      |       CAST(sum(w) AS BIGINT) AS sum_w_cents
      |FROM s, tot
      |WHERE CAST(h52 AS HUGEINT) * sw
      |        < CAST(1000 AS HUGEINT) * w * 4503599627370496
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** name → (query, oracle) */
  // --------------------------------------------------------------- Q236
  /** OFFLINE CHANGEPOINT detection per event type — the single
    * level-shift locator (binary-segmentation's first and dominant
    * step; q189's CUSUM pages online, q205's EWMA smooths — this
    * answers "WHERE did the level change?" in retrospect): the split
    * t* maximizing the between-segment sum of squares, which for a
    * candidate split after position t reduces to maximizing the exact
    * rational g(t) = (n·S₁(t) − t·S)² / (t(n−t)) (S₁ = prefix sum —
    * the n·BSS identity, so no mean or variance ever materializes).
    * Ordering the rationals exactly: num ~ 10¹⁹ needs DECIMAL(38,0),
    * and the argmax key is the EXACT floor ⌊num·10⁶/den⌋ computed as
    * (num·10⁶ − mod)/den in Spark decimals and num·10⁶ // den in
    * DuckDB HUGEINTs — floor-exact in both, and EXACT as an order:
    * distinct g values differ by ≥ 1/(den·den') ≥ 1/(n²/4)² while
    * the scaling resolves 10⁻⁶ (documented for n ≤ ~500 days; the
    * 10¹⁰ lift is the longer-horizon dial) — ties broken by the
    * earliest split (t asc), stated identically in both engines.
    * One corpus-sized day fold; prefix sums and the argmax ride one
    * type-keyed exchange over span-days rows. Output: the split
    * position and the exact segment sums (s1, t) / (s2, n−t) — the
    * segment means' full rational identity. */
  val q236: Q = (s, d) => {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("di"))
    val wAll = Window.partitionBy(col("event_type"))
    val dec = "decimal(38,0)"
    val cand = t(s, d, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("di"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("s1", sum(col("x")).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("x")).over(wAll))
      .filter(col("t") < col("n"))
      .withColumn("num", {
        // operands lift to decimal BEFORE the multiplies (the oracle's
        // HUGEINT lift): n·s1 and t·s pass 2⁶³ near total-cents × span
        // ~ 9.2e18, where a Long product wraps silently
        val dlt = col("n").cast(dec) * col("s1") - col("t").cast(dec) * col("s")
        (dlt * dlt).cast(dec)
      })
      .withColumn("den", col("t") * (col("n") - col("t")))
      .withColumn("kd", (col("num") * 1000000).cast(dec))
      .withColumn("key", (col("kd") - expr("kd % den")) / col("den"))
    cand
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("key").desc, col("t"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        col("t").as("t_split"), col("di").as("d_split"),
        col("s1"), (col("s") - col("s1")).as("s2"))
      .orderBy(col("event_type"))
  }

  val q236Sql: String =
    """WITH daily AS (SELECT event_type,
      |         epoch_us(ts) // 86400000000 AS di,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |       FROM events GROUP BY 1, 2),
      |pre AS (SELECT event_type, di,
      |          CAST(row_number() OVER w AS BIGINT) AS t,
      |          CAST(sum(x) OVER w AS BIGINT) AS s1,
      |          CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |          CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s
      |        FROM daily
      |        WINDOW w AS (PARTITION BY event_type ORDER BY di
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |cand AS (SELECT *,
      |           CAST(n AS HUGEINT) * s1 - CAST(t AS HUGEINT) * s AS dlt,
      |           CAST(t * (n - t) AS HUGEINT) AS den
      |         FROM pre WHERE t < n),
      |keyed AS (SELECT *, (dlt * dlt) * 1000000 // den AS key FROM cand),
      |top AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |          ORDER BY key DESC, t) AS rn
      |        FROM keyed)
      |SELECT event_type, n AS n_days, t AS t_split, di AS d_split,
      |       s1, CAST(s - s1 AS BIGINT) AS s2
      |FROM top WHERE rn = 1 ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q239
  /** SEASONAL Mann–Kendall trend test per event type — q197's MK with
    * the comparison CONFINED TO WEEKDAY STRATA (Monday vs Mondays,
    * …), so the weekly cycle that inflates plain MK's variance (and
    * can mask or fake a trend) cancels by construction — the
    * Hirsch–Slack seasonal form. S = Σ over strata of the pairwise
    * sign sum (exact BIGINT; pairs are per-stratum grid² — ≤ C(5,2)
    * per weekday per type at a 30-day span, bounded by the calendar,
    * never the corpus), and the null variance rides along exactly as
    * var18 = Σ_s n_s(n_s−1)(2n_s+5) (VAR(S) = var18/18 — the /18
    * and the z-score are the caller's float boundary). Weekday via
    * Spark `weekday`/DuckDB `isodow−1`, pinned to the same
    * Monday-based convention (the q194 lesson). One day fold; pairs
    * generate from a (type, weekday)-keyed self-join of the pinned
    * grid. */
  val q239: Q = (s, d) => {
    val daily = graft.core.Pins.pin(
      t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x"))
        .withColumn("wd", weekday(col("day")).cast("long")))
    val a = daily.select(col("event_type"), col("wd"),
      col("day").as("d1"), col("x").as("x1"))
    val b = daily.select(col("event_type"), col("wd"),
      col("day").as("d2"), col("x").as("x2"))
    val sSum = a.join(b, Seq("event_type", "wd"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("event_type"))
      .agg(sum(signum((col("x2") - col("x1")).cast("double")).cast("long"))
        .as("s_total"), count(lit(1)).as("n_pairs"))
    val varS = daily.groupBy(col("event_type"), col("wd"))
      .agg(count(lit(1)).as("n_s"))
      .groupBy(col("event_type"))
      .agg(sum(col("n_s") * (col("n_s") - 1) * (col("n_s") * 2 + 5))
        .as("var18"), sum(col("n_s")).as("n_days"))
    sSum.join(varS, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("s_total"), col("var18"))
      .orderBy(col("event_type"))
  }

  val q239Sql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |         (isodow(CAST(ts AS DATE)) - 1) AS wd,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |       FROM events GROUP BY 1, 2, 3),
      |ss AS (SELECT a.event_type,
      |         CAST(sum(sign(b.x - a.x)) AS BIGINT) AS s_total,
      |         CAST(count(*) AS BIGINT) AS n_pairs
      |       FROM daily a JOIN daily b
      |         ON a.event_type = b.event_type AND a.wd = b.wd AND a.day < b.day
      |       GROUP BY 1),
      |vs AS (SELECT event_type,
      |         CAST(sum(n_s * (n_s - 1) * (2 * n_s + 5)) AS BIGINT) AS var18,
      |         CAST(sum(n_s) AS BIGINT) AS n_days
      |       FROM (SELECT event_type, wd, CAST(count(*) AS BIGINT) AS n_s
      |             FROM daily GROUP BY 1, 2)
      |       GROUP BY 1)
      |SELECT ss.event_type, n_days, n_pairs, s_total, var18
      |FROM ss JOIN vs ON ss.event_type = vs.event_type
      |ORDER BY ss.event_type""".stripMargin

  // --------------------------------------------------------------- Q241
  /** CLAMPED LOYALTY LEDGER per user ([[graft.operators.KeyedLedger]])
    * — earn on purchases (cents div 10 points), burn on errors
    * (cents div 5), balance clamped to [0, 5000] in (ts, event_id)
    * order. The point of the query: the clamp makes each step depend
    * on the POST-CLAMP previous value, so NO window/prefix-sum
    * reformulation exists (q146/q205 unroll; this cannot) — the batch
    * form is the typed flatMapGroups sequential fold (one key
    * shuffle, O(1) state, retention-bounded rows per key), and the
    * ORACLE is the OTHER mechanism entirely: a DuckDB recursive CTE
    * stepping every user's chain one posting per iteration, so
    * agreement proves the fold against an independent sequential
    * semantics. All arithmetic exact Long; div on non-negative cents
    * before the burn negation, so truncation ≡ floor ≡ //. */
  val q241: Q = (s, d) => {
    import s.implicits._
    val ev = t(s, d, "events")
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id").as("key"), col("event_id").as("seq"),
        unix_micros(col("ts")).as("tsUs"),
        when(col("event_type") === "purchase",
          expr("CAST(round(value * 100) AS BIGINT) div 10"))
          .otherwise(-expr("CAST(round(value * 100) AS BIGINT) div 5"))
          .as("delta"))
      .as[graft.operators.LedgerEvent]
    graft.operators.KeyedLedger.cappedBalance(ev, 0L, 5000L)
      .toDF().withColumnRenamed("key", "user_id")
      .orderBy(col("user_id"))
  }

  val q241Sql: String =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |         AS BIGINT) AS rn,
      |    CASE WHEN event_type = 'purchase'
      |         THEN CAST(round(value * 100) AS BIGINT) // 10
      |         ELSE -(CAST(round(value * 100) AS BIGINT) // 5) END AS delta
      |  FROM events WHERE event_type IN ('purchase', 'error')),
      |nn AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      |       FROM ev GROUP BY 1),
      |st AS (
      |  SELECT user_id, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS bal,
      |         CAST(0 AS BIGINT) AS nc, CAST(0 AS BIGINT) AS nf
      |  FROM nn
      |  UNION ALL
      |  SELECT s.user_id, s.rn + 1,
      |    CASE WHEN s.bal + e.delta > 5000 THEN 5000
      |         WHEN s.bal + e.delta < 0 THEN 0
      |         ELSE s.bal + e.delta END,
      |    s.nc + CASE WHEN s.bal + e.delta > 5000 THEN 1 ELSE 0 END,
      |    s.nf + CASE WHEN s.bal + e.delta < 0 THEN 1 ELSE 0 END
      |  FROM st s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1)
      |SELECT st.user_id, nn.n_events, st.bal AS final_balance,
      |       st.nc AS n_capped, st.nf AS n_floored
      |FROM st JOIN nn ON st.user_id = nn.user_id AND st.rn = nn.n_events
      |ORDER BY st.user_id""".stripMargin

  val entries: Seq[(String, Q, String)] = Seq(
    ("q159_prefix_filter_join", q159, q159Sql),
    ("q160_trend_ols", q160, q160Sql),
    ("q161_column_profile", q161, q161Sql),
    ("q163_temperature_mix", q163, q163Sql),
    ("q164_value_hour_corr", q164, q164Sql),
    ("q165_scd2_history", q165, q165Sql),
    ("q166_snapshot_diff", q166, q166Sql),
    ("q167_equidepth_hist", q167, q167Sql),
    ("q170_mad_outliers", q170, q170Sql),
    ("q171_skyline", q171, q171Sql),
    ("q172_neyman_allocation", q172, q172Sql),
    ("q173_snm_dedup", q173, q173Sql),
    ("q174_wilson_ranking", q174, q174Sql),
    ("q175_fd_profile", q175, q175Sql),
    ("q176_autocorrelation", q176, q176Sql),
    ("q178_twap", q178, q178Sql),
    ("q180_benford", q180, q180Sql),
    ("q181_k_anonymity", q181, q181Sql),
    ("q182_pit_join", q182, q182Sql),
    ("q188_rolling_median", q188, q188Sql),
    ("q189_cusum", q189, q189Sql),
    ("q190_streaks", q190, q190Sql),
    ("q191_interval_coverage", q191, q191Sql),
    ("q193_km_survival", q193, q193Sql),
    ("q194_multi_ols", q194, q194Sql),
    ("q196_mann_whitney", q196, q196Sql),
    ("q197_mann_kendall", q197, q197Sql),
    ("q198_key_skew", q198, q198Sql),
    ("q199_quantile_norm", q199, q199Sql),
    ("q203_record_linkage", q203, q203Sql),
    ("q212_theil_sen", q212, q212Sql),
    ("q215_attribution", q215, q215Sql),
    ("q217_sequence_match", q217, q217Sql),
    ("q221_weighted_sample", q221, q221Sql),
    ("q236_changepoint", q236, q236Sql),
    ("q239_seasonal_mk", q239, q239Sql),
    ("q241_capped_ledger", q241, q241Sql),
    ("q204_interval_overlap_join", q204, q204Sql),
    ("q205_ewma_chart", q205, q205Sql))
}

