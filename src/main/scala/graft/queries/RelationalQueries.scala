package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Relational breadth beyond the core set: correlated subqueries
  * (Catalyst decorrelation), exact percentiles, date arithmetic, string
  * functions, array functions, and NOT EXISTS anti-semantics — each with
  * a DuckDB oracle. SQL-text entries register temp views and go through
  * `spark.sql` deliberately, exercising the parser/analyzer path the
  * DataFrame queries skip.
  */
object RelationalQueries {
  import CoreQueries.Q

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  private def withViews(s: SparkSession, d: String, names: String*)(sql: String): DataFrame = {
    names.foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(sql)
  }

  // --------------------------------------------------------------- Q31
  /** Correlated scalar subquery: customers above their nation's average
    * balance. Catalyst decorrelates to an aggregate + join (check the
    * plan: no per-row subquery execution). */
  val q31: Q = (s, d) => withViews(s, d, "customer")(
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
      |                   WHERE c2.c_nationkey = c.c_nationkey)
      |ORDER BY c_custkey""".stripMargin)

  val q31Sql: String =
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
      |                   WHERE c2.c_nationkey = c.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------- Q32
  /** Exact percentiles (linear interpolation) per order priority —
    * re-based round 13 on the DISTRIBUTION-GRID form: the original
    * `percentile()` aggregate buffers a value→count OpenHashMap PER
    * GROUP inside one aggregation buffer, and with o_totalprice
    * near-unique (14999/15000 distinct at sf0.01) that buffer is
    * corpus-sized state in a single unspillable map — the one declared
    * aggregate whose memory grew with the corpus (§6.1 round-13 probe:
    * the buffer form's single-task wall grows superlinearly at 10×/
    * 100× orders while this form's max task stays bounded). Here the
    * heavy relation is the (priority, value, count) DISTRIBUTION,
    * exchanged ONCE (explicit repartition on priority; the subset-
    * partitioning trick lets the (priority, value) groupBy, both
    * windows, and the final fold all run partition-local) and sorted
    * by a SPILLABLE window sort; the percentile is then exact index
    * arithmetic: 0-based rank r = p·(n−1) carried in integer TENTHS
    * (r10 = p10·(n−1), lower = r10 div 10, rem = r10 mod 10), the two
    * bracketing grid values picked by cumulative-count containment,
    * and one scalar interpolation vl + rem·(vh−vl)/10 per output row —
    * the only float ops are single IEEE scalar mul/div on two doubles,
    * deterministic across engines, under the same floor-truncation
    * output guard as before. The oracle replays the identical grid
    * walk (no quantile_cont). */
  val q32: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"))
    val wp = Window.partitionBy(col("o_orderpriority"))
    val cum = t(s, d, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"))
      .repartition(col("o_orderpriority"))
      .groupBy(col("o_orderpriority"), col("o_totalprice"))
      .agg(count(lit(1)).as("c"))
      .withColumn("hi_idx", sum(col("c")).over(w))
      .withColumn("lo_idx", col("hi_idx") - col("c"))
      .withColumn("n", sum(col("c")).over(wp))
      .withColumn("l50", expr("(n - 1) * 5 div 10"))
      .withColumn("rem50", expr("(n - 1) * 5 % 10"))
      .withColumn("l90", expr("(n - 1) * 9 div 10"))
      .withColumn("rem90", expr("(n - 1) * 9 % 10"))
    def at(l: org.apache.spark.sql.Column) =
      max(when(col("lo_idx") <= l && l < col("hi_idx"), col("o_totalprice")))
    def interp(vl: String, vh: String, rem: String) =
      floor((col(vl) + col(rem) * (coalesce(col(vh), col(vl)) - col(vl))
        / lit(10.0)) * 100.0) / 100.0
    cum.groupBy(col("o_orderpriority"))
      .agg(at(col("l50")).as("v50l"), at(col("l50") + 1).as("v50h"),
        at(col("l90")).as("v90l"), at(col("l90") + 1).as("v90h"),
        max(col("rem50")).as("rem50"), max(col("rem90")).as("rem90"),
        max(col("n")).as("n"))
      .select(col("o_orderpriority"),
        interp("v50l", "v50h", "rem50").as("p50"),
        interp("v90l", "v90h", "rem90").as("p90"),
        col("n"))
      .orderBy(col("o_orderpriority"))
  }

  val q32Sql: String =
    """WITH dist AS (SELECT o_orderpriority, o_totalprice AS v,
      |                CAST(count(*) AS BIGINT) AS c
      |              FROM orders GROUP BY 1, 2),
      |cum AS (SELECT o_orderpriority, v, c,
      |          sum(c) OVER (PARTITION BY o_orderpriority ORDER BY v) AS hi_idx,
      |          sum(c) OVER (PARTITION BY o_orderpriority) AS n
      |        FROM dist),
      |cc AS (SELECT o_orderpriority, v, hi_idx - c AS lo_idx, hi_idx, n,
      |          (n - 1) * 5 // 10 AS l50, (n - 1) * 5 % 10 AS rem50,
      |          (n - 1) * 9 // 10 AS l90, (n - 1) * 9 % 10 AS rem90
      |        FROM cum),
      |pk AS (SELECT o_orderpriority,
      |         max(CASE WHEN lo_idx <= l50 AND l50 < hi_idx THEN v END) AS v50l,
      |         max(CASE WHEN lo_idx <= l50 + 1 AND l50 + 1 < hi_idx THEN v END) AS v50h,
      |         max(CASE WHEN lo_idx <= l90 AND l90 < hi_idx THEN v END) AS v90l,
      |         max(CASE WHEN lo_idx <= l90 + 1 AND l90 + 1 < hi_idx THEN v END) AS v90h,
      |         max(rem50) AS rem50, max(rem90) AS rem90, max(n) AS n
      |       FROM cc GROUP BY 1)
      |SELECT o_orderpriority,
      |       floor((v50l + rem50 * (coalesce(v50h, v50l) - v50l) / 10.0) * 100.0) / 100.0 AS p50,
      |       floor((v90l + rem90 * (coalesce(v90h, v90l) - v90l) / 10.0) * 100.0) / 100.0 AS p90,
      |       CAST(n AS BIGINT) AS n
      |FROM pk ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- Q33
  /** Date arithmetic: per order month (UTC), order count, distinct
    * order days, max day-of-month. */
  val q33: Q = (s, d) =>
    t(s, d, "orders")
      .groupBy(unix_micros(date_trunc("month", col("o_orderdate"))).as("month_us"))
      .agg(count(lit(1)).as("n"),
        countDistinct(to_date(col("o_orderdate"))).as("n_days"),
        max(dayofmonth(col("o_orderdate"))).cast("long").as("max_dom"))
      .orderBy(col("month_us"))

  val q33Sql: String =
    """SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
      |       count(*) AS n,
      |       count(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
      |       CAST(max(day(o_orderdate)) AS BIGINT) AS max_dom
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- Q34
  /** String function sampler per part brand: upper/substr/split_part/
    * length aggregates (binary collation on both engines). */
  val q34: Q = (s, d) =>
    t(s, d, "part")
      .groupBy(col("p_brand"))
      .agg(
        min(upper(col("p_name"))).as("min_upper"),
        max(substring(col("p_name"), 1, 5)).as("max_pref"),
        countDistinct(split_part(col("p_type"), lit(" "), lit(1))).as("n_type_heads"),
        sum(length(col("p_name"))).as("sum_len"))
      .orderBy(col("p_brand"))

  val q34Sql: String =
    """SELECT p_brand,
      |       min(upper(p_name)) AS min_upper,
      |       max(substr(p_name, 1, 5)) AS max_pref,
      |       count(DISTINCT split_part(p_type, ' ', 1)) AS n_type_heads,
      |       CAST(sum(length(p_name)) AS BIGINT) AS sum_len
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // --------------------------------------------------------------- Q35
  /** Array-function sampler over tokenized documents: sizes, distinct
    * sizes, boundary elements, containment. */
  val q35: Q = (s, d) => {
    val toks = split(col("text"), " ")
    t(s, d, "documents")
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        element_at(toks, 1).as("first_tok"),
        element_at(toks, -1).as("last_tok"),
        array_contains(toks, "spark").cast("int").cast("long").as("has_spark"))
      .orderBy(col("doc_id"))
  }

  val q35Sql: String =
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
      |       string_split(text, ' ')[1] AS first_tok,
      |       string_split(text, ' ')[-1] AS last_tok,
      |       CAST(CASE WHEN list_contains(string_split(text, ' '), 'spark')
      |            THEN 1 ELSE 0 END AS BIGINT) AS has_spark
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q36
  /** NOT EXISTS anti-semantics through the SQL path: document sources
    * with no Chinese-language document (the dedup anti-join
    * generalization, planned as a broadcast anti join after
    * decorrelation). */
  val q36: Q = (s, d) => withViews(s, d, "documents")(
    """SELECT source, count(*) AS n_docs
      |FROM documents d
      |WHERE NOT EXISTS (SELECT 1 FROM documents x
      |                  WHERE x.source = d.source AND x.lang = 'zh')
      |GROUP BY source ORDER BY source""".stripMargin)

  val q36Sql: String =
    """SELECT source, count(*) AS n_docs
      |FROM documents d
      |WHERE NOT EXISTS (SELECT 1 FROM documents x
      |                  WHERE x.source = d.source AND x.lang = 'zh')
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- Q37
  /** Per-group top-k via the typed [[graft.operators.TopK]] Aggregator
    * (partial-aggregable: the shuffle carries k rows per group instead
    * of whole groups) — result-identical to the window formulation the
    * oracle uses. */
  val q37: Q = (s, d) => {
    import graft.operators.TopK
    t(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(TopK.topK(3)(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("pos", "item")))
      .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rank"),
        col("item._1").as("price"), col("item._2").as("o_orderkey"))
      .orderBy(col("o_orderpriority"), col("rank"))
  }

  val q37Sql: String =
    """SELECT o_orderpriority, rank, price, o_orderkey FROM (
      |  SELECT o_orderpriority, o_totalprice AS price, o_orderkey,
      |         CAST(row_number() OVER (PARTITION BY o_orderpriority
      |                ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank
      |  FROM orders)
      |WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin

  // --------------------------------------------------------------- Q40
  /** PIVOT: per-user event counts widened by event type (fixed value
    * list keeps the output schema static — required for both engines
    * and for any sane 100 TB plan). */
  val q40: Q = (s, d) =>
    t(s, d, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  val q40Sql: String =
    """SELECT user_id,
      |       count(*) FILTER (WHERE event_type = 'view') AS view,
      |       count(*) FILTER (WHERE event_type = 'click') AS click,
      |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |       count(*) FILTER (WHERE event_type = 'error') AS error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- Q41
  /** EXCEPT ALL / INTERSECT ALL — multiset set-ops (bag semantics keep
    * duplicate multiplicities, unlike q15's DISTINCT forms). */
  val q41: Q = (s, d) => {
    val ev = t(s, d, "events")
    def ids(et: String) = ev.filter(col("event_type") === et).select(col("user_id"))
    val exceptAll = ids("view").exceptAll(ids("click"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("view_except_all_click"))
    val intersectAll = ids("view").intersectAll(ids("purchase"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("view_intersect_all_purchase"))
    exceptAll.unionByName(intersectAll)
      .select(col("op"), col("user_id"), col("n"))
      .orderBy(col("op"), col("user_id"))
  }

  val q41Sql: String =
    """SELECT 'view_except_all_click' AS op, user_id, count(*) AS n FROM (
      |  SELECT user_id FROM events WHERE event_type = 'view'
      |  EXCEPT ALL
      |  SELECT user_id FROM events WHERE event_type = 'click') GROUP BY user_id
      |UNION ALL
      |SELECT 'view_intersect_all_purchase' AS op, user_id, count(*) AS n FROM (
      |  SELECT user_id FROM events WHERE event_type = 'view'
      |  INTERSECT ALL
      |  SELECT user_id FROM events WHERE event_type = 'purchase') GROUP BY user_id
      |ORDER BY op, user_id""".stripMargin

  // --------------------------------------------------------------- Q42
  /** RANGE window frames: per event, the count and sum of events whose
    * event_id lies within the preceding 100 ids (value-based frame, not
    * row-based).
    *
    * BOUNDED-INPUT CONTRACT: the frame is deliberately global (no
    * PARTITION BY — the range frame spans the whole id line), so the
    * window runs in ONE task over whatever passes the filter. The
    * literal `event_id < 2000` bounds that input to a CONSTANT row
    * count at any SF, which is what makes the single-partition window
    * acceptable here; an unbounded global range frame would need a
    * partition key or a two-pass prefix-sum formulation instead. The
    * WindowExec "No Partition Defined" warning this emits is therefore
    * expected and safe — by declared design, not oversight. */
  val q42: Q = (s, d) => {
    val w = Window.orderBy(col("event_id")).rangeBetween(-100L, Window.currentRow)
    t(s, d, "events")
      .filter(col("event_id") < 2000)
      .select(col("event_id"),
        count(lit(1)).over(w).as("n_in_range"),
        round(sum(graft.core.Dsl.dec2(col("value"))).over(w).cast("double"), 2)
          .as("sum_in_range"))
      .orderBy(col("event_id"))
  }

  val q42Sql: String =
    """SELECT event_id,
      |  count(*) OVER (ORDER BY event_id RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS n_in_range,
      |  round(CAST(sum(CAST(value AS DECIMAL(15,2)))
      |    OVER (ORDER BY event_id RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS sum_in_range
      |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- Q43
  /** Window navigation functions: first/last/nth event type per user's
    * timeline (full frame so last_value is the true last). */
  val q43: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, d, "events")
      .select(col("user_id"),
        first(col("event_type")).over(w).as("first_et"),
        last(col("event_type")).over(w).as("last_et"),
        nth_value(col("event_type"), 2).over(w).as("second_et"))
      .distinct()
      .orderBy(col("user_id"))
  }

  val q43Sql: String =
    """SELECT DISTINCT user_id,
      |  first_value(event_type) OVER w AS first_et,
      |  last_value(event_type) OVER w AS last_et,
      |  nth_value(event_type, 2) OVER w AS second_et
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- Q44
  /** Explicit GROUPING SETS with grouping() flags — the general lattice
    * q14/q29 specialize. */
  val q44: Q = (s, d) => withViews(s, d, "events")(
    """SELECT event_type, user_id % 10 AS cohort,
      |       CAST(grouping(event_type) AS INT) AS g_et,
      |       CAST(grouping(user_id % 10) AS INT) AS g_cohort,
      |       count(*) AS n
      |FROM events
      |GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
      |ORDER BY g_et, g_cohort, event_type NULLS FIRST, cohort NULLS FIRST""".stripMargin)

  val q44Sql: String =
    """SELECT event_type, user_id % 10 AS cohort,
      |       CAST(grouping(event_type) AS INT) AS g_et,
      |       CAST(grouping(user_id % 10) AS INT) AS g_cohort,
      |       count(*) AS n
      |FROM events
      |GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
      |ORDER BY g_et, g_cohort, event_type NULLS FIRST, cohort NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- Q48
  /** Data-quality audit over lineitem: four declarative rules counted in
    * ONE scan plus a referential check against orders — the generalized
    * form of the reference's drop-with-metric row validation
    * (routeviews.go:101-106). */
  val q48: Q = (s, d) => {
    import graft.operators.Expectations
    import graft.operators.Expectations.Rule
    val li = t(s, d, "lineitem")
    val rowRules = Expectations.audit(li, Seq(
      Rule("qty_in_range", col("l_quantity").between(1, 50)),
      Rule("price_positive", col("l_extendedprice") > 0),
      Rule("discount_unit_interval", col("l_discount").between(0, 1)),
      Rule("ship_before_2002", col("l_shipdate") < lit("2002-01-01").cast("timestamp"))))
    val dangling = Expectations.danglingForeignKeys(
        li, col("l_orderkey"), t(s, d, "orders"), col("o_orderkey"))
      .agg(count(lit(1)).as("violations"))
      .select(lit("orderkey_exists").as("rule"), col("violations"),
        lit(null).cast("long").as("total"))
    rowRules.unionByName(dangling).orderBy(col("rule"))
  }

  val q48Sql: String =
    """SELECT rule, violations, total FROM (
      |  SELECT 'qty_in_range' AS rule,
      |         count(*) FILTER (WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50) AS violations,
      |         count(*) AS total FROM lineitem
      |  UNION ALL
      |  SELECT 'price_positive',
      |         count(*) FILTER (WHERE l_extendedprice IS NULL OR l_extendedprice <= 0), count(*) FROM lineitem
      |  UNION ALL
      |  SELECT 'discount_unit_interval',
      |         count(*) FILTER (WHERE l_discount IS NULL OR l_discount < 0 OR l_discount > 1), count(*) FROM lineitem
      |  UNION ALL
      |  SELECT 'ship_before_2002',
      |         count(*) FILTER (WHERE l_shipdate IS NULL OR l_shipdate >= TIMESTAMP '2002-01-01'), count(*) FROM lineitem
      |  UNION ALL
      |  SELECT 'orderkey_exists',
      |         (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
      |            AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
      |         NULL)
      |ORDER BY rule""".stripMargin

  // --------------------------------------------------------------- Q69
  /** UNPIVOT — the inverse reshaping of q40's pivot: a wide per-type
    * aggregate melts into (event_type, metric, v) long form via the
    * native `Dataset.unpivot` (one Expand node, no join, no shuffle
    * beyond the aggregate's own). Values cast to one type, as the
    * operator requires. */
  val q69: Q = (s, d) => {
    val agg = t(s, d, "events").groupBy(col("event_type"))
      .agg(round(sum(col("value")), 2).cast("double").as("sum_value"),
        count(lit(1)).cast("double").as("n_events"),
        countDistinct(col("user_id")).cast("double").as("n_users"))
    agg.unpivot(Array(col("event_type")),
        Array(col("sum_value"), col("n_events"), col("n_users")), "metric", "v")
      .orderBy(col("event_type"), col("metric"))
  }

  val q69Sql: String =
    """WITH a AS (SELECT event_type, round(sum(value), 2) AS sum_value,
      |             CAST(count(*) AS DOUBLE) AS n_events,
      |             CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users
      |           FROM events GROUP BY event_type)
      |SELECT event_type, metric, v
      |FROM a UNPIVOT (v FOR metric IN (sum_value, n_events, n_users))
      |ORDER BY event_type, metric""".stripMargin

  // --------------------------------------------------------------- Q70
  /** Time-series GAP FILL with forward fill: the hourly per-type rollup
    * joined onto the full hour spine (missing hours appear with n = 0
    * and a gap flag), the last observed hourly sum carried forward —
    * the regularization step before any windowed model consumes the
    * series. The spine is (types × hours): model-sized, generated, and
    * the fill is one window shuffle on event_type. The hourly rollup's
    * lineage feeds three consumers here (types, bounds, join side) —
    * at scale it IS the stored rollup table, read three times pruned,
    * not recomputed. */
  val q70: Q = (s, d) => {
    val hourUs = 3600000000L
    val hourly = t(s, d, "events")
      .groupBy(col("event_type"),
        (floor(unix_micros(col("ts")) / hourUs) * hourUs).as("hr_us"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    val bounds = hourly.agg(min(col("hr_us")).as("lo"), max(col("hr_us")).as("hi"))
    val spine = hourly.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(hourUs))).as("hr_us"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "hr_us"), "left")
      .select(col("event_type"), col("hr_us"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("n").isNull, 1L).otherwise(0L).as("gap"),
        last(col("sum_value"), ignoreNulls = true).over(w).as("ffill_value"))
      .orderBy(col("event_type"), col("hr_us"))
  }

  val q70Sql: String =
    """WITH hourly AS (SELECT event_type,
      |    CAST(floor(epoch_us(ts) / 3600000000) * 3600000000 AS BIGINT) AS hr_us,
      |    count(*) AS n, round(sum(value), 2) AS sum_value
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(hr_us) AS lo, max(hr_us) AS hi FROM hourly),
      |spine AS (SELECT event_type, unnest(generate_series(lo, hi, 3600000000)) AS hr_us
      |          FROM (SELECT DISTINCT event_type FROM hourly) CROSS JOIN b),
      |j AS (SELECT s.event_type, s.hr_us, h.n, h.sum_value
      |      FROM spine s LEFT JOIN hourly h USING (event_type, hr_us))
      |SELECT event_type, hr_us, coalesce(n, 0) AS n,
      |       CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gap,
      |       last_value(sum_value IGNORE NULLS) OVER (
      |         PARTITION BY event_type ORDER BY hr_us
      |         ROWS UNBOUNDED PRECEDING) AS ffill_value
      |FROM j ORDER BY event_type, hr_us""".stripMargin

  // --------------------------------------------------------------- Q77
  /** MERGE / SCD-1 upsert ([[graft.operators.Merge]]): a simulated
    * status-update feed (every 10th order flips to status 'X' with a
    * repriced total) merged into the orders table — updates win on key,
    * untouched rows carry through. The plan is ONE broadcast left-anti
    * join on the key plus a union: base data never shuffles, which is
    * the only viable shape when the base is 100 TB and the batch is
    * small. The stored-table form (read → merge → atomic two-rename
    * swap) is [[graft.operators.Merge.upsertInto]], spec-covered. */
  val q77: Q = (s, d) => {
    val base = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // reprice by an exactly-representable delta: round(x*1.1, 2) differs
    // between engines when the product's shortest decimal rendering
    // crosses a .005 boundary (Spark rounds the rendering, DuckDB the
    // binary value) — double + 1.0 is exact in both
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
        (col("o_totalprice") + 1.0).as("o_totalprice"))
    graft.operators.Merge.upsert(base, updates, Seq("o_orderkey"))
      .orderBy(col("o_orderkey"))
  }

  val q77Sql: String =
    """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |updates AS (SELECT o_orderkey, 'X' AS o_orderstatus,
      |              o_totalprice + 1.0 AS o_totalprice
      |            FROM base WHERE o_orderkey % 10 = 0)
      |SELECT o_orderkey, o_orderstatus, o_totalprice FROM updates
      |UNION ALL
      |SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice FROM base b
      |WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = b.o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------- Q153
  /** TPC-H Q3 shape — SHIPPING PRIORITY: top-10 unshipped orders by
    * revenue for one market segment. The canonical selective 3-way
    * join: both date filters and the segment filter PUSH into their
    * scans (PushedFilters — the plan reads a fraction of each table),
    * the filtered customer side broadcasts into orders, and the
    * orders⋈lineitem join shuffles only survivors. Revenue through the
    * exact-decimal accumulator ([[graft.core.Dsl]] — a float sum's
    * addition order would flip the 2-dp round); top-10 via
    * TakeOrderedAndProject, never a full sort. */
  val q153: Q = (s, d) => {
    import graft.core.Dsl.{dec2, dec4}
    val one = lit(1).cast(org.apache.spark.sql.types.DecimalType(5, 4))
    val cutoff = lit("1998-01-01").cast("timestamp")
    val cust = t(s, d, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = t(s, d, "orders")
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = t(s, d, "lineitem")
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        (dec2(col("l_extendedprice")) * (one - dec4(col("l_discount")))).as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("rev")).cast("double"), 2).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        unix_micros(col("o_orderdate")).as("o_date_us"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q153Sql: String =
    """SELECT l_orderkey,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
      |    * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2)
      |    AS revenue,
      |  epoch_us(o_orderdate) AS o_date_us, o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // --------------------------------------------------------------- Q154
  /** TPC-H Q5 shape — LOCAL SUPPLIER VOLUME: revenue by nation where
    * the ordering customer and the line's supplier sit in the SAME
    * nation of one region. The 6-way star join: region→nation→
    * {customer, supplier} are all dimension-sized and BROADCAST — the
    * only shuffle-weight joins are orders⋈lineitem and the final
    * nation fold; the same-nation predicate rides the supplier
    * broadcast (c_nationkey = s_nationkey), so no fact-side re-key.
    * This is the plan shape the 100 TB star schema depends on: facts
    * shuffle at most once, dimensions never do. */
  val q154: Q = (s, d) => {
    import graft.core.Dsl.{dec2, dec4}
    val one = lit(1).cast(org.apache.spark.sql.types.DecimalType(5, 4))
    val nat = t(s, d, "nation").join(
        t(s, d, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = t(s, d, "customer")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val supp = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val ord = t(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        (dec2(col("l_extendedprice")) * (one - dec4(col("l_discount")))).as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("rev")).cast("double"), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  val q154Sql: String =
    """SELECT n_name,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
      |    * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2)
      |    AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // --------------------------------------------------------------- Q155
  /** TPC-H Q10 shape — RETURNED ITEM reporting: top-20 customers by
    * revenue lost to returns in one quarter. Joins fact→orders
    * (selective date pushdown) →customer→nation (broadcast dims);
    * revenue exact-decimal; top-20 TakeOrderedAndProject. The report
    * carries the customer attributes straight through the aggregate
    * (functionally dependent on the key — no re-join to recover
    * them). */
  val q155: Q = (s, d) => {
    import graft.core.Dsl.{dec2, dec4}
    val one = lit(1).cast(org.apache.spark.sql.types.DecimalType(5, 4))
    val ord = t(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val nat = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
    t(s, d, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (dec2(col("l_extendedprice")) * (one - dec4(col("l_discount")))).as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_nationkey"))), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(round(sum(col("rev")).cast("double"), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  val q155Sql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
      |    * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2)
      |    AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // --------------------------------------------------------------- Q157
  /** TPC-H Q21 shape — SUPPLIERS WHO KEPT WAITING: for finished orders,
    * suppliers whose line shipped late while the order had OTHER
    * suppliers and NONE of them shipped late (the one hard canonical
    * join shape the star suite q153–q155 doesn't cover: a fact table
    * referenced THREE times — once as the driving row, once under
    * EXISTS, once under NOT EXISTS — with a non-equi residual on the
    * equi-joined key). The testdata carries no commit/receipt dates,
    * so "late" is the lineitem-LOCAL predicate l_shipdate ≥ 2000-01-01
    * (same role: a per-line boolean that varies within an order).
    *
    * Plan shape, audited (TpchJoinSpec): all three fact references
    * key on l_orderkey — the semi (l2: another supplier exists) and
    * anti (l3: no OTHER late supplier) joins carry their suppkey ≠
    * residual on the orderkey equi-join, so the fact shuffles on one
    * key throughout. The slim (orderkey, suppkey, late) projection is
    * PINNED and all three references read the one materialization
    * (unpinned, each reference re-plans the full scan — the q61-class
    * defect; the spec pins ZERO parquet lineitem scans in the residual
    * plan and the SMJ-with-residual shape with broadcasts disabled).
    * At 100 TB the pin is a 16-byte-per-line relation read three
    * times — cheaper than three fact scans but still triple-shuffle;
    * bucketing lineitem on l_orderkey erases all three exchanges, and
    * the ONE-SCAN rewrite (q158) erases two of the references
    * entirely — this form is declared as the canonical shape the
    * rewrite is proven against. */
  val q157: Q = (s, d) => {
    val cutoff = lit("2000-01-01").cast("timestamp")
    // ONE projected fact lineage, materialized once, referenced 3 times
    val li = graft.core.Pins.pin(
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") >= cutoff).as("late")))
    val l1 = li.filter(col("late")).select(col("l_orderkey"), col("l_suppkey"))
    val l2 = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
    val l3 = li.filter(col("late"))
      .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
    val ord = t(s, d, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    val supp = t(s, d, "supplier")
      .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin("NATION_3", "NATION_6", "NATION_9",
        "NATION_11", "NATION_14"))
      .select(col("s_suppkey"), col("s_name"))
    l1.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(l2, col("k2") === col("l_orderkey") && col("s2") =!= col("l_suppkey"),
        "leftsemi")
      .join(l3, col("k3") === col("l_orderkey") && col("s3") =!= col("l_suppkey"),
        "leftanti")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
  }

  private val q21Where =
    """WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate >= TIMESTAMP '2000-01-01'
      |  AND n_name IN ('NATION_3', 'NATION_6', 'NATION_9', 'NATION_11', 'NATION_14')
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate >= TIMESTAMP '2000-01-01')
      |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin

  val q157Sql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |""".stripMargin + q21Where

  // --------------------------------------------------------------- Q158
  /** q157's ONE-SCAN rewrite — the plan a 100 TB engine should prefer:
    * the EXISTS / NOT EXISTS pair over the fact table is really a
    * per-order aggregate question ("how many suppliers? how many LATE
    * suppliers?"), so fold lineitem ONCE by (orderkey, suppkey) with a
    * late-line count, fold again by orderkey (same partitioning — the
    * second groupBy and the g⋈o join plan ZERO new exchanges), and a
    * supplier qualifies when it has late lines, the order has another
    * supplier, and the late-supplier count is exactly one (then it IS
    * the one). numwait sums the supplier's late LINES per qualifying
    * order — exactly q157's per-l1-row count.
    *
    * The fact shuffles EXACTLY ONCE: an explicit repartition on
    * l_orderkey, after which the (orderkey, suppkey) groupBy (subset
    * clustering satisfies its distribution), the per-order window, and
    * the fact side of the orders join all reuse the partitioning —
    * no self-join of an unmaterialized relation (which would re-plan
    * the scan, the q61-class defect). One fact scan + one fact
    * exchange vs the canonical form's three references; the oracle is
    * the SAME EXISTS SQL as q157, so DuckDB proves the rewrite
    * row-for-row. TpchJoinSpec pins the scan/exchange counts and
    * result-equality against q157. */
  val q158: Q = (s, d) => {
    val cutoff = lit("2000-01-01").cast("timestamp")
    val g = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") >= cutoff).as("late"))
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(when(col("late"), 1L).otherwise(0L)).as("n_late"))
    val w = Window.partitionBy(col("l_orderkey"))
    val qual = g
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late_supp",
        sum(when(col("n_late") > 0, 1L).otherwise(0L)).over(w))
      .filter(col("n_late") > 0 && col("n_supp") > 1 && col("n_late_supp") === 1)
    val ord = t(s, d, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    val supp = t(s, d, "supplier")
      .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin("NATION_3", "NATION_6", "NATION_9",
        "NATION_11", "NATION_14"))
      .select(col("s_suppkey"), col("s_name"))
    qual.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_late")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
  }

  val q158Sql: String = q157Sql

  // --------------------------------------------------------------- Q162
  /** TPC-H Q7 shape — VOLUME SHIPPING between two trading nations: the
    * TWO-ROLE dimension join the star suite lacks. nation joins the
    * fact twice under different roles (supplier's nation via
    * lineitem→supplier, customer's nation via orders→customer), and
    * the pair filter keeps both directions — (A,B) and (B,A) — so
    * neither role's filter can be pushed alone. Both role chains are
    * dimension-sized and BROADCAST (supplier+nation resolves to a
    * suppkey→nation map, customer+nation to a custkey→nation map);
    * the only shuffle-weight join is orders⋈lineitem, so the fact
    * still moves at most once — the Q5 discipline surviving the
    * double-role twist. Year from l_shipdate inside the aggregate
    * key; revenue exact-decimal, rounded at the boundary. */
  val q162: Q = (s, d) => {
    import graft.core.Dsl.{dec2, dec4}
    val one = lit(1).cast(org.apache.spark.sql.types.DecimalType(5, 4))
    val nat = t(s, d, "nation")
      .filter(col("n_name").isin("NATION_3", "NATION_7"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = t(s, d, "supplier")
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = t(s, d, "customer")
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
    t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        (dec2(col("l_extendedprice")) * (one - dec4(col("l_discount")))).as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(round(sum(col("rev")).cast("double"), 2).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q162Sql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
      |    * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2)
      |    AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE sn.n_name IN ('NATION_3', 'NATION_7')
      |  AND cn.n_name IN ('NATION_3', 'NATION_7')
      |  AND sn.n_name <> cn.n_name
      |  AND l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY sn.n_name, cn.n_name, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // --------------------------------------------------------------- Q179
  /** TPC-H Q8 SHAPE (national market share) — the widest join in the
    * suite: SEVEN base tables (region→nation→customer→orders→lineitem
    * ←part, ←supplier→nation again) answering "what share of the ASIA
    * market's ECONOMY-part revenue came from NATION_5 suppliers, by
    * order year". The join-ORDER stress case the optimizer guides care
    * about: both dimension chains (customer's region, supplier's
    * nation) and the part filter all reduce to broadcasts, so the plan
    * must keep lineitem as the probe side of a broadcast cascade —
    * facts shuffle once for the year fold, never for a join
    * (TpchJoinSpec pins ≥5 broadcasts, ≤1 fact shuffle + sort). The
    * share is exact: revenue lifts to integer MICRO-units
    * (price·(1−disc) has scale 6, ×10⁶ is a lossless BIGINT), the
    * conditional numerator rides the same fold, and share_ppm =
    * 10⁶·num div den in DECIMAL(38,0)/HUGEINT (num·10⁶ passes 2⁶³ —
    * the q164 lift). Mirrors TPC-H Q8's correlated CASE-inside-SUM
    * formulation (`reference: none — public TPC-H spec §2.4.8`). */
  val q179: Q = (s, d) => {
    import graft.core.Dsl.{dec2, dec4}
    val dec = "DECIMAL(38,0)"
    val one = lit(1).cast(org.apache.spark.sql.types.DecimalType(5, 4))
    val asiaNations = t(s, d, "nation")
      .join(t(s, d, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = t(s, d, "customer")
      .join(asiaNations, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = t(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    val econParts = t(s, d, "part").filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey"))
    val suppNation = t(s, d, "supplier")
      .join(t(s, d, "nation").select(col("n_nationkey"), col("n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (dec2(col("l_extendedprice")) * (one - dec4(col("l_discount"))) *
          lit(1000000)).cast("long").as("rev_micro"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(econParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_5", col("rev_micro"))
          .otherwise(0L)).as("num"),
        sum(col("rev_micro")).as("den"))
      .select(col("o_year"), col("num"), col("den"),
        expr(s"(CAST(1000000 AS $dec) * CAST(num AS $dec)) div CAST(den AS $dec)")
          .as("share_ppm"))
      .orderBy(col("o_year"))
  }

  val q179Sql: String =
    """WITH li AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |    CAST(CAST(l_extendedprice AS DECIMAL(15,2))
      |      * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))
      |      * 1000000 AS BIGINT) AS rev_micro,
      |    sn.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN region ON cn.n_regionkey = r_regionkey
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
      |    AND o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-01-01')
      |SELECT o_year,
      |  CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN rev_micro ELSE 0 END)
      |       AS BIGINT) AS num,
      |  CAST(sum(rev_micro) AS BIGINT) AS den,
      |  CAST((1000000 * CAST(sum(CASE WHEN supp_nation = 'NATION_5'
      |                                THEN rev_micro ELSE 0 END) AS HUGEINT))
      |       // CAST(sum(rev_micro) AS HUGEINT) AS BIGINT) AS share_ppm
      |FROM li GROUP BY o_year ORDER BY o_year""".stripMargin

  // --------------------------------------------------------------- Q184
  /** TPC-H Q13 SHAPE (customer order-count distribution) — the canonical
    * OUTER-JOIN AGGREGATE: every customer, including the order-less,
    * lands in a per-customer count (LEFT join + null-skipping count),
    * then the counts histogram. The zero bucket is the point: an inner
    * join would silently drop exactly the customers the distribution
    * question asks about. The priority filter stands in for Q13's
    * comment NOT LIKE (a residual predicate the join must keep on the
    * right side, not push to an inner semi). Shape: one customer⟕orders
    * shuffle on custkey, then a counts-sized histogram fold — at 100 TB
    * the first join is the only corpus exchange. */
  val q184: Q = (s, d) => {
    val ords = t(s, d, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"))
    t(s, d, "customer").select(col("c_custkey"))
      .join(ords, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q184Sql: String =
    """WITH co AS (SELECT c_custkey, CAST(count(o_custkey) AS BIGINT) AS c_count
      |            FROM customer LEFT JOIN orders
      |              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |            GROUP BY c_custkey)
      |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM co GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // --------------------------------------------------------------- Q185
  /** TPC-H Q17 SHAPE (small-order revenue) — the canonical CORRELATED
    * AGGREGATE: revenue from line items ordering LESS THAN 20% of their
    * part's average order quantity ("what would a minimum-order policy
    * cost"). The correlation `qty < 0.2·avg(qty) OVER the same part`
    * is exact by cross-multiplication — quantities are integral, so
    * qty < sq/(5n) ⟺ 5·n·qty < sq with every term a BIGINT (no 0.2
    * float ever exists). Shape: the brand's part keys broadcast into
    * the lineitem scan (filter pushes to the probe), the slim
    * (partkey, qty, cents) relation is PINNED and consumed twice —
    * per-part moments, then the probe join back — so the fact scans
    * once; everything after the moments join is one partial-aggregable
    * fold to a single row. avg_yearly follows Q17 (÷7 years),
    * floor-divided and auditable beside the exact cents sum. */
  val q185: Q = (s, d) => {
    val pk = t(s, d, "part").filter(col("p_brand") === "Brand#4")
      .select(col("p_partkey"))
    val li = graft.core.Pins.pin(
      t(s, d, "lineitem")
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey").as("pk"),
          round(col("l_quantity")).cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("cents")))
    val stats = li.groupBy(col("pk"))
      .agg(sum(col("qty")).as("sq"), count(lit(1)).as("n"))
    li.join(stats, Seq("pk"))
      .filter(lit(5L) * col("n") * col("qty") < col("sq"))
      .agg(count(lit(1)).as("n_small"), sum(col("cents")).as("rev_cents"))
      .select(col("n_small"), col("rev_cents"),
        expr("rev_cents div 7").as("avg_yearly_cents"))
  }

  val q185Sql: String =
    """WITH li AS (SELECT l_partkey AS pk,
      |              CAST(round(l_quantity) AS BIGINT) AS qty,
      |              CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |            FROM lineitem JOIN part ON l_partkey = p_partkey
      |            WHERE p_brand = 'Brand#4'),
      |st AS (SELECT pk, CAST(sum(qty) AS BIGINT) AS sq,
      |         CAST(count(*) AS BIGINT) AS n
      |       FROM li GROUP BY pk)
      |SELECT CAST(count(*) AS BIGINT) AS n_small,
      |       CAST(sum(li.cents) AS BIGINT) AS rev_cents,
      |       CAST(sum(li.cents) AS BIGINT) // 7 AS avg_yearly_cents
      |FROM li JOIN st USING (pk)
      |WHERE 5 * st.n * li.qty < st.sq""".stripMargin

  // --------------------------------------------------------------- Q187
  /** PERCENT-OF-PARENT hierarchy shares — the canonical BI drill-down
    * (region ▸ nation ▸ revenue with each node's share of its parent)
    * that rollup/cube (q14/q29) don't give: those produce subtotal
    * ROWS, this produces share COLUMNS on the leaf grain, which is
    * what a treemap/drill-down UI actually binds. Exact integers
    * throughout: revenue folds to cents, shares are 10⁶·child div
    * parent with both sums exact BIGINTs (the divide is the only
    * lossy step and it's a documented floor; 10⁶·cents bounds the
    * BIGINT form at ~9·10¹² currency units per parent — lift to
    * DECIMAL(38,0) past that, the q164 dial). Two window sums over
    * the NATIONS-sized fold ride one partition layout (region, then
    * the whole frame) — the corpus crosses the wire once in the
    * nation fold; dimension chains broadcast. */
  val q187: Q = (s, d) => {
    val nat = t(s, d, "nation")
      .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
    val cust = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
    val byNation = t(s, d, "orders")
      .select(col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("cents")).as("rev_cents"))
    val wRegion = Window.partitionBy(col("r_name"))
    val wAll = Window.partitionBy()
    byNation
      .withColumn("region_cents", sum(col("rev_cents")).over(wRegion))
      .withColumn("total_cents", sum(col("rev_cents")).over(wAll))
      .select(col("r_name"), col("n_name"), col("rev_cents"),
        expr("(1000000 * rev_cents) div region_cents").as("share_of_region_ppm"),
        expr("(1000000 * region_cents) div total_cents").as("region_share_ppm"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q187Sql: String =
    """WITH bn AS (SELECT r_name, n_name,
      |              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |                AS rev_cents
      |            FROM orders
      |            JOIN customer ON o_custkey = c_custkey
      |            JOIN nation ON c_nationkey = n_nationkey
      |            JOIN region ON n_regionkey = r_regionkey
      |            GROUP BY 1, 2),
      |w AS (SELECT r_name, n_name, rev_cents,
      |        CAST(sum(rev_cents) OVER (PARTITION BY r_name) AS BIGINT) AS region_cents,
      |        CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents
      |      FROM bn)
      |SELECT r_name, n_name, rev_cents,
      |  (1000000 * rev_cents) // region_cents AS share_of_region_ppm,
      |  (1000000 * region_cents) // total_cents AS region_share_ppm
      |FROM w ORDER BY r_name, n_name""".stripMargin

  // --------------------------------------------------------------- Q195
  /** CHART-OF-ACCOUNTS hierarchy rollup — subtree totals at EVERY node
    * of a prefix-coded account tree (decimal account codes where each
    * digit level is an org tier: the standard GL chart-of-accounts
    * encoding, here custkey with 4 tiers). The Spark-first move:
    * recursion is BOUNDED by tree depth, so instead of an iterative
    * fixpoint each order EXPLODES its 4-node ancestor chain (level l →
    * code div 10^l) and ONE (level, node, leaf) fold + one (level,
    * node) fold produce subtree revenue, order count, and distinct
    * descendant accounts — linear in rows × depth, shuffling only
    * slim (level, node) keys, no driver loop, no join-per-level. The
    * ORACLE is the OTHER formulation — a genuine WITH RECURSIVE
    * parent-edge walk — so agreement proves the explode enumerates
    * exactly the transitive-ancestor closure. At 100 TB: depth is the
    * only multiplier (4×), both folds are partial-aggregable, and the
    * node space is geometrically bounded above the leaves. */
  val q195: Q = (s, d) => {
    val chain = t(s, d, "orders")
      .select(col("o_custkey").cast("long").as("leaf"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .select(col("leaf"), col("cents"),
        explode(expr(
          """array(named_struct('level', CAST(0 AS BIGINT), 'node', leaf),
            |      named_struct('level', CAST(1 AS BIGINT), 'node', leaf div 10),
            |      named_struct('level', CAST(2 AS BIGINT), 'node', leaf div 100),
            |      named_struct('level', CAST(3 AS BIGINT), 'node', leaf div 1000))"""
            .stripMargin)).as("a"))
      .select(col("a.level").as("level"), col("a.node").as("node"),
        col("leaf"), col("cents"))
    chain
      .groupBy(col("level"), col("node"), col("leaf"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n"))
      .groupBy(col("level"), col("node"))
      .agg(sum(col("cents")).as("rev_cents"), sum(col("n")).as("n_orders"),
        count(lit(1)).as("n_customers"))
      .orderBy(col("level"), col("node"))
  }

  val q195Sql: String =
    """WITH RECURSIVE anc AS (
      |  SELECT o_custkey AS leaf, CAST(0 AS BIGINT) AS level,
      |         CAST(o_custkey AS BIGINT) AS node,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |  UNION ALL
      |  SELECT leaf, level + 1, node // 10, cents FROM anc WHERE level < 3
      |),
      |per_leaf AS (SELECT level, node, leaf,
      |               CAST(sum(cents) AS BIGINT) AS cents, count(*) AS n
      |             FROM anc GROUP BY 1, 2, 3)
      |SELECT level, node, CAST(sum(cents) AS BIGINT) AS rev_cents,
      |       CAST(sum(n) AS BIGINT) AS n_orders,
      |       CAST(count(*) AS BIGINT) AS n_customers
      |FROM per_leaf GROUP BY 1, 2 ORDER BY level, node""".stripMargin

  // --------------------------------------------------------------- Q201
  /** TPC-H Q19 shape — DISJUNCTIVE join predicates: revenue from three
    * (brand, size-band, quantity-band) tiers OR-ed together. The
    * planner stress the star suite (q153-q155, q179) doesn't cover:
    * the equi-key (partkey) must still drive the join while the OR of
    * band predicates rides as a residual join FILTER, and the
    * part-side disjunction (brand/size only) must still push to the
    * part SCAN as an OR filter — a planner that fails either reads the
    * whole part table or, worse, degenerates to a cartesian. Exact
    * money: cents × (100 − discount-hundredths) BIGINTs (unit = 10⁻⁴
    * currency), no float revenue ever exists. One fact scan, one
    * broadcast of the OR-pruned part keys, a single-row fold. */
  val q201: Q = (s, d) => {
    val li = t(s, d, "lineitem").select(col("l_partkey"),
      round(col("l_quantity")).cast("long").as("qty"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"),
      round(col("l_discount") * 100).cast("long").as("disc"))
    val p = t(s, d, "part").select(col("p_partkey"), col("p_brand"), col("p_size"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey") && (
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("qty").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("qty").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("qty").between(20, 30))))
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(col("cents") * (lit(100L) - col("disc"))), lit(0L))
          .as("revenue_c100"))
  }

  val q201Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l_discount * 100) AS BIGINT))), 0)
      |            AS BIGINT) AS revenue_c100
      |FROM lineitem JOIN part ON l_partkey = p_partkey AND (
      |  (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |     AND CAST(round(l_quantity) AS BIGINT) BETWEEN 1 AND 11) OR
      |  (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |     AND CAST(round(l_quantity) AS BIGINT) BETWEEN 10 AND 20) OR
      |  (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
      |     AND CAST(round(l_quantity) AS BIGINT) BETWEEN 20 AND 30))""".stripMargin

  // --------------------------------------------------------------- Q202
  /** TPC-H Q22 shape — scalar-subquery threshold + ANTI-join + group:
    * rich-but-dormant customers (balance above the positive-balance
    * average, never placed an URGENT order) counted per nation. The
    * canonical decorrelation trio in one query: the AVG threshold is
    * a one-row moments fold BROADCAST into the scan-side filter as an
    * exact integer CROSS-MULTIPLICATION (cents·n > Σcents — the float
    * average never exists, q185's discipline), the "never ordered
    * urgent" is a left-anti join on the custkey (the filter pushes to
    * the orders scan BEFORE the anti-join, so the anti side carries
    * only urgent orders), and the residual fold is nations-sized. */
  val q202: Q = (s, d) => {
    val c = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"),
      round(col("c_acctbal") * 100).cast("long").as("cents"))
    val m = c.filter(col("cents") > 0)
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))
    val urgent = t(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.crossJoin(broadcast(m))
      .filter(col("cents") * col("n") > col("s"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("total_cents"))
      .orderBy(col("c_nationkey"))
  }

  val q202Sql: String =
    """WITH m AS (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s,
      |             CAST(count(*) AS BIGINT) AS n
      |           FROM customer WHERE c_acctbal > 0)
      |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
      |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM customer, m
      |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n > s
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- Q209
  /** TPC-H Q20 shape — the NESTED-semi-join decorrelation ladder
    * (`partsupp` doesn't exist in this schema, so the correlated
    * availability test becomes a correlated DOMINANCE test with the
    * same plan obligations): suppliers in three nations who, for some
    * red part, shipped MORE THAN HALF of that part's total 1996
    * volume. The planning stress Q20 exists for: a correlated
    * aggregate inside a semi-join inside a semi-join — decorrelated
    * here into ONE fact lineage: the (part, supplier) fold, the
    * per-part total as a window over that fold (parts×suppliers-
    * sized, never the fact), the dominance filter as an integer
    * cross-multiplication 2·qty_sp > qty_p, and two broadcast-able
    * probe sides (red parts pushed into the fact scan BEFORE the
    * fold; the nation filter pushed to the supplier scan). The final
    * semi-join is on the distinct dominant-supplier set. Exact
    * integers throughout (round(qty) longs, no float share). */
  val q209: Q = (s, d) => {
    val li = t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01")
        && col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_quantity")).cast("long").as("qty"))
    val red = t(s, d, "part").filter(col("p_name").startsWith("red"))
      .select(col("p_partkey"))
    val sp = li.join(broadcast(red), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("qty")).as("qty_sp"))
    val dom = sp
      .withColumn("qty_p",
        sum(col("qty_sp")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("qty_sp") * 2 > col("qty_p"))
      .select(col("l_suppkey")).distinct()
    val nat = t(s, d, "nation")
      .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
      .select(col("n_nationkey"))
    t(s, d, "supplier")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(dom, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_name"))
  }

  val q209Sql: String =
    """WITH sp AS (SELECT l_partkey, l_suppkey,
      |              CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty_sp
      |            FROM lineitem
      |            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |              AND l_shipdate < TIMESTAMP '1997-01-01'
      |              AND l_partkey IN (SELECT p_partkey FROM part
      |                                WHERE p_name LIKE 'red%')
      |            GROUP BY 1, 2),
      |dom AS (SELECT DISTINCT l_suppkey
      |        FROM (SELECT l_suppkey, qty_sp,
      |                sum(qty_sp) OVER (PARTITION BY l_partkey) AS qty_p
      |              FROM sp)
      |        WHERE qty_sp * 2 > qty_p)
      |SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_nationkey IN (SELECT n_nationkey FROM nation
      |                      WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11'))
      |  AND s_suppkey IN (SELECT l_suppkey FROM dom)
      |ORDER BY s_name""".stripMargin

  // --------------------------------------------------------------- Q210
  /** TPC-H Q2 shape — ARGMIN-per-group with tie JOIN-BACK (the
    * min-cost-supplier query; partsupp absent, so cost = the best
    * floor unit price a supplier achieved on a part in 1996): for
    * every red part, ALL suppliers tied at the minimum unit price —
    * Q2's correlated `= (SELECT min(...))` decorrelated into the
    * canonical window-min + equality filter, which preserves Q2's
    * tie semantics (every argmin row survives; a max_by/limit-1
    * plan would drop ties). Unit price = cents div qty on rounded
    * BIGINTs (non-negative, so div == // — the only floor, taken
    * identically in both engines at line level BEFORE any fold).
    * One fact lineage: line-level prices fold to (part, supplier)
    * minima (fact-sized exchange #1), the per-part min rides a
    * parts×suppliers-sized window, and the attribute JOIN-BACK is
    * two broadcasts (part names, supplier names/balances). Output
    * ordered by balance desc — Q2's "best-funded first" report. */
  val q210: Q = (s, d) => {
    val red = t(s, d, "part").filter(col("p_name").startsWith("red"))
      .select(col("p_partkey"), col("p_name"))
    val sup = t(s, d, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
    val up = t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01")
        && col("l_shipdate") < lit("1997-01-01")
        && round(col("l_quantity")).cast("long") > 0)
      .select(col("l_partkey"), col("l_suppkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) div CAST(round(l_quantity) AS BIGINT)")
          .as("up"))
      .join(broadcast(red), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("p_name"), col("l_suppkey"))
      .agg(min(col("up")).as("sup_up"))
    up.withColumn("best_up",
        min(col("sup_up")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("sup_up") === col("best_up"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("p_partkey"), col("p_name"),
        col("s_name"), col("s_acctbal"), col("best_up"))
      .orderBy(col("s_acctbal").desc, col("p_partkey"), col("s_name"))
  }

  val q210Sql: String =
    """WITH up AS (SELECT l_partkey, p_name, l_suppkey,
      |              min(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                  // CAST(round(l_quantity) AS BIGINT)) AS sup_up
      |            FROM lineitem JOIN part ON l_partkey = p_partkey
      |            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |              AND l_shipdate < TIMESTAMP '1997-01-01'
      |              AND CAST(round(l_quantity) AS BIGINT) > 0
      |              AND p_name LIKE 'red%'
      |            GROUP BY 1, 2, 3),
      |m AS (SELECT *, min(sup_up) OVER (PARTITION BY l_partkey) AS best_up
      |      FROM up)
      |SELECT l_partkey AS p_partkey, p_name, s_name, s_acctbal,
      |       CAST(best_up AS BIGINT) AS best_up
      |FROM m JOIN supplier ON l_suppkey = s_suppkey
      |WHERE sup_up = best_up
      |ORDER BY s_acctbal DESC, p_partkey, s_name""".stripMargin

  // --------------------------------------------------------------- Q213
  /** PARETO / ABC concentration analysis over customer revenue — the
    * "80/20" report behind every account-tiering and inventory-class
    * decision (q152's Gini gives concentration as ONE number; ABC
    * gives the actionable partition): rank customers by revenue desc,
    * class A = everyone needed to reach 80% of total revenue, B = on
    * to 95%, C = the tail. The class test is the exact integer
    * cross-multiplication on the PRECEDING cumulative (cum_prev·5 <
    * tot·4 ⇒ the 80% mark isn't reached before this customer, so the
    * boundary-crossing customer belongs to A — the convention spelled
    * out, since engines must agree on the boundary row), with
    * (rev desc, custkey) as the total rank order so revenue ties
    * can't flip classes between engines. Output: per class, customer
    * count, revenue, and positive-ppm revenue share floors. The rank
    * window's input is the per-customer FOLD — customers-sized, the
    * q152 documented single-partition window policy (the corpus-sized
    * orders relation crosses once in the fold). */
  val q213: Q = (s, d) => {
    val perCust = t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
    val wRank = Window.orderBy(col("rev").desc, col("o_custkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perCust
      .withColumn("cum_prev", coalesce(sum(col("rev")).over(wRank), lit(0L)))
      .withColumn("tot", sum(col("rev")).over())
      .withColumn("cls",
        when(col("cum_prev") * 5 < col("tot") * 4, "A")
          .when(col("cum_prev") * 20 < col("tot") * 19, "B")
          .otherwise("C"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("rev_cents"),
        max(col("tot")).as("tot"))
      .select(col("cls"), col("n_customers"), col("rev_cents"),
        // rev_cents·10⁶ crosses 2⁶³ once total revenue passes ~9·10¹²
        // cents (~1.5M orders) — found by the round-12 sf1.0 scale
        // gate as a loud ANSI overflow; the share numerator rides
        // DECIMAL(38,0) (oracle: HUGEINT), the ppm result stays BIGINT
        expr("CAST(CAST(rev_cents AS DECIMAL(38,0)) * 1000000 div tot AS BIGINT)")
          .as("share_ppm"))
      .orderBy(col("cls"))
  }

  val q213Sql: String =
    """WITH pc AS (SELECT o_custkey,
      |              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      |            FROM orders GROUP BY 1),
      |r AS (SELECT o_custkey, rev,
      |        coalesce(sum(rev) OVER (ORDER BY rev DESC, o_custkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev,
      |        sum(rev) OVER () AS tot
      |      FROM pc),
      |c AS (SELECT CASE WHEN cum_prev * 5 < tot * 4 THEN 'A'
      |                  WHEN cum_prev * 20 < tot * 19 THEN 'B'
      |                  ELSE 'C' END AS cls,
      |             rev, tot
      |      FROM r)
      |SELECT cls, CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(sum(rev) AS BIGINT) AS rev_cents,
      |       CAST(CAST(sum(rev) AS HUGEINT) * 1000000
      |            // CAST(max(tot) AS BIGINT) AS BIGINT) AS share_ppm
      |FROM c GROUP BY 1 ORDER BY cls""".stripMargin

  // --------------------------------------------------------------- Q218
  /** TPC-H Q11 shape — group value vs a FRACTION of the global total
    * (the "important stock" HAVING; q202's threshold is a scalar
    * average, Q11's is a share-of-sum over the SAME aggregate — the
    * one-fold-two-consumers planning stress): parts whose shipped
    * 1996 value from three nations' suppliers exceeds those
    * nations' MEAN part share by 2× (a scale-free threshold — a
    * fixed ppm share empties as the part count grows; 2× the mean is
    * meaningful at any corpus size). Decorrelated into ONE fold: the
    * nation-filtered (broadcast supplier probe, filter pushed to the
    * supplier scan via the nation keys) per-part value fold PINS,
    * the global total is a one-row re-aggregate OF THE FOLD (never a
    * second fact scan), broadcast back as the exact integer
    * cross-multiplication value·n_parts > 2·total. Exact cents; ordered by
    * (value desc, partkey) — Q11's report order with the
    * deterministic tiebreak. */
  val q218: Q = (s, d) => {
    val nat = t(s, d, "nation")
      .filter(col("n_name").isin("NATION_2", "NATION_9", "NATION_17"))
      .select(col("n_nationkey"))
    val sup = t(s, d, "supplier")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = graft.core.Pins.pin(
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1997-01-01"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("value_c")))
    val tot = perPart.agg(sum(col("value_c")).as("tot"),
      count(lit(1)).as("np"))
    perPart.crossJoin(broadcast(tot))
      .filter(col("value_c") * col("np") > col("tot") * 2)
      .select(col("l_partkey").as("p_partkey"), col("value_c"))
      .orderBy(col("value_c").desc, col("p_partkey"))
  }

  val q218Sql: String =
    """WITH sup AS (SELECT s_suppkey FROM supplier
      |             WHERE s_nationkey IN (SELECT n_nationkey FROM nation
      |               WHERE n_name IN ('NATION_2', 'NATION_9', 'NATION_17'))),
      |pp AS (SELECT l_partkey,
      |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |           AS value_c
      |       FROM lineitem
      |       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |         AND l_shipdate < TIMESTAMP '1997-01-01'
      |         AND l_suppkey IN (SELECT s_suppkey FROM sup)
      |       GROUP BY 1),
      |tot AS (SELECT CAST(sum(value_c) AS BIGINT) AS tot,
      |          CAST(count(*) AS BIGINT) AS np FROM pp)
      |SELECT l_partkey AS p_partkey, value_c
      |FROM pp, tot WHERE value_c * np > tot * 2
      |ORDER BY value_c DESC, p_partkey""".stripMargin

  // --------------------------------------------------------------- Q220
  /** TPC-H Q4 shape — EXISTS with a CROSS-TABLE residual predicate
    * (the order-priority checking query; commit/receipt dates absent,
    * so "late" = a lineitem shipped > 30 days after the order date):
    * per priority, 1996-H1 orders having at least one late line. The
    * planning obligation Q4 exists for: the semi-join's equi-key is
    * the orderkey but the LATE test needs BOTH sides (l_shipdate vs
    * o_orderdate + 30) — a correct plan keeps it as a RESIDUAL
    * CONDITION on the LeftSemi (spec-pinned) so unmatched lines die
    * inside the join, and the order-side date window still pushes to
    * the orders scan. EXISTS semantics: an order with five late
    * lines counts ONCE (the semi, not an inner join + distinct —
    * the spec plants a multi-late-line order). Exact date
    * arithmetic, priority-sized fold. */
  val q220: Q = (s, d) => {
    val o = t(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01")
        && col("o_orderdate") < lit("1996-07-01"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
    // derived predicate Catalyst cannot infer through the join residual:
    // late for SOME window order ⇒ shipped after min(o_orderdate) + 30
    // (1996-01-31) — pushes to the lineitem scan (and prunes date
    // partitions at scale) before any join state builds
    val l = t(s, d, "lineitem")
      .filter(col("l_shipdate") > lit("1996-01-31"))
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > date_add(col("o_orderdate").cast("date"), 30),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val q220Sql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 30 DAY)
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- Q222
  /** TPC-H Q9 shape — product-line PROFIT by nation × order-year (the
    * widest dimension-chain fold in the suite after q179's Q8: fact ⋈
    * orders for the year, part for the product filter, supplier →
    * nation for the geography). No partsupp table exists in this
    * corpus, so unit cost is the part's retail price (the Q9 cost
    * role): amount = extprice·(1−disc) − retail·qty, every term exact
    * DECIMAL (the q153 dec2/dec4 discipline; qty is integral, cast
    * straight to BIGINT — round() would hide a corpus change). Filter
    * = parts named '%red%' (Q9's '%green%'), pushed to the part scan
    * as a Contains and broadcast BEFORE the fact fold, exactly like
    * the supplier/nation chain — the only corpus-sized exchanges are
    * the fact⋈orders equi-join and the (nation, year) fold. Report =
    * round-to-cents double at the boundary (q153's rule). */
  val q222: Q = (s, d) => {
    import graft.core.Dsl.{dec2, dec4}
    val one = lit(1).cast(org.apache.spark.sql.types.DecimalType(5, 4))
    val pt = t(s, d, "part").filter(col("p_name").contains("red"))
      .select(col("p_partkey"), col("p_retailprice"))
    val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val nat = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
    val ord = t(s, d, "orders")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    t(s, d, "lineitem")
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name"), col("o_year"),
        (dec2(col("l_extendedprice")) * (one - dec4(col("l_discount")))
          - dec2(col("p_retailprice")) * col("l_quantity").cast("long"))
          .as("amount"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(round(sum(col("amount")).cast("double"), 2).as("profit"))
      .select(col("n_name"), col("o_year").cast("long").as("o_year"), col("profit"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  val q222Sql: String =
    """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
      |      * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))
      |      - CAST(p_retailprice AS DECIMAL(15,2))
      |      * CAST(l_quantity AS BIGINT)) AS DOUBLE), 2) AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY n_name, year(o_orderdate)
      |ORDER BY n_name, o_year DESC""".stripMargin

  // --------------------------------------------------------------- Q223
  /** TPC-H Q14 shape — promotion revenue SHARE for one ship-month (the
    * conditional-share fold: one fact scan, a broadcast part probe for
    * the type, and a single row out). The textbook form divides two
    * decimal sums into a float percentage; here the share is the exact
    * integer cross-multiplication the engine's other ratios use:
    * revenue carries 6 exact decimal places (2 from price × 4 from
    * discount), so both sums are emitted as micro-unit BIGINTs
    * (×10⁶, magnitudes ~10¹⁴ at 10× this SF — Long-safe) and the
    * share as (promo·10⁶ div total) ppm — non-negative operands, so
    * Spark div and DuckDB // agree. The ship-month predicate pushes to
    * the fact scan; everything after the broadcast probe is one
    * map-side-combinable fold. */
  val q223: Q = (s, d) => {
    import graft.core.Dsl.{dec2, dec4}
    val one = lit(1).cast(org.apache.spark.sql.types.DecimalType(5, 4))
    val pt = t(s, d, "part").select(col("p_partkey"), col("p_type"))
    t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-09-01")
        && col("l_shipdate") < lit("1997-10-01"))
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .select((col("p_type") === "PROMO").as("is_promo"),
        (dec2(col("l_extendedprice")) * (one - dec4(col("l_discount"))))
          .as("rev"))
      .agg(
        sum(when(col("is_promo"), col("rev"))
          .otherwise(lit(0).cast(org.apache.spark.sql.types.DecimalType(21, 6))))
          .as("promo"),
        sum(col("rev")).as("total"))
      .select(
        (col("promo") * 1000000).cast("decimal(38,0)").cast("long").as("promo_u6"),
        (col("total") * 1000000).cast("decimal(38,0)").cast("long").as("total_u6"))
      .select(col("promo_u6"), col("total_u6"),
        expr("CAST(promo_u6 AS DECIMAL(38,0)) * 1000000 div total_u6")
          .as("promo_ppm"))
  }

  val q223Sql: String =
    """WITH f AS (SELECT CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo,
      |         CAST(l_extendedprice AS DECIMAL(15,2))
      |           * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4))) AS rev
      |       FROM lineitem JOIN part ON l_partkey = p_partkey
      |       WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      |         AND l_shipdate < TIMESTAMP '1997-10-01'),
      |a AS (SELECT CAST(sum(CASE WHEN is_promo = 1 THEN rev
      |                            ELSE CAST(0 AS DECIMAL(21,6)) END)
      |             * 1000000 AS BIGINT) AS promo_u6,
      |        CAST(sum(rev) * 1000000 AS BIGINT) AS total_u6
      |      FROM f)
      |SELECT promo_u6, total_u6,
      |       CAST(CAST(promo_u6 AS HUGEINT) * 1000000 // total_u6 AS BIGINT)
      |         AS promo_ppm
      |FROM a""".stripMargin

  // --------------------------------------------------------------- Q224
  /** TPC-H Q15 shape — TOP SUPPLIER(S) by quarterly revenue, ties kept
    * (Q15's revenue view + `total = (SELECT max(total))`: an argmax
    * that must return EVERY maximiser, where q6's max_by keeps one).
    * The q218 one-fold-two-consumers discipline: the per-supplier
    * quarter fold PINS (one fact scan), the scalar max is a one-row
    * re-aggregate OF THE FOLD broadcast back as an exact equality on
    * micro-unit BIGINTs — never a window over an unpartitioned
    * supplier relation (suppliers grow with the corpus; a one-row
    * broadcast doesn't). Names ride a broadcast supplier probe AFTER
    * the threshold, order by suppkey (Q15's report order). */
  val q224: Q = (s, d) => {
    import graft.core.Dsl.{dec2, dec4}
    val one = lit(1).cast(org.apache.spark.sql.types.DecimalType(5, 4))
    val fold = graft.core.Pins.pin(
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01")
          && col("l_shipdate") < lit("1997-04-01"))
        .groupBy(col("l_suppkey"))
        .agg((sum(dec2(col("l_extendedprice"))
            * (one - dec4(col("l_discount")))) * 1000000)
          .cast("decimal(38,0)").cast("long").as("total_u6")))
    val top = fold.agg(max(col("total_u6")).as("mx"))
    val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_name"))
    fold.crossJoin(broadcast(top))
      .filter(col("total_u6") === col("mx"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_u6"))
      .orderBy(col("s_suppkey"))
  }

  val q224Sql: String =
    """WITH rev AS (SELECT l_suppkey,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
      |             * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4))))
      |           * 1000000 AS BIGINT) AS total_u6
      |       FROM lineitem
      |       WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |         AND l_shipdate < TIMESTAMP '1997-04-01'
      |       GROUP BY 1)
      |SELECT s_suppkey, s_name, total_u6
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_u6 = (SELECT max(total_u6) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // --------------------------------------------------------------- Q225
  /** TPC-H Q16 shape — supplier-count-distinct per part attribute
    * class, with a NOT-IN supplier EXCLUSION (Q16's complaints
    * filter). No partsupp table exists, so the observed part↔supplier
    * relationship IS the lineitem fact (who ever shipped the part) —
    * distinct'd to the slim pair relation FIRST, so the count-distinct
    * aggregates a parts×suppliers-bounded relation, never fact rows.
    * Exclusion = suppliers in arrears (s_acctbal < 0, the complaints
    * proxy) as a broadcast LeftAnti — the NOT IN that stays an
    * anti-join, never a filter on a joined row (NULL semantics don't
    * bite: keys are non-null by construction). Part classes: brand ≠
    * 'Brand#5', non-PROMO type, the Q16 size octave {1,4,9,16,25,36}.
    * Order: count desc, then the full class key (Q16's report). */
  val q225: Q = (s, d) => {
    val badSup = t(s, d, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val pt = t(s, d, "part")
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO"
        && col("p_size").isin(1, 4, 9, 16, 25, 36))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    t(s, d, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(broadcast(badSup), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .select(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"),
        col("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q225Sql: String =
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
      |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM ps JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 9, 16, 25, 36)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // --------------------------------------------------------------- Q226
  /** TPC-H Q18 shape — LARGE-VOLUME ORDERS (the HAVING-sum threshold
    * pushed into a fact pre-fold): orders whose total line quantity
    * exceeds 300, reported with their customer. The planning point Q18
    * exists for: the quantity fold runs ON THE FACT FIRST (map-side
    * combinable, orderkey-keyed — never a join-then-having), the
    * survivors (top ~0.1% of orders) are join INPUT, so the
    * orders/customer joins see threshold-sized relations and AQE
    * broadcasts them. Quantities are integral — summed as exact
    * BIGINT. Report: qty desc, orderkey asc (the deterministic Q18
    * order), top 100. */
  val q226: Q = (s, d) => {
    val big = t(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > 300)
    val ord = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate")).as("o_date_us"))
    big.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_date_us"),
        col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)
  }

  val q226Sql: String =
    """WITH big AS (SELECT l_orderkey,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |       FROM lineitem GROUP BY 1 HAVING total_qty > 300)
      |SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS o_date_us, total_qty
      |FROM big JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin

  // --------------------------------------------------------------- Q232
  /** TPC-H Q6 shape — the FORECASTING-REVENUE-CHANGE single-scan fold
    * (what revenue would a discount band have added in one year?):
    * every predicate (ship-year, discount band, quantity cap) pushes
    * to the fact scan, the fold is one map-side-combinable sum, one
    * row out — the suite's purest scan-dominated query, the shape
    * whose 100 TB cost IS the I/O. Discount-band membership tests on
    * the exact DECIMAL(6,4) lift of the float column (0.05 ≤ d ≤ 0.07
    * — a raw double compare would admit 0.070000000001); revenue =
    * extprice·disc in exact DECIMAL, emitted micro-unit BIGINT plus
    * the rounded report double (q153's boundary rule). */
  val q232: Q = (s, d) => {
    import graft.core.Dsl.{dec2, dec4}
    t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01")
        && col("l_shipdate") < lit("1998-01-01")
        && col("l_quantity") < 24)
      .select(dec2(col("l_extendedprice")).as("p"), dec4(col("l_discount")).as("disc"))
      .filter(col("disc") >= lit(BigDecimal("0.05")).cast("decimal(6,4)")
        && col("disc") <= lit(BigDecimal("0.07")).cast("decimal(6,4)"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("p") * col("disc")) * 1000000)
          .cast("decimal(38,0)").cast("long").as("revenue_u6"))
      .select(col("n_lines"), col("revenue_u6"),
        round((col("revenue_u6").cast("double") / 1e6), 2).as("revenue"))
  }

  val q232Sql: String =
    """WITH f AS (SELECT CAST(l_extendedprice AS DECIMAL(15,2)) AS p,
      |         CAST(l_discount AS DECIMAL(6,4)) AS disc
      |       FROM lineitem
      |       WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |         AND l_shipdate < TIMESTAMP '1998-01-01'
      |         AND l_quantity < 24),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |        CAST(sum(p * disc) * 1000000 AS BIGINT) AS revenue_u6
      |      FROM f
      |      WHERE disc >= CAST(0.05 AS DECIMAL(6,4))
      |        AND disc <= CAST(0.07 AS DECIMAL(6,4)))
      |SELECT n_lines, revenue_u6,
      |       round(CAST(revenue_u6 AS DOUBLE) / 1e6, 2) AS revenue
      |FROM a""".stripMargin

  // --------------------------------------------------------------- Q233
  /** TPC-H Q12 shape — the two-tier CASE-count split (Q12 splits line
    * counts by priority class per ship mode; no ship mode exists in
    * this corpus, so the class axis is the LATENESS verdict q220
    * derives — late = shipped > 30 days after order date — and the
    * counted split is URGENT/HIGH vs the rest, Q12's exact CASE
    * pair). The planning shape Q12 exists for: ONE fact⋈orders
    * equi-join carrying a cross-table derived column, the CASE pair
    * folding map-side into a two-row report — never two filtered
    * passes. The 1997 order-year window pushes to the orders scan;
    * NO lineitem pre-filter exists to derive (unlike q220, the
    * on-time lines are counted too — every line of a window order
    * participates). */
  val q233: Q = (s, d) => {
    val o = t(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01")
        && col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        when(col("l_shipdate") > date_add(col("o_orderdate").cast("date"), 30),
          "late").otherwise("ontime").as("ship_class"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("hi"))
      .groupBy(col("ship_class"))
      .agg(sum(col("hi")).as("high_line_count"),
        sum(lit(1L) - col("hi")).as("low_line_count"))
      .orderBy(col("ship_class"))
  }

  val q233Sql: String =
    """SELECT CASE WHEN l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 30 DAY
      |            THEN 'late' ELSE 'ontime' END AS ship_class,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1 ORDER BY ship_class""".stripMargin

  // --------------------------------------------------------------- Q244
  /** ITEM-ITEM co-purchase similarity — the collaborative-filtering
    * primitive ("customers who bought X also bought Y"; q148 scores
    * event-type pairs with support/confidence over (user, day)
    * baskets — this ranks PART pairs over ORDER baskets by cosine,
    * the recsys form): baskets = orders, folded ONCE per order with
    * collect_set (multi-line orders count a part once — the dedup and
    * the basket build are the same exchange), pairs generate
    * scan-locally inside each sorted basket (lines²-per-order bounded
    * — never a catalog² or orders² term; singleton orders prune by
    * construction), and cos²(a,b) = c_ab²/(c_a·c_b) is
    * the exact integer cross-ratio, emitted as the
    * DECIMAL(38,0)-lifted (c_ab²·10⁶) div (c_a·c_b) ppm (c_ab² passes
    * 2⁶³ near 10⁹-order corpora — documented). Top 30 by (cos² desc,
    * a, b). At 100 TB the pair fold shuffles on the pair key with
    * map-side combine; the per-part counts broadcast (catalog-sized). */
  val q244: Q = (s, d) => {
    // ONE corpus-sized exchange: the per-order BASKET fold (collect_set
    // dedups in the same pass the r8 form spent a distinct + pin on);
    // pairs generate SCAN-LOCALLY from each sorted basket (i < j over a
    // ≤ lines-per-order array — singleton orders prune by construction,
    // they have no pairs), and the per-part counts derive from the same
    // pinned fold, so the incidence never re-keys through a self-join's
    // two orderkey exchanges
    // (r14: an explicit pre-fold repartition — the q297 discipline —
    // was measured NEUTRAL here after reference-normalization: the
    // pair explode downstream is already parallel, and the raw-row
    // exchange forfeits the map-side partial collapse. Left as-is.
    // r15: the OTHER spread variant — round-robin before the fold,
    // keeping the exchange and partial agg — A/B'd a clear REGRESSION,
    // best 1.34 → 1.77 over 7 alternating reps: the extra raw-row
    // exchange buys nothing because the basket collect_set, not the
    // scan, is the serial cost. Stays out.)
    val baskets = graft.core.Pins.pin(
      t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps")))
    val cnt = baskets.select(explode(col("ps")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val pairs = baskets.filter(size(col("ps")) > 1)
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> transform(" +
          "slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb))))"))
        .as("p"))
      .groupBy(col("p.pa").as("part_a"), col("p.pb").as("part_b"))
      .agg(count(lit(1)).as("n_co"))
    pairs
      .join(broadcast(cnt.select(col("pk").as("part_a"), col("c").as("c_a"))),
        Seq("part_a"))
      .join(broadcast(cnt.select(col("pk").as("part_b"), col("c").as("c_b"))),
        Seq("part_b"))
      .select(col("part_a"), col("part_b"), col("n_co"), col("c_a"), col("c_b"),
        // the DENOMINATOR lifts too: c_a·c_b in BIGINT wraps silently
        // on similar corpora (both counts near 10⁹·√overlap) where
        // DuckDB's HUGEINT stays exact — same hazard as c_ab²
        expr("CAST(n_co AS DECIMAL(38,0)) * n_co * 1000000" +
          " div (CAST(c_a AS DECIMAL(38,0)) * c_b)")
          .as("cos2_ppm"))
      .orderBy(col("cos2_ppm").desc, col("part_a"), col("part_b"))
      .limit(30)
  }

  val q244Sql: String =
    """WITH inc AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |cnt AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM inc GROUP BY 1),
      |pairs AS (SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
      |            CAST(count(*) AS BIGINT) AS n_co
      |          FROM inc x JOIN inc y ON x.l_orderkey = y.l_orderkey
      |            AND x.l_partkey < y.l_partkey
      |          GROUP BY 1, 2)
      |SELECT part_a, part_b, n_co, ca.c AS c_a, cb.c AS c_b,
      |       CAST(CAST(n_co AS HUGEINT) * n_co * 1000000
      |            // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS cos2_ppm
      |FROM pairs JOIN cnt ca ON part_a = ca.l_partkey
      |JOIN cnt cb ON part_b = cb.l_partkey
      |ORDER BY cos2_ppm DESC, part_a, part_b LIMIT 30""".stripMargin

  // --------------------------------------------------------------- Q297
  /** RECSYS HIT-RATE@k — the EVAL leg the recommendation shelf was
    * missing (q244 builds the item-item model, q245/q246 mine its
    * training negatives; nothing measured whether the model's top-k
    * actually predicts future baskets — the offline metric every
    * "customers also bought" ship decision reads): leakage-safe at the
    * q277 70%-of-span cutoff on o_orderdate — co-purchase counts train
    * ONLY on pre-cutoff baskets, evaluation reads ONLY post-cutoff
    * ones. Recs = top-3 co-items per item (n_co desc, item asc — a
    * stated total order). Eval: for every (post-order, item) whose
    * item HAS a rec list, a hit@k iff any of the top-k recs appears
    * among the order's OTHER items; the one-row report carries exact
    * cumulative hit ppm at k = 1, 2, 3 plus the coverage share
    * (post-pairs whose item was seen in training at all — cold items
    * are the documented boundary, counted not hidden).
    *
    * Scale shape: the q244 basket fold (one corpus exchange) split by
    * the broadcast cutoff; directed pairs generate scan-locally inside
    * each pre-cutoff basket; the rec window rides the items-keyed pair
    * relation; eval joins the exploded post pairs to the catalog-sized
    * rec list and to the post incidence — everything after the basket
    * fold is pairs- or catalog-sized. */
  /** q297's shared 70%-of-span order-date cutoff (the q277 boundary). */
  private def q297Cut(s: SparkSession, d: String) =
    broadcast(t(s, d, "orders")
      .agg(min(unix_micros(col("o_orderdate"))).as("t0"),
        max(unix_micros(col("o_orderdate"))).as("t1"))
      .select(expr("t0 + (t1 - t0) * 7 div 10").as("cut")))

  /** q297's pinned basket relation: per order the sorted item set and
    * the is_post split flag — shared by the model and eval legs. */
  def q297Baskets(s: SparkSession, d: String): DataFrame =
    // r14: fold lineitem ALONE (the one corpus exchange, two narrow
    // columns) and attach is_post to the FOLDED orders-sized relation —
    // the r13 form joined `us` onto every lineitem row before the fold
    // and carried max(us≥cut) through it, paying the join and the extra
    // column at corpus width for a per-ORDER constant (guide §2.3:
    // project before the exchange / join small relations after the fold)
    // r14 second cut: make the fold's exchange EXPLICIT with the
    // session's configured partition count — AQE's small-shuffle
    // coalescing otherwise folds the tiny-BYTES shuffle to one
    // partition, which serializes the collect_set AND leaves the
    // checkpoint single-partition, so the model and eval legs (the
    // CPU-heavy pair explodes) each ran in ONE task. An explicit
    // REPARTITION_BY_NUM is exempt from coalescing and is reused by
    // the groupBy (same key — no extra exchange); N follows
    // spark.sql.shuffle.partitions, so at scale this is exactly the
    // exchange the fold had anyway.
    graft.core.Pins.pin(
      t(s, d, "lineitem")
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .join(t(s, d, "orders").select(col("o_orderkey").as("l_orderkey"),
          unix_micros(col("o_orderdate")).as("us")), Seq("l_orderkey"))
        .crossJoin(q297Cut(s, d))
        .select(col("l_orderkey"), col("ps"),
          (col("us") >= col("cut")).cast("long").as("is_post")))

  /** q297's MODEL leg alone — the top-3 co-item rec list trained on
    * pre-cutoff baskets: `(i, rank, j)`. At 100 TB this is a STORED
    * INGEST ARTIFACT (the SURVEY §4.1 registry mechanism, the
    * q19_bucketed stored-layout precedent): materialized once into a
    * table, after which a re-run pays only [[q297Eval]] over the
    * post-cutoff baskets against the stored list. */
  def q297Model(baskets: DataFrame): DataFrame = {
    // co-pair counts fold on the UNORDERED i < j generation (half the
    // fold input), then mirror both orientations from the folded
    // 1.2M-row relation — the rec window needs directed rows but the
    // corpus-sized fold doesn't
    val preU = baskets.filter(col("is_post") === 0L && size(col("ps")) > 1)
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> transform(" +
          "slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb))))"))
        .as("p"))
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(count(lit(1)).as("n_co"))
    val pre = preU.select(explode(array(
        struct(col("pa").as("i"), col("pb").as("j"), col("n_co")),
        struct(col("pb").as("i"), col("pa").as("j"), col("n_co")))).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("p.n_co").as("n_co"))
    val wRec = Window.partitionBy(col("i"))
      .orderBy(col("n_co").desc, col("j"))
    pre.withColumn("rank", row_number().over(wRec).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("i"), col("rank"), col("j"))
  }

  /** q297's EVAL leg against an already-built rec list: scores the
    * post-cutoff baskets in `baskets`. */
  def q297Eval(baskets: DataFrame, recs: DataFrame): DataFrame = {
    // eval stays SCAN-LOCAL against the basket array: explode each
    // post basket to (order, i, ps), probe the broadcast rec list, and
    // test membership with array_contains — no (order, item) join ever
    // shuffles (the first cut's left-semi on (orderkey, j) planned two
    // extra exchanges for the same answer)
    // r14: no pin — evalPairs has exactly ONE consumer (the fold below),
    // so the r13 localCheckpoint was a pure extra materialization job +
    // block write of an eval-pairs-sized relation for nothing
    val evalPairs = (
      baskets.filter(col("is_post") === 1L && size(col("ps")) > 1)
        .select(col("l_orderkey"), col("ps"), explode(col("ps")).as("i"))
        .join(broadcast(recs.groupBy(col("i"))
          .agg(sort_array(collect_list(struct(col("rank"), col("j"))))
            .as("rl"))), Seq("i"), "left")
        .select(col("l_orderkey"), col("i"),
          col("rl").isNotNull.cast("long").as("has_recs"),
          expr("""coalesce(aggregate(rl, CAST(99 AS BIGINT), (acc, r) ->
                  CASE WHEN array_contains(ps, r.j) AND r.rank < acc
                       THEN r.rank ELSE acc END), CAST(99 AS BIGINT))""")
            .as("min_rank")))
    evalPairs.agg(count(lit(1)).as("n_eval"),
        sum(col("has_recs")).as("n_covered"),
        sum(when(col("min_rank") <= 1L, 1L).otherwise(0L)).as("h1"),
        sum(when(col("min_rank") <= 2L, 1L).otherwise(0L)).as("h2"),
        sum(when(col("min_rank") <= 3L, 1L).otherwise(0L)).as("h3"))
      .select(col("n_eval"), col("n_covered"),
        col("h1").as("hits_at_1"), col("h2").as("hits_at_2"),
        col("h3").as("hits_at_3"),
        expr("n_covered * 1000000 div greatest(1, n_eval)")
          .as("coverage_ppm"),
        expr("h1 * 1000000 div greatest(1, n_covered)").as("hit1_ppm"),
        expr("h2 * 1000000 div greatest(1, n_covered)").as("hit2_ppm"),
        expr("h3 * 1000000 div greatest(1, n_covered)").as("hit3_ppm"))
  }

  // r14 note: a pre/post SPLIT fold (filter each side before its own
  // fold, no pin) was measured at 2.25 s vs the pinned single fold's
  // 1.66 s — the second scan+join outweighs the checkpoint round-trip
  // at this shape, so the pin stays and the fold got narrower instead.
  val q297: Q = (s, d) => {
    val baskets = q297Baskets(s, d)
    q297Eval(baskets, q297Model(baskets))
  }

  val q297Sql: String =
    """WITH ob AS (SELECT o_orderkey, epoch_us(o_orderdate) AS us
      |       FROM orders),
      |cutoff AS (SELECT min(us) + (max(us) - min(us)) * 7 // 10 AS cut
      |           FROM ob),
      |inc AS (SELECT DISTINCT l.l_orderkey, l.l_partkey,
      |          CAST(ob.us >= cut AS BIGINT) AS is_post
      |        FROM lineitem l JOIN ob ON l.l_orderkey = ob.o_orderkey,
      |             cutoff),
      |pre AS (SELECT x.l_partkey AS i, y.l_partkey AS j,
      |          CAST(count(*) AS BIGINT) AS n_co
      |        FROM inc x JOIN inc y ON x.l_orderkey = y.l_orderkey
      |          AND x.l_partkey <> y.l_partkey
      |        WHERE x.is_post = 0 AND y.is_post = 0
      |        GROUP BY 1, 2),
      |recs AS (SELECT i, CAST(rank AS BIGINT) AS rank, j FROM
      |           (SELECT i, j, row_number() OVER
      |              (PARTITION BY i ORDER BY n_co DESC, j) AS rank
      |            FROM pre)
      |         WHERE rank <= 3),
      |post AS (SELECT l_orderkey, l_partkey FROM inc WHERE is_post = 1
      |         AND l_orderkey IN (SELECT l_orderkey FROM inc
      |                            WHERE is_post = 1
      |                            GROUP BY 1 HAVING count(*) > 1)),
      |ev AS (SELECT l_orderkey, l_partkey AS i FROM post),
      |hr AS (SELECT e.l_orderkey, e.i, min(r.rank) AS min_rank
      |       FROM ev e JOIN recs r ON e.i = r.i
      |       WHERE EXISTS (SELECT 1 FROM post p
      |                     WHERE p.l_orderkey = e.l_orderkey
      |                       AND p.l_partkey = r.j)
      |       GROUP BY 1, 2),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_eval FROM ev),
      |cov AS (SELECT CAST(count(*) AS BIGINT) AS n_covered FROM ev
      |        WHERE i IN (SELECT DISTINCT i FROM recs)),
      |h AS (SELECT
      |        CAST(coalesce(sum(CASE WHEN min_rank <= 1 THEN 1 ELSE 0 END),
      |             0) AS BIGINT) AS h1,
      |        CAST(coalesce(sum(CASE WHEN min_rank <= 2 THEN 1 ELSE 0 END),
      |             0) AS BIGINT) AS h2,
      |        CAST(coalesce(sum(CASE WHEN min_rank <= 3 THEN 1 ELSE 0 END),
      |             0) AS BIGINT) AS h3
      |      FROM hr)
      |SELECT n_eval, n_covered,
      |       h1 AS hits_at_1, h2 AS hits_at_2, h3 AS hits_at_3,
      |       n_covered * 1000000 // greatest(1, n_eval) AS coverage_ppm,
      |       h1 * 1000000 // greatest(1, n_covered) AS hit1_ppm,
      |       h2 * 1000000 // greatest(1, n_covered) AS hit2_ppm,
      |       h3 * 1000000 // greatest(1, n_covered) AS hit3_ppm
      |FROM tot, cov, h""".stripMargin

  /** name → (query, oracle) */
  val entries: Seq[(String, Q, String)] = Seq(
    ("q153_shipping_priority", q153, q153Sql),
    ("q154_local_supplier_volume", q154, q154Sql),
    ("q155_returned_items", q155, q155Sql),
    ("q157_waiting_suppliers", q157, q157Sql),
    ("q158_waiting_suppliers_onescan", q158, q158Sql),
    ("q162_volume_shipping", q162, q162Sql),
    ("q179_market_share", q179, q179Sql),
    ("q184_custdist", q184, q184Sql),
    ("q185_small_order_revenue", q185, q185Sql),
    ("q187_share_of_parent", q187, q187Sql),
    ("q195_hierarchy_rollup", q195, q195Sql),
    ("q201_disjunctive_bands", q201, q201Sql),
    ("q202_dormant_rich", q202, q202Sql),
    ("q209_dominant_suppliers", q209, q209Sql),
    ("q210_mincost_supplier", q210, q210Sql),
    ("q213_pareto_abc", q213, q213Sql),
    ("q218_important_parts", q218, q218Sql),
    ("q220_late_orders", q220, q220Sql),
    ("q222_profit_by_nation", q222, q222Sql),
    ("q223_promo_share", q223, q223Sql),
    ("q224_top_supplier_ties", q224, q224Sql),
    ("q225_supplier_cnt_classes", q225, q225Sql),
    ("q226_large_volume_orders", q226, q226Sql),
    ("q232_forecast_revenue", q232, q232Sql),
    ("q233_priority_lateness", q233, q233Sql),
    ("q244_item_similarity", q244, q244Sql),
    ("q297_recsys_hitrate", q297, q297Sql),
    ("q31_correlated_subquery", q31, q31Sql),
    ("q32_percentiles", q32, q32Sql),
    ("q33_date_arithmetic", q33, q33Sql),
    ("q34_string_funcs", q34, q34Sql),
    ("q35_array_funcs", q35, q35Sql),
    ("q36_not_exists", q36, q36Sql),
    ("q37_topk_per_group", q37, q37Sql),
    ("q40_pivot", q40, q40Sql),
    ("q41_multiset_ops", q41, q41Sql),
    ("q42_range_frame", q42, q42Sql),
    ("q43_window_navigation", q43, q43Sql),
    ("q44_grouping_sets", q44, q44Sql),
    ("q48_data_quality", q48, q48Sql),
    ("q69_unpivot", q69, q69Sql),
    ("q70_gap_fill", q70, q70Sql),
    ("q77_merge_upsert", q77, q77Sql))
}
