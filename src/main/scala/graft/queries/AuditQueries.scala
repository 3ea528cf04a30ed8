package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{TextOps, VectorOps}

/** Corpus- and index-AUDIT queries (q114–q118): the checks a training-data
  * pipeline runs over an already-built corpus and its indexes — chunk-level
  * duplication gating, fuzzy benchmark decontamination, embedding-space
  * drift, ANN recall measurement, and seasonal rate monitoring. They extend
  * the reference's own integrity discipline (verify-every-download,
  * metrics-on-every-failure — `download/download.go`'s checksum + metric
  * pattern) from single objects to whole-corpus statistical properties.
  *
  * House rules as everywhere else: pure codegen'd built-ins (the only
  * kernels are the repo's own Catalyst expressions), DuckDB oracle per
  * query, integer dataflow wherever a float sum would be order-sensitive,
  * round(…, 4) at the float boundary, total ORDER BY.
  */
object AuditQueries {
  import CoreQueries.Q

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  // --------------------------------------------------------------- Q114
  /** CHUNK-level duplication gate (the RefinedWeb/FineWeb doc filter):
    * split each document into consecutive non-overlapping 8-token
    * chunks, call a chunk duplicated when its hash occurs in ≥ 2
    * distinct documents, and DROP a document when more than half its
    * chunks are duplicated. Sits between q04 (whole-doc exact dedup)
    * and q19 (near-dup pairs): it catches template pages that share
    * most of their body without being near-identical as a whole.
    *
    * Scale shape: the text never shuffles — chunks leave the scan as
    * slim (doc_id, md5) pairs; one partial-aggregable distinct+count
    * per chunk hash, one slim equi-join back. At 100 TB the chunk
    * count table is the stored artifact (ingest maintains it exactly
    * like q55's band table) and the bloom prefilter of q84 applies
    * verbatim to skip the join for never-duplicated chunks. */
  val q114: Q = (s, d) => {
    val ch = t(s, d, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), floor(size(col("t")) / 8).cast("int")),
          i => md5(concat_ws(" ",
            slice(col("t"), (i - lit(1)) * lit(8) + lit(1), lit(8)))))).as("h"))
    val nd = ch.distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
    ch.join(nd, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4).as("dup_ratio"),
        when(col("n_dup_chunks") * 2 > col("n_chunks"), "drop").otherwise("keep").as("verdict"))
      .orderBy(col("doc_id"))
  }

  val q114Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ch AS (SELECT doc_id, unnest(list_transform(
      |         generate_series(1, CAST(floor(len(t) / 8) AS INT)),
      |         i -> md5(array_to_string(t[(i-1)*8+1:(i-1)*8+8], ' ')))) AS h
      |       FROM toks WHERE len(t) >= 8),
      |nd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY h),
      |agg AS (SELECT ch.doc_id, count(*) AS n_chunks,
      |          CAST(sum(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
      |        FROM ch JOIN nd USING (h) GROUP BY ch.doc_id)
      |SELECT doc_id, n_chunks, n_dup_chunks,
      |       round(CAST(n_dup_chunks AS DOUBLE) / n_chunks, 4) AS dup_ratio,
      |       CASE WHEN n_dup_chunks * 2 > n_chunks THEN 'drop' ELSE 'keep' END AS verdict
      |FROM agg ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q115
  /** FUZZY benchmark decontamination — q59 with one-token tolerance
    * (the GPT-3/PaLM decontamination recipe: a training n-gram is
    * contaminated if it matches a benchmark n-gram up to a small edit).
    * Token-level Hamming ≤ 1 on positional 5-grams, via SymSpell's
    * delete-variant trick lifted from characters (q80) to tokens: each
    * 5-gram emits its 5 drop-one-token variants keyed by drop position;
    * two 5-grams share a (position, variant) key iff they agree on the
    * other four positions, i.e. differ in at most the dropped token.
    * Exact-match grams match at every position — no double count, the
    * hit set is distinct-per-(doc, gram).
    *
    * Scale shape: identical to q59 — the benchmark variant set is tiny
    * and BROADCASTS; the corpus side computes its variants scan-locally
    * and never shuffles on the gram. 5× variant fan-out on slim strings
    * only, never the document text.
    *
    * The benchmark variant-key set is a STORED ARTIFACT (the q30/q62
    * policy): a fixed eval benchmark is immutable, so its drop-one
    * variant keys are memoized per (session, dir) — trained on first
    * use, every later call broadcasts the checkpointed set and plans
    * ONE parquet scan (the corpus side; AuditSpec pins zero
    * benchmark-side tokenize in the steady plan). Round-6's form
    * re-derived the benchmark from the corpus scan inside every run —
    * 2.4 s/run at sf0.1, the suite's slowest query, all re-tokenize. */
  val q115: Q = (s, d) =>
    fuzzyHits(variantKeyed(
        t(s, d, "documents").filter(col("source") =!= "src0")),
      benchVariantsFor(s, d))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fuzzy_contaminated"))
      .orderBy(col("doc_id"))

  /** Slim (doc_id, source, gram, vk) drop-one variant relation — the
    * q115 kernel, scan-local over `docs`, via the fused native
    * [[TextOps.fuzzyVariantPairs]] expression: 64-bit variant keys
    * (drop position as salt) and the whole-gram identity hash computed
    * in one pass with per-token hashes reused across grams — no sliced
    * arrays, no concatenated strings (three generations, measured at
    * sf0.1's 1.19M-variant relation: slice-then-concat strings 3.3 s →
    * unrolled element_at concats 0.9 s → this kernel ~0.3 s), and the
    * broadcast bench set becomes 8-byte longs instead of ~40-byte
    * strings. Collision/equivalence notes live on the kernel. */
  private def variantKeyed(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        explode(TextOps.fuzzyVariantPairs(col("text"), 5)).as("p"))
      .select(col("doc_id"), col("source"),
        col("p.g").as("gram"), col("p.v").as("vk"))

  /** Distinct (doc, gram) fuzzy hits of `keyed` against the benchmark
    * variant-key set. */
  private def fuzzyHits(keyed: org.apache.spark.sql.DataFrame,
                        bench: org.apache.spark.sql.DataFrame) =
    keyed.join(broadcast(bench), "vk")
      .select(col("doc_id"), col("gram")).distinct()

  /** Memoized benchmark (src0) variant-key set — checkpointed like the
    * IVF quantizer / inverted index: production extracts it once when
    * the benchmark is registered and ships the key set with the store. */
  private val benchVariants =
    new PipelineQueries.BoundedModelCache[org.apache.spark.sql.DataFrame](
      PipelineQueries.releaseCheckpoint)
  def clearBenchVariants(): Unit = benchVariants.clear()
  private def benchVariantsFor(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    benchVariants.getOrTrain((s, d, 0)) {
      variantKeyed(t(s, d, "documents").filter(col("source") === "src0"))
        .select(col("vk")).distinct()
        .localCheckpoint()
    }

  val q115Sql: String =
    """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |g AS (SELECT doc_id, source,
      |        unnest(list_transform(generate_series(1, len(t) - 4), i -> t[i:i+4])) AS w
      |      FROM toks WHERE len(t) >= 5),
      |v AS (SELECT doc_id, source, array_to_string(w, ' ') AS gram,
      |        unnest(list_transform(generate_series(0, 4),
      |          j -> CAST(j AS VARCHAR) || '|' ||
      |               array_to_string(list_concat(w[1:j], w[j+2:5]), ' '))) AS vk
      |      FROM g),
      |bench AS (SELECT DISTINCT vk FROM v WHERE source = 'src0'),
      |hit AS (SELECT DISTINCT doc_id, gram
      |        FROM v JOIN bench USING (vk) WHERE source <> 'src0')
      |SELECT doc_id, count(*) AS n_fuzzy_contaminated
      |FROM hit GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q116
  /** Embedding-space CENTROID DRIFT per label — the monitoring twin of
    * q68/q86 for the VECTOR column: how far each label's centroid sits
    * from the global centroid (cosine distance), the signal that flags
    * a collapsing or drifting embedding slice before it poisons ANN
    * routing. Exactness discipline: dims quantize to round(x·1000) as
    * LONG at the scan, every aggregation is an order-invariant integer
    * sum, and cosine is scale-invariant so the INTEGER SUM VECTORS
    * stand in for the mean centroids exactly — the single float
    * expression runs over identical longs on both engines. Magnitudes:
    * |q| ≤ ~2·10³, so Σq ≤ 2·10⁹ per dim at 10⁶ rows/label and the
    * Σ(sl·sg) dot stays < 2⁶³ through warehouse scale.
    *
    * Scale shape: one slim (label, pos, q) explode — 64 longs per row,
    * the vector itself never shuffles — into a partial-aggregable
    * groupBy; the global vector derives from the per-label sums (no
    * second scan) and the final join is 64·|labels| rows broadcast. */
  val q116: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(col("label"),
        posexplode(transform(col("embedding").cast("array<double>"),
          x => round(x.cast("double") * 1000, 0).cast("long"))).as(Seq("pos", "q")))
    // dims·|labels| rows — PINNED so the global-vector derivation and the
    // final per-label fold read materialized blocks instead of each
    // replanning the corpus scan (the q89 shared-counts discipline)
    val perLabel = graft.core.Pins.pin(e.groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("sl"), count(lit(1)).as("nl")))
    val global = perLabel.groupBy(col("pos")).agg(sum(col("sl")).as("sg"))
    perLabel.join(broadcast(global), "pos")
      .groupBy(col("label"))
      .agg(max(col("nl")).as("n_vecs"),
        sum(col("sl") * col("sg")).as("dp"),
        sum(col("sl") * col("sl")).as("ll"),
        sum(col("sg") * col("sg")).as("gg"))
      .select(col("label"), col("n_vecs"),
        round(lit(1.0) - col("dp").cast("double") /
          (sqrt(col("ll").cast("double")) * sqrt(col("gg").cast("double"))), 4)
          .as("drift"))
      .orderBy(col("label"))
  }

  val q116Sql: String =
    """WITH q AS (SELECT label, j AS pos,
      |             CAST(round(CAST(embedding[j] AS DOUBLE) * 1000, 0) AS BIGINT) AS q
      |           FROM embeddings
      |           CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) js),
      |pl AS (SELECT label, pos, CAST(sum(q) AS BIGINT) AS sl, count(*) AS nl
      |       FROM q GROUP BY 1, 2),
      |g AS (SELECT pos, CAST(sum(sl) AS BIGINT) AS sg FROM pl GROUP BY 1)
      |SELECT label, max(nl) AS n_vecs,
      |       round(1.0 - CAST(sum(sl * sg) AS DOUBLE)
      |             / (sqrt(CAST(sum(sl * sl) AS DOUBLE))
      |                * sqrt(CAST(sum(sg * sg) AS DOUBLE))), 4) AS drift
      |FROM pl JOIN g USING (pos)
      |GROUP BY label ORDER BY label""".stripMargin

  // --------------------------------------------------------------- Q117
  /** ANN RECALL@10 measurement — the eval that keeps q23's approximate
    * index honest: for a fixed probe set (vec_id < 5), compare the
    * sign-LSH bucket search's top-10 against the exact brute-force
    * top-10 and report per-probe recall plus the candidate-set size
    * the bucket actually pruned to. This is the dial-setting query for
    * [[VectorOps.signBucket]]'s bits ↔ recall trade — production runs
    * it on a sampled probe set after every index rebuild.
    *
    * Scale shape: probes BROADCAST (model-sized), so both legs are one
    * corpus scan each with scan-local cosine; ranking shuffles slim
    * (pid, vec_id, sim) rows partitioned by probe. The exact leg is
    * deliberately brute-force — it is the ground truth being measured
    * against, priced by keeping the probe sample small. Ties at the
    * top-10 boundary break deterministically on (sim desc, vec_id) on
    * both engines. */
  val q117: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bkt", VectorOps.signBucket(col("v"), 4))
    val probes = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("pid"), col("v").as("pv"), col("bkt").as("pbkt")))
    // slim (pid, vec_id, in_bucket, sim) — PINNED: one corpus scan feeds
    // both rankings; both legs fuse into a SINGLE window pass over the
    // same (pid)-partitioning: rkAll ranks everything, and the running
    // in-bucket count IS the bucket-leg rank for in-bucket rows (same
    // ordering), so exact top-10, approx top-10 and the candidate count
    // fold in one (pid)-keyed aggregate that reuses the window Exchange.
    val scored = graft.core.Pins.pin(
      e.crossJoin(probes).filter(col("vec_id") =!= col("pid"))
        .select(col("pid"), col("vec_id"),
          (col("bkt") === col("pbkt")).as("in_bucket"),
          round(VectorOps.cosine(col("v"), col("pv")), 4).as("sim")))
    val rk = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rkAll", row_number().over(rk))
      .withColumn("rkB", sum(when(col("in_bucket"), 1L).otherwise(0L))
        .over(rk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("pid"))
      .agg(sum(when(col("in_bucket"), 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("in_bucket") && col("rkB") <= 10 && col("rkAll") <= 10, 1L)
          .otherwise(0L)).as("n_hits"))
      .select(col("pid").as("probe_id"), col("n_candidates"), col("n_hits"),
        round(col("n_hits").cast("double") / 10.0, 4).as("recall_at_10"))
      .orderBy(col("probe_id"))
  }

  val q117Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |b AS (SELECT vec_id, v,
      |        CAST(list_sum(list_transform(generate_series(1, 4),
      |          i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 1) AS BIGINT)
      |               ELSE 0 END)) AS BIGINT) AS bkt
      |      FROM e),
      |p AS (SELECT vec_id AS pid, v AS pv, bkt AS pbkt FROM b WHERE vec_id < 5),
      |sc AS (SELECT p.pid, b.vec_id, b.bkt, p.pbkt,
      |         round(list_inner_product(b.v, p.pv)
      |               / (sqrt(list_inner_product(b.v, b.v))
      |                  * sqrt(list_inner_product(p.pv, p.pv))), 4) AS sim
      |       FROM b CROSS JOIN p WHERE b.vec_id <> p.pid),
      |ex AS (SELECT pid, vec_id FROM (
      |         SELECT pid, vec_id,
      |                row_number() OVER (PARTITION BY pid ORDER BY sim DESC, vec_id) AS rk
      |         FROM sc) WHERE rk <= 10),
      |cd AS (SELECT * FROM sc WHERE bkt = pbkt),
      |ap AS (SELECT pid, vec_id FROM (
      |         SELECT pid, vec_id,
      |                row_number() OVER (PARTITION BY pid ORDER BY sim DESC, vec_id) AS rk
      |         FROM cd) WHERE rk <= 10),
      |nc AS (SELECT pid, count(*) AS n_candidates FROM cd GROUP BY pid),
      |h AS (SELECT ex.pid, count(*) AS n_hits
      |      FROM ex JOIN ap USING (pid, vec_id) GROUP BY ex.pid)
      |SELECT p.pid AS probe_id, coalesce(nc.n_candidates, 0) AS n_candidates,
      |       coalesce(h.n_hits, 0) AS n_hits,
      |       round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0, 4) AS recall_at_10
      |FROM p LEFT JOIN nc ON nc.pid = p.pid LEFT JOIN h ON h.pid = p.pid
      |ORDER BY probe_id""".stripMargin

  // --------------------------------------------------------------- Q118
  /** SEASONAL-baseline rate monitoring — q113's complement: q113 flags
    * bursts against the trailing 24 hours (detects sudden spikes but
    * re-alarms every daily peak), this one scores each hour against
    * the distribution of the SAME hour-of-day across the whole horizon,
    * so a 9am surge is judged against other 9am's. The pair is the
    * standard production alarm stack (trailing + seasonal). Integer
    * discipline exactly as q113: count, Σn, Σn² are order-invariant
    * long sums per hour-of-day group; the one float expression is
    * written identically on both engines and rounded at 4 dp.
    *
    * Scale shape: corpus-sized work is the same ONE partial-aggregable
    * hour count as q113; the seasonal window partitions the tiny HOURS
    * relation by hour-of-day — 24 groups of horizon/24 rows each, a
    * model-sized shuffle regardless of event volume. */
  val q118: Q = (s, d) => {
    val hours = t(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hod", hour(col("h")))
    val w = Window.partitionBy(col("hod"))
    val zNum = col("n").cast("double") - col("s").cast("double") / col("cnt")
    val zDen = sqrt((col("ssq").cast("double") -
      col("s").cast("double") * col("s") / col("cnt")) / col("cnt"))
    hours
      .withColumn("s", sum(col("n")).over(w))
      .withColumn("ssq", sum(col("n") * col("n")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") >= 5 && col("ssq") * col("cnt") > col("s") * col("s"))
      .select(col("h"), col("hod"), col("n"),
        round(col("s").cast("double") / col("cnt"), 4).as("seasonal_mean"),
        round(zNum / zDen, 4).as("z"),
        (zNum / zDen >= 2.0).cast("int").as("spike"))
      .orderBy(col("h"))
  }

  val q118Sql: String =
    """WITH hours AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n
      |               FROM events GROUP BY 1),
      |w AS (SELECT h, CAST(hour(h) AS INT) AS hod, n,
      |        sum(n) OVER pw AS s,
      |        sum(n * n) OVER pw AS ssq,
      |        count(*) OVER pw AS cnt
      |      FROM hours
      |      WINDOW pw AS (PARTITION BY hour(h)))
      |SELECT h, hod, n,
      |       round(CAST(s AS DOUBLE) / cnt, 4) AS seasonal_mean,
      |       round((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / cnt)
      |             / sqrt((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / cnt) / cnt), 4) AS z,
      |       CAST((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / cnt)
      |            / sqrt((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / cnt) / cnt) >= 2.0
      |            AS INT) AS spike
      |FROM w WHERE cnt >= 5 AND ssq * cnt > s * s
      |ORDER BY h""".stripMargin

  // --------------------------------------------------------------- Q119
  /** VOCAB COVERAGE curve (the Zipf audit behind tokenizer vocab
    * sizing): term occurrence counts ranked by frequency with the
    * cumulative share of all occurrences — "the top k types cover p%
    * of the corpus" read directly off the curve. One partial-aggregable
    * term count is the only corpus-sized work; the ranking window rides
    * the VOCAB relation, which is model-sized by Heaps' law (q104
    * measures exactly that growth), so the unpartitioned sort is a
    * deliberate small-series pass, not a data shuffle — the q113 hours
    * rationale applied to types. Ties rank (count desc, term) on both
    * engines. */
  val q119: Q = (s, d) => {
    val counts = t(s, d, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("k"))
    val total = counts.agg(sum(col("k")).as("total"))
    val w = Window.orderBy(col("k").desc, col("term"))
    counts.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("k"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("term"), col("k"),
        round(col("cum").cast("double") / col("total"), 4).as("cum_share"))
      .orderBy(col("rank"))
  }

  val q119Sql: String =
    """WITH counts AS (SELECT t AS term, count(*) AS k
      |               FROM (SELECT unnest(string_split(text, ' ')) AS t
      |                     FROM documents) GROUP BY 1),
      |ranked AS (SELECT term, k,
      |             CAST(row_number() OVER w AS BIGINT) AS rank,
      |             sum(k) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
      |                          AND CURRENT ROW) AS cum
      |           FROM counts WINDOW w AS (ORDER BY k DESC, term))
      |SELECT rank, term, k,
      |       round(CAST(cum AS DOUBLE) / (SELECT sum(k) FROM counts), 4) AS cum_share
      |FROM ranked ORDER BY rank""".stripMargin

  // --------------------------------------------------------------- Q120
  /** Multi-SIGNAL quality blend (the FineWeb-Edu-style combined filter):
    * three per-document signals — token count, distinct-3-gram
    * diversity, stopword occurrences — z-normalized against corpus
    * statistics and averaged; top 50 docs by blend. The deliberate
    * design is WINDOW-FREE normalization: percent-rank blending needs a
    * full sort per signal (three unpartitioned corpus sorts), so the
    * normalizer is instead (x − μ)/σ with μ, σ from ONE tiny aggregate
    * over the scan-local INTEGER signals — order-invariant long sums,
    * one broadcast back, and the blend is scan-local arithmetic into a
    * TakeOrdered top-k. Identical float expression over identical
    * integers on both engines; ranking ties break on doc_id. */
  val q120: Q = (s, d) => {
    val stops = TextOps.EnStops.map(x => x: Any)
    val sig = t(s, d, "documents").select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("s_len"),
      size(TextOps.shinglesNative(col("text"), 3)).cast("long").as("s_div"),
      size(filter(TextOps.tokens(col("text")), t => t.isin(stops: _*)))
        .cast("long").as("s_stop"))
    val stats = sig.agg(
      count(lit(1)).as("n"),
      sum(col("s_len")).as("a1"), sum(col("s_len") * col("s_len")).as("b1"),
      sum(col("s_div")).as("a2"), sum(col("s_div") * col("s_div")).as("b2"),
      sum(col("s_stop")).as("a3"), sum(col("s_stop") * col("s_stop")).as("b3"))
    def z(x: Column, a: Column, b: Column, n: Column): Column =
      (x.cast("double") - a.cast("double") / n) /
        sqrt((b.cast("double") - a.cast("double") * a / n) / n)
    val blend = (z(col("s_len"), col("a1"), col("b1"), col("n")) +
      z(col("s_div"), col("a2"), col("b2"), col("n")) +
      z(col("s_stop"), col("a3"), col("b3"), col("n"))) / 3.0
    sig.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("s_len"), col("s_div"), col("s_stop"),
        round(blend, 4).as("blend"))
      .orderBy(col("blend").desc, col("doc_id"))
      .limit(50)
  }

  val q120Sql: String = {
    val stops = TextOps.EnStops.map(s => s"'$s'").mkString(", ")
    s"""WITH sig AS (SELECT doc_id,
       |    CAST(len(t) AS BIGINT) AS s_len,
       |    CAST(len(list_distinct(list_transform(generate_series(1, len(t) - 2),
       |           i -> array_to_string(t[i:i+2], ' ')))) AS BIGINT) AS s_div,
       |    CAST(len(list_filter(t, x -> x IN ($stops))) AS BIGINT) AS s_stop
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
       |st AS (SELECT count(*) AS n,
       |         sum(s_len) AS a1, sum(s_len * s_len) AS b1,
       |         sum(s_div) AS a2, sum(s_div * s_div) AS b2,
       |         sum(s_stop) AS a3, sum(s_stop * s_stop) AS b3
       |       FROM sig)
       |SELECT doc_id, s_len, s_div, s_stop,
       |  round(((CAST(s_len AS DOUBLE) - CAST(a1 AS DOUBLE) / n)
       |           / sqrt((CAST(b1 AS DOUBLE) - CAST(a1 AS DOUBLE) * a1 / n) / n)
       |         + (CAST(s_div AS DOUBLE) - CAST(a2 AS DOUBLE) / n)
       |           / sqrt((CAST(b2 AS DOUBLE) - CAST(a2 AS DOUBLE) * a2 / n) / n)
       |         + (CAST(s_stop AS DOUBLE) - CAST(a3 AS DOUBLE) / n)
       |           / sqrt((CAST(b3 AS DOUBLE) - CAST(a3 AS DOUBLE) * a3 / n) / n))
       |        / 3.0, 4) AS blend
       |FROM sig CROSS JOIN st
       |ORDER BY blend DESC, doc_id LIMIT 50""".stripMargin
  }

  // --------------------------------------------------------------- Q121
  /** CURATION FUNNEL — per-source loss accounting through the
    * pipeline's gates, the attrition table a data team ships with every
    * corpus release: how many documents each source loses to the Gopher
    * rule bundle (q102's gate), exact content dedup (q05's keep-first),
    * the chunk-duplication filter (q114's verdict), and benchmark
    * contamination (q59's flag, src0 = the benchmark itself exempt),
    * and how many survive EVERY gate. Gates are computed as slim
    * (doc_id, flag) relations off ONE pinned base scan (the q93 build
    * discipline — unpinned, each gate would replan the corpus scan) and
    * joined back on doc_id; every count is an integer sum. At 100 TB
    * each gate's verdict is a stored column maintained at ingest and
    * the funnel collapses to one scan of the verdict table — this query
    * IS that table's initial build. */
  val q121: Q = (s, d) => {
    // (r14 measured-negative: spreading the corpus before this pin —
    // the q144 pattern — benched 0.93 → ~3.2 s. The checkpoint then
    // materializes 32 partitions, and because a checkpointed LogicalRDD
    // has FIXED partitioning AQE cannot coalesce it back, so all four
    // gate subtrees and the 4-way funnel join ran ~19 jobs of 32 tiny
    // tasks each — dispatch swamped the parallelized kernels. The
    // single-partition pin stays.)
    val base = graft.core.Pins.pin(t(s, d, "documents")
      .select(col("doc_id"), col("source"), col("text")))
    // gate 1: Gopher rule bundle (q102's integer rules, pass == all four)
    val tc = base.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("k"))
    val gopher = tc.groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k") * length(col("term"))).as("n_chars"),
        sum(when(col("term").isin(TextOps.EnStops.map(x => x: Any): _*),
          col("k")).otherwise(0L)).as("stop_k"),
        max(col("k")).as("max_k"))
      .select(col("doc_id"),
        (!(col("n_tokens") >= 50 && col("n_tokens") <= 100000 &&
          col("n_chars") >= col("n_tokens") * 3 &&
          col("n_chars") <= col("n_tokens") * 10 &&
          col("stop_k") >= 2 &&
          col("max_k") * 5 <= col("n_tokens"))).cast("long").as("f_gopher"))
    // gate 2: exact dup — keep the smallest doc_id per content hash
    val dup = base.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id"))))
      .select(col("doc_id"), (col("rn") > 1).cast("long").as("f_dup"))
    // gate 3: chunk-duplication verdict (q114's construction)
    val ch = base.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), floor(size(col("t")) / 8).cast("int")),
          i => md5(concat_ws(" ",
            slice(col("t"), (i - lit(1)) * lit(8) + lit(1), lit(8)))))).as("h"))
    val nd = ch.distinct().groupBy(col("h")).agg(count(lit(1)).as("nd"))
    val chunk = ch.join(nd, "h").groupBy(col("doc_id"))
      .agg((sum(when(col("nd") >= 2, 1L).otherwise(0L)) * 2 >
        count(lit(1))).cast("long").as("f_chunk"))
    // gate 4: benchmark contamination (q59's flag; src0 itself exempt)
    val sh = base.select(col("doc_id"), col("source"),
      explode(array_distinct(TextOps.shinglesNative(col("text"), 3))).as("g"))
    val bench = sh.filter(col("source") === "src0").select(col("g")).distinct()
    val contam = sh.filter(col("source") =!= "src0")
      .join(broadcast(bench), "g")
      .select(col("doc_id")).distinct()
      .withColumn("f_contam", lit(1L))
    // (r15 measured-negative: replacing these four LEFT JOINs with a
    // union of failing-doc tag rows + one (doc_id) pivot fold + a
    // single spine join A/B'd 1.21 → 1.41 s best-of-7 — the union's
    // doc_id exchange costs more than four broadcast-hash probes of
    // gate-output-sized relations. The join tail stays.)
    base.select(col("doc_id"), col("source"))
      .join(gopher, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .join(chunk, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .na.fill(0L, Seq("f_gopher", "f_dup", "f_chunk", "f_contam"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("f_gopher")).as("n_gopher_fail"),
        sum(col("f_dup")).as("n_exact_dup"),
        sum(col("f_chunk")).as("n_chunk_dup"),
        sum(col("f_contam")).as("n_contaminated"),
        sum(when(col("f_gopher") === 0 && col("f_dup") === 0 &&
          col("f_chunk") === 0 && col("f_contam") === 0, 1L).otherwise(0L))
          .as("n_kept"))
      .orderBy(col("source"))
  }

  val q121Sql: String =
    """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |tc AS (SELECT doc_id, term, count(*) AS k FROM (
      |         SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
      |gopher AS (SELECT doc_id,
      |             CASE WHEN NOT (sum(k) BETWEEN 50 AND 100000
      |               AND sum(k * len(term)) BETWEEN sum(k) * 3 AND sum(k) * 10
      |               AND sum(CASE WHEN term IN ('the', 'a', 'of', 'and', 'to')
      |                 THEN k ELSE 0 END) >= 2
      |               AND max(k) * 5 <= sum(k))
      |             THEN 1 ELSE 0 END AS f_gopher
      |           FROM tc GROUP BY doc_id),
      |dup AS (SELECT doc_id, CASE WHEN row_number() OVER (
      |          PARTITION BY md5(text) ORDER BY doc_id) > 1
      |          THEN 1 ELSE 0 END AS f_dup FROM documents),
      |ch AS (SELECT doc_id, unnest(list_transform(
      |         generate_series(1, CAST(floor(len(t) / 8) AS INT)),
      |         i -> md5(array_to_string(t[(i-1)*8+1:(i-1)*8+8], ' ')))) AS h
      |       FROM toks WHERE len(t) >= 8),
      |nd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY h),
      |chunk AS (SELECT ch.doc_id, CASE WHEN
      |            sum(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) * 2 > count(*)
      |            THEN 1 ELSE 0 END AS f_chunk
      |          FROM ch JOIN nd USING (h) GROUP BY ch.doc_id),
      |shl AS (SELECT doc_id, source, unnest(list_distinct(list_transform(
      |          generate_series(1, len(t) - 2),
      |          i -> array_to_string(t[i:i+2], ' ')))) AS g
      |        FROM toks),
      |bench AS (SELECT DISTINCT g FROM shl WHERE source = 'src0'),
      |contam AS (SELECT DISTINCT doc_id, 1 AS f_contam
      |           FROM shl JOIN bench USING (g) WHERE source <> 'src0'),
      |flags AS (SELECT d.doc_id, d.source,
      |            coalesce(g.f_gopher, 0) AS f_gopher,
      |            coalesce(u.f_dup, 0) AS f_dup,
      |            coalesce(c.f_chunk, 0) AS f_chunk,
      |            coalesce(x.f_contam, 0) AS f_contam
      |          FROM documents d
      |          LEFT JOIN gopher g ON g.doc_id = d.doc_id
      |          LEFT JOIN dup u ON u.doc_id = d.doc_id
      |          LEFT JOIN chunk c ON c.doc_id = d.doc_id
      |          LEFT JOIN contam x ON x.doc_id = d.doc_id)
      |SELECT source, count(*) AS n_total,
      |       CAST(sum(f_gopher) AS BIGINT) AS n_gopher_fail,
      |       CAST(sum(f_dup) AS BIGINT) AS n_exact_dup,
      |       CAST(sum(f_chunk) AS BIGINT) AS n_chunk_dup,
      |       CAST(sum(f_contam) AS BIGINT) AS n_contaminated,
      |       CAST(sum(CASE WHEN f_gopher = 0 AND f_dup = 0 AND f_chunk = 0
      |                AND f_contam = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM flags GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- Q122
  /** BOILERPLATE prefix detection — per source, the most common leading
    * 8-token chunk and its share of documents: the template-header
    * signal (nav bars, license blurbs, crawler banners) that chunk
    * dedup (q114) sees only pairwise but a curation team wants
    * attributed per SOURCE before writing a strip rule. One
    * partial-aggregable (source, chunk) count is the corpus-sized work;
    * the top-1 window rides the counts relation partitioned by source.
    * Ties break (count desc, chunk) on both engines. */
  val q122: Q = (s, d) => {
    val counts = t(s, d, "documents")
      .select(col("source"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("source"), concat_ws(" ", slice(col("t"), 1, 8)).as("chunk"))
      .groupBy(col("source"), col("chunk")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("chunk"))
    counts
      .withColumn("n_docs", sum(col("cnt")).over(Window.partitionBy(col("source"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("n_docs"), col("chunk").as("top_chunk"),
        col("cnt").as("top_n"),
        round(col("cnt").cast("double") / col("n_docs"), 4).as("top_share"))
      .orderBy(col("source"))
  }

  val q122Sql: String =
    """WITH first AS (SELECT source, array_to_string(t[1:8], ' ') AS chunk
      |               FROM (SELECT source, string_split(text, ' ') AS t
      |                     FROM documents) WHERE len(t) >= 8),
      |counts AS (SELECT source, chunk, count(*) AS cnt
      |           FROM first GROUP BY 1, 2),
      |ranked AS (SELECT source, chunk, cnt,
      |             CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_docs,
      |             row_number() OVER (PARTITION BY source
      |               ORDER BY cnt DESC, chunk) AS rn
      |           FROM counts)
      |SELECT source, n_docs, chunk AS top_chunk, cnt AS top_n,
      |       round(CAST(cnt AS DOUBLE) / n_docs, 4) AS top_share
      |FROM ranked WHERE rn = 1 ORDER BY source""".stripMargin

  // --------------------------------------------------------------- Q123
  /** LSH band PRECISION — q117's sibling for the MinHash index: per
    * band of q19's 4×2 family, how many candidate pairs the band
    * generates and what fraction survive exact-Jaccard verification at
    * 0.5 — the tuning eval for the bands × rowsPerBand dial
    * ([[graft.operators.MinHashLsh.sCurveThreshold]] predicts the
    * curve; this measures it on the corpus). Reuses the production
    * machinery verbatim: [[graft.operators.MinHashLsh.signatures]] +
    * `bandTable` (band id = the key's prefix), the same slim
    * merge-hinted self-join, and the same verify expression — so the
    * measured precision is the deployed index's, not a reimplementation.
    * The signature relation is pinned (band explode + two verify joins
    * consume it). */
  val q123: Q = (s, d) => {
    // r14: spread the single-split corpus before the signature kernel
    // (the q144 A/B-proven pattern; no-op at scale)
    val sig = graft.core.Pins.pin(graft.operators.MinHashLsh.signatures(
      graft.operators.MinHashLsh.spreadSmallInput(
        t(s, d, "documents").select(col("doc_id"), col("text"))), 8, 3))
    val bt = graft.operators.MinHashLsh.bandTable(sig, 4, 2)
    val cand = bt.as("a").hint("merge")
      .join(bt.as("b").hint("merge"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(substring_index(col("a.bk"), "|", 1).cast("int").as("band"),
        col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    val shh = sig.select(col("doc_id"), col("shh"))
    cand
      .join(shh.select(col("doc_id").as("a_id"), col("shh").as("sha")), "a_id")
      .join(shh.select(col("doc_id").as("b_id"), col("shh").as("shb")), "b_id")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac", round(col("common").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("common")), 4))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jac") >= 0.5, 1L).otherwise(0L)).as("n_verified"))
      .select(col("band"), col("n_candidates"), col("n_verified"),
        round(col("n_verified").cast("double") / col("n_candidates"), 4)
          .as("precision"))
      .orderBy(col("band"))
  }

  val q123Sql: String = {
    val sigCols = (0 until 8).map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i")
      .mkString(", ")
    val bandLegs = (0 until 4).map { b =>
      s"""SELECT $b AS band, a.doc_id AS a_id, b.doc_id AS b_id,
         |       a.sh AS sha, b.sh AS shb
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  AND a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1}"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |shl AS (SELECT doc_id, list_distinct(list_transform(
       |          generate_series(1, len(t) - 2),
       |          i -> array_to_string(t[i:i+2], ' '))) AS sh
       |        FROM toks WHERE len(t) >= 3),
       |sig AS (SELECT doc_id, sh, $sigCols FROM shl),
       |cand AS ($bandLegs),
       |jc AS (SELECT band,
       |         round(CAST(len(list_intersect(sha, shb)) AS DOUBLE)
       |               / (len(sha) + len(shb) - len(list_intersect(sha, shb))), 4) AS jac
       |       FROM cand)
       |SELECT band, count(*) AS n_candidates,
       |       CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
       |       round(CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*), 4) AS precision
       |FROM jc GROUP BY band ORDER BY band""".stripMargin
  }

  // --------------------------------------------------------------- Q124
  /** TEMPORAL train/test split with a session-leakage audit — q109's
    * time-axis sibling (q109 splits by near-dup CLUSTER; this splits by
    * a calendar embargo): sessions wholly before the boundary train,
    * wholly after test, and sessions SPANNING the boundary are the
    * leakage a naive event-level split would smear across both sides.
    * The session definition is [[graft.streaming.EventStream.sessionAgg]]
    * verbatim (q39's oracle-pinned semantics), so the audit and the
    * sessionizer cannot drift. One corpus-sized session aggregation;
    * the side fold is sessions-sized. Boundary compares are integer
    * micros on both engines. */
  val q124: Q = (s, d) => {
    val bUs = 1705795200000000L // 2024-01-21T00:00:00Z
    graft.streaming.EventStream.sessionAgg(t(s, d, "events"))
      .select(col("user_id"), col("n_ev"),
        when(col("start_us") + col("span_us") < bUs, "train")
          .when(col("start_us") >= bUs, "test")
          .otherwise("spanning").as("side"))
      .groupBy(col("side"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_ev")).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("side"))
  }

  val q124Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts,
      |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                   >= INTERVAL 30 MINUTE OR
      |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked),
      |per_session AS (
      |  SELECT user_id, sid, count(*) AS n_ev,
      |         epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
      |  FROM sess GROUP BY user_id, sid)
      |SELECT CASE WHEN e_us < 1705795200000000 THEN 'train'
      |            WHEN s_us >= 1705795200000000 THEN 'test'
      |            ELSE 'spanning' END AS side,
      |       count(*) AS n_sessions,
      |       CAST(sum(n_ev) AS BIGINT) AS n_events,
      |       count(DISTINCT user_id) AS n_users
      |FROM per_session GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- Q125
  /** Near-dup DEGREE histogram — the shape report behind a dedup run:
    * how many documents have 0, 1, 2, … verified near-dup neighbors
    * (q19's pairs, symmetrized). A corpus whose duplicate mass sits in
    * one high-degree template cluster needs a different remedy
    * (boilerplate strip, q122) than one with many isolated pairs
    * (true near-dups, q52's clusters). Degree-0 docs are reported
    * explicitly via an anti-join so the histogram partitions the
    * corpus. The pair relation is the production [[MinHashLsh]] output;
    * the degree fold is pairs-sized, the histogram degrees-sized. */
  val q125: Q = (s, d) => {
    val pairs = graft.operators.MinHashLsh.nearDup(
      t(s, d, "documents"), bands = 4, rowsPerBand = 2, shingleN = 3,
      minJaccard = 0.5)
    val deg = graft.core.Pins.pin(
      pairs.select(col("a_id").as("doc_id"))
        .union(pairs.select(col("b_id").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("degree")))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
    // r15: the degree-0 count is ARITHMETIC, not an anti-join — deg has
    // one row per doc_id with a neighbor (its doc_ids all exist in
    // documents, whose doc_id is unique — AuditSpec's "q125 contract"
    // test checks it on the fixtures), so n_zero = |documents| −
    // Σ hist.n_docs. |documents| reads parquet footer statistics
    // (Tables.rowCount — metadata, no job); the corpus scan + anti-join
    // + its exchange disappear. hist's second consumer refolds the
    // PINNED deg relation (degrees-sized — cheap), never the LSH chain.
    val zero = hist
      .agg((lit(Tables.rowCount(s, d, "documents")) -
        coalesce(sum(col("n_docs")), lit(0L))).as("n_docs"))
      .select(lit(0L).as("degree"), col("n_docs"))
    hist.select(col("degree"), col("n_docs")).union(zero)
      .filter(col("n_docs") > 0)
      .orderBy(col("degree"))
  }

  val q125Sql: String = {
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
       |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS sha, b.sh AS shb
       |         FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandCond)),
       |pairs AS (SELECT a_id, b_id
       |          FROM cand
       |          WHERE round(CAST(len(list_intersect(sha, shb)) AS DOUBLE)
       |                / (len(sha) + len(shb) - len(list_intersect(sha, shb))), 4) >= 0.5),
       |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
       |        FROM (SELECT a_id AS doc_id FROM pairs
       |              UNION ALL SELECT b_id FROM pairs) GROUP BY 1),
       |hist AS (SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
       |         FROM deg GROUP BY 1),
       |zero AS (SELECT CAST(0 AS BIGINT) AS degree,
       |           CAST(count(*) AS BIGINT) AS n_docs
       |         FROM documents d
       |         WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.doc_id = d.doc_id))
       |SELECT degree, n_docs FROM (
       |  SELECT * FROM hist UNION ALL SELECT * FROM zero)
       |WHERE n_docs > 0 ORDER BY degree""".stripMargin
  }

  // --------------------------------------------------------------- Q126
  /** NEAREST as-of join with tolerance
    * ([[graft.operators.AsOfJoin.nearest]] — q57 is the backward
    * variant; this is the pandas `merge_asof(direction='nearest',
    * tolerance=...)` contract): every view event matched to the same
    * user's closest purchase in EITHER direction, within 2 hours, ties
    * to the backward match. One key shuffle feeds both carry
    * directions (two window sorts over one Exchange), gap compare is
    * scan-local. Right side pre-aggregated to one row per (user,
    * instant) so ties are deterministic; integer-micros gaps on both
    * engines. Oracle: independent correlated-subquery formulation. */
  val q126: Q = (s, d) => {
    val ev = t(s, d, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        unix_micros(col("ts")).as("vt_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("pt_us"))
      .agg(min(col("event_id")).as("purchase_id"))
    graft.operators.AsOfJoin.nearest(views, purchases, "user_id",
        "vt_us", "pt_us", Seq("purchase_id"), Some(lit(7200000000L)))
      .orderBy(col("view_id"))
  }

  val q126Sql: String =
    """WITH v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS vt_us
      |           FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, epoch_us(ts) AS pt_us, min(event_id) AS purchase_id
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |m AS (SELECT v.view_id, v.user_id, v.vt_us,
      |        (SELECT max(pt_us) FROM p
      |         WHERE p.user_id = v.user_id AND pt_us <= v.vt_us) AS bt,
      |        (SELECT min(pt_us) FROM p
      |         WHERE p.user_id = v.user_id AND pt_us >= v.vt_us) AS ft
      |      FROM v),
      |ch AS (SELECT view_id, user_id, vt_us,
      |         CASE WHEN bt IS NOT NULL AND (ft IS NULL OR vt_us - bt <= ft - vt_us)
      |              THEN bt ELSE ft END AS mt
      |       FROM m),
      |g AS (SELECT view_id, user_id, vt_us,
      |        CASE WHEN mt IS NOT NULL AND abs(vt_us - mt) <= 7200000000
      |             THEN mt END AS mt
      |      FROM ch)
      |SELECT g.view_id, g.user_id, g.vt_us, p.purchase_id,
      |       CASE WHEN g.mt IS NOT NULL THEN abs(g.vt_us - g.mt) END AS asof_gap
      |FROM g LEFT JOIN p ON p.user_id = g.user_id AND p.pt_us = g.mt
      |ORDER BY view_id""".stripMargin

  // --------------------------------------------------------------- Q127
  /** LSH RECALL — q123's other half: q123 measures how many candidates
    * the bands waste (precision), this measures how many TRUE near-dup
    * pairs the bands never surface (recall), against the exact
    * ground truth of the tiled all-pairs join (q21's operator at the
    * same 0.5 threshold). Verified LSH pairs are a SUBSET of the exact
    * pairs by construction (same Jaccard, same cutoff — LSH can only
    * miss), so recall folds from two counts. The exact side is the
    * deliberate ground truth — production runs this eval on a sampled
    * corpus slice after retuning bands, exactly like q117's ANN recall.
    * Output: one row (n_exact, n_lsh, n_missed, recall). */
  val q127: Q = (s, d) => {
    import s.implicits._
    val docs = t(s, d, "documents")
    val exact = graft.operators.SimilarityJoin.jaccardPairsText(
      docs.select(col("doc_id"), col("text")).as[(Long, String)], 3, 0.5)
      .select(col("a_id"), col("b_id"))
    val lsh = graft.operators.MinHashLsh.nearDup(docs,
      bands = 4, rowsPerBand = 2, shingleN = 3, minJaccard = 0.5)
      .select(col("a_id"), col("b_id"))
    // empty-corpus/no-candidate guard (a generated-fixture CI run
    // exposed the divergence): a zero-row global agg SUMs to NULL in
    // Spark where DuckDB's COUNTs give 0, and 0/0 is NaN here vs NULL
    // there — coalesce the counts and declare recall NULL at n_exact=0
    // identically in both engines
    exact.withColumn("src", lit("e"))
      .unionByName(lsh.withColumn("src", lit("l")))
      .agg(
        coalesce(sum(when(col("src") === "e", 1L).otherwise(0L)), lit(0L))
          .as("n_exact"),
        coalesce(sum(when(col("src") === "l", 1L).otherwise(0L)), lit(0L))
          .as("n_lsh"))
      .select(col("n_exact"), col("n_lsh"),
        (col("n_exact") - col("n_lsh")).as("n_missed"),
        when(col("n_exact") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_lsh").cast("double") / col("n_exact"), 4))
          .as("recall"))
  }

  /** Oracle note (round 13): the exact side's candidate generation is
    * PREFIX-FILTERED (the q159 AllPairs discipline) instead of the
    * original all-pairs self-join — the sf1.0 scale gate timed out on
    * the N² `shl a JOIN shl b ON a.doc_id < b.doc_id` with a
    * list_intersect per pair (15.8k docs → 125M verifies). The filter
    * is calibrated at τ' = 0.49, strictly BELOW the verify predicate's
    * round(J, 4) ≥ 0.5 (which admits true J down to 0.49995), so the
    * candidate set is a guaranteed superset of every passing pair by
    * the standard prefix-filter theorem (sets sorted under one global
    * (df, tok) order; J ≥ τ' ⇒ the τ'-prefixes intersect) and the
    * final counts are IDENTICAL to the all-pairs formulation — proven
    * by the sf0.01/sf0.1 gates which ran both forms. The LSH side's
    * OR-of-4-band join is a UNION of four hash equi-joins for the
    * same reason (an OR join condition plans as a nested loop). */
  val q127Sql: String = {
    val sigCols = (0 until 8).map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i")
      .mkString(", ")
    val bandUnion = (0 until 4).map(b =>
      s"""SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |       FROM sig a JOIN sig b
         |       ON a.doc_id < b.doc_id AND a.h${2 * b} = b.h${2 * b}
         |          AND a.h${2 * b + 1} = b.h${2 * b + 1}""".stripMargin)
      .mkString("\n       UNION\n       ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |shl AS (SELECT doc_id, list_distinct(list_transform(
       |          generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))) AS sh
       |        FROM toks),
       |tok AS (SELECT doc_id, unnest(sh) AS tok FROM shl),
       |dfr AS (SELECT doc_id, tok, count(*) OVER (PARTITION BY tok) AS df FROM tok),
       |arr AS (SELECT doc_id, array_agg(tok ORDER BY df, tok) AS a,
       |               CAST(count(*) AS BIGINT) AS n
       |        FROM dfr GROUP BY doc_id),
       |pref AS (SELECT doc_id, n,
       |           unnest(a[1 : CAST(n - ((49 * n + 99) // 100) + 1 AS INTEGER)]) AS ptok
       |         FROM arr),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |         FROM pref x JOIN pref y ON x.ptok = y.ptok AND x.doc_id < y.doc_id
       |         WHERE 100 * least(x.n, y.n) >= 49 * greatest(x.n, y.n)),
       |ex AS (SELECT a_id, b_id
       |       FROM cand
       |       JOIN shl xa ON xa.doc_id = a_id
       |       JOIN shl yb ON yb.doc_id = b_id
       |       WHERE round(CAST(len(list_intersect(xa.sh, yb.sh)) AS DOUBLE)
       |             / (len(xa.sh) + len(yb.sh) - len(list_intersect(xa.sh, yb.sh))), 4) >= 0.5),
       |sig AS (SELECT doc_id, $sigCols FROM shl),
       |lc AS ($bandUnion),
       |ls AS (SELECT a_id, b_id
       |       FROM lc
       |       JOIN shl xa ON xa.doc_id = a_id
       |       JOIN shl yb ON yb.doc_id = b_id
       |       WHERE round(CAST(len(list_intersect(xa.sh, yb.sh)) AS DOUBLE)
       |             / (len(xa.sh) + len(yb.sh) - len(list_intersect(xa.sh, yb.sh))), 4) >= 0.5),
       |c AS (SELECT (SELECT count(*) FROM ex) AS n_exact,
       |             (SELECT count(*) FROM ls) AS n_lsh)
       |SELECT n_exact, n_lsh, n_exact - n_lsh AS n_missed,
       |       CASE WHEN n_exact = 0 THEN CAST(NULL AS DOUBLE)
       |            ELSE round(CAST(n_lsh AS DOUBLE) / n_exact, 4)
       |       END AS recall
       |FROM c""".stripMargin
  }

  // --------------------------------------------------------------- Q128
  /** VECTOR HYGIENE audit — the data-quality gate for the embedding
    * column (q48's Expectations discipline applied to vectors): per
    * label, counts of NaN-carrying, zero-norm, truncated (≠ 64 dims)
    * and out-of-range (|x| > 10) vectors, plus the clean remainder —
    * the checks an ANN index build runs before trusting its input
    * (a NaN poisons every distance it touches; a zero vector has no
    * cosine). Entirely scan-local per-row predicates over the array
    * folded into one partial-aggregable groupBy; every count is an
    * integer sum. */
  val q128: Q = (s, d) => {
    val v = col("embedding").cast("array<double>")
    val hasNan = exists(v, x => isnan(x))
    val zeroNorm = !exists(v, x => x =!= 0.0)
    val truncated = size(v) =!= 64
    val outOfRange = exists(v, x => abs(x) > 10.0)
    t(s, d, "embeddings")
      .select(col("label"),
        hasNan.cast("long").as("f_nan"),
        zeroNorm.cast("long").as("f_zero"),
        truncated.cast("long").as("f_trunc"),
        outOfRange.cast("long").as("f_range"),
        (!hasNan && !zeroNorm && !truncated && !outOfRange)
          .cast("long").as("f_clean"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("f_nan")).as("n_nan"),
        sum(col("f_zero")).as("n_zero_norm"),
        sum(col("f_trunc")).as("n_truncated"),
        sum(col("f_range")).as("n_out_of_range"),
        sum(col("f_clean")).as("n_clean"))
      .orderBy(col("label"))
  }

  val q128Sql: String =
    """WITH f AS (SELECT label,
      |    CASE WHEN len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0
      |         THEN 1 ELSE 0 END AS f_nan,
      |    CASE WHEN len(list_filter(embedding, x -> CAST(x AS DOUBLE) <> 0.0)) = 0
      |         THEN 1 ELSE 0 END AS f_zero,
      |    CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END AS f_trunc,
      |    CASE WHEN len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) > 10.0)) > 0
      |         THEN 1 ELSE 0 END AS f_range
      |  FROM embeddings)
      |SELECT label, count(*) AS n_vecs,
      |       CAST(sum(f_nan) AS BIGINT) AS n_nan,
      |       CAST(sum(f_zero) AS BIGINT) AS n_zero_norm,
      |       CAST(sum(f_trunc) AS BIGINT) AS n_truncated,
      |       CAST(sum(f_range) AS BIGINT) AS n_out_of_range,
      |       CAST(sum(CASE WHEN f_nan = 0 AND f_zero = 0 AND f_trunc = 0
      |                AND f_range = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
      |FROM f GROUP BY label ORDER BY label""".stripMargin

  // --------------------------------------------------------------- Q168
  /** ANN MRR — q117's ranking-aware sibling: recall@10 says WHETHER the
    * true neighbors surface; the reciprocal rank of the TRUE nearest
    * neighbor says WHERE — an index that always buries the best match
    * at rank 9 scores recall 1.0 but MRR 0.11, and retrieval-augmented
    * training cares about the difference (the shortlist is truncated
    * far harder downstream than the eval's k). Same fused one-window
    * shape as q117: one pinned scored relation, rkAll = 1 marks the
    * true NN, the running in-bucket count IS its bucket rank, and the
    * reciprocal rank stays RATIONAL — rr_ppm = 10⁶ div rank — so no
    * float harmonic sums exist (MRR's 1/r is where cross-engine float
    * summation usually dies). Per-probe row + the exact aggregate mass
    * is the caller's mean. */
  val q168: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bkt", VectorOps.signBucket(col("v"), 4))
    val probes = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("pid"), col("v").as("pv"), col("bkt").as("pbkt")))
    val scored = graft.core.Pins.pin(
      e.crossJoin(probes).filter(col("vec_id") =!= col("pid"))
        .select(col("pid"), col("vec_id"),
          (col("bkt") === col("pbkt")).as("in_bucket"),
          round(VectorOps.cosine(col("v"), col("pv")), 4).as("sim")))
    val rk = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rkAll", row_number().over(rk))
      .withColumn("rkB", sum(when(col("in_bucket"), 1L).otherwise(0L))
        .over(rk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rkAll") === 1)
      .select(col("pid").as("probe_id"), col("vec_id").as("nn_id"),
        col("in_bucket").cast("int").as("nn_in_bucket"),
        when(col("in_bucket") && col("rkB") <= 10,
          expr("1000000 div rkB")).otherwise(0L).as("rr_ppm"))
      .orderBy(col("probe_id"))
  }

  val q168Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |b AS (SELECT vec_id, v,
      |        CAST(list_sum(list_transform(generate_series(1, 4),
      |          i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 1) AS BIGINT)
      |               ELSE 0 END)) AS BIGINT) AS bkt
      |      FROM e),
      |p AS (SELECT vec_id AS pid, v AS pv, bkt AS pbkt FROM b WHERE vec_id < 5),
      |sc AS (SELECT p.pid, b.vec_id, b.bkt = p.pbkt AS in_bucket,
      |         round(list_inner_product(b.v, p.pv)
      |               / (sqrt(list_inner_product(b.v, b.v))
      |                  * sqrt(list_inner_product(p.pv, p.pv))), 4) AS sim
      |       FROM b CROSS JOIN p WHERE b.vec_id <> p.pid),
      |r AS (SELECT pid, vec_id, in_bucket,
      |        row_number() OVER w AS rkAll,
      |        sum(CASE WHEN in_bucket THEN 1 ELSE 0 END) OVER
      |          (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rkB
      |      FROM sc
      |      WINDOW w AS (PARTITION BY pid ORDER BY sim DESC, vec_id))
      |SELECT pid AS probe_id, vec_id AS nn_id,
      |       CAST(in_bucket AS INT) AS nn_in_bucket,
      |       CAST(CASE WHEN in_bucket AND rkB <= 10 THEN 1000000 // rkB
      |            ELSE 0 END AS BIGINT) AS rr_ppm
      |FROM r WHERE rkAll = 1 ORDER BY probe_id""".stripMargin

  /** name → (query, oracle) */
  // --------------------------------------------------------------- Q207
  /** EXACT ROC CURVE + AUC for a quality classifier (the eval q123/
    * q127 give precision/recall a single point of — this is the whole
    * threshold SWEEP, the artifact model selection actually reads):
    * score = English-marker-token ppm (size(filter(tokens ∈ marker
    * set)) · 10⁶ div n_tokens — integer floor, classifier-agnostic:
    * any integer score column drops in), label = lang = 'en'. One
    * curve row per DISTINCT score (the thresholds "predict positive
    * iff score ≥ t"): cumulative tp/fp in descending-score order,
    * tpr/fpr as positive-ppm floors, and the running TRAPEZOID
    * integral Σ Δfp·(tp + tp_prev) whose final value is the exact
    * integer 2·AUC·P·N — the tie-correct Mann-Whitney identity
    * (q196 proves the same identity pairwise; here it falls out of
    * the sweep, and a mid-bucket tie contributes its parallelogram
    * exactly). No float ever: AUC ppm = the integral·10⁶ div (2PN)
    * at the reader's boundary if wanted. Dataflow: one tokenize
    * scan folds to the score GRID (≤ 10⁶+1 ppm values — the q141
    * value-domain bound); the curve windows ride the grid's single
    * partition (documented: grid-sized, never corpus-sized); P·N
    * needs the DECIMAL lift past ~3·10⁹ rows/class (q141's bound). */
  val q207: Q = (s, d) => {
    val markers = Seq("hash", "order", "window", "group", "batch", "big")
    val inList = markers.map(m => s"'$m'").mkString(", ")
    val scored = t(s, d, "documents").select(
      (col("lang") === "en").cast("long").as("pos"),
      expr(s"""CAST(size(filter(split(text, ' '), t -> t IN ($inList))) AS BIGINT)
               * 1000000 div CAST(size(split(text, ' ')) AS BIGINT)""").as("score"))
    val grid = scored.groupBy(col("score"))
      .agg(sum(col("pos")).as("np"), (count(lit(1)) - sum(col("pos"))).as("nn"))
    val tot = grid.agg(sum(col("np")).as("p_tot"), sum(col("nn")).as("n_tot"))
    val wDesc = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wLag = Window.orderBy(col("score").desc)
    grid
      .withColumn("tp", sum(col("np")).over(wDesc))
      .withColumn("fp", sum(col("nn")).over(wDesc))
      .withColumn("tp_prev", coalesce(lag(col("tp"), 1).over(wLag), lit(0L)))
      .withColumn("fp_prev", coalesce(lag(col("fp"), 1).over(wLag), lit(0L)))
      .withColumn("auc2pn_cum",
        sum((col("fp") - col("fp_prev")) * (col("tp") + col("tp_prev"))).over(wDesc))
      .crossJoin(broadcast(tot))
      .select(col("score"), col("tp"), col("fp"),
        expr("tp * 1000000 div p_tot").as("tpr_ppm"),
        expr("fp * 1000000 div n_tot").as("fpr_ppm"),
        col("auc2pn_cum"))
      .orderBy(col("score").desc)
  }

  val q207Sql: String =
    """WITH scored AS (SELECT CAST(lang = 'en' AS BIGINT) AS pos,
      |         CAST(len(list_filter(string_split(text, ' '),
      |                t -> t IN ('hash', 'order', 'window', 'group', 'batch', 'big')))
      |              AS BIGINT) * 1000000
      |           // CAST(len(string_split(text, ' ')) AS BIGINT) AS score
      |       FROM documents),
      |grid AS (SELECT score, CAST(sum(pos) AS BIGINT) AS np,
      |           CAST(count(*) - sum(pos) AS BIGINT) AS nn
      |         FROM scored GROUP BY 1),
      |tot AS (SELECT CAST(sum(np) AS BIGINT) AS p_tot,
      |          CAST(sum(nn) AS BIGINT) AS n_tot FROM grid),
      |cum0 AS (SELECT score,
      |           CAST(sum(np) OVER wd AS BIGINT) AS tp,
      |           CAST(sum(nn) OVER wd AS BIGINT) AS fp
      |         FROM grid
      |         WINDOW wd AS (ORDER BY score DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |cum AS (SELECT score, tp, fp,
      |          CAST(coalesce(lag(tp, 1) OVER (ORDER BY score DESC), 0)
      |               AS BIGINT) AS tp_prev,
      |          CAST(coalesce(lag(fp, 1) OVER (ORDER BY score DESC), 0)
      |               AS BIGINT) AS fp_prev
      |        FROM cum0),
      |tr AS (SELECT *, CAST(sum((fp - fp_prev) * (tp + tp_prev)) OVER
      |          (ORDER BY score DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |          AS auc2pn_cum
      |       FROM cum)
      |SELECT score, tp, fp,
      |       tp * 1000000 // p_tot AS tpr_ppm,
      |       fp * 1000000 // n_tot AS fpr_ppm,
      |       auc2pn_cum
      |FROM tr, tot ORDER BY score DESC""".stripMargin

  // --------------------------------------------------------------- Q219
  /** CROSS-RELATION RECONCILIATION audit — the data-contract checks a
    * warehouse runs between a header table and its detail table
    * (dbt-test / great-expectations territory; q48 audits columns
    * WITHIN a table, q166 diffs snapshots of ONE table — this checks
    * the CONTRACT BETWEEN two): orders vs lineitem on four checks,
    * one row each — header key uniqueness, headers with no detail
    * rows (orphan parents), detail rows with no header (orphan
    * children), and header-total-equals-detail-sum (exact CENTS
    * comparison, zero tolerance — on this synthetic corpus the
    * generator does NOT maintain the invariant, so the report
    * quantifies the breach: that IS the audit's job). Output
    * (check, n_checked, n_violations, worst_cents) with worst = the
    * largest absolute gap for the total check, 0 where size has no
    * meaning. Dataflow: ONE detail fold (orderkey → cents), ONE
    * full-outer join with the header on the shared key, and ONE
    * aggregate pass computing all three join-side checks as parallel
    * conditional folds (r8: the first cut pinned the join and scanned
    * it three times — one pass per check — costing a checkpoint plus
    * 3× the joined-relation traffic; the single 12-column fold then
    * `stack`s into the report rows, so no pin exists at all); the
    * key-uniqueness check folds off its own header scan. At 100 TB
    * co-bucketing both tables on the key removes even the join
    * exchange. */
  val q219: Q = (s, d) => {
    val o = t(s, d, "orders").select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("hdr_c"))
    val l = t(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("det_c"))
    val j = o.join(l, col("o_orderkey") === col("l_orderkey"), "full_outer")
      .select(col("o_orderkey"), col("l_orderkey"), col("hdr_c"), col("det_c"))
    val hasHdr = col("o_orderkey").isNotNull
    val hasDet = col("l_orderkey").isNotNull
    val checks = j.agg(
      sum(when(hasHdr, 1L).otherwise(0L)).as("n_hdr"),
      sum(when(hasHdr && !hasDet, 1L).otherwise(0L)).as("v_hdr"),
      sum(when(hasDet, 1L).otherwise(0L)).as("n_det"),
      sum(when(hasDet && !hasHdr, 1L).otherwise(0L)).as("v_det"),
      sum(when(hasHdr && hasDet, 1L).otherwise(0L)).as("n_both"),
      sum(when(hasHdr && hasDet && col("hdr_c") =!= col("det_c"), 1L)
        .otherwise(0L)).as("v_tot"),
      coalesce(max(when(hasHdr && hasDet, abs(col("hdr_c") - col("det_c")))),
        lit(0L)).as("worst"))
      .selectExpr("""stack(3,
        'header_has_details',        n_hdr,  v_hdr, CAST(0 AS BIGINT),
        'detail_has_header',         n_det,  v_det, CAST(0 AS BIGINT),
        'total_matches_detail_sum',  n_both, v_tot, worst)
        AS (check, n_checked, n_violations, worst_cents)""")
    val dupKeys = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("k"))
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_violations"))
      .select(lit("header_key_unique").as("check"), col("n_checked"),
        col("n_violations"), lit(0L).as("worst_cents"))
    dupKeys.unionByName(checks)
      .orderBy(col("check"))
  }

  val q219Sql: String =
    """WITH o AS (SELECT o_orderkey,
      |             CAST(round(o_totalprice * 100) AS BIGINT) AS hdr_c FROM orders),
      |l AS (SELECT l_orderkey,
      |        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |          AS det_c
      |      FROM lineitem GROUP BY 1),
      |j AS (SELECT o.o_orderkey, l.l_orderkey, o.hdr_c, l.det_c
      |      FROM o FULL OUTER JOIN l ON o.o_orderkey = l.l_orderkey)
      |SELECT 'detail_has_header' AS check,
      |       CAST(count(*) AS BIGINT) AS n_checked,
      |       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_violations,
      |       CAST(0 AS BIGINT) AS worst_cents
      |FROM j WHERE l_orderkey IS NOT NULL
      |UNION ALL
      |SELECT 'header_has_details',
      |       CAST(count(*) AS BIGINT),
      |       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(0 AS BIGINT)
      |FROM j WHERE o_orderkey IS NOT NULL
      |UNION ALL
      |SELECT 'header_key_unique',
      |       CAST(count(*) AS BIGINT),
      |       CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(0 AS BIGINT)
      |FROM (SELECT o_orderkey, count(*) AS k FROM o GROUP BY 1)
      |UNION ALL
      |SELECT 'total_matches_detail_sum',
      |       CAST(count(*) AS BIGINT),
      |       CAST(sum(CASE WHEN hdr_c <> det_c THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(coalesce(max(abs(hdr_c - det_c)), 0) AS BIGINT)
      |FROM j WHERE o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL
      |ORDER BY "check"""".stripMargin

  // --------------------------------------------------------------- Q234
  /** BENFORD first-digit audit on order totals — the forensic-
    * accounting screen (fabricated or thresholded amounts bend the
    * leading-digit law; q48 audits column hygiene, q90 outlier
    * fences — this audits the DISTRIBUTION SHAPE of amounts): first
    * digit of the exact cent integer (substring of its decimal
    * string — identical in both engines, no float log10 ever runs on
    * data), counts fold map-side, observed shares are exact
    * (n_d·10⁶ div N) ppm, and the Benford expectation is the FIXED
    * integer ppm table {301030, …, 45757} (log10(1+1/d) rounded to
    * ppm — the nine constants sum to exactly 10⁶, stated identically
    * in both engines so the comparison has no float boundary at
    * all). Output: 9 rows (digit, n, obs_ppm, exp_ppm, dev_ppm).
    * Scoring (χ², MAD tiers) is the caller's boundary. */
  val q234: Q = (s, d) => {
    val exp = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
      5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)
    val expDf = s.createDataFrame(exp.map(p => (p._1.toLong, p._2)))
      .toDF("digit", "exp_ppm")
    t(s, d, "orders")
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("n_tot", sum(col("n")).over(Window.partitionBy()))
      .join(broadcast(expDf), Seq("digit"), "right")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(expr("n * 1000000 div n_tot"), lit(0L)).as("obs_ppm"),
        col("exp_ppm"))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .orderBy(col("digit"))
  }

  val q234Sql: String =
    """WITH digits AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
      |           AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |       FROM orders),
      |cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS n,
      |          CAST(sum(count(*)) OVER () AS BIGINT) AS n_tot
      |        FROM digits GROUP BY 1),
      |exp0 AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
      |           (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
      |           (9, 45757)) AS e(digit, exp_ppm))
      |SELECT CAST(exp0.digit AS BIGINT) AS digit,
      |       CAST(coalesce(cnt.n, 0) AS BIGINT) AS n,
      |       CAST(coalesce(cnt.n * 1000000 // cnt.n_tot, 0) AS BIGINT) AS obs_ppm,
      |       CAST(exp0.exp_ppm AS BIGINT) AS exp_ppm,
      |       CAST(coalesce(cnt.n * 1000000 // cnt.n_tot, 0) - exp0.exp_ppm
      |            AS BIGINT) AS dev_ppm
      |FROM exp0 LEFT JOIN cnt ON exp0.digit = cnt.digit
      |ORDER BY digit""".stripMargin

  // --------------------------------------------------------------- Q284
  /** RANK-BIASED OVERLAP (RBO@10, p = 0.9) between the exact cosine
    * ranking and the 64-bit SIGN-SKETCH ranking — the retrieval-eval
    * shelf's list-STABILITY leg (q117 recall: do true neighbors
    * surface; q168 MRR: where the best sits; q269 nDCG: how good the
    * page is; this: how much the INDEX's shortlist differs from the
    * exact one as a whole, top-weighted — Webber 2010, the standard
    * metric for comparing two rankings that need not share support).
    * Ranking A: round(cos, 4) desc (the q168 grid). Ranking B: sign-
    * agreement count across the 64 dims (the bit-sketch Hamming
    * similarity an LSH/simhash index actually sorts by — integer
    * 0..64), desc; both tie-break on vec_id, so each list is total and
    * engine-identical. Truncated RBO = Σ_{d=1..10} w_d·|A_d ∩ B_d|
    * with w_d = (1−p)p^{d−1}/d telescopes per matched id to the SUFFIX
    * sum W[max(rankA, rankB)] — the ten W literals are pre-rounded ppb
    * integers stated identically in both engines, so rbo_t10_ppb is
    * pure BIGINT (max 651321557 = the sum of the ten pre-rounded
    * suffix-weight literals, ≈ 1−p¹⁰ = 651321560 ppb before per-term
    * rounding, when the lists agree
    * exactly; no residual extrapolation — truncation is the declared
    * semantics). Per probe: the top-10 intersection size and the RBO.
    *
    * Scale shape: probes broadcast (eval tier, q117's rationale); the
    * scored relation folds through two probe-partitioned rank windows
    * and an id-join that carries ≤ 10 rows per probe per side;
    * nothing after the windows is corpus-sized. Production swaps the
    * brute-force exact arm for the stored ANN artifact and keeps the
    * same RBO fold. */
  val q284: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probes = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("pid"), col("v").as("pv")))
    val scored = graft.core.Pins.pin(
      e.crossJoin(probes).filter(col("vec_id") =!= col("pid"))
        .select(col("pid"), col("vec_id"),
          round(VectorOps.cosine(col("v"), col("pv")), 4).as("sim"),
          expr("""aggregate(zip_with(v, pv,
                 (x, y) -> CAST((x > 0) = (y > 0) AS BIGINT)),
                 CAST(0 AS BIGINT), (a, z) -> a + z)""").as("agree")))
    val wA = Window.partitionBy(col("pid"))
      .orderBy(col("sim").desc, col("vec_id"))
    val wB = Window.partitionBy(col("pid"))
      .orderBy(col("agree").desc, col("vec_id"))
    val ra = scored.withColumn("ra", row_number().over(wA))
      .filter(col("ra") <= 10).select(col("pid"), col("vec_id"), col("ra"))
    val rb = scored.withColumn("rb", row_number().over(wB))
      .filter(col("rb") <= 10).select(col("pid"), col("vec_id"), col("rb"))
    // suffix weights W[r] = Σ_{d=r..10} round(10⁹(1−p)p^{d−1}/d), p=0.9
    val wLit = "array(235416399L, 135416399L, 90416399L, 63416399L, " +
      "45191399L, 32069399L, 22227899L, 14635885L, 8657174L, 3874205L)"
    val probeIds = probes.select(col("pid"))
    // both rank lists are ≤ 10·probes rows — broadcast the join sides
    // so no (pid, vec_id) re-partition of the window outputs plans
    val inter = ra.join(broadcast(rb), Seq("pid", "vec_id"))
      .withColumn("w",
        expr(s"element_at($wLit, CAST(greatest(ra, rb) AS INT))"))
      .groupBy(col("pid"))
      .agg(count(lit(1)).as("overlap10"), sum(col("w")).as("rbo_t10_ppb"))
    probeIds.join(broadcast(inter), Seq("pid"), "left")
      .select(col("pid").as("probe_id"),
        coalesce(col("overlap10"), lit(0L)).as("overlap10"),
        coalesce(col("rbo_t10_ppb"), lit(0L)).as("rbo_t10_ppb"))
      .orderBy(col("probe_id"))
  }

  val q284Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |       FROM embeddings),
      |p AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 5),
      |sc AS (SELECT p.pid, e.vec_id,
      |         round(list_inner_product(e.v, p.pv)
      |           / (sqrt(list_inner_product(e.v, e.v))
      |              * sqrt(list_inner_product(p.pv, p.pv))), 4) AS sim,
      |         CAST(len(list_filter(generate_series(1, 64),
      |           i -> (e.v[i] > 0) = (p.pv[i] > 0))) AS BIGINT) AS agree
      |       FROM e CROSS JOIN p WHERE e.vec_id <> p.pid),
      |ra AS (SELECT pid, vec_id, ra FROM
      |         (SELECT pid, vec_id, row_number() OVER
      |            (PARTITION BY pid ORDER BY sim DESC, vec_id) AS ra
      |          FROM sc) WHERE ra <= 10),
      |rb AS (SELECT pid, vec_id, rb FROM
      |         (SELECT pid, vec_id, row_number() OVER
      |            (PARTITION BY pid ORDER BY agree DESC, vec_id) AS rb
      |          FROM sc) WHERE rb <= 10),
      |w AS (SELECT [235416399, 135416399, 90416399, 63416399, 45191399,
      |              32069399, 22227899, 14635885, 8657174, 3874205] AS ws),
      |iv AS (SELECT ra.pid, CAST(count(*) AS BIGINT) AS overlap10,
      |         CAST(sum(ws[greatest(ra.ra, rb.rb)]) AS BIGINT)
      |           AS rbo_t10_ppb
      |       FROM ra JOIN rb ON ra.pid = rb.pid AND ra.vec_id = rb.vec_id,
      |            w
      |       GROUP BY 1)
      |SELECT p.pid AS probe_id,
      |       CAST(coalesce(iv.overlap10, 0) AS BIGINT) AS overlap10,
      |       CAST(coalesce(iv.rbo_t10_ppb, 0) AS BIGINT) AS rbo_t10_ppb
      |FROM p LEFT JOIN iv ON p.pid = iv.pid
      |ORDER BY probe_id""".stripMargin

  // lazy: q269 is declared below this list (file keeps numeric order)
  lazy val entries: Seq[(String, Q, String)] = Seq(
    ("q219_reconciliation", q219, q219Sql),
    ("q207_roc_auc", q207, q207Sql),
    ("q114_chunk_dup_filter", q114, q114Sql),
    ("q115_fuzzy_contamination", q115, q115Sql),
    ("q116_centroid_drift", q116, q116Sql),
    ("q117_ann_recall", q117, q117Sql),
    ("q118_seasonal_baseline", q118, q118Sql),
    ("q119_vocab_coverage", q119, q119Sql),
    ("q120_signal_blend", q120, q120Sql),
    ("q121_curation_funnel", q121, q121Sql),
    ("q122_boilerplate", q122, q122Sql),
    ("q123_lsh_precision", q123, q123Sql),
    ("q124_temporal_split", q124, q124Sql),
    ("q125_neardup_degree", q125, q125Sql),
    ("q126_asof_nearest", q126, q126Sql),
    ("q127_lsh_recall", q127, q127Sql),
    ("q128_vector_hygiene", q128, q128Sql),
    ("q168_ann_mrr", q168, q168Sql),
    ("q234_benford_audit", q234, q234Sql),
    ("q269_ndcg", q269, q269Sql),
    ("q278_embedding_auc", q278, q278Sql),
    ("q284_rbo_stability", q284, q284Sql))

  // --------------------------------------------------------------- Q269
  /** nDCG@10 — the third leg of the retrieval-eval shelf (q117 recall
    * says WHETHER true neighbors surface, q168 MRR says where the BEST
    * one sits; nDCG grades the WHOLE top-10 — an index that returns 1
    * relevant doc at rank 1 and an index that returns 10 of them score
    * the same MRR but very different nDCG, and RAG shortlists consume
    * the whole page). Relevance = label match (the corpus's ground
    * truth); the discount table is where cross-engine float death
    * usually lives (Σ rel/log₂(i+1) — irrational weights, float
    * summation), so the weights are a PRE-ROUNDED INTEGER table
    * w(i) = round(10⁶/log₂(i+1)) — the SAME ten literals in both
    * engines, making DCG, ideal DCG (cumulative-table lookup at
    * min(10, n_rel)), and ndcg_ppm = dcg·10⁶ div idcg pure BIGINT.
    *
    * Scale shape: probes broadcast (the eval tier — q117/q168's
    * shape), the scored relation shuffles once on probe id, both
    * windows share that partitioning, and the weight lookup is a
    * 10-element literal array element_at — no join. */
  val q269: Q = (s, d) => {
    // w(i) = round(1e6 / log2(i+1)), i = 1..10 — identical literals in SQL
    val w = Array(1000000L, 630930L, 500000L, 430677L, 386853L,
      356207L, 333333L, 315465L, 301030L, 289065L)
    val cw = w.scanLeft(0L)(_ + _).tail
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val probes = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("pid"), col("label").as("plabel"),
        col("v").as("pv")))
    val scored = e.crossJoin(probes).filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("plabel"),
        (col("label") === col("plabel")).cast("long").as("rel"),
        round(VectorOps.cosine(col("v"), col("pv")), 4).as("sim"),
        col("vec_id"))
    val rk = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(rk))
      .withColumn("n_rel", sum(col("rel")).over(Window.partitionBy(col("pid"))))
      .filter(col("rk") <= 10)
      .groupBy(col("pid"), col("plabel"), col("n_rel"))
      .agg(sum(col("rel") * element_at(typedlit(w), col("rk"))).as("dcg_ppm"))
      .select(col("pid").as("probe_id"), col("plabel").as("label"),
        col("n_rel"), col("dcg_ppm"),
        element_at(typedlit(cw),
          greatest(least(col("n_rel"), lit(10L)), lit(1L)).cast("int"))
          .as("idcg_ppm"))
      .withColumn("ndcg_ppm",
        when(col("n_rel") > 0,
          expr("dcg_ppm * 1000000 div idcg_ppm")).otherwise(0L))
      .orderBy(col("probe_id"))
  }

  val q269Sql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |p AS (SELECT vec_id AS pid, label AS plabel, v AS pv FROM e
      |      WHERE vec_id < 5),
      |sc AS (SELECT p.pid, p.plabel,
      |         CASE WHEN e.label = p.plabel THEN 1 ELSE 0 END AS rel,
      |         round(list_inner_product(e.v, p.pv)
      |               / (sqrt(list_inner_product(e.v, e.v))
      |                  * sqrt(list_inner_product(p.pv, p.pv))), 4) AS sim,
      |         e.vec_id
      |       FROM e CROSS JOIN p WHERE e.vec_id <> p.pid),
      |r AS (SELECT pid, plabel, rel,
      |        row_number() OVER (PARTITION BY pid
      |                           ORDER BY sim DESC, vec_id) AS rk,
      |        sum(rel) OVER (PARTITION BY pid) AS n_rel
      |      FROM sc),
      |w AS (SELECT * FROM (VALUES (1, 1000000), (2, 630930), (3, 500000),
      |        (4, 430677), (5, 386853), (6, 356207), (7, 333333),
      |        (8, 315465), (9, 301030), (10, 289065)) AS t(rk, wt)),
      |cw AS (SELECT * FROM (VALUES (1, 1000000), (2, 1630930),
      |        (3, 2130930), (4, 2561607), (5, 2948460), (6, 3304667),
      |        (7, 3638000), (8, 3953465), (9, 4254495),
      |        (10, 4543560)) AS t(k, cwt)),
      |dcg AS (SELECT pid, plabel, n_rel, sum(rel * wt) AS dcg_ppm
      |        FROM r JOIN w ON w.rk = r.rk WHERE r.rk <= 10
      |        GROUP BY 1, 2, 3)
      |SELECT pid AS probe_id, plabel AS label, CAST(n_rel AS BIGINT) AS n_rel,
      |       CAST(dcg_ppm AS BIGINT) AS dcg_ppm,
      |       CAST(cwt AS BIGINT) AS idcg_ppm,
      |       CAST(CASE WHEN n_rel > 0 THEN (dcg_ppm * 1000000) // cwt
      |            ELSE 0 END AS BIGINT) AS ndcg_ppm
      |FROM dcg JOIN cw ON cw.k = greatest(least(n_rel, 10), 1)
      |ORDER BY probe_id""".stripMargin

  // --------------------------------------------------------------- Q278
  /** EMBEDDING LINK-PREDICTION AUC — the one-number answer to "are
    * these embeddings any good for retrieval?" (q117/q168/q269 grade a
    * RANKING per probe; this grades the SCORE ITSELF as a classifier:
    * over probe–candidate pairs, does cosine separate same-label pairs
    * from different-label pairs — the link-prediction / verification
    * framing, threshold-free): exact ROC AUC by the q207 trapezoid
    * discipline — per distinct score the positive/negative counts, one
    * ordered pass accumulates Σ(Δfp·(tp+tp′)) = 2·AUC·P·N, and
    * auc_ppm = Σ·5·10⁵ div (P·N) is pure BIGINT (ties handled exactly
    * as the trapezoid's 0.5 credit, where float Mann-Whitney
    * implementations diverge). Scores land on the q168 grid —
    * round(cos, 4) then ×10⁴ re-rounded — so an ArrayCosine-vs-SQL
    * ulp can't flip a cell. One row out: P, N, auc_ppm.
    *
    * Scale shape: probes broadcast (the eval tier), the pair relation
    * folds to the ≤ 20001-cell score grid in its only data exchange;
    * the trapezoid windows ride the GRID (score-domain-sized — the
    * q141/q167 rationale for unpartitioned windows), never the pairs. */
  val q278: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val probes = broadcast(e.filter(col("vec_id") < 32)
      .select(col("vec_id").as("pid"), col("label").as("plabel"),
        col("v").as("pv")))
    val scored = e.crossJoin(probes).filter(col("vec_id") > col("pid"))
      .select((col("label") === col("plabel")).cast("long").as("pos"),
        round(VectorOps.cosine(col("v"), col("pv")), 4).as("sim4"))
      .select(col("pos"),
        expr("CAST(round(sim4 * 10000) AS BIGINT)").as("score"))
    val grid = scored.groupBy(col("score"))
      .agg(sum(col("pos")).as("np"), (count(lit(1)) - sum(col("pos"))).as("nn"))
    val wDesc = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wLag = Window.orderBy(col("score").desc)
    grid
      .withColumn("tp", sum(col("np")).over(wDesc))
      .withColumn("fp", sum(col("nn")).over(wDesc))
      .withColumn("tp_prev", coalesce(lag(col("tp"), 1).over(wLag), lit(0L)))
      .withColumn("fp_prev", coalesce(lag(col("fp"), 1).over(wLag), lit(0L)))
      .agg(max(col("tp")).as("p_tot"), max(col("fp")).as("n_tot"),
        sum((col("fp") - col("fp_prev")) * (col("tp") + col("tp_prev")))
          .as("a2"))
      .select(col("p_tot"), col("n_tot"),
        expr("a2 * 500000 div (p_tot * n_tot)").as("auc_ppm"))
  }

  val q278Sql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |p AS (SELECT vec_id AS pid, label AS plabel, v AS pv FROM e
      |      WHERE vec_id < 32),
      |sc AS (SELECT CAST(e.label = p.plabel AS BIGINT) AS pos,
      |         CAST(round(round(list_inner_product(e.v, p.pv)
      |               / (sqrt(list_inner_product(e.v, e.v))
      |                  * sqrt(list_inner_product(p.pv, p.pv))), 4)
      |              * 10000) AS BIGINT) AS score
      |       FROM e CROSS JOIN p WHERE e.vec_id > p.pid),
      |grid AS (SELECT score, CAST(sum(pos) AS BIGINT) AS np,
      |           CAST(count(*) - sum(pos) AS BIGINT) AS nn
      |         FROM sc GROUP BY 1),
      |cum0 AS (SELECT score, sum(np) OVER w AS tp, sum(nn) OVER w AS fp
      |         FROM grid
      |         WINDOW w AS (ORDER BY score DESC
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |cum AS (SELECT score, tp, fp,
      |          coalesce(lag(tp) OVER v, 0) AS tp_prev,
      |          coalesce(lag(fp) OVER v, 0) AS fp_prev
      |        FROM cum0 WINDOW v AS (ORDER BY score DESC))
      |SELECT CAST(max(tp) AS BIGINT) AS p_tot,
      |       CAST(max(fp) AS BIGINT) AS n_tot,
      |       CAST(sum((fp - fp_prev) * (tp + tp_prev)) * 500000
      |            // (max(tp) * max(fp)) AS BIGINT) AS auc_ppm
      |FROM cum""".stripMargin
}
