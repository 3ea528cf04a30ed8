package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{LinearClassifier, TextOps, VectorOps}
import graft.operators.SimilarityJoin

/** LLM-training-data pipeline operators (north-star extensions beyond the
  * reference's own surface): near-duplicate detection (MinHash+LSH,
  * SimHash, exact n-gram Jaccard, embedding cosine), LSH-bucketed ANN,
  * language ID, quality scoring, token counting, document fingerprinting.
  *
  * Every query is pure codegen'd built-ins (no UDFs) with a DuckDB oracle,
  * so the t2 gate covers these exactly like the core set. Scale notes per
  * query; the common theme is that candidate generation is always an
  * equi-join on a derived key (band hash / LSH bucket / shingle), never an
  * O(N²) comparison — the only quadratic step left is q22's verification
  * crossjoin, whose scale path is q19/q23-style bucketing.
  */
object PipelineQueries {
  import CoreQueries.Q

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  private val Seeds = 0 until 8 // 8-member MinHash family, 4 bands of 2

  // --------------------------------------------------------------- Q19
  /** MinHash + LSH near-dup ([[graft.operators.MinHashLsh]], here at
    * b=4 bands × r=2 rows — S-curve threshold (1/4)^(1/2) = 0.5, matched
    * to the 0.5 verify cutoff): banded signature equi-join generates
    * candidates, exact Jaccard verifies.
    *
    * Scale path: the band join shuffles SLIM (band_key, doc_id) rows
    * only — each document emits 4 of them, near-dups collide, the
    * quadratic blowup is confined to same-band buckets and streamed out
    * of a spill-capable sort-merge join (bounded task memory even when
    * every document is identical — see MinHashLshSpec's "identical-doc
    * flood" test).
    * Signature computation is embarrassingly parallel; at 100 TB the
    * signatures are computed once at ingest and stored as columns, so
    * the band join + verify re-join is the whole query.
    */
  val q19: Q = (s, d) =>
    graft.operators.MinHashLsh.nearDup(t(s, d, "documents"),
      bands = 4, rowsPerBand = 2, shingleN = 3, minJaccard = 0.5)
      .orderBy(col("a_id"), col("b_id"))

  val q19Sql: String = {
    val sigCols = Seeds.map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i").mkString(", ")
    val bandCond = (0 until 4).map(b =>
      s"(a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1})").mkString(" OR ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |shl AS (SELECT doc_id, list_distinct(list_transform(
       |          generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))) AS sh
       |        FROM toks),
       |sig AS (SELECT doc_id, sh, $sigCols FROM shl),
       |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS sha, b.sh AS shb
       |         FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandCond))
       |SELECT a_id, b_id,
       |       round(CAST(len(list_intersect(sha, shb)) AS DOUBLE)
       |             / (len(sha) + len(shb) - len(list_intersect(sha, shb))), 4) AS jac
       |FROM cand
       |WHERE round(CAST(len(list_intersect(sha, shb)) AS DOUBLE)
       |            / (len(sha) + len(shb) - len(list_intersect(sha, shb))), 4) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin
  }

  // --------------------------------------------------------------- Q20
  /** 16-bit SimHash per document (near-dup signature; hamming-close
    * signatures ⇒ similar token distributions). One scan, no shuffle;
    * the fused native kernel digests each token once (the HOF form — and
    * the oracle — recompute md5(t) per bit). */
  val q20: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        TextOps.simhash16Native(TextOps.tokens(col("text"))).as("simhash"))
      .orderBy(col("doc_id"))

  val q20Sql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |bits AS (SELECT doc_id, j,
      |           sum(CASE WHEN (strpos('0123456789abcdef', substr(md5(t), j + 1, 1)) - 1) % 2 = 1
      |                    THEN 1 ELSE -1 END) AS v
      |         FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) js
      |         GROUP BY doc_id, j)
      |SELECT doc_id,
      |       CAST(sum(CASE WHEN v > 0 THEN CAST(2 ** j AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q21
  /** Exact n-gram Jaccard near-dup via inverted-index join: explode
    * distinct shingles, equi-join on the shingle, count common, filter
    * jac ≥ 0.5. The join shuffles on the shingle key — the ground-truth
    * counterpart of q19 (at 100 TB, run q19's LSH first and this only on
    * candidates; here the corpus is small enough to do it exactly).
    */
  val q21: Q = (s, d) => {
    import s.implicits._
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    SimilarityJoin.jaccardPairsText(docs, 3, 0.5)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q21Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s FROM (
      |         SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
      |                                 i -> array_to_string(t[i:i+2], ' '))) AS s
      |         FROM toks)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT a_id, b_id, common,
      |       round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) AS jac
      |FROM pairs JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
      |WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------------- Q22
  /** Embedding-cosine near-dup: all pairs with cosine ≥ 0.35.
    *
    * Brute-force here (N is small); the 100 TB path replaces the
    * range-join with q23's sign-bucket LSH so candidates co-locate in
    * one shuffle instead of N² comparisons.
    */
  val q22: Q = (s, d) => {
    // Runs through the custom operator (CosineSelfJoin logical node →
    // SimilarityStrategy → CosineSelfJoinExec): same kernel as
    // SimilarityJoin.cosinePairs, but as a plan-visible physical op.
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .repartition(s.sparkContext.defaultParallelism)
    graft.plans.CosineSelfJoin.pairs(e, "vec_id", "v", 0.35)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q22Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |       round(list_inner_product(a.v, b.v)
      |             / (sqrt(list_inner_product(a.v, a.v))
      |                * sqrt(list_inner_product(b.v, b.v))), 4) AS sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE round(list_inner_product(a.v, b.v)
      |            / (sqrt(list_inner_product(a.v, a.v))
      |               * sqrt(list_inner_product(b.v, b.v))), 4) >= 0.35
      |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------------- Q23
  /** LSH-bucketed approximate nearest neighbors
    * ([[VectorOps.annSearchLsh]] at 4 hyperplanes = 16 buckets; the bits
    * parameter trades parallelism/work against recall — see
    * [[VectorOps.signBucket]]): the probe's bucket id is a broadcast
    * scalar, so the scan prunes ~15/16 of the corpus before any vector
    * math; exact cosine reranks, top-5. With the table pre-partitioned
    * by bucket this touches one partition.
    */
  val q23: Q = (s, d) =>
    VectorOps.annSearchLsh(t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", probeId = 0L, k = 5, nBits = 4)

  val q23Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |b AS (SELECT vec_id, v,
      |        CAST(list_sum(list_transform(generate_series(1, 4),
      |               i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bkt
      |      FROM e),
      |p AS (SELECT v AS pv, bkt AS pbkt FROM b WHERE vec_id = 0)
      |SELECT b.vec_id,
      |       round(list_inner_product(b.v, p.pv)
      |             / (sqrt(list_inner_product(b.v, b.v))
      |                * sqrt(list_inner_product(p.pv, p.pv))), 4) AS sim
      |FROM b, p WHERE b.bkt = p.pbkt AND b.vec_id <> 0
      |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin

  // --------------------------------------------------------------- Q24
  /** N-gram-heuristic language ID: argmax of stopword-marker hits per
    * language, ties broken in fixed marker order, no hits ⇒ 'und'.
    * Pure per-row expression — scales with the scan. */
  val q24: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.langId(TextOps.tokens(col("text"))).as("lang_pred"))
      .withColumn("hit", (col("lang") === col("lang_pred")).cast("int").cast("long"))
      .orderBy(col("doc_id"))

  val q24Sql: String = {
    val cnt = TextOps.Markers.map { case (l, set) =>
      val lst = set.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), x -> x IN ($lst))) AS c_$l"
    }.mkString(",\n       ")
    val best = TextOps.Markers.map { case (l, _) => s"c_$l" }.mkString(", ")
    val cases = TextOps.Markers.map { case (l, _) =>
      s"WHEN c_$l = best AND c_$l > 0 THEN '$l'"
    }.mkString(" ")
    s"""WITH c AS (SELECT doc_id, lang,
       |       $cnt
       |FROM documents),
       |g AS (SELECT *, greatest($best) AS best FROM c)
       |SELECT doc_id, lang,
       |       CASE $cases ELSE 'und' END AS lang_pred,
       |       CAST(CASE WHEN lang = CASE $cases ELSE 'und' END THEN 1 ELSE 0 END AS BIGINT) AS hit
       |FROM g ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- Q25
  /** Quality scoring: token stats + stopword ratio folded into a
    * deterministic [0,1] score. Per-row expressions only. */
  val q25: Q = (s, d) => {
    val toks = TextOps.tokens(col("text"))
    val nTok = size(toks).cast("long")
    val nonSpace = length(regexp_replace(col("text"), " ", "")).cast("double")
    val stopRatio = TextOps.markerCount(toks, TextOps.EnStops)
      .cast("double") / size(toks)
    t(s, d, "documents")
      .select(col("doc_id"),
        nTok.as("n_tokens"),
        // floor-truncate to 2dp: round() half-way ties on an integer ratio
        // resolve differently across engines; floor of the identical IEEE
        // quotient is bit-deterministic in both.
        (floor(nonSpace * 100.0 / nTok) / 100.0).as("avg_token_len"),
        round(stopRatio, 4).as("stopword_ratio"),
        TextOps.qualityScore(col("text")).as("score"))
      .orderBy(col("doc_id"))
  }

  val q25Sql: String =
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS t,
      |             CAST(length(replace(text, ' ', '')) AS DOUBLE) AS ns,
      |             CAST(len(list_filter(string_split(text, ' '),
      |                    x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) AS stops
      |           FROM documents)
      |SELECT doc_id,
      |       CAST(len(t) AS BIGINT) AS n_tokens,
      |       floor(ns * 100.0 / len(t)) / 100.0 AS avg_token_len,
      |       round(stops / len(t), 4) AS stopword_ratio,
      |       round(least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) * (1.0 - stops / len(t)), 4) AS score
      |FROM s ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q26
  /** Token counting per language: whitespace tokens and a BPE-ish regex
    * token count (letter runs / digit runs / other), aggregated. */
  val q26: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("re"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("re")).as("re_tokens"))
      .orderBy(col("lang"))

  val q26Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      |       CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS re_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- Q27
  /** Winnowing-style document fingerprint: min md5 over character
    * 5-grams — grouping by it clusters exact/affix-shifted duplicates.
    * Per-row expression; at 100 TB computed once at ingest. */
  val q27: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val q27Sql: String =
    """SELECT doc_id,
      |       list_min(list_transform(generate_series(1, greatest(length(text) - 4, 1)),
      |                i -> md5(text[i:i+4]))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q28
  /** JSON property extraction + aggregation: `get_json_object` over the
    * events `props` column (the manifest-feed "safe projection" pattern
    * applied to JSON instead of regex; SURVEY §1.3 JSON mapping). */
  val q28: Q = (s, d) => {
    val k = get_json_object(col("props"), "$.k").cast("long")
    t(s, d, "events")
      .select(col("event_type"), k.as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        (floor(sum(col("k")) * 100.0 / count(lit(1))) / 100.0).as("avg_k"))
      .orderBy(col("event_type"))
  }

  val q28Sql: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(k) AS BIGINT) AS sum_k,
      |       floor(CAST(sum(k) AS DOUBLE) * 100.0 / count(*)) / 100.0 AS avg_k
      |FROM (SELECT event_type,
      |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |WHERE k IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q29
  /** CUBE over (event_type, year): full grouping-set lattice — the
    * rollup (q14) generalization. */
  val q29: Q = (s, d) =>
    t(s, d, "events")
      .cube(col("event_type"), year(col("ts")).cast("int").as("y"))
      .agg(count(lit(1)).as("n"), CoreQueries.sum2ref(col("value")).as("v"))
      .orderBy(col("event_type").asc_nulls_first, col("y").asc_nulls_first)

  val q29Sql: String =
    """SELECT event_type, CAST(year(ts) AS INT) AS y, count(*) AS n,
      |       round(CAST(sum(CAST(value AS DECIMAL(15,2))) AS DOUBLE), 2) AS v
      |FROM events
      |GROUP BY CUBE(event_type, CAST(year(ts) AS INT))
      |ORDER BY event_type NULLS FIRST, y NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- Q30
  /** IVF-Flat approximate nearest neighbors: k-means coarse quantizer
    * (md5-hash-sampled seeds + 2 Lloyd iterations over a hash-sampled
    * training set — [[VectorOps.ivfModel]]), nearest-cell assignment,
    * probe-cell rerank, top-5 (the inverted-file counterpart of q23's
    * hashing LSH). The oracle replays the identical unrolled training
    * computation, so the learned centroids — hence cells — match
    * bit-for-bit. */
  /** The coarse quantizer is a trained ARTIFACT — production trains it
    * offline at ingest and ships centroids with the table. Memoized per
    * (session, dir, params) so repeated queries search instead of
    * retraining. Contract: the registry assumes the data at `dir` is
    * immutable for the session (true for the fixture dirs; rewriting a
    * dir in-process requires [[clearIvfModels]] or a new session).
    * Bounded at 32 entries, oldest-first eviction, so long-lived
    * sessions don't accumulate stale sessions/plans. */
  /** Bounded (session, dir, param)-keyed model cache — one definition
    * for every trained artifact this file memoizes (IVF quantizer, BPE
    * merges), each with its own clear() escape hatch for in-process
    * dir rewrites. */
  private[queries] final class BoundedModelCache[V](onEvict: V => Unit = (_: V) => ()) {
    private val m = new java.util.LinkedHashMap[
        (SparkSession, String, Int), V](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, Int), V]): Boolean = {
        val evict = size() > 32
        // release what the value pins (checkpoint blocks for DataFrame
        // artifacts) — eviction without release strands block-manager
        // memory for the session's life
        if (evict) onEvict(e.getValue)
        evict
      }
    }
    def getOrTrain(k: (SparkSession, String, Int))(train: => V): V =
      m.synchronized {
        Option(m.get(k)).getOrElse { val v = train; m.put(k, v); v }
      }
    def clear(): Unit = m.synchronized {
      m.values.forEach(v => onEvict(v))
      m.clear()
    }
  }

  /** Release the block-manager storage behind a `localCheckpoint`ed
    * artifact: `Dataset.unpersist` only clears CacheManager entries, so
    * an evicted checkpointed frame needs its underlying RDD unpersisted
    * directly (the frame is unusable afterwards — correct for eviction,
    * which is exactly "this artifact will not be read again"). */
  private[queries] def releaseCheckpoint(df: DataFrame): Unit =
    graft.core.Pins.releaseCheckpoint(df)
  private val ivfModels = new BoundedModelCache[VectorOps.IvfModel](
    m => releaseCheckpoint(m.assigned))
  def clearIvfModels(): Unit = ivfModels.clear()
  /** The ASSIGNED relation (vectors + their cell ids) is checkpointed
    * with the model: production stores the cell column at ingest, and
    * a live-plan `assigned` would re-run the full-corpus assignment
    * scan in every query that probes the index (q30/q45/q76/q78/q98). */
  private def ivfModelFor(s: SparkSession, d: String, nCells: Int): VectorOps.IvfModel =
    ivfModels.getOrTrain((s, d, nCells)) {
      val m = VectorOps.ivfModel(t(s, d, "embeddings"), "vec_id", "embedding", nCells)
      m.copy(assigned = m.assigned.localCheckpoint())
    }

  val q30: Q = (s, d) =>
    VectorOps.ivfSearch(t(s, d, "embeddings"), "vec_id", "embedding",
      nCells = 8, probeId = 1L, k = 5,
      assignedOverride = Some(ivfModelFor(s, d, 8).assigned))

  /** Unrolled k-means prelude shared by the q30/q45 oracles: hash-sampled
    * train set + seeds, `iters` × (assign → rounded element-wise mean),
    * then the full-corpus assignment as `cells`. Mirrors
    * [[VectorOps.ivfModel]] step for step. */
  private def ivfSqlPrelude(nCells: Int, sampleN: Int, iters: Int): String = {
    def d2(v: String, c: String) =
      s"list_inner_product($v, $v) - 2 * list_inner_product($v, $c)" +
        s" + list_inner_product($c, $c)"
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |dim AS (SELECT len(v) AS d FROM e LIMIT 1),
              |idx AS (SELECT unnest(generate_series(1, (SELECT d FROM dim))) AS i),
              |train AS (SELECT vec_id, v FROM e
              |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $sampleN),
              |cents0 AS (SELECT CAST(row_number() OVER (
              |             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS BIGINT) AS cid,
              |             v AS c
              |           FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nCells),
              |""".stripMargin
    for (k <- 1 to iters) {
      sb ++= s"""asg$k AS (SELECT vec_id, v, cid AS cell FROM (
                |  SELECT t.vec_id, t.v, c.cid, row_number() OVER (PARTITION BY t.vec_id
                |    ORDER BY ${d2("t.v", "c.c")}, c.cid) AS rn
                |  FROM train t CROSS JOIN cents${k - 1} c) WHERE rn = 1),
                |upd$k AS (SELECT cell AS cid, i, round(avg(v[i]), 6) AS x
                |          FROM asg$k CROSS JOIN idx GROUP BY cell, i),
                |cents$k AS (SELECT s.cid, COALESCE(u.c, s.c) AS c FROM cents${k - 1} s
                |            LEFT JOIN (SELECT cid, list(x ORDER BY i) AS c
                |                       FROM upd$k GROUP BY cid) u ON s.cid = u.cid),
                |""".stripMargin
    }
    sb ++= s"""cells AS (SELECT vec_id, v, cid AS cell FROM (
              |  SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id
              |    ORDER BY ${d2("e.v", "c.c")}, c.cid) AS rn
              |  FROM e CROSS JOIN cents$iters c) WHERE rn = 1)""".stripMargin
    sb.toString
  }

  val q30Sql: String =
    ivfSqlPrelude(nCells = 8, sampleN = 256, iters = 2) +
      """,
        |p AS (SELECT v AS pv, cell AS pcell FROM cells WHERE vec_id = 1)
        |SELECT cells.vec_id,
        |       round(list_inner_product(cells.v, p.pv)
        |             / (sqrt(list_inner_product(cells.v, cells.v))
        |                * sqrt(list_inner_product(p.pv, p.pv))), 4) AS sim
        |FROM cells, p WHERE cells.cell = p.pcell AND cells.vec_id <> 1
        |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin

  // --------------------------------------------------------------- Q38
  /** TF-IDF: per language, top-3 terms by the maximum per-document
    * tf·ln(N/df) (N and df computed over the whole corpus). One explode,
    * two aggregations, a broadcast-joined doc-frequency table — the
    * classic text-pipeline scoring op, shuffling only (term, lang) pairs.
    */
  val q38: Q = (s, d) => {
    val docs = t(s, d, "documents")
    // corpus size N folded into the dataflow as a 1-row broadcast
    // relation — one job, no separate driver-side count() pre-scan
    // (count-star over parquet reads footers, not data)
    val nRel = docs.agg(count(lit(1)).cast("double").as("__n"))
    val terms = docs.select(col("doc_id"), col("lang"),
      explode(TextOps.tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // Fold to the VOCAB-sized (lang, term) relation FIRST — max(tf) and
    // the per-(lang, term) doc count ride the same partial-aggregable
    // groupBy — then derive df as a window sum over that slim relation
    // (tf has one row per (doc, term) and doc determines lang, so
    // Σ_lang cnt IS countDistinct(doc_id), the oracle's semantics).
    // max(tf·ln(N/df)) = ln(N/df)·max(tf) exactly: ln(N/df) ≥ 0 and
    // IEEE multiplication by a non-negative constant is monotonic, so
    // max commutes with it bit-for-bit. This moves the term-window off
    // the corpus-sized tf relation (the former plan sorted ~all (doc,
    // term) pairs by term) onto langs×vocab rows.
    val lt = tf.groupBy(col("lang"), col("term"))
      .agg(max(col("tf")).as("mtf"), count(lit(1)).as("cnt"))
      .withColumn("df", sum(col("cnt")).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(nRel))
      .select(col("lang"), col("term"),
        round(col("mtf") * log(col("__n") / col("df")), 4).as("m"))
    val wr = Window.partitionBy(col("lang"))
      .orderBy(col("m").desc, col("term"))
    lt.withColumn("r", row_number().over(wr).cast("long"))
      .filter(col("r") <= 3)
      .select(col("lang"), col("r"), col("term"), col("m").as("max_tfidf"))
      .orderBy(col("lang"), col("r"))
  }

  val q38Sql: String =
    """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |tf AS (SELECT doc_id, lang, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (SELECT lang, term,
      |             round(max(tf * ln(CAST(n.n AS DOUBLE) / df.df)), 4) AS m
      |           FROM tf JOIN df USING (term) CROSS JOIN n
      |           GROUP BY lang, term),
      |ranked AS (SELECT lang, term, m,
      |             CAST(row_number() OVER (PARTITION BY lang
      |                    ORDER BY m DESC, term) AS BIGINT) AS r
      |           FROM scored)
      |SELECT lang, r, term, m AS max_tfidf
      |FROM ranked WHERE r <= 3 ORDER BY lang, r""".stripMargin

  // --------------------------------------------------------------- Q39
  /** Session windows (30-minute inactivity gap) per user: session count,
    * total events, max session span. The oracle reconstructs sessions
    * via gaps-and-islands (lag + cumulative sum), proving Spark's
    * `session_window` merge semantics equal the relational definition.
    * The inner relation IS [[graft.streaming.EventStream.sessionAgg]] —
    * the continuous sessionizer streams the same definition, so the
    * oracle-checked batch semantics and the streaming job cannot drift.
    */
  val q39: Q = (s, d) =>
    graft.streaming.EventStream.sessionAgg(t(s, d, "events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_ev")).as("n_events"),
        max(col("span_us")).as("max_span_us"))
      .orderBy(col("user_id"))

  // NOTE the `>=`: Spark session_window treats a window as
  // [start, last_ts + gap), so an event landing EXACTLY gap after its
  // predecessor opens a new session — the gaps-and-islands oracle must
  // break on >= gap to express the same semantics at the boundary.
  val q39Sql: String =
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
      |         epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us
      |  FROM sess GROUP BY user_id, sid)
      |SELECT user_id, count(*) AS n_sessions,
      |       CAST(sum(n_ev) AS BIGINT) AS n_events,
      |       max(span_us) AS max_span_us
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- Q45
  /** Multi-probe IVF ANN: search the TWO nearest cells instead of one
    * (the standard recall/latency trade — probing more cells approaches
    * brute-force recall while still pruning most of the corpus). */
  val q45: Q = (s, d) => {
    val probeId = 1L
    val model = ivfModelFor(s, d, 8)
    val assigned = model.assigned
    val cents = broadcast(model.centroids
      .select(col("__cid").as("cid"), col("__c").as("c")))
    val probe = assigned.filter(col("vec_id") === probeId)
      .select(col("__v").as("pv"))
    // two nearest centroids to the probe (same expanded-dist² ops as
    // the oracle), then rerank candidates in either cell
    val d2 = VectorOps.dot(col("pv"), col("pv")) -
      lit(2.0) * VectorOps.dot(col("pv"), col("c")) +
      VectorOps.dot(col("c"), col("c"))
    val top2 = probe.crossJoin(cents)
      .select(col("pv"), col("cid"), d2.as("d2"))
      .orderBy(col("d2"), col("cid")).limit(2)
    val cells = broadcast(top2.select(col("cid"), col("pv")))
    assigned.join(cells, col("cell") === col("cid"))
      .filter(col("vec_id") =!= probeId)
      .select(col("vec_id"),
        round(VectorOps.cosine(col("__v"), col("pv")), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  val q45Sql: String =
    ivfSqlPrelude(nCells = 8, sampleN = 256, iters = 2) +
      """,
        |p AS (SELECT v AS pv FROM e WHERE vec_id = 1),
        |top2 AS (SELECT cid FROM cents2 CROSS JOIN p
        |         ORDER BY list_inner_product(pv, pv) - 2 * list_inner_product(pv, c)
        |                  + list_inner_product(c, c), cid LIMIT 2)
        |SELECT cells.vec_id,
        |       round(list_inner_product(cells.v, p.pv)
        |             / (sqrt(list_inner_product(cells.v, cells.v))
        |                * sqrt(list_inner_product(p.pv, p.pv))), 4) AS sim
        |FROM cells JOIN top2 ON cells.cell = top2.cid CROSS JOIN p
        |WHERE cells.vec_id <> 1
        |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin

  // --------------------------------------------------------------- Q46
  /** Deterministic hash sampling: a reproducible top-10-by-md5-order
    * document sample — the re-runnable sampling primitive a training
    * pipeline needs (TABLESAMPLE is engine-nondeterministic). For a
    * fractional sample, filter on a hash-space prefix instead of LIMIT. */
  val q46: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), md5(col("doc_id").cast("string")).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(10)

  val q46Sql: String =
    """SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
      |FROM documents ORDER BY h, doc_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- Q47
  /** Approximate DISTINCT users per event type beside the exact row
    * count. Round 10 re-based the estimator from HLL++ onto the
    * deterministic md5-KMV sketch (q156's mechanism at k = 128 — a
    * tighter ~1/√126 ≈ 8.9% RSE band, distinct salt `kmv47|`) so every
    * DECLARED entry scores oracle-EXACT in the correctness gate; the
    * HLL++ formulation survives as [[EngineNative.q47Hll]], the
    * engine-native fast path (smaller registers, codegen'd agg),
    * spec-bracketed and benched beside this form. Scale shape
    * unchanged from q156: dedup INSIDE the aggregate
    * ([[graft.operators.KmvSketchAgg]]), map-side buffers capped at k,
    * the shuffle carries O(groups × 128) hashes — strictly less than
    * exact count-distinct's full-key shuffle. Groups under k distinct
    * take the exact path (the sketch IS the value set). */
  val q47: Q = (s, d) => {
    val k = 128
    val twoTo52 = 4503599627370496.0 // 16^13, the θ denominator
    def thetaFrac(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      conv(substring(h, 1, 13), 16, 10).cast("double") / lit(twoTo52)
    t(s, d, "events")
      .select(col("event_type"),
        md5(concat(lit("kmv47|"), col("user_id").cast("string"))).as("h"))
      .groupBy(col("event_type"))
      .agg(graft.operators.TopK.kmvSketch(k)(col("h")).as("hs"),
        count(lit(1)).as("n"))
      .withColumn("m", size(col("hs")))
      .withColumn("theta", element_at(col("hs"), col("m")))
      .select(col("event_type"),
        round(when(col("m") < k, col("m").cast("double"))
          .otherwise(lit((k - 1).toDouble) / thetaFrac(col("theta"))), 4)
          .as("approx_users"),
        col("n"))
      .orderBy(col("event_type"))
  }

  val q47Sql: String =
    """WITH ds AS (SELECT DISTINCT event_type,
      |              md5('kmv47|' || CAST(user_id AS VARCHAR)) AS h FROM events),
      |rk AS (SELECT event_type, h,
      |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |       FROM ds),
      |cnt AS (SELECT event_type, count(*) AS m, max(h) AS theta
      |        FROM rk WHERE rn <= 128 GROUP BY event_type),
      |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |      FROM events GROUP BY 1)
      |SELECT cnt.event_type,
      |       round(CASE WHEN m < 128 THEN CAST(m AS DOUBLE) ELSE 127.0 /
      |         (list_sum(list_transform(generate_series(1, 13), i ->
      |            CAST(strpos('0123456789abcdef', substr(theta, i, 1)) - 1 AS DOUBLE)
      |            * power(16.0, 13 - i))) / 4503599627370496.0) END, 4) AS approx_users,
      |       n.n AS n
      |FROM cnt JOIN n ON cnt.event_type = n.event_type
      |ORDER BY cnt.event_type""".stripMargin

  // --------------------------------------------------------------- Q49
  /** Salted two-phase aggregation ([[SkewedAgg.twoPhaseAgg]]) over the
    * deliberately hot event_type key (a handful of values fan the whole
    * table into a handful of post-shuffle groups): partial aggregate per
    * (key, salt-shard), then combine shards — the hot key's reduce work
    * spreads over 16 reducers instead of one. Sums run in DECIMAL so the
    * two-phase recombination is EXACT and order-independent: the salted
    * plan equals the oracle's single GROUP BY bit-for-bit, proving the
    * skew remedy changes the schedule, not the answer. */
  val q49: Q = (s, d) =>
    graft.operators.SkewedAgg.twoPhaseAgg(t(s, d, "events"),
        Seq(col("event_type")), col("value").cast("decimal(15,2)"), "value",
        shards = 16)
      .select(col("event_type"),
        round(col("sum_value").cast("double"), 2).as("sum_value"),
        col("cnt_value").as("n"))
      .orderBy(col("event_type"))

  val q49Sql: String =
    """SELECT event_type,
      |       round(CAST(sum(CAST(value AS DECIMAL(15,2))) AS DOUBLE), 2) AS sum_value,
      |       count(value) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q50
  /** Embedding near-dup, the 100 TB DEFAULT path for q22's semantics
    * ([[VectorOps.cosineNearDupLsh]] at 4 hyperplanes = 16 buckets; the
    * bits parameter trades join parallelism and per-bucket quadratic
    * work against recall — see [[VectorOps.signBucket]], and size it to
    * the corpus at scale). One shuffle on the bucket key; exact cosine
    * verifies candidates at ≥ 0.35. Same-bucket recall is this query's
    * CONTRACT (cross-bucket pairs are out of scope by definition,
    * mirrored exactly by the oracle); q22 remains the exact all-pairs
    * tier via the tiled kernel. */
  val q50: Q = (s, d) =>
    VectorOps.cosineNearDupLsh(t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", nBits = 4, minSim = 0.35)
      .orderBy(col("a_id"), col("b_id"))

  val q50Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |b AS (SELECT vec_id, v,
      |        CAST(list_sum(list_transform(generate_series(1, 4),
      |               i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bkt
      |      FROM e)
      |SELECT a.vec_id AS a_id, b2.vec_id AS b_id,
      |       round(list_inner_product(a.v, b2.v)
      |             / (sqrt(list_inner_product(a.v, a.v))
      |                * sqrt(list_inner_product(b2.v, b2.v))), 4) AS sim
      |FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id
      |WHERE round(list_inner_product(a.v, b2.v)
      |            / (sqrt(list_inner_product(a.v, a.v))
      |               * sqrt(list_inner_product(b2.v, b2.v))), 4) >= 0.35
      |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------------- Q51
  /** End-to-end training-data prep as ONE declarative plan — the
    * composition a curation run executes: exact content dedup (md5
    * keep-first), language allowlist, quality floor (≥ 40 tokens), then
    * per-language corpus stats over the survivors. Catalyst fuses the
    * filters into the post-window scan: two shuffles total (dedup hash,
    * final group), every stage partial-aggregable. */
  val q51: Q = (s, d) => {
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("text"), md5(col("text")).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .filter(col("lang").isin("en", "de"))
      .withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long"))
      .filter(col("n_tok") >= 40)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"))
  }

  val q51Sql: String =
    """WITH dedup AS (
      |  SELECT doc_id, lang, text,
      |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM documents),
      |kept AS (
      |  SELECT doc_id, lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM dedup
      |  WHERE rn = 1 AND lang IN ('en', 'de')
      |    AND len(string_split(text, ' ')) >= 40)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |       min(doc_id) AS first_doc
      |FROM kept GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- Q52
  /** Near-dup CLUSTER assignment — the step that turns q19's pair list
    * into a deduplicated corpus: pairs form a graph, connected
    * components collapse transitively-similar groups (A≈B, B≈C ⇒
    * {A,B,C} even though A,C never paired), and every document gets its
    * cluster's min doc_id as the component label (singletons label
    * themselves; survivors are the rows with doc_id = component).
    * [[graft.operators.DedupClusters]]: iterative min-label propagation,
    * one equi-join + partial-aggregable min per round, localCheckpoint
    * truncating lineage — near-dup clusters are band-collision cliques,
    * so the loop converges in 2–3 rounds regardless of corpus size. */
  /** q19's verified near-dup pair list, memoized as the stored ingest
    * artifact it is in production (q19 is the ingest run — the q74/q75
    * codes policy): clustering (q52) and any other pair consumer read
    * the stored edges instead of re-running signatures + band join +
    * verify per analysis. */
  private val lshPairs = new BoundedModelCache[DataFrame](releaseCheckpoint)
  def clearLshPairs(): Unit = lshPairs.clear()
  private def lshPairsFor(s: SparkSession, d: String): DataFrame =
    lshPairs.getOrTrain((s, d, 0)) {
      graft.operators.MinHashLsh.nearDup(t(s, d, "documents"),
          bands = 4, rowsPerBand = 2, shingleN = 3, minJaccard = 0.5)
        .localCheckpoint()
    }

  val q52: Q = (s, d) => {
    val docs = t(s, d, "documents")
    graft.operators.DedupClusters.assignAll(docs, lshPairsFor(s, d))
      .orderBy(col("doc_id"))
  }

  val q52Sql: String = {
    val sigCols = Seeds.map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i").mkString(", ")
    val bandCond = (0 until 4).map(b =>
      s"(a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1})").mkString(" OR ")
    // q19's pair CTEs + a recursive transitive closure: reach(u, v) is
    // the set of ordered reachable pairs (UNION dedup terminates it);
    // each node's component = min over itself and everything reachable
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
       |         FROM reach GROUP BY u)
       |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
       |FROM documents d LEFT JOIN comp c USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- Q53
  /** Stratified deterministic sampling: per-language rates via a hash
    * threshold on md5(doc_id) — en keeps h < '8' (50% of hex space),
    * de h < '4' (25%), everything else h < '1' (6.25%). Membership is a
    * pure row-local predicate on a portable hash: re-runnable and
    * join-free (the rate table folds into a CASE), evaluated inside the
    * scan stage with no shuffle. A computed-hash predicate cannot prune
    * row groups; at 100 TB, STORE the hash at ingest and the same
    * threshold filter becomes a parquet min/max-prunable pushdown.
    * Lexicographic hex compare is engine-portable (lowercase hex, ASCII
    * collation both engines). */
  val q53: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"),
        when(col("lang") === "en", "8")
          .when(col("lang") === "de", "4")
          .otherwise("1").as("thr"))
      .filter(col("h") < col("thr"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  val q53Sql: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h,
      |         CASE lang WHEN 'en' THEN '8' WHEN 'de' THEN '4' ELSE '1' END AS thr
      |  FROM documents)
      |WHERE h < thr ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q54
  /** Quality-percentile curation: keep each language's top 25% by the
    * q25 quality score (ties broken by doc_id for determinism). One
    * window over (lang) — partial-aggregable count + row_number in the
    * same frame, one shuffle on lang; at scale the per-language
    * partitions are where a salting step would slot if one language
    * dominates (see q49). */
  val q54: Q = (s, d) => {
    val scored = t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.qualityScore(col("text")).as("score"))
    val rankW = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("doc_id"))
    val cntW = Window.partitionBy(col("lang"))
    scored
      .withColumn("rn", row_number().over(rankW))
      .withColumn("n", count(lit(1)).over(cntW))
      .filter(col("rn") <= ceil(col("n") * 0.25))
      .select(col("doc_id"), col("lang"), col("score"))
      .orderBy(col("doc_id"))
  }

  val q54Sql: String =
    """WITH s AS (SELECT doc_id, lang,
      |             round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
      |                   * (1.0 - CAST(len(list_filter(string_split(text, ' '),
      |                        x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
      |                     / len(string_split(text, ' '))), 4) AS score
      |           FROM documents),
      |r AS (SELECT doc_id, lang, score,
      |        row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn,
      |        count(*) OVER (PARTITION BY lang) AS n
      |      FROM s)
      |SELECT doc_id, lang, score FROM r
      |WHERE rn <= ceil(n * 0.25) ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q55
  /** Incremental ingest dedup ([[graft.operators.MinHashLsh
    * .nearDupAgainst]]): odd doc_ids play the incoming batch, even ids
    * the stored corpus — each new document reports every stored one it
    * near-duplicates (band-key equi-join against the stored signature
    * layout, exact-Jaccard verify). The per-batch cost at 100 TB is
    * proportional to the BATCH: only its slim band rows shuffle, the
    * corpus side reads its bucketed band table in place. */
  val q55: Q = (s, d) => {
    // r14: spread the single-split corpus once — both halves' signature
    // kernels (computed twice each: band table + verify) read the one
    // round-robin exchange in parallel (q144 pattern; no-op at scale)
    val docs = graft.operators.MinHashLsh.spreadSmallInput(
      t(s, d, "documents"))
    val stored = graft.operators.MinHashLsh.signatures(
      docs.filter(col("doc_id") % 2 === 0), 8, 3)
    val incoming = graft.operators.MinHashLsh.signatures(
      docs.filter(col("doc_id") % 2 === 1), 8, 3)
    graft.operators.MinHashLsh.nearDupAgainst(incoming, stored, 4, 2, 0.5)
      .orderBy(col("new_id"), col("dup_of"))
  }

  val q55Sql: String = {
    val sigCols = Seeds.map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i").mkString(", ")
    val bandCond = (0 until 4).map(b =>
      s"(a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1})").mkString(" OR ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |shl AS (SELECT doc_id, list_distinct(list_transform(
       |          generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))) AS sh
       |        FROM toks),
       |sig AS (SELECT doc_id, sh, $sigCols FROM shl),
       |cand AS (SELECT a.doc_id AS new_id, b.doc_id AS dup_of, a.sh AS sha, b.sh AS shb
       |         FROM sig a JOIN sig b
       |         ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND ($bandCond))
       |SELECT new_id, dup_of,
       |       round(CAST(len(list_intersect(sha, shb)) AS DOUBLE)
       |             / (len(sha) + len(shb) - len(list_intersect(sha, shb))), 4) AS jac
       |FROM cand
       |WHERE round(CAST(len(list_intersect(sha, shb)) AS DOUBLE)
       |            / (len(sha) + len(shb) - len(list_intersect(sha, shb))), 4) >= 0.5
       |ORDER BY new_id, dup_of""".stripMargin
  }

  // --------------------------------------------------------------- Q56
  /** Sequence PACKING — the concatenate-then-split layout a training
    * run feeds its context windows: per language, documents concatenate
    * in doc_id order and split into 2048-token chunks; a document's
    * chunk is `floor(tokens_before / 2048)` of the running token count.
    * One window (cumulative sum partitioned by lang — partial-
    * aggregable, one shuffle) + one groupBy; at 100 TB the lang
    * partition bounds window state, and a dominant language shards by
    * (lang, day)-style composite keys upstream. Output: per-chunk doc
    * and token counts (the packing manifest a loader consumes). */
  val q56: Q = (s, d) => {
    val nTok = size(TextOps.tokens(col("text"))).cast("long")
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), nTok.as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("chunk_id", floor((col("cum") - col("n_tok")) / 2048).cast("long"))
      .groupBy(col("lang"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("lang"), col("chunk_id"))
  }

  val q56Sql: String =
    """WITH s AS (SELECT doc_id, lang,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |           FROM documents),
      |c AS (SELECT doc_id, lang, n_tok,
      |        sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |                         ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM s)
      |SELECT lang, CAST(floor((cum - n_tok) / 2048) AS BIGINT) AS chunk_id,
      |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
      |FROM c GROUP BY lang, chunk_id ORDER BY lang, chunk_id""".stripMargin

  // --------------------------------------------------------------- Q57
  /** Backward AS-OF join ([[graft.operators.AsOfJoin]]): every click
    * event annotated with the value of the same user's LATEST purchase
    * at or before it (attribution's last-touch primitive). The
    * union-and-carry-forward plan costs one key shuffle + sort — Spark
    * has no ASOF JOIN and the naive forms are a nested-loop range join
    * or a double join. The right side is pre-aggregated to one row per
    * (user, instant) so ties are deterministic. Oracle: DuckDB's NATIVE
    * `ASOF LEFT JOIN` — an independent implementation of the same
    * semantics, not a re-spelling of ours. */
  val q57: Q = (s, d) => {
    val ev = t(s, d, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("pts_us"))
      .agg(round(max(col("value")), 2).as("last_purchase_value"))
    graft.operators.AsOfJoin.backward(clicks, purchases, "user_id",
      "ts_us", "pts_us", Seq("last_purchase_value"))
      .orderBy(col("event_id"))
  }

  val q57Sql: String =
    """WITH clicks AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
      |  FROM events WHERE event_type = 'click'),
      |purchases AS (
      |  SELECT user_id, epoch_us(ts) AS pts_us, round(max(value), 2) AS last_purchase_value
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, epoch_us(ts))
      |SELECT c.event_id, c.user_id, c.ts_us, p.last_purchase_value
      |FROM clicks c ASOF LEFT JOIN purchases p
      |  ON c.user_id = p.user_id AND c.ts_us >= p.pts_us
      |ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- Q58
  /** RANGE join ([[graft.operators.RangeJoin]]): errors landing inside
    * the hour after each purchase (incident attribution). With no
    * equality key, `BETWEEN` alone plans as BroadcastNestedLoopJoin —
    * the overlap-bin rewrite restores a shuffled equi-join on the bin
    * key (intervals replicate to ≤2 bins at binWidth = window length,
    * points probe exactly one), with the exact predicate as residual
    * filter. Oracle: the plain quadratic BETWEEN join. */
  val q58: Q = (s, d) => {
    val ev = t(s, d, "events")
    val hourUs = 3600L * 1000000L
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), unix_micros(col("ts")).as("et"))
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("ws"),
        (unix_micros(col("ts")) + hourUs).as("we"))
    graft.operators.RangeJoin.pointInInterval(errors, windows, "et", "ws", "we",
        binWidth = hourUs)
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_errors"), min(col("error_id")).as("first_error"))
      .orderBy(col("purchase_id"))
  }

  val q58Sql: String =
    """WITH err AS (
      |  SELECT event_id AS error_id, epoch_us(ts) AS et
      |  FROM events WHERE event_type = 'error'),
      |win AS (
      |  SELECT event_id AS purchase_id, epoch_us(ts) AS ws,
      |         epoch_us(ts) + 3600000000 AS we
      |  FROM events WHERE event_type = 'purchase')
      |SELECT w.purchase_id, count(*) AS n_errors, min(e.error_id) AS first_error
      |FROM win w JOIN err e ON e.et BETWEEN w.ws AND w.we
      |GROUP BY w.purchase_id ORDER BY w.purchase_id""".stripMargin

  // --------------------------------------------------------------- Q59
  /** Benchmark CONTAMINATION check — the eval-integrity gate a training
    * pipeline runs before shipping a corpus: training documents sharing
    * word 3-grams with a held-out benchmark set (here the `src0` docs)
    * are flagged with their overlap count. The benchmark shingle set is
    * tiny relative to the corpus, so the join BROADCASTS it — one scan
    * of the training side, no shuffle of the corpus; at 100 TB this is
    * the only viable shape (the corpus side must never shuffle on the
    * shingle). Distinct-per-doc shingles make the count "how many of
    * this doc's distinct 3-grams appear anywhere in the benchmark". */
  val q59: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val sh = docs.select(col("doc_id"), col("source"),
      explode(array_distinct(TextOps.shinglesNative(col("text"), 3))).as("s"))
    val bench = sh.filter(col("source") === "src0").select(col("s")).distinct()
    sh.filter(col("source") =!= "src0")
      .join(broadcast(bench), "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated"))
      .orderBy(col("doc_id"))
  }

  val q59Sql: String =
    """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, source, unnest(list_distinct(list_transform(
      |         generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' ')))) AS s
      |       FROM toks),
      |bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0')
      |SELECT sh.doc_id, count(*) AS n_contaminated
      |FROM sh JOIN bench USING (s)
      |WHERE sh.source <> 'src0'
      |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q60
  /** Intra-document REPETITION ratio — the Gopher/RefinedWeb-style
    * quality rule: fraction of a document's word 3-grams that are
    * repeats (1 − distinct/total). The multiset never materializes:
    * total positional 3-grams is just `tokens − 2`, and the distinct
    * count comes from the fused native `shinglesNative` kernel (its
    * `array_distinct` semantics are exactly the distinct side here) —
    * one codegen'd pass per row, no interpreted HOF lambdas, no
    * shuffle. Documents too short to form a 3-gram are excluded (the
    * ratio is undefined). */
  val q60: Q = (s, d) => {
    val total = (size(TextOps.tokens(col("text"))) - 2).cast("long")
    val distinctN = size(TextOps.shinglesNative(col("text"), 3)).cast("long")
    t(s, d, "documents")
      .select(col("doc_id"),
        total.as("n_shingles"),
        distinctN.as("n_distinct"),
        round(lit(1.0) - distinctN.cast("double") / total, 4).as("rep_ratio"))
      .filter(col("n_shingles") > 0)
      .orderBy(col("doc_id"))
  }

  val q60Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |s AS (SELECT doc_id, list_transform(generate_series(1, len(t) - 2),
      |        i -> array_to_string(t[i:i+2], ' ')) AS sh
      |      FROM toks)
      |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
      |       CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
      |       round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 4) AS rep_ratio
      |FROM s WHERE len(sh) > 0 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q61
  /** Corpus-internal DUPLICATE-PASSAGE detection — the exact-substring
    * dedup signal (à la "Deduplicating Training Data Makes Language
    * Models Better"): for every document, how many of its distinct word
    * 5-grams appear in at least one OTHER position in the corpus, and
    * the ratio. The per-shingle corpus count is a WINDOW over the one
    * exploded relation — one scan, one shuffle of (doc_id, s), the
    * count computed in place — NOT an aggregate-then-rejoin: that form
    * scans and explodes the corpus twice, and its two exchanges do not
    * unify (column pruning makes the count side's subplan differ, so
    * Catalyst cannot reuse the exchange — verified in the plan audit;
    * the spec pins the single-scan shape). At 100 TB the shingle column
    * is a 64-bit hash instead of the string — same plan, 8-byte shuffle
    * keys; the string form here keeps the oracle engine-portable. A
    * pathologically hot shingle (site boilerplate) serializes its
    * window partition linearly; the remedy is a q49-style two-phase
    * count at the cost of the second scan. */
  val q61: Q = (s, d) => {
    // (r14: the spreadSmallInput round-robin measured NEGATIVE here —
    // ~0.65 → ~0.92 s reference-normalized; the exploded-shingle window
    // dominates and the extra text exchange buys nothing. Unspread.)
    val sh = t(s, d, "documents")
      .select(col("doc_id"), explode(TextOps.shinglesNative(col("text"), 5)).as("s"))
    sh.withColumn("nd", count(lit(1)).over(Window.partitionBy(col("s"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio",
        round(col("n_dup").cast("double") / col("n_distinct"), 4))
      .orderBy(col("doc_id"))
  }

  val q61Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         generate_series(1, len(t) - 4), i -> array_to_string(t[i:i+4], ' ')))) AS s
      |       FROM toks),
      |cnt AS (SELECT s, count(*) AS nd FROM sh GROUP BY s)
      |SELECT doc_id, count(*) AS n_distinct,
      |       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |       round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 4) AS dup_ratio
      |FROM sh JOIN cnt USING (s)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q62
  /** BM25 keyword search (k1 = 1.2, b = 0.75) for a fixed term set —
    * the retrieval primitive over a corpus table, served FROM the
    * stored inverted index (build once at ingest, score per query).
    * The scoring plan filters |terms| rows from the checkpointed
    * postings (a `bucketBy(term)` table at deployment — bucket-pruned,
    * zero term-key Exchange, see [[graft.operators.InvertedIndex]]),
    * broadcasts the one-row (N, avgdl) stats relation, and folds one
    * ≤|terms|-rows-per-doc aggregate: per-query cost is independent of
    * corpus size. The index stores EXACT integer tf/dl/df and avgdl
    * divides two exact integers, so the scores are bit-identical to
    * scoring from raw text — which is exactly what the oracle does. */
  /** The STORED retrieval layout ([[graft.operators.InvertedIndex]]):
    * postings + the one-row stats relation, built once per
    * (session, dir) and memoized exactly like the PQ codes — q98 (and
    * any future keyword leg) reads the index instead of re-scoring the
    * corpus from raw text. localCheckpoint stands in for the
    * `bucketBy(term)` table a deployment would write. */
  private val invIndexes = new BoundedModelCache[(DataFrame, DataFrame)]({
    case (idx, st) => releaseCheckpoint(idx); releaseCheckpoint(st)
  })
  def clearInvIndexes(): Unit = invIndexes.clear()
  private def invIndexFor(s: SparkSession, d: String): (DataFrame, DataFrame) =
    invIndexes.getOrTrain((s, d, 0)) {
      val docs = t(s, d, "documents")
      (graft.operators.InvertedIndex.build(docs).localCheckpoint(),
        graft.operators.InvertedIndex.stats(docs).localCheckpoint())
    }

  val q62: Q = (s, d) => {
    val (idx, stRel) = invIndexFor(s, d)
    graft.operators.InvertedIndex.bm25(idx, stRel,
      Seq("table", "hash", "stream"), k = 20)
  }

  val q62Sql: String =
    """WITH base AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |                string_split(text, ' ') AS toks
      |              FROM documents),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
      |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |          FROM base),
      |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf FROM (
      |         SELECT doc_id, dl, unnest(list_filter(toks,
      |                  x -> x IN ('table', 'hash', 'stream'))) AS term
      |         FROM base)
      |       GROUP BY doc_id, dl, term),
      |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)
      |SELECT doc_id,
      |       round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
      |                 / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))), 4) AS bm25,
      |       count(*) AS n_terms
      |FROM tf JOIN df USING (term) CROSS JOIN stats
      |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  // --------------------------------------------------------------- Q63
  /** Unigram language-model quality score: each document's mean token
    * log-probability under the corpus's own MLE unigram distribution —
    * the cheap perplexity-style fluency signal (odd documents score
    * low). The "model" (term → count) is corpus-derived but
    * vocabulary-sized, so it rides a broadcast join; the token TOTAL is
    * summed from the model (vocab-sized aggregate — as a second USE of
    * the probs lineage it re-executes its pruned scan; the pinned
    * single-scan alternative measured SLOWER, see the body note),
    * and the scoring side works on per-(doc, term) COUNTS (map-side
    * combine shrinks the shuffle to distinct terms per doc; the mean
    * is Σ k·ln p / Σ k over exact integer k). At 100 TB the
    * distribution is trained once (optionally count-capped) and
    * shipped exactly like the IVF centroids — scoring is then ONE
    * corpus scan joined to the broadcast model. */
  val q63: Q = (s, d) => {
    // NOTE (round 6, measured): pinning the per-(doc, term) counts and
    // folding probs/total out of the pin cuts the plan to 1 scan but
    // runs ~40% SLOWER at sf0.1 — the eager localCheckpoint
    // materialization costs more than the two cheap rescans it saves
    // (bench 0.35 s lazy vs 0.48 s pinned). The lazy 3-scan form stays;
    // at 100 TB the model is a trained broadcast artifact either way.
    val tok = t(s, d, "documents")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
    val tcnt = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("k"))
    val probs = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = probs.agg(sum(col("cnt")).cast("double").as("__t"))
    val kd = col("k").cast("double")
    tcnt.join(broadcast(probs), "term").crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"),
        round(sum(kd * log(col("cnt").cast("double") / col("__t"))) / sum(kd), 4)
          .as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  val q63Sql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |tc AS (SELECT doc_id, term, count(*) AS k FROM tok GROUP BY doc_id, term),
      |p AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
      |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM p)
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
      |       round(sum(CAST(k AS DOUBLE) * ln(CAST(cnt AS DOUBLE) / t))
      |             / sum(CAST(k AS DOUBLE)), 4) AS avg_logp
      |FROM tc JOIN p USING (term) CROSS JOIN tot
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q64
  /** SemDeDup-style SEMANTIC dedup: cluster embeddings with the shared
    * IVF quantizer (the q30/q45 model, memoized + oracle-replayed),
    * then inside each cluster drop any vector whose cosine to a
    * LOWER-id cluster-mate reaches the threshold — near-semantic
    * duplicates never pairwise-compare across clusters, which is the
    * point: the quadratic term is (N/cells)² per cluster, tuned by the
    * cell count, instead of N². Comparisons happen on 4-dp-rounded
    * cosines (both engines round the identical IEEE expression, so the
    * threshold cannot straddle an ulp). Output labels every vector —
    * as a LEFT self-join with the dup predicate in the join condition
    * (flag = any match survived), so the assignment lineage executes
    * twice, not three times as with a separate dropped-set + label
    * join; production stores `cell` as a column (the IVF layout), at
    * which point each side is one pruned scan. */
  val q64: Q = (s, d) => {
    val assigned = ivfModelFor(s, d, 8).assigned
    val a = assigned.select(col("vec_id").as("a_id"), col("cell").as("a_cell"),
      col("__v").as("av"))
    val b = assigned.select(col("vec_id").as("b_id"), col("cell").as("b_cell"),
      col("__v").as("bv"))
    a.join(b,
        col("a_cell") === col("b_cell") && col("b_id") < col("a_id") &&
          round(VectorOps.cosine(col("av"), col("bv")), 4) >= 0.35,
        "left")
      .groupBy(col("a_id").as("vec_id"), col("a_cell").as("cell"))
      .agg(max(when(col("b_id").isNotNull, 1L).otherwise(0L)).as("is_dup"))
      .orderBy(col("vec_id"))
  }

  val q64Sql: String =
    ivfSqlPrelude(nCells = 8, sampleN = 256, iters = 2) +
      """,
        |dropped AS (SELECT DISTINCT a.vec_id AS aid
        |            FROM cells a JOIN cells b
        |              ON a.cell = b.cell AND b.vec_id < a.vec_id
        |            WHERE round(list_inner_product(a.v, b.v)
        |                  / (sqrt(list_inner_product(a.v, a.v))
        |                     * sqrt(list_inner_product(b.v, b.v))), 4) >= 0.35)
        |SELECT c.vec_id, c.cell,
        |       CAST(CASE WHEN d.aid IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
        |FROM cells c LEFT JOIN dropped d ON c.vec_id = d.aid
        |ORDER BY c.vec_id""".stripMargin

  // --------------------------------------------------------------- Q65
  /** Token-BUDGET curation: per language, walk documents in descending
    * quality order (the q25 score, ties → doc_id) and keep them until
    * the running token total passes 20k — the "best corpus that fits
    * the budget" selection step before training. One window shuffle on
    * lang; the cumulative sum is over exact BIGINT token counts and the
    * score is pre-rounded, so the cut point is engine-deterministic.
    * A language hot enough to bottleneck the single window partition
    * gets the q49 salting treatment on a coarse score bucket. */
  val q65: Q = (s, d) => {
    val scored = t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
        TextOps.qualityScore(col("text")).as("score"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.withColumn("cum", sum(col("n_tok")).over(w))
      .filter(col("cum") <= 20000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("score")).as("min_score"))
      .orderBy(col("lang"))
  }

  val q65Sql: String =
    """WITH s AS (SELECT doc_id, lang,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |             round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
      |                   * (1.0 - CAST(len(list_filter(string_split(text, ' '),
      |                        x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
      |                     / len(string_split(text, ' '))), 4) AS score
      |           FROM documents),
      |c AS (SELECT lang, n_tok, score,
      |        sum(n_tok) OVER (PARTITION BY lang ORDER BY score DESC, doc_id
      |                         ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM s)
      |SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |       min(score) AS min_score
      |FROM c WHERE cum <= 20000 GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- Q66
  /** Deterministic training-SHARD assignment: shard = md5(doc_id) mod 8
    * — the reproducible global shuffle a training run needs (no
    * global sort, no RNG: a pure row-local hash, identical on re-run
    * and engine-portable via the hex-prefix parse). Per-shard manifest
    * stats fall out of one partial-aggregable groupBy; writing the
    * corpus `partitionBy("shard")` with this column IS the shard
    * layout at 100 TB. */
  val q66: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 8).as("shard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))

  val q66Sql: String =
    """SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |       count(DISTINCT lang) AS n_langs,
      |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM (SELECT doc_id, lang,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 8 AS shard
      |      FROM documents)
      |GROUP BY shard ORDER BY shard""".stripMargin

  // --------------------------------------------------------------- Q67
  /** MIXTURE sampling — build a corpus matching target source weights
    * (the data-mixing step before training): each language's sampling
    * rate is DERIVED from its corpus count (`rate = min(1, w·B/n)`,
    * B = 150-doc budget), then membership is the q53 row-local hash
    * predicate (md5 32-bit prefix under `floor(rate·2³²)` — integer
    * compare, engine-exact). The count relation is the mixture MODEL:
    * languages-sized, broadcast; at scale it is computed once per
    * corpus version and shipped, leaving one scan whose predicate
    * evaluates inside the scan stage. Selection is reproducible and
    * rerun-stable — growing the corpus only adds/removes docs at the
    * hash frontier (no reshuffling the sample). */
  val q67: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val w = when(col("lang") === "en", 0.4).when(col("lang") === "de", 0.3)
      .when(col("lang") === "es", 0.2).otherwise(0.1)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    docs.join(broadcast(counts), "lang")
      .withColumn("rate", least(lit(1.0), w * lit(150.0) / col("n_lang")))
      .withColumn("h32",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"))
      .filter(col("h32") < floor(col("rate") * lit(4294967296.0)).cast("long"))
      .groupBy(col("lang"))
      .agg(min(col("n_lang")).as("n_lang"), round(min(col("rate")), 4).as("rate"),
        count(lit(1)).as("n_sel"))
      .orderBy(col("lang"))
  }

  val q67Sql: String =
    """WITH n AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
      |r AS (SELECT d.doc_id, d.lang, n.n_lang,
      |        least(1.0, (CASE d.lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.3
      |                    WHEN 'es' THEN 0.2 ELSE 0.1 END) * 150.0 / n.n_lang) AS rate,
      |        CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h32
      |      FROM documents d JOIN n USING (lang))
      |SELECT lang, min(n_lang) AS n_lang, round(min(rate), 4) AS rate,
      |       count(*) AS n_sel
      |FROM r WHERE h32 < CAST(floor(rate * 4294967296.0) AS BIGINT)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- Q68
  /** Day-over-day DRIFT monitoring on the event stream: the population
    * stability index Σ (p−q)·ln(p/q) of each day's event-type
    * distribution against the previous day's — the guardrail a
    * continuously-ingesting pipeline alarms on. Everything after the
    * daily aggregate is model-sized (days × types), so the self-join's
    * lineage recompute is a non-cost; the corpus-scale work is one
    * partial-aggregable groupBy. Buckets are compared where present on
    * BOTH days (inner join): a type absent on either day has unbounded
    * pointwise PSI and belongs to a presence alarm, not this sum —
    * `n_buckets` exposes the compared-bucket count for exactly that. */
  val q68: Q = (s, d) => {
    val daily = t(s, d, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val withP = daily.withColumn("p",
      col("c").cast("double") / sum(col("c")).over(Window.partitionBy(col("day"))))
    val prev = withP.select(date_add(col("day"), 1).as("day"),
      col("event_type"), col("p").as("q"))
    withP.join(prev, Seq("day", "event_type"))
      .groupBy(col("day"))
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 4).as("psi"),
        count(lit(1)).as("n_buckets"))
      .orderBy(col("day"))
  }

  val q68Sql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
      |               FROM events GROUP BY 1, 2),
      |p AS (SELECT day, event_type,
      |        CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY day) AS p
      |      FROM daily)
      |SELECT a.day, round(sum((a.p - b.p) * ln(a.p / b.p)), 4) AS psi,
      |       count(*) AS n_buckets
      |FROM p a JOIN p b ON a.event_type = b.event_type AND a.day = b.day + 1
      |GROUP BY a.day ORDER BY a.day""".stripMargin

  /** Trained BPE merge tables, memoized like the IVF quantizer (same
    * immutable-dir contract; [[clearBpeModels]] is the rewrite escape
    * hatch). */
  private val bpeModels = new BoundedModelCache[Seq[graft.functions.Bpe.Merge]]
  def clearBpeModels(): Unit = bpeModels.clear()
  private def bpeModelFor(s: SparkSession, d: String, k: Int): Seq[graft.functions.Bpe.Merge] =
    bpeModels.getOrTrain((s, d, k))(
      // trainLocal: one distributed scan for word counts, merge loop
      // driver-local on the model-sized table (spec-pinned identical
      // to the distributed train's list) — ~500x per-merge at k=300
      graft.functions.Bpe.trainLocal(t(s, d, "documents"), k))

  /** Unrolled BPE training prelude shared by the q72/q73 oracles:
    * word-frequency table → k rounds of (pair count → top pair → merge
    * via literal replace), the original word carried as the join key.
    * Mirrors [[graft.functions.Bpe.train]] step for step; the '!' pair
    * separator sorts below every symbol character, so the tie-break on
    * the joined key equals the (a, b) tuple order. */
  private def bpeSqlPrelude(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w0 AS MATERIALIZED (SELECT w, regexp_replace(w, '(.)', '(\1)', 'g') AS ws, n FROM (
             |  SELECT w, count(*) AS n FROM (
             |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             |  WHERE len(w) > 0 AND NOT regexp_matches(w, '[()!]') GROUP BY w)),
             |""".stripMargin
    for (r <- 1 to k) {
      sb ++= s"""pr$r AS MATERIALIZED (SELECT p, CAST(sum(n) AS BIGINT) AS f FROM (
                |  SELECT unnest(list_transform(generate_series(1, len(s) - 1),
                |           i -> s[i] || '!' || s[i+1])) AS p, n
                |  FROM (SELECT regexp_extract_all(ws, '\\(([^)]*)\\)', 1) AS s, n
                |        FROM w${r - 1})) GROUP BY p),
                |t$r AS MATERIALIZED (SELECT p, f FROM pr$r ORDER BY f DESC, p LIMIT 1),
                |w$r AS MATERIALIZED (SELECT w, CASE
                |    WHEN (SELECT count(*) FROM t$r) = 0 THEN ws
                |    ELSE replace(ws,
                |      '(' || replace((SELECT p FROM t$r), '!', ')(') || ')',
                |      '(' || replace((SELECT p FROM t$r), '!', '') || ')') END AS ws, n
                |  FROM w${r - 1}),
                |""".stripMargin
    }
    sb.setLength(sb.length - 2) // trailing ",\n"
    sb.toString
  }

  // --------------------------------------------------------------- Q72
  /** BPE TOKENIZER TRAINING as dataflow ([[graft.functions.Bpe]]): the
    * first 10 merges learned from the corpus word-frequency relation —
    * each round one pair-count aggregate over the vocabulary-sized word
    * table plus a one-row collect (the chosen pair), exactly the
    * ivfModel training shape. The oracle replays the identical
    * algorithm as 10 unrolled CTE rounds, so the merge table (order,
    * pairs, frequencies) is exact-checked, not sketch-checked. One
    * corpus scan total; everything after is model-sized. */
  val q72: Q = (s, d) => {
    import s.implicits._
    val merges = bpeModelFor(s, d, 10)
    merges.zipWithIndex
      .map { case (m, i) => (i.toLong + 1, m.a, m.b, m.freq) }
      .toDF("rank", "a", "b", "freq")
      .orderBy(col("rank"))
  }

  val q72Sql: String =
    bpeSqlPrelude(10) + ",\n" +
      (1 to 10).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS rank, split_part(p, '!', 1) AS a,
           |       split_part(p, '!', 2) AS b, f AS freq FROM t$r""".stripMargin)
        .mkString("m AS (", " UNION ALL ", ")\n") +
      "SELECT rank, a, b, freq FROM m ORDER BY rank"

  // --------------------------------------------------------------- Q73
  /** BPE ENCODING stats per language under the q72-trained merges:
    * token counts after 10 merges and the chars-per-token compression
    * ratio. Encoding runs ONCE PER DISTINCT (lang, word) — the corpus
    * first folds to the Heaps'-law-bounded word-frequency relation
    * (one map-side-combined shuffle), then the 10-replace merge chain
    * (codegen'd literal replaces, no vocabulary join) encodes each
    * distinct word and occurrence counts weight the sums. The naive
    * per-occurrence encode re-ran 12 string ops on every token of the
    * corpus — 750k encodes at sf0.1 where the vocabulary holds ~5k
    * (1.07 s → ~0.5 s, and the gap widens with corpus size: encode
    * cost is VOCAB-bounded, the scan only counts). All sums exact
    * integers. Oracle: the unrolled training prelude's final word
    * table joined back to the corpus. */
  val q73: Q = (s, d) => {
    import graft.functions.Bpe
    val merges = bpeModelFor(s, d, 10)
    t(s, d, "documents")
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0 && !col("w").rlike("[()!]")) // Bpe.wordFreq's filter
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
      .select(col("lang"), col("n"), length(col("w")).cast("long").as("chars"),
        Bpe.tokenCount(Bpe.applyMerges(Bpe.symbolize(col("w")), merges)).as("tok"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_words"), sum(col("tok") * col("n")).as("n_tokens"),
        sum(col("chars") * col("n")).as("n_chars"),
        round(sum(col("chars") * col("n")).cast("double") /
          sum(col("tok") * col("n")), 4).as("chars_per_token"))
      .orderBy(col("lang"))
  }

  val q73Sql: String =
    bpeSqlPrelude(10) + ",\n" +
      """tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |enc AS (SELECT t.lang, length(t.w) AS chars,
        |          len(regexp_extract_all(w10.ws, '\(([^)]*)\)', 1)) AS tok
        |        FROM tok t JOIN w10 ON t.w = w10.w
        |        WHERE len(t.w) > 0 AND NOT regexp_matches(t.w, '[()!]'))
        |SELECT lang, count(*) AS n_words, CAST(sum(tok) AS BIGINT) AS n_tokens,
        |       CAST(sum(chars) AS BIGINT) AS n_chars,
        |       round(CAST(sum(chars) AS DOUBLE) / sum(tok), 4) AS chars_per_token
        |FROM enc GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- Q74/Q75
  /** Product Quantization ([[graft.functions.Pq]]): m=8 subspaces × k=4
    * codes over the 64-dim embeddings — the memory side of 100 TB ANN
    * (8 codes ≈ 8 bytes/vector vs 512 as doubles). The codebooks are a
    * trained artifact memoized like the IVF quantizer; the oracle replays
    * the per-subspace k-means, the encode argmin, and the integer-exact
    * ADC, all as unrolled CTEs. */
  private val pqModels = new BoundedModelCache[graft.functions.Pq.PqModel]
  def clearPqModels(): Unit = pqModels.clear()
  private val PqM = 8
  private val PqK = 4
  private def pqModelFor(s: SparkSession, d: String): graft.functions.Pq.PqModel =
    pqModels.getOrTrain((s, d, PqM * 1000 + PqK))(
      graft.functions.Pq.train(t(s, d, "embeddings"), "vec_id", "embedding",
        m = PqM, k = PqK))

  /** The ENCODED corpus is an ingest-time artifact exactly like the
    * model: q74 is the ingest run, every search reads the stored codes.
    * Memoized as a materialized (localCheckpoint) frame so repeated
    * searches scan m-byte codes instead of re-encoding the vectors. */
  private val pqCodes = new BoundedModelCache[DataFrame](releaseCheckpoint)
  def clearPqCodes(): Unit = pqCodes.clear()
  private def pqCodesFor(s: SparkSession, d: String): DataFrame =
    pqCodes.getOrTrain((s, d, PqM * 1000 + PqK))(
      graft.functions.Pq.encode(t(s, d, "embeddings"), "vec_id", "embedding",
        pqModelFor(s, d)).localCheckpoint())

  /** PQ codes per vector (the ingest-time stored column), serialized as
    * a '-'-joined string so the cross-engine compare is scalar. The
    * encode is one codegen'd projection over centroid literals — no
    * join, no shuffle (see [[graft.functions.Pq.encode]]). */
  val q74: Q = (s, d) =>
    // (r15 measured-negative: spreading the single-split corpus before
    // the encode kernel — the q293/q136 pattern — A/B'd NEUTRAL (best
    // 0.658 vs 0.654 over 5 alternating reps): the m·k=32 argmin kernel
    // is cheap enough that the round-robin exchange exactly cancels the
    // parallelism gain, and the orderBy's sampling pass re-runs only a
    // ~0.1 s projection. Reverted to keep the scan exchange-free.)
    graft.functions.Pq.encode(t(s, d, "embeddings"), "vec_id", "embedding",
        pqModelFor(s, d))
      .select(col("vec_id"),
        array_join(transform(col("codes"), c => c.cast("string")), "-").as("codes"))
      .orderBy(col("vec_id"))

  /** Unrolled per-subspace k-means + encode shared by the q74/q75
    * oracles — [[graft.functions.Pq.train]]/`encode` step for step:
    * hash-sampled train set, first-k seeds sliced into every subspace,
    * `iters` × (assign → 6-dp-rounded mean), then full-corpus argmin
    * codes (ties → lowest code). */
  /** `prefix` renames every PQ CTE (composition with other preludes that
    * define `train`/`cents*`, e.g. q78's IVF+PQ); `withE = false` omits
    * the leading `WITH e AS (...)` and reuses a caller-provided `e`
    * (identical definition in ivfSqlPrelude). */
  private def pqSqlPrelude(m: Int, k: Int, dsub: Int, sampleN: Int,
                           iters: Int, prefix: String = "",
                           withE: Boolean = true): String = {
    val P = prefix
    def d2(v: String, c: String) =
      s"list_inner_product($v, $v) - 2 * list_inner_product($v, $c)" +
        s" + list_inner_product($c, $c)"
    def sl(v: String, sub: String) =
      s"array_slice($v, $sub*$dsub + 1, $sub*$dsub + $dsub)"
    val sb = new StringBuilder
    if (withE)
      sb ++= "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
    sb ++= s"""${P}subs AS (SELECT unnest(generate_series(0, ${m - 1})) AS sub),
              |${P}sidx AS (SELECT unnest(generate_series(1, $dsub)) AS i),
              |${P}train AS (SELECT vec_id AS tid, v FROM e
              |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $sampleN),
              |${P}tsv AS (SELECT tid, sub, ${sl("v", "sub")} AS sv FROM ${P}train CROSS JOIN ${P}subs),
              |${P}seed AS (SELECT v, CAST(row_number() OVER (
              |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS BIGINT) AS cid
              |         FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),
              |${P}cents0 AS (SELECT sub, cid, ${sl("v", "sub")} AS c FROM ${P}seed CROSS JOIN ${P}subs),
              |""".stripMargin
    for (r <- 1 to iters) {
      sb ++= s"""${P}asg$r AS (SELECT tid, sub, sv, cid AS cell FROM (
                |  SELECT t.tid, t.sub, t.sv, c.cid, row_number() OVER (
                |    PARTITION BY t.tid, t.sub
                |    ORDER BY ${d2("t.sv", "c.c")}, c.cid) AS rn
                |  FROM ${P}tsv t JOIN ${P}cents${r - 1} c ON t.sub = c.sub) WHERE rn = 1),
                |${P}upd$r AS (SELECT sub, cell AS cid, i, round(avg(sv[i]), 6) AS x
                |          FROM ${P}asg$r CROSS JOIN ${P}sidx GROUP BY sub, cell, i),
                |${P}cents$r AS (SELECT s.sub, s.cid, COALESCE(u.c, s.c) AS c FROM ${P}cents${r - 1} s
                |            LEFT JOIN (SELECT sub, cid, list(x ORDER BY i) AS c
                |                       FROM ${P}upd$r GROUP BY sub, cid) u
                |            ON s.sub = u.sub AND s.cid = u.cid),
                |""".stripMargin
    }
    sb ++= s"""${P}codes AS (SELECT vec_id, sub, cid AS code FROM (
              |  SELECT e.vec_id, c.sub, c.cid, row_number() OVER (
              |    PARTITION BY e.vec_id, c.sub
              |    ORDER BY ${d2(sl("e.v", "c.sub"), "c.c")}, c.cid) AS rn
              |  FROM e CROSS JOIN ${P}cents$iters c) WHERE rn = 1)""".stripMargin
    sb.toString
  }

  val q74Sql: String =
    pqSqlPrelude(m = PqM, k = PqK, dsub = 8, sampleN = 256, iters = 2) +
      """
        |SELECT vec_id,
        |       array_to_string(list(CAST(code AS VARCHAR) ORDER BY sub), '-') AS codes
        |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** ADC search: probe vec_id=1's m×k lookup table in integer micro-
    * units (exact cross-engine sums), shortlist-16 by approximate
    * distance over stored codes, exact cosine rerank to top-5. The Spark
    * plan is ONE codes-scan + TakeOrderedAndProject + a 16-row broadcast
    * rerank.
    *
    * The codes are the STORED ingest artifact (q74 writes them), so the
    * search reads them via `codesOverride` from the same memoized
    * registry as the model — production never re-encodes the corpus per
    * query, and neither does the bench. */
  val q75: Q = (s, d) =>
    graft.functions.Pq.adcSearch(t(s, d, "embeddings"), "vec_id", "embedding",
      pqModelFor(s, d), probeId = 1L, shortlist = 16, topK = 5,
      codesOverride = Some(pqCodesFor(s, d)))

  val q75Sql: String =
    pqSqlPrelude(m = PqM, k = PqK, dsub = 8, sampleN = 256, iters = 2) +
      """,
        |p AS (SELECT v AS pv FROM e WHERE vec_id = 1),
        |lut AS (SELECT sub, cid,
        |          CAST(round((list_inner_product(ps, ps) - 2 * list_inner_product(ps, c)
        |                      + list_inner_product(c, c)) * 1e6) AS BIGINT) AS pd
        |        FROM (SELECT c.sub, c.cid, c.c,
        |                     array_slice(p.pv, c.sub*8 + 1, c.sub*8 + 8) AS ps
        |              FROM cents2 c CROSS JOIN p)),
        |adc AS (SELECT cd.vec_id, CAST(sum(l.pd) AS BIGINT) AS approx_d2u
        |        FROM codes cd JOIN lut l ON cd.sub = l.sub AND cd.code = l.cid
        |        WHERE cd.vec_id <> 1 GROUP BY cd.vec_id),
        |cand AS (SELECT vec_id, approx_d2u FROM adc ORDER BY approx_d2u, vec_id LIMIT 16)
        |SELECT c.vec_id, c.approx_d2u,
        |       round(list_inner_product(e.v, p.pv)
        |             / (sqrt(list_inner_product(e.v, e.v))
        |                * sqrt(list_inner_product(p.pv, p.pv))), 4) AS sim
        |FROM cand c JOIN e ON c.vec_id = e.vec_id CROSS JOIN p
        |ORDER BY sim DESC, c.vec_id LIMIT 5""".stripMargin

  // --------------------------------------------------------------- Q76
  /** Batch kNN JOIN: every vector's top-3 cosine neighbors within its
    * IVF cell — the all-rows ANN shape behind semantic curation (q64
    * keeps only the ≥τ mate; this materializes the ranked neighbor list
    * per vector). One equi-join on the cell id confines the quadratic
    * term to (N/cells)² per cell, exactly like q64; the per-vector top-3
    * is a window over the surviving pairs. Same-cell recall is the
    * contract (the multi-probe dial is q45's). Reuses the memoized q30
    * quantizer, so the bench cost is join + window, not training. */
  val q76: Q = (s, d) =>
    VectorOps.knnJoin(ivfModelFor(s, d, 8).assigned, "vec_id", k = 3)
      .orderBy(col("a_id"), col("r"))

  val q76Sql: String =
    ivfSqlPrelude(nCells = 8, sampleN = 256, iters = 2) +
      """,
        |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |            round(list_inner_product(a.v, b.v)
        |                  / (sqrt(list_inner_product(a.v, a.v))
        |                     * sqrt(list_inner_product(b.v, b.v))), 4) AS sim
        |          FROM cells a JOIN cells b
        |            ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |rk AS (SELECT a_id, b_id, sim, row_number() OVER (
        |         PARTITION BY a_id ORDER BY sim DESC, b_id) AS r FROM pairs)
        |SELECT a_id, CAST(r AS BIGINT) AS r, b_id, sim
        |FROM rk WHERE r <= 3 ORDER BY a_id, r""".stripMargin

  // --------------------------------------------------------------- Q78
  /** IVF-PQ combined search ([[graft.functions.Pq.ivfPqSearch]]): the
    * production warehouse ANN layout — the coarse cell prunes WHICH rows
    * the scan touches, the PQ codes bound the BYTES per touched row, and
    * only the 8-row shortlist pays full-vector cost. Shares both
    * memoized models (q30's quantizer, q74's codebooks); the oracle
    * stitches the two unrolled preludes (PQ CTEs prefixed) and replays
    * the cell-restricted integer-exact ADC. */
  val q78: Q = (s, d) =>
    graft.functions.Pq.ivfPqSearch(ivfModelFor(s, d, 8).assigned, "vec_id",
      pqModelFor(s, d), probeId = 1L, shortlist = 8, topK = 5)

  val q78Sql: String =
    ivfSqlPrelude(nCells = 8, sampleN = 256, iters = 2) + ",\n" +
      pqSqlPrelude(m = PqM, k = PqK, dsub = 8, sampleN = 256, iters = 2,
        prefix = "pq_", withE = false) +
      """,
        |p AS (SELECT v AS pv, cell AS pcell FROM cells WHERE vec_id = 1),
        |lut AS (SELECT sub, cid,
        |          CAST(round((list_inner_product(ps, ps) - 2 * list_inner_product(ps, c)
        |                      + list_inner_product(c, c)) * 1e6) AS BIGINT) AS pd
        |        FROM (SELECT c.sub, c.cid, c.c,
        |                     array_slice(p.pv, c.sub*8 + 1, c.sub*8 + 8) AS ps
        |              FROM pq_cents2 c CROSS JOIN p)),
        |adc AS (SELECT cd.vec_id, CAST(sum(l.pd) AS BIGINT) AS approx_d2u
        |        FROM pq_codes cd
        |        JOIN cells cl ON cd.vec_id = cl.vec_id
        |        JOIN lut l ON cd.sub = l.sub AND cd.code = l.cid
        |        CROSS JOIN p
        |        WHERE cl.cell = p.pcell AND cd.vec_id <> 1
        |        GROUP BY cd.vec_id),
        |cand AS (SELECT vec_id, approx_d2u FROM adc ORDER BY approx_d2u, vec_id LIMIT 8)
        |SELECT c.vec_id, c.approx_d2u,
        |       round(list_inner_product(e.v, p.pv)
        |             / (sqrt(list_inner_product(e.v, e.v))
        |                * sqrt(list_inner_product(p.pv, p.pv))), 4) AS sim
        |FROM cand c JOIN e ON c.vec_id = e.vec_id CROSS JOIN p
        |ORDER BY sim DESC, c.vec_id LIMIT 5""".stripMargin

  // --------------------------------------------------------------- Q80
  /** Fuzzy key self-join ([[graft.operators.FuzzyJoin]]): all customer-
    * name pairs at edit distance exactly 1 — entity resolution over
    * noisy keys via SymSpell deletion-neighborhood candidates + exact
    * levenshtein verify. Candidate generation is a slim (deletion-key,
    * name) equi-join — the q19/q50 pattern on string keys; no cross
    * join at any N. */
  val q80: Q = (s, d) =>
    graft.operators.FuzzyJoin.editDistance1Pairs(t(s, d, "customer"), "c_name")
      .withColumnRenamed("a_val", "a_name")
      .withColumnRenamed("b_val", "b_name")
      .orderBy(col("a_name"), col("b_name"))

  // --------------------------------------------------------------- Q186
  /** Edit-distance ≤ 2 self-join — q80's wider-ball tier
    * ([[graft.operators.FuzzyJoin.editDistance2Pairs]]: the SymSpell
    * deletion neighborhood composed once, banded threshold-levenshtein
    * verify inside the bucket pair loop, pair-distinct after). The
    * ORACLE is deliberately the OTHER algorithm — a quadratic
    * cross-join with unthresholded levenshtein — so agreement proves
    * the neighborhood blocking generates every true pair (the
    * completeness direction a replayed-blocking oracle could not
    * check). Corpus: every 7th customer (custkey ≡ 0 mod 7) — a
    * REALISTIC-density name corpus. The full sequential table is the
    * operator's documented adversarial case (every 2-digit completion
    * exists, so candidate volume tracks insertion density AND the
    * RESULT itself is corpus-quadratic — 4.08M true pairs at sf0.1,
    * 13% of the whole bench spent mostly sorting its own output; r8
    * moved that tier to the scale probes where output size is the
    * measured subject, SURVEY §6.1) — the mod-7 thinning keeps every
    * digit pattern and edit class (83,812 true pairs at sf0.1) at the
    * density production name/address corpora actually have, with the
    * same quadratic oracle proving the same completeness. */
  val q186: Q = (s, d) =>
    graft.operators.FuzzyJoin.editDistance2Pairs(
        t(s, d, "customer").filter(col("c_custkey") % 7 === 0), "c_name")
      .withColumnRenamed("a_val", "a_name")
      .withColumnRenamed("b_val", "b_name")
      .orderBy(col("a_name"), col("b_name"))

  val q186Sql: String =
    """WITH v AS (SELECT DISTINCT c_name AS t FROM customer
      |           WHERE c_name IS NOT NULL AND c_custkey % 7 = 0)
      |SELECT a.t AS a_name, b.t AS b_name,
      |       CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
      |FROM v a JOIN v b ON a.t < b.t
      |WHERE levenshtein(a.t, b.t) <= 2
      |ORDER BY a_name, b_name""".stripMargin

  // --------------------------------------------------------------- Q192
  /** SimHash HAMMING-distance join — the crawl-dedup classic (Manku's
    * pigeonhole blocking) that q20 stops short of: q20 emits
    * signatures, this JOINS them. 60-bit signatures (fused
    * [[graft.functions.expressions.SimHash60]] kernel, one md5 per
    * token) split into 4×15-bit blocks; any pair within hamming
    * distance 3 must agree on at least one whole block (≤3 flipped
    * bits cannot touch 4 disjoint blocks), so the candidate join is a
    * slim (block-id, block-value) equi-join — expected bucket
    * population N/2¹⁵ per block at random bits, never all-pairs — and
    * the verify is one xor+bit_count per candidate. Pair-distinct
    * after (near-identical docs agree on several blocks). The ORACLE
    * is the OTHER algorithm — quadratic self-join on SQL-recomputed
    * signatures — so agreement proves BOTH the kernel's bit-exactness
    * and the blocking's completeness. At 100 TB: signatures are 8
    * bytes/doc, the only exchange is block-keyed and slim; degenerate
    * buckets (boilerplate-dominated corpora) are the documented risk
    * and fall to the spillable SMJ path, with block count vs radius
    * the pigeonhole dial (k+1 blocks cover hamming ≤ k). */
  val q192: Q = (s, d) => {
    // (r14: spreadSmallInput before this pin measured NEGATIVE —
    // ~0.32 → ~0.71 s reference-normalized: the multi-partition
    // checkpoint floods the block self-join stages with tiny tasks,
    // the q121 lesson. Unspread.)
    val sig = graft.core.Pins.pin(
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.TextOps.simhash60Native(
            graft.functions.TextOps.tokens(col("text"))).as("sh")))
    val blocks = sig
      .select(col("doc_id"), col("sh"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("bv", expr("shiftright(sh, 15 * b) & 32767"))
    val lhs = blocks.select(col("b"), col("bv"),
      col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val rhs = blocks.select(col("b"), col("bv"),
      col("doc_id").as("b_id"), col("sh").as("b_sh"))
    lhs.join(rhs, Seq("b", "bv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        expr("bit_count(a_sh ^ b_sh)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  val q192Sql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |hx AS (SELECT doc_id, md5(t) AS h FROM tok),
      |bits AS (SELECT doc_id, k,
      |           sum((((strpos('0123456789abcdef', substr(h, k // 4 + 1, 1)) - 1)
      |                 >> (k % 4)) & 1) * 2 - 1) AS v
      |         FROM hx CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS k) ks
      |         GROUP BY 1, 2),
      |sig AS (SELECT doc_id,
      |          CAST(sum(CASE WHEN v > 0 THEN CAST(2 ** k AS BIGINT) ELSE 0 END)
      |               AS BIGINT) AS sh
      |        FROM bits GROUP BY 1)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sh, b.sh)) <= 3
      |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------------- Q200
  /** DBSCAN density clustering over quantized embeddings — the
    * density-based sibling of the centroid family (q30 IVF / q95
    * nearest-centroid): core / border / noise roles plus cluster
    * labels, EXACTLY. The float-threshold trap is dodged up front:
    * vectors quantize once to integers (round(x·1000), the global-grid
    * version of q82's per-vector scheme), so the ε-ball membership
    * test Σ(aᵢ−bᵢ)² ≤ ε² is pure BIGINT arithmetic that cannot
    * bit-diverge engines. The ε-graph comes from
    * [[graft.operators.SimilarityJoin.sqDistPairs]] (tiled exact
    * kernel with ε²-early-exit — the verify-tier discipline: at
    * production scale IVF/LSH candidates feed it instead of the full
    * cross); cores are degree ≥ minPts−1 (self counts), cluster
    * labels are [[graft.operators.DedupClusters.connectedComponents]]
    * min-labels over the CORE-CORE subgraph (singleton cores keep
    * their own id), and borders take the MIN core-neighbor cluster —
    * the deterministic resolution of textbook DBSCAN's
    * order-dependent border tie. The ORACLE re-derives everything
    * relationally: quadratic ε-join + WITH RECURSIVE reachability
    * closure — an independent mechanism for both the graph and the
    * components. ε² = 1.3·10⁶, minPts = 4 (dials documented; at
    * sf0.01: 48 cores / 19 clusters / 87 border / 365 noise). */
  val q200: Q = (s, d) => {
    import s.implicits._
    val eps2 = 1300000L
    val minPts = 4
    // r14: no pin on qv — its two consumers (the kernel input and the
    // final vec_id spine) each re-run a scan-local projection, cheaper
    // than a checkpoint job at any corpus size (the q266 no-pin rule)
    val qv = t(s, d, "embeddings").select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => round(x.cast("double") * 1000).cast("long")).as("v"))
    // the ε-graph stays on the exact tiled kernel DELIBERATELY: the
    // recall-lossless ball-cover prune exists
    // ([[graft.operators.SimilarityJoin.sqDistPairsPruned]],
    // spec-proven equal) but was MEASURED useless on this corpus —
    // 64-dim distances concentrate just above ε (median pair d² =
    // 2.0·10⁶ vs ε² = 1.3·10⁶, 1st percentile 1.43·10⁶), so every
    // vector probes every cell at any anchor count and the join
    // materializes all-pairs without the tile loop's early exit
    // (15.8 s vs 4.9 s benched). PLANS.md has the full negative
    // result; the prune is the right dial only where the cover holds
    // (clustered / lower-dim data)
    val edges = graft.core.Pins.pin(
      graft.operators.SimilarityJoin.sqDistPairs(
        qv.as[(Long, Array[Long])], eps2))
    // r14: no pin on sym either — it is a projection union over the
    // PINNED edges, so each consumer reads materialized blocks already
    val sym = edges.select(col("a_id").as("x"), col("b_id").as("y"))
      .unionByName(edges.select(col("b_id").as("x"), col("a_id").as("y")))
    // (r15 measured-negative: UNPINNING core and coreCl — letting their
    // consumers refold the pinned edges — A/B'd 2.50 → 2.62 best-of-7
    // with every rep worse: the semi-joins and the border/spine joins
    // then replan + re-execute the fold per consumer, costing more than
    // the two checkpoint jobs they replace. Both pins stay.)
    val core = graft.core.Pins.pin(
      sym.groupBy(col("x")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= minPts - 1).select(col("x")))
    val coreEdges = edges
      .join(core.withColumnRenamed("x", "a_id"), Seq("a_id"), "left_semi")
      .join(core.withColumnRenamed("x", "b_id"), Seq("b_id"), "left_semi")
    val cc = graft.operators.DedupClusters.connectedComponents(coreEdges)
      .select(col("doc_id").as("node"), col("component").as("label"))
    val coreCl = graft.core.Pins.pin(
      core.select(col("x").as("node"))
        .join(cc, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("cluster")))
    val borderCl = sym
      .join(coreCl.select(col("node").as("y"), col("cluster")), Seq("y"))
      .join(coreCl.select(col("node").as("x")), Seq("x"), "left_anti")
      .groupBy(col("x")).agg(min(col("cluster")).as("cluster"))
    qv.select(col("vec_id"))
      .join(coreCl.select(col("node").as("vec_id"),
        col("cluster").as("c_core")), Seq("vec_id"), "left")
      .join(borderCl.select(col("x").as("vec_id"),
        col("cluster").as("c_border")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("c_core").isNotNull, lit("core"))
          .when(col("c_border").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("c_core"), col("c_border")).as("cluster"))
      .orderBy(col("vec_id"))
  }

  val q200Sql: String =
    """WITH RECURSIVE q AS (SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |  FROM embeddings),
      |ed AS (SELECT a.vec_id a, b.vec_id b
      |       FROM q a JOIN q b ON a.vec_id < b.vec_id
      |       WHERE list_sum(list_transform(range(1, 65),
      |               i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))) <= 1300000),
      |sym AS (SELECT a x, b y FROM ed UNION ALL SELECT b, a FROM ed),
      |deg AS (SELECT x, count(*) c FROM sym GROUP BY 1),
      |core AS (SELECT x FROM deg WHERE c >= 3),
      |ce AS (SELECT s.x a, s.y b FROM sym s
      |       JOIN core c1 ON s.x = c1.x JOIN core c2 ON s.y = c2.x),
      |reach AS (SELECT x AS node, x AS root FROM core
      |          UNION
      |          SELECT ce.b, r.root FROM reach r JOIN ce ON ce.a = r.node),
      |lab AS (SELECT node, min(root) cl FROM reach GROUP BY 1),
      |border AS (SELECT s.x, min(l.cl) cl FROM sym s JOIN lab l ON s.y = l.node
      |           WHERE s.x NOT IN (SELECT x FROM core) GROUP BY s.x)
      |SELECT q.vec_id,
      |       CASE WHEN lab.node IS NOT NULL THEN 'core'
      |            WHEN border.x IS NOT NULL THEN 'border'
      |            ELSE 'noise' END AS role,
      |       coalesce(lab.cl, border.cl) AS cluster
      |FROM q LEFT JOIN lab ON q.vec_id = lab.node
      |       LEFT JOIN border ON q.vec_id = border.x
      |ORDER BY vec_id""".stripMargin

  val q80Sql: String =
    """WITH v AS (SELECT DISTINCT c_name AS t FROM customer WHERE c_name IS NOT NULL),
      |dels AS (SELECT t, unnest(generate_series(1, length(t))) AS i FROM v),
      |keys AS (
      |  SELECT t, t AS k FROM v
      |  UNION ALL
      |  SELECT t, substr(t, 1, i-1) || substr(t, i+1) AS k FROM dels
      |),
      |cand AS (SELECT DISTINCT a.t AS a_name, b.t AS b_name
      |         FROM keys a JOIN keys b ON a.k = b.k AND a.t < b.t)
      |SELECT a_name, b_name FROM cand
      |WHERE levenshtein(a_name, b_name) = 1
      |ORDER BY a_name, b_name""".stripMargin

  // --------------------------------------------------------------- Q81
  /** Overlapping context chunks (RAG / training-window prep): each
    * document splits into 64-token windows at stride 48 (16-token
    * overlap), emitting a chunk manifest. q56 PACKS documents into
    * fixed budgets; this SPLITS long documents into overlapping windows
    * — together the two training-layout shapes. Scan-local: one explode
    * of a per-row chunk-index sequence, `slice` materializes each
    * window, no shuffle before the output sort — chunks any corpus size
    * in one pass.
    *
    * Last chunk id is `max(0, ceil((n−C)/S))`: the naive
    * `floor((n−1)/S)` bound emits a final window FULLY CONTAINED in its
    * predecessor for ~a third of lengths (e.g. n=100 → a third chunk
    * covering 97..100 ⊂ 49..100), double-counting training data; the
    * ceil bound still covers every token (S·ceil((n−C)/S) ≥ n−C ⇒
    * last start + C ≥ n). */
  val q81: Q = (s, d) => {
    val C = 64
    val S = 48
    val tn = t(s, d, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk"))).filter(col("n") > 0)
    tn.select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0L),
          greatest(lit(0L),
            ceil((col("n") - C) / lit(S.toDouble)).cast("long")))).as("chunk_id"))
      .withColumn("chunk",
        slice(col("tk"), (col("chunk_id") * S).cast("int") + 1, lit(C)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        element_at(col("chunk"), 1).as("first_token"),
        element_at(col("chunk"), size(col("chunk"))).as("last_token"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val q81Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |tn AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
      |ch AS (SELECT doc_id, tk, n,
      |         unnest(generate_series(0,
      |           greatest(0, CAST(ceil((n - 64) / 48.0) AS BIGINT)))) AS chunk_id FROM tn),
      |cc AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |         tk[chunk_id*48+1 : least(chunk_id*48+64, n)] AS chunk FROM ch)
      |SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS n_tokens,
      |       chunk[1] AS first_token, chunk[len(chunk)] AS last_token
      |FROM cc ORDER BY doc_id, chunk_id""".stripMargin

  // --------------------------------------------------------------- Q82
  /** Scalar (int8) quantization — PQ's simpler sibling: per-vector
    * max-abs scale, each element rounds to one signed byte (8× memory
    * vs float32, 1/8 the scan bytes for coarse filtering), with the
    * reconstruction cosine as the fidelity audit. Fully scan-local
    * (one projection, no shuffle before the output sort); at scale the
    * (codes, scale) pair is the stored column and full-precision
    * vectors stay cold until rerank, exactly like q74's codes. All
    * arithmetic mirrors the oracle op for op (identical IEEE divisions
    * and round-half-away, the q30/q75 contract). The audit is the max
    * absolute element error — ≈ scale/254 by construction (the
    * reconstruction cosine is degenerate: it rounds to 1.0000 at 4 dp
    * for every 64-dim vector). */
  val q82: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    e.withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .filter(col("mx") > 0)
      // per-element |x − dequant(quant(x))|, code recomputed in place so
      // no zip of two arrays is needed
      .withColumn("err", transform(col("v"), x =>
        abs(x - round(x / col("mx") * 127, 0).cast("int") * col("mx") / lit(127))))
      .select(col("vec_id"), round(col("mx"), 6).as("scale"),
        round(array_max(col("err")), 6).as("err_max"))
      .orderBy(col("vec_id"))
  }

  val q82Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (SELECT vec_id, v,
      |        list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx FROM e),
      |r AS (SELECT vec_id, mx,
      |        list_transform(v, x ->
      |          abs(x - CAST(round(x / mx * 127) AS INT) * mx / 127)) AS err
      |      FROM s WHERE mx > 0)
      |SELECT vec_id, round(mx, 6) AS scale,
      |       round(list_aggregate(err, 'max'), 6) AS err_max
      |FROM r ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- Q83
  /** Multimodal near-dup — the image column joining the dedup family as
    * a first-class query: opaque image payloads → codec features →
    * cosine-LSH near-dup pairs (q50's contract over pixels instead of
    * embeddings).
    *
    * The image corpus is synthesized DETERMINISTICALLY from the
    * embeddings table — pixel i of an 8×8 gray BMP is the 8-bit
    * quantization of dimension i — so the fixture needs no binary
    * files, near embeddings yield near images, and the oracle can
    * replay the arithmetic. The Spark side runs the REAL multimodal
    * path end to end: [[graft.multimodal.RawCodec.writeBmp]] encode →
    * sniff/probe ([[graft.multimodal.MediaOps.decode]]) → BMP pixel
    * decode → pooled-gray features ([[graft.multimodal.MediaOps.extractFeatures]];
    * 64 pixels into 64 buckets makes the pooling exactly invertible:
    * feature_i = pv_i/255·2−1) → [[VectorOps.cosineNearDupLsh]]. The
    * oracle replays quantize → feature → sign-bucket → cosine as SQL
    * over the same table (identical IEEE ops, the q30/q75 contract).
    *
    * Scale shape = q50's: the codec stages are scan-local
    * mapPartitions (payload bytes never shuffle); the only exchange is
    * the LSH bucket join on slim (bucket, id, feature) rows. */
  /** Image features are an INGEST-TIME artifact exactly like the q74 PQ
    * codes: production extracts once and stores the feature column, and
    * every dedup/search run reads it. Memoized (localCheckpoint) so the
    * self-join's two sides read the stored features instead of running
    * the codec subtree twice per query. */
  private val mediaFeatures = new BoundedModelCache[DataFrame](releaseCheckpoint)
  def clearMediaFeatures(): Unit = mediaFeatures.clear()
  private def mediaFeaturesFor(s: SparkSession, d: String): DataFrame =
    mediaFeatures.getOrTrain((s, d, 64)) {
      import s.implicits._
      val imgs = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])]
        .map { case (id, e) =>
          val px = e.padTo(64, 0f).take(64).map { x =>
            val q = math.floor((x.toDouble + 1.0) * 127.5).toLong
            val v = math.max(0L, math.min(255L, q)).toInt
            (v << 16) | (v << 8) | v
          }.toArray
          (id, "bmp", graft.multimodal.RawCodec.writeBmp(8, 8, px))
        }
      graft.multimodal.MediaOps.extractFeatures(
          graft.multimodal.MediaOps.decode(imgs), dim = 64)
        .toDF().select(col("mediaId").as("vec_id"), col("feature"))
        .localCheckpoint()
    }

  val q83: Q = (s, d) =>
    VectorOps.cosineNearDupLsh(mediaFeaturesFor(s, d),
      "vec_id", "feature", nBits = 4, minSim = 0.35)
      .orderBy(col("a_id"), col("b_id"))

  val q83Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |px AS (SELECT vec_id, v, unnest(generate_series(1, 64)) AS i FROM e),
      |q AS (SELECT vec_id, i,
      |        GREATEST(0, LEAST(255, CAST(floor((v[i] + 1.0) * 127.5) AS BIGINT))) AS pv
      |      FROM px),
      |f AS (SELECT vec_id,
      |        list(CAST(pv / 255.0 * 2.0 - 1.0 AS REAL) ORDER BY i) AS fv
      |      FROM q GROUP BY vec_id),
      |fd AS (SELECT vec_id, CAST(fv AS DOUBLE[]) AS v FROM f),
      |b AS (SELECT vec_id, v,
      |        CAST(list_sum(list_transform(generate_series(1, 4),
      |               i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bkt
      |      FROM fd)
      |SELECT a.vec_id AS a_id, b2.vec_id AS b_id,
      |       round(list_inner_product(a.v, b2.v)
      |             / (sqrt(list_inner_product(a.v, a.v))
      |                * sqrt(list_inner_product(b2.v, b2.v))), 4) AS sim
      |FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id
      |WHERE round(list_inner_product(a.v, b2.v)
      |            / (sqrt(list_inner_product(a.v, a.v))
      |               * sqrt(list_inner_product(b2.v, b2.v))), 4) >= 0.35
      |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------------- Q84
  /** Bloom-prefiltered incremental exact dedup
    * ([[graft.operators.BloomDedup]]): an ingest batch (re-crawls
    * included) against the stored corpus's content-hash set, where the
    * stored set is — at scale — too big to broadcast exactly but fits
    * as a ~GB bloom sketch. Bloom-negative rows are definitively new
    * and NEVER shuffle (the no-false-negative contract); only the
    * bloom-positive sliver (true re-crawls + fpp·batch) reaches the
    * exact confirm anti-join, so the result is exact and the oracle is
    * the plain NOT EXISTS. The 10⁹-key regime where this beats both a
    * broadcast hash set (OOM) and a full two-sided shuffle (the q04
    * shape's scale wall) is the design point; see BloomDedup's scaladoc
    * for the scan-twice-never-shuffle trade.
    *
    * The sketch is a stored ingest-time artifact (partial-aggregable,
    * incrementally maintained), memoized here like the IVF/PQ models. */
  private val bloomSketches = new BoundedModelCache[Array[Byte]]
  def clearBloomSketches(): Unit = bloomSketches.clear()
  private def storedHashes(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").filter(col("doc_id") % 3 =!= 0)
      .select(md5(col("text")).as("h"))
  private def bloomFor(s: SparkSession, d: String): Array[Byte] =
    bloomSketches.getOrTrain((s, d, 0)) {
      // persist so sizing (count) and building share ONE scan of the
      // stored keys — production maintains the cardinality as ingest
      // metadata and never recounts
      val stored = storedHashes(s, d).persist()
      try graft.operators.BloomDedup.buildBloom(
        stored, "h", expectedN = stored.count(), fpp = 0.03)
      finally stored.unpersist()
    }

  val q84: Q = (s, d) => {
    val batch = t(s, d, "documents")
      .filter(col("doc_id") % 3 === 0 || col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("text")).as("h"))
    graft.operators.BloomDedup.newKeys(
        batch, storedHashes(s, d), "h", bloomFor(s, d))
      .orderBy(col("doc_id"))
  }

  val q84Sql: String =
    """SELECT doc_id, lang, source, md5(text) AS h
      |FROM documents b
      |WHERE (doc_id % 3 = 0 OR doc_id % 7 = 0)
      |  AND NOT EXISTS (SELECT 1 FROM documents s
      |                  WHERE s.doc_id % 3 <> 0 AND md5(s.text) = md5(b.text))
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q85
  /** Trained linear classifier filter
    * ([[graft.functions.LinearClassifier]]): a batch perceptron over the
    * embedding features predicting the coarse label split (y = +1 for
    * label < 5), then the confusion matrix + exact integer margin mass
    * under the trained weights — the classifier-gate stage of a
    * data-curation pipeline, with TRAINING ITSELF replayed by the
    * oracle (3 unrolled rounds, like the q30 k-means / q72 BPE CTEs).
    * Everything is integer arithmetic (floor-quantized features,
    * weights in ℤ), so no float-summation order can flip a margin
    * cross-engine. Training = 3 partial-aggregable full scans with
    * model-sized (65-int) driver state; scoring is scan-local against
    * weight literals. */
  private val perceptrons = new BoundedModelCache[LinearClassifier.Model]
  def clearPerceptrons(): Unit = perceptrons.clear()
  private def classifierBase(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(col("vec_id"),
      LinearClassifier.quantize(col("embedding"), 1000).as("x"),
      when(col("label") < 5, 1L).otherwise(-1L).as("y"))
  private def perceptronFor(s: SparkSession, d: String): LinearClassifier.Model =
    perceptrons.getOrTrain((s, d, 3))(
      LinearClassifier.train(classifierBase(s, d), "x", "y", dim = 64, rounds = 3))

  val q85: Q = (s, d) => {
    val model = perceptronFor(s, d)
    val raw = LinearClassifier.rawScore(col("x"), model)
    classifierBase(s, d)
      .withColumn("pred", when(raw > 0, 1L).otherwise(-1L))
      .withColumn("margin", col("y") * raw)
      .groupBy(col("y"), col("pred"))
      .agg(count(lit(1)).as("n"), sum(col("margin")).as("sum_margin"))
      .orderBy(col("y"), col("pred"))
  }

  /** Shared oracle prelude: replay the 3 perceptron training rounds and
    * end at `sc(vec_id, y, score)` — the raw score of every row under
    * the trained weights. q85 folds it to the confusion matrix; q169
    * buckets it into the calibration curve. */
  private def perceptronSqlPrelude: String = {
    // round t: margins under w_t (d<t>/m<t>), update → w_{t+1}/b_{t+1}
    def round(t: Int): String =
      s"""d$t AS (SELECT q.vec_id, SUM(w$t.w * q.x[w$t.i]) AS dot
         |       FROM q CROSS JOIN w$t GROUP BY q.vec_id),
         |m$t AS (SELECT q.vec_id, q.x, q.y,
         |         q.y * (d$t.dot + (SELECT b FROM b$t)) AS margin
         |       FROM q JOIN d$t USING (vec_id)),
         |w${t + 1} AS (SELECT w$t.i AS i, w$t.w + COALESCE(SUM(CASE WHEN m$t.margin <= 0
         |         THEN m$t.y * m$t.x[w$t.i] END), 0) AS w
         |       FROM w$t CROSS JOIN m$t GROUP BY w$t.i, w$t.w),
         |b${t + 1} AS (SELECT (SELECT b FROM b$t)
         |         + COALESCE(SUM(CASE WHEN margin <= 0 THEN y END), 0) AS b
         |       FROM m$t),""".stripMargin
    s"""WITH q AS (SELECT vec_id,
       |        list_transform(CAST(embedding AS DOUBLE[]),
       |                       e -> CAST(floor(e * 1000) AS BIGINT)) AS x,
       |        CAST(CASE WHEN label < 5 THEN 1 ELSE -1 END AS BIGINT) AS y
       |      FROM embeddings),
       |idx AS (SELECT unnest(generate_series(1, 64)) AS i),
       |-- w0 = 0, b0 = 0: every margin is 0 <= 0, round 1 sums all rows
       |w1 AS (SELECT i.i AS i, SUM(q.y * q.x[i.i]) AS w
       |       FROM idx i CROSS JOIN q GROUP BY i.i),
       |b1 AS (SELECT SUM(y) AS b FROM q),
       |${round(1)}
       |${round(2)}
       |df AS (SELECT q.vec_id, SUM(w3.w * q.x[w3.i]) AS dot
       |       FROM q CROSS JOIN w3 GROUP BY q.vec_id),
       |sc AS (SELECT q.vec_id, q.y,
       |         CAST(df.dot + (SELECT b FROM b3) AS BIGINT) AS score
       |       FROM q JOIN df USING (vec_id))""".stripMargin
  }

  val q85Sql: String =
    perceptronSqlPrelude + ",\n" +
      """f AS (SELECT y,
        |        CAST(CASE WHEN score > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
        |        y * score AS margin
        |      FROM sc)
        |SELECT y, pred, COUNT(*) AS n, CAST(SUM(margin) AS BIGINT) AS sum_margin
        |FROM f GROUP BY y, pred ORDER BY y, pred""".stripMargin

  // --------------------------------------------------------------- Q169
  /** Classifier CALIBRATION curve — q85's eval sibling: a confusion
    * matrix says the gate is right on average; the reliability curve
    * says whether the SCORE is meaningful as a threshold dial (a gate
    * whose positive rate doesn't rise with the score can't be tuned).
    * Raw scores bucket into 10 equal-width bins with ALL-INTEGER edges
    * (the q161 discipline — scores are exact integers under the
    * quantized perceptron, so bin = min(9, 10·(s−lo) div span) is
    * engine-identical), and the per-bin positive rate travels as exact
    * ppm (10⁶·n_pos div n). One partial-aggregable scan against the
    * memoized model's weight literals + a broadcast bounds pass; the
    * oracle replays all three training rounds (shared prelude with
    * q85) and the bucketing arithmetic. A production gate re-runs this
    * after every retrain — monotone pos_ppm across bins is the
    * deploy check. */
  val q169: Q = (s, d) => {
    val model = perceptronFor(s, d)
    val raw = LinearClassifier.rawScore(col("x"), model)
    val scored = graft.core.Pins.pin(
      classifierBase(s, d).select(col("y"), raw.as("score")))
    val b = scored.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    scored.crossJoin(broadcast(b))
      .withColumn("bucket",
        expr("least(9, (10 * (score - lo)) div greatest(1, hi - lo))"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
        min(col("score")).as("lo_score"), max(col("score")).as("hi_score"))
      .withColumn("pos_ppm", expr("(1000000 * n_pos) div n"))
      .select(col("bucket"), col("n"), col("n_pos"), col("pos_ppm"),
        col("lo_score"), col("hi_score"))
      .orderBy(col("bucket"))
  }

  val q169Sql: String =
    perceptronSqlPrelude + ",\n" +
      """bnd AS (SELECT min(score) AS lo, max(score) AS hi FROM sc),
        |bk AS (SELECT least(9, (10 * (score - lo)) // greatest(1, hi - lo)) AS bucket,
        |         y, score
        |       FROM sc CROSS JOIN bnd)
        |SELECT bucket, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  (1000000 * CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT))
        |    // COUNT(*) AS pos_ppm,
        |  min(score) AS lo_score, max(score) AS hi_score
        |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- Q86
  /** Numeric-distribution drift — the quantitative sibling of q68's
    * categorical PSI: the first day's exact quartile BREAKPOINTS bucket
    * every later day's `value` distribution, and each day scores
    * PSI = Σ (p−q)·ln(p/q) against the reference shares. The drift
    * alarm a pipeline runs on score/length/loss columns, where event
    * types don't exist and buckets must come from the data.
    *
    * Breakpoints are DISCRETE k-th-smallest order statistics (k =
    * ⌈q·n⌉), NOT interpolated percentiles: an interpolated breakpoint
    * is computed `(1−f)·x₀ + f·x₁` in one engine and `x₀ + f·(x₁−x₀)`
    * in another, and a last-ulp difference feeds a COMPARISON, flipping
    * a row's bucket and the exact-match hash with it. A k-th order
    * statistic is an actual stored double — bit-identical everywhere
    * (the q25 floor-truncation lesson applied to thresholds).
    *
    * Scale: the corpus-side work is one partial-aggregable
    * (day, bucket) count; breakpoints sort ONE reference day (swap in
    * q71's mergeable sketch when a day outgrows a sort); everything
    * downstream is days×4 rows. */
  val q86: Q = (s, d) => {
    val ev = t(s, d, "events").select(to_date(col("ts")).as("day"), col("value"))
    val ref = ev.agg(min(col("day")).as("ref_day"))
    val refRanked = ev.join(broadcast(ref), col("day") === col("ref_day"))
      .select(col("value"),
        row_number().over(Window.orderBy(col("value"))).as("rn"),
        count(lit(1)).over(Window.partitionBy()).as("n"))
    def kth(q: Double) =
      max(when(col("rn") <= ceil(lit(q) * col("n")).cast("long"), col("value")))
    val bps = refRanked.agg(kth(0.25).as("b1"), kth(0.5).as("b2"), kth(0.75).as("b3"))
    val counts = ev.crossJoin(broadcast(bps))
      .select(col("day"),
        ((col("value") > col("b1")).cast("long") +
          (col("value") > col("b2")).cast("long") +
          (col("value") > col("b3")).cast("long")).as("bkt"))
      .groupBy(col("day"), col("bkt")).agg(count(lit(1)).as("c"))
    // counts is days×4 rows — model-sized — so ref day and ref shares
    // come from WINDOWS over it instead of a self-join: referencing the
    // relation twice would re-execute its whole subtree and re-scan
    // events per branch (the scan-count ratchet caught the join form at
    // 8 scans; this form holds at 3: ev + the two breakpoint-training
    // scans)
    val scored = counts
      .withColumn("p",
        col("c").cast("double") / sum(col("c")).over(Window.partitionBy(col("day"))))
      .withColumn("ref_day", min(col("day")).over(Window.partitionBy()))
      .withColumn("q",
        max(when(col("day") === col("ref_day"), col("p")))
          .over(Window.partitionBy(col("bkt"))))
    scored.filter(col("day") =!= col("ref_day") && col("q").isNotNull)
      .groupBy(col("day"))
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 4).as("psi"),
        count(lit(1)).as("n_buckets"))
      .orderBy(col("day"))
  }

  val q86Sql: String =
    """WITH ev AS (SELECT CAST(ts AS DATE) AS day, value FROM events),
      |ref AS (SELECT min(day) AS ref_day FROM ev),
      |rr AS (SELECT value, row_number() OVER (ORDER BY value) AS rn,
      |              count(*) OVER () AS n
      |       FROM ev, ref WHERE day = ref_day),
      |bp AS (SELECT
      |         max(CASE WHEN rn <= CAST(ceil(0.25 * n) AS BIGINT) THEN value END) AS b1,
      |         max(CASE WHEN rn <= CAST(ceil(0.5  * n) AS BIGINT) THEN value END) AS b2,
      |         max(CASE WHEN rn <= CAST(ceil(0.75 * n) AS BIGINT) THEN value END) AS b3
      |       FROM rr),
      |cnt AS (SELECT day,
      |          CAST(value > b1 AS BIGINT) + CAST(value > b2 AS BIGINT)
      |            + CAST(value > b3 AS BIGINT) AS bkt,
      |          count(*) AS c
      |        FROM ev, bp GROUP BY 1, 2),
      |p AS (SELECT day, bkt, CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY day) AS p
      |      FROM cnt),
      |refp AS (SELECT bkt, p AS q FROM p, ref WHERE day = ref_day)
      |SELECT a.day, round(sum((a.p - refp.q) * ln(a.p / refp.q)), 4) AS psi,
      |       count(*) AS n_buckets
      |FROM p a JOIN refp ON a.bkt = refp.bkt CROSS JOIN ref
      |WHERE a.day <> ref_day
      |GROUP BY a.day ORDER BY a.day""".stripMargin

  // --------------------------------------------------------------- Q87
  /** Ordered funnel conversion (view → click → purchase): how many users
    * reach each stage IN ORDER — a click only counts if it follows the
    * user's first view, a purchase only if it follows that click. The
    * three stage timestamps are cascaded conditional mins over the SAME
    * user partition, so all three Window nodes share one Exchange (no
    * per-stage re-shuffle — the plan has exactly one hash partitioning
    * on user_id followed by the model-sized global count). At 100 TB
    * the user partition is the natural key: state per user is three
    * timestamps, and the final aggregate is partial-aggregable to a
    * single row. */
  val q87: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
    val perUser = t(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("tv",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("tc",
        min(when(col("event_type") === "click" && col("ts") > col("tv"),
          col("ts"))).over(w))
      .withColumn("tp",
        min(when(col("event_type") === "purchase" && col("ts") > col("tc"),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("tv")).as("tv"), max(col("tc")).as("tc"),
        max(col("tp")).as("tp"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      count(col("tv")).as("n_view"),
      count(col("tc")).as("n_view_click"),
      count(col("tp")).as("n_full_funnel"))
  }

  val q87Sql: String =
    """WITH s1 AS (SELECT user_id, event_type, ts,
      |  min(CASE WHEN event_type = 'view' THEN ts END)
      |    OVER (PARTITION BY user_id) AS tv
      |  FROM events),
      |s2 AS (SELECT user_id, event_type, ts, tv,
      |  min(CASE WHEN event_type = 'click' AND ts > tv THEN ts END)
      |    OVER (PARTITION BY user_id) AS tc
      |  FROM s1),
      |s3 AS (SELECT user_id, tv, tc,
      |  min(CASE WHEN event_type = 'purchase' AND ts > tc THEN ts END)
      |    OVER (PARTITION BY user_id) AS tp
      |  FROM s2),
      |pu AS (SELECT user_id, max(tv) AS tv, max(tc) AS tc, max(tp) AS tp
      |       FROM s3 GROUP BY user_id)
      |SELECT count(*) AS n_users, count(tv) AS n_view,
      |       count(tc) AS n_view_click, count(tp) AS n_full_funnel
      |FROM pu""".stripMargin

  // --------------------------------------------------------------- Q88
  /** Retention cohorts: users grouped by FIRST-ACTIVE day, counted on
    * each later day they return — the (cohort, day_offset) retention
    * matrix behind every engagement dashboard. ONE shuffle on user_id
    * does all the per-user work: `collect_set(day)` is bounded by the
    * calendar (distinct active DAYS per user, not events — the map-side
    * partial agg collapses each user's events first), the cohort is
    * `array_min` of that set, and the explode back to (cohort, offset)
    * feeds a second, model-sized aggregate (days × days cells). The
    * join-free shape matters at 100 TB: the textbook form self-joins
    * the activity relation against a first-seen relation — two scans
    * and a wide join — where this is one scan and one slim shuffle. */
  val q88: Q = (s, d) => {
    val perUser = t(s, d, "events")
      .groupBy(col("user_id"))
      .agg(collect_set(to_date(col("ts"))).as("days"))
      .select(array_min(col("days")).as("cohort"), explode(col("days")).as("day"))
    perUser
      .groupBy(col("cohort"),
        datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort"), col("day_offset"))
  }

  val q88Sql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort FROM ud GROUP BY user_id)
      |SELECT cohort, CAST(day - cohort AS BIGINT) AS day_offset,
      |       count(*) AS n_users
      |FROM ud JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- Q89
  /** Bigram language-model fluency: q63's unigram score upgraded to the
    * CONDITIONAL distribution — each document's mean ln p(w₂|w₁) under
    * the corpus MLE bigram model, where p(w₂|w₁) = c(w₁w₂) / c(w₁·).
    * Bigrams come from a zip_with over the token array (occurrence-
    * preserving, scan-local — NOT the deduped LSH shingle kernel, an LM
    * needs multiplicities); the model folds to the Heaps-bounded vocab
    * map-side and broadcasts back onto the pinned occurrences (see the
    * inline note), keeping counts, model and marginal consistent by
    * construction on one tokenize pass. */
  val q89: Q = (s, d) => {
    val toks = t(s, d, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
    val bg = toks.select(col("doc_id"),
      explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
    // NO corpus-sized Exchange exists anywhere: tokenize+explode is
    // scan-local, the model fold cb(w₁w₂) = count(bg) collapses
    // map-side to the Heaps-bounded VOCAB before its exchange ships
    // (the round-8 forms keyed on (doc, bg) — near-corpus cardinality,
    // so the whole relation shuffled, then two corpus-sized window
    // sorts on top: 9.7× DuckDB, the worst ratio on the board), cu
    // folds as a vocab-sized window over cb, the model broadcasts
    // ONCE, and the per-doc score agg collapses map-side to the doc
    // count. Scoring is per OCCURRENCE (Σ_occ ln p ≡ Σ_bg k·ln p —
    // the oracle states the identical occurrence form). The pin
    // makes model + scoring read ONE tokenize pass; at 100 TB the
    // model is trained count-capped once and broadcast like the IVF
    // centroids (the q63 deployment story).
    val bgP = graft.core.Pins.pin(bg)
    val model = bgP.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
      .withColumn("cu", sum(col("cb")).over(
        Window.partitionBy(substring_index(col("bg"), " ", 1))))
    bgP.join(broadcast(model), Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(log(col("cb").cast("double") / col("cu").cast("double")))
          / count(lit(1)).cast("double"), 4).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  val q89Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bgr AS (SELECT doc_id, unnest(list_transform(
      |          generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS bg
      |        FROM toks),
      |cb AS (SELECT bg, count(*) AS cb FROM bgr GROUP BY 1),
      |cu AS (SELECT string_split(bg, ' ')[1] AS w1, sum(cb) AS cu
      |       FROM cb GROUP BY 1)
      |SELECT doc_id, count(*) AS n_bigrams,
      |       round(sum(ln(CAST(cb AS DOUBLE) / CAST(cu AS DOUBLE)))
      |             / CAST(count(*) AS DOUBLE), 4) AS avg_logp
      |FROM bgr JOIN cb USING (bg)
      |JOIN cu ON string_split(bgr.bg, ' ')[1] = cu.w1
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q90
  /** Robust outlier audit per event type: Tukey fences at Q1/Q3 ±
    * 1.5·IQR, with the quartiles as DISCRETE k-th-smallest order
    * statistics — the q86 exact-breakpoint discipline (an interpolated
    * percentile differs by an ulp across engines and feeds a comparison,
    * which would flip a flag; a discrete order statistic is a value both
    * engines hold bit-identically, and the fence arithmetic from it is
    * the same IEEE expression on both sides). All of rank, count,
    * quartiles, fences and flags ride ONE Exchange on event_type (the
    * row_number sort and the three full-partition windows share the
    * partitioning), then a group-count-sized aggregate. At 100 TB the
    * per-group sort is the cost — swap the exact quartiles for stored
    * breakpoints (q86's registry) or the q71 sketch and the query
    * becomes one partial-aggregable scan; the fence semantics are
    * unchanged. */
  val q90: Q = (s, d) => {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val wAll = Window.partitionBy(col("event_type"))
    def kth(q: Double) =
      max(when(col("rn") <= ceil(lit(q) * col("n")).cast("long"), col("value")))
        .over(wAll)
    val fenced = t(s, d, "events")
      .select(col("event_type"), col("value"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("q1", kth(0.25))
      .withColumn("q3", kth(0.75))
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * lit(1.5))
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * lit(1.5))
    fenced.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value") < col("lo")).cast("long")).as("n_low"),
        sum((col("value") > col("hi")).cast("long")).as("n_high"),
        round(max(col("lo")), 4).as("lo"),
        round(max(col("hi")), 4).as("hi"))
      .orderBy(col("event_type"))
  }

  val q90Sql: String =
    """WITH r AS (SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |b AS (SELECT event_type, value,
      |    max(CASE WHEN rn <= CAST(ceil(0.25 * n) AS BIGINT) THEN value END)
      |      OVER (PARTITION BY event_type) AS q1,
      |    max(CASE WHEN rn <= CAST(ceil(0.75 * n) AS BIGINT) THEN value END)
      |      OVER (PARTITION BY event_type) AS q3
      |  FROM r)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value < q1 - (q3 - q1) * 1.5 AS BIGINT)) AS BIGINT) AS n_low,
      |  CAST(sum(CAST(value > q3 + (q3 - q1) * 1.5 AS BIGINT)) AS BIGINT) AS n_high,
      |  round(max(q1 - (q3 - q1) * 1.5), 4) AS lo,
      |  round(max(q3 + (q3 - q1) * 1.5), 4) AS hi
      |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q91
  // NOTE: these initialize BEFORE q91Sql below (object vals run in
  // declaration order — a forward reference would read 0 and silently
  // generate an empty projection list).
  private val ProjDims = 8
  private val ProjIn = 64

  /** Deterministic ±1 from md5(j|i) parity — computed at plan build, so
    * the Spark plan and the oracle SQL embed the same literal matrix. */
  private def projSign(j: Int, i: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$j|$i".getBytes("UTF-8"))
    if ((h(0) & 1) == 0) 1 else -1
  }

  /** Johnson-Lindenstrauss random projection: 64-dim embeddings reduced
    * to 8 dims through a deterministic ±1 sign matrix (Achlioptas-style
    * database-friendly projection — signs derived from md5(j|i) parity
    * at PLAN BUILD time, so the "random" matrix is a literal and both
    * engines hold the identical one). Arithmetic is EXACT: embeddings
    * floor-quantize to integer micro-units first (the q75/q85 policy),
    * so each projected coordinate is an integer dot product whose value
    * no summation order can change — float accumulation order is
    * engine-private and would flip low bits. Scan-local, zero joins, no
    * shuffle before the output sort: at 100 TB this is the cheapening
    * step in front of
    * every quadratic-ish downstream (LSH bucketing, clustering, dedup
    * verify) — 8× fewer bytes into whatever comes next. */
  val q91: Q = (s, d) => {
    val qv = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1000000d)).cast("long"))
    val projCols = (0 until ProjDims).map { j =>
      val signs = typedLit((0 until ProjIn).map(i => projSign(j, i).toLong))
      aggregate(
        zip_with(col("qv"), signs, (x, sg) => x * sg),
        lit(0L), (acc, x) => acc + x).as(s"p$j")
    }
    t(s, d, "embeddings")
      .select(col("vec_id"), qv.as("qv"))
      .select(col("vec_id") +: projCols: _*)
      .orderBy(col("vec_id"))
  }

  val q91Sql: String = {
    val dims = (0 until ProjDims).map { j =>
      val lits = (0 until ProjIn).map(i => projSign(j, i)).mkString(", ")
      s"""CAST(list_aggregate(list_transform(generate_series(1, $ProjIn),
         |    i -> qv[i] * ([$lits])[i]), 'sum') AS BIGINT) AS p$j""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings)
       |SELECT vec_id,
       |$dims
       |FROM q ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------------------------- Q92
  /** Event-type transition matrix (first-order Markov counts): for each
    * user's time-ordered event stream, count (previous type → type)
    * pairs — the path-analysis / next-action model behind funnel
    * discovery (q87 checks ONE known path; this surfaces which paths
    * exist). One lag window over the user partition (ties broken by
    * event_id so the sequence — and therefore the counts — are total-
    * order deterministic), then a 25-cell aggregate. Same single-
    * Exchange shape as q87; the lag state is one row. */
  val q92: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev"), col("next"))
  }

  val q92Sql: String =
    """WITH seq AS (SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events)
      |SELECT prev, event_type AS next, count(*) AS n
      |FROM seq WHERE prev IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- Q93
  /** PageRank over the rare-shingle co-occurrence graph, EXACT:
    * documents are linked when they share a word 5-gram with corpus
    * df ≤ 3 (the co-citation signal — a rare shared passage implies
    * relatedness, and the df cap BOUNDS the per-shingle fan-out at 3
    * pairs, so the graph build has no quadratic term by construction:
    * the standard trick that makes co-occurrence graphs feasible at
    * 100 TB, where a frequent key would otherwise emit |df|² pairs;
    * single TERMS are useless as keys here and at web scale alike —
    * common words have df ≈ N). Three power
    * iterations with d = 0.85 run entirely in integer micro-units —
    * per-edge contribution is `p div deg` and the damping update is
    * `(15e6 + 85·Σ) div 100`, all positive integer division, so both
    * engines land on bit-identical ranks (float PageRank differs in
    * summation order by design). The edge+degree relation is built
    * once and localCheckpoint-pinned (the q52 iteration discipline —
    * without it every iteration replans the graph derivation and the
    * scan count multiplies); each iteration is one equi-join + one
    * partial-aggregable sum, the classic Pregel-as-dataflow shape.
    * Oracle replays all three iterations as unrolled CTEs. */
  /** Doc pairs co-occurring under a rare (df ≤ cap) shingle, emitted
    * STRAIGHT from the df groupBy: collect the ≤ cap doc ids per
    * shingle and unfold ordered pairs from the array scan-locally.
    * One exchange total — the join-based form (count df, join the
    * rare set back to the corpus, self-join) re-counted df per join
    * leg and broadcast the rare set, which at corpus SFs where most
    * shingles are unique is millions of rows. Shared by the graph
    * family (q93/q99) and the positional dedup (q100). Input must be
    * per-doc-distinct (doc_id, sg) rows; output columns (s, t),
    * s < t, distinct. */
  private def rareCooccurrencePairs(dsh: DataFrame, cap: Int): DataFrame =
    dsh.groupBy(col("sg")).agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")).between(2, cap))
      .select(explode(expr("flatten(transform(ds, x -> filter(transform(ds, " +
        "y -> struct(x AS s, y AS t)), p -> p.s < p.t)))")).as("p"))
      .select(col("p.s"), col("p.t")).distinct()

  /** The co-occurrence pair list is the graph family's STORED ingest
    * artifact — q93 (PageRank), q99 (triangles) and q100 (dup spans)
    * all consume the SAME (s, t) relation, and a production pipeline
    * materializes the dup-graph edge list once beside the corpus (the
    * q62-index / q74-codes policy), not once per analysis. Memoized +
    * checkpointed per (session, dir, cap); released on eviction. */
  private val coocPairs = new BoundedModelCache[DataFrame](releaseCheckpoint)
  def clearCoocPairs(): Unit = coocPairs.clear()
  private def coocPairsFor(s: SparkSession, d: String, cap: Int): DataFrame =
    coocPairs.getOrTrain((s, d, cap)) {
      val dsh = t(s, d, "documents").select(col("doc_id"),
        explode(TextOps.shinglesNative(col("text"), 5)).as("sg"))
      rareCooccurrencePairs(dsh, cap).localCheckpoint()
    }

  val q93: Q = (s, d) => {
    val pairs = coocPairsFor(s, d, 3)
    // ONE pinned symmetric edge list; degrees, the join relation and
    // the initial ranks all derive from it (nothing downstream of the
    // checkpoint re-plans the graph build, which itself reads the
    // memoized stored-edge artifact)
    val edges = graft.core.Pins.pin(pairs
      .union(pairs.select(col("t").as("s"), col("s").as("t"))))
    val deg = edges.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, "s")
    var p = deg.select(col("s").as("node"), lit(1000000L).as("p"))
    for (_ <- 1 to 3) {
      p = ed.join(p, col("s") === col("node"))
        .select(col("t"), expr("p div deg").as("c"))
        .groupBy(col("t")).agg(sum(col("c")).as("csum"))
        .select(col("t").as("node"),
          expr("(15000000 + 85 * csum) div 100").as("p"))
    }
    p.select(col("node").as("doc_id"), col("p").as("rank_ppm"))
      .orderBy(col("rank_ppm").desc, col("doc_id")).limit(20)
  }

  val q93Sql: String = {
    val iters = (1 to 3).map { k =>
      s"""c$k AS (SELECT e.t AS node, sum(p.p // e.deg) AS csum
         |       FROM ed e JOIN p${k - 1} p ON e.s = p.node GROUP BY e.t),
         |p$k AS (SELECT node, (15000000 + 85 * csum) // 100 AS p FROM c$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |         generate_series(1, len(t) - 4),
       |         i -> array_to_string(t[i:i+4], ' ')))) AS sg
       |       FROM toks),
       |rare AS (SELECT sg FROM sh GROUP BY sg HAVING count(*) <= 3),
       |half AS (SELECT sh.sg, sh.doc_id FROM sh JOIN rare USING (sg)),
       |pairs AS (SELECT DISTINCT a.doc_id AS s, b.doc_id AS t
       |          FROM half a JOIN half b USING (sg)
       |          WHERE a.doc_id < b.doc_id),
       |edges AS (SELECT s, t FROM pairs UNION ALL SELECT t AS s, s AS t FROM pairs),
       |deg AS (SELECT s, count(*) AS deg FROM edges GROUP BY s),
       |ed AS (SELECT e.s, e.t, d.deg FROM edges e JOIN deg d USING (s)),
       |p0 AS (SELECT s AS node, CAST(1000000 AS BIGINT) AS p FROM deg),
       |$iters
       |SELECT node AS doc_id, CAST(p AS BIGINT) AS rank_ppm
       |FROM p3 ORDER BY rank_ppm DESC, doc_id LIMIT 20""".stripMargin
  }

  // --------------------------------------------------------------- Q94
  /** Trailing 7-day active users per day (the WAU curve): each distinct
    * (user, active-day) fans out to the ≤ 7 report days it counts
    * toward, and the per-day tally is then ONE count over distinct
    * (user, report-day) — the bounded-fan-out rewrite of sliding-window
    * COUNT DISTINCT. The naive forms both die at scale: a range
    * self-join (day BETWEEN d−6 AND d) replans as a near-cross-join,
    * and a 7-day window frame can't do DISTINCT at all. Here the
    * explode factor is a CONSTANT 7 on the already-collapsed user-day
    * relation (events first shrink to user-days via one distinct — at
    * 100 TB that's the big reduction, events ≫ user-days), and
    * everything after is partial-aggregable. Report days past the
    * observed horizon are clipped against the broadcast max-day so the
    * curve ends where the data does. */
  val q94: Q = (s, d) => {
    val ud = t(s, d, "events")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val horizon = ud.agg(max(col("day")).as("max_day"))
    ud.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day_w"))
      .distinct()
      .crossJoin(broadcast(horizon))
      .filter(col("day_w") <= col("max_day"))
      .groupBy(col("day_w").as("day"))
      .agg(count(lit(1)).as("wau"))
      .orderBy(col("day"))
  }

  val q94Sql: String =
    """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |f AS (SELECT DISTINCT user_id, day + CAST(x AS INTEGER) AS day_w
      |      FROM ud CROSS JOIN generate_series(0, 6) t(x)),
      |h AS (SELECT max(day) AS max_day FROM ud)
      |SELECT day_w AS day, count(*) AS wau
      |FROM f CROSS JOIN h WHERE day_w <= max_day
      |GROUP BY day_w ORDER BY day_w""".stripMargin

  // --------------------------------------------------------------- Q95
  /** Nearest-centroid classification over the embeddings — the
    * vector-side sibling of q85's text perceptron: per-label integer
    * centroids (micro-unit quantized vectors, per-dimension `sum div
    * count` — both engines TRUNCATE integer division toward zero, so
    * negative-coordinate centroids agree bit-for-bit), every vector
    * assigned to its squared-L2-nearest centroid (exact integer
    * arithmetic, ≤ 64·(2e6)² per term — no float distance can disagree),
    * ties broken by label id, and the confusion matrix as output. The
    * centroid relation is label-count-sized and BROADCASTS like the IVF
    * model; assignment is one scan × 10 candidate rows with the
    * distance folded into the join projection — at 100 TB this is one
    * pass over stored quantized vectors, the same deployment shape as
    * q30/q74. The 64 per-dimension sums ride ONE partial-aggregable
    * groupBy (map-side combine reduces every partition to 10 rows). */
  /** Per-label integer centroids, memoized like q85's perceptron (the
    * trained artifact policy): label-count × dim longs collect to the
    * driver once per (session, dir) and every scoring run broadcasts a
    * LocalRelation instead of re-running the training aggregate. */
  private val centroidModels = new BoundedModelCache[Seq[(Long, Seq[Long])]]
  def clearCentroidModels(): Unit = centroidModels.clear()
  private def q95Vecs(s: SparkSession, d: String): DataFrame = {
    val qv = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1000000d)).cast("long"))
    t(s, d, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"), qv.as("qv"))
  }
  private def centroidsFor(s: SparkSession, d: String): DataFrame = {
    val rows = centroidModels.getOrTrain((s, d, 64)) {
      q95Vecs(s, d).groupBy(col("label"))
        .agg(array((0 until 64).map(i => sum(element_at(col("qv"), i + 1))): _*)
          .as("sv"), count(lit(1)).as("n"))
        .select(col("label"),
          expr("transform(sv, sx -> CAST(sx div n AS BIGINT))").as("cv"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
    }
    import s.implicits._
    s.createDataset(rows).toDF("clabel", "cv")
      .select(col("clabel"), col("cv").cast("array<bigint>").as("cv"))
  }

  val q95: Q = (s, d) => {
    val vecs = q95Vecs(s, d)
    val scored = vecs.crossJoin(broadcast(centroidsFor(s, d)))
      .select(col("vec_id"), col("label"), col("clabel"),
        VectorOps.sqDistLong(col("qv"), col("cv")).as("dist"))
    scored.groupBy(col("vec_id"), col("label"))
      .agg(min_by(col("clabel"), struct(col("dist"), col("clabel"))).as("pred"))
      .groupBy(col("label").as("true_label"), col("pred").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  val q95Sql: String =
    """WITH q AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |e AS (SELECT vec_id, label, i, qv[i] AS x
      |      FROM q CROSS JOIN generate_series(1, 64) t(i)),
      |c AS (SELECT label AS clabel, i, CAST(sum(x) // count(*) AS BIGINT) AS cx
      |      FROM e GROUP BY 1, 2),
      |dist AS (SELECT e.vec_id, e.label, c.clabel,
      |           sum((e.x - c.cx) * (e.x - c.cx)) AS dd
      |         FROM e JOIN c USING (i) GROUP BY 1, 2, 3),
      |p AS (SELECT vec_id, label, clabel,
      |        row_number() OVER (PARTITION BY vec_id ORDER BY dd, clabel) AS rn
      |      FROM dist)
      |SELECT label AS true_label, clabel AS pred_label, count(*) AS n
      |FROM p WHERE rn = 1
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- Q96
  /** Audio features through the REAL WAV codec path — the audio column
    * joining q83's image story: payloads synthesized deterministically
    * from the embeddings table (sample i = int16 quantization of
    * dimension i, [[graft.multimodal.RawCodec.writeWav]] at 8 kHz) run
    * encode → sniff/probe ([[graft.multimodal.MediaOps.decode]] reads
    * the duration OFF THE BYTES, fmt-chunk walk and all) → PCM16
    * decode → per-bucket mean-|amplitude| features
    * ([[graft.multimodal.MediaOps.extractFeatures]]; 64 samples into 64
    * buckets makes the pooling exactly invertible, the q83 trick), then
    * a per-payload summary: duration, the loudest bucket (first-index
    * tie-break via array_position) and the mean feature level. The
    * oracle replays quantize → |s|/32768·2−1 as SQL over the same
    * table — identical IEEE ops, so agreement proves the byte-level
    * codec path computed exactly what it claims. Codec stages are
    * scan-local mapPartitions (payload bytes never shuffle, never
    * leave the task); the plan's only exchange is the output sort. */
  val q96: Q = (s, d) => {
    import s.implicits._
    val wavs = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .map { case (id, e) =>
        val smp = e.padTo(64, 0f).take(64).map { x =>
          val q = math.floor(x.toDouble * 32767.0)
          math.max(-32768L, math.min(32767L, q)).toShort
        }.toArray
        (id, "wav", graft.multimodal.RawCodec.writeWav(8000, smp))
      }
    // meta + feature derive in ONE partition pass over the decoded rows
    // (a separate meta relation would re-run the codec lineage and then
    // join on vec_id — two scans and an exchange for nothing; production
    // fuses every per-payload column derivation into the decode scan)
    val summary = graft.multimodal.MediaOps.decode(wavs)
      .map(m => (m.mediaId, m.meta.durationMs,
        graft.multimodal.MediaOps.Codec.feature(m.content, 64)))
      .toDF("vec_id", "dur_ms", "feature")
    summary
      .select(col("vec_id"), col("dur_ms"),
        array_position(col("feature"), array_max(col("feature")))
          .cast("long").as("peak_bucket"),
        round(aggregate(transform(col("feature"), _.cast("double")),
          lit(0.0d), (acc, x) => acc + x) / 64.0d, 4).as("mean_level"))
      .orderBy(col("vec_id"))
  }

  val q96Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |smp AS (SELECT vec_id, list_transform(v, x ->
      |          GREATEST(-32768, LEAST(32767, CAST(floor(x * 32767) AS BIGINT)))) AS s
      |        FROM e),
      |f AS (SELECT vec_id, list_transform(s, x ->
      |          CAST(abs(x) / 32768.0 * 2.0 - 1.0 AS REAL)) AS fv
      |      FROM smp)
      |SELECT vec_id,
      |       CAST(64 * 2 * 1000 / 16000 AS BIGINT) AS dur_ms,
      |       CAST(list_position(fv, list_aggregate(fv, 'max')) AS BIGINT) AS peak_bucket,
      |       round(list_aggregate(list_transform(fv, x -> CAST(x AS DOUBLE)), 'sum')
      |             / 64.0, 4) AS mean_level
      |FROM f ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- Q97
  /** Peak interval concurrency per day — the sweep-line classic as pure
    * dataflow: each user's daily activity span [first ts, last ts]
    * becomes a +1/−1 boundary-event pair, a running sum over the day's
    * time-ordered boundaries counts open intervals, and the day's max
    * is the answer ("how many users were active simultaneously").
    * Ordering ties as (t, delta DESC) counts touching intervals as
    * concurrent; the running max is INVARIANT to permutation within
    * equal (t, delta) runs (prefix sums through a constant-delta run
    * are monotone), so no further tiebreak is needed for cross-engine
    * determinism — all arithmetic is exact integers. The naive form is
    * an interval self-join (quadratic per day); this is one
    * partial-aggregable interval build + one window shuffle on the
    * day partition + a day-count-sized aggregate, linear at any N. */
  val q97: Q = (s, d) => {
    val iv = t(s, d, "events")
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
    val pts = iv.select(col("day"), explode(array(
      struct(col("st").as("t"), lit(1).as("delta")),
      struct(col("en").as("t"), lit(-1).as("delta")))).as("b"))
      .select(col("day"), col("b.t").as("t"), col("b.delta").as("delta"))
    val w = Window.partitionBy(col("day"))
      .orderBy(col("t"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.withColumn("open", sum(col("delta")).over(w))
      .groupBy(col("day"))
      .agg(max(col("open")).as("peak_concurrency"),
        (count(lit(1)) / 2).cast("long").as("n_intervals"))
      .orderBy(col("day"))
  }

  val q97Sql: String =
    """WITH iv AS (SELECT CAST(ts AS DATE) AS day, user_id,
      |              min(ts) AS st, max(ts) AS en
      |            FROM events GROUP BY 1, 2),
      |pts AS (SELECT day, st AS t, 1 AS delta FROM iv
      |        UNION ALL SELECT day, en AS t, -1 AS delta FROM iv),
      |r AS (SELECT day, CAST(sum(delta) OVER (PARTITION BY day
      |        ORDER BY t, delta DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open
      |      FROM pts)
      |SELECT day, max(open) AS peak_concurrency,
      |       CAST(count(*) / 2 AS BIGINT) AS n_intervals
      |FROM r GROUP BY day ORDER BY day""".stripMargin

  // --------------------------------------------------------------- Q98
  /** Hybrid retrieval with reciprocal-rank fusion: the BM25 top-20 and
    * the ANN top-20 (probe vec_id = 0) fused as
    * RRF(d) = Σ 1/(60 + rank_d) — the standard keyword+vector blend
    * (Cormack et al., SIGIR'09) that needs no score calibration, only
    * ranks. Contributions are EXACT integers (1000000 div (60 + r),
    * truncating division on both engines), so the fused order is
    * engine-deterministic where float 1/(60+r) sums could tie-break on
    * low bits. A document in only one list keeps a NULL rank on the
    * other side and contributes once. BOTH legs read stored ingest
    * artifacts — BM25 probes the memoized inverted index (q62's layout;
    * |terms| buckets at deployment) and the vector leg is the IVF-PQ
    * shortlist over the memoized q30 quantizer + q74 codebooks
    * (shortlist 32 by integer-exact ADC, exact-cosine rerank to 20) —
    * so the per-query cost is two shortlists + an O(k) fold (union +
    * one tiny aggregate), independent of corpus size and linear in the
    * number of fused rankers. The oracle replays both stored-artifact
    * paths CTE for CTE (the q78 prelude stitch + the q62 formula). */
  val q98: Q = (s, d) => {
    val wk = Window.orderBy(col("bm25").desc, col("doc_id"))
    val kw = q62(s, d).select(col("doc_id"),
      row_number().over(wk).cast("long").as("kw_rank"))
    val wv = Window.orderBy(col("sim").desc, col("vec_id"))
    val vec = graft.functions.Pq
      .ivfPqSearch(ivfModelFor(s, d, 8).assigned, "vec_id", pqModelFor(s, d),
        probeId = 0L, shortlist = 32, topK = 20)
      .select(col("vec_id"), row_number().over(wv).cast("long").as("vec_rank"))
    // union + max-aggregate instead of a full-outer join: the two
    // k-row lists stack as (doc_id, kw_rank, null) / (doc_id, null,
    // vec_rank) and one tiny groupBy folds them — same NULL-keeping
    // semantics, no SMJ/sort pair, and the shape an N-list fusion
    // (text + vector + metadata rankers) keeps linear
    kw.select(col("doc_id"), col("kw_rank"), lit(null).cast("long").as("vec_rank"))
      .union(vec.select(col("vec_id"), lit(null).cast("long"), col("vec_rank")))
      .groupBy(col("doc_id"))
      .agg(max(col("kw_rank")).as("kw_rank"), max(col("vec_rank")).as("vec_rank"))
      .select(col("doc_id"), col("kw_rank"), col("vec_rank"),
        (coalesce(expr("1000000 div (60 + kw_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L))).as("rrf_ppm"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(10)
  }

  val q98Sql: String =
    ivfSqlPrelude(nCells = 8, sampleN = 256, iters = 2) + ",\n" +
      pqSqlPrelude(m = PqM, k = PqK, dsub = 8, sampleN = 256, iters = 2,
        prefix = "pq_", withE = false) +
      """,
        |base AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |           string_split(text, ' ') AS toks FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM base),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf FROM (
        |         SELECT doc_id, dl, unnest(list_filter(toks,
        |                  x -> x IN ('table', 'hash', 'stream'))) AS term FROM base)
        |       GROUP BY doc_id, dl, term),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        |kws AS (SELECT doc_id,
        |          round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
        |                    / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))), 4) AS bm25
        |        FROM tf JOIN df USING (term) CROSS JOIN stats
        |        GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
        |kr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS kw_rank FROM kws),
        |p AS (SELECT v AS pv, cell AS pcell FROM cells WHERE vec_id = 0),
        |lut AS (SELECT sub, cid,
        |          CAST(round((list_inner_product(ps, ps) - 2 * list_inner_product(ps, c)
        |                      + list_inner_product(c, c)) * 1e6) AS BIGINT) AS pd
        |        FROM (SELECT c.sub, c.cid, c.c,
        |                     array_slice(p.pv, c.sub*8 + 1, c.sub*8 + 8) AS ps
        |              FROM pq_cents2 c CROSS JOIN p)),
        |adc AS (SELECT cd.vec_id, CAST(sum(l.pd) AS BIGINT) AS approx_d2u
        |        FROM pq_codes cd
        |        JOIN cells cl ON cd.vec_id = cl.vec_id
        |        JOIN lut l ON cd.sub = l.sub AND cd.code = l.cid
        |        CROSS JOIN p
        |        WHERE cl.cell = p.pcell AND cd.vec_id <> 0
        |        GROUP BY cd.vec_id),
        |cand AS (SELECT vec_id, approx_d2u FROM adc ORDER BY approx_d2u, vec_id LIMIT 32),
        |vs AS (SELECT c.vec_id,
        |         round(list_inner_product(e.v, p.pv)
        |               / (sqrt(list_inner_product(e.v, e.v))
        |                  * sqrt(list_inner_product(p.pv, p.pv))), 4) AS sim
        |       FROM cand c JOIN e ON c.vec_id = e.vec_id CROSS JOIN p
        |       ORDER BY sim DESC, c.vec_id LIMIT 20),
        |vr AS (SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS vec_rank FROM vs)
        |SELECT CAST(coalesce(kr.doc_id, vr.vec_id) AS BIGINT) AS doc_id, kw_rank, vec_rank,
        |       CAST(coalesce(1000000 // (60 + kw_rank), 0)
        |            + coalesce(1000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf_ppm
        |FROM kr FULL OUTER JOIN vr ON kr.doc_id = vr.vec_id
        |ORDER BY rrf_ppm DESC, doc_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- Q99
  /** Triangle counts + local clustering coefficient over the q93
    * rare-shingle co-occurrence graph — "is this doc's neighborhood a
    * dup CLIQUE or a hub?" (cliques ⇒ true duplicate clusters, the
    * q52 signal; low-coefficient hubs ⇒ boilerplate shared across
    * unrelated docs — a curation flag q52's components can't see
    * because a component says nothing about internal density). Edges
    * are oriented a < b, so each triangle is counted exactly once as
    * (a < b < c) — the standard orientation trick that caps the join
    * fan-out at scale; the df ≤ 3 cap already bounds degrees at graph
    * BUILD time (q93's construction). The pinned pair list feeds all
    * three self-join legs (one localCheckpoint, zero parquet re-scans);
    * the coefficient 2·tri·10⁶ div (deg·(deg−1)) is exact integer
    * arithmetic on both engines. */
  val q99: Q = (s, d) => {
    val pairs = coocPairsFor(s, d, 3)
    val deg = pairs.select(col("s").as("node"))
      .union(pairs.select(col("t").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = pairs.as("e1").join(pairs.as("e2"), col("e1.t") === col("e2.s"))
      .join(pairs.as("e3"),
        col("e1.s") === col("e3.s") && col("e2.t") === col("e3.t"))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    val tpn = tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(tpn, Seq("node"), "left")
      .select(col("node").as("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          expr("(2000000 * coalesce(n_tri, 0)) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("coeff_ppm"))
      .orderBy(col("n_triangles").desc, col("coeff_ppm").desc, col("doc_id"))
      .limit(20)
  }

  val q99Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         generate_series(1, len(t) - 4), i -> array_to_string(t[i:i+4], ' ')))) AS sg
      |       FROM toks),
      |rare AS (SELECT sg FROM sh GROUP BY sg HAVING count(*) <= 3),
      |half AS (SELECT sh.sg, sh.doc_id FROM sh JOIN rare USING (sg)),
      |pairs AS (SELECT DISTINCT a.doc_id AS s, b.doc_id AS t
      |          FROM half a JOIN half b USING (sg) WHERE a.doc_id < b.doc_id),
      |deg AS (SELECT node, count(*) AS deg FROM (
      |          SELECT s AS node FROM pairs UNION ALL SELECT t FROM pairs) GROUP BY node),
      |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
      |        FROM pairs e1 JOIN pairs e2 ON e1.t = e2.s
      |        JOIN pairs e3 ON e3.s = e1.s AND e3.t = e2.t),
      |tpn AS (SELECT node, count(*) AS n_tri FROM (
      |          SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |          UNION ALL SELECT c FROM tri) GROUP BY node)
      |SELECT deg.node AS doc_id, deg.deg,
      |       CAST(coalesce(n_tri, 0) AS BIGINT) AS n_triangles,
      |       CAST(CASE WHEN deg >= 2
      |                 THEN (2000000 * coalesce(n_tri, 0)) // (deg * (deg - 1))
      |                 ELSE 0 END AS BIGINT) AS coeff_ppm
      |FROM deg LEFT JOIN tpn USING (node)
      |ORDER BY n_triangles DESC, coeff_ppm DESC, doc_id LIMIT 20""".stripMargin

  // --------------------------------------------------------------- Q100
  /** Cross-document duplicated SPANS — the positional (ExactSubstr-
    * style, "Deduplicating Training Data" §4.1) sibling of the set-
    * based near-dup family: for every candidate pair, the LONGEST run
    * of consecutive shared word 5-grams, i.e. the maximal verbatim
    * token span one document copies from another. Set-based Jaccard
    * (q21) says "these docs share vocabulary"; this says "doc B copies
    * an 83-token passage of doc A verbatim" — the signal that drives
    * span-level (not doc-level) dedup cuts. Candidates come from the
    * df ≤ 3 rare-shingle join (bounded fan-out, the q93 graph build —
    * a long copied span necessarily contains rare shingles, so true
    * span-dups anchor themselves); the positional match then joins
    * only candidate docs' (pos, shingle) rows, and runs are islands on
    * the match DIAGONAL (pa − pb constant, consecutive pa ⇒ consecutive
    * pb): grp = pa − row_number is constant exactly along a run, one
    * window shuffle. All outputs are exact integers.
    *
    * The shingle relation feeds SIX consumers (dedup side ×3, pa, pb) —
    * unpinned, column pruning blocks exchange unification and the
    * corpus scan+tokenize plans six times (the q61/q62/q64 lesson the
    * PlanAuditSpec ratchet exists for). The pin is the PRE-explode
    * array form — one row per doc, doc_id stored once, positions
    * implicit — and every consumer re-explodes it scan-locally from
    * the pinned blocks; per-doc DISTINCT comes from `array_distinct`
    * INSIDE the row (the q99 kernel's trick), so candidate generation
    * needs no (doc_id, shingle) distinct Exchange at all — the
    * measured plan's only wide ops are the df groupBy (which emits
    * candidate pairs directly from its ≤ 3-doc arrays, no rare-set
    * join or broadcast), the slim pair distinct, and the diagonal
    * window. The draft that checkpointed the EXPLODED relation and
    * built candidates via `.distinct()` + rare join measured 4.3 s at
    * sf0.1; the pin+array_distinct+groupBy-pairs chain and the fused
    * non-distinct shingle kernel took it to 1.6 s. At production
    * scale the pinned relation is the stored ingest artifact the
    * inverted index (q62) already materializes. */
  val q100: Q = (s, d) => {
    val base = graft.core.Pins.pin(t(s, d, "documents")
      .select(col("doc_id"), TextOps.shinglesAllNative(col("text"), 5).as("sgs")))
    val tokp = base.select(col("doc_id"), posexplode(col("sgs")).as(Seq("pos", "sg")))
    // candidate pairs from the MEMOIZED co-occurrence artifact (the
    // same stored edge list q93/q99 read): collect the ≤ 3 doc ids per
    // rare shingle and emit ordered pairs from the array scan-locally —
    // no rare-shingle JOIN back to the corpus, so the (huge at this SF)
    // rare set is never broadcast and df is counted once per ingest,
    // not once per analysis
    val cand = coocPairsFor(s, d, 3)
      .select(col("s").as("a_id"), col("t").as("b_id"))
    val pa = tokp.select(col("doc_id").as("a_id"), col("sg"), col("pos").as("pa"))
    val pb = tokp.select(col("doc_id").as("b_id"), col("sg"), col("pos").as("pb"))
    val m = cand.join(pa, Seq("a_id")).join(pb, Seq("b_id", "sg"))
      .select(col("a_id"), col("b_id"), col("pa"), (col("pa") - col("pb")).as("diag"))
    val w = Window.partitionBy(col("a_id"), col("b_id"), col("diag")).orderBy(col("pa"))
    val spans = m.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("len"))
    spans.groupBy(col("a_id"), col("b_id"))
      .agg((max(col("len")) + 4).cast("long").as("max_span_tokens"),
        sum(col("len")).cast("long").as("n_matches"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val q100Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |shp AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+4], ' ') AS sg
      |        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i FROM toks)),
      |dsh AS (SELECT DISTINCT doc_id, sg FROM shp),
      |rare AS (SELECT sg FROM dsh GROUP BY sg HAVING count(*) <= 3),
      |halfd AS (SELECT d.doc_id, d.sg FROM dsh d JOIN rare USING (sg)),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |         FROM halfd a JOIN halfd b USING (sg) WHERE a.doc_id < b.doc_id),
      |m AS (SELECT c.a_id, c.b_id, pa.pos AS pa, pa.pos - pb.pos AS diag
      |      FROM cand c JOIN shp pa ON pa.doc_id = c.a_id
      |      JOIN shp pb ON pb.doc_id = c.b_id AND pb.sg = pa.sg),
      |isl AS (SELECT a_id, b_id, diag, pa,
      |          pa - row_number() OVER (PARTITION BY a_id, b_id, diag ORDER BY pa) AS grp
      |        FROM m),
      |spans AS (SELECT a_id, b_id, diag, grp, count(*) AS len FROM isl GROUP BY 1, 2, 3, 4)
      |SELECT a_id, b_id, CAST(max(len) + 4 AS BIGINT) AS max_span_tokens,
      |       CAST(sum(len) AS BIGINT) AS n_matches
      |FROM spans GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- Q101
  /** Content-defined chunking (CDC) dedup — the storage-dedup technique
    * applied to corpus text: chunk boundaries fall where the rolling
    * 8-char window's md5 ends in hex '0' (p = 1/16, ~16-char expected
    * chunks), so an insertion/deletion only reframes the chunks it
    * touches and every chunk after the next boundary re-aligns — the
    * shift-robust dedup signal that FIXED chunking (q81) structurally
    * cannot give (one inserted word re-keys every subsequent fixed
    * chunk; spec pins the shift-invariance property). Output per doc:
    * chunk count, chunks whose hash recurs anywhere in the corpus, and
    * the dup ratio — q61's single-scan window discipline: one corpus
    * scan, one shuffle of (doc_id, chunk-hash), the corpus-wide count
    * as a window in place. Boundary detection and chunk hashing are
    * codegen'd builtins (md5 + substr under HOFs), identical bytes on
    * both engines. At 100 TB the chunk hash shuffles as a 16-byte key
    * and the window's hot-hash caveat (boilerplate chunks) has the same
    * q49 two-phase remedy as q61. */
  /** The declarative reference form of the q101 chunker — boundary
    * filter over `sequence` + `zip_with` chunk md5s — kept for the
    * property test pinning the native kernel bit-equal; the HOF stack
    * evaluates interpreted lambdas and allocates per CHARACTER
    * position, which measured ~6× the kernel at sf0.1. */
  private[queries] def cdcChunkHashesHof(txt: org.apache.spark.sql.Column,
      w: Int): org.apache.spark.sql.Column = {
    // candidate boundary positions 2..len-w+1 (guarded: Spark's
    // sequence(a, b) REVERSES when b < a instead of returning empty)
    val cand = when(length(txt) >= w + 1,
      sequence(lit(2), length(txt) - w + 1)).otherwise(array().cast("array<int>"))
    val starts = concat(array(lit(1)),
      filter(cand, i => substring(md5(txt.substr(i, lit(w))), 32, 1) === "0"))
    val ends = concat(
      slice(starts, lit(2), greatest(size(starts) - 1, lit(0))),
      array(length(txt) + 1))
    zip_with(starts, ends, (a, b) => md5(txt.substr(a, b - a)))
  }

  val q101: Q = (s, d) => {
    val ch = t(s, d, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(TextOps.cdcChunkHashes(col("text"), 8)).as("h"))
    ch.withColumn("nd", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio",
        round(col("n_dup").cast("double") / col("n_chunks"), 4))
      .orderBy(col("doc_id"))
  }

  val q101Sql: String =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
      |st AS (SELECT doc_id, text,
      |         list_concat([1], list_filter(
      |           generate_series(2, length(text) - 7),
      |           i -> substr(md5(text[i:i+7]), 32, 1) = '0')) AS starts
      |       FROM d),
      |en AS (SELECT doc_id, text, starts,
      |         list_concat(starts[2:], [length(text) + 1]) AS ends FROM st),
      |ch AS (SELECT doc_id, unnest(list_transform(
      |         generate_series(1, len(starts)),
      |         k -> md5(text[starts[k]:ends[k] - 1]))) AS h
      |       FROM en),
      |cnt AS (SELECT h, count(*) AS nd FROM ch GROUP BY h)
      |SELECT doc_id, count(*) AS n_chunks,
      |       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |       round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 4) AS dup_ratio
      |FROM ch JOIN cnt USING (h)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q102
  /** Gopher-style quality-rule bundle (Rae et al. 2021 §A1.1 reduced to
    * this corpus's alphabet): per-document token-count bounds, mean
    * word length in [3, 10], stopword presence, and max-single-word
    * share ≤ 20% — the composite heuristic gate that runs BEFORE any
    * trained classifier (q85) in a curation stack. Every rule is an
    * INTEGER comparison (`3·n_tok ≤ n_chars`, `max_k·5 ≤ n_tok`) — no
    * float ratio ever crosses an engine boundary, so thresholds cannot
    * straddle an ulp (the q86 breakpoint discipline applied to rule
    * gates). Dataflow: ONE tokenize+explode scan into the per-(doc,
    * term) count relation (the q63 tcnt shape, map-side combinable);
    * n_tokens, n_chars (= Σ k·len(term), exactly the non-space char
    * count), stopword occurrences, and the max single-term count all
    * fold out of that one relation in a second doc-keyed
    * partial-aggregable groupBy — no join, no second scan. At 100 TB
    * both shuffles are bounded by distinct terms per doc. */
  val q102: Q = (s, d) => {
    val tc = t(s, d, "documents")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("k"))
    tc.groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k") * length(col("term"))).as("n_chars"),
        sum(when(col("term").isin(TextOps.EnStops.map(x => x: Any): _*),
          col("k")).otherwise(0L)).as("stop_k"),
        max(col("k")).as("max_k"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") >= 50 && col("n_tokens") <= 100000).cast("int").as("r_len"),
        (col("n_chars") >= col("n_tokens") * 3 &&
          col("n_chars") <= col("n_tokens") * 10).cast("int").as("r_wordlen"),
        (col("stop_k") >= 2).cast("int").as("r_stop"),
        (col("max_k") * 5 <= col("n_tokens")).cast("int").as("r_maxword"))
      .withColumn("pass",
        (col("r_len") === 1 && col("r_wordlen") === 1 &&
          col("r_stop") === 1 && col("r_maxword") === 1).cast("int"))
      .orderBy(col("doc_id"))
  }

  val q102Sql: String =
    """WITH tc AS (SELECT doc_id, term, count(*) AS k
      |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |                  FROM documents)
      |            GROUP BY doc_id, term),
      |agg AS (SELECT doc_id,
      |          CAST(sum(k) AS BIGINT) AS n_tokens,
      |          CAST(sum(k * length(term)) AS BIGINT) AS n_chars,
      |          CAST(sum(CASE WHEN term IN ('the', 'a', 'of', 'and', 'to')
      |                        THEN k ELSE 0 END) AS BIGINT) AS stop_k,
      |          CAST(max(k) AS BIGINT) AS max_k
      |        FROM tc GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |       CAST(n_tokens BETWEEN 50 AND 100000 AS INT) AS r_len,
      |       CAST(n_chars >= n_tokens * 3 AND n_chars <= n_tokens * 10 AS INT) AS r_wordlen,
      |       CAST(stop_k >= 2 AS INT) AS r_stop,
      |       CAST(max_k * 5 <= n_tokens AS INT) AS r_maxword,
      |       CAST(n_tokens BETWEEN 50 AND 100000
      |            AND n_chars >= n_tokens * 3 AND n_chars <= n_tokens * 10
      |            AND stop_k >= 2 AND max_k * 5 <= n_tokens AS INT) AS pass
      |FROM agg ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q103
  /** POSITIONAL winnowing (Schleimer et al., SIGMOD'03 — the MOSS
    * algorithm; q27 keeps only the global min hash, this keeps the min
    * of EVERY w-window of consecutive char-5-gram hashes): the classic
    * guarantee that any shared substring of length ≥ w+k−1 = 8 chars
    * yields at least one shared fingerprint, with ~2/(w+1) of positions
    * selected — the density/recall dial plagiarism and near-dup systems
    * actually ship. Per doc: fingerprint count, fingerprints recurring
    * elsewhere in the corpus, share ratio (the q101 output shape, so
    * the two shift-robust signals — CDC chunks and winnowed grams —
    * read side by side). Dataflow: the whole per-document selection —
    * char-5-gram md5s, sliding 4-window minima, first-occurrence
    * distinct — runs inside the fused native
    * [[graft.functions.expressions.WinnowFingerprints]] kernel in the
    * scan projection (winnowing is per-document, so nothing leaves the
    * scan until selection; the declarative posexplode + doc-window +
    * distinct draft shuffled one row per CHARACTER three times — 4.5 s
    * vs 0.5 s at sf0.1, property-test-pinned equal), then the
    * corpus-recurrence count as ONE window over fp — the only cross-doc
    * shuffle, carrying only selected fingerprints. Hash min is the md5
    * hex STRING min — identical lexicographic order both engines (the
    * kernel compares raw digests; hex encoding is order-preserving). */
  /** The declarative reference form of the q103 selection — per-char
    * posexplode, doc-partitioned ROWS-frame window min, distinct —
    * kept for the property test pinning the native kernel equal. It
    * shuffles one row per CHARACTER three times (doc window sort,
    * distinct, fp window) where winnowing is per-document and needs
    * none of them; measured 4.5 s vs 0.5 s at sf0.1. */
  private[graft] def winnowFingerprintsDf(docs: DataFrame, w: Int): DataFrame = {
    val g = docs.filter(length(col("text")) >= 5)
      .select(col("doc_id"), (length(col("text")) - 4).as("n"),
        posexplode(TextOps.charNgrams(col("text"), 5)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("n"), col("pos"), md5(col("gram")).as("h"))
    g.withColumn("fp", min(col("h")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, w - 1)))
      .filter(col("pos") <= greatest(col("n") - w, lit(0)))
      .select(col("doc_id"), col("fp")).distinct()
  }

  val q103: Q = (s, d) => {
    // r14: spread the single-split corpus before the winnowing kernel
    // (one rolling-min md5 per character position — the heaviest
    // per-row kernel on the text shelf; q136 pattern, no pin downstream)
    val fp = graft.operators.MinHashLsh.spreadSmallInput(
        t(s, d, "documents")).filter(length(col("text")) >= 5)
      .select(col("doc_id"),
        explode(TextOps.winnowFingerprints(col("text"), 5, 4)).as("fp"))
    fp.withColumn("nd", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_ratio",
        round(col("n_shared").cast("double") / col("n_fp"), 4))
      .orderBy(col("doc_id"))
  }

  val q103Sql: String =
    """WITH g AS (SELECT doc_id, i - 1 AS pos, length(text) - 4 AS n,
      |             md5(text[i:i + 4]) AS h
      |           FROM (SELECT doc_id, text,
      |                   unnest(generate_series(1, length(text) - 4)) AS i
      |                 FROM documents WHERE length(text) >= 5)),
      |w AS (SELECT doc_id, pos, n,
      |        min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |      FROM g),
      |f AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= greatest(n - 4, 0)),
      |c AS (SELECT fp, count(*) AS nd FROM f GROUP BY fp)
      |SELECT doc_id, count(*) AS n_fp,
      |       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |       round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 4) AS shared_ratio
      |FROM f JOIN c USING (fp)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q104
  /** Vocabulary-growth monitor (Heaps'-law curve): cumulative distinct
    * vocabulary and cumulative token mass per 50-document ingest bucket
    * — the corpus-health dashboard number that tells you whether new
    * data is still contributing new language or just repeating the
    * store (flattening curve ⇒ diminishing returns, the "data wall"
    * signal). Exact integers end to end. Dataflow: token mass is
    * scan-local (`size(tokens)` summed per bucket — no explode); the
    * vocabulary side explodes per-doc DISTINCT tokens (map-side dedup
    * shrinks the shuffle), takes min(doc_id) per term — ONE
    * partial-aggregable term-keyed shuffle, the same first-occurrence
    * shape as q106's novelty — then collapses to the bucket of first
    * appearance. Everything after the term agg is bucket-count-sized;
    * the running sums ride a single-partition window over ~N/50 rows.
    * At 100 TB the term relation is the vocabulary, and min(doc_id) is
    * exactly the mergeable statistic an incremental ingest maintains. */
  val q104: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val bt = docs.select(expr("doc_id div 50").as("bucket"),
        size(TextOps.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("bucket")).agg(sum(col("nt")).as("n_tokens"))
    val nb = docs.select(col("doc_id"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("first_doc"))
      .select(expr("first_doc div 50").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_terms"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bt.join(nb, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_new_terms"))
      .select(col("bucket"), col("n_tokens"), col("n_new_terms"),
        sum(col("n_new_terms")).over(cum).as("cum_vocab"),
        sum(col("n_tokens")).over(cum).as("cum_tokens"))
      .orderBy(col("bucket"))
  }

  val q104Sql: String =
    """WITH bt AS (SELECT doc_id // 50 AS bucket,
      |              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |            FROM documents GROUP BY 1),
      |ft AS (SELECT term, min(doc_id) AS first_doc
      |       FROM (SELECT doc_id,
      |               unnest(list_distinct(string_split(text, ' '))) AS term
      |             FROM documents)
      |       GROUP BY term),
      |nb AS (SELECT first_doc // 50 AS bucket, count(*) AS n_new FROM ft GROUP BY 1)
      |SELECT bt.bucket, bt.n_tokens,
      |       CAST(coalesce(nb.n_new, 0) AS BIGINT) AS n_new_terms,
      |       CAST(sum(coalesce(nb.n_new, 0)) OVER (ORDER BY bt.bucket) AS BIGINT) AS cum_vocab,
      |       CAST(sum(bt.n_tokens) OVER (ORDER BY bt.bucket) AS BIGINT) AS cum_tokens
      |FROM bt LEFT JOIN nb USING (bucket) ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- Q105
  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    * language, rank documents by the q63 unigram-LM fluency score and
    * cut head / middle / tail terciles — the curation tiering that
    * decides what trains first (head), what gets a second look
    * (middle), and what needs justification (tail). The cut is made on
    * the 4-dp-ROUNDED score with doc_id as total-order tiebreak and the
    * tercile as an integer `div` of the rank — both engines compute the
    * identical rounded score (q63 is hash-green on exactly this
    * expression), so the bucket boundary is deterministic even where
    * raw float sums differ in summation order (the q86 ulp lesson
    * applied to a DERIVED threshold). Dataflow: q63's one-scan scoring
    * lineage (per-(doc, term) counts joined to the broadcast
    * vocabulary model), then one doc-sized window per lang for the
    * rank. Output is 15 rows (5 langs × 3 buckets) with integer doc
    * and token masses and the rounded score range per bucket. */
  val q105: Q = (s, d) => {
    // q63's lazy 3-scan scoring form (see q63's measured pin note),
    // lang carried through the counts
    val tok = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), explode(TextOps.tokens(col("text"))).as("term"))
    val tcnt = tok.groupBy(col("doc_id"), col("lang"), col("term")).agg(count(lit(1)).as("k"))
    val probs = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = probs.agg(sum(col("cnt")).cast("double").as("__t"))
    val kd = col("k").cast("double")
    val scored = tcnt.join(broadcast(probs), "term").crossJoin(broadcast(total))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("k")).as("n_tokens"),
        round(sum(kd * log(col("cnt").cast("double") / col("__t"))) / sum(kd), 4)
          .as("avg_logp"))
    val lw = Window.partitionBy(col("lang"))
    scored
      .withColumn("rn", row_number().over(lw.orderBy(col("avg_logp").desc, col("doc_id"))))
      .withColumn("cd", count(lit(1)).over(lw))
      .withColumn("bucket", expr("CAST(((rn - 1) * 3) div cd AS BIGINT)"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("avg_logp")).as("min_logp"),
        max(col("avg_logp")).as("max_logp"))
      .orderBy(col("lang"), col("bucket"))
  }

  val q105Sql: String =
    """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |tc AS (SELECT doc_id, lang, term, count(*) AS k FROM tok GROUP BY 1, 2, 3),
      |p AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
      |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM p),
      |sc AS (SELECT doc_id, lang, CAST(sum(k) AS BIGINT) AS n_tokens,
      |         round(sum(CAST(k AS DOUBLE) * ln(CAST(cnt AS DOUBLE) / t))
      |               / sum(CAST(k AS DOUBLE)), 4) AS avg_logp
      |       FROM tc JOIN p USING (term) CROSS JOIN tot GROUP BY 1, 2),
      |rk AS (SELECT *,
      |         row_number() OVER (PARTITION BY lang ORDER BY avg_logp DESC, doc_id) AS rn,
      |         count(*) OVER (PARTITION BY lang) AS cd
      |       FROM sc)
      |SELECT lang, CAST(((rn - 1) * 3) // cd AS BIGINT) AS bucket,
      |       count(*) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |       min(avg_logp) AS min_logp, max(avg_logp) AS max_logp
      |FROM rk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- Q106
  /** Per-document NOVELTY rate in ingest order: the fraction of a
    * document's distinct word-3-gram shingles appearing for the FIRST
    * time in the corpus at that document (min(doc_id) over the shingle
    * = this doc) — the content-yield signal a streaming ingest reads
    * before paying for a batch ("this crawl is 90% already-seen
    * shingles"), and the per-doc decomposition of q104's corpus curve.
    * q61's single-scan window discipline: one tokenize scan through the
    * fused distinct-shingle kernel, ONE shuffle keyed on the shingle
    * where the window min computes first-appearance in place (no
    * aggregate-then-rejoin), then the doc-keyed partial-aggregable
    * fold. At 100 TB the shingle min is mergeable ingest state — the
    * same first-occurrence statistic q104 maintains for terms — and
    * the incremental form is a bloom/band lookup against the store. */
  val q106: Q = (s, d) => {
    // (r14: spreadSmallInput measured NEGATIVE here, the q61 result)
    val sh = t(s, d, "documents")
      .select(col("doc_id"), explode(TextOps.shinglesNative(col("text"), 3)).as("sg"))
    sh.withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("sg"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 4))
      .orderBy(col("doc_id"))
  }

  val q106Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |dsh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |          generate_series(1, len(t) - 2),
      |          i -> array_to_string(t[i:i + 2], ' ')))) AS sg
      |        FROM toks),
      |w AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY sg) AS first_doc FROM dsh)
      |SELECT doc_id, count(*) AS n_shingles,
      |       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |       round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 4) AS novelty
      |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q107
  /** NPMI collocation mining (Church & Hanks 1990 association scoring,
    * the word2phrase/tokenizer-merge signal): top adjacent word pairs
    * by normalized pointwise mutual information over the bigram
    * contingency table — "these two tokens belong together" is what
    * decides phrase merges before tokenizer training. Marginals are
    * the BIGRAM-position marginals (c1 = pairs starting with w1, c2 =
    * pairs ending with w2), so the whole statistic derives from ONE
    * PINNED bigram-count relation: two window sums over it (q89's
    * in-place model discipline) plus a broadcast one-row total folded
    * from the same pin — one scan, query-scoped checkpoint (production
    * stores the counts at ingest). All
    * counts exact integers; the ln ratio is the identical IEEE
    * expression both engines and the 4-dp round masks the libm ulp
    * (q63's discipline), with (w1, w2) breaking rank ties so the
    * top-20 cut is deterministic. A perfectly exclusive pair (c12 ==
    * c1 == c2) scores exactly 1.0 — spec-pinned. */
  val q107: Q = (s, d) => {
    val toks = t(s, d, "documents").select(TextOps.tokens(col("text")).as("t"))
    val bg = toks.select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c = graft.core.Pins.pin(
      bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val n = c.agg(sum(col("c12")).cast("double").as("__n"))
    val m = c
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy(col("w1"))))
      .withColumn("c2", sum(col("c12")).over(Window.partitionBy(col("w2"))))
      .crossJoin(broadcast(n))
    val c12d = col("c12").cast("double")
    val pmi = log((c12d * col("__n")) / (col("c1").cast("double") * col("c2").cast("double")))
    m.filter(col("c12") >= 5)
      .select(col("w1"), col("w2"), col("c12"),
        round(pmi / log(col("__n") / c12d), 4).as("npmi"))
      .orderBy(col("npmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  val q107Sql: String =
    """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |bgr AS (SELECT t[i] AS w1, t[i + 1] AS w2
      |        FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)),
      |c AS (SELECT w1, w2, count(*) AS c12 FROM bgr GROUP BY 1, 2),
      |m AS (SELECT *,
      |        sum(c12) OVER (PARTITION BY w1) AS c1,
      |        sum(c12) OVER (PARTITION BY w2) AS c2,
      |        CAST((SELECT sum(c12) FROM c) AS DOUBLE) AS n
      |      FROM c)
      |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
      |       round(ln((CAST(c12 AS DOUBLE) * n)
      |                / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)))
      |             / ln(n / CAST(c12 AS DOUBLE)), 4) AS npmi
      |FROM m WHERE c12 >= 5
      |ORDER BY npmi DESC, w1, w2 LIMIT 20""".stripMargin

  // --------------------------------------------------------------- Q108
  /** Cross-source duplication matrix: for every source pair (a ≤ b),
    * the number of distinct content hashes present in BOTH — "which
    * crawl duplicates which" is the dashboard that decides source
    * ordering and dedup priority in a multi-crawl corpus; the diagonal
    * is each source's distinct-content count (its exact-dedup'd size).
    * Dataflow: one scan projects (md5, source), per-pair distinct
    * collapses repeats map-side, then ONE equi-join on the hash — the
    * same key the exact-dedup family already shuffles on — whose
    * per-key fan-out is bounded by the SOURCE count squared, never by
    * group size (a hash duplicated 10⁶ times across 5 sources joins
    * 5×5, because the distinct collapsed the multiplicity first).
    * Everything downstream is a sources²-row aggregate. */
  val q108: Q = (s, d) => {
    // both join sides read the same distinct relation — pin it once
    val ds = graft.core.Pins.pin(t(s, d, "documents")
      .select(md5(col("text")).as("h"), col("source")).distinct())
    ds.as("a").join(ds.as("b"),
        col("a.h") === col("b.h") && col("a.source") <= col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val q108Sql: String =
    """WITH ds AS (SELECT DISTINCT md5(text) AS h, source FROM documents)
      |SELECT a.source AS source_a, b.source AS source_b,
      |       count(*) AS n_shared
      |FROM ds a JOIN ds b ON a.h = b.h AND a.source <= b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- Q109
  /** Leakage-safe train/validation split: the split unit is the
    * near-dup CLUSTER (q52's connected components over the verified
    * LSH pair graph), not the document — the "Deduplicating Training
    * Data" test-set-leakage lesson: a doc-level random split puts one
    * member of a near-dup pair in train and its twin in validation,
    * and the eval silently measures memorization. Assigning the whole
    * component by a hash of its LABEL makes cross-side near-dup pairs
    * ZERO BY CONSTRUCTION, and the query carries its own audit: the
    * pair list joined to both sides' assignments (the count lands in
    * every output row — an eval-gate reads it before trusting the
    * split). Split membership is q53's portable hex-threshold compare
    * (md5 < 'cc' ⇒ 204/256 ≈ 80% train), so the side is deterministic
    * cross-engine AND stable under re-ingest — a new batch can only
    * add members to a cluster or merge clusters, never flip an
    * existing label's hash. Dataflow: cluster labels and the pair list
    * are the MEMOIZED ingest artifacts (q52's policy); the audit join
    * is pair-list-sized; the summary is a 2-row aggregate. */
  val q109: Q = (s, d) => {
    val docs = t(s, d, "documents")
    // the assignment is consumed THREE times (both audit sides + the
    // summary); unpinned it replans its docs⟕labels join per consumer
    // (3 scans / 12 shuffles audited) — pin it once, query-scoped
    // (production stores `component`+`side` as table columns)
    val sided = graft.core.Pins.pin(
      graft.operators.DedupClusters.assignAll(docs, lshPairsFor(s, d))
        .withColumn("side",
          when(md5(concat(lit("split|"), col("component").cast("string"))) < "cc",
            "train").otherwise("val")))
    val pr = lshPairsFor(s, d).select(col("a_id"), col("b_id"))
    val leaks = pr
      .join(sided.select(col("doc_id").as("a_id"), col("side").as("side_a")), "a_id")
      .join(sided.select(col("doc_id").as("b_id"), col("side").as("side_b")), "b_id")
      .filter(col("side_a") =!= col("side_b"))
      .agg(count(lit(1)).as("cross_side_pairs"))
    sided.groupBy(col("side"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("component")).as("n_clusters"))
      .crossJoin(broadcast(leaks))
      .orderBy(col("side"))
  }

  val q109Sql: String = {
    val sigCols = Seeds.map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i").mkString(", ")
    val bandCond = (0 until 4).map(b =>
      s"(a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1})").mkString(" OR ")
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
       |allc AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
       |         FROM documents d LEFT JOIN comp c USING (doc_id)),
       |sided AS (SELECT doc_id, component,
       |            CASE WHEN md5('split|' || CAST(component AS VARCHAR)) < 'cc'
       |                 THEN 'train' ELSE 'val' END AS side
       |          FROM allc),
       |leak AS (SELECT count(*) AS cross_side_pairs
       |         FROM pairs p JOIN sided x ON p.a_id = x.doc_id
       |         JOIN sided y ON p.b_id = y.doc_id WHERE x.side <> y.side)
       |SELECT side, count(*) AS n_docs,
       |       count(DISTINCT component) AS n_clusters,
       |       (SELECT cross_side_pairs FROM leak) AS cross_side_pairs
       |FROM sided GROUP BY side ORDER BY side""".stripMargin
  }

  // --------------------------------------------------------------- Q110
  /** FIXED-SIZE deterministic per-stratum sample: exactly k = 20 docs
    * per language, chosen as the k smallest md5(doc_id-salted text
    * hash) — the eval-set / human-review draw where q53's RATE-based
    * sampler can't promise a size ("give me exactly 20 per language,
    * reproducibly"). k-smallest-by-uniform-hash IS a uniform
    * without-replacement sample, membership is stable as the corpus
    * grows only at the margin (a new doc displaces at most the current
    * k-th), and the hex-string order is engine-portable. The aggregate
    * is [[graft.operators.MinKByStringAgg]] — q37's typed-Aggregator
    * discipline: the buffer holds ≤ k pairs, map-side combine trims
    * per partition, the shuffle carries O(langs × k) where the window
    * formulation sorts every stratum. Oracle = the row_number window
    * form, independently derived. */
  val q110: Q = (s, d) => {
    val h = md5(concat(col("doc_id").cast("string"), lit("|"), col("text")))
    t(s, d, "documents")
      .select(col("lang"), h.as("h"), col("doc_id"))
      .groupBy(col("lang"))
      .agg(graft.operators.TopK.minKByString(20)(col("h"), col("doc_id")).as("picks"))
      .select(col("lang"), posexplode(col("picks")).as(Seq("pos", "p")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("p._2").as("doc_id"), col("p._1").as("h"))
      .orderBy(col("lang"), col("rank"))
  }

  val q110Sql: String =
    """SELECT lang, rank, doc_id, h FROM (
      |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR) || '|' || text) AS h,
      |         CAST(row_number() OVER (PARTITION BY lang
      |                ORDER BY md5(CAST(doc_id AS VARCHAR) || '|' || text), doc_id)
      |              AS BIGINT) AS rank
      |  FROM documents)
      |WHERE rank <= 20 ORDER BY lang, rank""".stripMargin

  // --------------------------------------------------------------- Q111
  /** Deterministic fractional OVERSAMPLING (epoch mixing): each source
    * gets a target weight w (how many times its docs should appear per
    * training epoch — quality-weighted mixing à la Llama/GPT data
    * recipes), realized per doc as `floor(w) + (md5-frontier < frac(w))`
    * — exactly-w in expectation with ZERO randomness: the fractional
    * epoch reuses q53's portable hex-threshold membership, so the same
    * doc always gets the same repeat count and a rerun ships an
    * identical epoch. Scan-local per-doc arithmetic (the repeat plan is
    * a COLUMN, materialized by the training exporter as an explode);
    * the summary folds to a sources-sized aggregate: docs, emitted
    * copies, and the achieved epoch rate in 4-dp (exact integer ratio
    * rounded — both engines divide the same integers). */
  /** Per-source epoch weights (the curation decision — a literal here;
    * production ships it like the IVF centroids): src_i gets
    * 0.5 + (i mod 6)·0.5 ∈ {0.5 … 3.0}. Each weight PRE-COMPILES to
    * (whole copies, fractional-frontier hex) at plan build so no float
    * arithmetic survives into the dataflow: frontier = frac·65536 as a
    * 4-hex string, compared against the first 4 md5 hex digits — a
    * 16-bit uniform under a zero-padded lexicographic compare that
    * equals the numeric compare on both engines. */
  private[queries] val EpochWeights: Seq[(String, Int, String)] =
    (0 until 20).map { i =>
      val wt = 0.5 + (i % 6) * 0.5
      val whole = wt.toInt
      val thr = ((wt - whole) * 65536).toInt
      (s"src$i", whole, f"$thr%04x")
    }

  val q111: Q = (s, d) => {
    val wholeM = typedLit(EpochWeights.map(w => w._1 -> w._2.toLong).toMap)
    val thrM = typedLit(EpochWeights.map(w => w._1 -> w._3).toMap)
    val u = substring(md5(concat(lit("epoch|"), col("doc_id").cast("string"))), 1, 4)
    val repeats = (coalesce(wholeM(col("source")), lit(1L)) +
      when(u < coalesce(thrM(col("source")), lit("0000")), 1L).otherwise(0L))
      .as("repeats")
    t(s, d, "documents").select(col("source"), repeats)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("repeats")).as("n_copies"))
      .withColumn("epoch_rate",
        round(col("n_copies").cast("double") / col("n_docs"), 4))
      .orderBy(col("source"))
  }

  val q111Sql: String = {
    val rows = EpochWeights.map { case (s0, w0, t0) => s"('$s0', $w0, '$t0')" }
      .mkString(", ")
    s"""WITH w(source, whole, thr) AS (VALUES $rows),
       |r AS (SELECT d.source,
       |        CAST(coalesce(w.whole, 1) AS BIGINT)
       |        + CASE WHEN substr(md5('epoch|' || CAST(d.doc_id AS VARCHAR)), 1, 4)
       |                    < coalesce(w.thr, '0000') THEN 1 ELSE 0 END AS repeats
       |      FROM documents d LEFT JOIN w ON d.source = w.source)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(repeats) AS BIGINT) AS n_copies,
       |       round(CAST(sum(repeats) AS DOUBLE) / count(*), 4) AS epoch_rate
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- Q112
  /** KMV (k-minimum-values / theta) sketch source-overlap estimation —
    * q108's APPROXIMATE sibling for when the source count makes the
    * exact hash join uneconomical (10⁴ crawl snapshots = 10⁸ pairs of
    * full sketches vs 64 hashes each): per source keep the k = 64
    * smallest content-hash values ([[graft.operators.MinKByStringAgg]]
    * again — the sampler IS the sketch; Bar-Yossef et al. 2002), merge
    * pairwise by taking the k smallest of the union (the classic
    * mergeable-theta property), estimate |A| as (k−1)/θ with θ = the
    * k-th smallest as a fraction, and |A∩B| by inclusion-exclusion.
    * Distinct-count sketches are usually rows-only (q47/q71/q79 — no
    * cross-engine HLL), but KMV on md5 is fully DETERMINISTIC and its
    * θ fraction is EXACT in both engines: the first 13 hex digits are
    * a 52-bit integer (exact in a double) divided by 16¹³ = 2⁵² (a
    * power of two — exponent shift, no rounding), so the estimator
    * replays in DuckDB digit for digit and the sketch family gets its
    * first oracle-EXACT member. Sources holding fewer than k distinct
    * values take the exact path (the sketch is the full value set).
    * One scan + one O(sources × k) aggregate; the pairwise stage is
    * sources²-sized arithmetic on 64-element arrays. */
  val q112: Q = (s, d) => {
    val k = 64
    val twoTo52 = 4503599627370496.0 // 16^13, the θ denominator
    def thetaFrac(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      conv(substring(h, 1, 13), 16, 10).cast("double") / lit(twoTo52)
    def est(n: org.apache.spark.sql.Column, theta: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(n < k, n.cast("double")).otherwise(lit((k - 1).toDouble) / thetaFrac(theta))
    // the sketch relation is SOURCES-sized (64 hashes per source) and
    // both pair sides read it — the cheap-pin case (q63's corpus-sized
    // pin measured slower; this one is a few KB)
    val sk = graft.core.Pins.pin(t(s, d, "documents")
      .select(col("source"), md5(concat(lit("kmv|"), col("text"))).as("h"))
      .distinct()
      .groupBy(col("source"))
      .agg(graft.operators.TopK.minKByString(k)(col("h"), lit(0L)).as("sk"))
      .select(col("source"), transform(col("sk"), p => p.getField("_1")).as("hs"))
      .withColumn("n", size(col("hs")))
      .withColumn("theta", element_at(col("hs"), col("n"))))
    val a = sk.select(col("source").as("source_a"), col("hs").as("ha"),
      col("n").as("na"), col("theta").as("ta"))
    val b = sk.select(col("source").as("source_b"), col("hs").as("hb"),
      col("n").as("nb"), col("theta").as("tb"))
    a.crossJoin(b).filter(col("source_a") < col("source_b"))
      .withColumn("merged", slice(array_sort(array_union(col("ha"), col("hb"))), 1, k))
      .withColumn("nu", size(col("merged")))
      .withColumn("tu", element_at(col("merged"), col("nu")))
      .select(col("source_a"), col("source_b"),
        round(est(col("na"), col("ta")), 4).as("est_a"),
        round(est(col("nb"), col("tb")), 4).as("est_b"),
        round(est(col("nu"), col("tu")), 4).as("est_union"),
        round(est(col("na"), col("ta")) + est(col("nb"), col("tb"))
          - est(col("nu"), col("tu")), 4).as("est_overlap"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val q112Sql: String =
    """WITH ds AS (SELECT DISTINCT source, md5('kmv|' || text) AS h FROM documents),
      |rk AS (SELECT source, h,
      |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |       FROM ds),
      |sk AS (SELECT source, h FROM rk WHERE rn <= 64),
      |cnt AS (SELECT source, count(*) AS n, max(h) AS theta FROM sk GROUP BY source),
      |pairs AS (SELECT a.source AS source_a, a.n AS na, a.theta AS ta,
      |                 b.source AS source_b, b.n AS nb, b.theta AS tb
      |          FROM cnt a JOIN cnt b ON a.source < b.source),
      |uh AS (SELECT p.source_a, p.source_b, s.h
      |       FROM pairs p JOIN sk s ON s.source IN (p.source_a, p.source_b)
      |       GROUP BY 1, 2, 3),
      |urk AS (SELECT source_a, source_b, h,
      |          row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn
      |        FROM uh),
      |uc AS (SELECT source_a, source_b, count(*) AS nu, max(h) AS tu
      |       FROM urk WHERE rn <= 64 GROUP BY 1, 2),
      |est AS (SELECT p.source_a, p.source_b,
      |          CASE WHEN p.na < 64 THEN CAST(p.na AS DOUBLE) ELSE 63.0 /
      |            (list_sum(list_transform(generate_series(1, 13), i ->
      |               CAST(strpos('0123456789abcdef', substr(p.ta, i, 1)) - 1 AS DOUBLE)
      |               * power(16.0, 13 - i))) / 4503599627370496.0) END AS ea,
      |          CASE WHEN p.nb < 64 THEN CAST(p.nb AS DOUBLE) ELSE 63.0 /
      |            (list_sum(list_transform(generate_series(1, 13), i ->
      |               CAST(strpos('0123456789abcdef', substr(p.tb, i, 1)) - 1 AS DOUBLE)
      |               * power(16.0, 13 - i))) / 4503599627370496.0) END AS eb,
      |          CASE WHEN u.nu < 64 THEN CAST(u.nu AS DOUBLE) ELSE 63.0 /
      |            (list_sum(list_transform(generate_series(1, 13), i ->
      |               CAST(strpos('0123456789abcdef', substr(u.tu, i, 1)) - 1 AS DOUBLE)
      |               * power(16.0, 13 - i))) / 4503599627370496.0) END AS eu
      |        FROM pairs p JOIN uc u USING (source_a, source_b))
      |SELECT source_a, source_b,
      |       round(ea, 4) AS est_a, round(eb, 4) AS est_b,
      |       round(eu, 4) AS est_union, round(ea + eb - eu, 4) AS est_overlap
      |FROM est ORDER BY source_a, source_b""".stripMargin

  // --------------------------------------------------------------- Q156
  /** KMV approximate DISTINCT COUNT per group — q47's semantics
    * (distinct users per event type) re-based from HLL++ onto the
    * deterministic md5-KMV estimator so the query joins the
    * oracle-EXACT family (q112/q130's pattern): the k = 64 smallest
    * distinct hash values per group ARE the sketch, |A| ≈ (k−1)/θ with
    * θ the k-th smallest hash as an exact power-of-two fraction, and
    * every step replays digit-for-digit in DuckDB. Unlike q112 (which
    * pre-`distinct()`s before the non-deduping min-k sampler), the
    * dedup here is INSIDE the aggregate ([[graft.operators.KmvSketchAgg]]):
    * one partial-aggregable scan, map-side buffers capped at k, the
    * shuffle carries O(groups × 64) hashes — strictly less machinery
    * than exact count-distinct's full-key shuffle, which is the whole
    * reason to sketch at 100 TB. Groups under k distinct take the
    * exact path (the sketch IS the value set). q47 (HLL++) stays
    * declared as the engine-native fast path; this is the same answer
    * with a cross-engine-checkable estimator. */
  val q156: Q = (s, d) => {
    val k = 64
    val twoTo52 = 4503599627370496.0 // 16^13, the θ denominator
    def thetaFrac(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      conv(substring(h, 1, 13), 16, 10).cast("double") / lit(twoTo52)
    val sk = t(s, d, "events")
      .select(col("event_type"),
        md5(concat(lit("kmv|"), col("user_id").cast("string"))).as("h"))
      .groupBy(col("event_type"))
      .agg(graft.operators.TopK.kmvSketch(k)(col("h")).as("hs"))
      .withColumn("n", size(col("hs")).cast("long"))
      .withColumn("theta", element_at(col("hs"), size(col("hs"))))
    sk.select(col("event_type"),
        round(when(col("n") < k, col("n").cast("double"))
          .otherwise(lit((k - 1).toDouble) / thetaFrac(col("theta"))), 4)
          .as("est_users"))
      .orderBy(col("event_type"))
  }

  val q156Sql: String =
    """WITH ds AS (SELECT DISTINCT event_type,
      |              md5('kmv|' || CAST(user_id AS VARCHAR)) AS h FROM events),
      |rk AS (SELECT event_type, h,
      |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |       FROM ds),
      |cnt AS (SELECT event_type, count(*) AS n, max(h) AS theta
      |        FROM rk WHERE rn <= 64 GROUP BY event_type)
      |SELECT event_type,
      |       round(CASE WHEN n < 64 THEN CAST(n AS DOUBLE) ELSE 63.0 /
      |         (list_sum(list_transform(generate_series(1, 13), i ->
      |            CAST(strpos('0123456789abcdef', substr(theta, i, 1)) - 1 AS DOUBLE)
      |            * power(16.0, 13 - i))) / 4503599627370496.0) END, 4) AS est_users
      |FROM cnt ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q113
  /** Temporal BURST detection (the monitoring family's spike alarm —
    * q68/q86 watch the value DISTRIBUTION shift, q90 flags outlier
    * rows; nothing watched the event RATE): per hour, the z-score of
    * the event count against the trailing-24-hour baseline, flagged at
    * z ≥ 3 with at least half a day of history. Exactness discipline:
    * everything through the window is INTEGER (count, Σn, Σn², history
    * rows — order-invariant long sums, so the engines' different
    * within-frame summation orders cannot diverge), and the one float
    * expression (mean, variance, √, z) is written IDENTICALLY on both
    * sides over those exact integers — deterministic IEEE ops on
    * identical inputs, rounded at 4 dp. Scale shape: the corpus-sized
    * work is ONE partial-aggregable (hour) count; the trailing window
    * rides the HOURS relation — model-sized for any horizon (a decade
    * is 87k rows) — so the unpartitioned ORDER BY window is a
    * deliberate single-partition pass over a tiny series, not a data
    * shuffle. Long arithmetic holds to ~10⁸ events/hour (s² < 2⁶³);
    * past that the counts pre-scale, the z semantics unchanged. */
  val q113: Q = (s, d) => {
    val hours = t(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val frame = Window.orderBy(col("h")).rowsBetween(-24, -1)
    val zExpr = (col("n").cast("double") - col("s").cast("double") / col("cnt")) /
      sqrt((col("ssq").cast("double") - col("s").cast("double") * col("s") / col("cnt")) / col("cnt"))
    hours
      .withColumn("s", sum(col("n")).over(frame))
      .withColumn("ssq", sum(col("n") * col("n")).over(frame))
      .withColumn("cnt", count(lit(1)).over(frame))
      .filter(col("cnt") >= 12 && col("ssq") * col("cnt") > col("s") * col("s"))
      .select(col("h"), col("n"),
        round(col("s").cast("double") / col("cnt"), 4).as("baseline"),
        round(zExpr, 4).as("z"),
        (zExpr >= 3.0).cast("int").as("burst"))
      .orderBy(col("h"))
  }

  val q113Sql: String =
    """WITH hours AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n
      |               FROM events GROUP BY 1),
      |w AS (SELECT h, n,
      |        sum(n) OVER fr AS s,
      |        sum(n * n) OVER fr AS ssq,
      |        count(*) OVER fr AS cnt
      |      FROM hours
      |      WINDOW fr AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT h, n,
      |       round(CAST(s AS DOUBLE) / cnt, 4) AS baseline,
      |       round((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / cnt)
      |             / sqrt((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / cnt) / cnt), 4) AS z,
      |       CAST((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / cnt)
      |            / sqrt((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / cnt) / cnt) >= 3.0
      |            AS INT) AS burst
      |FROM w WHERE cnt >= 12 AND ssq * cnt > s * s
      |ORDER BY h""".stripMargin

  // --------------------------------------------------------------- Q177
  /** K-HOP CONTAMINATION CLOSURE — the takedown/quarantine operator:
    * a source is found benchmark-tainted (here: every `src0` doc), and
    * the removal set must include everything within 2 near-dup HOPS of
    * it, because contamination propagates through near-duplicates the
    * same way test-set leakage does (q109's lesson, pointed at
    * governance instead of splitting). This is bounded-depth BFS, not
    * q52's full transitive closure: each round is ONE frontier-sized
    * join against the stored pair artifact plus an anti-join on the
    * visited set — at 100 TB the edges are the memoized LSH pair list
    * (bucketed by endpoint at ingest) and per-round cost tracks the
    * FRONTIER, never the corpus. Output: (doc_id, hop = min distance),
    * hop 0 = the seed source. The oracle derives the same closure from
    * the replayed q19 pair CTEs with explicit hop-1/hop-2 joins — an
    * independent non-iterative formulation. */
  val q177: Q = (s, d) => {
    val edges = {
      val p = lshPairsFor(s, d).select(col("a_id"), col("b_id"))
      p.select(col("a_id").as("u"), col("b_id").as("v"))
        .unionByName(p.select(col("b_id").as("u"), col("a_id").as("v")))
    }
    val seeds = graft.core.Pins.pin(t(s, d, "documents")
      .filter(col("source") === "src0").select(col("doc_id")))
    val h1 = graft.core.Pins.pin(
      edges.join(seeds.withColumnRenamed("doc_id", "u"), "u")
        .select(col("v").as("doc_id")).distinct()
        .join(seeds, Seq("doc_id"), "left_anti"))
    val h2 = edges.join(h1.withColumnRenamed("doc_id", "u"), "u")
      .select(col("v").as("doc_id")).distinct()
      .join(seeds, Seq("doc_id"), "left_anti")
      .join(h1, Seq("doc_id"), "left_anti")
    seeds.select(col("doc_id"), lit(0L).as("hop"))
      .unionByName(h1.select(col("doc_id"), lit(1L).as("hop")))
      .unionByName(h2.select(col("doc_id"), lit(2L).as("hop")))
      .orderBy(col("doc_id"))
  }

  val q177Sql: String = {
    val sigCols = Seeds.map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i").mkString(", ")
    val bandCond = (0 until 4).map(b =>
      s"(a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1})").mkString(" OR ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
       |seeds AS (SELECT doc_id FROM documents WHERE source = 'src0'),
       |h1 AS (SELECT DISTINCT e.v AS doc_id FROM edges e
       |       JOIN seeds s ON e.u = s.doc_id
       |       WHERE e.v NOT IN (SELECT doc_id FROM seeds)),
       |h2 AS (SELECT DISTINCT e.v AS doc_id FROM edges e
       |       JOIN h1 ON e.u = h1.doc_id
       |       WHERE e.v NOT IN (SELECT doc_id FROM seeds)
       |         AND e.v NOT IN (SELECT doc_id FROM h1))
       |SELECT doc_id, CAST(0 AS BIGINT) AS hop FROM seeds
       |UNION ALL SELECT doc_id, CAST(1 AS BIGINT) FROM h1
       |UNION ALL SELECT doc_id, CAST(2 AS BIGINT) FROM h2
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- Q183
  /** VIDEO frame-level dedup — the third modality beside q83's images
    * and q96's audio, exercising the frame-SAMPLE path end to end: a
    * corpus of synthesized "videos" (4 fixed-width 256-byte frames
    * each, drawn from a shared pool — each block of 4 docs yields 4
    * videos that share the same frames in rotated order, the CDN
    * storage-dedup scenario) runs through the REAL operator chain
    * `MediaOps.decode → sampleFrames(4)` — the codec slices the
    * payload bytes, NOT the synthesis — then per-frame md5 fingerprints
    * fold to the storage-dedup verdict (total vs distinct frames, ppm
    * saved). The oracle never assembles a video: it fingerprints the
    * pool chunks directly, so agreement PROVES the byte-level frame
    * slicing recovered the constituent frames exactly. Payload bytes
    * stay inside their task through decode/sample (mapPartitions, no
    * shuffle); the only payload-carrying exchange is the synthesis
    * assembly itself, which production replaces with stored video
    * columns. */
  val q183: Q = (s, d) => {
    import s.implicits._
    val docs = t(s, d, "documents")
    val chunks = docs.select(col("doc_id").as("src"),
      rpad(col("text"), 256, " ").as("chunk"))
    // COMPLETE 4-doc blocks only: in a partial trailing block (doc
    // count ∤ 4) some rotated src doesn't exist, the inner join drops
    // that frame, and the assembled 3-chunk payload re-slices into
    // 192-byte frames the oracle's pool has never seen — the round-12
    // sf1.0 gate caught exactly that at 15811 docs (9 phantom distinct
    // frames). Both engines now declare the same domain.
    val lim = broadcast(docs.agg(
      (count(lit(1)) - count(lit(1)) % 4).as("lim")))
    val videos = docs.select(col("doc_id").as("vid"))
      .crossJoin(lim).filter(col("vid") < col("lim")).drop("lim")
      .withColumn("j", explode(expr("sequence(0, 3)")))
      .withColumn("src", expr("(vid div 4) * 4 + (vid + j) % 4"))
      .join(chunks, "src")
      .groupBy(col("vid"))
      .agg(array_join(expr("transform(array_sort(collect_list(struct(j, chunk))), x -> x.chunk)"), "")
        .as("video"))
    val raw = videos
      .select(col("vid"), lit("video").as("kind"),
        encode(col("video"), "UTF-8").as("content"))
      .as[(Long, String, Array[Byte])]
    val frames = graft.multimodal.MediaOps.sampleFrames(
      graft.multimodal.MediaOps.decode(raw), 4)
    frames.toDF()
      .select(col("mediaId"), md5(col("content")).as("h"))
      .agg(countDistinct(col("mediaId")).as("n_videos"),
        count(lit(1)).as("n_frames"),
        countDistinct(col("h")).as("n_distinct_frames"))
      .select(col("n_videos"), col("n_frames"), col("n_distinct_frames"),
        expr("(1000000 * (n_frames - n_distinct_frames)) div n_frames")
          .as("saved_ppm"))
  }

  val q183Sql: String =
    """WITH ch AS (SELECT doc_id AS src, rpad(text, 256, ' ') AS chunk
      |            FROM documents),
      |lim AS (SELECT CAST(count(*) - count(*) % 4 AS BIGINT) AS l
      |        FROM documents),
      |vf AS (SELECT d.doc_id AS vid, i.j,
      |         (d.doc_id // 4) * 4 + (d.doc_id + i.j) % 4 AS src
      |       FROM documents d, (SELECT unnest(generate_series(0, 3)) AS j) i,
      |            lim
      |       WHERE d.doc_id < lim.l),
      |f AS (SELECT vf.vid, md5(ch.chunk) AS h FROM vf JOIN ch USING (src))
      |SELECT CAST(count(DISTINCT vid) AS BIGINT) AS n_videos,
      |       CAST(count(*) AS BIGINT) AS n_frames,
      |       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_frames,
      |       (1000000 * (CAST(count(*) AS BIGINT) - count(DISTINCT h)))
      |         // CAST(count(*) AS BIGINT) AS saved_ppm
      |FROM f""".stripMargin

  // --------------------------------------------------------------- Q206
  /** READABILITY scoring, exact (Flesch–Kincaid grade beside q102's
    * Gopher gate and q105's perplexity buckets — the third curation
    * axis: structural complexity): per document, words (space
    * tokens), sentences (max(1, terminal-punctuation count) — the
    * defined-everywhere convention), syllables by the standard
    * vowel-GROUP heuristic ([aeiouy]+ runs; token boundaries break
    * runs, so the whole-text count IS the per-word sum), and complex
    * words (≥ 3 vowel groups, the Gunning-fog ingredient). The FK
    * grade 0.39·W/S + 11.8·Syl/W − 15.59 is emitted ×100 as the
    * EXACT RATIONAL fkg_num/fkg_den = (39·W² + 1180·Syl·S −
    * 1559·S·W) / (S·W) — the numerator can be NEGATIVE for trivial
    * docs, so no integer floor is ever taken (div and // diverge on
    * negatives, the q194 discipline): the reading-level BAND
    * classifies by sign-safe cross-multiplied comparisons (< 6th
    * grade, middle, high, college at 600/1000/1300 centi-grades).
    * Everything is scan-local scalar work (one regexp pass per
    * field + one `aggregate` HOF over the token array — no explode,
    * no join); the only exchange is the output sort. 100 TB: a pure
    * map stage, partition-count is the dial. */
  val q206: Q = (s, d) => {
    t(s, d, "documents")
      .select(col("doc_id"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_words"),
        expr("greatest(CAST(1 AS BIGINT), CAST(regexp_count(text, '[.!?]') AS BIGINT))")
          .as("n_sents"),
        expr("CAST(regexp_count(text, '[aeiouy]+') AS BIGINT)").as("n_syll"),
        expr("""aggregate(split(text, ' '), CAST(0 AS BIGINT),
                 (a, t) -> a + CASE WHEN regexp_count(t, '[aeiouy]+') >= 3
                                    THEN 1 ELSE 0 END)""").as("n_complex"))
      .withColumn("fkg_num",
        lit(39L) * col("n_words") * col("n_words")
          + lit(1180L) * col("n_syll") * col("n_sents")
          - lit(1559L) * col("n_sents") * col("n_words"))
      .withColumn("fkg_den", col("n_sents") * col("n_words"))
      .withColumn("band",
        when(col("fkg_num") < lit(600L) * col("fkg_den"), 0)
          .when(col("fkg_num") < lit(1000L) * col("fkg_den"), 1)
          .when(col("fkg_num") < lit(1300L) * col("fkg_den"), 2)
          .otherwise(3))
      .orderBy(col("doc_id"))
  }

  val q206Sql: String =
    """WITH m AS (SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |         greatest(CAST(1 AS BIGINT),
      |           CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT)) AS n_sents,
      |         CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS n_syll,
      |         CAST(list_sum(list_transform(string_split(text, ' '),
      |           t -> CASE WHEN len(regexp_extract_all(t, '[aeiouy]+')) >= 3
      |                     THEN 1 ELSE 0 END)) AS BIGINT) AS n_complex
      |       FROM documents),
      |g AS (SELECT *,
      |        39 * n_words * n_words + 1180 * n_syll * n_sents
      |          - 1559 * n_sents * n_words AS fkg_num,
      |        n_sents * n_words AS fkg_den
      |      FROM m)
      |SELECT doc_id, n_words, n_sents, n_syll, n_complex, fkg_num, fkg_den,
      |       CAST(CASE WHEN fkg_num < 600 * fkg_den THEN 0
      |                 WHEN fkg_num < 1000 * fkg_den THEN 1
      |                 WHEN fkg_num < 1300 * fkg_den THEN 2
      |                 ELSE 3 END AS INT) AS band
      |FROM g ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q211
  /** MMR DIVERSIFIED top-k (Carbonell & Goldstein '98 — the
    * redundancy-aware retrieval every RAG stack reranks with; the
    * pure-relevance top-k of q17/q30 returns near-duplicates, MMR
    * trades them for coverage): greedily pick 8 of the top-32
    * relevance candidates, each step maximizing score = λ·rel −
    * (1−λ)·max-sim-to-already-picked. λ = 1/2 makes the 2-SCALED
    * score the pure INTEGER rel − maxsim (the dyadic-λ trick, q205's
    * discipline) over globally quantized dots (round(x·1000), q200's
    * discipline) — no float score, ties broken by vec_id, so the
    * greedy trajectory is bit-reproducible. The ORACLE replays the
    * same greedy as a DuckDB RECURSIVE CTE with a LATERAL argmax —
    * an independent mechanism for the sequential dependency. Greedy
    * is INHERENTLY sequential (pick i depends on 1..i−1): ONE
    * corpus-sized job computes the relevance scan + top-32 shortlist;
    * the shortlist (vectors included — the q85/BPE model-sized
    * driver-train precedent, 32 rows) crosses the driver once and the
    * greedy replays in driver Scala with the SAME quantized BIGINT
    * dots and the SAME (score2 desc, vec_id) tie-break, so the
    * trajectory is bit-identical to the r13 form that ran it as 8
    * driver-sequenced one-row argmax jobs (~10 job dispatches for 8
    * rows — pure dispatch floor, measured 1.1 s → one job).
    * 100 TB shape: the corpus-sized work is ONE relevance
    * scan + top-k (at scale the IVF/LSH shortlist feeds candidates,
    * as with q76); everything sequential is shortlist-sized. */
  val q211: Q = (s, d) => {
    import s.implicits._
    val dot = "CAST(aggregate(zip_with(%s, %s, (a, b) -> a * b), " +
      "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS BIGINT)"
    val vq = t(s, d, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("v"))
    val probe = vq.filter(col("vec_id") === 0).select(col("v").as("pv"))
    val cand = vq.crossJoin(broadcast(probe))
      .select(col("vec_id"), col("v"), expr(dot.format("v", "pv")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(32)
      .as[(Long, Seq[Long], Long)].collect()
    // ragged-input guard (r14 ADVICE): the SQL `dot` above null-pads
    // mismatched lengths to a NULL sum while `ldot` truncates — equal
    // dims on the shortlist is the invariant that keeps the driver
    // greedy's penalties bit-identical to the relevance scan's, so a
    // violation must fail loudly here, not diverge silently downstream
    require(cand.map(_._2.length).distinct.size <= 1,
      s"q211: ragged embedding dims on the shortlist " +
        s"(${cand.map(_._2.length).distinct.sorted.mkString(",")}) — the " +
        "quantized-dot arithmetic assumes fixed-dimension vectors")
    // exact integer dot — identical to the quantized BIGINT `dot` expr
    // above (same Long mult-add, no float anywhere)
    def ldot(a: Seq[Long], b: Seq[Long]): Long = {
      val n = math.min(a.length, b.length)
      var i = 0; var acc = 0L
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val pickedV = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    var remaining = cand.toList
    var step = 1
    while (step <= 8 && remaining.nonEmpty) {
      // score2 = rel − max-sim-to-picked (0-penalty on the first pick);
      // argmax by (score2 desc, vec_id asc) — the r13 tie-break verbatim
      val best = remaining.map { case (id, v, rel) =>
        val pen = if (pickedV.isEmpty) 0L else pickedV.map(ldot(v, _)).max
        (id, v, rel, rel - pen)
      }.minBy { case (id, _, _, s2) => (-s2, id) }
      rows += ((step.toLong, best._1, best._3, best._4))
      pickedV += best._2
      remaining = remaining.filterNot(_._1 == best._1)
      step += 1
    }
    rows.toSeq.toDF("step", "vec_id", "rel", "score2").orderBy(col("step"))
  }

  val q211Sql: String =
    """WITH RECURSIVE
      |q AS (SELECT list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |      FROM embeddings WHERE vec_id = 0),
      |vq AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |       FROM embeddings),
      |rel AS (SELECT vq.vec_id, vq.v,
      |          CAST(list_sum(list_transform(range(1, len(vq.v) + 1),
      |            i -> vq.v[i] * q.v[i])) AS BIGINT) AS rel
      |        FROM vq, q),
      |cand AS (SELECT vec_id, v, rel FROM rel
      |         ORDER BY rel DESC, vec_id LIMIT 32),
      |sims AS (SELECT a.vec_id AS aid, b.vec_id AS bid,
      |           CAST(list_sum(list_transform(range(1, len(a.v) + 1),
      |             i -> a.v[i] * b.v[i])) AS BIGINT) AS sim
      |         FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
      |gr AS (
      |  SELECT 0 AS step, CAST(NULL AS BIGINT) AS vec_id,
      |         CAST(NULL AS BIGINT) AS rel, CAST(NULL AS BIGINT) AS score2,
      |         CAST([] AS BIGINT[]) AS picked
      |  UNION ALL
      |  SELECT step + 1, pick.vec_id, pick.rel, pick.score2,
      |         list_append(picked, pick.vec_id)
      |  FROM gr, LATERAL (
      |    SELECT c.vec_id, c.rel,
      |           c.rel - coalesce((SELECT max(s.sim) FROM sims s
      |               WHERE s.aid = c.vec_id
      |                 AND list_contains(gr.picked, s.bid)), 0) AS score2
      |    FROM cand c WHERE NOT list_contains(gr.picked, c.vec_id)
      |    ORDER BY score2 DESC, c.vec_id LIMIT 1) pick
      |  WHERE step < 8)
      |SELECT CAST(step AS BIGINT) AS step, vec_id, rel, score2
      |FROM gr WHERE step > 0 ORDER BY step""".stripMargin

  // --------------------------------------------------------------- Q230
  /** COLLOCATION mining by exact LIFT — which word pairs co-occur as
    * bigrams far above their unigram chance rate (the phrase-detection
    * primitive tokenizer pipelines run before BPE merges and quality
    * filters run for boilerplate phrases; q148's association rules do
    * this for baskets, q89's LM scores docs — this ranks the PAIRS).
    * lift(w₁w₂) = P(w₁w₂)/(P(w₁)P(w₂)) = c_b·U² / (B·c₁·c₂) over
    * bigram count c_b (corpus bigram total B) and unigram counts c₁,
    * c₂ (total U) — all exact BIGINT folds: one tokenize scan per
    * grain (unigram + bigram — they tokenize differently; both are
    * map-side-combinable single passes and the joined relations are
    * VOCABULARY-sized, Heaps-bounded, so both model sides broadcast
    * into the bigram relation), the ratio lifted to
    * DECIMAL(38,0)/HUGEINT (c_b·U²
    * ~ 10¹⁶ at this SF, past 2⁶³ at ~30× — the established lift
    * discipline) and floored to ppm (non-negative, div ≡ //). Top 20
    * by (lift desc, bigram asc) — the deterministic report. */
  val q230: Q = (s, d) => {
    val dec = "decimal(38,0)"
    val toks = graft.core.Pins.pin(
      t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cu")))
    val uniTot = toks.agg(sum(col("cu")).as("u"))
    val bg = t(s, d, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .groupBy(col("p.w1"), col("p.w2")).agg(count(lit(1)).as("cb"))
    val bgTot = bg.agg(sum(col("cb")).as("b"))
    bg.join(broadcast(toks.withColumnRenamed("w", "w1")
        .withColumnRenamed("cu", "c1")), Seq("w1"))
      .join(broadcast(toks.withColumnRenamed("w", "w2")
        .withColumnRenamed("cu", "c2")), Seq("w2"))
      .crossJoin(broadcast(uniTot)).crossJoin(broadcast(bgTot))
      .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"),
        col("cb"), col("c1"), col("c2"),
        expr(s"CAST(cb AS $dec) * u * u * 1000000" +
          s" div (CAST(b AS $dec) * c1 * c2)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("bigram"))
      .limit(20)
  }

  val q230Sql: String =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM toks GROUP BY 1),
      |ut AS (SELECT CAST(sum(cu) AS BIGINT) AS u FROM uni),
      |words AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
      |       FROM (SELECT unnest(list_transform(range(1, len(t)),
      |                      i -> struct_pack(w1 := t[i], w2 := t[i+1])),
      |                    recursive := true)
      |             FROM words)
      |       GROUP BY 1, 2),
      |bt AS (SELECT CAST(sum(cb) AS BIGINT) AS b FROM bg)
      |SELECT bg.w1 || ' ' || bg.w2 AS bigram, cb, u1.cu AS c1, u2.cu AS c2,
      |       CAST(CAST(cb AS HUGEINT) * u * u * 1000000
      |            // (CAST(b AS HUGEINT) * u1.cu * u2.cu) AS BIGINT) AS lift_ppm
      |FROM bg JOIN uni u1 ON bg.w1 = u1.w JOIN uni u2 ON bg.w2 = u2.w, ut, bt
      |ORDER BY lift_ppm DESC, bigram LIMIT 20""".stripMargin

  // --------------------------------------------------------------- Q245
  /** DETERMINISTIC NEGATIVE SAMPLING — the contrastive-training prep
    * step (k negatives per user for a two-tower/embedding model; the
    * sampling shelf covers uniform q46 / weighted q221 / stratified
    * q53 / quota q139 — this one is EXCLUSION-constrained): for each
    * purchasing customer, the 3 catalog parts RANKED FIRST by the
    * md5-52-bit hash of (user, part) that the customer never bought.
    * The hash seam (q46/q221/q235/q242) makes the draw reproducible,
    * uniform over the catalog, per-user independent, and exactly
    * replayable in the oracle — no RNG state exists anywhere. The
    * DECLARED semantics carry BOTH scale disciplines this query
    * exists to demonstrate:
    *  - the pairwise hash is the ADDITIVE COMBINATION h(u,p) =
    *    (a_u + b_p) mod 2⁵² of per-entity md5-52-bit hashes — the
    *    2-universal construction that computes |users| + |catalog|
    *    digests instead of |users|·|catalog| (a per-pair md5 measured
    *    210 s at 30 M pairs ON EACH ENGINE — the digest, not the
    *    join, was the wall; the pairwise term is now codegen'd
    *    integer arithmetic). Uniform per pair, deterministic,
    *    replayable; pairwise independence is the 2-universal
    *    guarantee, exactly what threshold sampling needs.
    *  - candidates are the hash-sampled pool h < 2⁵²·64/|catalog| —
    *    expected 64 per user at ANY catalog size, so the pool, not
    *    the catalog, feeds the per-user ranking window. Ranking
    *    inside the pool equals ranking the catalog unless a user's
    *    pool minus positives runs dry (P ≈ Poisson(64) < 3 ≈ 10⁻²⁰ —
    *    deterministically CHECKABLE: the spec asserts every buyer's
    *    pool covers its 3 ranks on the actual corpus, and the oracle
    *    states the identical filter).
    * Candidate GENERATION is interval lookup, not enumeration: the
    * additive structure gives (a_u + b_p) mod 2⁵² < T ⟺ b_p lies in
    * the wrap-around interval [−a_u mod 2⁵², +T) — so the catalog is
    * bucketed by b_p range (power-of-two width W chosen from |catalog|
    * so E[parts/bucket] ≈ 64) and each user explodes to only the ≤
    * ⌈T/W⌉+1 ≈ 2 buckets its interval covers (the q58/q173
    * exploded-bucket equi-join discipline). Evaluated pairs per user
    * are ~T/W·(np·W/2⁵²) + np·W/2⁵² ≈ 128 at ANY catalog size —
    * output-bound, never |U|×|P| (the round-8 form broadcast the full
    * catalog to every user: 30 M codegen'd adds at sf0.1, ~3×10¹¹ at
    * 100×). The exact h < T filter runs on the survivors only.
    * Positives exclude by LeftAnti AFTER the pool filter (set
    * difference commutes); rank = row_number over (h, part) — a total
    * order. */
  val q245: Q = (s, d) => {
    // the positive-pair relation folds to PER-USER purchase sets
    // (collect_set — bounded by a user's history, not the corpus);
    // buyers ARE posSets' keys, the set rides along through candidate
    // generation (scan-local explode + broadcast probe preserve the
    // custkey partitioning), exclusion is an array_contains filter,
    // and the rank window reuses the SAME partitioning — ONE
    // fact-sized Exchange total, no (user, part) pair-key shuffle
    // (r14: an explicit pre-fold repartition — the q297 discipline —
    // A/B'd NEUTRAL here (best 1.48 vs 1.54); reverted to keep the
    // map-side partial collapse the raw-row exchange forfeits at scale.
    // r15: a round-robin spread of the single-split lineitem scan —
    // keeping the fold exchange AND partial agg — A/B'd NEUTRAL too
    // (best 1.491 vs 1.494 over 7 alternating reps): the wall is the
    // collect_set ObjectHashAggregate itself, which the r15 leg probe
    // puts at 0.66-0.82 s of the 1.5 s warm total, not scan
    // parallelism. Both spread variants stay out.)
    val posSets = t(s, d, "orders")
      .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(collect_set(col("l_partkey")).as("pset"))
    val parts = t(s, d, "part").select(col("p_partkey"))
    // the ONLY driver-side value is |catalog| — read from table
    // statistics (parquet footers), NOT a count() job; it fixes the
    // threshold T and the power-of-two bucket width W as literals so
    // the whole candidate stage is codegen'd integer arithmetic
    val npv = Tables.rowCount(s, d, "part")
    val M = 4503599627370496L // 2^52
    val T = math.min(M, M * 64 / npv) // M*64 = 2^58 fits a Long; cap at M when npv ≤ 64
    // W = 2^k with 2^52/W buckets, k chosen so E[parts/bucket] ≈ 8:
    // probe rows/user ≈ 64 + ppb and explode rows/user ≈ 64/ppb + 1,
    // so ppb = 8 balances the (cheap) explode against the (filtered)
    // probe — measured 2× fewer evaluated pairs than ppb = 64.
    // k = 55 - floor(log2(npv)), clamped to [0, 52]
    val k = math.min(52L, math.max(0L,
      55L - (63 - java.lang.Long.numberOfLeadingZeros(npv)))).toInt
    val W = 1L << k
    val nB = M / W
    def h52(prefix: String, c: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(prefix), c.cast("string"))), 1, 13),
        16, 10).cast("long")
    // per-ENTITY digests only (catalog-sized + buyers-sized); each
    // buyer's wrap-around interval [lo, lo+T) covers ≤ ⌈T/W⌉+1 range
    // buckets — explode to those bucket ids (mod nB handles the wrap
    // exactly because 2^52 is a multiple of W) and equi-join the
    // bucketed broadcast catalog: a BroadcastHashJoin whose probe
    // volume is the COVERED buckets' parts, not the catalog
    val partsB = parts.withColumn("bp", h52("p|", col("p_partkey")))
      .withColumn("__bk", expr(s"bp div ${W}L"))
    val cand = posSets.withColumn("au", h52("u|", col("o_custkey")))
      .withColumn("lo", pmod(-col("au"), lit(M)))
      .withColumn("__bk", explode(array_distinct(expr(
        s"transform(sequence(lo div ${W}L, (lo + ${T - 1}L) div ${W}L)," +
          s" b -> pmod(b, ${nB}L))"))))
      .join(broadcast(partsB), Seq("__bk"))
      .withColumn("h", pmod(col("au") + col("bp"), lit(M)))
      .filter(col("h") < lit(T) && !array_contains(col("pset"), col("p_partkey")))
      .drop("__bk", "au", "bp", "lo", "pset")
    // top-3 by (h, part) as a SORTED-SLICE AGGREGATE, not a window: a
    // row_number window would globally sort the pool-sized relation
    // (its measured wall at sf0.1); collect_list folds each user's ~64
    // candidates map-side, array_sort orders the tiny per-user array
    // (struct sort = lexicographic (h, p_partkey) — exactly the
    // window's ORDER BY, and unique per user), and the groupBy reuses
    // the posSets partitioning — no Exchange, no corpus sort
    // pin the OUTPUT-SIZED top-3 relation before the global sort: the
    // chain from posSets here is deliberately exchange-free, so the
    // range partitioner's sampling pass would otherwise re-execute the
    // whole candidate stage a second time (measured ~2× the query)
    // r10: the sorted-slice became a typed BOTTOM-k aggregate
    // ([[graft.operators.MinKByLongAgg]] at k = 3) — collect_list built
    // a pool-sized array per user row-by-row where the ≤ 3 buffer
    // O(1)-rejects once warm (the q247 buffer lesson); lexicographic
    // (h ASC, part ASC) = exactly the old slice(array_sort(...)) order,
    // unique per user
    val top3 = graft.core.Pins.pin(cand
      .groupBy(col("o_custkey"))
      .agg(graft.operators.TopK.minKByLong(3)(col("h"), col("p_partkey"))
        .as("top3"))
      .select(col("o_custkey"), posexplode(col("top3")))
      .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("neg_partkey"), col("col._1").as("h")))
    top3.orderBy(col("o_custkey"), col("rank"))
  }

  val q245Sql: String = {
    def h52(arg: String) = s"""CAST(list_sum(list_transform(generate_series(1, 13), i ->
      |      CAST(strpos('0123456789abcdef', substr(md5($arg), i, 1)) - 1
      |        AS DOUBLE) * power(16.0, 13 - i))) AS BIGINT)""".stripMargin
    s"""WITH pos AS (SELECT DISTINCT o_custkey, l_partkey
       |             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |buyers AS (SELECT DISTINCT o_custkey FROM pos),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM part),
       |bh AS (SELECT o_custkey, ${h52("'u|' || CAST(o_custkey AS VARCHAR)")} AS au
       |       FROM buyers),
       |ph AS (SELECT p_partkey, ${h52("'p|' || CAST(p_partkey AS VARCHAR)")} AS bp
       |       FROM part),
       |cand AS (SELECT b.o_custkey, p.p_partkey,
       |           (b.au + p.bp) % 4503599627370496 AS h
       |         FROM bh b CROSS JOIN ph p, np
       |         WHERE (b.au + p.bp) % 4503599627370496
       |                 < 4503599627370496 * 64 // np
       |           AND NOT EXISTS (SELECT 1 FROM pos
       |            WHERE pos.o_custkey = b.o_custkey
       |              AND pos.l_partkey = p.p_partkey)),
       |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY o_custkey
       |          ORDER BY h, p_partkey) AS BIGINT) AS rank
       |       FROM cand)
       |SELECT o_custkey, rank, p_partkey AS neg_partkey, h
       |FROM rk WHERE rank <= 3
       |ORDER BY o_custkey, rank""".stripMargin
  }

  // --------------------------------------------------------------- Q246
  /** HARD-NEGATIVE MINING over embeddings — the contrastive-training
    * refinement after q245's random negatives (the negatives that
    * MATTER are the most-similar vectors with a DIFFERENT label;
    * random ones stop teaching once the model separates classes): for
    * each probe (vec_id < 20), the top-3 nearest different-label
    * vectors by cosine, the q17/q22 brute-force eval discipline
    * (round-4 sim + (sim desc, vec_id) deterministic tiebreak — the
    * established cross-engine float boundary) with the label-mismatch
    * predicate INSIDE the candidate join so same-class rows never
    * rank. Production path: the identical label-filtered ranking over
    * IVF-cell candidates (q30/q78's stored quantizer) — this declared
    * tier is the exact ground truth the ANN tier is measured against
    * (the q22 rationale). */
  val q246: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"))
    e.join(broadcast(probes), col("label") =!= col("q_label"))
      .select(col("query_id"),
        round(graft.functions.VectorOps.cosine(col("v"), col("qv")), 4).as("sim"),
        col("vec_id"), col("label").as("neg_label"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id"), col("neg_label"),
        col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val q246Sql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |p AS (SELECT vec_id AS query_id, label AS q_label, v AS qv
      |      FROM e WHERE vec_id < 20),
      |scored AS (SELECT p.query_id, e.vec_id, e.label AS neg_label,
      |             round(list_inner_product(e.v, p.qv)
      |                   / (sqrt(list_inner_product(e.v, e.v))
      |                      * sqrt(list_inner_product(p.qv, p.qv))), 4) AS sim
      |           FROM e JOIN p ON e.label <> p.q_label),
      |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |          ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
      |       FROM scored)
      |SELECT query_id, rank, vec_id, neg_label, sim
      |FROM rk WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------------------- Q214
  /** PERCEPTUAL-HASH image dedup — aHash + hamming blocking (what
    * production image pipelines ship as pHash/PDQ's cheap tier; q83
    * is the float cosine-LSH path, this is the INTEGER path): each
    * image (the q83 deterministic 8×8 BMP synthesis, REAL codec
    * decode via [[graft.multimodal.RawCodec.bmpPixels]]) hashes to
    * 64 bits — bit i is the mean-threshold test stated as the
    * integer cross-multiplication 64·g_i > Σg, which makes the hash
    * INVARIANT under affine brightness changes (g → a·g + k flips no
    * bit while unclipped — the spec plants a +30-brightness copy and
    * gets hamming 0, where cosine similarity moves). The signature
    * lives as TWO 32-bit halves (sig_hi, sig_lo — a single 64-bit
    * BIGINT would wrap sign on bit 63 differently across engines);
    * hamming = bit_count(xor hi) + bit_count(xor lo), candidates by
    * q192's pigeonhole — 4 disjoint 16-bit blocks, radius ≤ 3 can't
    * touch all 4 — as a slim (block, value) equi-join. ORACLE:
    * DuckDB replays quantize → threshold → halves → QUADRATIC
    * hamming self-join (blocking completeness proved by equality).
    * Scale: decode + hash are scan-local; only 8-byte signatures
    * shuffle; block-count-vs-radius is the q192 dial. */
  val q214: Q = (s, d) => {
    import s.implicits._
    // corpus = every synthesized image PLUS, for every 10th image, a
    // +30-brightness re-encode (id + 10⁶) — the crawl-dup scenario
    // aHash exists for: unclipped copies land at hamming 0 (affine
    // invariance), clipped ones drift a few bits, heavily clipped
    // ones legitimately escape the radius — the found-pair set is
    // non-trivial and the quadratic oracle replays it exactly
    val sigs = graft.core.Pins.pin(
      t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])]
        .flatMap { case (id, e) =>
          val g0 = e.padTo(64, 0f).take(64).map { x =>
            val q = math.floor((x.toDouble + 1.0) * 127.5).toLong
            math.max(0L, math.min(255L, q)).toInt
          }.toArray
          def sig(gray: Array[Int]): (Long, Long) = {
            val px = gray.map(v => (v << 16) | (v << 8) | v)
            val bytes = graft.multimodal.RawCodec.writeBmp(8, 8, px)
            val (_, _, dec) = graft.multimodal.RawCodec.bmpPixels(bytes)
            val g = dec.map(_ & 0xFF)
            val sum = g.map(_.toLong).sum
            def half(lo: Int): Long = (0 until 32).map { j =>
              if (64L * g(lo + j) > sum) 1L << j else 0L
            }.sum
            (half(32), half(0))
          }
          val base = sig(g0)
          val rows = Seq((id, base._1, base._2))
          if (id % 10 == 0) {
            val bright = sig(g0.map(v => math.min(255, v + 30)))
            rows :+ ((id + 1000000L, bright._1, bright._2))
          } else rows
        }.toDF("vec_id", "sig_hi", "sig_lo"))
    val blocks = sigs.select(col("vec_id"), col("sig_hi"), col("sig_lo"),
      explode(expr(
        """array(named_struct('bi', 0, 'bv', sig_lo % 65536),
          |      named_struct('bi', 1, 'bv', sig_lo div 65536),
          |      named_struct('bi', 2, 'bv', sig_hi % 65536),
          |      named_struct('bi', 3, 'bv', sig_hi div 65536))""".stripMargin)).as("b"))
      .select(col("vec_id"), col("sig_hi"), col("sig_lo"),
        col("b.bi").as("bi"), col("b.bv").as("bv"))
    val a = blocks.select(col("bi"), col("bv"), col("vec_id").as("a_id"),
      col("sig_hi").as("ah"), col("sig_lo").as("al"))
    val b = blocks.select(col("bi"), col("bv"), col("vec_id").as("b_id"),
      col("sig_hi").as("bh"), col("sig_lo").as("bl"))
    a.join(b, Seq("bi", "bv")).filter(col("a_id") < col("b_id"))
      .withColumn("hamming",
        expr("bit_count(ah ^ bh) + bit_count(al ^ bl)").cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming")).distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  val q214Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |px AS (SELECT vec_id, v, unnest(generate_series(1, 64)) AS i FROM e),
      |q0 AS (SELECT vec_id, i,
      |         GREATEST(0, LEAST(255, CAST(floor((v[i] + 1.0) * 127.5) AS BIGINT))) AS pv
      |       FROM px),
      |q AS (SELECT vec_id, i, pv FROM q0
      |      UNION ALL
      |      SELECT vec_id + 1000000, i, LEAST(255, pv + 30)
      |      FROM q0 WHERE vec_id % 10 = 0),
      |s AS (SELECT vec_id, sum(pv) AS tot,
      |        list(pv ORDER BY i) AS g
      |      FROM q GROUP BY vec_id),
      |h AS (SELECT vec_id,
      |        CAST(list_sum(list_transform(generate_series(1, 32),
      |          j -> CASE WHEN 64 * g[j + 32] > tot
      |               THEN CAST(2 AS BIGINT) ** (j - 1) ELSE 0 END)) AS BIGINT) AS sig_hi,
      |        CAST(list_sum(list_transform(generate_series(1, 32),
      |          j -> CASE WHEN 64 * g[j] > tot
      |               THEN CAST(2 AS BIGINT) ** (j - 1) ELSE 0 END)) AS BIGINT) AS sig_lo
      |      FROM s)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |       CAST(bit_count(xor(a.sig_hi, b.sig_hi))
      |            + bit_count(xor(a.sig_lo, b.sig_lo)) AS BIGINT) AS hamming
      |FROM h a JOIN h b ON a.vec_id < b.vec_id
      |WHERE bit_count(xor(a.sig_hi, b.sig_hi))
      |        + bit_count(xor(a.sig_lo, b.sig_lo)) <= 3
      |ORDER BY a_id, b_id""".stripMargin

  /** name → (query, oracle) */
  // --------------------------------------------------------------- Q247
  /** Deterministic QUANTILE SKETCH per event type — q71's semantics
    * (p50/p95 beside the exact count) re-based from KLL-style
    * `percentile_approx` onto the BOTTOM-k-BY-HASH sampler so the
    * quantile sketch joins the oracle-EXACT family, completing the
    * sibling set (q47→q156 distinct count, q79→q130 heavy hitters,
    * q71→this): the k = 256 md5-smallest events per type ARE a uniform
    * without-replacement sample (the q110/q46 seam), mergeable by
    * construction (bottom-k of a union = bottom-k of bottom-ks — the
    * same partial-aggregable O(groups × k) shuffle as q156, where
    * percentile_approx's KLL compactions are merge-tree-dependent and
    * replay nowhere), and the estimates are DISCRETE order statistics
    * of the sample (the q90 exact-breakpoint discipline: a sampled
    * cents value is a BIGINT both engines hold bit-identically — no
    * interpolation ulp exists). Types with ≤ k events take the exact
    * path (the sample IS the stratum). Sample-vs-exact error is
    * spec-bracketed; q71 (percentile_approx) stays declared as the
    * engine-native fast path. */
  val q247: Q = (s, d) => {
    val k = 256
    val smp = t(s, d, "events")
      .select(col("event_type"),
        md5(concat(lit("qs|"), col("event_id").cast("string"))).as("h"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(graft.operators.TopK.minKByString(k)(col("h"), col("cents")).as("smp"),
        count(lit(1)).as("n"))
      .withColumn("cs", array_sort(expr("transform(smp, x -> x._2)")))
      .withColumn("m", size(col("cs")))
    smp.select(col("event_type"), col("n"),
        element_at(col("cs"),
          ceil(col("m") * lit(0.5)).cast("int")).as("p50_cents"),
        element_at(col("cs"),
          ceil(col("m") * lit(0.95)).cast("int")).as("p95_cents"))
      .orderBy(col("event_type"))
  }

  val q247Sql: String =
    """WITH h AS (SELECT event_type,
      |         md5('qs|' || CAST(event_id AS VARCHAR)) AS h,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |       FROM events),
      |rk AS (SELECT event_type, cents,
      |         row_number() OVER (PARTITION BY event_type ORDER BY h, cents) AS rn
      |       FROM h),
      |q AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m,
      |        list_sort(list(cents)) AS cs
      |      FROM rk WHERE rn <= 256 GROUP BY 1),
      |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |      FROM events GROUP BY 1)
      |SELECT q.event_type, n.n AS n,
      |       cs[CAST(ceil(m * 0.5) AS BIGINT)] AS p50_cents,
      |       cs[CAST(ceil(m * 0.95) AS BIGINT)] AS p95_cents
      |FROM q JOIN n ON q.event_type = n.event_type
      |ORDER BY q.event_type""".stripMargin

  // --------------------------------------------------------------- Q248
  /** PREFERENCE-PAIR construction — the RLHF/DPO data-prep step the
    * sampling shelf was missing (q245 builds contrastive NEGATIVES
    * against a catalog; this builds ORDERED pairs from graded
    * feedback): per user, (chosen, rejected) = the strictly
    * highest- and lowest-valued purchase events, margin = the value
    * gap. Strictness is the DPO requirement — a user whose purchases
    * all tie carries no preference signal and is dropped, stated
    * identically in both engines. Tiebreaks are the lexicographic
    * (cents, event_id) order: Spark folds min/max over the struct
    * (ONE partial-aggregable user fold — the per-user extremes
    * collapse map-side, so the shuffle carries 2 structs + a count
    * per user, never the event stream); the oracle derives the same
    * rows through row_number windows — independent mechanisms, equal
    * answers (the q110 discipline). */
  val q248: Q = (s, d) => {
    val p = t(s, d, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
    p.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        max(struct(col("cents"), col("event_id"))).as("ch"),
        min(struct(col("cents"), col("event_id"))).as("rj"))
      .filter(col("ch.cents") > col("rj.cents"))
      .select(col("user_id"), col("n_purchases"),
        col("ch.event_id").as("chosen_event"),
        col("rj.event_id").as("rejected_event"),
        (col("ch.cents") - col("rj.cents")).as("margin_cents"))
      .orderBy(col("user_id"))
  }

  val q248Sql: String =
    """WITH p AS (SELECT user_id, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |       FROM events WHERE event_type = 'purchase'),
      |hi AS (SELECT user_id, event_id, cents FROM p
      |       QUALIFY row_number() OVER (PARTITION BY user_id
      |         ORDER BY cents DESC, event_id DESC) = 1),
      |lo AS (SELECT user_id, event_id, cents FROM p
      |       QUALIFY row_number() OVER (PARTITION BY user_id
      |         ORDER BY cents ASC, event_id ASC) = 1),
      |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases
      |      FROM p GROUP BY 1)
      |SELECT n.user_id, n.n_purchases,
      |       hi.event_id AS chosen_event, lo.event_id AS rejected_event,
      |       hi.cents - lo.cents AS margin_cents
      |FROM n JOIN hi ON n.user_id = hi.user_id
      |JOIN lo ON n.user_id = lo.user_id
      |WHERE hi.cents > lo.cents
      |ORDER BY n.user_id""".stripMargin

  // --------------------------------------------------------------- Q249
  /** UNCERTAINTY SAMPLING (margin-based active learning) — which
    * unlabeled examples to send for annotation next: the 10 vectors
    * scored CLOSEST TO the q85 perceptron's decision boundary
    * (smallest |w·x + b|; a confidently-classified example teaches the
    * model nothing, the boundary cases move it — Lewis & Gale's
    * classic selection rule). The classifier is the q85 model — integer
    * weights whose 3 training rounds the oracle replays as unrolled
    * CTEs, so the scores and therefore the SELECTION are bit-exact
    * cross-engine (no other active-learning criterion has that
    * property: entropy/BALD need float probabilities). Scoring is
    * scan-local against weight literals; selection is
    * TakeOrderedAndProject(10) on (|score|, vec_id) — a total order —
    * with rank windowed over the 10 survivors only (q130's shape). */
  val q249: Q = (s, d) => {
    val model = perceptronFor(s, d)
    val raw = LinearClassifier.rawScore(col("x"), model)
    val scored = classifierBase(s, d)
      .select(col("vec_id"), col("y"), raw.as("score"))
      .withColumn("abs_score", abs(col("score")))
      .orderBy(col("abs_score"), col("vec_id")).limit(10)
    scored.withColumn("rank", row_number().over(
        Window.orderBy(col("abs_score"), col("vec_id"))).cast("long"))
      .select(col("rank"), col("vec_id"), col("y"), col("score"))
      .orderBy(col("rank"))
  }

  val q249Sql: String =
    perceptronSqlPrelude + "\n" +
      """SELECT CAST(row_number() OVER (ORDER BY abs(score), vec_id) AS BIGINT)
        |         AS rank,
        |       vec_id, y, score
        |FROM sc ORDER BY abs(score), vec_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- Q250
  /** LENGTH-BUCKETED BATCH PACKING — the dynamic-batching prep step
    * (q56 packs a CONCATENATED token stream into context windows; this
    * keeps documents whole and batches them 8-at-a-time, the
    * padded-batch training/inference layout): per language, documents
    * batch in LENGTH-SORTED order vs ARRIVAL (doc_id) order, and the
    * query reports each policy's total padding (Σ over batches of
    * batch_size·max_len − Σ len — the tokens the accelerator burns on
    * pad) plus the saving. Sorted-consecutive batching provably
    * minimizes Σ max over equal-size-vector partitions, so
    * pad_sorted ≤ pad_arrival is an INVARIANT (spec-pinned), and both
    * engines state the identical discrete arithmetic — no floats
    * exist. One lang-keyed exchange carries both orderings' windows;
    * the batch folds are batch-count-sized. Skew note (r10 probe): a
    * row_number window is NOT partial-aggregable, so a language
    * holding 50% of the corpus rides ONE task — invisible at bench
    * volume (measured faster under the 50%-hot-key probe) but the
    * real dial at 100 TB, where exact sorted batching runs PER SHARD
    * inside a language (the padding semantics never need sortedness
    * across shards, and batch boundaries at shard seams cost at most
    * one ragged batch per shard). */
  val q250: Q = (s, d) => {
    val B = 8
    val docs = graft.core.Pins.pin(
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("len"))
        .withColumn("rs", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("len").desc, col("doc_id"))))
        .withColumn("ra", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
        .select(col("lang"), col("len"),
          expr(s"(rs - 1) div $B").as("bs"), expr(s"(ra - 1) div $B").as("ba")))
    def pad(bcol: String) = docs.groupBy(col("lang"), col(bcol))
      .agg((count(lit(1)) * max(col("len")) - sum(col("len"))).as("pad"))
      .groupBy(col("lang"))
      .agg(sum(col("pad")).as(s"pad_$bcol"), count(lit(1)).as(s"nb_$bcol"))
    pad("bs").join(pad("ba"), Seq("lang"))
      .join(docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("n_tokens")), Seq("lang"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("nb_bs").as("n_batches"),
        col("pad_bs").as("pad_sorted"), col("pad_ba").as("pad_arrival"),
        when(col("pad_ba") === 0, -1L).otherwise(
          expr("(pad_ba - pad_bs) * 1000000 div pad_ba")).as("saving_ppm"))
      .orderBy(col("lang"))
  }

  val q250Sql: String =
    """WITH docs AS (SELECT lang, doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS len
      |       FROM documents),
      |pos AS (SELECT lang, len,
      |          (row_number() OVER (PARTITION BY lang
      |             ORDER BY len DESC, doc_id) - 1) // 8 AS bs,
      |          (row_number() OVER (PARTITION BY lang
      |             ORDER BY doc_id) - 1) // 8 AS ba
      |        FROM docs),
      |ps AS (SELECT lang, CAST(sum(pad) AS BIGINT) AS pad_sorted,
      |         CAST(count(*) AS BIGINT) AS n_batches
      |       FROM (SELECT lang, bs, count(*) * max(len) - sum(len) AS pad
      |             FROM pos GROUP BY 1, 2) GROUP BY 1),
      |pa AS (SELECT lang, CAST(sum(pad) AS BIGINT) AS pad_arrival
      |       FROM (SELECT lang, ba, count(*) * max(len) - sum(len) AS pad
      |             FROM pos GROUP BY 1, 2) GROUP BY 1),
      |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(len) AS BIGINT) AS n_tokens
      |      FROM docs GROUP BY 1)
      |SELECT t.lang, n_docs, n_tokens, n_batches, pad_sorted, pad_arrival,
      |       CASE WHEN pad_arrival = 0 THEN CAST(-1 AS BIGINT)
      |            ELSE CAST((pad_arrival - pad_sorted) * 1000000 // pad_arrival
      |                      AS BIGINT) END AS saving_ppm
      |FROM t JOIN ps ON t.lang = ps.lang JOIN pa ON t.lang = pa.lang
      |ORDER BY t.lang""".stripMargin

  /** Shared DuckDB md5-52-bit helper (the seam StatQueries/
    * MiningQueries carry privately; BIGINT-cast at every use). */
  private def sqlHex52(e: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 13), i ->
       |          CAST(strpos('0123456789abcdef', substr($e, i, 1)) - 1 AS DOUBLE)
       |          * power(16.0, 13 - i))) AS BIGINT)""".stripMargin

  // --------------------------------------------------------------- Q251
  /** BLOCKED SPAN-CORRUPTION accounting — the T5/UL2 denoising-objective
    * prep step (which token spans get masked and replaced by sentinels):
    * positions partition into windows of 8, each window independently
    * corrupts iff the md5-52-bit hash of (doc, window) clears a 30%
    * threshold, and a corrupted window masks the 3-token span starting
    * at offset s = hash-derived 0..5. BLOCKING is the scale design:
    * classic span corruption draws spans sequentially (span i+1 may not
    * overlap span i — an inherently serial per-doc walk); confining
    * each span to its window makes every window independent, so the
    * whole mask derives scan-locally from (doc_id, |tokens|) ALONE —
    * no token explode, no sequential state, deterministic and exactly
    * replayable (the q46/q221/q235 hash seam). Tail windows clamp the
    * span arithmetically (masked = max(0, min(s+3, cnt) − s)). Output:
    * per-doc token/window/span/masked counts + mask_ppm. One
    * partial-aggregable doc fold; the windows explode is scan-local. */
  val q251: Q = (s, d) => {
    val M = 4503599627370496L
    val w = t(s, d, "documents")
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n"))
      .withColumn("w", explode(sequence(lit(0L), expr("(n - 1) div 8"))))
      .withColumn("cnt", least(lit(8L), col("n") - col("w") * 8))
      .withColumn("h", conv(substring(md5(concat_ws("|", lit("m"),
        col("doc_id").cast("string"), col("w").cast("string"))), 1, 13),
        16, 10).cast("long"))
      .withColumn("corrupt", col("h") < lit(M / 100 * 30))
      .withColumn("s", pmod(expr("h div 16"), lit(6L)))
      .withColumn("masked", when(col("corrupt"),
        greatest(lit(0L), least(col("s") + 3, col("cnt")) - col("s")))
        .otherwise(0L))
    w.groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_tokens"), count(lit(1)).as("n_windows"),
        sum(when(col("corrupt") && col("masked") > 0, 1L).otherwise(0L))
          .as("n_spans"),
        sum(col("masked")).as("n_masked"))
      .withColumn("mask_ppm", expr("n_masked * 1000000 div n_tokens"))
      .orderBy(col("doc_id"))
  }

  val q251Sql: String =
    s"""WITH docs AS (SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |       FROM documents),
       |w AS (SELECT doc_id, n, unnest(generate_series(0, (n - 1) // 8)) AS w
       |      FROM docs),
       |h AS (SELECT doc_id, n, w, least(8, n - w * 8) AS cnt,
       |        ${sqlHex52("md5('m|' || CAST(doc_id AS VARCHAR) || '|' || CAST(w AS VARCHAR))")} AS h
       |      FROM w),
       |m AS (SELECT doc_id, n, cnt,
       |        h < 4503599627370496 // 100 * 30 AS corrupt,
       |        (h // 16) % 6 AS s
       |      FROM h),
       |k AS (SELECT doc_id, n, corrupt,
       |        CASE WHEN corrupt
       |             THEN greatest(0, least(s + 3, cnt) - s) ELSE 0 END AS masked
       |      FROM m)
       |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
       |       CAST(count(*) AS BIGINT) AS n_windows,
       |       CAST(sum(CASE WHEN corrupt AND masked > 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_spans,
       |       CAST(sum(masked) AS BIGINT) AS n_masked,
       |       CAST(sum(masked) * 1000000 // max(n) AS BIGINT) AS mask_ppm
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q252
  /** IN-BATCH NEGATIVE COLLISION audit — contrastive training treats
    * every other in-batch example as a negative, so two SAME-LABEL
    * examples in one batch are a FALSE negative pushing apart what
    * should attract (the known failure mode of in-batch sampling;
    * q246 mines the hard TRUE negatives): batches of 8 vectors under
    * two policies — arrival (vec_id) order vs HASH-SHUFFLED order
    * (md5 of vec_id; the deterministic shuffle that breaks
    * label-clustered arrival, same seam as q46) — and per policy the
    * exact collision count Σ_batches Σ_labels C(m,2) over the 28
    * pairs/batch. All integers; the policy comparison is the audit's
    * point (label-sorted arrival is the worst case, a shuffle
    * restores the ~uniform rate). One vectors-sized fold per policy
    * (two ranking windows over one slim (vec_id, label) relation,
    * pinned), batch folds are batch-count-sized. */
  val q252: Q = (s, d) => {
    val base = graft.core.Pins.pin(
      t(s, d, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"))
        .withColumn("h", md5(concat(lit("b|"), col("vec_id").cast("string"))))
        .withColumn("ra", row_number().over(Window.orderBy(col("vec_id"))))
        .withColumn("rs", row_number().over(Window.orderBy(col("h"), col("vec_id"))))
        .select(col("label"), expr("(ra - 1) div 8").as("ba"),
          expr("(rs - 1) div 8").as("bs")))
    def audit(bcol: String, name: String) = base
      .groupBy(col(bcol), col("label")).agg(count(lit(1)).as("m"))
      .groupBy(col(bcol))
      .agg((sum(col("m") * (col("m") - 1)) / 2).cast("long").as("coll"),
        (sum(col("m")) * (sum(col("m")) - 1) / 2).cast("long").as("pairs"))
      .agg(lit(name).as("policy"), count(lit(1)).as("n_batches"),
        sum(col("pairs")).as("n_pairs"), sum(col("coll")).as("n_collisions"))
      .withColumn("collision_ppm",
        expr("n_collisions * 1000000 div n_pairs"))
    audit("ba", "arrival").unionByName(audit("bs", "shuffled"))
      .orderBy(col("policy"))
  }

  val q252Sql: String =
    """WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |         md5('b|' || CAST(vec_id AS VARCHAR)) AS h
      |       FROM embeddings),
      |pos AS (SELECT label,
      |          (row_number() OVER (ORDER BY vec_id) - 1) // 8 AS ba,
      |          (row_number() OVER (ORDER BY h, vec_id) - 1) // 8 AS bs
      |        FROM v),
      |aa AS (SELECT ba, CAST(sum(m * (m - 1)) / 2 AS BIGINT) AS coll,
      |         CAST(sum(m) * (sum(m) - 1) / 2 AS BIGINT) AS pairs
      |       FROM (SELECT ba, label, count(*) AS m FROM pos GROUP BY 1, 2)
      |       GROUP BY ba),
      |sa AS (SELECT bs, CAST(sum(m * (m - 1)) / 2 AS BIGINT) AS coll,
      |         CAST(sum(m) * (sum(m) - 1) / 2 AS BIGINT) AS pairs
      |       FROM (SELECT bs, label, count(*) AS m FROM pos GROUP BY 1, 2)
      |       GROUP BY bs)
      |SELECT * FROM (
      |  SELECT 'arrival' AS policy, CAST(count(*) AS BIGINT) AS n_batches,
      |         CAST(sum(pairs) AS BIGINT) AS n_pairs,
      |         CAST(sum(coll) AS BIGINT) AS n_collisions,
      |         CAST(sum(coll) * 1000000 // sum(pairs) AS BIGINT) AS collision_ppm
      |  FROM aa
      |  UNION ALL
      |  SELECT 'shuffled', CAST(count(*) AS BIGINT),
      |         CAST(sum(pairs) AS BIGINT), CAST(sum(coll) AS BIGINT),
      |         CAST(sum(coll) * 1000000 // sum(pairs) AS BIGINT)
      |  FROM sa)
      |ORDER BY policy""".stripMargin

  // --------------------------------------------------------------- Q253
  /** K-ANONYMITY audit — the release-governance gate (can this table
    * ship? every row must hide in a crowd of ≥ k sharing its
    * quasi-identifiers; HIPAA/GDPR de-identification's formal core):
    * QI = (nation, market segment, account-balance bucket of $1000),
    * k = 5. Output is the one-row audit: rows, equivalence classes,
    * the smallest class, classes and rows below k, and the violating
    * fraction — the numbers a privacy review actually gates on. The
    * balance bucket uses floor division on CENTS (a float bucket
    * boundary is an engine-divergence cliff; integer cents are not).
    * One partial-aggregable QI fold (classes-sized output), then a
    * one-row fold — the audit never shuffles the table itself. */
  val q253: Q = (s, d) => {
    val classes = t(s, d, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000").as("bal_bucket"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
      .agg(count(lit(1)).as("m"))
    classes.agg(
        sum(col("m")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("m")).as("min_class_size"),
        sum(when(col("m") < 5, 1L).otherwise(0L)).as("classes_below_k"),
        sum(when(col("m") < 5, col("m")).otherwise(0L)).as("rows_below_k"))
      .withColumn("below_ppm", expr("rows_below_k * 1000000 div n_rows"))
  }

  val q253Sql: String =
    """WITH c AS (SELECT c_nationkey, c_mktsegment,
      |         CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_bucket
      |       FROM customer),
      |cl AS (SELECT c_nationkey, c_mktsegment, bal_bucket,
      |         CAST(count(*) AS BIGINT) AS m
      |       FROM c GROUP BY 1, 2, 3)
      |SELECT CAST(sum(m) AS BIGINT) AS n_rows,
      |       CAST(count(*) AS BIGINT) AS n_classes,
      |       CAST(min(m) AS BIGINT) AS min_class_size,
      |       CAST(sum(CASE WHEN m < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS classes_below_k,
      |       CAST(sum(CASE WHEN m < 5 THEN m ELSE 0 END) AS BIGINT)
      |         AS rows_below_k,
      |       CAST(sum(CASE WHEN m < 5 THEN m ELSE 0 END) * 1000000 // sum(m)
      |            AS BIGINT) AS below_ppm
      |FROM cl""".stripMargin

  // --------------------------------------------------------------- Q254
  /** RIGHT-TO-ERASURE audit — q253's actionable sibling (that one asks
    * "can this ship?", this one "did the deletion actually cascade?"):
    * the deletion list is the md5-hash-sampled ~5% of customers (the
    * q46 seam — deterministic, so the audit and the erasure job can
    * never disagree about WHO), and the audit counts the rows still
    * referencing an erased subject in every subject-keyed relation —
    * customer itself, orders, lineitem (via its order), events — plus
    * how many erased subjects still have ≥ 1 reference. Scale shape:
    * all four tables project to a TAGGED (table, subject) union, so
    * the whole audit is ONE broadcast semi-join against the
    * subjects-sized deletion list + one 4-group fold (a per-table
    * branch pipeline pays the scheduler 4× for the same scans);
    * lineitem resolves its subject through the orders broadcast;
    * facts never shuffle. Output: one row per table. */
  val q254: Q = (s, d) => {
    val M = 4503599627370496L
    val erased = t(s, d, "customer").select(col("c_custkey"))
      .filter(conv(substring(md5(concat(lit("del|"),
        col("c_custkey").cast("string"))), 1, 13), 16, 10).cast("long")
        < lit(M / 100 * 5))
    def tagged(name: String, df: DataFrame, key: String) =
      df.select(lit(name).as("table_name"), col(key).as("subject"))
    val ordersE = t(s, d, "orders")
    val refs = tagged("customer",
        t(s, d, "customer").select(col("c_custkey").as("k")), "k")
      .unionByName(tagged("orders", ordersE.select(col("o_custkey")), "o_custkey"))
      .unionByName(tagged("lineitem",
        t(s, d, "lineitem").join(
          broadcast(ordersE.select(col("o_orderkey"), col("o_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("lk")), "lk"))
      .unionByName(tagged("events",
        t(s, d, "events").select(col("user_id")), "user_id"))
    // fold (table, subject) FIRST: a count + countDistinct in one agg
    // plans an Expand that doubles every row before the exchange; the
    // explicit two-fold ships only distinct (table, subject) pairs
    refs.join(broadcast(erased), col("subject") === col("c_custkey"), "left_semi")
      .groupBy(col("table_name"), col("subject"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("table_name"))
      .agg(sum(col("c")).as("n_refs"),
        count(lit(1)).as("n_subjects_with_refs"))
      .orderBy(col("table_name"))
  }

  val q254Sql: String =
    s"""WITH erased AS (SELECT c_custkey FROM customer
       |  WHERE ${sqlHex52("md5('del|' || CAST(c_custkey AS VARCHAR))")}
       |          < 4503599627370496 // 100 * 5)
       |SELECT * FROM (
       |  SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n_refs,
       |         CAST(count(DISTINCT c.c_custkey) AS BIGINT)
       |           AS n_subjects_with_refs
       |  FROM customer c WHERE c.c_custkey IN (SELECT c_custkey FROM erased)
       |  UNION ALL
       |  SELECT 'orders', CAST(count(*) AS BIGINT),
       |         CAST(count(DISTINCT o_custkey) AS BIGINT)
       |  FROM orders WHERE o_custkey IN (SELECT c_custkey FROM erased)
       |  UNION ALL
       |  SELECT 'lineitem', CAST(count(*) AS BIGINT),
       |         CAST(count(DISTINCT o_custkey) AS BIGINT)
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_custkey IN (SELECT c_custkey FROM erased)
       |  UNION ALL
       |  SELECT 'events', CAST(count(*) AS BIGINT),
       |         CAST(count(DISTINCT user_id) AS BIGINT)
       |  FROM events WHERE user_id IN (SELECT c_custkey FROM erased))
       |ORDER BY table_name""".stripMargin

  // --------------------------------------------------------------- Q255
  /** EMBEDDING-QUALITY audit — the vector-side data-quality gate the
    * text side gets from q25/q102 (truncated inserts, all-zero rows
    * and exact re-embeddings are the three classic embedding-store
    * pathologies): per label, (a) ZERO vectors (every component
    * quantizes to 0 — the q85 floor-×1000 lattice, so the test is
    * integer equality, no epsilon), (b) EXACT DUPLICATES (distinct
    * vectors minus distinct md5 fingerprints of the canonical
    * quantized string — the q20/q61 content-hash discipline applied to
    * vectors), (c) NORM OUTLIERS (quantized squared norm outside
    * [med/4, med·4] with med the DISCRETE median of the label's norms
    * — the q90 order-statistic discipline: integer breakpoints both
    * engines hold bit-identically). One scan computes qn + the
    * fingerprint; the median rides a label-keyed window; everything
    * else is label-sized. */
  val q255: Q = (s, d) => {
    val qv = t(s, d, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        LinearClassifier.quantize(col("embedding"), 1000).as("q"))
      .withColumn("qn", aggregate(col("q"), lit(0L), (a, x) => a + x * x))
      .withColumn("fp", md5(concat_ws(",", col("q"))))
    val wl = Window.partitionBy(col("label"))
    val scored = qv
      .withColumn("rn", row_number().over(wl.orderBy(col("qn"), col("vec_id"))))
      .withColumn("n", count(lit(1)).over(wl))
      .withColumn("med", max(when(
        col("rn") === ceil(col("n") * lit(0.5)).cast("int"), col("qn"))).over(wl))
    scored.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("qn") === 0, 1L).otherwise(0L)).as("n_zero"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dups"),
        sum(when(col("qn") * 4 < col("med") || col("qn") > col("med") * 4, 1L)
          .otherwise(0L)).as("n_norm_outliers"),
        max(col("med")).as("median_qnorm"))
      .orderBy(col("label"))
  }

  val q255Sql: String =
    """WITH q AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |         list_transform(CAST(embedding AS DOUBLE[]),
      |                        e -> CAST(floor(e * 1000) AS BIGINT)) AS q
      |       FROM embeddings),
      |v AS (SELECT vec_id, label,
      |        CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qn,
      |        md5(list_aggregate(list_transform(q, x -> CAST(x AS VARCHAR)),
      |                           'string_agg', ',')) AS fp
      |      FROM q),
      |r AS (SELECT *,
      |        row_number() OVER (PARTITION BY label ORDER BY qn, vec_id) AS rn,
      |        count(*) OVER (PARTITION BY label) AS n
      |      FROM v),
      |m AS (SELECT label, max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
      |                             THEN qn END) AS med
      |      FROM r GROUP BY label)
      |SELECT v.label, CAST(count(*) AS BIGINT) AS n_vecs,
      |       CAST(sum(CASE WHEN qn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups,
      |       CAST(sum(CASE WHEN qn * 4 < med OR qn > med * 4 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_norm_outliers,
      |       CAST(max(med) AS BIGINT) AS median_qnorm
      |FROM v JOIN m ON v.label = m.label
      |GROUP BY v.label ORDER BY v.label""".stripMargin

  // --------------------------------------------------------------- Q256
  /** REFERENTIAL-INTEGRITY profile — the dbt-style FK orphan test as a
    * declared query (q175 profiles FUNCTIONAL dependencies, q219
    * reconciles header↔detail totals; this audits the key graph
    * itself): for each declared FK edge — lineitem.l_orderkey →
    * orders, orders.o_custkey → customer, customer.c_nationkey →
    * nation, events.user_id → customer — the child row count, orphan
    * rows (unmatched against the parent key set), distinct orphan
    * keys, and valid_ppm. Parent sets are DISTINCT'd inside their
    * build (an audit must not trust the uniqueness a sibling check
    * validates). NULL child keys count as orphans on BOTH sides: the
    * Spark left join never matches a null key, and the oracle uses
    * NOT EXISTS with an explicit equality (NOT IN would return NULL
    * for a null child key and silently drop the row — and a NULL in
    * a parent set would zero out every orphan). Oracle counts
    * (count(DISTINCT k)) skip the null orphan key itself, matching
    * Spark's countDistinct null-skipping exactly. */
  val q256: Q = (s, d) => {
    // per-edge: child scan probes the BROADCAST distinct parent key set
    // and folds straight to ONE row — no corpus-sized Exchange anywhere
    // (r9 shipped all four child key folds through one 8-input tagged
    // union + wide shuffle; the r10 shape is the reference's dedup-scope
    // listing — file/api.go:52-65 — applied per edge). The distinct
    // orphan-key count is the only exchange left and it carries the
    // ORPHAN key set (non-orphans collapse into one null group
    // map-side). At 100 TB the broadcast dial: dimension-sized parents
    // (nation, customer) always fit; a fact-sized parent (orders for
    // the lineitem edge) flips that one edge to the co-bucketed
    // shuffle join — per-edge independence is the point.
    import s.implicits._
    val fkEdges = Seq(
      ("customer.nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("events.user", "events", "user_id", "customer", "c_custkey"),
      ("lineitem.order", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("orders.customer", "orders", "o_custkey", "customer", "c_custkey"))
    // job-count discipline (the local[32] dispatch floor is per JOB):
    // all four parent key sets stack into ONE tagged broadcast build,
    // all four child scans into one union, so the whole audit is one
    // broadcast job + one main job. The LeftAnti keeps ORPHAN rows
    // only (~empty on healthy data), so the countDistinct Expand and
    // the per-edge fold cost nothing; n_rows comes from parquet
    // FOOTERS (Tables.rowCount — no job at all) and joins back in as
    // a 4-row literal, which also guarantees a zero-orphan edge still
    // emits its row.
    val parents = fkEdges.map { case (e, _, _, p, pk) =>
      t(s, d, p).select(lit(e).as("fk_edge"), col(pk).cast("long").as("pk"))
        .distinct()
    }.reduce(_ unionByName _)
    val children = fkEdges.map { case (e, c, k, _, _) =>
      t(s, d, c).select(lit(e).as("fk_edge"), col(k).cast("long").as("k"))
    }.reduce(_ unionByName _)
    val orphanAgg = children.join(broadcast(parents),
        children("fk_edge") === parents("fk_edge") && col("k") === col("pk"),
        "left_anti")
      .groupBy(col("fk_edge"))
      .agg(count(lit(1)).as("n_orphans"),
        countDistinct(col("k")).as("n_orphan_keys"))
    fkEdges.map { case (e, c, _, _, _) => (e, Tables.rowCount(s, d, c)) }
      .toDF("fk_edge", "n_rows")
      .join(orphanAgg, Seq("fk_edge"), "left")
      .select(col("fk_edge"), col("n_rows"),
        coalesce(col("n_orphans"), lit(0L)).as("n_orphans"),
        coalesce(col("n_orphan_keys"), lit(0L)).as("n_orphan_keys"))
      .withColumn("valid_ppm",
        expr("(n_rows - n_orphans) * 1000000 div n_rows"))
      .orderBy(col("fk_edge"))
  }

  val q256Sql: String =
    """SELECT * FROM (
      |  SELECT 'customer.nation' AS fk_edge,
      |         CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_rows,
      |         CAST(count(*) AS BIGINT) AS n_orphans,
      |         CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_orphan_keys,
      |         CAST(((SELECT count(*) FROM customer) - count(*)) * 1000000
      |              // (SELECT count(*) FROM customer) AS BIGINT) AS valid_ppm
      |  FROM customer ch WHERE NOT EXISTS (SELECT 1 FROM nation p WHERE p.n_nationkey = ch.c_nationkey)
      |  UNION ALL
      |  SELECT 'events.user', CAST((SELECT count(*) FROM events) AS BIGINT),
      |         CAST(count(*) AS BIGINT),
      |         CAST(count(DISTINCT user_id) AS BIGINT),
      |         CAST(((SELECT count(*) FROM events) - count(*)) * 1000000
      |              // (SELECT count(*) FROM events) AS BIGINT)
      |  FROM events ch WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = ch.user_id)
      |  UNION ALL
      |  SELECT 'lineitem.order', CAST((SELECT count(*) FROM lineitem) AS BIGINT),
      |         CAST(count(*) AS BIGINT),
      |         CAST(count(DISTINCT l_orderkey) AS BIGINT),
      |         CAST(((SELECT count(*) FROM lineitem) - count(*)) * 1000000
      |              // (SELECT count(*) FROM lineitem) AS BIGINT)
      |  FROM lineitem ch WHERE NOT EXISTS (SELECT 1 FROM orders p WHERE p.o_orderkey = ch.l_orderkey)
      |  UNION ALL
      |  SELECT 'orders.customer', CAST((SELECT count(*) FROM orders) AS BIGINT),
      |         CAST(count(*) AS BIGINT),
      |         CAST(count(DISTINCT o_custkey) AS BIGINT),
      |         CAST(((SELECT count(*) FROM orders) - count(*)) * 1000000
      |              // (SELECT count(*) FROM orders) AS BIGINT)
      |  FROM orders ch WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = ch.o_custkey))
      |ORDER BY fk_edge""".stripMargin

  // --------------------------------------------------------------- Q257
  /** CURATION-GATE ABLATION matrix — q121 measures the funnel's
    * SEQUENTIAL attrition (each gate after the previous); this CUBEs
    * the three gates INDEPENDENTLY so a curation review reads every
    * subset's population in one table (which gates overlap, which bite
    * alone — the ablation view that decides whether a gate earns its
    * false-positive cost): gates = length (n_chars ≥ 200), token count
    * (≥ 40 whitespace tokens), lexical diversity (type-token ratio ≥
    * 0.5, tested as the EXACT integer cross-multiply distinct·2 ≥
    * total — no float ratio exists; the Gopher-family diversity rule,
    * where this corpus's 3-gram repetition never varies). One scan
    * computes the three booleans scan-locally; `cube()` expands to
    * the 2³ lattice with grouping flags, counts partial-aggregate
    * map-side. */
  val q257: Q = (s, d) => {
    val totalT = size(TextOps.tokens(col("text"))).cast("long")
    val distT = size(array_distinct(TextOps.tokens(col("text")))).cast("long")
    t(s, d, "documents")
      .select(
        (col("n_chars") >= 200).as("g_len"),
        (totalT >= 40).as("g_tok"),
        (totalT > 0 && distT * 2 >= totalT).as("g_div"))
      .cube(col("g_len"), col("g_tok"), col("g_div"))
      .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("n_docs"))
      .select(col("gid"), col("g_len"), col("g_tok"), col("g_div"), col("n_docs"))
      .orderBy(col("gid"), col("g_len"), col("g_tok"), col("g_div"))
  }

  val q257Sql: String =
    """WITH g AS (SELECT n_chars >= 200 AS g_len,
      |         CAST(len(t) AS BIGINT) >= 40 AS g_tok,
      |         len(t) > 0 AND
      |           CAST(len(list_distinct(t)) AS BIGINT) * 2
      |             >= CAST(len(t) AS BIGINT) AS g_div
      |       FROM (SELECT n_chars, string_split(text, ' ') AS t
      |             FROM documents))
      |SELECT CAST(grouping(g_len) * 4 + grouping(g_tok) * 2 + grouping(g_div)
      |            AS BIGINT) AS gid,
      |       g_len, g_tok, g_div, count(*) AS n_docs
      |FROM g GROUP BY CUBE (g_len, g_tok, g_div)
      |ORDER BY gid, g_len, g_tok, g_div""".stripMargin

  // --------------------------------------------------------------- Q258
  /** TOKEN-BUDGET WATERFILLING — the mixture-design allocator (q111
    * oversamples to fixed epoch weights, q163 to a temperature; this
    * solves the CONSTRAINED case: spend a global token budget B = 60%
    * of the corpus max-min fairly across sources where no source can
    * give more than it has): classical waterfilling, exact. Sources
    * sort by capacity; source i (1-based, n−i+1 remaining) is CAPPED
    * iff cap_i·(n−i+1) ≤ B − prefix_before — the integer
    * cross-multiplied form of cap_i ≤ level, so the fill level never
    * exists as a float — takes alloc = cap; the m uncapped sources
    * split the residue R as R div m each with the remainder
    * distributed Hamilton-style (q139) to the first R mod m in
    * (capacity, source) order. Σ alloc = B exactly and alloc ≤ cap
    * everywhere (spec-pinned: base + 1 ≤ every uncapped cap because
    * the uncapped test is strict). One tokenize fold to the
    * sources-sized relation; everything after rides 20 rows. */
  val q258: Q = (s, d) => {
    val caps = t(s, d, "documents")
      .groupBy(col("source"))
      .agg(sum(size(TextOps.tokens(col("text"))).cast("long")).as("cap"))
    val w = Window.orderBy(col("cap"), col("source"))
    val wAll = Window.partitionBy()
    val staged = caps
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("cap")).over(wAll))
      .withColumn("before", coalesce(sum(col("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("b", expr("total * 60 div 100"))
      .withColumn("capped", col("cap") * (col("n") - col("i") + 1)
        <= col("b") - col("before"))
    val sized = staged
      .withColumn("m", sum(when(!col("capped"), 1L).otherwise(0L)).over(wAll))
      .withColumn("r", col("b") - sum(when(col("capped"), col("cap"))
        .otherwise(0L)).over(wAll))
      .withColumn("u_rank", sum(when(!col("capped"), 1L).otherwise(0L)).over(w))
    sized.select(col("source"), col("cap").as("cap_tokens"), col("capped"),
        when(col("capped"), col("cap")).otherwise(
          expr("r div m") + when(col("u_rank") <= pmod(col("r"), col("m")), 1L)
            .otherwise(0L)).as("alloc_tokens"))
      .orderBy(col("source"))
  }

  val q258Sql: String =
    """WITH caps AS (SELECT source,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap
      |       FROM documents GROUP BY 1),
      |st AS (SELECT source, cap,
      |         CAST(row_number() OVER w AS BIGINT) AS i,
      |         CAST(count(*) OVER () AS BIGINT) AS n,
      |         CAST(sum(cap) OVER () AS BIGINT) AS total,
      |         CAST(coalesce(sum(cap) OVER (ORDER BY cap, source
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS bf
      |       FROM caps WINDOW w AS (ORDER BY cap, source)),
      |fl AS (SELECT *, total * 60 // 100 AS b,
      |         cap * (n - i + 1) <= total * 60 // 100 - bf AS capped
      |       FROM st),
      |sz AS (SELECT *,
      |         CAST(sum(CASE WHEN NOT capped THEN 1 ELSE 0 END) OVER ()
      |           AS BIGINT) AS m,
      |         CAST(b - sum(CASE WHEN capped THEN cap ELSE 0 END) OVER ()
      |           AS BIGINT) AS r,
      |         CAST(sum(CASE WHEN NOT capped THEN 1 ELSE 0 END)
      |           OVER (ORDER BY cap, source) AS BIGINT) AS u_rank
      |       FROM fl)
      |SELECT source, cap AS cap_tokens, capped,
      |       CAST(CASE WHEN capped THEN cap
      |            ELSE r // m + CASE WHEN u_rank <= r % m THEN 1 ELSE 0 END
      |            END AS BIGINT) AS alloc_tokens
      |FROM sz ORDER BY source""".stripMargin

  // --------------------------------------------------------------- Q259
  /** DUPLICATE-ATTRIBUTION accounting per source — the ingestion report
    * behind a mixture decision (q05 dedups, q106 scores novelty per
    * doc; this answers WHO ships originals and who ships copies, and
    * what each source's token contribution is NET of exact dups): a
    * doc is a duplicate iff an earlier doc (global doc_id order — the
    * q05 keep-first discipline) has the identical text hash, counted
    * ACROSS sources (crawl overlap is exactly the cross-source case);
    * per source: docs, dup docs, total tokens, net tokens (originals
    * only), dup_ppm. One content-hash fold (the q04 exact-dedup
    * shape: groupBy md5, min doc_id — corpus-keyed, the one genuine
    * exchange), the verdict joins back on the hash, the report is a
    * sources-sized fold. */
  val q259: Q = (s, d) => {
    val docs = graft.core.Pins.pin(
      t(s, d, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
          size(TextOps.tokens(col("text"))).cast("long").as("toks")))
    val first = docs.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    docs.join(first, Seq("h"))
      .withColumn("dup", col("doc_id") =!= col("first_doc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("toks")).as("tokens_total"),
        sum(when(!col("dup"), col("toks")).otherwise(0L)).as("tokens_net"))
      .withColumn("dup_ppm", expr("n_dup_docs * 1000000 div n_docs"))
      .orderBy(col("source"))
  }

  val q259Sql: String =
    """WITH d AS (SELECT doc_id, source, md5(text) AS h,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |       FROM documents),
      |f AS (SELECT h, min(doc_id) AS first_doc FROM d GROUP BY 1)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN doc_id <> first_doc THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_dup_docs,
      |       CAST(sum(toks) AS BIGINT) AS tokens_total,
      |       CAST(sum(CASE WHEN doc_id = first_doc THEN toks ELSE 0 END)
      |            AS BIGINT) AS tokens_net,
      |       CAST(sum(CASE WHEN doc_id <> first_doc THEN 1 ELSE 0 END)
      |            * 1000000 // count(*) AS BIGINT) AS dup_ppm
      |FROM d JOIN f USING (h)
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- Q260
  /** SOURCE-CONCENTRATION audit — is the corpus a monoculture? (the
    * mixture-governance number beside q133's KL divergence and q258's
    * allocator: a corpus dominated by one crawl inherits its biases
    * and its takedown risk): per-source token shares, the top-1 and
    * top-5 cumulative shares in ppm, and the GINI coefficient as the
    * EXACT rational (Σᵢ(2i−n−1)·xᵢ over the ascending-sorted shares,
    * n·Σx) — the sorted-index identity that needs no pairwise |xᵢ−xⱼ|
    * enumeration, every term a BIGINT product (documented to ~10⁵
    * sources × 2⁵⁰ tokens), the division left to the caller (the
    * exact-rational discipline of q242/q243). One tokenize fold to
    * the sources-sized relation; ranking windows ride ≤ |sources|
    * rows. */
  val q260: Q = (s, d) => {
    val caps = t(s, d, "documents")
      .groupBy(col("source"))
      .agg(sum(size(TextOps.tokens(col("text"))).cast("long")).as("x"))
    val wAsc = Window.orderBy(col("x"), col("source"))
    val wAll = Window.partitionBy()
    val wDesc = Window.orderBy(col("x").desc, col("source"))
    caps
      .withColumn("i", row_number().over(wAsc).cast("long"))
      .withColumn("rd", row_number().over(wDesc).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("x")).over(wAll))
      .agg(max(col("n")).as("n_sources"), max(col("tot")).as("tokens_total"),
        max(when(col("rd") === 1, expr("x * 1000000 div tot")))
          .as("top1_ppm"),
        sum(when(col("rd") <= 5, col("x")).otherwise(0L)).as("top5_toks"),
        sum((col("i") * 2 - col("n") - 1) * col("x")).as("gini_num"),
        max(col("n") * col("tot")).as("gini_den"))
      .select(col("n_sources"), col("tokens_total"), col("top1_ppm"),
        expr("top5_toks * 1000000 div tokens_total").as("top5_ppm"),
        col("gini_num"), col("gini_den"))
  }

  val q260Sql: String =
    """WITH caps AS (SELECT source,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS x
      |       FROM documents GROUP BY 1),
      |r AS (SELECT x,
      |        CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i,
      |        CAST(row_number() OVER (ORDER BY x DESC, source) AS BIGINT) AS rd,
      |        CAST(count(*) OVER () AS BIGINT) AS n,
      |        CAST(sum(x) OVER () AS BIGINT) AS tot
      |      FROM caps)
      |SELECT max(n) AS n_sources, max(tot) AS tokens_total,
      |       CAST(max(CASE WHEN rd = 1 THEN x * 1000000 // tot END)
      |            AS BIGINT) AS top1_ppm,
      |       CAST(sum(CASE WHEN rd <= 5 THEN x ELSE 0 END) * 1000000
      |            // max(tot) AS BIGINT) AS top5_ppm,
      |       CAST(sum((i * 2 - n - 1) * x) AS BIGINT) AS gini_num,
      |       CAST(max(n * tot) AS BIGINT) AS gini_den
      |FROM r""".stripMargin

  // --------------------------------------------------------------- Q261
  /** TIME-TO-CONVERSION survival table (Nelson–Aalen, exact) — the
    * survival-analysis family's entry (retention shelf: q88 counts
    * returns, q143 LTV, q190 streaks; nothing answered "how long until
    * a user converts, accounting for the ones who haven't YET" — the
    * right-censoring problem naive conversion averages get wrong):
    * entry = a user's first event day, event = first purchase day,
    * users without a purchase are CENSORED at the observation horizon
    * (the corpus max day). Per duration t with deaths: the risk set
    * n_t (users with duration ≥ t — censored users count until their
    * censor time, the whole point), deaths d_t, the discrete hazard
    * d·10⁶ div n, and the NELSON–AALEN cumulative hazard as the
    * running integer sum of floored ppm hazards — every emitted
    * quantity an exact BIGINT (the Kaplan–Meier product is a float
    * cascade that replays nowhere; Nelson–Aalen's SUM is the
    * mergeable, engine-exact estimator, and S ≈ exp(−H) is the
    * caller's float boundary). One user fold (corpus-sized exchange),
    * risk sets via one duration-grid window — span-days-sized, the
    * q141 grid rationale. */
  val q261: Q = (s, d) => {
    val day = expr("unix_micros(ts) div 86400000000")
    val users = t(s, d, "events")
      .groupBy(col("user_id"))
      .agg(min(day).as("entry"),
        min(when(col("event_type") === "purchase", day)).as("conv"),
        max(day).as("lastd"))
    val horizon = users.agg(max(col("lastd")).as("hz"))
    val durations = users.crossJoin(broadcast(horizon))
      .select(
        when(col("conv").isNotNull, col("conv") - col("entry"))
          .otherwise(col("hz") - col("entry")).as("t"),
        col("conv").isNotNull.as("died"))
    val grid = durations
      .groupBy(col("t"))
      .agg(sum(when(col("died"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("ending"))
    val wDesc = Window.orderBy(col("t").desc)
    val wAsc = Window.orderBy(col("t"))
    grid
      .withColumn("n_risk", sum(col("ending")).over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("h_ppm", expr("d * 1000000 div n_risk"))
      .withColumn("cumhaz_ppm", sum(when(col("d") > 0, col("h_ppm"))
        .otherwise(0L)).over(
        wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("d") > 0)
      .select(col("t"), col("n_risk"), col("d"), col("h_ppm"),
        col("cumhaz_ppm"))
      .orderBy(col("t"))
  }

  val q261Sql: String =
    """WITH u AS (SELECT user_id,
      |         min(epoch_us(ts) // 86400000000) AS entry,
      |         min(CASE WHEN event_type = 'purchase'
      |             THEN epoch_us(ts) // 86400000000 END) AS conv,
      |         max(epoch_us(ts) // 86400000000) AS lastd
      |       FROM events GROUP BY 1),
      |hz AS (SELECT max(lastd) AS hz FROM u),
      |dur AS (SELECT CASE WHEN conv IS NOT NULL THEN conv - entry
      |                    ELSE hz - entry END AS t,
      |               conv IS NOT NULL AS died
      |        FROM u, hz),
      |grid AS (SELECT t, CAST(sum(CASE WHEN died THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |           CAST(count(*) AS BIGINT) AS ending
      |         FROM dur GROUP BY 1),
      |risk AS (SELECT *,
      |           CAST(sum(ending) OVER (ORDER BY t DESC
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |             AS BIGINT) AS n_risk
      |         FROM grid),
      |haz AS (SELECT *, CAST(d * 1000000 // n_risk AS BIGINT) AS h_ppm
      |        FROM risk),
      |cum AS (SELECT *,
      |          CAST(sum(CASE WHEN d > 0 THEN h_ppm ELSE 0 END)
      |            OVER (ORDER BY t
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS cumhaz_ppm
      |        FROM haz)
      |SELECT t, n_risk, d, h_ppm, cumhaz_ppm
      |FROM cum WHERE d > 0 ORDER BY t""".stripMargin

  // lazy: q71/q79 are declared below this list (file keeps numeric
  // order); a strict val would capture their pre-init nulls
  lazy val entries: Seq[(String, Q, String)] = Seq(
    ("q19_minhash_lsh_neardup", q19, q19Sql),
    ("q20_simhash", q20, q20Sql),
    ("q21_ngram_jaccard", q21, q21Sql),
    ("q22_embedding_neardup", q22, q22Sql),
    ("q23_ann_lsh", q23, q23Sql),
    ("q24_lang_id", q24, q24Sql),
    ("q25_quality_score", q25, q25Sql),
    ("q26_token_count", q26, q26Sql),
    ("q27_fingerprint", q27, q27Sql),
    ("q28_json_extract", q28, q28Sql),
    ("q29_cube", q29, q29Sql),
    ("q30_ann_ivf", q30, q30Sql),
    ("q38_tfidf", q38, q38Sql),
    ("q39_session_windows", q39, q39Sql),
    ("q45_ann_multiprobe", q45, q45Sql),
    ("q46_hash_sample", q46, q46Sql),
    ("q47_approx_distinct", q47, q47Sql),
    ("q49_skew_salted_agg", q49, q49Sql),
    ("q50_cosine_lsh_neardup", q50, q50Sql),
    ("q51_dataprep_pipeline", q51, q51Sql),
    ("q52_dedup_clusters", q52, q52Sql),
    ("q53_stratified_sample", q53, q53Sql),
    ("q54_quality_percentile", q54, q54Sql),
    ("q55_incremental_neardup", q55, q55Sql),
    ("q56_sequence_packing", q56, q56Sql),
    ("q57_asof_join", q57, q57Sql),
    ("q58_range_join", q58, q58Sql),
    ("q59_contamination", q59, q59Sql),
    ("q60_repetition", q60, q60Sql),
    ("q61_duplicate_passages", q61, q61Sql),
    ("q62_bm25_search", q62, q62Sql),
    ("q63_unigram_lm", q63, q63Sql),
    ("q64_semantic_dedup", q64, q64Sql),
    ("q65_token_budget", q65, q65Sql),
    ("q66_shard_assign", q66, q66Sql),
    ("q67_mixture_sample", q67, q67Sql),
    ("q68_drift_psi", q68, q68Sql),
    ("q71_approx_quantiles", q71, q71Sql),
    ("q72_bpe_train", q72, q72Sql),
    ("q73_bpe_encode", q73, q73Sql),
    ("q74_pq_codes", q74, q74Sql),
    ("q75_pq_ann", q75, q75Sql),
    ("q76_knn_join", q76, q76Sql),
    ("q78_ivfpq_ann", q78, q78Sql),
    ("q79_heavy_hitters", q79, q79Sql),
    ("q80_fuzzy_join", q80, q80Sql),
    ("q81_chunk_overlap", q81, q81Sql),
    ("q82_sq_int8", q82, q82Sql),
    ("q83_multimodal_neardup", q83, q83Sql),
    ("q84_bloom_dedup", q84, q84Sql),
    ("q85_classifier_filter", q85, q85Sql),
    ("q86_quantile_drift", q86, q86Sql),
    ("q87_funnel", q87, q87Sql),
    ("q88_retention", q88, q88Sql),
    ("q89_bigram_lm", q89, q89Sql),
    ("q90_outlier_fences", q90, q90Sql),
    ("q91_random_projection", q91, q91Sql),
    ("q92_transitions", q92, q92Sql),
    ("q93_pagerank", q93, q93Sql),
    ("q94_wau_sliding", q94, q94Sql),
    ("q95_nearest_centroid", q95, q95Sql),
    ("q96_audio_features", q96, q96Sql),
    ("q97_peak_concurrency", q97, q97Sql),
    ("q98_hybrid_rrf", q98, q98Sql),
    ("q99_triangle_coeff", q99, q99Sql),
    ("q100_dup_spans", q100, q100Sql),
    ("q101_cdc_dedup", q101, q101Sql),
    ("q102_gopher_rules", q102, q102Sql),
    ("q103_winnowing", q103, q103Sql),
    ("q104_vocab_growth", q104, q104Sql),
    ("q105_perplexity_buckets", q105, q105Sql),
    ("q106_novelty_rate", q106, q106Sql),
    ("q107_collocations", q107, q107Sql),
    ("q108_dup_matrix", q108, q108Sql),
    ("q109_leakage_safe_split", q109, q109Sql),
    ("q110_fixed_size_sample", q110, q110Sql),
    ("q111_epoch_oversample", q111, q111Sql),
    ("q112_kmv_overlap", q112, q112Sql),
    ("q113_burst_detection", q113, q113Sql),
    ("q156_kmv_distinct", q156, q156Sql),
    ("q169_calibration_curve", q169, q169Sql),
    ("q177_contamination_hops", q177, q177Sql),
    ("q183_video_frame_dedup", q183, q183Sql),
    ("q186_fuzzy_join_d2", q186, q186Sql),
    ("q192_simhash_hamming_join", q192, q192Sql),
    ("q200_dbscan", q200, q200Sql),
    ("q206_readability", q206, q206Sql),
    ("q211_mmr_topk", q211, q211Sql),
    ("q214_ahash_dedup", q214, q214Sql),
    ("q230_collocation_lift", q230, q230Sql),
    ("q245_negative_sampling", q245, q245Sql),
    ("q246_hard_negatives", q246, q246Sql),
    ("q247_quantile_sketch", q247, q247Sql),
    ("q248_preference_pairs", q248, q248Sql),
    ("q249_uncertainty_sample", q249, q249Sql),
    ("q250_length_batching", q250, q250Sql),
    ("q251_span_corruption", q251, q251Sql),
    ("q252_inbatch_collisions", q252, q252Sql),
    ("q253_k_anonymity", q253, q253Sql),
    ("q254_erasure_audit", q254, q254Sql),
    ("q255_embedding_quality", q255, q255Sql),
    ("q256_fk_orphans", q256, q256Sql),
    ("q257_gate_ablation", q257, q257Sql),
    ("q258_token_waterfill", q258, q258Sql),
    ("q259_dup_attribution", q259, q259Sql),
    ("q260_source_gini", q260, q260Sql),
    ("q261_survival_hazard", q261, q261Sql),
    ("q262_cluster_diameter", q262, q262Sql),
    ("q263_zipf_audit", q263, q263Sql),
    ("q264_l_diversity", q264, q264Sql),
    ("q265_dp_release", q265, q265Sql),
    ("q266_random_walks", q266, q266Sql),
    ("q267_dataset_fingerprint", q267, q267Sql),
    ("q268_zorder_layout", q268, q268Sql),
    ("q270_ood_mahalanobis", q270, q270Sql),
    ("q271_t_closeness", q271, q271Sql),
    ("q272_pca_power", q272, q272Sql),
    ("q273_join_size_est", q273, q273Sql),
    ("q274_json_schema_profile", q274, q274Sql),
    ("q275_phrase_search", q275, q275Sql),
    ("q276_survivorship", q276, q276Sql),
    ("q277_training_matrix", q277, q277Sql),
    ("q279_conformal_gate", q279, q279Sql),
    ("q280_fairness_parity", q280, q280Sql),
    ("q281_srm_check", q281, q281Sql),
    ("q282_isotropy", q282, q282Sql),
    ("q283_curriculum", q283, q283Sql),
    ("q285_fertility_parity", q285, q285Sql),
    ("q286_stratified_effect", q286, q286Sql),
    ("q287_encoding_advisor", q287, q287Sql),
    ("q288_label_noise", q288, q288Sql),
    ("q289_kcenter_coreset", q289, q289Sql),
    ("q290_silence_segments", q290, q290Sql),
    ("q291_markov_accuracy", q291, q291Sql),
    ("q292_ivf_balance", q292, q292Sql),
    ("q293_column_checksums", q293, q293Sql),
    ("q294_erasure_closure", q294, q294Sql),
    ("q295_funnel_latency", q295, q295Sql),
    ("q296_sketch_error", q296, q296Sql),
    ("q298_sequence_packing", q298, q298Sql),
    ("q299_mixture_reweight", q299, q299Sql),
    ("q302_retention_tail", q302, q302Sql),
    ("q303_semantic_dedup", q303, q303Sql),
    ("q304_margin_mining", q304, q304Sql))

  // --------------------------------------------------------------- Q71
  /** Approximate QUANTILES per event type — a p25/p50/p75/p95 grid
    * beside the exact row count. Round 10 re-based the estimator from
    * KLL-style `percentile_approx` (merge-tree-dependent, replays
    * nowhere) onto the deterministic BOTTOM-k-BY-HASH sampler (q247's
    * mechanism at k = 512 — rank error halves vs q247's 256 — with a
    * distinct salt `kll71|` and the wider quantile grid), so the
    * declared entry scores oracle-EXACT; `percentile_approx` survives
    * as [[EngineNative.q71Kll]], spec-bracketed and benched. The k
    * md5-smallest events per type are a uniform without-replacement
    * sample (the q110/q46 seam), mergeable by construction (bottom-k
    * of a union = bottom-k of bottom-ks — O(groups × k) shuffle), and
    * the estimates are DISCRETE order statistics of the sampled
    * BIGINT cents — no interpolation ulp exists (the q90 discipline).
    * Types with ≤ k events take the exact path. */
  val q71: Q = (s, d) => {
    val k = 512
    val smp = t(s, d, "events")
      .select(col("event_type"),
        md5(concat(lit("kll71|"), col("event_id").cast("string"))).as("h"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(graft.operators.TopK.minKByString(k)(col("h"), col("cents")).as("smp"),
        count(lit(1)).as("n"))
      .withColumn("cs", array_sort(expr("transform(smp, x -> x._2)")))
      .withColumn("m", size(col("cs")))
    def qAt(p: Double, nm: String) =
      element_at(col("cs"), ceil(col("m") * lit(p)).cast("int")).as(nm)
    smp.select(col("event_type"), col("n"),
        qAt(0.25, "p25_cents"), qAt(0.50, "p50_cents"),
        qAt(0.75, "p75_cents"), qAt(0.95, "p95_cents"))
      .orderBy(col("event_type"))
  }

  val q71Sql: String =
    """WITH h AS (SELECT event_type,
      |         md5('kll71|' || CAST(event_id AS VARCHAR)) AS h,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |       FROM events),
      |rk AS (SELECT event_type, cents,
      |         row_number() OVER (PARTITION BY event_type ORDER BY h, cents) AS rn
      |       FROM h),
      |q AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m,
      |        list_sort(list(cents)) AS cs
      |      FROM rk WHERE rn <= 512 GROUP BY 1),
      |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |      FROM events GROUP BY 1)
      |SELECT q.event_type, n.n AS n,
      |       cs[CAST(ceil(m * 0.25) AS BIGINT)] AS p25_cents,
      |       cs[CAST(ceil(m * 0.50) AS BIGINT)] AS p50_cents,
      |       cs[CAST(ceil(m * 0.75) AS BIGINT)] AS p75_cents,
      |       cs[CAST(ceil(m * 0.95) AS BIGINT)] AS p95_cents
      |FROM q JOIN n ON q.event_type = n.event_type
      |ORDER BY q.event_type""".stripMargin

  // --------------------------------------------------------------- Q79
  /** Heavy hitters per language — top-5 terms by estimated frequency.
    * Round 10 re-based the estimator from Misra-Gries (merge-order-
    * dependent counts) onto the deterministic COUNT-MIN sketch (q130's
    * mechanism — d = 4 md5 hash rows × 256 buckets — applied per
    * language via the composite `lang|term` item key), so the declared
    * entry scores oracle-EXACT; Misra-Gries survives as
    * [[EngineNative.q79Mg]], spec-pinned (completeness guarantee) and
    * benched. Scale shape: the term fold is the q63 unigram-LM
    * partial-aggregable pass (vocab is Heaps-bounded); the sketch is
    * ≤ 1024 exact integer cells, mergeable by cellwise add; candidates
    * probe the BROADCAST sketch and the per-language top-5 rides a
    * vocab-sized window. CMS one-sidedness (est ≥ true) means the
    * top-5-by-estimate screen never misses a true heavy hitter whose
    * count clears the collision noise — the q130 promise per language. */
  val q79: Q = (s, d) => {
    val terms = t(s, d, "documents")
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("term"))
      .select(col("lang"), col("term"),
        concat(col("lang"), lit("|"), col("term")).as("lt"))
    // distinct-first folding (the q73 lesson): ONE corpus pass folds the
    // token stream to vocab-sized (lang, term, count); the sketch then
    // ingests per-DISTINCT counts — cellwise identical to per-occurrence
    // inserts (integer addition is associative) at vocab cost. `cand`
    // feeds both the cells build and the probe, so it's pinned — the
    // 100 TB trade is a Heaps-bounded artifact vs a corpus re-scan.
    val cand = graft.core.Pins.pin(
      terms.groupBy(col("lang"), col("term"), col("lt"))
        .agg(count(lit(1)).as("true_cnt")))
    val jj = typedLit((0 until 4).toList)
    val sk = cand.select(col("lt"), col("true_cnt"), explode(jj).as("j"))
      .groupBy(col("j"), graft.operators.CountMin.bucket(col("j"), col("lt")).as("b"))
      .agg(sum(col("true_cnt")).as("c"))
    val est = graft.operators.CountMin.estimates(cand, sk, "lt")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("est_cnt").desc, col("term").asc)
    est.withColumn("r", row_number().over(w).cast("long"))
      .filter(col("r") <= 5)
      .select(col("lang"), col("r"), col("term"), col("est_cnt"))
      .orderBy(col("lang"), col("r"))
  }

  val q79Sql: String =
    """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS term
      |       FROM documents),
      |terms AS (SELECT lang, term, lang || '|' || term AS lt
      |          FROM toks),
      |jj AS (SELECT unnest(generate_series(0, 3)) AS j),
      |sk AS (SELECT j, substr(md5(CAST(j AS VARCHAR) || '|' || lt), 1, 2) AS b,
      |         count(*) AS c
      |       FROM terms, jj GROUP BY 1, 2),
      |cand AS (SELECT lang, term, lt, count(*) AS true_cnt
      |         FROM terms GROUP BY 1, 2, 3),
      |est AS (SELECT cand.lang, cand.term, min(sk.c) AS est_cnt
      |        FROM cand, jj
      |        JOIN sk ON sk.j = jj.j
      |          AND sk.b = substr(md5(CAST(jj.j AS VARCHAR) || '|' || cand.lt), 1, 2)
      |        GROUP BY 1, 2),
      |rk AS (SELECT lang,
      |         CAST(row_number() OVER (PARTITION BY lang
      |           ORDER BY est_cnt DESC, term) AS BIGINT) AS r,
      |         term, est_cnt
      |       FROM est)
      |SELECT lang, r, term, est_cnt FROM rk WHERE r <= 5
      |ORDER BY lang, r""".stripMargin

  // --------------------------------------------------------------- Q262
  /** DEDUP-CLUSTER DIAMETER AUDIT — the transitive-CHAINING hazard
    * check the near-dup family was missing: connected components over
    * an LSH pair graph (q52's clusters) can CHAIN A~B~C into one
    * cluster even when A and C are far apart, and a keep-one-per-
    * cluster dedup (q147) then silently drops documents that were
    * never near-duplicates of the survivor. This query measures that
    * risk EXACTLY: for every multi-doc cluster, the min/max pairwise
    * Jaccard over ALL member pairs (non-edges included — they are the
    * hazard) and a `chained` flag (min < the 0.5 edge threshold ⟹ the
    * cluster holds a pair no verifier ever approved). Scale shape:
    * the pair graph + components are the q52 machinery (memoized LSH
    * pairs, iterated min-label propagation); the quadratic term is
    * confined WITHIN clusters (dedup clusters are near-dup-family-
    * sized — members carry their ingest-time hashed shingle sets, and
    * a pathological mega-cluster is exactly what the audit exists to
    * surface before a dedup run trusts it). Oracle: the q52 recursive
    * closure + list-intersect Jaccard over string shingles —
    * independent mechanisms for both the components and the
    * similarities. */
  val q262: Q = (s, d) => {
    val pairs = lshPairsFor(s, d)
    val cc = graft.operators.DedupClusters.connectedComponents(pairs)
    val shh = graft.operators.MinHashLsh
      .signatures(t(s, d, "documents"), numHashes = 8, shingleN = 3)
      .select(col("doc_id"), col("shh"))
    val mem = cc.join(shh, Seq("doc_id"))
    val pw = mem.as("a").join(mem.as("b"),
        col("a.component") === col("b.component")
          && col("a.doc_id") < col("b.doc_id"))
      .withColumn("common", size(array_intersect(col("a.shh"), col("b.shh"))))
      .select(col("a.component").as("cluster_id"),
        round(col("common").cast("double") /
          (size(col("a.shh")) + size(col("b.shh")) - col("common")), 4).as("jac"))
    val sizes = cc.groupBy(col("component").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
    sizes.join(pw.groupBy(col("cluster_id"))
        .agg(min(col("jac")).as("min_pair_sim"),
          max(col("jac")).as("max_pair_sim")), Seq("cluster_id"))
      .select(col("cluster_id"), col("n_docs"),
        col("min_pair_sim"), col("max_pair_sim"),
        (col("min_pair_sim") < 0.5).cast("int").as("chained"))
      .orderBy(col("cluster_id"))
  }

  val q262Sql: String = {
    val sigCols = Seeds.map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i").mkString(", ")
    val bandCond = (0 until 4).map(b =>
      s"(a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1})").mkString(" OR ")
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
       |mem AS (SELECT c.doc_id, c.component, shl.sh
       |        FROM comp c JOIN shl ON c.doc_id = shl.doc_id),
       |pw AS (SELECT a.component AS cluster_id,
       |         round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jac
       |       FROM mem a JOIN mem b
       |       ON a.component = b.component AND a.doc_id < b.doc_id),
       |sz AS (SELECT component AS cluster_id, CAST(count(*) AS BIGINT) AS n_docs
       |       FROM comp GROUP BY 1)
       |SELECT sz.cluster_id, sz.n_docs,
       |       min(pw.jac) AS min_pair_sim, max(pw.jac) AS max_pair_sim,
       |       CAST(CASE WHEN min(pw.jac) < 0.5 THEN 1 ELSE 0 END AS INTEGER) AS chained
       |FROM sz JOIN pw ON sz.cluster_id = pw.cluster_id
       |GROUP BY 1, 2 ORDER BY sz.cluster_id""".stripMargin
  }

  // --------------------------------------------------------------- Q263
  /** ZIPF RANK-FREQUENCY AUDIT — the corpus-statistics check beside
    * q104's vocab growth (Heaps) and q107's collocations: per
    * language, the top-20 terms by exact frequency with their rank ×
    * frequency product — Zipf's law says r·f ≈ constant, and a corpus
    * whose rf collapses or explodes across ranks has a degenerate
    * head (boilerplate, templating, token-salad) worth a curation
    * look. Everything is INTEGER (counts, ranks, products, and the
    * spread as a floor-div ppm of the per-language rf range over its
    * min) — no float exists to diverge. Scale shape: the q63 fold
    * collapses the token stream to the Heaps-bounded vocab map-side;
    * ranks ride a vocab-sized per-language window; output is langs ×
    * 20 rows. Ties break (freq DESC, term ASC) — a stated total
    * order, both engines. */
  val q263: Q = (s, d) => {
    val tf = t(s, d, "documents")
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("f").desc, col("term").asc)
    val ranked = tf.withColumn("r", row_number().over(w).cast("long"))
      .filter(col("r") <= 20)
      .withColumn("rf", col("r") * col("f"))
    val spread = ranked.groupBy(col("lang"))
      .agg(expr("max(rf) * 1000000 div min(rf)").as("rf_spread_ppm"))
    ranked.join(spread, Seq("lang"))
      .select(col("lang"), col("r"), col("term"), col("f"), col("rf"),
        col("rf_spread_ppm"))
      .orderBy(col("lang"), col("r"))
  }

  val q263Sql: String =
    """WITH tf AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS f
      |       FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
      |             FROM documents)
      |       GROUP BY 1, 2),
      |rk AS (SELECT lang, term, f,
      |         CAST(row_number() OVER (PARTITION BY lang
      |           ORDER BY f DESC, term ASC) AS BIGINT) AS r
      |       FROM tf),
      |top AS (SELECT lang, r, term, f, r * f AS rf FROM rk WHERE r <= 20),
      |sp AS (SELECT lang, max(rf) * 1000000 // min(rf) AS rf_spread_ppm
      |       FROM top GROUP BY 1)
      |SELECT top.lang, r, term, f, rf, sp.rf_spread_ppm
      |FROM top JOIN sp ON top.lang = sp.lang
      |ORDER BY top.lang, r""".stripMargin

  // --------------------------------------------------------------- Q264
  /** L-DIVERSITY audit — k-anonymity's necessary second gate (q253
    * checks every row hides in a crowd of ≥ k; this checks the crowd
    * doesn't all SHARE the secret — a homogeneous class discloses the
    * sensitive attribute to anyone who knows the quasi-identifiers,
    * k-anonymity notwithstanding; Machanavajjhala et al. 2007): QI =
    * (nation, market segment), sensitive = the customer's order
    * priority; per QI class the number of DISTINCT priorities l, and
    * the one-row audit a release review gates on — classes, min l,
    * classes at l = 1 (full disclosure), rows exposed in them, ppm.
    * Scale shape: the customer⋈orders join folds to (QI, priority)
    * DISTINCTs map-side (classes × priorities ≤ 125 × 5 output); the
    * distinct-l fold and the one-row audit are class-count-sized.
    * Floor-div ppm — all integers, no float exists. */
  val q264: Q = (s, d) => {
    val rows = t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        col("o_orderpriority"))
    val classes = rows
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("m"),
        countDistinct(col("o_orderpriority")).as("l"))
    classes.agg(
        sum(col("m")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("l")).as("min_l"),
        sum(when(col("l") === 1, 1L).otherwise(0L)).as("classes_l1"),
        sum(when(col("l") === 1, col("m")).otherwise(0L)).as("rows_exposed"))
      .withColumn("exposed_ppm", expr("rows_exposed * 1000000 div n_rows"))
  }

  val q264Sql: String =
    """WITH r AS (SELECT c_nationkey, c_mktsegment, o_orderpriority
      |       FROM customer JOIN orders ON c_custkey = o_custkey),
      |cl AS (SELECT c_nationkey, c_mktsegment,
      |         CAST(count(*) AS BIGINT) AS m,
      |         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l
      |       FROM r GROUP BY 1, 2)
      |SELECT CAST(sum(m) AS BIGINT) AS n_rows,
      |       CAST(count(*) AS BIGINT) AS n_classes,
      |       CAST(min(l) AS BIGINT) AS min_l,
      |       CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS classes_l1,
      |       CAST(sum(CASE WHEN l = 1 THEN m ELSE 0 END) AS BIGINT)
      |         AS rows_exposed,
      |       CAST(sum(CASE WHEN l = 1 THEN m ELSE 0 END) * 1000000 // sum(m)
      |            AS BIGINT) AS exposed_ppm
      |FROM cl""".stripMargin

  // --------------------------------------------------------------- Q265
  /** SEEDED DP-NOISE count release — the privacy shelf's release
    * mechanism beside its audits (q253/q264 decide WHETHER a table can
    * ship; this ships a noisy aggregate): per event type, the true
    * count plus two-sided geometric(1/2) noise — the discrete Laplace
    * mechanism at ε = ln 2 per unit sensitivity — drawn DETERMINISTICALLY
    * from the md5 seam instead of an RNG: magnitude = leading-zero
    * BITS of the 52-bit hash (P[m] = 2^−(m+1), exactly geometric),
    * sign = parity of the 14th hex digit (independent bits). A seeded
    * mechanism is the consistent-release flavor — re-answering the
    * same query re-derives the SAME noise, so repetition leaks
    * nothing new (fresh noise per re-release would average away; the
    * seed stands in for the stored-noise ledger a production DP
    * accountant keeps). Everything is hex-string + integer CASE
    * arithmetic stated identically in both engines — no float, no
    * log, no boundary ulp. Scale: one partial-aggregable count fold;
    * the noise is per-GROUP scalar work. */
  val q265: Q = (s, d) => {
    val trimmed = expr("trim(LEADING '0' FROM substring(md5(concat('dp|', event_type)), 1, 13))")
    val z = (lit(13) - length(trimmed)).cast("long") // leading zero hex digits
    val d1 = substring(trimmed, 1, 1)                // first non-zero digit
    val bits = when(d1 === "1", 3L)
      .when(d1.isin("2", "3"), 2L)
      .when(d1.isin("4", "5", "6", "7"), 1L)
      .otherwise(0L)
    val mag = when(length(trimmed) === 0, 52L).otherwise(z * 4 + bits)
    val sign = when(
      expr("instr('13579bdf', substring(md5(concat('dp|', event_type)), 14, 1)) > 0"),
      -1L).otherwise(1L)
    t(s, d, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("noise", sign * mag)
      .withColumn("noisy_n", col("n") + col("noise"))
      .select(col("event_type"), col("n"), col("noise"), col("noisy_n"),
        lit(693147L).as("eps_ppm")) // ε = ln 2 per unit sensitivity
      .orderBy(col("event_type"))
  }

  val q265Sql: String =
    """WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |       FROM events GROUP BY 1),
      |hx AS (SELECT event_type, n,
      |         trim(LEADING '0' FROM substr(md5('dp|' || event_type), 1, 13)) AS tr,
      |         substr(md5('dp|' || event_type), 14, 1) AS sd
      |       FROM c),
      |nz AS (SELECT event_type, n,
      |         CASE WHEN length(tr) = 0 THEN 52
      |              ELSE (13 - length(tr)) * 4 +
      |                CASE WHEN substr(tr, 1, 1) = '1' THEN 3
      |                     WHEN substr(tr, 1, 1) IN ('2', '3') THEN 2
      |                     WHEN substr(tr, 1, 1) IN ('4', '5', '6', '7') THEN 1
      |                     ELSE 0 END END AS mag,
      |         CASE WHEN strpos('13579bdf', sd) > 0 THEN -1 ELSE 1 END AS sgn
      |       FROM hx)
      |SELECT event_type, n, CAST(sgn * mag AS BIGINT) AS noise,
      |       CAST(n + sgn * mag AS BIGINT) AS noisy_n,
      |       CAST(693147 AS BIGINT) AS eps_ppm
      |FROM nz ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q266
  /** RANDOM-WALK CORPUS generation — graph-embedding data prep
    * (DeepWalk / node2vec, Perozzi 2014 / Grover 2016): the "sentences"
    * a skip-gram model trains on are walks over the interaction graph;
    * this emits one length-4 walk per catalog part over the bipartite
    * user↔part purchase graph (part → buyer → part → buyer). The walk
    * is DETERMINISTIC, not RNG: at node v on step t the next node is
    * the neighbor minimizing md5("w|t|v|neighbor") — the q46/q245 hash
    * seam applied to traversal, uniform over neighbors and replayable
    * in any engine. Seeding per (node, step) — not per walk — is the
    * SCALE choice: every choice table is a per-node argmin, so the
    * whole corpus needs TWO partial-aggregable edge folds (the by-part
    * fold carries steps 1 and 3 together, the by-user fold step 2 —
    * map-side (hash, id)-struct min collapse) plus node-sized joins,
    * where per-walk seeds make every hop a frontier×edges join (the
    * first cut benched 2.2 s vs 0.9 s). The trade is stated: walks
    * meeting at a node on the same step merge from there on; epochs
    * reseed by prefix ("w2|…"), which de-correlates across epochs —
    * the standard DeepWalk corpus recipe. Edge multiplicity is
    * argmin-invariant, so the fold runs on the RAW join projection
    * (no distinct exchange). Dead ends cannot exist (bipartite:
    * every frontier node arrived via an edge). */
  val q266: Q = (s, d) => {
    // (r14 measured-negative: a round-robin spread of ep before the
    // folds — the MinHashLsh single-split pattern — benched 1.62 →
    // 2.73 s: keyless repartition pays a local sort of its input
    // (guide §2.5) and the extra exchange outweighs the parallelized
    // partial-agg digests. The two-fold no-pin form below stays.
    // r15: spreading the LINEITEM SCAN before the join instead — so the
    // join + digest folds parallelize while both keyed exchanges and
    // partial aggs survive — A/B'd 1.76 → 2.09 best-of-7, every rep
    // worse: same sort-before-repartition tax, now paid on the raw
    // scan. The single-split digest kernel is cheaper than any spread.)
    val ep = t(s, d, "orders")
      .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("p"))
    // the 52-bit hash rides the FUSED NATIVE kernel
    // ([[graft.functions.TextOps.md5Long52]]): 1.8M per-row digests are
    // this query's intrinsic work, and the declarative
    // conv(substring(md5..)) stack's hex round-trip was the measured
    // wall (the q27 fused-kernel lesson applied to the md5-52 seam)
    def h52(step: Int, cur: org.apache.spark.sql.Column,
            nxt: org.apache.spark.sql.Column) =
      TextOps.md5Long52(concat(lit(s"w|$step|"), cur.cast("string"),
        lit("|"), nxt.cast("string")))
    // per-part choices for steps 1 and 3 in ONE fold; per-user for 2;
    // argmin = min over the (hash, id) long struct — the oracle's
    // ORDER BY (h52, id) stated as a partial-aggregable fold.
    // r14 measured-negative note: a tag-exploded SINGLE fold (each edge
    // emitted in both orientations, one exchange, conditional mins)
    // benched 1.62 → 2.62 s — the explode + 3-struct-wide partial rows
    // cost more than the second scan+join pass it saved; the two-fold
    // form stays (as does the no-pin choice on ep: a 600k-row pin write
    // alone costs more and adds a job).
    val byP = ep.groupBy(col("p"))
      .agg(min(struct(h52(1, col("p"), col("u")).as("h"),
          col("u").as("id"))).as("m1"),
        min(struct(h52(3, col("p"), col("u")).as("h"),
          col("u").as("id"))).as("m3"))
    val byU = ep.groupBy(col("u"))
      .agg(min(struct(h52(2, col("u"), col("p")).as("h"),
        col("p").as("id"))).as("m2"))
    val c13 = graft.core.Pins.pin(
      byP.select(col("p"), col("m1.id").as("c1"), col("m3.id").as("c3")))
    val c2 = byU.select(col("u"), col("m2.id").as("c2"))
    c13.select(col("p").as("start"), col("c1").as("u1"))
      .join(broadcast(c2.withColumnRenamed("u", "u1")), Seq("u1"))
      .withColumnRenamed("c2", "p2")
      .join(broadcast(c13.select(col("p").as("p2"), col("c3").as("u3"))),
        Seq("p2"))
      .select(col("start"), col("u1"), col("p2"), col("u3"))
      .orderBy(col("start"))
  }

  val q266Sql: String =
    """WITH e AS (SELECT o_custkey AS u, l_partkey AS p
      |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |c1 AS (SELECT p, u AS c1 FROM e
      |       QUALIFY row_number() OVER (PARTITION BY p
      |         ORDER BY substr(md5('w|1|' || CAST(p AS VARCHAR) || '|' || CAST(u AS VARCHAR)), 1, 13), u) = 1),
      |c2 AS (SELECT u, p AS c2 FROM e
      |       QUALIFY row_number() OVER (PARTITION BY u
      |         ORDER BY substr(md5('w|2|' || CAST(u AS VARCHAR) || '|' || CAST(p AS VARCHAR)), 1, 13), p) = 1),
      |c3 AS (SELECT p, u AS c3 FROM e
      |       QUALIFY row_number() OVER (PARTITION BY p
      |         ORDER BY substr(md5('w|3|' || CAST(p AS VARCHAR) || '|' || CAST(u AS VARCHAR)), 1, 13), u) = 1)
      |SELECT c1.p AS start, c1.c1 AS u1, c2.c2 AS p2, c3.c3 AS u3
      |FROM c1 JOIN c2 ON c2.u = c1.c1 JOIN c3 ON c3.p = c2.c2
      |ORDER BY start""".stripMargin

  // --------------------------------------------------------------- Q267
  /** CONTENT-ADDRESSED DATASET FINGERPRINT — the data-versioning
    * primitive (DVC / HF-datasets style): per source, a Merkle-style
    * digest of the corpus CONTENT that two parties can compare without
    * exchanging data — equal fingerprints ⟺ equal document multisets
    * (up to md5 collision), any single-document edit flips it, and row
    * / partition / arrival order never matters because every level
    * folds SORTED digests. Two levels keep it distributed: level 1
    * digests each (source, doc_id-div-1024 bucket)'s sorted per-doc
    * content hashes (arrays bounded at 1024 × 32 hex chars — never a
    * corpus-sized string), level 2 digests each source's sorted bucket
    * digests (bucket-count-sized). The same recipe extends to any
    * depth at 100 TB (a trillion docs = one more level), and the
    * per-bucket digests are the INCREMENTAL unit: an updated bucket
    * re-digests alone, the Merkle root refolds from stored level-1
    * rows. Alongside the fingerprint: the audit counts a dataset card
    * pins (docs, buckets, chars). */
  val q267: Q = (s, d) => {
    val l1 = t(s, d, "documents")
      .select(col("source"), expr("doc_id div 1024").as("bucket"),
        md5(col("text")).as("h"), col("n_chars"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        md5(concat_ws("", array_sort(collect_list(col("h"))))).as("d1"))
    l1.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_buckets"),
        sum(col("n_chars")).as("n_chars"),
        md5(concat_ws("", array_sort(collect_list(col("d1"))))).as("fingerprint"))
      .orderBy(col("source"))
  }

  val q267Sql: String =
    """WITH l1 AS (SELECT source, doc_id // 1024 AS bucket,
      |         CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |         md5(string_agg(md5(text), '' ORDER BY md5(text))) AS d1
      |       FROM documents GROUP BY 1, 2)
      |SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |       CAST(count(*) AS BIGINT) AS n_buckets,
      |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |       md5(string_agg(d1, '' ORDER BY d1)) AS fingerprint
      |FROM l1 GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- Q268
  /** Z-ORDER LAYOUT AUDIT — the lakehouse `OPTIMIZE ZORDER BY (a, b)`
    * decision query ([[graft.core.ZOrder]]): before
    * rewriting 100 TB into a new clustering, measure what the Morton
    * layout actually buys for the table's probe mix. Both dimensions
    * (partkey, suppkey) quantize onto a 16-bit grid (exclusive-max from
    * a one-row broadcast aggregate), the 32-bit Morton key's top 6 bits
    * are the z-cell (= the file a range-partitioned rewrite would put
    * the row in: z-prefix ranges ARE axis-aligned rectangles), and the
    * single-column sort order's analog is the 6-bit x-prefix. Per
    * (layout, cell): rows, per-dimension min/max — exactly the footer
    * stats a reader prunes on — plus hit flags for a 1-D probe
    * (x ∈ mid-12.5%) and the 2-D probe (both dims mid-12.5%): the
    * audit's headline is Σhit_xy(zorder) ≪ Σhit_xy(linear) while
    * Σhit_x stays comparable — the multi-dimensional-clustering trade
    * stated as numbers (spec pins the inequality on the fixture).
    *
    * Scale shape: the z-key is pure codegen'd bit arithmetic inside
    * the scan projection (no UDF, no layout rewrite needed to AUDIT
    * one); the corpus crosses the wire ONCE, pre-folded to the
    * (z-cell, x-cell) cube — both cell keys are 6-bit, so the cube is
    * ≤ 4096 rows and the map-side partial aggregation collapses
    * everything before the only exchange; both layouts' stats then
    * re-fold from the pinned cube, and the output is cells-sized
    * (≤ 128 rows). The rewrite itself, when the audit says yes, is
    * `ZOrderLayout.layout` — one repartitionByRange shuffle on the
    * same key. */
  val q268: Q = (s, d) => {
    import graft.core.ZOrder
    val li = t(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey"))
    val mx = li.agg((max(col("l_partkey")) + lit(1L)).as("pm"),
      (max(col("l_suppkey")) + lit(1L)).as("sm"))
    val g = li.crossJoin(broadcast(mx))
      .select(ZOrder.grid16(col("l_partkey"), col("pm")).as("x"),
        ZOrder.grid16(col("l_suppkey"), col("sm")).as("y"))
    // one corpus pass: the (z-cell, linear-cell) cube, ≤ 64×64 rows
    // (for 16-bit grid inputs ZOrder.zvalue is exactly the 32-bit
    // Morton code the oracle's magic-number CTEs state)
    val cube = graft.core.Pins.pin(g
      .select(shiftright(ZOrder.zvalue(col("x"), col("y")), 26).as("zc"),
        shiftright(col("x"), 10).as("lc"), col("x"), col("y"))
      .groupBy(col("zc"), col("lc"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max")))
    def fold(cell: String, tag: String) = cube
      .groupBy(col(cell).as("zcell"))
      .agg(sum(col("n")).as("n_rows"),
        min(col("x_min")).as("x_min"), max(col("x_max")).as("x_max"),
        min(col("y_min")).as("y_min"), max(col("y_max")).as("y_max"))
      .select(lit(tag).as("layout"), col("*"))
    val (lo, hi) = (28672L, 36863L) // mid-12.5% of the 16-bit grid
    fold("zc", "zorder").unionByName(fold("lc", "linear"))
      .select(col("layout"), col("zcell"), col("n_rows"),
        col("x_min"), col("x_max"), col("y_min"), col("y_max"),
        (col("x_min") <= hi && col("x_max") >= lo).cast("int").as("hit_x"),
        (col("x_min") <= hi && col("x_max") >= lo &&
          col("y_min") <= hi && col("y_max") >= lo).cast("int").as("hit_xy"))
      .orderBy(col("layout"), col("zcell"))
  }

  val q268Sql: String =
    """WITH mx AS (SELECT max(l_partkey) + 1 AS pm, max(l_suppkey) + 1 AS sm
      |            FROM lineitem),
      |g AS (SELECT (l_partkey * 65536) // pm AS x,
      |             (l_suppkey * 65536) // sm AS y
      |      FROM lineitem, mx),
      |s1 AS (SELECT x, y, ((x | (x << 8)) & 16711935) AS xa,
      |                    ((y | (y << 8)) & 16711935) AS ya FROM g),
      |s2 AS (SELECT x, y, ((xa | (xa << 4)) & 252645135) AS xb,
      |                    ((ya | (ya << 4)) & 252645135) AS yb FROM s1),
      |s3 AS (SELECT x, y, ((xb | (xb << 2)) & 858993459) AS xc,
      |                    ((yb | (yb << 2)) & 858993459) AS yc FROM s2),
      |s4 AS (SELECT x, y, ((xc | (xc << 1)) & 1431655765) AS xd,
      |                    ((yc | (yc << 1)) & 1431655765) AS yd FROM s3),
      |u AS (SELECT 'zorder' AS layout, (xd | (yd << 1)) >> 26 AS zcell, x, y
      |      FROM s4
      |      UNION ALL
      |      SELECT 'linear' AS layout, x >> 10 AS zcell, x, y FROM s4)
      |SELECT layout, zcell, count(*) AS n_rows,
      |       min(x) AS x_min, max(x) AS x_max,
      |       min(y) AS y_min, max(y) AS y_max,
      |       CAST(CASE WHEN min(x) <= 36863 AND max(x) >= 28672
      |            THEN 1 ELSE 0 END AS INT) AS hit_x,
      |       CAST(CASE WHEN min(x) <= 36863 AND max(x) >= 28672
      |                  AND min(y) <= 36863 AND max(y) >= 28672
      |            THEN 1 ELSE 0 END AS INT) AS hit_xy
      |FROM u GROUP BY layout, zcell ORDER BY layout, zcell""".stripMargin

  // --------------------------------------------------------------- Q270
  /** MAHALANOBIS OOD SCREEN (diagonal covariance) — the embedding-space
    * outlier detector a curation pipeline runs before training on a new
    * batch (q128 catches BROKEN vectors — NaN/zero/truncated; this
    * catches VALID vectors that don't belong to the distribution):
    * score(x) = Σⱼ (xⱼ−μⱼ)²/σⱼ², the classic OOD baseline (Lee et al.
    * 2018, diagonal form). Everything stays integer-exact: vectors
    * quantize once (round(x·1000), the q82/q200 global grid), per-dim
    * sums (S, Q, n) come from ONE corpus fold, and the z² terms avoid
    * rational means entirely — zⱼ² = (qⱼ·n − Sⱼ)²/(n·Qⱼ − Sⱼ²), emitted
    * as term_ppm = dev²·10⁶ div V, summed over dims as ood_ppm (≈ 10⁶
    * per unit z²·dims), plus the count of dims past 3σ (term > 9·10⁶).
    * dev = n·(q−μ) grows with the CORPUS, so dev²·10⁶ crosses 2⁶³
    * already at n ≈ 1700 at this grid — the round-12 sf1.0 scale gate
    * caught exactly that as a loud ANSI overflow (the round-10 note
    * claimed n ≤ 8·10⁴, mis-derived) — so dev² rides DECIMAL(38,0)
    * (oracle: HUGEINT) and each term lands back in BIGINT ppm.
    * Top-20 by score.
    *
    * Scale shape: the stats fold is one partial-aggregable pass (the
    * 64-dim explode collapses map-side to 64 rows/task), the 64-entry
    * (S, V) arrays broadcast as a one-row relation, and scoring is a
    * scan-local HOF over each vector — no shuffle ever carries the
    * corpus; the top-20 is a TakeOrdered. */
  val q270: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("qv"))
    val stats = e
      .select(posexplode(col("qv")).as(Seq("j", "q")))
      .groupBy(col("j"))
      .agg(sum(col("q")).as("sj"), sum(col("q") * col("q")).as("qj"),
        count(lit(1)).as("n"))
      .agg(expr("transform(array_sort(collect_list(struct(j, sj))), p -> p.sj)").as("sarr"),
        expr("transform(array_sort(collect_list(struct(j, n * qj - sj * sj))), p -> p.col2)").as("varr"),
        first(col("n")).as("n"))
    e.crossJoin(broadcast(stats))
      .withColumn("terms", expr(
        """transform(sequence(1, 64), j ->
          |  CASE WHEN element_at(varr, j) > 0
          |    THEN CAST(CAST(element_at(qv, j) * n - element_at(sarr, j)
          |                   AS DECIMAL(38,0))
          |         * (element_at(qv, j) * n - element_at(sarr, j))
          |         * 1000000 div element_at(varr, j) AS BIGINT)
          |    ELSE CAST(0 AS BIGINT) END)""".stripMargin))
      .select(col("vec_id"), col("label"),
        expr("aggregate(terms, CAST(0 AS BIGINT), (a, x) -> a + x)").as("ood_ppm"),
        expr("CAST(size(filter(terms, t -> t > 9000000)) AS BIGINT)").as("dims_over_3sigma"))
      .orderBy(col("ood_ppm").desc, col("vec_id"))
      .limit(20)
  }

  val q270Sql: String =
    """WITH e AS (SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |       FROM embeddings),
      |ex AS (SELECT j, qv[j] AS q FROM e, UNNEST(generate_series(1, 64)) AS t(j)),
      |st AS (SELECT j, sum(q) AS sj, sum(q * q) AS qj, count(*) AS n
      |       FROM ex GROUP BY j),
      |sa AS (SELECT list(CAST(sj AS BIGINT) ORDER BY j) AS sarr,
      |              list(CAST(n * qj - sj * sj AS BIGINT) ORDER BY j) AS varr,
      |              any_value(CAST(n AS BIGINT)) AS n
      |       FROM st),
      |sc AS (SELECT vec_id, label,
      |         list_transform(generate_series(1, 64), j ->
      |           CASE WHEN varr[j] > 0
      |             THEN CAST(CAST(qv[j] * n - sarr[j] AS HUGEINT)
      |                       * (qv[j] * n - sarr[j])
      |                       * 1000000 // varr[j] AS BIGINT)
      |             ELSE 0 END) AS terms
      |       FROM e, sa)
      |SELECT vec_id, label,
      |       CAST(list_sum(terms) AS BIGINT) AS ood_ppm,
      |       CAST(len(list_filter(terms, t -> t > 9000000)) AS BIGINT)
      |         AS dims_over_3sigma
      |FROM sc ORDER BY ood_ppm DESC, vec_id LIMIT 20""".stripMargin

  // --------------------------------------------------------------- Q271
  /** T-CLOSENESS audit — the privacy trio's third gate (q253: every
    * row hides in a crowd of ≥ k; q264: the crowd doesn't all share
    * the secret; this: the crowd's secret DISTRIBUTION doesn't differ
    * from the table's — a class that is 90% URGENT leaks "probably
    * urgent" even at high k and l; Li et al. 2007). Sensitive =
    * order priority, an ORDERED attribute, so the paper's EMD is the
    * ordinal form: t = (1/(m−1))·Σᵢ |Σ_{j≤i}(pⱼ−qⱼ)| over the value
    * order. The cumulative differences stay RATIONAL on the common
    * denominator n_c·N — numᵢ = cum_class·N − cum_global·n_c — so
    * t_ppm = 10⁶·Σ|numᵢ| div ((m−1)·n_c·N) is pure BIGINT (exact
    * while n_c·N < ~9·10¹⁵ — beyond that the DECIMAL lift, the
    * documented dial). Per class: size, t_ppm, and the breach flag at
    * the paper's t > 0.2 example threshold.
    *
    * Scale shape: ONE corpus fold to (class, value) counts — the only
    * exchange that sees data; the dense class×value grid (a class
    * missing a value still accumulates its deficit), the cumulative
    * window, and the audit rows are all classes×m-sized. */
  val q271: Q = (s, d) => {
    val rows = t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        col("o_orderpriority").as("v"))
    val cv = graft.core.Pins.pin(rows
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("v"))
      .agg(count(lit(1)).as("cnt")))
    val nc = cv.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("cnt")).as("n_c"))
    val gv = cv.groupBy(col("v")).agg(sum(col("cnt")).as("g_cnt"))
    val tot = broadcast(gv.agg(sum(col("g_cnt")).as("n_total"),
      count(lit(1)).as("m")))
    val grid = nc.crossJoin(broadcast(gv)).crossJoin(tot)
      // cv is classes×values-sized (≤ 625 rows) — broadcast it so the
      // dense-grid join plans no keyed exchange
      .join(broadcast(cv), Seq("c_nationkey", "c_mktsegment", "v"), "left")
      .na.fill(0L, Seq("cnt"))
    val w = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))
      .orderBy(col("v"))
    grid
      .withColumn("cum_c", sum(col("cnt")).over(w))
      .withColumn("cum_g", sum(col("g_cnt")).over(w))
      .withColumn("num", abs(col("cum_c") * col("n_total") - col("cum_g") * col("n_c")))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("n_c"),
        col("n_total"), col("m"))
      .agg(sum(col("num")).as("s"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n_c"),
        expr("s * 1000000 div ((m - 1) * n_c * n_total)").as("t_ppm"))
      .withColumn("breach", (col("t_ppm") > 200000L).cast("int"))
      .orderBy(col("t_ppm").desc, col("c_nationkey"), col("c_mktsegment"))
  }

  val q271Sql: String =
    """WITH r AS (SELECT c_nationkey, c_mktsegment, o_orderpriority AS v
      |       FROM customer JOIN orders ON c_custkey = o_custkey),
      |cv AS (SELECT c_nationkey, c_mktsegment, v,
      |         CAST(count(*) AS BIGINT) AS cnt
      |       FROM r GROUP BY 1, 2, 3),
      |nc AS (SELECT c_nationkey, c_mktsegment, sum(cnt) AS n_c
      |       FROM cv GROUP BY 1, 2),
      |gv AS (SELECT v, sum(cnt) AS g_cnt FROM cv GROUP BY 1),
      |tot AS (SELECT sum(g_cnt) AS n_total, count(*) AS m FROM gv),
      |grid AS (SELECT nc.c_nationkey, nc.c_mktsegment, nc.n_c, gv.v,
      |           gv.g_cnt, tot.n_total, tot.m, coalesce(cv.cnt, 0) AS cnt
      |         FROM nc CROSS JOIN gv CROSS JOIN tot
      |         LEFT JOIN cv ON cv.c_nationkey = nc.c_nationkey
      |           AND cv.c_mktsegment = nc.c_mktsegment AND cv.v = gv.v),
      |cum AS (SELECT c_nationkey, c_mktsegment, n_c, n_total, m,
      |          abs(sum(cnt) OVER w * n_total
      |              - sum(g_cnt) OVER w * n_c) AS num
      |        FROM grid
      |        WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
      |                     ORDER BY v))
      |SELECT c_nationkey, c_mktsegment, CAST(n_c AS BIGINT) AS n_c,
      |       CAST(sum(num) * 1000000 // ((m - 1) * n_c * n_total)
      |            AS BIGINT) AS t_ppm,
      |       CAST(CASE WHEN sum(num) * 1000000 // ((m - 1) * n_c * n_total)
      |                      > 200000 THEN 1 ELSE 0 END AS INT) AS breach
      |FROM cum GROUP BY c_nationkey, c_mktsegment, n_c, n_total, m
      |ORDER BY t_ppm DESC, c_nationkey, c_mktsegment""".stripMargin

  // --------------------------------------------------------------- Q272
  /** DISTRIBUTED PCA, top principal direction — the embedding-prep
    * step between hygiene (q128/q270) and indexing (q30/q74): the
    * leading eigenvector of the covariance matrix via POWER ITERATION,
    * the one PCA algorithm whose distributed shape is exactly one
    * partial-aggregable fold. The corpus crosses the wire ONCE as the
    * second-moment cells (j, k) → (n, sⱼ, Gⱼₖ) — 64×65 struct cells
    * exploded scan-side collapse map-side to ≤ 4160 rows/task (the
    * Gramian-fold pattern; at 100 TB the shuffle still carries 4160
    * rows/task, nothing else). The centered matrix C = n·G − s·sᵀ
    * (= n²·cov, PSD) is MODEL-SIZED (64² longs), so the six power
    * steps run driver-side — like the BPE merge table and the k-means
    * centroids, training on the fold artifact, and replayed STEP FOR
    * STEP in the oracle's SQL. Every step is exact integer arithmetic:
    * v₀ = 10⁴·1; w = C·v; v' = sign(w)·(|w| div (max|w| div 10⁴ + 1))
    * — sign split so truncation-toward-zero agrees across engines —
    * and λ = ⌊vᵀCv / vᵀv⌋ (= n²·λ(cov_q), Rayleigh, BigInt-exact).
    * No float exists anywhere, so convergence is irrelevant to
    * correctness: both engines replay the same six steps bit-for-bit.
    * Bounds: |C| ≤ ~3·10¹²  ⇒ |w| ≤ 64·|C|·10⁴ ≈ 2·10¹⁸ < 2⁶³ at
    * n = 2000; larger corpora drop the grid to round(x·100) or lift
    * the matvec to DECIMAL — the documented dial. */
  val q272: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("qv"))
    // r14 (guide §1.2 per-task work, §4 codegen): the (j, k) moment
    // cells fold in ONE tight per-partition JVM loop emitting a single
    // (n, s, G-upper-triangle) partial (~17 KB) per task, replacing the
    // r13 explode of 2,145 interpreted higher-order-function structs
    // per row (4.3M struct allocations at sf0.1 — measured 2.9 s → the
    // fold is now scan-bound). Integer addition is associative, so the
    // merged artifact is bit-identical to the grouped-sum form.
    import s.implicits._
    val partials = e.as[Array[Long]].rdd.mapPartitions { it =>
      var n = 0L
      val sv = new Array[Long](65)
      val gu = new Array[Long](65 * 65)
      it.foreach { qv =>
        n += 1
        var j = 0
        while (j < 64) {
          val x = qv(j)
          sv(j + 1) += x
          var k = j
          while (k < 64) { gu((j + 1) * 65 + (k + 1)) += x * qv(k); k += 1 }
          j += 1
        }
      }
      if (n == 0L) Iterator.empty else Iterator.single((n, sv, gu))
    }.collect()
    val n = partials.iterator.map(_._1).sum
    val sVec = new Array[Long](65)
    val g = Array.ofDim[Long](65, 65)
    partials.foreach { case (_, sv, gu) =>
      var j = 1
      while (j <= 64) {
        sVec(j) += sv(j)
        var k = j
        while (k <= 64) { g(j)(k) += gu(j * 65 + k); k += 1 }
        j += 1
      }
    }
    // mirror the upper triangle
    var mj = 1
    while (mj <= 64) {
      var mk = mj + 1
      while (mk <= 64) { g(mk)(mj) = g(mj)(mk); mk += 1 }
      mj += 1
    }
    val c = Array.tabulate(65, 65) { (j, k) =>
      if (j == 0 || k == 0) 0L else n * g(j)(k) - sVec(j) * sVec(k)
    }
    var v = Array.fill(65)(10000L); v(0) = 0L
    def matvec(x: Array[Long]): Array[Long] =
      Array.tabulate(65)(j => (1 to 64).map(k => c(j)(k) * x(k)).sum)
    for (_ <- 1 to 6) {
      val w = matvec(v)
      val m = w.map(math.abs).max
      val den = m / 10000L + 1L
      v = w.map(x => if (x < 0) -((-x) / den) else x / den)
    }
    val w7 = matvec(v)
    val num = (1 to 64).map(j => BigInt(v(j)) * w7(j)).sum
    val den2 = (1 to 64).map(j => BigInt(v(j)) * v(j)).sum
    val lambda = (num / den2).toLong
    import s.implicits._
    (1 to 64).map(j => (j.toLong, v(j), lambda))
      .toDF("dim", "v_e4", "lambda_n2")
      .orderBy(col("dim"))
  }

  val q272Sql: String = {
    // six unrolled power steps: wI = C·v(I-1); vI = sign-split rescale
    val steps = (1 to 6).map { i =>
      s"""w$i AS (SELECT c.j, sum(c.c * v${i - 1}.x) AS w FROM c
         |       JOIN v${i - 1} ON v${i - 1}.j = c.k GROUP BY c.j),
         |m$i AS (SELECT max(abs(w)) // 10000 + 1 AS den FROM w$i),
         |v$i AS (SELECT j, CASE WHEN w < 0 THEN -((-w) // den)
         |                  ELSE w // den END AS x FROM w$i, m$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT list_transform(embedding,
       |         x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |       FROM embeddings),
       |ex AS (SELECT j, qv[j] AS qj, qv FROM e,
       |       UNNEST(generate_series(1, 64)) AS t(j)),
       |ex2 AS (SELECT j, k, qj, qv[k] AS qk FROM ex,
       |        UNNEST(generate_series(1, 64)) AS u(k)),
       |g AS (SELECT j, k, sum(qj * qk) AS gjk FROM ex2 GROUP BY 1, 2),
       |sv AS (SELECT j, sum(qj) AS sj, count(*) AS n FROM ex GROUP BY 1),
       |c AS (SELECT g.j, g.k,
       |        CAST(s1.n * g.gjk - s1.sj * s2.sj AS BIGINT) AS c
       |      FROM g JOIN sv s1 ON s1.j = g.j JOIN sv s2 ON s2.j = g.k),
       |v0 AS (SELECT unnest(generate_series(1, 64)) AS j,
       |              CAST(10000 AS BIGINT) AS x),
       |$steps,
       |w7 AS (SELECT c.j, sum(c.c * v6.x) AS w FROM c
       |       JOIN v6 ON v6.j = c.k GROUP BY c.j),
       |ray AS (SELECT CAST(sum(CAST(v6.x AS HUGEINT) * w7.w)
       |                    // sum(CAST(v6.x AS HUGEINT) * v6.x)
       |               AS BIGINT) AS lambda_n2
       |        FROM v6 JOIN w7 ON w7.j = v6.j)
       |SELECT CAST(v6.j AS BIGINT) AS dim, CAST(v6.x AS BIGINT) AS v_e4,
       |       ray.lambda_n2
       |FROM v6, ray ORDER BY dim""".stripMargin
  }

  // --------------------------------------------------------------- Q273
  /** JOIN-CARDINALITY ESTIMATION AUDIT — the cost-based-optimizer
    * statistics layer, audited against ground truth (an engine that
    * plans joins at 100 TB lives or dies by |A⋈B| estimates — a 100×
    * under-estimate broadcasts a relation that OOMs the cluster): per
    * FK edge, the END-BIASED histogram estimator (Ioannidis &
    * Christodoulakis): keep the top-16 heavy keys EXACTLY per side,
    * estimate their contribution as Σ cA·cB over the common heavy
    * keys, and model the remainder as uniform — rest_a·rest_b div
    * max(d_a−common, d_b−common, 1). Beside it the EXACT cardinality
    * (Σₖ cA(k)·cB(k) — computed from the same per-key count relations,
    * never by materializing the row-level join) and err_ppm, the
    * number a stats-quality dashboard tracks. Three edges:
    * orders⋈lineitem, customer⋈orders, part⋈lineitem.
    *
    * Scale shape — the q256 lesson, applied at birth: ALL edges ride
    * ONE tagged-union key-count fold (slim (edge, side, key) rows,
    * map-side partial agg), the per-key (ca, cb) pivot and the
    * per-edge top-16 ranks are key-set-sized, and the audit is a
    * 4-row fold — ~4 exchanges TOTAL for all edges, none wider than
    * the distinct keys, instead of a per-edge stage chain (the first
    * cut measured 3.8 s warm on 40-odd barriers; this shape runs
    * ~1 s). The per-edge rank windows partition by edge — key-sized
    * partitions; at parent cardinalities where even that sort bites,
    * the production dial is a broadcast 16th-count threshold. Integer
    * end to end (err_ppm by floor-div). */
  val q273: Q = (s, d) => {
    // integer edge/side tags: the fold's group key is a single long
    // (tag·2⁴⁸ | key — keys < 2⁴⁸) — the string names join in at the
    // 4-row tail; measured ~35% off the fold-dominated wall vs string
    // (edge, side) group keys
    def side(df: DataFrame, key: String, edge: Int, sd: Int) =
      df.select((lit(edge.toLong << 48) + col(key)).as("gk"),
        lit(sd).as("sd"))
    val names = Seq(0 -> "customer-orders", 1 -> "events-events",
      2 -> "orders-lineitem", 3 -> "part-lineitem")
    val all =
      side(t(s, d, "orders"), "o_orderkey", 2, 0)
        .unionByName(side(t(s, d, "lineitem"), "l_orderkey", 2, 1))
        .unionByName(side(t(s, d, "customer"), "c_custkey", 0, 0))
        .unionByName(side(t(s, d, "orders"), "o_custkey", 0, 1))
        .unionByName(side(t(s, d, "part"), "p_partkey", 3, 0))
        .unionByName(side(t(s, d, "lineitem"), "l_partkey", 3, 1))
        // the case that actually stresses the estimator: BOTH sides
        // non-unique (a self-join on a skewed key — FK edges with a
        // unique parent are exact under the uniform-rest model by
        // construction; this one's error is the rest's count variance)
        .unionByName(side(t(s, d, "events"), "user_id", 1, 0))
        .unionByName(side(t(s, d, "events"), "user_id", 1, 1))
    // ONE data exchange total: per (edge, key) conditional side counts
    // in a single-long-key fold (map-side partial agg; a prior cut's
    // two-level fold + rank windows measured 3.8 s warm — this shape
    // runs ~1.3 s, the fold itself being the intrinsic work)
    // pinned: the fold feeds both the tops aggregate and the audit join
    // (the broadcast boundary defeats ReusedExchange, so an unpinned kv
    // runs the 1.7M-row fold twice)
    val kv = graft.core.Pins.pin(all
      .groupBy(col("gk"))
      .agg(sum(when(col("sd") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("sd") === 1, 1L).otherwise(0L)).as("cb"))
      .select(shiftright(col("gk"), 48).as("e"),
        col("gk").bitwiseAND(lit((1L << 48) - 1)).as("k"),
        col("ca"), col("cb")))
    // per-edge top-16 per side by (count DESC, key ASC) as CAPPED typed
    // aggregates (buffers trim at 16 map-side — rank windows here
    // re-sort the whole key set; ord = −(c·2⁴³) + k is the encode);
    // 4-row relation broadcast back, membership a 16-element scan-local
    // array_contains (requires ≥ 16 present keys per side — the ca > 0
    // guard keeps absent-side keys out of the flags)
    val tops = kv.groupBy(col("e"))
      .agg(graft.operators.TopK.minKByLong(16)(
        col("k") - shiftleft(col("ca"), 43), col("k")).as("tA"),
        graft.operators.TopK.minKByLong(16)(
          col("k") - shiftleft(col("cb"), 43), col("k")).as("tB"))
      .select(col("e"), expr("transform(tA, p -> p._2)").as("tA"),
        expr("transform(tB, p -> p._2)").as("tB"))
    kv.join(broadcast(tops), Seq("e"))
      .select(col("e"), col("ca"), col("cb"),
        (col("ca") > 0 && col("cb") > 0 &&
          array_contains(col("tA"), col("k")) &&
          array_contains(col("tB"), col("k"))).as("top"))
      .groupBy(col("e"))
      .agg(sum(col("ca")).as("n_a"),
        sum(when(col("ca") > 0, 1L).otherwise(0L)).as("d_a"),
        sum(col("cb")).as("n_b"),
        sum(when(col("cb") > 0, 1L).otherwise(0L)).as("d_b"),
        coalesce(sum(when(col("top"), col("ca") * col("cb"))), lit(0L))
          .as("est_top"),
        coalesce(sum(when(col("top"), col("ca"))), lit(0L)).as("cov_a"),
        coalesce(sum(when(col("top"), col("cb"))), lit(0L)).as("cov_b"),
        sum(when(col("top"), 1L).otherwise(0L)).as("n_common"),
        coalesce(sum(col("ca") * col("cb")), lit(0L)).as("actual"))
      .join(broadcast {
        import s.implicits._
        names.map { case (e, n) => (e.toLong, n) }.toDF("e", "edge")
      }, Seq("e"))
      .select(col("edge"), col("n_a"), col("d_a"), col("n_b"), col("d_b"),
        (col("est_top") + expr(
          """(n_a - cov_a) * (n_b - cov_b)
            | div greatest(d_a - n_common, d_b - n_common, 1)"""
            .stripMargin)).as("est"),
        col("actual"))
      .withColumn("err_ppm", expr("abs(est - actual) * 1000000 div actual"))
      .orderBy(col("edge"))
  }

  val q273Sql: String = {
    def edge(name: String, a: String, ak: String, b: String, bk: String) =
      s"""SELECT '$name' AS edge, n_a, d_a, n_b, d_b,
         |  est_top + (n_a - cov_a) * (n_b - cov_b)
         |    // greatest(d_a - n_common, d_b - n_common, 1) AS est,
         |  actual
         |FROM
         |  (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
         |          CAST(count(*) AS BIGINT) AS d_a FROM
         |    (SELECT $ak AS k, count(*) AS ca FROM $a GROUP BY 1)),
         |  (SELECT CAST(sum(cb) AS BIGINT) AS n_b,
         |          CAST(count(*) AS BIGINT) AS d_b FROM
         |    (SELECT $bk AS k, count(*) AS cb FROM $b GROUP BY 1)),
         |  (SELECT CAST(coalesce(sum(ta.ca * tb.cb), 0) AS BIGINT) AS est_top,
         |          CAST(coalesce(sum(ta.ca), 0) AS BIGINT) AS cov_a,
         |          CAST(coalesce(sum(tb.cb), 0) AS BIGINT) AS cov_b,
         |          CAST(count(*) AS BIGINT) AS n_common
         |   FROM (SELECT $ak AS k, count(*) AS ca FROM $a GROUP BY 1
         |         ORDER BY ca DESC, k LIMIT 16) ta
         |   JOIN (SELECT $bk AS k, count(*) AS cb FROM $b GROUP BY 1
         |         ORDER BY cb DESC, k LIMIT 16) tb ON ta.k = tb.k),
         |  (SELECT CAST(coalesce(sum(ca.ca * cb.cb), 0) AS BIGINT) AS actual
         |   FROM (SELECT $ak AS k, count(*) AS ca FROM $a GROUP BY 1) ca
         |   JOIN (SELECT $bk AS k, count(*) AS cb FROM $b GROUP BY 1) cb
         |     ON ca.k = cb.k)""".stripMargin
    s"""SELECT edge, n_a, d_a, n_b, d_b, est, actual,
       |       CAST(abs(est - actual) * 1000000 // actual AS BIGINT) AS err_ppm
       |FROM (
       |${edge("orders-lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey")}
       |UNION ALL
       |${edge("customer-orders", "customer", "c_custkey", "orders", "o_custkey")}
       |UNION ALL
       |${edge("part-lineitem", "part", "p_partkey", "lineitem", "l_partkey")}
       |UNION ALL
       |${edge("events-events", "events", "user_id", "events", "user_id")}
       |) ORDER BY edge""".stripMargin
  }

  // --------------------------------------------------------------- Q274
  /** JSON SCHEMA PROFILER — semi-structured ingestion's first query
    * (q28 extracts a KNOWN path; this DISCOVERS the schema): per key
    * path, how often it appears and what types live under it — the
    * type-drift report that decides whether a feed can be promoted to
    * typed columns (a key that is int in 3 shapes and string in 1 is
    * exactly the drift that silently nulls a downstream CAST). The
    * fixture's `props` is single-shape, so the profiled column is a
    * CONSTRUCTED four-shape JSON mix (deterministic per event id —
    * type-drifted "k", a bool, a float, a nested object) exercising
    * the discovery path: keys via json_object_keys + explode, value
    * text via get_json_object at the dynamic path, type by regex
    * class over the unquoted text (int/float/bool/object/string —
    * the same regexes in both engines; VALUES never reach the output,
    * only class counts, so engine-specific double rendering can't
    * diverge the hash). presence_ppm = n·10⁶ div total events.
    *
    * Scale shape: parse + keys-explode are scan-local (≤ 3 keys/row),
    * the only exchange is the key-path count fold (keys-sized output);
    * nothing else moves. */
  val q274: Q = (s, d) => {
    val ev = t(s, d, "events")
    val total = ev.agg(count(lit(1)).as("n_total"))
    val j = expr(
      """CASE CAST(pmod(event_id, 4) AS INT)
        |  WHEN 0 THEN props
        |  WHEN 1 THEN concat('{"k": "', event_type, '", "tag": "',
        |                     event_type, '"}')
        |  WHEN 2 THEN concat('{"amount": ', CAST(value AS STRING),
        |                     ', "flag": ', CAST(user_id % 2 = 0 AS STRING), '}')
        |  ELSE '{"nested": {"d": 1}, "k": 5}' END""".stripMargin)
    ev.select(j.as("j"))
      // ONE JSON parse per row: from_json to map<string,string> renders
      // scalars unquoted and nested objects as compact JSON text —
      // json_object_keys + per-key get_json_object re-parses the
      // document per key (measured 1.6 s; this form ~1 s)
      .select(graft.functions.JsonOps.keyValues(col("j")).as(Seq("key", "v")))
      .select(col("key"), graft.functions.JsonOps.typeClass(col("v")).as("ty"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ty") === "int", 1L).otherwise(0L)).as("n_int"),
        sum(when(col("ty") === "float", 1L).otherwise(0L)).as("n_float"),
        sum(when(col("ty") === "bool", 1L).otherwise(0L)).as("n_bool"),
        sum(when(col("ty") === "object", 1L).otherwise(0L)).as("n_object"),
        sum(when(col("ty") === "string", 1L).otherwise(0L)).as("n_string"))
      .crossJoin(broadcast(total))
      .select(col("key"), col("n"), col("n_int"), col("n_float"),
        col("n_bool"), col("n_object"), col("n_string"),
        expr("n * 1000000 div n_total").as("presence_ppm"),
        (expr(
          """(CASE WHEN n_int > 0 THEN 1 ELSE 0 END) +
            |(CASE WHEN n_float > 0 THEN 1 ELSE 0 END) +
            |(CASE WHEN n_bool > 0 THEN 1 ELSE 0 END) +
            |(CASE WHEN n_object > 0 THEN 1 ELSE 0 END) +
            |(CASE WHEN n_string > 0 THEN 1 ELSE 0 END)""".stripMargin) > 1)
          .cast("int").as("type_drift"))
      .orderBy(col("key"))
  }

  val q274Sql: String =
    """WITH ev AS (SELECT CASE CAST(event_id % 4 AS INT)
      |    WHEN 0 THEN props
      |    WHEN 1 THEN concat('{"k": "', event_type, '", "tag": "',
      |                       event_type, '"}')
      |    WHEN 2 THEN concat('{"amount": ', CAST(value AS VARCHAR),
      |                       ', "flag": ', CAST(user_id % 2 = 0 AS VARCHAR), '}')
      |    ELSE '{"nested": {"d": 1}, "k": 5}' END AS j
      |  FROM events),
      |tot AS (SELECT count(*) AS n_total FROM ev),
      |kv AS (SELECT u.key,
      |         json_extract_string(ev.j, '$.' || u.key) AS v
      |       FROM ev, UNNEST(json_keys(ev.j)) AS u(key)),
      |ty AS (SELECT key,
      |         CASE WHEN regexp_matches(v, '^-?[0-9]+$') THEN 'int'
      |              WHEN regexp_matches(v,
      |                '^-?[0-9]+\.[0-9]+([eE][+-]?[0-9]+)?$') THEN 'float'
      |              WHEN v IN ('true', 'false') THEN 'bool'
      |              WHEN v LIKE '{%' THEN 'object'
      |              ELSE 'string' END AS ty
      |       FROM kv)
      |SELECT key, count(*) AS n,
      |       CAST(sum(CASE WHEN ty = 'int' THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
      |       CAST(sum(CASE WHEN ty = 'float' THEN 1 ELSE 0 END) AS BIGINT) AS n_float,
      |       CAST(sum(CASE WHEN ty = 'bool' THEN 1 ELSE 0 END) AS BIGINT) AS n_bool,
      |       CAST(sum(CASE WHEN ty = 'object' THEN 1 ELSE 0 END) AS BIGINT) AS n_object,
      |       CAST(sum(CASE WHEN ty = 'string' THEN 1 ELSE 0 END) AS BIGINT) AS n_string,
      |       CAST(count(*) * 1000000 // (SELECT n_total FROM tot) AS BIGINT)
      |         AS presence_ppm,
      |       CAST(CASE WHEN
      |         (CASE WHEN sum(CASE WHEN ty = 'int' THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END) +
      |         (CASE WHEN sum(CASE WHEN ty = 'float' THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END) +
      |         (CASE WHEN sum(CASE WHEN ty = 'bool' THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END) +
      |         (CASE WHEN sum(CASE WHEN ty = 'object' THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END) +
      |         (CASE WHEN sum(CASE WHEN ty = 'string' THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END)
      |         > 1 THEN 1 ELSE 0 END AS INT) AS type_drift
      |FROM ty GROUP BY key ORDER BY key""".stripMargin

  // --------------------------------------------------------------- Q275
  /** PHRASE SEARCH (positional match) — the retrieval shelf's exact-
    * phrase tier (q62 BM25 ranks BAGS of terms; "new york times" ≠
    * "times new york" needs POSITIONS): per (phrase, doc), the count
    * of positions i where tokens[i..i+2] equals the phrase — the
    * inverted-index positional-postings semantics, evaluated here as
    * a scan-local HOF (one token split per doc, a filtered position
    * sequence per phrase — zero shuffle before the output sort; with
    * the q62 postings table extended by a position column, the same
    * probe touches only the phrase's term buckets — the index path,
    * the at-scale dial). Three probe phrases ride a 3-row broadcast;
    * docs shorter than the phrase are excluded identically on both
    * sides (Spark's sequence(1, n) DESCENDS for n < 1 where DuckDB's
    * generate_series returns empty — the guard pins the engines to
    * the same domain). */
  val q275: Q = (s, d) => {
    import s.implicits._
    val phrases = broadcast(Seq(
      ("slow hash batch", "slow", "hash", "batch"),
      ("part filter scan", "part", "filter", "scan"),
      ("row column sort", "row", "column", "sort"))
      .toDF("phrase", "w1", "w2", "w3"))
    t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 3)
      .crossJoin(phrases)
      .select(col("phrase"), col("doc_id"),
        expr("""CAST(size(filter(sequence(1, size(ts) - 2), i ->
          |  element_at(ts, i) = w1 AND element_at(ts, i + 1) = w2
          |  AND element_at(ts, i + 2) = w3)) AS BIGINT)"""
          .stripMargin).as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy(col("phrase"), col("doc_id"))
  }

  val q275Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
      |           FROM documents),
      |ph AS (SELECT * FROM (VALUES
      |        ('slow hash batch', 'slow', 'hash', 'batch'),
      |        ('part filter scan', 'part', 'filter', 'scan'),
      |        ('row column sort', 'row', 'column', 'sort'))
      |       AS v(phrase, w1, w2, w3)),
      |m AS (SELECT phrase, doc_id,
      |        CAST(len(list_filter(generate_series(1, len(ts) - 2), i ->
      |          ts[i] = w1 AND ts[i + 1] = w2 AND ts[i + 2] = w3))
      |          AS BIGINT) AS n_matches
      |      FROM t CROSS JOIN ph WHERE len(ts) >= 3)
      |SELECT phrase, doc_id, n_matches FROM m WHERE n_matches > 0
      |ORDER BY phrase, doc_id""".stripMargin

  // --------------------------------------------------------------- Q276
  /** SURVIVORSHIP (golden record) — what entity resolution is FOR:
    * q52 finds the duplicate clusters, q203 links records; this MERGES
    * each multi-member cluster into the one record downstream actually
    * keeps, under declared survivorship rules (the MDM discipline —
    * every rule deterministic with a stated tie-break, because a
    * golden record that depends on row order isn't golden): canonical
    * doc = longest text (tie: lowest id), language = modal value (tie:
    * lexicographic), provenance = distinct-source count + total char
    * mass + member count. Clusters come from the same memoized LSH
    * pair artifact as q52/q177 (bucketed candidates, never all-pairs);
    * everything after the component assignment is CLUSTER-sized — the
    * mode fold, the canonical row_number window (partitioned by
    * component), and the audit join all ride relations no bigger than
    * the duplicate population. The oracle replays the q19/q52 CTEs
    * (recursive closure) plus the same rules relationally. */
  val q276: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val comp = graft.operators.DedupClusters.assignAll(docs, lshPairsFor(s, d))
    val m = graft.core.Pins.pin(comp.join(docs, "doc_id")
      .select(col("component"), col("doc_id"), col("lang"),
        col("source"), col("n_chars")))
    val base = m.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("rep_id"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"))
      .filter(col("n_members") >= 2)
    val wCan = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val canonical = m.withColumn("rn", row_number().over(wCan))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("canonical_id"),
        col("n_chars").as("canonical_chars"))
    val wLang = Window.partitionBy(col("component"))
      .orderBy(col("cnt").desc, col("lang"))
    val langMode = m.groupBy(col("component"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wLang))
      .filter(col("rn") === 1)
      .select(col("component"), col("lang").as("lang_mode"))
    base.join(canonical, "component").join(langMode, "component")
      .select(col("component"), col("n_members"), col("rep_id"),
        col("canonical_id"), col("canonical_chars"), col("lang_mode"),
        col("n_sources"), col("total_chars"))
      .orderBy(col("component"))
  }

  val q276Sql: String = {
    val sigCols = Seeds.map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i").mkString(", ")
    val bandCond = (0 until 4).map(b =>
      s"(a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1})").mkString(" OR ")
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
       |m AS (SELECT coalesce(c.component, d.doc_id) AS component, d.doc_id,
       |        d.lang, d.source, d.n_chars
       |      FROM documents d LEFT JOIN comp c USING (doc_id)),
       |base AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members,
       |           min(doc_id) AS rep_id,
       |           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |           CAST(sum(n_chars) AS BIGINT) AS total_chars
       |         FROM m GROUP BY 1 HAVING count(*) >= 2),
       |can AS (SELECT component, doc_id AS canonical_id,
       |          n_chars AS canonical_chars
       |        FROM (SELECT m.*, row_number() OVER (PARTITION BY component
       |                ORDER BY n_chars DESC, doc_id) AS rn FROM m)
       |        WHERE rn = 1),
       |lm AS (SELECT component, lang AS lang_mode
       |       FROM (SELECT component, lang, count(*) AS cnt,
       |               row_number() OVER (PARTITION BY component
       |                 ORDER BY count(*) DESC, lang) AS rn
       |             FROM m GROUP BY component, lang)
       |       WHERE rn = 1)
       |SELECT base.component, n_members, rep_id, canonical_id,
       |       canonical_chars, lang_mode, n_sources, total_chars
       |FROM base JOIN can USING (component) JOIN lm USING (component)
       |ORDER BY component""".stripMargin
  }

  // --------------------------------------------------------------- Q277
  /** TRAINING-MATRIX ASSEMBLY (leakage-safe) — the supervised-dataset
    * construction discipline the split queries prepare for (q124 cuts
    * time, q182 joins point-in-time dimensions; this BUILDS the
    * (features, label) matrix): features fold ONLY events strictly
    * before the cutoff, the label reads ONLY at-or-after — the churn
    * formulation (label = did the user return) where any feature
    * peeking past the cutoff is the leak that makes offline AUC a lie.
    * Cutoff is data-deterministic at 70% of the observed time span in
    * integer MICROSECONDS (tmin + (tmax−tmin)·7 div 10 — no calendar
    * arithmetic, no timezone). Features: pre-cutoff event/purchase/
    * type counts, cents mass (round(value·100), the q248 grid),
    * recency in μs; users with no pre-cutoff history are excluded (no
    * features to train on — the documented cold-start boundary).
    *
    * Scale shape: the span fold is a one-row broadcast; features AND
    * label come from ONE user-keyed conditional fold — a single
    * exchange, partial-aggregable (the hot-user skew probes' shape);
    * output is users-sized. */
  val q277: Q = (s, d) => {
    val ev = t(s, d, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val span = broadcast(ev.agg(min(col("us")).as("t0"), max(col("us")).as("t1"))
      .select(expr("t0 + (t1 - t0) * 7 div 10").as("cut")))
    ev.crossJoin(span)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("us") < col("cut"), 1L).otherwise(0L)).as("n_events"),
        sum(when(col("us") < col("cut") && col("event_type") === "purchase",
          1L).otherwise(0L)).as("n_purchases"),
        countDistinct(when(col("us") < col("cut"), col("event_type")))
          .as("n_types"),
        coalesce(sum(when(col("us") < col("cut"), col("cents"))), lit(0L))
          .as("total_cents"),
        (first(col("cut")) - max(when(col("us") < col("cut"), col("us"))))
          .as("recency_us"),
        max(when(col("us") >= col("cut"), 1L).otherwise(0L)).as("label"))
      .filter(col("n_events") > 0)
      .orderBy(col("user_id"))
  }

  val q277Sql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |       FROM events),
      |cutoff AS (SELECT min(us) + (max(us) - min(us)) * 7 // 10 AS cut
      |           FROM ev)
      |SELECT user_id,
      |  CAST(sum(CASE WHEN us < cut THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_events,
      |  CAST(sum(CASE WHEN us < cut AND event_type = 'purchase'
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |  CAST(count(DISTINCT CASE WHEN us < cut THEN event_type END)
      |       AS BIGINT) AS n_types,
      |  CAST(coalesce(sum(CASE WHEN us < cut THEN cents END), 0) AS BIGINT)
      |    AS total_cents,
      |  CAST(any_value(cut) - max(CASE WHEN us < cut THEN us END) AS BIGINT)
      |    AS recency_us,
      |  CAST(max(CASE WHEN us >= cut THEN 1 ELSE 0 END) AS BIGINT) AS label
      |FROM ev, cutoff
      |GROUP BY user_id
      |HAVING sum(CASE WHEN us < cut THEN 1 ELSE 0 END) > 0
      |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- Q279
  /** SPLIT-CONFORMAL COVERAGE audit for the classifier gate — the
    * distribution-free guarantee layer on top of q85/q169/q207 (a
    * confusion matrix says the gate is right on average, a calibration
    * curve says the score is tunable; conformal prediction says "at
    * α = 10%, sets built from the calibration quantile cover the truth
    * ≥ 90% of the time" — the only of the three that holds without
    * modeling assumptions; Vovk 2005, Angelopoulos & Bates 2021 §2).
    * Split: vec_id % 5 ≠ 0 calibrates, % 5 = 0 holds out (the q109
    * hash-split discipline — membership is a pure function of the id,
    * so both engines agree row for row). Nonconformity a = −y·score
    * under the memoized perceptron is an exact BIGINT (the q85
    * integer-margin property), so the conformal quantile is a DISCRETE
    * order statistic: k = ⌈(n_cal+1)(1−α)⌉ as ((n_cal+1)(100−α_pct)
    * +99) div 100, qhat = k-th smallest calibration a — no
    * interpolation ulp exists (the q90/q71 discipline). Output per α ∈
    * {5, 10, 20}%: the quantile audit trail (n_cal, k, qhat) and the
    * holdout coverage in exact ppm — cov_ppm ≥ (100−α)·10⁴ is the
    * guarantee a production gate re-checks after every retrain.
    *
    * Scale shape: scoring is scan-local against weight literals; the
    * calibration fold collapses to the nonconformity GRID (value-domain
    * bound, q141/q207 rationale) whose cumulative window rides
    * grid-sized data; the 3 α-rows and the 3 (k, qhat) rows broadcast;
    * holdout coverage folds the holdout grid once. Nothing after the
    * two grid folds is corpus-sized. */
  val q279: Q = (s, d) => {
    val model = perceptronFor(s, d)
    val raw = LinearClassifier.rawScore(col("x"), model)
    val scored = graft.core.Pins.pin(classifierBase(s, d)
      .select(col("vec_id"), (-col("y") * raw).as("a")))
    val calGrid = scored.filter(col("vec_id") % 5 =!= 0)
      .groupBy(col("a")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy(col("a"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // grid-sized unpartitioned windows (value-domain bound, q141);
    // n_cal shares wCum's ordering so both frames ride ONE WindowExec
    // (a separate partitionBy() spec would plan a second exchange)
    val wAllOrdered = Window.orderBy(col("a"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val calCum = calGrid
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_cal", sum(col("cnt")).over(wAllOrdered))
    val alphas = s.createDataFrame(Seq(Tuple1(5L), Tuple1(10L), Tuple1(20L)))
      .toDF("alpha_pct")
    val qhats = calCum.crossJoin(broadcast(alphas))
      .withColumn("k", expr("((n_cal + 1) * (100 - alpha_pct) + 99) div 100"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("alpha_pct"))
      .agg(min(col("n_cal")).as("n_cal"), min(col("k")).as("k"),
        min(col("a")).as("qhat"))
    val holdGrid = scored.filter(col("vec_id") % 5 === 0)
      .groupBy(col("a")).agg(count(lit(1)).as("hcnt"))
    holdGrid.crossJoin(broadcast(qhats))
      .groupBy(col("alpha_pct"), col("n_cal"), col("k"), col("qhat"))
      .agg(sum(col("hcnt")).as("n_holdout"),
        sum(when(col("a") <= col("qhat"), col("hcnt")).otherwise(0L))
          .as("covered"))
      .withColumn("cov_ppm", expr("covered * 1000000 div n_holdout"))
      .select(col("alpha_pct"), col("n_cal"), col("k"), col("qhat"),
        col("n_holdout"), col("covered"), col("cov_ppm"))
      .orderBy(col("alpha_pct"))
  }

  val q279Sql: String =
    perceptronSqlPrelude + ",\n" +
      """nc AS (SELECT vec_id, -y * score AS a FROM sc),
        |cal AS (SELECT a FROM nc WHERE vec_id % 5 <> 0),
        |hold AS (SELECT a FROM nc WHERE vec_id % 5 = 0),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
        |alphas AS (SELECT CAST(alpha_pct AS BIGINT) AS alpha_pct
        |           FROM (VALUES (5), (10), (20)) AS v(alpha_pct)),
        |ks AS (SELECT alpha_pct, n_cal,
        |         ((n_cal + 1) * (100 - alpha_pct) + 99) // 100 AS k
        |       FROM alphas, n),
        |rk AS (SELECT a, row_number() OVER (ORDER BY a) AS rn FROM cal),
        |qh AS (SELECT ks.alpha_pct, ks.n_cal, ks.k, rk.a AS qhat
        |       FROM ks JOIN rk ON rk.rn = ks.k)
        |SELECT q.alpha_pct, q.n_cal, q.k, q.qhat,
        |       CAST(count(*) AS BIGINT) AS n_holdout,
        |       CAST(sum(CASE WHEN h.a <= q.qhat THEN 1 ELSE 0 END)
        |            AS BIGINT) AS covered,
        |       CAST(sum(CASE WHEN h.a <= q.qhat THEN 1 ELSE 0 END)
        |            AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
        |         AS cov_ppm
        |FROM qh q CROSS JOIN hold h
        |GROUP BY 1, 2, 3, 4
        |ORDER BY alpha_pct""".stripMargin

  // --------------------------------------------------------------- Q280
  /** EQUALIZED-ODDS FAIRNESS audit of the classifier gate — the
    * governance shelf's model-side leg (q253/q264/q271 audit what the
    * DATA reveals about a group; this audits what the GATE does to
    * one: a curation classifier whose false-negative rate is 3× higher
    * for one language silently starves that slice of the training mix
    * — Hardt 2016's equalized-odds framing, measured not enforced).
    * Scores come from the same memoized perceptron as q85 (exact
    * integer margins), groups from joining `documents.lang` on
    * vec_id = doc_id (the fixture's aligned ids — the production form
    * joins the curation table's own group column). Per group: n, base
    * positives p, tp, fp, and exact TPR/FPR ppm floors; the headline
    * gap columns (max−min over groups, identical on every row) are
    * what a fairness gate alerts on. greatest(1, ·) guards the
    * degenerate single-class group identically in both engines.
    *
    * Scale shape: scoring scan-local, ONE groups-keyed fold after a
    * broadcast-able id join (documents side carries only (id, lang));
    * everything after the fold is groups-sized, incl. the
    * unpartitioned gap windows (q141 rationale). */
  val q280: Q = (s, d) => {
    val model = perceptronFor(s, d)
    val raw = LinearClassifier.rawScore(col("x"), model)
    val scored = classifierBase(s, d)
      .select(col("vec_id"), col("y"),
        when(raw > 0, 1L).otherwise(-1L).as("pred"))
    val langs = t(s, d, "documents")
      .select(col("doc_id").as("vec_id"), col("lang"))
    val grp = scored.join(broadcast(langs), Seq("vec_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("p"),
        sum(when(col("y") === 1L && col("pred") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("y") === -1L && col("pred") === 1L, 1L).otherwise(0L))
          .as("fp"))
      .withColumn("tpr_ppm", expr("tp * 1000000 div greatest(1, p)"))
      .withColumn("fpr_ppm", expr("fp * 1000000 div greatest(1, n - p)"))
    val wAll = Window.partitionBy() // groups-sized relation
    grp
      .withColumn("tpr_gap_ppm",
        max(col("tpr_ppm")).over(wAll) - min(col("tpr_ppm")).over(wAll))
      .withColumn("fpr_gap_ppm",
        max(col("fpr_ppm")).over(wAll) - min(col("fpr_ppm")).over(wAll))
      .select(col("lang"), col("n"), col("p"), col("tp"), col("fp"),
        col("tpr_ppm"), col("fpr_ppm"), col("tpr_gap_ppm"),
        col("fpr_gap_ppm"))
      .orderBy(col("lang"))
  }

  val q280Sql: String =
    perceptronSqlPrelude + ",\n" +
      """pr AS (SELECT sc.vec_id, sc.y,
        |         CAST(CASE WHEN sc.score > 0 THEN 1 ELSE -1 END AS BIGINT)
        |           AS pred,
        |         dd.lang
        |       FROM sc JOIN documents dd ON dd.doc_id = sc.vec_id),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |        CAST(sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END)
        |             AS BIGINT) AS tp,
        |        CAST(sum(CASE WHEN y = -1 AND pred = 1 THEN 1 ELSE 0 END)
        |             AS BIGINT) AS fp
        |      FROM pr GROUP BY 1),
        |r AS (SELECT lang, n, p, tp, fp,
        |        tp * 1000000 // greatest(1, p) AS tpr_ppm,
        |        fp * 1000000 // greatest(1, n - p) AS fpr_ppm
        |      FROM g)
        |SELECT lang, n, p, tp, fp, tpr_ppm, fpr_ppm,
        |       CAST(max(tpr_ppm) OVER () - min(tpr_ppm) OVER () AS BIGINT)
        |         AS tpr_gap_ppm,
        |       CAST(max(fpr_ppm) OVER () - min(fpr_ppm) OVER () AS BIGINT)
        |         AS fpr_gap_ppm
        |FROM r ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- Q281
  /** SAMPLE-RATIO-MISMATCH (SRM) audit — the experimentation shelf's
    * integrity gate (q242 reads the A/B effect, q240 tightens it, q243
    * de-trends it; this checks the precondition they all assume: that
    * the randomizer actually split units 50/50 — the single most
    * common silent invalidator of online experiments, Fabijan 2019).
    * Unit = user, arm = user_id % 2 (the deterministic assignment both
    * engines replay); per event_type ("experiment surface") the
    * DISTINCT-user counts per arm, the imbalance in exact ppm, and the
    * χ² statistic against the 50/50 null in exact milli-units —
    * χ² = (nA−nB)²/(nA+nB) for a two-cell equal-split test, so
    * chi2_milli = 1000·(nA−nB)² div n is pure BIGINT and the breach
    * flag at the 3.841 critical value (α = 0.05, 1 df) compares
    * integers only.
    *
    * Scale shape: ONE distinct fold (event_type, user_id) — the only
    * exchange that sees data (partial-aggregable after the distinct);
    * everything downstream is experiment-surfaces-sized. */
  /** The SRM fold over a distinct (event_type, user_id) relation —
    * shared by the declared q281 and `EventStream.srmAudit` (the
    * streaming twin reads its pair store through the SAME code, so the
    * "bit-equal to batch" contract is structural, not just
    * spec-enforced). */
  private[graft] def srmFold(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("event_type"))
      .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
      .withColumn("n", col("n_a") + col("n_b"))
      .withColumn("dev_ppm",
        expr("abs(n_a - n_b) * 1000000 div n"))
      .withColumn("chi2_milli",
        expr("1000 * (n_a - n_b) * (n_a - n_b) div n"))
      .withColumn("srm_flag", (col("chi2_milli") > 3841L).cast("long"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("n"),
        col("dev_ppm"), col("chi2_milli"), col("srm_flag"))
      .orderBy(col("event_type"))

  val q281: Q = (s, d) =>
    srmFold(t(s, d, "events")
      .select(col("event_type"), col("user_id")).distinct())

  val q281Sql: String =
    """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
      |g AS (SELECT event_type,
      |        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
      |             AS BIGINT) AS n_a,
      |        CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
      |             AS BIGINT) AS n_b
      |      FROM u GROUP BY 1)
      |SELECT event_type, n_a, n_b, n_a + n_b AS n,
      |       abs(n_a - n_b) * 1000000 // (n_a + n_b) AS dev_ppm,
      |       1000 * (n_a - n_b) * (n_a - n_b) // (n_a + n_b) AS chi2_milli,
      |       CAST(1000 * (n_a - n_b) * (n_a - n_b) // (n_a + n_b) > 3841
      |            AS BIGINT) AS srm_flag
      |FROM g ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q282
  /** EMBEDDING-SPACE ISOTROPY audit — the corpus-level companion to
    * the per-row screens (q128 catches broken vectors, q270 catches
    * misplaced ones; this grades the SPACE: anisotropic embeddings —
    * one dominant direction, a large common mean component — degrade
    * cosine retrieval and LSH bucketing before any per-row check
    * fires; Ethayarajh 2019, Mu 2018 "all-but-the-top"). On the q270
    * round(x·1000) grid, one fold yields per-dim (Sⱼ, Qⱼ, n); the
    * audit derives, all integer-exact: trace of the n²-scaled
    * covariance (Vⱼ = n·Qⱼ − Sⱼ²), the worst single-dimension variance
    * share (ppm), the PARTICIPATION RATIO of the variance spectrum
    * PR = (ΣV)²/ΣV² — the effective dimension count, 1 when one
    * direction holds everything, d when perfectly isotropic — in
    * centi-units, and the mean-vector mass share ΣSⱼ²/(n·ΣQⱼ) in ppm
    * (the "common direction" Mu 2018 removes). Squares of the trace
    * run in DECIMAL(38,0)/HUGEINT (the q272 discipline — exact while
    * trace < ~10¹⁹, the documented headroom dial); every output is
    * BIGINT. Diagonal form by design: axis-aligned shares are what the
    * per-dim storage layout actually exposes — the rotated-basis
    * spectrum is q272's power-iteration tier.
    *
    * Scale shape: ONE posexplode fold to 64 (j, Sⱼ, Qⱼ) rows
    * (map-side partial agg collapses the explosion); everything after
    * is dims-sized. */
  /** The isotropy derivation over per-dim (n, sj, qj) moment rows —
    * shared by the declared q282 and `VectorIngest.isotropyAudit` (the
    * streaming twin's store flows through the SAME code). max(n) — not
    * first() — so ragged dimension counts (short vectors) pick a
    * deterministic n in both engines instead of a partition-order
    * artifact. */
  private[graft] def isotropyDerive(st0: DataFrame): DataFrame = {
    val st = st0.select(col("n"),
      (col("n") * col("qj") - col("sj") * col("sj")).as("vj"),
      col("sj"), col("qj"))
    st.agg(max(col("n")).as("n"), count(lit(1)).as("dims"),
        sum(col("vj")).as("trace"), max(col("vj")).as("vmax"),
        sum(col("vj").cast("decimal(38,0)") * col("vj")).as("v2"),
        sum(col("sj") * col("sj")).as("s2"), sum(col("qj")).as("qsum"))
      .select(col("n"), col("dims"), col("trace"),
        expr("CAST(CAST(vmax AS DECIMAL(38,0)) * 1000000 div trace AS BIGINT)")
          .as("max_dim_share_ppm"),
        expr("CAST(CAST(trace AS DECIMAL(38,0)) * trace * 100 div v2 AS BIGINT)")
          .as("pr_centi"),
        expr("CAST(CAST(s2 AS DECIMAL(38,0)) * 1000000 div (n * qsum) AS BIGINT)")
          .as("mean_mass_ppm"))
  }

  val q282: Q = (s, d) =>
    isotropyDerive(t(s, d, "embeddings")
      .select(expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
        .as("qv"))
      .select(posexplode(col("qv")).as(Seq("j", "q")))
      .groupBy(col("j"))
      .agg(sum(col("q")).as("sj"), sum(col("q") * col("q")).as("qj"),
        count(lit(1)).as("n")))

  val q282Sql: String =
    """WITH e AS (SELECT list_transform(embedding,
      |         x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |       FROM embeddings),
      |ex AS (SELECT j, qv[j] AS q
      |       FROM e, UNNEST(generate_series(1, len(qv))) AS t(j)),
      |st AS (SELECT j, CAST(sum(q) AS BIGINT) AS sj,
      |         CAST(sum(q * q) AS BIGINT) AS qj,
      |         CAST(count(*) AS BIGINT) AS n
      |       FROM ex GROUP BY j),
      |v AS (SELECT n, n * qj - sj * sj AS vj, sj, qj FROM st),
      |a AS (SELECT max(n) AS n, CAST(count(*) AS BIGINT) AS dims,
      |        CAST(sum(vj) AS BIGINT) AS trace,
      |        CAST(max(vj) AS BIGINT) AS vmax,
      |        sum(CAST(vj AS HUGEINT) * vj) AS v2,
      |        CAST(sum(sj * sj) AS BIGINT) AS s2,
      |        CAST(sum(qj) AS BIGINT) AS qsum
      |      FROM v)
      |SELECT n, dims, trace,
      |       CAST(CAST(vmax AS HUGEINT) * 1000000 // trace AS BIGINT)
      |         AS max_dim_share_ppm,
      |       CAST(CAST(trace AS HUGEINT) * trace * 100 // v2 AS BIGINT)
      |         AS pr_centi,
      |       CAST(CAST(s2 AS HUGEINT) * 1000000 // (n * qsum) AS BIGINT)
      |         AS mean_mass_ppm
      |FROM a""".stripMargin

  // --------------------------------------------------------------- Q283
  /** CURRICULUM SCHEDULE assembly — the ordering leg of training prep
    * (q250 packs batches by length, q258 budgets tokens per source,
    * q111 oversamples epochs; this ORDERS the corpus easy → hard and
    * audits what each phase actually contains — curriculum learning's
    * operational artifact, Bengio 2009): difficulty = mean word length
    * in exact ppm (10⁶·n_chars div n_tokens — a deterministic integer
    * proxy; any integer difficulty column drops in), phases = tercile
    * boundaries taken on the difficulty GRID with ties-low (phase =
    * 1 + (diff > b1) + (diff > b2) where bᵢ is the smallest grid value
    * whose cumulative count reaches ⌈i·N/3⌉ — ties bunch into the
    * lower phase by declaration, so NO row-order dependence exists for
    * either engine; a tie-heavy grid can leave a later phase smaller
    * or empty, the documented boundary). Per phase: composition (docs,
    * token and char mass, difficulty span) and the dominant language
    * with its share — the mix-shift curriculum audits exist to catch
    * (easy phases skew toward analytic languages, and a model's early
    * steps see THAT distribution, not the corpus's).
    *
    * Scale shape: one pinned scan; the difficulty grid fold + its
    * cumulative window ride value-domain-bound data (q141); boundaries
    * are a one-row broadcast; the (phase, lang) fold is the only other
    * corpus-sized exchange, and the phase rollup + modal-language
    * window ride ≤ phases×langs rows. */
  val q283: Q = (s, d) => {
    val docs = graft.core.Pins.pin(t(s, d, "documents")
      .select(col("lang"), col("n_chars"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("tok"))
      .withColumn("diff_ppm", expr("n_chars * 1000000 div tok")))
    val wCum = Window.orderBy(col("diff_ppm"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.orderBy(col("diff_ppm"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bounds = docs.groupBy(col("diff_ppm")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_tot", sum(col("cnt")).over(wAll))
      .agg(
        min(when(col("cum") >= expr("(n_tot + 2) div 3"), col("diff_ppm")))
          .as("b1"),
        min(when(col("cum") >= expr("(2 * n_tot + 2) div 3"), col("diff_ppm")))
          .as("b2"))
    // pinned: consumed by both the phase rollup and the modal-language
    // window — without the pin each consumer re-plans the whole grid +
    // boundary subtree (phases×langs rows, trivial to materialize)
    val pl = graft.core.Pins.pin(docs.crossJoin(broadcast(bounds))
      .withColumn("phase",
        lit(1L) + (col("diff_ppm") > col("b1")).cast("long")
          + (col("diff_ppm") > col("b2")).cast("long"))
      .groupBy(col("phase"), col("lang"))
      .agg(count(lit(1)).as("nl"), sum(col("tok")).as("tokl"),
        sum(col("n_chars")).as("chl"),
        min(col("diff_ppm")).as("lo"), max(col("diff_ppm")).as("hi")))
    val ph = pl.groupBy(col("phase"))
      .agg(sum(col("nl")).as("n_docs"), sum(col("tokl")).as("tok_mass"),
        sum(col("chl")).as("char_mass"),
        min(col("lo")).as("lo_diff_ppm"), max(col("hi")).as("hi_diff_ppm"))
    val wTop = Window.partitionBy(col("phase"))
      .orderBy(col("nl").desc, col("lang"))
    val top = pl.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("phase"), col("lang").as("top_lang"), col("nl"))
    ph.join(broadcast(top), Seq("phase")) // phases-sized join side
      .withColumn("top_lang_share_ppm", expr("nl * 1000000 div n_docs"))
      .select(col("phase"), col("n_docs"), col("tok_mass"), col("char_mass"),
        col("lo_diff_ppm"), col("hi_diff_ppm"), col("top_lang"),
        col("top_lang_share_ppm"))
      .orderBy(col("phase"))
  }

  val q283Sql: String =
    """WITH docs AS (SELECT lang, n_chars,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |         n_chars * 1000000 // CAST(len(string_split(text, ' '))
      |           AS BIGINT) AS diff_ppm
      |       FROM documents),
      |grid AS (SELECT diff_ppm, CAST(count(*) AS BIGINT) AS cnt
      |         FROM docs GROUP BY 1),
      |cum AS (SELECT diff_ppm,
      |          CAST(sum(cnt) OVER (ORDER BY diff_ppm
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS cum,
      |          CAST(sum(cnt) OVER () AS BIGINT) AS n_tot
      |        FROM grid),
      |b AS (SELECT
      |        min(CASE WHEN cum >= (n_tot + 2) // 3 THEN diff_ppm END) AS b1,
      |        min(CASE WHEN cum >= (2 * n_tot + 2) // 3 THEN diff_ppm END)
      |          AS b2
      |      FROM cum),
      |pl AS (SELECT 1 + CAST(diff_ppm > b1 AS BIGINT)
      |           + CAST(diff_ppm > b2 AS BIGINT) AS phase,
      |         lang, CAST(count(*) AS BIGINT) AS nl,
      |         CAST(sum(tok) AS BIGINT) AS tokl,
      |         CAST(sum(n_chars) AS BIGINT) AS chl,
      |         min(diff_ppm) AS lo, max(diff_ppm) AS hi
      |       FROM docs, b GROUP BY 1, 2),
      |ph AS (SELECT phase, CAST(sum(nl) AS BIGINT) AS n_docs,
      |         CAST(sum(tokl) AS BIGINT) AS tok_mass,
      |         CAST(sum(chl) AS BIGINT) AS char_mass,
      |         min(lo) AS lo_diff_ppm, max(hi) AS hi_diff_ppm
      |       FROM pl GROUP BY 1),
      |tp AS (SELECT phase, lang AS top_lang, nl
      |       FROM (SELECT phase, lang, nl, row_number() OVER
      |               (PARTITION BY phase ORDER BY nl DESC, lang) AS rn
      |             FROM pl)
      |       WHERE rn = 1)
      |SELECT ph.phase AS phase, n_docs, tok_mass, char_mass, lo_diff_ppm,
      |       hi_diff_ppm, top_lang, nl * 1000000 // n_docs
      |         AS top_lang_share_ppm
      |FROM ph JOIN tp ON ph.phase = tp.phase
      |ORDER BY ph.phase""".stripMargin

  // --------------------------------------------------------------- Q285
  /** TOKENIZER FERTILITY PARITY per language — the tokenizer-equity
    * audit beside q280's classifier-equity one (fertility = tokens per
    * word under the trained BPE; a language tokenizing at 2× the
    * corpus baseline pays 2× the context budget and 2× the inference
    * cost for the same text — the NLLB/tokenizer-fairness measurement,
    * run after every q72 retrain): under the memoized 10-merge BPE
    * (q72's artifact; the oracle replays training via the shared
    * unrolled prelude), per language n_words / n_tokens, fertility in
    * exact ppm, and PARITY vs the corpus-wide fertility as the single
    * cross-multiplied floor (tokᵢ·W·10⁶) div (wordsᵢ·T) — one exact
    * division, never a ratio of floors; HUGEINT/DECIMAL lift documented
    * for the 100 TB numerator. Encoding cost is VOCAB-bounded (the q73
    * discipline — encode once per distinct (lang, word), occurrence
    * counts weight the sums); totals ride a langs-sized window. */
  val q285: Q = (s, d) => {
    import graft.functions.Bpe
    val merges = bpeModelFor(s, d, 10)
    val byLang = t(s, d, "documents")
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0 && !col("w").rlike("[()!]"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
      .select(col("lang"), col("n"),
        Bpe.tokenCount(Bpe.applyMerges(Bpe.symbolize(col("w")), merges))
          .as("tok"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("tok") * col("n")).as("n_tokens"))
    val wAll = Window.partitionBy() // langs-sized relation
    byLang
      .withColumn("tw", sum(col("n_words")).over(wAll))
      .withColumn("tt", sum(col("n_tokens")).over(wAll))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        expr("n_tokens * 1000000 div n_words").as("fert_ppm"),
        expr("""CAST(CAST(n_tokens AS DECIMAL(38,0)) * tw * 1000000
                div (CAST(n_words AS DECIMAL(38,0)) * tt) AS BIGINT)""")
          .as("parity_ppm"))
      .orderBy(col("lang"))
  }

  val q285Sql: String =
    bpeSqlPrelude(10) + ",\n" +
      """tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents),
        |enc AS (SELECT t.lang,
        |          len(regexp_extract_all(w10.ws, '\(([^)]*)\)', 1)) AS tok
        |        FROM tok t JOIN w10 ON t.w = w10.w
        |        WHERE len(t.w) > 0 AND NOT regexp_matches(t.w, '[()!]')),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
        |        CAST(sum(tok) AS BIGINT) AS n_tokens
        |      FROM enc GROUP BY 1),
        |a AS (SELECT lang, n_words, n_tokens,
        |        CAST(sum(n_words) OVER () AS BIGINT) AS tw,
        |        CAST(sum(n_tokens) OVER () AS BIGINT) AS tt
        |      FROM g)
        |SELECT lang, n_words, n_tokens,
        |       n_tokens * 1000000 // n_words AS fert_ppm,
        |       CAST(CAST(n_tokens AS HUGEINT) * tw * 1000000
        |            // (CAST(n_words AS HUGEINT) * tt) AS BIGINT)
        |         AS parity_ppm
        |FROM a ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- Q286
  /** POST-STRATIFIED TREATMENT EFFECT — the causal shelf's adjustment
    * leg (q240 CUPED tightens variance, q242 reads the raw A/B, q243
    * de-trends with a control period; this REMOVES CONFOUNDING by an
    * observed stratifier before comparing — the observational-data
    * estimator the raw difference silently gets wrong when exposure
    * correlates with activity): treated = above-average clicker by
    * integer cross-multiply (clicksᵤ·N ≥ Σclicks — no float mean
    * exists), outcome = purchase cents (the q248 round(·100) grid),
    * stratum = ⌊log₂(events per user)⌋ via length(bin(n)) — the
    * engine-identical integer log bucket. Per stratum the q242/q243
    * discipline: counts and outcome sums per arm plus the effect as an
    * EXACT RATIONAL — diff_num = sum_t·n_c − sum_c·n_t over diff_den =
    * n_t·n_c, division left to the caller (a one-armed stratum emits
    * den = 0 rather than inventing a value — the documented boundary;
    * the caller's ATT is the n_t-weighted fold over these rows).
    *
    * Scale shape: ONE user-keyed conditional fold (the q277 shape,
    * partial-aggregable, skew-probed family) + a one-row broadcast for
    * the treatment threshold; everything after is strata-sized. */
  val q286: Q = (s, d) => {
    val users = graft.core.Pins.pin(t(s, d, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("clicks"),
        count(lit(1)).as("n_ev"),
        coalesce(sum(when(col("event_type") === "purchase",
          expr("CAST(round(value * 100) AS BIGINT)"))), lit(0L))
          .as("cents")))
    val tot = users.agg(count(lit(1)).as("nu"),
      sum(col("clicks")).as("sc"))
    val strat = users.crossJoin(broadcast(tot))
      .withColumn("treated",
        (col("clicks") * col("nu") >= col("sc")).cast("long"))
      .withColumn("stratum", expr("CAST(length(bin(n_ev)) AS BIGINT)"))
      .groupBy(col("stratum"))
      .agg(sum(col("treated")).as("n_t"),
        sum(lit(1L) - col("treated")).as("n_c"),
        sum(when(col("treated") === 1L, col("cents")).otherwise(0L))
          .as("sum_t_cents"),
        sum(when(col("treated") === 0L, col("cents")).otherwise(0L))
          .as("sum_c_cents"))
    strat
      .withColumn("diff_num",
        col("sum_t_cents") * col("n_c") - col("sum_c_cents") * col("n_t"))
      .withColumn("diff_den", col("n_t") * col("n_c"))
      .select(col("stratum"), col("n_t"), col("n_c"), col("sum_t_cents"),
        col("sum_c_cents"), col("diff_num"), col("diff_den"))
      .orderBy(col("stratum"))
  }

  val q286Sql: String =
    """WITH u AS (SELECT user_id,
      |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS clicks,
      |         CAST(count(*) AS BIGINT) AS n_ev,
      |         CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      |              THEN round(value * 100) END), 0) AS BIGINT) AS cents
      |       FROM events GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nu,
      |          CAST(sum(clicks) AS BIGINT) AS sc FROM u),
      |s AS (SELECT CAST(CASE WHEN clicks * nu >= sc THEN 1 ELSE 0 END
      |          AS BIGINT) AS treated,
      |        CAST(length(bin(n_ev)) AS BIGINT) AS stratum, cents
      |      FROM u, tot),
      |g AS (SELECT stratum,
      |        CAST(sum(treated) AS BIGINT) AS n_t,
      |        CAST(sum(1 - treated) AS BIGINT) AS n_c,
      |        CAST(sum(CASE WHEN treated = 1 THEN cents ELSE 0 END)
      |             AS BIGINT) AS sum_t_cents,
      |        CAST(sum(CASE WHEN treated = 0 THEN cents ELSE 0 END)
      |             AS BIGINT) AS sum_c_cents
      |      FROM s GROUP BY 1)
      |SELECT stratum, n_t, n_c, sum_t_cents, sum_c_cents,
      |       sum_t_cents * n_c - sum_c_cents * n_t AS diff_num,
      |       n_t * n_c AS diff_den
      |FROM g ORDER BY stratum""".stripMargin

  // --------------------------------------------------------------- Q287
  /** COLUMN-ENCODING ADVISOR — the storage-layout decision beside
    * q268's sort-order one (Z-order picks the row order; this picks
    * the per-column ENCODING a writer should emit — the
    * dictionary/RLE choice that decides whether a 100 TB fact table
    * is 100 TB or 20 TB on disk, Abadi 2006): per column over the
    * natural (l_orderkey, l_linenumber) order, row count, exact
    * distinct count, RUN count (value-change points within each
    * order — runs are what RLE stores), avg run length in
    * centi-units (100·n div runs), distinct share ppm, and the two
    * advisory flags at declared thresholds — dict when the
    * dictionary fits (n_distinct ≤ 65536) and pays (< 1% distinct),
    * RLE when runs average ≥ 2. Values compare on their CAST-string
    * form (dates ISO, quantities integral — injective and
    * engine-identical; the rendering note is why float columns are
    * out of scope here).
    *
    * Scale shape: one scan melts to (column, key, value) scan-local;
    * the change-point window partitions by (column, orderkey) — run
    * detection never leaves the key's partition; one columns-keyed
    * fold after (the 4-distinct expand is the exact-cardinality
    * price, the documented HLL dial trades it away engine-side).
    *
    * Round 11 (the loaded-run heap audit): the round-10 form pinned a
    * 600k × 4-STRING relation and sorted those strings inside the
    * window — under co-tenant memory pressure that sort's string churn
    * blew the wall 4.4× (6.36 s loaded vs 1.43 s idle, one rejected
    * variant showed a 15 s GC outlier). Runs and distinct counts are
    * INVARIANT under any injective re-encoding of the values (v never
    * reaches the output — only counts do), so the window now rides
    * compact injective encodings — quantity as BIGINT, shipdate as
    * epoch μs, the two 1-char flags as-is — with the canonical order
    * re-DECLARED over those encodings identically in both engines
    * (both sort BIGINTs the same; the order was always a synthetic
    * file-order choice). No pin: each branch prunes its own scan
    * (6-column window read, 4-column melt read) instead of
    * materializing the joint relation in block storage. */
  val q287: Q = (s, d) => {
    val cols = Seq(
      "l_linestatus" -> col("l_linestatus").cast("string"),
      "l_quantity" -> expr("CAST(round(l_quantity) AS BIGINT)"),
      "l_returnflag" -> col("l_returnflag").cast("string"),
      "l_shipdate" -> expr("unix_micros(l_shipdate)"))
    def slim(df: org.apache.spark.sql.DataFrame) =
      df.select(col("l_orderkey") +: col("l_linenumber") +:
        cols.map { case (n, c) => c.as(n) }: _*)
    // A file has ONE physical row order, and RLE runs per column are
    // counted over THAT shared order — so all four lag columns ride a
    // single window (one exchange, ONE sort) on the canonical
    // (linenumber, full-row) order; the full-row tie-break makes the
    // order TOTAL where the synthetic key repeats, identically in both
    // engines. Measured alternatives (sf0.1, best-of-3): melting to
    // 2.4M (column, key, value) rows + a 4-distinct expand, 2.15 s;
    // a per-order collect_list/sort_array struct fold, 3.2 s with GC
    // outliers; four per-column-ordered windows, 1.7 s; this shared
    // order, one WindowExec, ~0.9 s.
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber") +: cols.map(c => col(c._1)): _*)
    // null-safe change detector: !(lag <=> v) IS the oracle's
    // `IS DISTINCT FROM`, so a nullable column's non-null→NULL and
    // NULL→NULL transitions count identically in both engines
    val withChg = cols.foldLeft(slim(t(s, d, "lineitem"))) {
      case (df, (n, _)) =>
        df.withColumn(s"chg_$n",
          when(!(lag(col(n), 1).over(w) <=> col(n)), 1L).otherwise(0L))
    }
    val runsRow = withChg.agg(
      count(lit(1)).as("n"),
      struct(cols.map { case (n, _) => sum(col(s"chg_$n")).as(n) }: _*)
        .as("runs"))
    // exact distinct counts off a slim melt FOLD (collapses map-side to
    // the value domain — no window, no expand); NULL is excluded to
    // match the oracle's count(DISTINCT v) semantics. The melt unifies
    // the four encodings as strings — only domain-sized partials ever
    // carry them.
    val distincts = slim(t(s, d, "lineitem"))
      .select(explode(array(cols.map { case (n, _) =>
        struct(lit(n).as("col_name"), col(n).cast("string").as("v")) }: _*))
        .as("m"))
      .select(col("m.col_name").as("col_name"), col("m.v").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("col_name")).agg(count(lit(1)).as("n_distinct"))
    val long = runsRow.select(col("n"),
      explode(array(cols.map { case (n, _) =>
        struct(lit(n).as("col_name"), col(s"runs.$n").as("runs")) }: _*))
        .as("m"))
      .select(col("m.col_name").as("col_name"), col("n"), col("m.runs").as("runs"))
    long.join(broadcast(distincts), Seq("col_name"))
      .withColumn("avg_run_centi", expr("100 * n div runs"))
      .withColumn("distinct_ppm", expr("n_distinct * 1000000 div n"))
      .withColumn("dict_flag",
        (col("n_distinct") <= 65536L && col("distinct_ppm") < 10000L)
          .cast("long"))
      .withColumn("rle_flag", (col("avg_run_centi") >= 200L).cast("long"))
      .select(col("col_name"), col("n"), col("n_distinct"), col("runs"),
        col("avg_run_centi"), col("distinct_ppm"), col("dict_flag"),
        col("rle_flag"))
      .orderBy(col("col_name"))
  }

  val q287Sql: String = {
    // one shared physical row order for every column's lag (the window
    // clause below mirrors the Spark side's single WindowExec); the
    // compare/order encodings are the Spark side's compact injective
    // forms — BIGINT quantity, epoch-μs shipdate, raw 1-char flags
    val ord = "PARTITION BY l_orderkey ORDER BY l_linenumber, " +
      "l_linestatus, l_quantity, l_returnflag, l_shipdate"
    def leg(name: String): String =
      s"""SELECT '$name' AS col_name, CAST($name AS VARCHAR) AS v,
         |  chg_$name AS chg
         |FROM lagged""".stripMargin
    s"""WITH base AS (SELECT l_orderkey, l_linenumber,
       |         CAST(l_linestatus AS VARCHAR) AS l_linestatus,
       |         CAST(round(l_quantity) AS BIGINT) AS l_quantity,
       |         CAST(l_returnflag AS VARCHAR) AS l_returnflag,
       |         epoch_us(l_shipdate) AS l_shipdate
       |       FROM lineitem),
       |lagged AS (SELECT *,
       |""".stripMargin +
      Seq("l_linestatus", "l_quantity", "l_returnflag", "l_shipdate")
        .map(n =>
          s"  CASE WHEN lag($n) OVER ($ord) IS DISTINCT FROM $n\n" +
          s"       THEN 1 ELSE 0 END AS chg_$n")
        .mkString(",\n") +
      "\nFROM base),\nm AS (" +
      Seq("l_linestatus", "l_quantity", "l_returnflag", "l_shipdate")
        .map(leg).mkString("\n UNION ALL\n") +
      """),
        |g AS (SELECT col_name, CAST(count(*) AS BIGINT) AS n,
        |        CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        |        CAST(sum(chg) AS BIGINT) AS runs
        |      FROM m GROUP BY 1)
        |SELECT col_name, n, n_distinct, runs,
        |       100 * n // runs AS avg_run_centi,
        |       n_distinct * 1000000 // n AS distinct_ppm,
        |       CAST(n_distinct <= 65536
        |            AND n_distinct * 1000000 // n < 10000 AS BIGINT)
        |         AS dict_flag,
        |       CAST(100 * n // runs >= 200 AS BIGINT) AS rle_flag
        |FROM g ORDER BY col_name""".stripMargin
  }

  // --------------------------------------------------------------- Q288
  /** LABEL-NOISE SCREEN (confident-learning proxy, Northcutt 2021) —
    * the data-cleaning leg of the classifier family (q85 grades the
    * gate, q169/q279 its score; this turns the score back ON THE
    * LABELS: examples whose trained-model margin strongly disagrees
    * with their label are the mislabeled-candidate queue a curation
    * team actually reviews): under the memoized perceptron, per
    * original label (0-9) the row count, misfit count (margin =
    * y·score < 0), exact misfit ppm, and the WORST example — most
    * negative margin, tie lowest vec_id, the deterministic argmin via
    * a (margin, vec_id)-ordered rank window stated identically in both
    * engines. Margins are exact BIGINTs (the q85 property), so "worst"
    * has no float boundary.
    *
    * Scale shape: scoring scan-local against weight literals; one
    * labels-keyed fold + one labels-partitioned rank window; output is
    * labels-sized. */
  val q288: Q = (s, d) => {
    val model = perceptronFor(s, d)
    val raw = LinearClassifier.rawScore(col("x"), model)
    val scored = graft.core.Pins.pin(
      t(s, d, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          LinearClassifier.quantize(col("embedding"), 1000).as("x"),
          when(col("label") < 5, 1L).otherwise(-1L).as("y"))
        .select(col("vec_id"), col("label"),
          (col("y") * raw).as("margin")))
    val byLabel = scored.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("margin") < 0, 1L).otherwise(0L)).as("n_misfit"))
      .withColumn("misfit_ppm", expr("n_misfit * 1000000 div n"))
    val wWorst = Window.partitionBy(col("label"))
      .orderBy(col("margin"), col("vec_id"))
    val worst = scored.withColumn("rn", row_number().over(wWorst))
      .filter(col("rn") === 1)
      .select(col("label"), col("vec_id").as("worst_vec_id"),
        col("margin").as("worst_margin"))
    byLabel.join(broadcast(worst), Seq("label")) // labels-sized side
      .select(col("label"), col("n"), col("n_misfit"), col("misfit_ppm"),
        col("worst_vec_id"), col("worst_margin"))
      .orderBy(col("label"))
  }

  val q288Sql: String =
    perceptronSqlPrelude + ",\n" +
      """mg AS (SELECT sc.vec_id, CAST(em.label AS BIGINT) AS label,
        |         sc.y * sc.score AS margin
        |       FROM sc JOIN embeddings em ON em.vec_id = sc.vec_id),
        |g AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN margin < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_misfit
        |      FROM mg GROUP BY 1),
        |w AS (SELECT label, vec_id AS worst_vec_id,
        |        margin AS worst_margin
        |      FROM (SELECT label, vec_id, margin, row_number() OVER
        |              (PARTITION BY label ORDER BY margin, vec_id) AS rn
        |            FROM mg)
        |      WHERE rn = 1)
        |SELECT g.label AS label, n, n_misfit,
        |       n_misfit * 1000000 // n AS misfit_ppm,
        |       worst_vec_id, worst_margin
        |FROM g JOIN w ON g.label = w.label
        |ORDER BY g.label""".stripMargin

  // --------------------------------------------------------------- Q289
  /** K-CENTER CORESET (greedy farthest-point / Gonzalez 1985) — the
    * coverage-driven selection leg of the sampling shelf (q110/q221
    * sample by hash/weight, q129 by priority, q249 by uncertainty,
    * q211 MMR diversifies a SHORTLIST; this picks the k corpus points
    * that minimize the maximum distance anyone is from a
    * representative — the 2-approximation coreset a data-pruning or
    * labeling-budget pass starts from): on the q270 round(x·1000)
    * grid all distances are exact BIGINT squared euclidean, seed = the
    * lowest vec_id, each round picks the point FARTHEST from the
    * chosen set (tie: lowest id) — the greedy runs driver-side with
    * model-sized state (the q72 BPE / q272 power-step shape, one
    * corpus fold per round, memoized as an ingest artifact) and the
    * ORACLE REPLAYS ALL 8 ROUNDS as unrolled CTEs, so selection is
    * exact-checked, not spot-checked. The declared dataflow then
    * audits the coreset: every point assigned to its nearest center
    * (first-minimum index = lowest-rank tie-break, stated identically
    * both sides), per center the member count and the coverage radius
    * max d² — the number the 2-approximation guarantee is ABOUT.
    *
    * Scale shape: each greedy round is one scan-local distance pass +
    * a TakeOrdered(1) (k scans at ingest, k model-sized literals
    * after); the audit is one scan-local assignment + a centers-keyed
    * fold. */
  private val kcenterModels =
    new BoundedModelCache[Seq[(Long, Long, Seq[Long])]]
  def clearKcenterModels(): Unit = kcenterModels.clear()
  private val KcK = 8
  private def qGrid(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(col("vec_id"),
      expr("transform(embedding, e -> CAST(round(e * 1000) AS BIGINT))")
        .as("x"))
  // r15 (guide §4 — no interpreted expressions in the per-row path):
  // the k-center assignment evaluates k=8 squared-L2s per corpus row;
  // the HOF form (aggregate ∘ zip_with) runs two interpreted lambdas
  // per element. [[graft.functions.VectorOps.sqDistLong]] is the native
  // codegen'd kernel, property-tested bit-equal on fixed-dim non-null
  // arrays. It truncates ragged arrays and reads a null element as 0,
  // so kcenterFor's training requires exactly qGrid's fixed shape.
  private def d2To(cx: Seq[Long]): org.apache.spark.sql.Column =
    graft.functions.VectorOps.sqDistLong(col("x"),
      expr(s"array(${cx.mkString("L,")}L)"))
  private[graft] def kcenterFor(s: SparkSession, d: String): Seq[(Long, Long, Seq[Long])] =
    kcenterModels.getOrTrain((s, d, KcK)) {
      val q = qGrid(s, d)
      val shape = q.agg(countDistinct(size(col("x"))),
        count(when(col("x").isNull || exists(col("x"), _.isNull), 1))).head()
      require(shape.getLong(0) == 1L && shape.getLong(1) == 0L,
        s"q289 needs fixed-dimension embeddings without null elements: " +
          s"${shape.getLong(0)} distinct lengths, ${shape.getLong(1)} rows with a null")
      val seed = q.orderBy(col("vec_id")).limit(1)
        .collect().head
      var chosen = Vector[(Long, Long, Seq[Long])](
        (1L, seed.getLong(0), seed.getSeq[Long](1)))
      for (r <- 2 to KcK) {
        val dcols = chosen.map(c => d2To(c._3))
        val dmin = if (dcols.size == 1) dcols.head else least(dcols: _*)
        val pick = q.select(col("vec_id"), col("x"), dmin.as("dmin"))
          .orderBy(col("dmin").desc, col("vec_id")).limit(1)
          .collect().head
        chosen :+= ((r.toLong, pick.getLong(0), pick.getSeq[Long](1)))
      }
      chosen
    }

  val q289: Q = (s, d) => {
    val centers = kcenterFor(s, d)
    val centerDf = s.createDataFrame(
      centers.map(c => (c._1, c._2))).toDF("rank", "center_id")
    val ds = array(centers.map(c => d2To(c._3)): _*)
    qGrid(s, d)
      .select(col("vec_id"), ds.as("ds"))
      .withColumn("rank", expr("array_position(ds, array_min(ds))"))
      .withColumn("d2", expr("element_at(ds, CAST(rank AS INT))"))
      .groupBy(col("rank"))
      .agg(count(lit(1)).as("n_assigned"), max(col("d2")).as("max_d2"))
      .join(broadcast(centerDf), Seq("rank")) // k-sized
      .select(col("rank"), col("center_id"), col("n_assigned"),
        col("max_d2"))
      .orderBy(col("rank"))
  }

  val q289Sql: String = {
    val d2 = (a: String, b: String) =>
      s"list_sum(list_transform(generate_series(1, 64), i -> ($a.x[i] - $b.x[i]) * ($a.x[i] - $b.x[i])))"
    def round(r: Int): String =
      s"""m${r - 1} AS (SELECT t.vec_id, min(${d2("t", "c")}) AS dmin
         |       FROM q t, c${r - 1} c GROUP BY t.vec_id),
         |p$r AS (SELECT vec_id FROM m${r - 1}
         |        ORDER BY dmin DESC, vec_id LIMIT 1),
         |c$r AS (SELECT * FROM c${r - 1} UNION ALL
         |        SELECT CAST($r AS BIGINT), q.vec_id, q.x FROM q
         |        WHERE q.vec_id = (SELECT vec_id FROM p$r)),""".stripMargin
    s"""WITH q AS (SELECT vec_id,
       |        list_transform(CAST(embedding AS DOUBLE[]),
       |          e -> CAST(round(e * 1000) AS BIGINT)) AS x
       |      FROM embeddings),
       |c1 AS (SELECT CAST(1 AS BIGINT) AS rank, vec_id, x FROM q
       |       WHERE vec_id = (SELECT min(vec_id) FROM q)),
       |${(2 to KcK).map(round).mkString("\n")}
       |a0 AS (SELECT t.vec_id, c.rank, ${d2("t", "c")} AS d2
       |       FROM q t CROSS JOIN c$KcK c),
       |asn AS (SELECT *, row_number() OVER
       |          (PARTITION BY vec_id ORDER BY d2, rank) AS rn
       |        FROM a0)
       |SELECT asn.rank AS rank, c.vec_id AS center_id,
       |       CAST(count(*) AS BIGINT) AS n_assigned,
       |       CAST(max(asn.d2) AS BIGINT) AS max_d2
       |FROM asn JOIN c$KcK c ON c.rank = asn.rank
       |WHERE rn = 1 GROUP BY 1, 2 ORDER BY rank""".stripMargin
  }

  // --------------------------------------------------------------- Q290
  /** AUDIO SILENCE SEGMENTATION through the REAL WAV codec path — the
    * segmentation leg of the multimodal shelf (q96 extracts pooled
    * features, q183 dedups video frames; this finds the silence/
    * activity STRUCTURE a speech pipeline cuts clips on — VAD's
    * deterministic integer core): payloads synthesized as in q96
    * (sample i = int16 quantization of dimension i,
    * [[graft.multimodal.RawCodec.writeWav]]), decoded OFF THE BYTES by
    * the real fmt-chunk-walking codec, then per clip the
    * gaps-and-islands run decomposition of the silent flag
    * (|amplitude| < 3277 ≈ −20 dBFS — an integer compare on PCM16, no
    * dB log ever runs): silent-sample count and exact ppm, silence-run
    * count, longest silence, and active-segment count — the numbers a
    * segmenter turns into cut points. Runs come from the classic
    * pos − rank(pos within flag) island key (the q190 streaks
    * discipline), exact integers end to end; the oracle replays
    * quantize → |s| threshold → the same island SQL (the q96 contract:
    * agreement proves the byte-level codec decoded exactly what it
    * claims).
    *
    * Scale shape: codec decode is scan-local mapPartitions (payload
    * bytes never shuffle); the explode collapses into ONE
    * (clip, flag)-keyed rank window + a runs fold; everything after is
    * clips-sized. */
  val q290: Q = (s, d) => {
    import s.implicits._
    val wavs = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .map { case (id, e) =>
        val smp = e.padTo(64, 0f).take(64).map { x =>
          val q = math.floor(x.toDouble * 32767.0)
          math.max(-32768L, math.min(32767L, q)).toShort
        }.toArray
        (id, "wav", graft.multimodal.RawCodec.writeWav(8000, smp))
      }
    val samples = graft.multimodal.MediaOps.decode(wavs)
      .map(m => (m.mediaId,
        graft.multimodal.RawCodec.wavSamples(m.content).map(_.toLong).toSeq))
      .toDF("vec_id", "s")
    val wIsl = Window.partitionBy(col("vec_id"), col("silent"))
      .orderBy(col("pos"))
    val runs = samples
      .select(col("vec_id"), posexplode(col("s")).as(Seq("pos", "amp")))
      .withColumn("silent", (abs(col("amp")) < 3277L).cast("long"))
      .withColumn("grp", col("pos") - row_number().over(wIsl))
      .groupBy(col("vec_id"), col("silent"), col("grp"))
      .agg(count(lit(1)).as("len"))
    runs.groupBy(col("vec_id"))
      .agg(sum(col("len")).as("n_samples"),
        coalesce(sum(when(col("silent") === 1L, col("len"))), lit(0L))
          .as("n_silent"),
        sum(when(col("silent") === 1L, 1L).otherwise(0L))
          .as("n_silence_runs"),
        coalesce(max(when(col("silent") === 1L, col("len"))), lit(0L))
          .as("longest_silence"),
        sum(when(col("silent") === 0L, 1L).otherwise(0L))
          .as("n_active_runs"))
      .withColumn("silence_ppm", expr("n_silent * 1000000 div n_samples"))
      .select(col("vec_id"), col("n_samples"), col("n_silent"),
        col("silence_ppm"), col("n_silence_runs"), col("longest_silence"),
        col("n_active_runs"))
      .orderBy(col("vec_id"))
  }

  val q290Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |       FROM embeddings),
      |smp AS (SELECT vec_id, list_transform(v, x ->
      |          GREATEST(-32768, LEAST(32767,
      |            CAST(floor(x * 32767) AS BIGINT)))) AS s
      |        FROM e),
      |ex AS (SELECT vec_id, i AS pos, s[i] AS amp,
      |         CAST(abs(s[i]) < 3277 AS BIGINT) AS silent
      |       FROM smp, UNNEST(generate_series(1, len(s))) AS t(i)),
      |isl AS (SELECT vec_id, silent,
      |          pos - row_number() OVER
      |            (PARTITION BY vec_id, silent ORDER BY pos) AS grp
      |        FROM ex),
      |runs AS (SELECT vec_id, silent, grp,
      |           CAST(count(*) AS BIGINT) AS len
      |         FROM isl GROUP BY 1, 2, 3)
      |SELECT vec_id, CAST(sum(len) AS BIGINT) AS n_samples,
      |       CAST(coalesce(sum(CASE WHEN silent = 1 THEN len END), 0)
      |            AS BIGINT) AS n_silent,
      |       CAST(coalesce(sum(CASE WHEN silent = 1 THEN len END), 0)
      |            AS BIGINT) * 1000000 // CAST(sum(len) AS BIGINT)
      |         AS silence_ppm,
      |       CAST(sum(CASE WHEN silent = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_silence_runs,
      |       CAST(coalesce(max(CASE WHEN silent = 1 THEN len END), 0)
      |            AS BIGINT) AS longest_silence,
      |       CAST(sum(CASE WHEN silent = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_active_runs
      |FROM runs GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- Q291
  /** MARKOV NEXT-EVENT PREDICTION ACCURACY — the predictive EVAL on
    * the sequence models (q92 counts the transition matrix, q142 finds
    * its stationary distribution; neither says whether the matrix
    * PREDICTS anything): transitions split leakage-safe at the q277
    * 70%-of-span cutoff BY THE TIME OF THE PREDICTED EVENT (the
    * prev-event is an observed feature at prediction time, so
    * cutoff-crossing transitions are legitimately eval), the model is
    * argmax train count per from-state (tie: lexicographic next —
    * stated identically both sides), and the eval fold scores held-out
    * transitions per from-state: n_train/n_eval/n_hit and exact
    * accuracy ppm — the number that says whether "view → click" is
    * signal or noise before anyone ships a next-action model. A
    * from-state never seen in training drops from the report (inner
    * model join — the documented cold-start boundary, q277's).
    *
    * Scale shape: one lag window over the user partition (the q92
    * exchange), one train fold and one eval fold (both partial-
    * aggregable, states²-sized), the model a states-sized broadcast. */
  val q291: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ev = t(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    val span = broadcast(ev.agg(min(col("us")).as("t0"), max(col("us")).as("t1"))
      .select(expr("t0 + (t1 - t0) * 7 div 10").as("cut")))
    val seq = graft.core.Pins.pin(ev
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .crossJoin(span)
      .select(col("prev"), col("event_type").as("next"),
        (col("us") >= col("cut")).cast("long").as("is_eval")))
    val train = seq.filter(col("is_eval") === 0L)
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("n"))
    val wTop = Window.partitionBy(col("prev"))
      .orderBy(col("n").desc, col("next"))
    val model = train
      .withColumn("n_train", sum(col("n")).over(Window.partitionBy(col("prev"))))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("prev"), col("next").as("predicted"), col("n_train"))
    seq.filter(col("is_eval") === 1L)
      .join(broadcast(model), Seq("prev"))
      .groupBy(col("prev"), col("predicted"), col("n_train"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("next") === col("predicted"), 1L).otherwise(0L))
          .as("n_hit"))
      .withColumn("acc_ppm", expr("n_hit * 1000000 div n_eval"))
      .select(col("prev"), col("predicted"), col("n_train"), col("n_eval"),
        col("n_hit"), col("acc_ppm"))
      .orderBy(col("prev"))
  }

  val q291Sql: String =
    """WITH ev AS (SELECT user_id, event_type, ts, event_id,
      |         epoch_us(ts) AS us
      |       FROM events),
      |cutoff AS (SELECT min(us) + (max(us) - min(us)) * 7 // 10 AS cut
      |           FROM ev),
      |seq AS (SELECT lag(event_type) OVER
      |          (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
      |          event_type AS next,
      |          CAST(us >= cut AS BIGINT) AS is_eval
      |        FROM ev, cutoff),
      |tr AS (SELECT prev, next, CAST(count(*) AS BIGINT) AS n
      |       FROM seq WHERE prev IS NOT NULL AND is_eval = 0
      |       GROUP BY 1, 2),
      |model AS (SELECT prev, next AS predicted, n_train FROM
      |            (SELECT prev, next,
      |               CAST(sum(n) OVER (PARTITION BY prev) AS BIGINT)
      |                 AS n_train,
      |               row_number() OVER
      |                 (PARTITION BY prev ORDER BY n DESC, next) AS rn
      |             FROM tr)
      |          WHERE rn = 1)
      |SELECT s.prev AS prev, m.predicted, m.n_train,
      |       CAST(count(*) AS BIGINT) AS n_eval,
      |       CAST(sum(CASE WHEN s.next = m.predicted THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_hit,
      |       CAST(sum(CASE WHEN s.next = m.predicted THEN 1 ELSE 0 END)
      |            AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
      |         AS acc_ppm
      |FROM seq s JOIN model m ON s.prev = m.prev
      |WHERE s.is_eval = 1
      |GROUP BY 1, 2, 3 ORDER BY prev""".stripMargin

  // --------------------------------------------------------------- Q292
  /** IVF CELL-BALANCE AUDIT — the index-HEALTH check the ANN shelf was
    * missing (q117/q168/q269/q284 grade result quality; this grades
    * the index's SHAPE: IVF search cost is the probed cells' sizes, so
    * one overfull cell IS the tail latency — every vector DB's
    * rebalance trigger): against the same memoized 8-cell quantizer
    * q30/q45/q76/q78/q98 search (and the oracle retrains via the
    * shared unrolled k-means prelude, so cells match bit for bit),
    * per cell the member count and exact share ppm over a dense
    * 0..7 cell spine (an EMPTY cell must surface as a 0-row — empties
    * are wasted train budget), plus the headline constants a
    * rebalance gate reads: imbalance = max·nCells·10⁶ div N ppm
    * (10⁶ = perfectly balanced; nCells·10⁶ = everything in one cell)
    * and the empty-cell count.
    *
    * Scale shape: the assigned relation is the stored ingest artifact
    * (cell column on the table — the q30 contract); the audit is ONE
    * cells-keyed fold off it, then cells-sized windows on the dense
    * spine. */
  val q292: Q = (s, d) => {
    val nCells = 8
    val counts = ivfModelFor(s, d, nCells).assigned
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val spine = s.range(0, nCells).select(col("id").cast("long").as("cell"))
    val wAll = Window.partitionBy() // cells-sized relation
    spine.join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("n_tot", sum(col("n")).over(wAll))
      .withColumn("share_ppm", expr("n * 1000000 div n_tot"))
      .withColumn("imbalance_ppm",
        expr(s"max(n) over () * $nCells * 1000000 div n_tot"))
      .withColumn("n_empty",
        sum(when(col("n") === 0L, 1L).otherwise(0L)).over(wAll))
      .select(col("cell"), col("n"), col("share_ppm"),
        col("imbalance_ppm"), col("n_empty"))
      .orderBy(col("cell"))
  }

  val q292Sql: String =
    ivfSqlPrelude(nCells = 8, sampleN = 256, iters = 2) + ",\n" +
      """cnt AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
        |        FROM cells GROUP BY 1),
        |spine AS (SELECT CAST(unnest(generate_series(0, 7)) AS BIGINT)
        |            AS cell),
        |g AS (SELECT spine.cell AS cell,
        |        CAST(coalesce(cnt.n, 0) AS BIGINT) AS n
        |      FROM spine LEFT JOIN cnt ON spine.cell = cnt.cell)
        |SELECT cell, n,
        |       n * 1000000 // CAST(sum(n) OVER () AS BIGINT) AS share_ppm,
        |       CAST(max(n) OVER () AS BIGINT) * 8 * 1000000
        |         // CAST(sum(n) OVER () AS BIGINT) AS imbalance_ppm,
        |       CAST(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END) OVER ()
        |            AS BIGINT) AS n_empty
        |FROM g ORDER BY cell""".stripMargin

  // --------------------------------------------------------------- Q293
  /** COLUMN-LEVEL CONTENT CHECKSUMS — the data-contract diff primitive
    * between the table-level Merkle (q267: equal roots ⟺ equal doc
    * multisets) and the schema profile (q274/q161): per (table,
    * column) an ORDER-FREE digest — the sum of md5-52-bit hashes of
    * the CANONICALIZED value rendering, mod 2⁵² — so two pipelines
    * (or two snapshots, or two engines) can localize a divergence to
    * the column that moved without shipping data (the
    * migration-validation / replication-audit workhorse; q166 diffs
    * ROWS when keys align, this needs no key at all). Commutative
    * addition makes the digest partition- and order-invariant AND
    * incrementally maintainable (add the delta's hashes); NULLs are
    * counted, never hashed (a canonical rendering for NULL would make
    * "null" and NULL collide). Canonicalization is part of the
    * contract and stated in both engines: integers as decimal strings,
    * prices as round(·100) cent strings (float rendering is the
    * classic cross-engine checksum killer), timestamps as epoch
    * microseconds. Sums ride DECIMAL(38,0)/HUGEINT (600k × 2⁵² ≈ 2.7
    * ·10²¹ overflows BIGINT), the digest emits as BIGINT after the
    * mod.
    *
    * Scale shape: the melt is scan-local (one scan per table); the
    * ONLY exchange is the columns-keyed digest fold (map-side
    * partial); output is columns-sized. */
  /** Canonicalized (col_name, v) melt for one table — shared by q293
    * and the streaming checksum twin so the rendering contract lives
    * in exactly one place. */
  private[graft] def checksumMelt(df: DataFrame, table: String,
      cols: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    df.select(explode(array(cols.map { case (n, c) =>
      struct(lit(s"$table.$n").as("col_name"),
        c.cast("string").as("v")) }: _*)).as("m"))
      .select(col("m.col_name").as("col_name"), col("m.v").as("v"))

  /** The per-column digest fold over a melted relation: (col_name, n,
    * n_null, sum52) with sum52 in DECIMAL(38,0) and the EMPTY digest
    * coalesced to 0 (the identity of the commutative sum — an all-NULL
    * column digests to 0, identically in batch, oracle, and the
    * streaming store). */
  private[graft] def checksumFold(melted: DataFrame): DataFrame =
    melted.groupBy(col("col_name"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        coalesce(sum(when(col("v").isNotNull,
          graft.functions.TextOps.md5Long52(col("v"))
            .cast("decimal(38,0)"))),
          lit(0).cast("decimal(38,0)")).as("sum52"))

  /** sum52 → emitted BIGINT digest column set (shared with the twin). */
  private[graft] def checksumDigest(folded: DataFrame): DataFrame =
    folded.select(col("col_name"), col("n"), col("n_null"),
      expr("CAST(sum52 % 4503599627370496 AS BIGINT)").as("digest52"))
      .orderBy(col("col_name"))

  private[graft] val documentsChecksumCols
      : Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "doc_id" -> col("doc_id"), "text" -> col("text"),
    "lang" -> col("lang"), "source" -> col("source"),
    "n_chars" -> col("n_chars"))

  val q293: Q = (s, d) => {
    // r14: spread the single-split orders scan — its melt feeds ~900k
    // of the query's ~925k md5-52 digests through the scan-local
    // partial agg, all in ONE task otherwise (the q136 spread pattern:
    // kernel-heavy, no pin downstream; no-op at scale)
    val docs = checksumMelt(t(s, d, "documents"), "documents",
      documentsChecksumCols)
    val ords = checksumMelt(
      graft.operators.MinHashLsh.spreadSmallInput(t(s, d, "orders")),
      "orders", Seq(
      "o_orderkey" -> col("o_orderkey"), "o_custkey" -> col("o_custkey"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_totalprice" -> expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      "o_orderdate" -> unix_micros(col("o_orderdate")),
      "o_orderpriority" -> col("o_orderpriority")))
    checksumDigest(checksumFold(docs.unionByName(ords)))
  }

  val q293Sql: String = {
    def leg(table: String, colName: String, valueExpr: String): String =
      s"""SELECT '$table.$colName' AS col_name,
         |  CAST($valueExpr AS VARCHAR) AS v FROM $table""".stripMargin
    """WITH m AS (""" +
      (Seq(
        leg("documents", "doc_id", "doc_id"),
        leg("documents", "text", "text"),
        leg("documents", "lang", "lang"),
        leg("documents", "source", "source"),
        leg("documents", "n_chars", "n_chars"),
        leg("orders", "o_orderkey", "o_orderkey"),
        leg("orders", "o_custkey", "o_custkey"),
        leg("orders", "o_orderstatus", "o_orderstatus"),
        leg("orders", "o_totalprice",
          "CAST(round(o_totalprice * 100) AS BIGINT)"),
        leg("orders", "o_orderdate", "epoch_us(o_orderdate)"),
        leg("orders", "o_orderpriority", "o_orderpriority"))
        .mkString("\n UNION ALL\n")) +
      s"""),
         |h AS (SELECT col_name, v,
         |        CASE WHEN v IS NULL THEN NULL
         |             ELSE ${sqlHex52("md5(v)")} END AS h52
         |      FROM m)
         |SELECT col_name, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_null,
         |       CAST(coalesce(sum(CAST(h52 AS HUGEINT)), 0)
         |            % 4503599627370496 AS BIGINT) AS digest52
         |FROM h GROUP BY col_name ORDER BY col_name""".stripMargin
  }

  // --------------------------------------------------------------- Q294
  /** RIGHT-TO-ERASURE WITH NEAR-DUP CLOSURE — the legal reality q254's
    * exact-match audit stops short of: an erasure request covers the
    * revoked documents AND their near-duplicates (a paraphrase of the
    * revoked text is still the revoked content — the "deduplicating
    * training data" lesson run in reverse), so the deletion unit is
    * the q52/q109 near-dup CLUSTER, not the doc_id. Seeds are the
    * deterministic doc_id % 83 = 0 stand-in for a revocation list;
    * closure = every member of any seed's component (components from
    * the memoized LSH pair artifact — bucketed, never all-pairs;
    * singletons are their own component, the assignAll contract). The
    * one-row audit is what a compliance report reads: the
    * AMPLIFICATION factor (closure·10⁶ div seeds — how much more the
    * pipeline must delete than the request named), the extra docs a
    * naive id-match erasure would MISS, clusters hit, the largest one,
    * and what remains. Oracle replays the recursive closure (the
    * q262/q276 CTEs) plus the same folds.
    *
    * Scale shape: component assignment is the stored ingest artifact;
    * the audit is one components-keyed fold + one docs-sized left
    * join against the revoked component set (broadcast — revocation
    * lists are request-sized), everything after one row. */
  val q294: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val comp = graft.core.Pins.pin(
      graft.operators.DedupClusters.assignAll(docs, lshPairsFor(s, d))
        .withColumn("seed", (col("doc_id") % 83 === 0).cast("long")))
    val revoked = comp.groupBy(col("component"))
      .agg(sum(col("seed")).as("n_seed"), count(lit(1)).as("sz"))
      .filter(col("n_seed") > 0)
      .select(col("component"), col("sz"))
    comp.join(broadcast(revoked), Seq("component"), "left")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("seed")).as("n_seeds"),
        sum(when(col("sz").isNotNull, 1L).otherwise(0L)).as("n_closure"),
        countDistinct(when(col("sz").isNotNull, col("component")))
          .as("n_clusters_hit"),
        coalesce(max(col("sz")), lit(0L)).as("max_cluster_sz"))
      .select(col("n_docs"), col("n_seeds"), col("n_closure"),
        (col("n_closure") - col("n_seeds")).as("n_extra"),
        col("n_clusters_hit"), col("max_cluster_sz"),
        (col("n_docs") - col("n_closure")).as("n_remaining"),
        expr("n_closure * 1000000 div greatest(1, n_seeds)")
          .as("amplification_ppm"))
  }

  val q294Sql: String = {
    val sigCols = Seeds.map(i =>
      s"list_min(list_transform(sh, x -> md5('$i' || '|' || x))) AS h$i")
      .mkString(", ")
    val bandCond = (0 until 4).map(b =>
      s"(a.h${2 * b} = b.h${2 * b} AND a.h${2 * b + 1} = b.h${2 * b + 1})")
      .mkString(" OR ")
    s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t
       |          FROM documents),
       |shl AS (SELECT doc_id, list_distinct(list_transform(
       |          generate_series(1, len(t) - 2),
       |          i -> array_to_string(t[i:i+2], ' '))) AS sh
       |        FROM toks),
       |sig AS (SELECT doc_id, sh, $sigCols FROM shl),
       |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |           a.sh AS sha, b.sh AS shb
       |         FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandCond)),
       |pairs AS (SELECT a_id, b_id FROM cand
       |          WHERE round(CAST(len(list_intersect(sha, shb)) AS DOUBLE)
       |            / (len(sha) + len(shb) - len(list_intersect(sha, shb))),
       |            4) >= 0.5),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
       |         FROM reach GROUP BY u),
       |full0 AS (SELECT d.doc_id, coalesce(c.component, d.doc_id)
       |            AS component,
       |            CAST(d.doc_id % 83 = 0 AS BIGINT) AS seed
       |          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
       |rev AS (SELECT component, CAST(count(*) AS BIGINT) AS sz
       |        FROM full0
       |        WHERE component IN (SELECT component FROM full0
       |                            WHERE seed = 1)
       |        GROUP BY 1),
       |j AS (SELECT f.*, rev.sz FROM full0 f
       |      LEFT JOIN rev ON f.component = rev.component),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(sum(seed) AS BIGINT) AS n_seeds,
       |        CAST(sum(CASE WHEN sz IS NOT NULL THEN 1 ELSE 0 END)
       |             AS BIGINT) AS n_closure,
       |        CAST(count(DISTINCT CASE WHEN sz IS NOT NULL
       |             THEN component END) AS BIGINT) AS n_clusters_hit,
       |        CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cluster_sz
       |      FROM j)
       |SELECT n_docs, n_seeds, n_closure, n_closure - n_seeds AS n_extra,
       |       n_clusters_hit, max_cluster_sz,
       |       n_docs - n_closure AS n_remaining,
       |       n_closure * 1000000 // greatest(1, n_seeds)
       |         AS amplification_ppm
       |FROM a""".stripMargin
  }

  // --------------------------------------------------------------- Q295
  /** FUNNEL STEP-LATENCY percentiles — the TIME dimension q87's
    * ordered funnel drops (q87 counts WHO converts; the product
    * question that follows is HOW LONG each step takes — the p50/p90
    * step gaps a growth team watches weekly; q261's survival table is
    * the censoring-aware cousin for the single conversion event):
    * per user the q87 cascaded first-view → first-later-click →
    * first-later-purchase timestamps, per step the completed-journey
    * gap in integer MICROSECONDS, and the p50/p90 as DISCRETE order
    * statistics on the per-step gap grid (ceil-rank on the cumulative
    * count — the q71/q279 no-interpolation discipline). Output per
    * step: journeys, min/p50/p90/max gap μs.
    *
    * Scale shape: the q87 one-exchange user cascade, a scan-local
    * step melt, one (step, gap) grid fold, and grid-sized cumulative
    * windows (q141 rationale) — nothing corpus-sized after the user
    * partition. */
  val q295: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
    val perUser = t(s, d, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("tv",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("tc",
        min(when(col("event_type") === "click" && col("us") > col("tv"),
          col("us"))).over(w))
      .withColumn("tp",
        min(when(col("event_type") === "purchase" && col("us") > col("tc"),
          col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("tv")).as("tv"), max(col("tc")).as("tc"),
        max(col("tp")).as("tp"))
    val gaps = perUser.select(explode(array(
        struct(lit("1_view_to_click").as("step"),
          (col("tc") - col("tv")).as("gap_us")),
        struct(lit("2_click_to_purchase").as("step"),
          (col("tp") - col("tc")).as("gap_us")))).as("m"))
      .select(col("m.step").as("step"), col("m.gap_us").as("gap_us"))
      .filter(col("gap_us").isNotNull)
    val grid = gaps.groupBy(col("step"), col("gap_us"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("step")).orderBy(col("gap_us"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("step")).orderBy(col("gap_us"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = grid
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("m", sum(col("cnt")).over(wAll))
    cum.groupBy(col("step"))
      .agg(min(col("m")).as("n_journeys"),
        min(col("gap_us")).as("min_gap_us"),
        min(when(col("cum") * 2 >= col("m"), col("gap_us")))
          .as("p50_gap_us"),
        min(when(col("cum") * 10 >= col("m") * 9, col("gap_us")))
          .as("p90_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
      .orderBy(col("step"))
  }

  val q295Sql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
      |       FROM events),
      |c AS (SELECT user_id,
      |        min(CASE WHEN event_type = 'view' THEN us END)
      |          OVER (PARTITION BY user_id) AS tv
      |      FROM ev),
      |pu0 AS (SELECT e.user_id, e.event_type, e.us, c.tv
      |        FROM ev e JOIN (SELECT DISTINCT user_id, tv FROM c) c
      |          ON e.user_id = c.user_id),
      |pu1 AS (SELECT *, min(CASE WHEN event_type = 'click' AND us > tv
      |          THEN us END) OVER (PARTITION BY user_id) AS tc
      |        FROM pu0),
      |pu2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us > tc
      |          THEN us END) OVER (PARTITION BY user_id) AS tp
      |        FROM pu1),
      |u AS (SELECT user_id, max(tv) AS tv, max(tc) AS tc, max(tp) AS tp
      |      FROM pu2 GROUP BY 1),
      |gaps AS (SELECT '1_view_to_click' AS step, tc - tv AS gap_us
      |         FROM u WHERE tc IS NOT NULL
      |         UNION ALL
      |         SELECT '2_click_to_purchase', tp - tc FROM u
      |         WHERE tp IS NOT NULL),
      |grid AS (SELECT step, gap_us, CAST(count(*) AS BIGINT) AS cnt
      |         FROM gaps GROUP BY 1, 2),
      |cum AS (SELECT step, gap_us,
      |          CAST(sum(cnt) OVER (PARTITION BY step ORDER BY gap_us
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS cum,
      |          CAST(sum(cnt) OVER (PARTITION BY step) AS BIGINT) AS m
      |        FROM grid)
      |SELECT step, min(m) AS n_journeys,
      |       min(gap_us) AS min_gap_us,
      |       min(CASE WHEN cum * 2 >= m THEN gap_us END) AS p50_gap_us,
      |       min(CASE WHEN cum * 10 >= m * 9 THEN gap_us END)
      |         AS p90_gap_us,
      |       max(gap_us) AS max_gap_us
      |FROM cum GROUP BY step ORDER BY step""".stripMargin

  // --------------------------------------------------------------- Q296
  /** SKETCH-ERROR AUDIT — the measured-accuracy leg of the sketch
    * shelf (q247/q71 SHIP the bottom-k quantile estimator; this
    * measures what the estimate COSTS, per group, against the exact
    * answer — the evidence behind "k = 512 suffices", re-run whenever
    * k or the data shifts): per event type the EXACT median (discrete
    * ceil-rank order statistic on the cents grid — the q141/q295
    * discipline) beside the q71 estimator's median (the k = 512
    * md5-bottom-k sample, same `kll71|` salt, so this audits the
    * DEPLOYED estimator, not a lookalike) and the absolute error in
    * ppm of the exact value. The rank error of bottom-k-by-hash is
    * O(1/√k) uniform; the audit turns that theory into a per-group
    * measured number.
    *
    * Scale shape (round 11 — fused): ONE event_type-keyed exchange
    * computes BOTH estimators side by side — the exact cents
    * distribution as a [[graft.operators.LongHistogramAgg]] map
    * (buffer bounded by the cents DOMAIN, so map-side combine ships
    * domain-sized partials) and the q71 bottom-k sample (the q247
    * buffer shape) — then codegen'd HOFs walk the sorted grid keys
    * for the exact ceil-rank median. The round-10 form paid a pin job
    * plus grid fold → cumulative-window re-sort → re-fold → join (~5
    * dispatch-floor barriers for a types-sized answer, the
    * weak-screen boundary row, PLANS.md § q296); this plans one scan,
    * one keyed exchange, and a 5-row sort. The cumulative `aggregate`
    * walk over sorted map keys is the SAME discrete ceil-rank order
    * statistic (min cents with cum·2 ≥ m), bit-equal by construction. */
  val q296: Q = (s, d) => {
    val k = 512
    // r15: spread the single-split events scan before the sketch fold
    // (the q293/q136 pattern — the md5 sample-key kernel plus BOTH
    // object-aggregate partials ran in ONE scan task; no pin downstream;
    // no-op at scale). A/B best-of-7: 1.36 → 0.99 s.
    graft.operators.MinHashLsh.spreadSmallInput(t(s, d, "events"))
      // declared NULL semantics: a NULL value has no cents and joins
      // neither estimator (the typed LongHistogramAgg takes Long, so
      // the filter makes non-null an enforced contract, not a silent
      // assumption — both engines spell it)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        md5(concat(lit("kll71|"), col("event_id").cast("string"))).as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"))
      .agg(graft.operators.Histogram.longHistogram(col("cents")).as("hist"),
        graft.operators.TopK.minKByString(k)(col("h"), col("cents"))
          .as("smp"))
      // sorted (key, count) ENTRIES, not key-by-key map lookups: Spark
      // map element access is a linear scan of the underlying array,
      // so a hist[k] per sorted key would make the walk O(domain²) —
      // measured 10 s at sf0.1 vs sub-second for this linear form
      .withColumn("es", array_sort(map_entries(col("hist"))))
      .withColumn("n",
        expr("aggregate(es, 0L, (a, e) -> a + e.value)"))
      .withColumn("p50_exact_cents",
        expr("""aggregate(es,
                 named_struct('cum', 0L, 'p', CAST(NULL AS BIGINT)),
                 (a, e) -> named_struct('cum', a.cum + e.value,
                   'p', CASE WHEN a.p IS NULL
                               AND (a.cum + e.value) * 2 >= n
                             THEN e.key ELSE a.p END),
                 a -> a.p)"""))
      .withColumn("cs", array_sort(expr("transform(smp, x -> x._2)")))
      .withColumn("p50_est_cents",
        element_at(col("cs"), ceil(size(col("cs")) * lit(0.5)).cast("int")))
      .withColumn("abs_err_ppm",
        expr("""abs(p50_est_cents - p50_exact_cents) * 1000000
                div greatest(1, abs(p50_exact_cents))"""))
      .select(col("event_type"), col("n"), col("p50_exact_cents"),
        col("p50_est_cents"), col("abs_err_ppm"))
      .orderBy(col("event_type"))
  }

  val q296Sql: String =
    """WITH c AS (SELECT event_type, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |       FROM events WHERE value IS NOT NULL),
      |grid AS (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS cnt
      |         FROM c GROUP BY 1, 2),
      |cum AS (SELECT event_type, cents,
      |          CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS cum,
      |          CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
      |            AS m
      |        FROM grid),
      |ex AS (SELECT event_type, min(m) AS n,
      |         min(CASE WHEN cum * 2 >= m THEN cents END)
      |           AS p50_exact_cents
      |       FROM cum GROUP BY 1),
      |h AS (SELECT event_type,
      |        md5('kll71|' || CAST(event_id AS VARCHAR)) AS h, cents
      |      FROM c),
      |rk AS (SELECT event_type, cents,
      |         row_number() OVER (PARTITION BY event_type
      |           ORDER BY h, cents) AS rn
      |       FROM h),
      |sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS mk,
      |         list_sort(list(cents)) AS cs
      |       FROM rk WHERE rn <= 512 GROUP BY 1),
      |est AS (SELECT event_type,
      |          cs[CAST(ceil(mk * 0.5) AS BIGINT)] AS p50_est_cents
      |        FROM sk)
      |SELECT ex.event_type AS event_type, n, p50_exact_cents,
      |       p50_est_cents,
      |       abs(p50_est_cents - p50_exact_cents) * 1000000
      |         // greatest(1, abs(p50_exact_cents)) AS abs_err_ppm
      |FROM ex JOIN est ON ex.event_type = est.event_type
      |ORDER BY ex.event_type""".stripMargin

  // --------------------------------------------------------------- Q298
  /** SEQUENCE PACKING audit — the "sample packing" step of LLM batch
    * prep (fill fixed 256-token context windows with whole documents
    * so padding is minimized; q250's sorted length-batching bounds
    * per-batch WASTE, this actually ASSIGNS docs to bins and reports
    * the bin count against the information-theoretic floor):
    * next-fit-decreasing per (lang, source) shard via
    * [[graft.operators.SequencePacker]] — the [[q241]]/KeyedLedger
    * sequential-fold class (whether a doc opens a new bin depends on
    * the post-decision remaining capacity, so no window form exists;
    * typed flatMapGroups, one shard-key shuffle, O(1) state). Docs
    * longer than the capacity truncate to it (declared semantics).
    * Per shard: doc count, bins used, packed tokens, the lower bound
    * ⌈total/C⌉, utilization ppm, and the NFD-vs-floor gap — the
    * packing quality is measured IN the output, not assumed.
    *
    * The ORACLE is the other mechanism (the q241 discipline): a
    * DuckDB recursive CTE walks every shard's (tokens DESC, doc_id)
    * sequence one doc per iteration, so agreement proves the typed
    * fold against an independent sequential semantics.
    *
    * Scale shape: tokens fold scan-locally; ONE shard-key exchange;
    * per-shard state is one counter and the shard is the documented
    * dial (sub-shard a hot (lang, source) by hash at 100 TB — packing
    * is only defined within a shard, so the contract is unchanged). */
  val q298: Q = (s, d) => {
    import s.implicits._
    val cap = 256L
    val docs = t(s, d, "documents")
      .select(col("lang"), col("source"), col("doc_id"),
        expr(s"LEAST(CAST(size(split(text, ' ')) AS BIGINT), ${cap}L)")
          .as("tokens"))
      .as[graft.operators.PackDoc]
    graft.operators.SequencePacker.nextFitDecreasing(docs, cap).toDF()
      .orderBy(col("lang"), col("source"))
  }

  val q298Sql: String =
    """WITH RECURSIVE
      |d AS (SELECT lang, source, doc_id,
      |        LEAST(CAST(len(string_split(text, ' ')) AS BIGINT), 256)
      |          AS tokens
      |      FROM documents),
      |o AS (SELECT lang, source, doc_id, tokens,
      |        CAST(row_number() OVER (PARTITION BY lang, source
      |          ORDER BY tokens DESC, doc_id) AS BIGINT) AS rn
      |      FROM d),
      |walk(lang, source, rn, bins, rem) AS (
      |  SELECT lang, source, CAST(1 AS BIGINT), CAST(1 AS BIGINT),
      |         256 - tokens
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT w.lang, w.source, w.rn + 1,
      |    CASE WHEN o.tokens <= w.rem THEN w.bins ELSE w.bins + 1 END,
      |    CASE WHEN o.tokens <= w.rem THEN w.rem - o.tokens
      |         ELSE 256 - o.tokens END
      |  FROM walk w JOIN o ON o.lang = w.lang AND o.source = w.source
      |    AND o.rn = w.rn + 1),
      |tot AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |          CAST(sum(tokens) AS BIGINT) AS total_tokens
      |        FROM o GROUP BY 1, 2),
      |last AS (SELECT w.lang, w.source, w.bins
      |         FROM walk w JOIN tot t ON w.lang = t.lang
      |           AND w.source = t.source AND w.rn = t.n_docs)
      |SELECT t.lang AS lang, t.source AS source, n_docs,
      |       l.bins AS n_bins, total_tokens,
      |       (total_tokens + 255) // 256 AS lower_bound,
      |       total_tokens * 1000000 // (l.bins * 256) AS util_ppm,
      |       l.bins - ((total_tokens + 255) // 256) AS gap_bins
      |FROM tot t JOIN last l ON t.lang = l.lang AND t.source = l.source
      |ORDER BY lang, source""".stripMargin

  // --------------------------------------------------------------- Q299
  /** MIXTURE REWEIGHTING to a declared target — the domain-rebalancing
    * step of corpus assembly (DoReMi/data-mixing practice: the crawl's
    * language mix is never the training mix you want; importance
    * weights w_l = target_share/actual_share make the weighted corpus
    * match the target in expectation, and a CAP bounds the variance a
    * rare domain's huge weight would inject): per language the doc
    * count, actual share (ppm floor), the declared target ppm
    * (literal in both engines, Σ = 10⁶), the capped importance weight
    * in ppm — w_ppm = target_ppm·N div n_l, capped at 3·10⁶ (3×) —
    * and the cap flag; plus the effective sample size of the weighted
    * corpus, ESS = (Σ n_l·w_l)²/(Σ n_l·w_l²) in ROWS (Kish) — the
    * honest "how much data do I really have after reweighting"
    * number, DECIMAL(38,0) for the squared sums (exact to ~10¹⁹
    * weighted mass, the documented lift). All-integer: ratio and ESS
    * are BIGINT floor divisions, no float crosses engines.
    *
    * Scale shape: ONE partial-aggregable lang fold; everything after
    * is langs-sized (the 5-row relation + a one-row ESS broadcast). */
  val q299: Q = (s, d) => {
    val target = Seq("en" -> 400000L, "zh" -> 200000L, "de" -> 150000L,
      "fr" -> 150000L, "es" -> 100000L)
    val dec = "DECIMAL(38,0)"
    val tgt = broadcast(
      t(s, d, "documents").sparkSession
        .createDataFrame(target.map { case (l, p) => (l, p) })
        .toDF("lang", "target_ppm"))
    // pinned: the langs-sized count relation feeds three consumers
    // (per-lang rows, the total, the ESS fold) — unpinned each replans
    // its own corpus scan
    val counts = graft.core.Pins.pin(
      t(s, d, "documents").groupBy(col("lang")).agg(count(lit(1)).as("n")))
    val n_total = counts.agg(sum(col("n")).as("n_total"))
    val perLang = counts.join(tgt, Seq("lang"))
      .crossJoin(broadcast(n_total))
      .withColumn("actual_ppm", expr("n * 1000000 div n_total"))
      .withColumn("weight_ppm",
        expr("LEAST(target_ppm * n_total div n, 3000000L)"))
      .withColumn("capped",
        (expr("target_ppm * n_total div n") > lit(3000000L)).cast("long"))
    val ess = perLang.agg(
      expr(s"""CAST(SUM(CAST(n AS $dec) * weight_ppm) AS $dec)
               * SUM(CAST(n AS $dec) * weight_ppm)
               div SUM(CAST(n AS $dec) * weight_ppm * weight_ppm)""")
        .cast("long").as("ess_rows"))
    perLang.crossJoin(broadcast(ess))
      .select(col("lang"), col("n"), col("actual_ppm"), col("target_ppm"),
        col("weight_ppm"), col("capped"), col("ess_rows"))
      .orderBy(col("lang"))
  }

  val q299Sql: String =
    """WITH tgt(lang, target_ppm) AS (VALUES
      |    ('en', CAST(400000 AS BIGINT)), ('zh', 200000), ('de', 150000),
      |    ('fr', 150000), ('es', 100000)),
      |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
      |      FROM documents GROUP BY 1),
      |nt AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
      |p AS (SELECT c.lang AS lang, n, n * 1000000 // n_total AS actual_ppm,
      |        target_ppm,
      |        LEAST(target_ppm * n_total // n, 3000000) AS weight_ppm,
      |        CAST(target_ppm * n_total // n > 3000000 AS BIGINT) AS capped
      |      FROM c JOIN tgt ON c.lang = tgt.lang CROSS JOIN nt),
      |e AS (SELECT CAST(sum(CAST(n AS HUGEINT) * weight_ppm)
      |               * sum(CAST(n AS HUGEINT) * weight_ppm)
      |               // sum(CAST(n AS HUGEINT) * weight_ppm * weight_ppm)
      |             AS BIGINT) AS ess_rows
      |      FROM p)
      |SELECT lang, n, actual_ppm, target_ppm, weight_ppm, capped, ess_rows
      |FROM p CROSS JOIN e ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- Q302
  /** RETENTION-BOUNDED RECENT-HISTORY FEATURES — keep-last-K per user
    * as an OPERATOR, not a doc note (the q291 100× probe shows the
    * per-user lag window paying 100×-longer histories inside single
    * tasks; every sequence query's "retention dial" caveat is this
    * query's mechanism made first-class): per user the last K = 8
    * events by (time DESC, event_id DESC) via
    * [[graft.operators.SequenceRetention]] — a partial-aggregable
    * typed fold whose buffer is O(K), so map-side combine ships ≤ K
    * rows per user per partition and per-task state stays FLAT as
    * histories grow (the per-user lag window does not). From the kept
    * tail: total history length, kept length, the tail's time span, the
    * session fingerprint (event types oldest→newest, the
    * next-action-model feature), and the purchase count in the tail — the
    * recency-feature extraction every personalization pipeline runs.
    *
    * The ORACLE replays the same tail with a row_number window
    * (rn ≤ K under the identical total order) — agreement proves the
    * bounded fold against the unbounded formulation it replaces.
    *
    * Scale shape: ONE scan, ONE user-keyed exchange carrying O(users
    * × K); everything after is per-user-row arithmetic on K-sized
    * arrays. */
  val q302: Q = (s, d) => {
    val kk = 8
    t(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_total"),
        graft.operators.SequenceRetention.lastK(kk)(
          col("us"), col("event_id"), col("event_type")).as("kept"))
      .select(col("user_id"), col("n_total"),
        size(col("kept")).cast("long").as("n_kept"),
        expr("kept[size(kept) - 1]._1 - kept[0]._1").as("tail_span_us"),
        expr("concat_ws('>', transform(kept, x -> x._3))").as("tail_sig"),
        expr("""aggregate(kept, 0L,
                 (a, x) -> a + CASE WHEN x._3 = 'purchase'
                                    THEN 1L ELSE 0L END)""")
          .as("tail_purchases"))
      .orderBy(col("user_id"))
  }

  val q302Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
      |       FROM events),
      |r AS (SELECT user_id, us, event_id, event_type,
      |        row_number() OVER (PARTITION BY user_id
      |          ORDER BY us DESC, event_id DESC) AS rn,
      |        CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
      |          AS n_total
      |      FROM e),
      |k AS (SELECT * FROM r WHERE rn <= 8)
      |SELECT user_id, min(n_total) AS n_total,
      |       CAST(count(*) AS BIGINT) AS n_kept,
      |       max(us) - min(us) AS tail_span_us,
      |       string_agg(event_type, '>' ORDER BY us, event_id) AS tail_sig,
      |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |            AS BIGINT) AS tail_purchases
      |FROM k GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- Q303
  /** SEMANTIC DEDUP audit (SemDeDup, Abbas et al.) — the curation
    * tier between exact/near-dup TEXT dedup and nothing: documents
    * sharing no 3-gram can still embed within ε of each other
    * (translations, templated rewrites), and the published recipe is
    * k-means the embedding space, then pairwise-compare ONLY within
    * each cluster, keeping one representative per duplicate set. Here:
    * the corpus under its own 64-cell quantizer (a q303-owned
    * [[ivfModelFor]] instance — more cells than the 8-cell search
    * index because cells are the N²/cells dial and dedup wants small
    * cells, the SemDeDup k ≈ √N regime), vectors integer-quantized at
    * round(x·1000) (the shared grid), then
    * [[graft.operators.SemanticDedup.withinCellStats]] folds each cell
    * with a compiled i<j loop under the ALL-INTEGER cosine² threshold
    * τ = 0.35 (dot² · 400 ≥ 49 · ‖a‖² · ‖b‖², exact BIGINTs — no float
    * crosses engines; τ matches q22's declared near-dup cutoff, so the
    * two tiers grade the same contract) and emits one row per cell: members, dup pairs,
    * removed (smaller-id keep-first contract), survivors, removed ppm.
    * Within-cluster-only comparison is the method's documented recall
    * boundary, exactly as published.
    *
    * Scale shape: the model is the memoized ingest artifact (q30
    * contract); ONE cell-keyed exchange carries each vector once;
    * the quadratic work is cell-bounded (cells = the dial, sub-shard
    * degenerate cells by hash); output is cells-sized, pairs never
    * leave their task. */
  val q303: Q = (s, d) => {
    val asg = ivfModelFor(s, d, 64).assigned
      .select(col("cell"), col("vec_id"),
        expr("transform(__v, x -> CAST(round(x * 1000) AS BIGINT))").as("q"))
    graft.operators.SemanticDedup.withinCellStats(asg, 49L, 400L)
      .withColumn("removed_ppm",
        expr("n_removed * 1000000 div n_members"))
      .orderBy(col("cell"))
  }

  val q303Sql: String =
    ivfSqlPrelude(nCells = 64, sampleN = 256, iters = 2) + ",\n" +
      """qn AS (SELECT vec_id, cell,
        |         list_transform(v, x -> CAST(round(x * 1000) AS BIGINT))
        |           AS q
        |       FROM cells),
        |qv AS (SELECT vec_id, cell, q,
        |         CAST(list_inner_product(q, q) AS BIGINT) AS nrm
        |       FROM qn),
        |pairs AS (SELECT cell, a_id, b_id FROM (
        |    SELECT a.cell AS cell, a.vec_id AS a_id, b.vec_id AS b_id,
        |           CAST(list_inner_product(a.q, b.q) AS BIGINT) AS dot,
        |           a.nrm AS na, b.nrm AS nb
        |    FROM qv a JOIN qv b ON a.cell = b.cell AND a.vec_id < b.vec_id)
        |  WHERE dot > 0 AND dot * dot * 400 >= 49 * na * nb),
        |rem AS (SELECT cell, b_id FROM pairs GROUP BY 1, 2),
        |st AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members
        |       FROM qv GROUP BY 1),
        |pc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_dup_pairs
        |       FROM pairs GROUP BY 1),
        |rc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_removed
        |       FROM rem GROUP BY 1)
        |SELECT st.cell AS cell, n_members,
        |       CAST(coalesce(n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
        |       CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed,
        |       n_members - CAST(coalesce(n_removed, 0) AS BIGINT)
        |         AS n_survivors,
        |       CAST(coalesce(n_removed, 0) AS BIGINT) * 1000000
        |         // n_members AS removed_ppm
        |FROM st LEFT JOIN pc ON st.cell = pc.cell
        |LEFT JOIN rc ON st.cell = rc.cell
        |ORDER BY cell""".stripMargin

  // --------------------------------------------------------------- Q304
  /** MARGIN-BASED PAIR MINING (the CCMatrix / margin-criterion bitext
    * recipe, Artetxe & Schwenk): mine aligned cross-group pairs from
    * the embedding space — for each vector, the nearest neighbor in a
    * DIFFERENT label group counts as a mined pair only when it beats
    * the second-best by a RATIO margin (margin = cos₁/cos₂ ≥ 1.06) and
    * clears an absolute floor (cos₁ ≥ 0.35 — the q22/q303 declared
    * near-dup cutoff, so all three tiers grade one contract). The
    * ratio criterion is the
    * published insight: absolute cosine alone over-mines hubs (vectors
    * near everything); the margin demands the best match STAND OUT
    * from the runner-up. Labels model the source-group axis
    * (languages, crawls, shards); the mined pairs are the
    * translation/near-duplicate candidates a parallel-corpus or
    * cross-source dedup pipeline feeds downstream.
    *
    * Exactness discipline: vectors quantize to the shared round(x·1000)
    * grid, get an exact-integer norm (Σq², BIGINT), and re-quantize to
    * a UNIT-NORM grid un = half-away-from-zero(q · (10⁴/√nrm)) — the
    * rounding spelled as the sign-split floor(|y| + 0.5) and the
    * per-vector scale hoisted to a column, every step a single
    * correctly-rounded IEEE scalar op on identical inputs, so both
    * engines produce the identical integer grid. Every dot of
    * unit-grids is then a sum of integer products bounded by 64·10⁸ —
    * exact in DOUBLE accumulation REGARDLESS of order (all partials
    * < 2⁵³), so the native [[graft.functions.VectorOps.dot]] kernel and
    * DuckDB's list_inner_product agree bit-for-bit and the ranking key
    * (dot DESC, candidate id ASC) is a total order with no float
    * tie-break hazard. margin_ppm = 10⁶·d₁ div d₂ — BIGINT floor-div,
    * no ratio ever floats.
    *
    * Scale shape: candidates come from the SHARED 8-cell IVF index
    * (the q30 stored-model contract — the oracle replays training via
    * [[ivfSqlPrelude]]), so the pair space is the N²/cells
    * within-cell volume, never all-pairs (the q303/SemDeDup dial;
    * within-cell-only candidates are the method's documented recall
    * boundary exactly as the ANN-backed published pipeline). One
    * data-sized exchange keys the self-join on cell; the top-2 window
    * partitions per query vector over candidate-sized rows; output is
    * label-pair-sized. */
  private[graft] def q304Assigned(s: SparkSession, d: String) =
    ivfModelFor(s, d, 8).assigned

  private[graft] def q304Un(s: SparkSession, d: String) = {
    val lab = t(s, d, "embeddings").select(col("vec_id"), col("label"))
    q304Assigned(s, d)
      .join(lab, Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("label"),
        expr("transform(__v, x -> CAST(round(x * 1000) AS BIGINT))").as("q"))
      .withColumn("nrm", expr("aggregate(q, 0L, (a, x) -> a + x * x)"))
      .filter(col("nrm") > 0)
      // the per-vector scale hoists OUT of the lambda and rounding is
      // the sign-split floor (floor(|y| + 0.5) with the sign restored =
      // half-away-from-zero, spelled identically in the oracle):
      // Spark's `round` on DOUBLE allocates a BigDecimal per element
      // and the outer-column sqrt re-evaluates per element — measured
      // 0.69 → 0.28 s for this one transform at sf0.1
      .withColumn("sc", lit(10000.0) / sqrt(col("nrm").cast("double")))
      .select(col("cell"), col("vec_id"), col("label"), expr(
        """CAST(transform(q, x ->
          |  CASE WHEN x < 0 THEN -floor(-CAST(x AS DOUBLE) * sc + 0.5)
          |       ELSE floor(CAST(x AS DOUBLE) * sc + 0.5) END)
          |AS ARRAY<DOUBLE>)""".stripMargin)
        .as("un"))
  }

  private[graft] def q304Cand(s: SparkSession, d: String) = {
    // pinned: the unit-grid relation is vectors-sized and BOTH join
    // sides read it — unpinned, the a-side and the broadcast side each
    // replay the HOF quantize/normalize lambdas (measured 0.72 s of a
    // 2.0 s wall, twice)
    val un = graft.core.Pins.pin(q304Un(s, d))
    un.as("a").join(broadcast(un.as("b")),
        col("a.cell") === col("b.cell") &&
          col("a.label") =!= col("b.label") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("a.label").as("la"),
        col("b.vec_id").as("cid"), col("b.label").as("lb"),
        graft.functions.VectorOps.dot(col("a.un"), col("b.un"))
          .cast("long").as("dot"))
    // deliberately NO dot > 0 filter here: Catalyst would push it INTO
    // the join condition and evaluate the dot kernel a second time per
    // probed pair (seen in the formatted plan; ~2× the kernel cost).
    // Ranking negatives is harmless: they sort below every positive,
    // and a non-positive d1 or d2 can never clear the margin/floor
    // gates (Spark's `div` by 0 yields NULL → filtered), so the mined
    // set is identical to the oracle's positives-only window.
  }

  val q304: Q = (s, d) => {
    // Candidate side BROADCAST: the un relation is vectors × 65 doubles
    // — index-sized here, and the broadcast removes the cell-keyed
    // shuffle join whose 8 cell-partitions would cap the dot-product
    // stage at 8 of 32 cores (measured: 1.70 s shuffle-join form →
    // 0.9 s broadcast form; at corpus scale the √N-cells discipline
    // makes the cell-keyed shuffle join the right side of this dial).
    // Dots run through the native codegen kernel scan-side; the top-2
    // selection is ONE slim (qid, cid, lb, dot) exchange into a per-qid
    // window — candidate-sized, the only shuffle in the plan. (Two
    // alternatives measured and rejected: a typed top-2 aggregator
    // bills the Seq buffer encoder per candidate, 2.6 s; a pinned
    // two-pass max-struct pays the 2.8M-row checkpoint write, 2.3 s.)
    val cand = q304Cand(s, d)
    val top = cand
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("dot").desc, col("cid").asc)))
      .filter(col("rn") <= 2)
      .groupBy(col("qid"), col("la"))
      .agg(
        max(when(col("rn") === 1, struct(col("dot"), col("lb")))).as("t1"),
        max(when(col("rn") === 2, col("dot"))).as("d2"))
      .filter(col("d2").isNotNull)
      .select(col("la"), col("t1.lb").as("lb"),
        expr("t1.dot * 1000000 div d2").as("margin_ppm"),
        col("t1.dot").as("d1"))
      .filter(col("margin_ppm") >= 1060000L && col("d1") >= 35000000L)
    top.groupBy(col("la"), col("lb"))
      .agg(count(lit(1)).as("n_mined"),
        sum(col("margin_ppm")).as("sum_margin_ppm"),
        max(col("margin_ppm")).as("max_margin_ppm"))
      .select(col("la").as("lang_a"), col("lb").as("lang_b"),
        col("n_mined"), col("sum_margin_ppm"), col("max_margin_ppm"))
      .orderBy(col("lang_a"), col("lang_b"))
  }

  val q304Sql: String =
    ivfSqlPrelude(nCells = 8, sampleN = 256, iters = 2) + ",\n" +
      """lab AS (SELECT vec_id, label FROM embeddings),
        |qn AS (SELECT c.vec_id, c.cell, l.label,
        |         list_transform(c.v, x -> CAST(round(x * 1000) AS BIGINT)) AS q
        |       FROM cells c JOIN lab l ON l.vec_id = c.vec_id),
        |qv AS (SELECT vec_id, cell, label, q,
        |         CAST(list_inner_product(q, q) AS BIGINT) AS nrm
        |       FROM qn),
        |sc AS (SELECT vec_id, cell, label, q,
        |         10000.0 / sqrt(CAST(nrm AS DOUBLE)) AS sc
        |       FROM qv WHERE nrm > 0),
        |un AS (SELECT vec_id, cell, label,
        |         list_transform(q, x ->
        |           CASE WHEN x < 0 THEN -floor(-CAST(x AS DOUBLE) * sc + 0.5)
        |                ELSE floor(CAST(x AS DOUBLE) * sc + 0.5) END) AS un
        |       FROM sc),
        |cand AS (SELECT a.vec_id AS qid, a.label AS la,
        |           b.vec_id AS cid, b.label AS lb,
        |           CAST(list_inner_product(a.un, b.un) AS BIGINT) AS dot
        |         FROM un a JOIN un b ON a.cell = b.cell
        |           AND a.label <> b.label AND a.vec_id <> b.vec_id),
        |pos AS (SELECT * FROM cand WHERE dot > 0),
        |rk AS (SELECT qid, la, lb, dot,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY dot DESC, cid) AS rn
        |       FROM pos),
        |top AS (SELECT qid, la,
        |          max(CASE WHEN rn = 1 THEN dot END) AS d1,
        |          max(CASE WHEN rn = 1 THEN lb END) AS lb,
        |          max(CASE WHEN rn = 2 THEN dot END) AS d2
        |        FROM rk WHERE rn <= 2 GROUP BY qid, la),
        |m AS (SELECT la, lb, d1 * 1000000 // d2 AS margin_ppm, d1
        |      FROM top WHERE d2 IS NOT NULL),
        |f AS (SELECT la, lb, margin_ppm FROM m
        |      WHERE margin_ppm >= 1060000 AND d1 >= 35000000)
        |SELECT la AS lang_a, lb AS lang_b,
        |       CAST(count(*) AS BIGINT) AS n_mined,
        |       CAST(sum(margin_ppm) AS BIGINT) AS sum_margin_ppm,
        |       CAST(max(margin_ppm) AS BIGINT) AS max_margin_ppm
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
