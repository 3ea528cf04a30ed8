package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Parameterized MinHash + LSH near-duplicate detection.
  *
  * `bands` × `rowsPerBand` minhash components; two documents become a
  * candidate pair iff SOME band's component vector matches exactly, so
  * the candidate probability follows the S-curve
  * `P(s) = 1 − (1 − s^r)^b` ([[collisionProbability]]) with its steep
  * step near `(1/b)^(1/r)` ([[sCurveThreshold]]): more bands catch
  * lower-similarity pairs (recall↑, candidates↑), more rows per band
  * sharpen the cutoff. Candidates are then verified by EXACT Jaccard
  * over hashed shingle sets, so parameters trade recall/cost only —
  * never precision.
  *
  * Scale shape: signature computation is one embarrassingly-parallel
  * scan; the band join shuffles on the band key only, confining the
  * quadratic blowup to same-band buckets. Signatures ride THROUGH the
  * band shuffle to the verify step (computed once, no cached plan, no
  * second corpus scan) — at 100 TB they are precomputed ingest columns
  * and the band join is the whole query.
  */
object MinHashLsh {

  /** P[some band fully collides] for true Jaccard `s`: 1 − (1 − s^r)^b. */
  def collisionProbability(s: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)

  /** The S-curve's steep point ≈ (1/b)^(1/r): pairs above it are likely
    * candidates, below it likely skipped. */
  def sCurveThreshold(bands: Int, rowsPerBand: Int): Double =
    math.pow(1.0 / bands, 1.0 / rowsPerBand)

  /** All (a_id < b_id) pairs among LSH candidates whose exact Jaccard
    * (over distinct word `shingleN`-grams) rounds to ≥ `minJaccard`.
    * `docs` needs columns (doc_id, text). Output: (a_id, b_id, jac).
    *
    * Plan shape (see [[nearDupFromSignatures]]): slim band-key self-join
    * for candidates, signature re-join for exact verify. Documents with
    * EMPTY shingle sets — which would otherwise all share one degenerate
    * null-minhash band key — are filtered up front (an empty set has
    * Jaccard 0 with everything, so they can never reach the output).
    */
  def nearDup(docs: DataFrame, bands: Int, rowsPerBand: Int, shingleN: Int,
              minJaccard: Double): DataFrame = {
    // Small-input convenience: a single-file corpus would otherwise run
    // the whole signature kernel scan in ONE task (file-split = scan
    // parallelism). Spread it round-robin first — the exchange is
    // reused by every downstream consumer, so the text shuffles once.
    // At warehouse scale inputs arrive in thousands of splits and this
    // branch is a no-op (no extra shuffle of the text column).
    // The decision reads `inputFiles` — file-listing METADATA off the
    // analyzed plan — not `docs.rdd`, which would force physical
    // planning of the input on the driver during query construction.
    // Non-file inputs (in-memory test relations) report zero files and
    // are left alone: LocalTableScan already spreads its rows.
    val spread = spreadSmallInput(docs)
    val sh = TextOps.shinglesNative(col("text"), shingleN)
    // Fused band-key kernel: minhash family computed ONCE per row even
    // under the explode (GenerateExec does no subexpression
    // elimination, so building the key array from a minhash column
    // expression would re-run the md5 family per key component).
    val slim = spread.select(col("doc_id"),
      explode(TextOps.bandKeysNative(sh, bands, rowsPerBand)).as("bk"))
    val shh = spread.select(col("doc_id"),
      array_sort(array_distinct(transform(sh, x => xxhash64(x)))).as("shh"))
    candidateVerify(slim, shh, minJaccard)
  }

  /** Round-robin spread for SINGLE-SPLIT inputs feeding a per-row
    * kernel (r14, extracted from [[nearDup]] so sibling queries can
    * reuse it): a single-file corpus runs the whole kernel scan in ONE
    * task (file-split = scan parallelism; the fixture tables are
    * single-row-group parquet, unsplittable below one task). Spread it
    * round-robin first — the exchange is reused by every downstream
    * consumer, so the payload shuffles once. At warehouse scale inputs
    * arrive in thousands of splits and this is a no-op (no extra
    * shuffle). The decision reads `inputFiles` — file-listing METADATA
    * off the analyzed plan — not `docs.rdd`, which would force physical
    * planning on the driver during query construction. Non-file inputs
    * (in-memory test relations) report zero files and are left alone. */
  def spreadSmallInput(docs: DataFrame): DataFrame = {
    val sc = docs.sparkSession.sparkContext
    val nFiles = docs.inputFiles.length
    if (nFiles > 0 && nFiles < sc.defaultParallelism)
      docs.repartition(sc.defaultParallelism)
    else docs
  }

  /** Ingest-time signature computation: `(doc_id, shh ARRAY<LONG>,
    * mh ARRAY<STRING>)` — the hashed shingle set (exact-verify carrier)
    * and the minhash family. At 100 TB these are computed ONCE at ingest
    * and stored as table columns next to the text;
    * [[nearDupFromSignatures]] then runs candidate generation + verify
    * without ever touching the text again. Native fused kernels for the
    * hot scan: WordShingles makes one pass over the string (the HOF
    * stack re-evaluated its captured split() once per shingle position —
    * quadratic in document length) and MinHashes computes the whole
    * family with one reused digest per row; both are property-tested
    * bit-equal to the HOF formulations, so the DuckDB oracle is
    * untouched. Empty-shingle docs carry a NULL `mh` (Jaccard 0 with
    * everything; a literal minhash would give them all one degenerate
    * shared band key) — [[nearDupFromSignatures]] drops null signatures
    * before the band explode. Encoding emptiness in the value instead
    * of a `filter(size(sh) > 0)` keeps the whole computation in ONE
    * Project, where codegen subexpression elimination evaluates the
    * shingle kernel once per row; a filter's predicate would be pushed
    * into the scan stage and re-evaluate it per operator. */
  def signatures(docs: DataFrame, numHashes: Int, shingleN: Int): DataFrame = {
    val sh = TextOps.shinglesNative(col("text"), shingleN)
    docs.select(col("doc_id"),
      array_sort(array_distinct(transform(sh, x => xxhash64(x)))).as("shh"),
      when(size(sh) > 0, TextOps.minhashesNative(sh, numHashes)).as("mh"))
  }

  /** Candidate generation + exact verify over precomputed signatures
    * (schema per [[signatures]]); `bands * rowsPerBand` must not exceed
    * the stored family size.
    *
    * Plan shape: SLIM band join. Candidate generation self-joins
    * `(band_key, doc_id)` rows only — Catalyst prunes `shh` off both
    * band sides and `mh` off both verify sides, and the two band-side
    * (and two verify-side) exchanges canonicalize identically, so
    * ReusedExchange makes each projection of the signature scan run
    * once. A band bucket of k members streams its ~k²/2 pairs out of
    * the sort-merge join, whose matched-key buffer spills to disk above
    * `spark.sql.sortMergeJoinExec.buffer.spill.threshold` — so even a
    * DEGENERATE bucket (every document identical, all N ids under one
    * band key) runs with bounded task memory, where an aggregation that
    * `collect_list`ed whole buckets would hold one N-member buffer (and
    * N full signature arrays) in a single task. The output of such a
    * flood is inherently quadratic (all pairs really are near-dups);
    * what the slim join guarantees is that memory is NOT.
    *
    * The strict `a.doc_id < b.doc_id` join condition also makes
    * duplicate doc_ids in the input safe: two rows sharing an id can
    * never emit an `a_id == b_id` pair, matching the tiled kernels'
    * `aId != bId` guard. Pairs colliding in several bands are deduped
    * BEFORE the verify join, so each candidate pair fetches its two
    * signatures exactly once.
    */
  def nearDupFromSignatures(sig: DataFrame, bands: Int, rowsPerBand: Int,
                            minJaccard: Double): DataFrame =
    candidateVerify(bandTable(sig, bands, rowsPerBand),
      sig.select(col("doc_id"), col("shh")), minJaccard)

  /** The slim `(doc_id, bk)` band table from precomputed signatures —
    * the 100 TB STORED layout: materialized at ingest and written
    * `bucketBy(n, "bk").sortBy("bk")`, so every subsequent near-dup
    * run's candidate self-join reads co-located, pre-sorted buckets and
    * plans with ZERO Exchange (see [[nearDupFromBands]]; MinHashLshSpec's
    * "bucketed band table … zero bk-Exchange" test pins the plan on
    * stored data). Stored `mh` is a plain column, so per-component
    * getItem references are cheap (unlike the from-text path, where the
    * fused band-key kernel avoids re-running the md5 family under the
    * explode). explode(null) emits nothing, so null-mh (empty-shingle)
    * docs never enter a bucket. */
  def bandTable(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandKeys = array((0 until bands).map { b =>
      concat_ws("|", lit(b.toString) +:
        (0 until rowsPerBand).map(r => col("mh").getItem(b * rowsPerBand + r)): _*)
    }: _*)
    // a family smaller than bands×rowsPerBand would read null components
    // and concat_ws SKIPS nulls — every doc would share the degenerate
    // keys "b|", turning the candidate self-join into a silent N×N
    // cross product (verify keeps output correct, cost explodes). Fail
    // the row loudly instead; the condition folds to a constant per
    // stored family size.
    val guarded = when(size(col("mh")) >= bands * rowsPerBand, bandKeys)
      .otherwise(raise_error(concat(
        lit(s"bandTable: bands*rowsPerBand = ${bands * rowsPerBand} " +
          "exceeds stored minhash family size "), size(col("mh")).cast("string"))))
    sig.select(col("doc_id"),
      explode(when(col("mh").isNotNull, guarded)).as("bk"))
  }

  /** Candidate generation + exact verify from a STORED band table
    * (`(doc_id, bk)`, as produced by [[bandTable]]) and the signature
    * table. When `bands` was written bucketed+sorted by `bk`, the
    * candidate self-join consumes the bucket layout directly — no
    * Exchange on either side — which is the recurring-run shape at
    * 100 TB: band keys computed once at ingest, every dedup run after
    * that is bucket-local. */
  def nearDupFromBands(bands: DataFrame, sig: DataFrame,
                       minJaccard: Double): DataFrame =
    candidateVerify(bands, sig.select(col("doc_id"), col("shh")), minJaccard)

  /** INCREMENTAL ingest dedup — the production shape: a new batch
    * checked against the STORED corpus, not a self-join. Candidates are
    * `newSig`'s band keys equi-joined against `storedSig`'s (disjoint
    * id spaces assumed — batch ids are new by construction); exact
    * Jaccard verifies. Output `(new_id, dup_of, jac)`: every stored
    * document the new one near-duplicates.
    *
    * Scale shape: the stored side at 100 TB is the bucketed band table
    * ([[bandTable]], written `bucketBy(bk)` at ingest) — then only the
    * BATCH's slim band rows shuffle (4 rows per new doc) while the
    * corpus side reads bucket-local, and AQE broadcasts the deduped
    * candidate set into the two signature verify joins. Per-batch cost
    * is proportional to the batch, independent of corpus size.
    */
  def nearDupAgainst(newSig: DataFrame, storedSig: DataFrame,
                     bands: Int, rowsPerBand: Int,
                     minJaccard: Double): DataFrame = {
    val cands = bandTable(newSig, bands, rowsPerBand).as("a")
      .join(bandTable(storedSig, bands, rowsPerBand).as("b"),
        col("a.bk") === col("b.bk"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("dup_of"))
      .distinct()
    verifyAgainst(cands, newSig, storedSig, minJaccard)
  }

  /** [[nearDupAgainst]] with the stored side's band keys read from the
    * STORED BUCKETED BAND TABLE instead of recomputed from signatures —
    * the steady-state shape of the streaming corpus ingester. The
    * batch's band keys are hint-broadcast (a micro-batch's slim
    * (doc_id, bk) rows are small by the trigger's construction), so the
    * stored band table streams through its bucket layout with ZERO
    * band-key Exchange on either side — per-batch shuffle work is
    * candidate/verify-sized, never corpus-sized (plan-asserted by
    * CorpusIngestSpec's "bucketed band table: … zero band-key Exchange
    * vs store" test). Verify reads `storedSig` with the
    * candidate set AQE-broadcast into it, as in [[nearDupAgainst]]. */
  def nearDupAgainstBands(newSig: DataFrame, storedBands: DataFrame,
                          storedSig: DataFrame,
                          bands: Int, rowsPerBand: Int,
                          minJaccard: Double): DataFrame = {
    val cands = broadcast(bandTable(newSig, bands, rowsPerBand)).as("a")
      .join(storedBands.as("b"), col("a.bk") === col("b.bk"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("dup_of"))
      .distinct()
    verifyAgainst(cands, newSig, storedSig, minJaccard)
  }

  /** Shared exact-Jaccard verify of batch-vs-store candidates. */
  private def verifyAgainst(cands: DataFrame, newSig: DataFrame,
                            storedSig: DataFrame,
                            minJaccard: Double): DataFrame =
    cands
      .join(newSig.select(col("doc_id").as("new_id"), col("shh").as("sha")), "new_id")
      .join(storedSig.select(col("doc_id").as("dup_of"), col("shh").as("shb")), "dup_of")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac", round(col("common").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("common")), 4))
      .filter(col("jac") >= minJaccard)
      .select(col("new_id"), col("dup_of"), col("jac"))
      .dropDuplicates("new_id", "dup_of") // duplicate-id tolerance, as in candidateVerify

  /** Shared candidate-generation + exact-verify tail: slim band-key
    * self-join → pair dedup → signature re-join → exact Jaccard.
    * `slim` is (doc_id, bk); `shh` is (doc_id, shh).
    *
    * The band self-join carries a `merge` hint: broadcasting a whole
    * corpus's band keys is never right, the two sides' shuffle
    * Exchanges canonicalize identically (AQE materializes the stage
    * once and reuses it), and sort-merge's spillable matched-key
    * buffer is what bounds degenerate-bucket memory. The verify joins
    * are deliberately UNhinted: after dedup the candidate set is
    * usually tiny relative to the corpus, so AQE broadcasts it (no
    * shuffle of the signature table at all) — and when a flood makes
    * candidates huge, AQE sees the real size and falls back to a
    * shuffle join on its own.
    */
  private def candidateVerify(slim: DataFrame, shh: DataFrame,
                              minJaccard: Double): DataFrame = {
    val cands = slim.as("a").hint("merge")
      .join(slim.as("b").hint("merge"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    cands
      .join(shh.select(col("doc_id").as("a_id"), col("shh").as("sha")), "a_id")
      .join(shh.select(col("doc_id").as("b_id"), col("shh").as("shb")), "b_id")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac", round(col("common").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("common")), 4))
      .filter(col("jac") >= minJaccard)
      .select(col("a_id"), col("b_id"), col("jac"))
      // Duplicate doc_ids in the INPUT fan out the signature joins (one
      // verify row per signature-row combination); contract is one row
      // per pair. Deduping the small RESULT set here costs one exchange
      // of the near-dup pairs only — deduping the shh side instead would
      // shuffle the whole signature table and defeat AQE's broadcast of
      // the candidate set.
      .dropDuplicates("a_id", "b_id")
  }
}
