package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair encoding as declarative dataflow — the real tokenizer
  * train/encode step of a training-data pipeline (beyond the BPE-ish
  * regex of q26).
  *
  * Representation: a word's symbol sequence is a STRING with every
  * symbol wrapped in parentheses — "hello" → "(h)(e)(l)(l)(o)" — so
  * one BPE merge (a, b) → ab is a plain LITERAL replace of "(a)(b)"
  * with "(ab)": unambiguous (the wrapper means a pattern can never
  * match inside a longer symbol) and with identical left-to-right
  * non-overlapping semantics in the JVM and the DuckDB oracle. This is
  * the classic space-joined-symbols formulation of the published BPE
  * algorithm, with parens instead of spaces because corpus tokens are
  * split ON spaces.
  *
  * Training runs on the WORD-FREQUENCY relation — vocabulary-sized, a
  * model not a corpus — so the loop is the ivfModel shape: one corpus
  * scan builds the table, each merge round is a pair-count aggregate
  * plus a one-row collect (the chosen pair), and the chosen merge
  * applies as a replace over the word table. Encoding at any scale is
  * a scan-local chain of replaces (no shuffle, no UDF).
  */
object Bpe {

  /** A chosen merge: symbols `a` + `b` fused, with the pair's corpus
    * frequency at selection time. */
  case class Merge(a: String, b: String, freq: Long)

  /** "(h)(e)(l)(l)(o)" from "hello". */
  def symbolize(word: Column): Column =
    regexp_replace(word, "(.)", raw"($$1)")

  /** The corpus word-frequency relation: (ws = symbolized word, n).
    * Words containing the representation's reserved characters — the
    * '(' ')' symbol wrappers or the '!' pair-key separator — are
    * excluded up front: a reserved character inside a symbol would
    * corrupt symbol boundaries (silently) or the pair-key split
    * (loudly, mid-training). Real tokenizers pre-normalize exactly
    * this way; the q72/q73 oracles apply the identical filter. */
  def wordFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0 && !col("w").rlike("[()!]"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(symbolize(col("w")).as("ws"), col("n"))

  /** The symbol array of a wrapped string: "(a)(bc)" → [a, bc]. */
  def symbols(ws: Column): Column =
    split(regexp_replace(ws, raw"^\(|\)$$", ""), raw"\)\(")

  /** Adjacent-pair keys of a wrapped string, joined with '!' — a
    * separator ordered BELOW every corpus symbol character, so the
    * lexicographic tie-break on the joined key equals the (a, b) tuple
    * order in both engines. */
  def pairKeys(ws: Column): Column = {
    val s = symbols(ws)
    when(size(s) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(s) - 1),
        i => concat(element_at(s, i), lit("!"), element_at(s, i + 1))))
  }

  /** One literal-replace merge application. */
  def applyMerge(ws: Column, a: String, b: String): Column =
    regexp_replace(ws, // literal semantics via quoting — no regex metachars live
      java.util.regex.Pattern.quote(s"($a)($b)"),
      java.util.regex.Matcher.quoteReplacement(s"($a$b)"))

  /** Chain of merges applied in training order. */
  def applyMerges(ws: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(ws) { case (c, m) => applyMerge(c, m.a, m.b) }

  /** Symbol count of a wrapped string — the token count after encode:
    * one '(' per symbol. */
  def tokenCount(ws: Column): Column =
    (length(ws) - length(regexp_replace(ws, raw"\(", ""))).cast("long")

  /** Train `k` merges: each round counts adjacent pairs over the word
    * table (weighted by word frequency), picks the most frequent (ties
    * → lexicographically smallest joined key), and applies it. The
    * collect per round is ONE row — the model update. */
  def train(docs: DataFrame, k: Int, textCol: String = "text"): Seq[Merge] = {
    var words = wordFreq(docs, textCol).localCheckpoint()
    val out = Seq.newBuilder[Merge]
    var i = 0
    var exhausted = false
    while (i < k && !exhausted) {
      val top = words
        .select(explode(pairKeys(col("ws"))).as("p"), col("n"))
        .groupBy(col("p")).agg(sum(col("n")).as("f"))
        .orderBy(col("f").desc, col("p"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val Array(a, b) = top.head.getString(0).split('!')
        out += Merge(a, b, top.head.getLong(1))
        words = words
          .select(applyMerge(col("ws"), a, b).as("ws"), col("n"))
          .localCheckpoint() // k rounds: truncate lineage, model-sized table
      }
      i += 1
    }
    out.result()
  }

  /** Train `k` merges DRIVER-LOCALLY on the collected word-frequency
    * table — the architecture every production tokenizer trainer uses
    * (Sennrich's reference implementation, HF tokenizers,
    * SentencePiece): the CORPUS-sized work is the one distributed scan
    * that builds word counts; the merge loop itself touches only the
    * vocabulary-sized model, so it runs as in-memory incremental
    * updates instead of one Spark job per merge. This removes the
    * training family's only scale ceiling — [[train]]'s driver-
    * sequenced loop pays ~50-85 ms of scheduling per merge (42 min of
    * pure latency at a 30 k vocabulary) no matter how large the
    * cluster; here a merge is microseconds after the one-time collect
    * (k = 300 on the sf0.1 corpus: 0.23 s in total against ≈ 184 ms
    * per merge sequentially, SURVEY q72).
    *
    * The collect is MODEL-sized, not corpus-sized (the q30/q74 policy):
    * |distinct words| is bounded by vocabulary growth, not corpus rows
    * — Heaps' law keeps it ≲ 10⁷ at 100 TB after the standard min-
    * frequency prune (`minFreq`, default 1 = exact), i.e. a few hundred
    * MB of driver memory, same class as the PQ codebooks.
    *
    * EXACT: merge list identical to [[train]] by construction —
    * same count semantics (per-occurrence, word-frequency-weighted),
    * same tie-break (freq desc, then the '!'-joined pair key in UTF-8
    * BYTE order — Spark's string sort order, NOT Java's UTF-16
    * `compareTo`, which diverges on supplementary characters), same
    * left-to-right non-overlapping merge application, same exhaustion
    * stop. Selection is a lazy-deletion heap (stale entries popped on
    * sight), updates touch only words containing the merged pair.
    * Spec-pinned merge-list-identical to [[train]] on the fixture
    * corpus and under property-tested random corpora. */
  def trainLocal(docs: DataFrame, k: Int, textCol: String = "text",
                 minFreq: Long = 1L): Seq[Merge] = {
    val rows = wordFreq(docs, textCol).filter(col("n") >= minFreq).collect()
    // parse "(h)(e)(llo)" → ["h","e","llo"]; parens can't occur inside
    // symbols (wordFreq's reserved-character filter)
    val words = new Array[Array[String]](rows.length)
    val freq = new Array[Long](rows.length)
    var wi = 0
    while (wi < rows.length) {
      val ws = rows(wi).getString(0)
      words(wi) = ws.substring(1, ws.length - 1).split("\\)\\(", -1)
      freq(wi) = rows(wi).getLong(1)
      wi += 1
    }
    // UTF-8 byte order of the '!'-joined key = Spark's orderBy on it
    def keyLess(x: (String, String), y: (String, String)): Boolean = {
      val a = (x._1 + "!" + x._2).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = (y._1 + "!" + y._2).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < a.length && i < b.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val homes = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def addOcc(p: (String, String), w: Int, n: Long): Unit = {
      counts.updateWith(p) { c => Some(c.getOrElse(0L) + n) }
      homes.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += w
    }
    wi = 0
    while (wi < words.length) {
      val s = words(wi)
      var i = 0
      while (i + 1 < s.length) { addOcc((s(i), s(i + 1)), wi, freq(wi)); i += 1 }
      wi += 1
    }
    // lazy-deletion max-heap of (count-at-push, pair): a popped entry is
    // live iff its count still matches the map (stale snapshots skipped)
    val heap = new java.util.PriorityQueue[(Long, (String, String))](
      math.max(counts.size, 16),
      (u: (Long, (String, String)), v: (Long, (String, String))) =>
        if (u._1 != v._1) java.lang.Long.compare(v._1, u._1)
        else if (u._2 == v._2) 0
        else if (keyLess(u._2, v._2)) -1 else 1)
    counts.foreach { case (p, c) => heap.add((c, p)) }
    val out = Seq.newBuilder[Merge]
    var made = 0
    var exhausted = false
    while (made < k && !exhausted) {
      var pick: (String, String) = null
      var f = 0L
      while (pick == null && !heap.isEmpty) {
        val (c, p) = heap.poll()
        if (counts.get(p).contains(c) && c > 0) { pick = p; f = c }
      }
      if (pick == null) exhausted = true
      else {
        val (a, b) = pick
        out += Merge(a, b, f)
        made += 1
        val ab = a + b
        val affected = homes.getOrElse(pick, scala.collection.mutable.Set.empty)
        val changed = scala.collection.mutable.Set.empty[(String, String)]
        affected.toArray.foreach { w =>
          val olds = words(w)
          val n = freq(w)
          // retract the word's old adjacent-pair occurrences
          var i = 0
          while (i + 1 < olds.length) {
            val p = (olds(i), olds(i + 1))
            counts.updateWith(p)(c => Some(c.getOrElse(0L) - n))
            homes.get(p).foreach(_ -= w)
            changed += p
            i += 1
          }
          // left-to-right non-overlapping merge (regexp_replace semantics)
          val nb = scala.collection.mutable.ArrayBuffer.empty[String]
          i = 0
          while (i < olds.length) {
            if (i + 1 < olds.length && olds(i) == a && olds(i + 1) == b) {
              nb += ab; i += 2
            } else { nb += olds(i); i += 1 }
          }
          val news = nb.toArray
          words(w) = news
          i = 0
          while (i + 1 < news.length) {
            val p = (news(i), news(i + 1))
            addOcc(p, w, n)
            changed += p
            i += 1
          }
        }
        changed.foreach { p =>
          val c = counts.getOrElse(p, 0L)
          if (c <= 0) { counts.remove(p); homes.remove(p) }
          else heap.add((c, p))
        }
      }
    }
    out.result()
  }
}
