package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale probe: replicates sf0.1 tables in /tmp with shifted keys
  * and times the heavy operators, to check growth is ~linear where the
  * design claims it (LSH near-dup, aggregation) — evidence for the
  * SURVEY §6 scale notes.
  */
/** Synthetic per-URL payload fetcher for the manifest probe — top-level
  * object so task closures don't capture probe-local state. Payloads
  * are unique per URL, so dedup keeps everything. */
object ScaleProbeFetcher extends graft.plans.Fetcher {
  def fetch(url: String): Array[Byte] = ("payload:" + url).getBytes("UTF-8")
}

object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(32,
      Map("spark.sql.warehouse.dir" -> "/tmp/graft_probe_warehouse"))
    // the warehouse is probe-owned scratch: a previous run's managed-table
    // directories are orphans to this session's in-memory catalog, and
    // saveAsTable(overwrite) refuses to claim an existing location
    locally {
      val wh = new org.apache.hadoop.fs.Path("/tmp/graft_probe_warehouse")
      wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    }
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val out = "/tmp/graft_sf1x"
    def rep(name: String, key: String, n: Int): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val maxKey = base.agg(org.apache.spark.sql.functions.max(col(key))).head().getLong(0) + 1
      (0 until n).map(i => base.withColumn(key, col(key) + lit(i * maxKey)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    rep("documents", "doc_id", 10)
    rep("embeddings", "vec_id", 10)
    // orders + lineitem replicate on a SHARED orderkey base so the
    // FK survives (the star-join probes need facts that still join);
    // dimensions are copied as-is — the realistic scale path grows
    // facts while customer/supplier/nation/region stay dimension-sized
    locally {
      val ordBase = spark.read.parquet(s"$src/orders.parquet")
      val liBase = spark.read.parquet(s"$src/lineitem.parquet")
      val shift = ordBase.agg(org.apache.spark.sql.functions.max(col("o_orderkey")))
        .head().getLong(0) + 1
      (0 until 10).map(i => ordBase.withColumn("o_orderkey", col("o_orderkey") + lit(i * shift)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      (0 until 10).map(i => liBase.withColumn("l_orderkey", col("l_orderkey") + lit(i * shift)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      for (tn <- Seq("customer", "supplier", "nation", "region", "part"))
        spark.read.parquet(s"$src/$tn.parquet")
          .write.mode("overwrite").parquet(s"$out/$tn.parquet")
    }
    // events replicate with shifted ids but the SAME 30-day span (10×
    // density — the densification the temporal/stat/mining probes care
    // about); shared setup, so it lives with the other replications
    locally {
      val base = graft.core.Tables.load(spark, src, "events")
      val maxKey = base.agg(org.apache.spark.sql.functions.max(col("event_id")))
        .head().getLong(0) + 1
      (0 until 10).map(i => base.withColumn("event_id", col("event_id") + lit(i * maxKey)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    // optional arg: comma-separated probe-label prefixes — run only the
    // matching probes (the Verify/Bench fast-iteration contract; the
    // driver's full run passes no args). Table replication always runs;
    // each block's heavy SETUP is gated on its own labels via want(...),
    // so a targeted rerun pays only its block's cost.
    val only = args.headOption.map(_.split(',').toSeq)
    def want(labels: String*): Boolean =
      only.forall(ps => ps.exists(p => labels.exists(_.startsWith(p))))
    def time(label: String)(f: => Long): Unit = if (want(label.trim)) {
      val t0 = System.nanoTime(); val n = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    import graft.queries.{CoreQueries, PipelineQueries}
    // warmup on the small side
    if (want("q19_lsh_neardup", "q11_tpch_pricing")) {
      PipelineQueries.q19(spark, src).count()
      CoreQueries.q11(spark, src).count()
    }
    time("q19_lsh_neardup sf0.1   (5k docs) ")(PipelineQueries.q19(spark, src).count())
    time("q19_lsh_neardup sf1.0  (50k docs) ")(PipelineQueries.q19(spark, out).count())
    time("q11_tpch_pricing sf0.1 (600k rows)")(CoreQueries.q11(spark, src).count())
    time("q11_tpch_pricing sf1.0   (6M rows)")(CoreQueries.q11(spark, out).count())
    time("q23_ann_lsh sf0.1      (5k vecs)  ")(PipelineQueries.q23(spark, src).count())
    time("q23_ann_lsh sf1.0     (50k vecs)  ")(PipelineQueries.q23(spark, out).count())
    // --- PQ tier: training is sample-bounded (flat at any N); encode is
    // a scan-local argmin over centroid literals (no exchange); ADC
    // search reads the m-byte codes, not the vectors, into a
    // TakeOrderedAndProject. All three should grow ~linearly in rows
    // with flat per-row cost at 10×.
    time("q74_pq_codes sf0.1     (5k vecs)  ")(PipelineQueries.q74(spark, src).count())
    time("q74_pq_codes sf1.0    (50k vecs)  ")(PipelineQueries.q74(spark, out).count())
    time("q75_pq_ann sf0.1       (5k vecs)  ")(PipelineQueries.q75(spark, src).count())
    time("q75_pq_ann sf1.0      (50k vecs)  ")(PipelineQueries.q75(spark, out).count())
    // batch kNN join: candidate pairs total N²/cells, so the production
    // dial holds N/cells constant as the corpus grows — 64 cells at 50k
    // matches sf0.1's per-cell density (fixed 8 cells at 10× rows was
    // measured at 100× pair work: 143 s)
    time("q76_knn_join sf0.1  (5k, 8 cells) ")(PipelineQueries.q76(spark, src).count())
    time("q76_knn_join sf1.0 (50k, 64 cells)")(
      graft.functions.VectorOps.knnJoin(
        graft.functions.VectorOps.ivfModel(
          spark.read.parquet(s"$out/embeddings.parquet"),
          "vec_id", "embedding", nCells = 64).assigned,
        "vec_id", k = 3).count())
    // fuzzy edit-distance-1 matching: deletion-key buckets are bounded by
    // construction (1 + |Σ|·(L+1)), so 10× keys is ~10× bucket count with
    // flat per-bucket work — synthetic distinct names (replicating the
    // sf0.1 table would just duplicate names into the dedup)
    locally {
      import org.apache.spark.sql.functions.format_string
      def names(n: Int) = spark.range(n)
        .select(format_string("Customer#%09d", col("id")).as("c_name"))
      time("q80_fuzzy sf0.1    (15k names)  ")(
        graft.operators.FuzzyJoin.editDistance1Pairs(names(15000), "c_name").count())
      time("q80_fuzzy sf1.0   (150k names)  ")(
        graft.operators.FuzzyJoin.editDistance1Pairs(names(150000), "c_name").count())
      // the d≤2 ball on sequential ids is the operator's adversarial
      // density: 10× rows adds a digit position's worth of neighbors,
      // so PAIR OUTPUT grows superlinearly — the probe documents that
      // the wall tracks the pair volume, not a corpus-quadratic term
      time("q186_fuzzy_d2 sf0.1 (15k names) ")(
        graft.operators.FuzzyJoin.editDistance2Pairs(names(15000), "c_name").count())
      time("q186_fuzzy_d2 sf1.0 (150k names)")(
        graft.operators.FuzzyJoin.editDistance2Pairs(names(150000), "c_name").count())
    }
    // Exact all-pairs tier (TiledSelfJoin): comparisons grow N² by design —
    // the probe here is that 10× data runs AT ALL with flat driver/task
    // memory (pre-tiling these kernels collect()ed the corpus onto the
    // driver) and that tasks spread across all tiles.
    time("q21_ngram_jaccard sf0.1 (5k docs) ")(PipelineQueries.q21(spark, src).count())
    time("q21_ngram_jaccard sf1.0 (50k docs)")(PipelineQueries.q21(spark, out).count())
    time("q22_cosine_pairs sf0.1  (5k vecs) ")(PipelineQueries.q22(spark, src).count())
    time("q22_cosine_pairs sf1.0 (50k vecs) ")(PipelineQueries.q22(spark, out).count())

    // --- stored-artifact tier (round 6): q62/q98/q93/q52 read memoized
    // ingest artifacts (inverted index, IVF cells + PQ codebooks, the
    // co-occurrence edge list, the LSH pair list). BUILD (first call,
    // trains + materializes every artifact the query touches) is
    // corpus-proportional by design; STEADY STATE (every later call) is
    // the declared per-query cost and must track shortlist/iteration
    // work, NOT corpus size — the claim behind the zero-parquet-scan
    // plan audits. Expect steady-state ~flat from 5k to 50k docs for
    // q62/q98; q93/q52 steady state grows with the edge list, not the
    // corpus scan.
    if (want("q62", "q98", "q93", "q52")) locally {
      def clearAll(): Unit = {
        PipelineQueries.clearInvIndexes(); PipelineQueries.clearIvfModels()
        PipelineQueries.clearPqModels(); PipelineQueries.clearPqCodes()
        PipelineQueries.clearCoocPairs(); PipelineQueries.clearLshPairs()
      }
      def buildSteady(label: String, dir: String,
                      q: (SparkSession, String) => DataFrame): Unit = {
        val t0 = System.nanoTime(); q(spark, dir).count()
        val build = (System.nanoTime() - t0) / 1e9
        graft.core.Pins.release()
        val t1 = System.nanoTime(); val n = q(spark, dir).count()
        val steady = (System.nanoTime() - t1) / 1e9
        graft.core.Pins.release()
        println(f"$label build+first $build%5.2f s, steady $steady%5.2f s ($n rows)")
      }
      clearAll()
      buildSteady("q62_bm25 sf0.1          (5k docs) ", src, PipelineQueries.q62)
      buildSteady("q62_bm25 sf1.0         (50k docs) ", out, PipelineQueries.q62)
      buildSteady("q98_rrf  sf0.1          (5k docs) ", src, PipelineQueries.q98)
      buildSteady("q98_rrf  sf1.0         (50k docs) ", out, PipelineQueries.q98)
      buildSteady("q93_pagerank sf0.1      (5k docs) ", src, PipelineQueries.q93)
      // no q93 at sf1.0: 10× REPLICATION saturates every shingle's df
      // past the rare cap (df ≤ 3), so the replicated co-occurrence
      // graph is empty by construction — vacuously fast, not evidence.
      // q52's LSH graph below is the meaningful 10× dedup-graph probe
      // (replica clones pair with each other, so edges GROW at 10×).
      buildSteady("q52_clusters sf0.1      (5k docs) ", src, PipelineQueries.q52)
      buildSteady("q52_clusters sf1.0     (50k docs) ", out, PipelineQueries.q52)
      clearAll() // drop the 50k artifacts before the remaining probes
    }

    // --- degenerate-bucket probe: every document identical, so ALL band
    // keys collide into one bucket (the exact flood a dedup corpus
    // produces). The slim band-key self-join streams the inherently
    // quadratic pair output through a spill-capable sort-merge join, so
    // this completes with bounded task memory — the former collect_list
    // bucketing held all N member signatures in ONE aggregation buffer
    // and exploded N²/2 pairs from a single interpreted expression.
    val flood = spark.range(3000).select(col("id").as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog again and again").as("text"))
    time("q19_flood (3k identical docs)     ")(
      graft.operators.MinHashLsh.nearDup(flood, 4, 2, 3, 0.5).count())

    // --- bucketed-layout probe (the stored 100 TB end state): band keys
    // of the 50k-doc corpus materialized ONCE into a table bucketed and
    // sorted by bk; the recurring near-dup run's candidate self-join
    // then reads co-located buckets — the plan must contain NO Exchange
    // on bk, versus two full shuffles when the same slim table is read
    // unbucketed. This is the shuffle actually disappearing on stored
    // data, not just in BucketingSpec's generic join.
    if (want("q19_bucketed")) {
      import graft.operators.MinHashLsh
      val docs10 = spark.read.parquet(s"$out/documents.parquet")
      val sig = MinHashLsh.signatures(docs10, 8, 3)
      sig.select("doc_id", "shh").write.mode("overwrite")
        .saveAsTable("probe_shh")
      MinHashLsh.bandTable(sig, 4, 2)
        .write.bucketBy(32, "bk").sortBy("bk")
        .mode("overwrite").saveAsTable("probe_bands")
      val fromBuckets = MinHashLsh.nearDupFromBands(
        spark.table("probe_bands"), spark.table("probe_shh"), 0.5)
      time("q19_bucketed sf1.0    (50k docs)  ")(fromBuckets.count())
      val plan = fromBuckets.queryExecution.executedPlan.toString
      val bkExchanges = plan.linesIterator.count(l =>
        l.contains("Exchange") && l.contains("hashpartitioning(bk"))
      println(s"q19_bucketed band-join Exchanges on bk: $bkExchanges (want 0)")
      assert(bkExchanges == 0, "bucketed band table still shuffles on bk")
    }

    // --- temporal-join + contamination probes at 10×: events replicate
    // with shifted ids but the SAME 30-day span (10× density). The
    // as-of join stays one key-shuffle + sort regardless of density;
    // the range join's pair count grows multiplicatively (points ×
    // windows both 10×), so the probe thins windows 10× to hold the
    // output budget — the measured cost is the bin-join mechanism, not
    // pair materialization.
    if (want("q57", "q58", "q59")) {
      import graft.queries.PipelineQueries
      time("q57_asof sf0.1    (100k events)  ")(PipelineQueries.q57(spark, src).count())
      time("q57_asof sf1.0      (1M events)  ")(PipelineQueries.q57(spark, out).count())
      val ev = graft.core.Tables.load(spark, out, "events")
      val hourUs = 3600L * 1000000L
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), unix_micros(col("ts")).as("et"))
      val windows = ev.filter(col("event_type") === "purchase" && col("event_id") % 10 === 0)
        .select(col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("ws"), (unix_micros(col("ts")) + hourUs).as("we"))
      time("q58_range sf1.0 (1M pts, 20k win)")(
        graft.operators.RangeJoin.pointInInterval(
          errors, windows, "et", "ws", "we", hourUs).count())
      time("q59_contam sf1.0    (50k docs)   ")(PipelineQueries.q59(spark, out).count())
    }

    // --- cluster + incremental probes over the 10× corpus: label
    // propagation on the 250k-pair near-dup graph (clusters are
    // band-collision cliques of ~10 replicas → convergence in a few
    // rounds regardless of N), and a 25k-doc batch deduped AGAINST the
    // 25k-doc stored half (per-batch cost proportional to the batch).
    if (want("q52_components", "q55")) {
      import graft.operators.{DedupClusters, MinHashLsh}
      val docs10 = spark.read.parquet(s"$out/documents.parquet")
      val pairs10 = MinHashLsh.nearDup(docs10, 4, 2, 3, 0.5)
        .select("a_id", "b_id").localCheckpoint() // isolate CC cost from q19's
      time("q52_components sf1.0 (250k pairs)")(
        DedupClusters.connectedComponents(pairs10).count())
      val stored = MinHashLsh.signatures(docs10.filter(col("doc_id") % 2 === 0), 8, 3)
      val incoming = MinHashLsh.signatures(docs10.filter(col("doc_id") % 2 === 1), 8, 3)
      time("q55_incremental sf1.0 (25k batch) ")(
        MinHashLsh.nearDupAgainst(incoming, stored, 4, 2, 0.5).count())
    }

    // --- curation probes at 10×: q61's duplicated-passage detection is
    // the single-scan window form — one shuffle of the exploded
    // (doc_id, shingle) pairs with the corpus count computed in place —
    // so cost tracks corpus size, not pair count; q63's unigram-LM scoring
    // joins a vocab-sized broadcast model (the vocab here is fixed, so
    // 10× rows ≈ 10× scan, zero extra shuffle width); q64's SemDeDup
    // quadratic term is (N/cells)² per cell — the 10× corpus runs at
    // 64 cells so per-cell work stays at the sf0.1 level (the cell
    // count is the dial that holds the quadratic tier flat at scale).
    if (want("q61", "q63", "q64")) {
      import graft.queries.PipelineQueries
      time("q61_dup_passages sf0.1  (5k docs) ")(PipelineQueries.q61(spark, src).count())
      time("q61_dup_passages sf1.0 (50k docs) ")(PipelineQueries.q61(spark, out).count())
      time("q63_unigram_lm sf1.0   (50k docs) ")(PipelineQueries.q63(spark, out).count())
      import graft.functions.VectorOps
      val emb10 = spark.read.parquet(s"$out/embeddings.parquet")
      val assigned = VectorOps.ivfModel(emb10, "vec_id", "embedding", nCells = 64).assigned
      val a = assigned.select(col("vec_id").as("a_id"), col("cell"), col("__v").as("av"))
      val b = assigned.select(col("vec_id").as("b_id"), col("cell"), col("__v").as("bv"))
      time("q64_semdedup sf1.0 (50k v, 64 cells)")(
        a.join(b, "cell").filter(col("b_id") < col("a_id"))
          .filter(round(VectorOps.cosine(col("av"), col("bv")), 4) >= 0.35)
          .select("a_id").distinct().count())
    }

    // --- round-6 corpus signals at 10×: q103's winnowing selection is
    // entirely scan-local (the fused kernel emits only selected
    // fingerprints), so 10× rows should be ~10× scan with the one
    // fp-keyed shuffle carrying ~2/(w+1) of gram positions; q106's
    // novelty is q61's single-shuffle window shape on the shingle key;
    // q107's collocation marginals ride the bigram-count relation,
    // which is VOCAB²-bounded — 10× corpus with a fixed vocabulary
    // should leave the windowed relation (and everything after the
    // count groupBy) at the sf0.1 size.
    if (want("q103", "q106", "q107")) {
      import graft.queries.PipelineQueries
      time("q103_winnowing sf0.1    (5k docs) ")(PipelineQueries.q103(spark, src).count())
      time("q103_winnowing sf1.0   (50k docs) ")(PipelineQueries.q103(spark, out).count())
      time("q106_novelty sf0.1      (5k docs) ")(PipelineQueries.q106(spark, src).count())
      time("q106_novelty sf1.0     (50k docs) ")(PipelineQueries.q106(spark, out).count())
      time("q107_collocations sf1.0 (50k docs)")(PipelineQueries.q107(spark, out).count())
    }

    // --- audit-family probes at 10×: q114's text never shuffles (slim
    // (doc_id, md5) pairs through one distinct-count and one equi-join),
    // so 10× rows should be ~10× scan + ~10× slim shuffle; q115's
    // benchmark variant set broadcasts (corpus side scan-local), so its
    // growth is also the scan; q121 folds four gates off ONE pinned base
    // scan — its 10× growth is the gates' slim re-keys, no re-scan.
    if (want("q114", "q115", "q121")) {
      import graft.queries.AuditQueries
      time("q114_chunk_dup sf0.1    (5k docs) ")(AuditQueries.q114(spark, src).count())
      time("q114_chunk_dup sf1.0   (50k docs) ")(AuditQueries.q114(spark, out).count())
      time("q115_fuzzy_contam sf0.1 (5k docs) ")(AuditQueries.q115(spark, src).count())
      time("q115_fuzzy_contam sf1.0 (50k docs)")(AuditQueries.q115(spark, out).count())
      time("q121_funnel sf0.1       (5k docs) ")(AuditQueries.q121(spark, src).count())
      time("q121_funnel sf1.0      (50k docs) ")(AuditQueries.q121(spark, out).count())
      graft.core.Pins.release()
    }

    // --- stat-family probes at 10×: q130's sketch is ≤ 1024 cells no
    // matter the event count (the shuffle after map-side combine carries
    // cells, not events) and the probe side joins a broadcast — growth
    // must be ~the scan; q132's corpus-sized work (distinct hours,
    // interval merge) is distributed while the single-partition
    // integration rides the GRID, which replication leaves UNCHANGED
    // (same hour span) — growth again ~the scan; q129's TopK shuffle
    // carries O(sources × k) whatever the stratum size; q133 is one
    // tokenize pass + vocab-sized broadcasts (vocab saturates, so 10×
    // rows is 10× scan against flat model relations).
    // (the 10× events table was written by the temporal-join probe above
    // — same 30-day span, 10× density, which is exactly the densification
    // q130/q132 care about)
    if (want("q130", "q132", "q129", "q133")) {
      import graft.queries.StatQueries
      time("q130_countmin sf0.1   (100k ev)  ")(StatQueries.q130(spark, src).count())
      time("q130_countmin sf1.0     (1M ev)  ")(StatQueries.q130(spark, out).count())
      time("q132_sliding sf0.1    (100k ev)  ")(StatQueries.q132(spark, src).count())
      time("q132_sliding sf1.0      (1M ev)  ")(StatQueries.q132(spark, out).count())
      time("q129_prio_sample sf0.1 (5k docs) ")(StatQueries.q129(spark, src).count())
      time("q129_prio_sample sf1.0 (50k docs)")(StatQueries.q129(spark, out).count())
      time("q133_divergence sf0.1  (5k docs) ")(StatQueries.q133(spark, src).count())
      time("q133_divergence sf1.0  (50k docs)")(StatQueries.q133(spark, out).count())
      graft.core.Pins.release()
    }

    // --- chunk-gate steady state: a 25k-doc batch scored against a
    // 25k-doc stored pair relation must cost ~the batch (store pruned to
    // the batch's hashes before counting), not the store.
    if (want("chunk_gate")) {
      val docs10 = spark.read.parquet(s"$out/documents.parquet")
      val chDir = "/tmp/graft_probe_chunkgate"
      locally {
        val p = new org.apache.hadoop.fs.Path(chDir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      graft.streaming.CorpusIngest.chunkBatch(
        docs10.filter(col("doc_id") % 2 === 0), chDir).count() // seed store
      time("chunk_gate (25k batch vs 25k store)")(
        graft.streaming.CorpusIngest.chunkBatch(
          docs10.filter(col("doc_id") % 2 === 1), chDir).count())
    }

    // --- corpus-ingest probe: one 25k-doc batch through the three
    // dedup tiers (exact in-batch, near-dup in-batch, vs the stored
    // 25k-doc corpus) — the per-batch cost of the continuous builder,
    // with signatures computed ONCE and shared by tiers 2 and 3.
    if (want("corpus_ingest")) {
      val docs10 = spark.read.parquet(s"$out/documents.parquet")
      val sigDir = "/tmp/graft_probe_ingest_sig"
      locally {
        val p = new org.apache.hadoop.fs.Path(sigDir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      spark.sql("DROP TABLE IF EXISTS probe_corpus_bands")
      val bt = Some("probe_corpus_bands")
      graft.streaming.CorpusIngest.ingestBatch(
        docs10.filter(col("doc_id") % 2 === 0), sigDir,
        bandTableName = bt).count() // seed the store + bucketed band table
      time("corpus_ingest (25k batch, 3 tiers)")(
        graft.streaming.CorpusIngest.ingestBatch(
          docs10.filter(col("doc_id") % 2 === 1), sigDir,
          bandTableName = bt).count())
      // steady-state plan shape: the vs-store candidate join must read
      // the stored buckets with NO band-key Exchange (batch side
      // broadcasts, stored side bucket-local)
      val probeSig = graft.operators.MinHashLsh.signatures(
        docs10.filter(col("doc_id") % 7 === 3), 8, 3)
      val vsPlan = graft.operators.MinHashLsh.nearDupAgainstBands(
          probeSig, spark.table("probe_corpus_bands"),
          spark.read.parquet(sigDir), 4, 2, 0.5)
        .queryExecution.executedPlan.toString
      val vsBk = vsPlan.linesIterator.count(l =>
        l.contains("Exchange") && l.contains("hashpartitioning(bk"))
      println(s"corpus_ingest vs-store band-key Exchanges: $vsBk (want 0)")
      assert(vsBk == 0, "corpus ingest steady-state batch still shuffles band keys")
    }

    // --- vector-ingest probe: per-batch cost of the streaming ANN-index
    // maintainer must track the BATCH (one scan: broadcast-assign +
    // scan-local encode + vec_id anti-join), not the store it appends
    // to — a 5k-vector batch into a 45k-vector store vs an empty store.
    if (want("vec_ingest")) {
      val emb10 = spark.read.parquet(s"$out/embeddings.parquet")
      val ivf = graft.functions.VectorOps.ivfModel(emb10, "vec_id", "embedding", 8)
      val pq = graft.functions.Pq.train(emb10, "vec_id", "embedding", m = 8, k = 4)
      def freshDir(tag: String): String = {
        val dir = s"/tmp/graft_probe_vecingest_$tag"
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        dir
      }
      val empty = freshDir("empty")
      time("vec_ingest 5k batch, empty store  ")(
        graft.streaming.VectorIngest.ingestBatch(
          emb10.filter(col("vec_id") % 10 === 0), ivf, pq, empty).count())
      val seeded = freshDir("seeded")
      graft.streaming.VectorIngest.ingestBatch(
        emb10.filter(col("vec_id") % 10 =!= 0), ivf, pq, seeded).count()
      time("vec_ingest 5k batch, 45k store    ")(
        graft.streaming.VectorIngest.ingestBatch(
          emb10.filter(col("vec_id") % 10 === 0), ivf, pq, seeded).count())
    }

    // --- partition-scoped MERGE probe: per-batch I/O must track the
    // buckets the batch TOUCHES, never the table. A 16-key batch
    // upserts into a 200k-row/64-bucket table and a 2M-row/640-bucket
    // table (bucket size held constant — the production dial, same as
    // q76's N²/cells); rewritten bytes and wall must stay ~flat at 10×
    // rows. The deliberately WRONG dial (2M rows over the same 64
    // buckets → 10× bucket size) is measured too: its rewrite cost is
    // 10× — the honest statement of what the bucket count buys.
    if (want("q77_upsert")) {
      import graft.operators.Merge
      def freshDir(path: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      def newBytes(path: String, since: Long): Long = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .filter(f => f.toFile.lastModified() >= since)
          .mapToLong(f => java.nio.file.Files.size(f)).sum()
        finally s.close()
      }
      val batch = spark.range(16).selectExpr(
        "id * 7919 as k", "cast(id as double) as v", "'upd' as s").localCheckpoint()
      for ((rows, buckets) <- Seq((200000L, 64), (2000000L, 640), (2000000L, 64))) {
        val path = s"/tmp/graft_probe_merge_${rows}_$buckets"
        freshDir(path)
        Merge.upsertInto(spark, path, spark.range(rows).selectExpr(
          "id as k", "cast(id as double) as v", "'seed' as s"),
          Seq("k"), nBuckets = buckets)
        val total = newBytes(path, 0L)
        val t0 = System.currentTimeMillis()
        val w0 = System.nanoTime()
        Merge.upsertInto(spark, path, batch, Seq("k"))
        val wall = (System.nanoTime() - w0) / 1e9
        val rewritten = newBytes(path, t0)
        println(f"q77_upsert ${rows / 1000}%4dk rows/$buckets%3d buckets: " +
          f"$wall%.2f s, rewrote ${rewritten / 1024}%6d KiB of ${total / 1024}%7d KiB " +
          f"(${100.0 * rewritten / total}%.1f%% of table)")
      }
    }

    // --- BPE training probe: the trainer's per-round work runs on the
    // word-frequency relation, so cost is bound by the VOCABULARY —
    // the 10× corpus (same vocab, 10× frequencies) must train in ~the
    // same time as sf0.1, not 10× it.
    if (want("q72")) {
      import graft.functions.Bpe
      time("q72_bpe_train sf0.1  (5k docs)   ")(
        Bpe.train(spark.read.parquet(s"$src/documents.parquet"), 10).size.toLong)
      time("q72_bpe_train sf1.0 (50k docs)   ")(
        Bpe.train(spark.read.parquet(s"$out/documents.parquet"), 10).size.toLong)
      // the driver-loop wall: sequential training is ONE Spark job per
      // merge — per-merge latency × a production vocab (30k merges) is
      // the real cost, independent of corpus size. trainBatched amortizes
      // rounds while staying provably merge-list-identical; the ratio
      // below is the measured amortization on a 300-merge run.
      val docs01 = spark.read.parquet(s"$src/documents.parquet")
      val t0 = System.nanoTime()
      val nSeq = Bpe.train(docs01, 300).size
      val seqS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nBat = Bpe.trainBatched(docs01, 300, batch = 16).size
      val batS = (System.nanoTime() - t1) / 1e9
      println(f"q72_bpe_wall seq k=300: $seqS%.1f s (${seqS / nSeq * 1000}%.0f ms/merge " +
        f"-> ${seqS / nSeq * 30000 / 60}%.0f min at a 30k vocab)")
      println(f"q72_bpe_wall bat k=300 (batch 16): $batS%.1f s (${batS / nBat * 1000}%.0f ms/merge " +
        f"-> ${batS / nBat * 30000 / 60}%.0f min at a 30k vocab, ${seqS / batS}%.1fx)")
      // trainLocal: the merge loop leaves Spark entirely (one scan
      // collects the model-sized word-frequency table; merges are
      // in-memory incremental updates) — the driver-latency wall is
      // GONE, not amortized. Merge-list-identical, spec-pinned.
      val t2 = System.nanoTime()
      val nLoc = Bpe.trainLocal(docs01, 300).size
      val locS = (System.nanoTime() - t2) / 1e9
      println(f"q72_bpe_wall local k=300: $locS%.1f s (${locS / nLoc * 1000}%.2f ms/merge " +
        f"-> ${locS / nLoc * 30000 / 60}%.1f min at a 30k vocab, ${seqS / locS}%.0fx over seq)")
    }

    // --- inverted-index probe: postings built ONCE on the 10× corpus,
    // bucketed+sorted by term; a 3-term BM25 probe then reads only the
    // probed terms' buckets — query cost independent of corpus size
    // (the stored-retrieval end state, like q19's bucketed band table).
    if (want("idx_")) {
      import graft.operators.InvertedIndex
      val docs10 = spark.read.parquet(s"$out/documents.parquet")
      time("idx_build sf1.0   (50k docs)     ") {
        InvertedIndex.build(docs10.select("doc_id", "text"))
          .write.bucketBy(32, "term").sortBy("term")
          .mode("overwrite").saveAsTable("probe_inv")
        spark.table("probe_inv").count()
      }
      val st = InvertedIndex.stats(docs10).localCheckpoint()
      val terms = Seq("table", "hash", "stream")
      time("idx_bm25 sf1.0  (stored index)   ")(
        InvertedIndex.bm25(spark.table("probe_inv"), st, terms, 20).count())
      val probePlan = InvertedIndex.bm25(spark.table("probe_inv"), st, terms, 20)
      probePlan.collect()
      val sel = """SelectedBucketsCount: (\d+) out of (\d+)""".r
        .findFirstMatchIn(probePlan.queryExecution.executedPlan.toString)
      println(s"idx_bm25 bucket pruning: ${sel.map(_.matched).getOrElse("NONE")}")
      assert(sel.exists(m => m.group(1).toInt < m.group(2).toInt),
        "BM25 probe read every bucket")
    }

    // --- 100k-entry manifest probe: pins the DOCUMENTED driver-side
    // boundary of the archive pipeline (ArchivePipeline.run/ingest parse
    // the manifest and decide dedup, promotion and the watermark on the
    // driver over METADATA rows — (seqnum, url) and (seqnum, name, md5,
    // failed) — while payload fetch/write fans out in the one executor
    // job). 100k entries ≈ 3 decades of a daily feed; driver heap
    // delta shows the metadata rows are the only driver-side state.
    if (want("manifest_100k")) {
      val n = 100000
      val body = (1 to n).map { i =>
        f"$i\t1497717708\t2017/${i % 12 + 1}%02d/routeviews-rv2-$i%06d.pfx2as.gz"
      }.mkString("# probe manifest\n", "\n", "")
      val store = new graft.sources.InMemoryStore
      val cfg = graft.plans.SourceConfig(
        dataset = "ProbeFeed",
        pathPrefix = "ProbeFeed/",
        currentName = "ProbeFeed/current/routeviews.pfx2as.gz",
        urlRegex = Some(new scala.util.matching.Regex(""".*(\d{4}/\d{2}/)(.*)""")),
        dedupScopeRegex = new scala.util.matching.Regex("""(ProbeFeed/\d{4}/\d{2}/)"""),
        retryInitialMs = 1, retryMaxMs = 0)
      val rt = Runtime.getRuntime
      System.gc(); Thread.sleep(300)
      val before = rt.totalMemory - rt.freeMemory
      val t0 = System.nanoTime()
      val rep = graft.plans.ArchivePipeline.run(spark, body,
        "http://probe.test/rv/pfx2as-creation.log", cfg, store, 0L,
        ScaleProbeFetcher, new graft.core.Metrics(spark))
      val wall = (System.nanoTime() - t0) / 1e9
      System.gc(); Thread.sleep(300)
      val after = rt.totalMemory - rt.freeMemory
      println(f"manifest_100k: $wall%.2f s, kept ${rep.kept.size}, " +
        f"dups ${rep.duplicates.size}, watermark ${rep.newWatermark}, " +
        f"retained driver heap delta ${(after - before) / 1024 / 1024} MB")
      assert(rep.newWatermark == n.toLong, "gated advance over the full probe feed")
    }

    // --- dense-tile streaming probe: ONE tile at threshold 0 over
    // identical vectors → every (i, j) passes, ~200M pairs from a single
    // task. The lazy cursor kernels stream them with flat heap; the
    // former per-task Seq.newBuilder would have to hold ~8 GB of tuples
    // before returning. Peak heap is sampled while draining.
    if (want("dense_tile")) {
      val n = 20000
      val rows = Array.tabulate(n)(i => (i.toLong, Array(1.0, 2.0, 3.0, 4.0)))
      val rt = Runtime.getRuntime
      System.gc(); Thread.sleep(300)
      val before = rt.totalMemory - rt.freeMemory
      @volatile var peak = before
      @volatile var live = true
      val sampler = new Thread(() => while (live) {
        val u = rt.totalMemory - rt.freeMemory
        if (u > peak) peak = u
        Thread.sleep(10)
      })
      sampler.setDaemon(true); sampler.start()
      val t0 = System.nanoTime()
      var cnt = 0L
      val it = graft.operators.SimilarityJoin.cosineTile(0.0)(rows, rows, diag = true)
      while (it.hasNext) { it.next(); cnt += 1 }
      live = false
      println(f"dense_tile_stream: ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
        f"$cnt pairs from one tile, peak heap delta ${(peak - before) / 1024 / 1024} MB")
    }

    // --- skew probe: one hot key holding 90% of a 4M-row probe side,
    // broadcast + AQE skew handling disabled so the join mechanism itself
    // is measured: the salted join must spread the hot key's reduce work
    // (max task time), the naive shuffle join concentrates it.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // one task-metrics harness for every listener-based probe:
    // (wall sec, max single-task sec, total shuffle-write bytes)
    def taskStats(f: => Unit): (Double, Double, Long) = {
      val durations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
      val l = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
          if (te.taskInfo != null) durations.add(te.taskInfo.duration)
          if (te.taskMetrics != null)
            shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      }
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      try f finally {
        Thread.sleep(500) // listener bus drains async
        spark.sparkContext.removeSparkListener(l)
      }
      import scala.jdk.CollectionConverters._
      ((System.nanoTime() - t0) / 1e9,
        durations.asScala.maxOption.getOrElse(0L) / 1e3,
        shuffleBytes.get())
    }
    def maxTaskSec(f: => Unit): (Double, Double) = {
      val (w, mt, _) = taskStats(f); (w, mt)
    }
    if (want("skew_join")) {
    val skewed = spark.range(4000000).select(
      when(col("id") % 10 < 9, lit(1L)).otherwise(col("id")).as("key"),
      col("id").as("lv"))
    val dim = spark.range(1000).select(col("id").as("key"), (col("id") * 2).as("rv"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    try {
      def agg(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(count(col("rv"))).head().getLong(0)
      var naiveRows = 0L; var saltedRows = 0L
      val (nw, nt) = maxTaskSec { naiveRows = agg(skewed.join(dim, "key")) }
      val (sw, st) = maxTaskSec {
        saltedRows = agg(graft.operators.SkewedAgg.saltedJoin(skewed, dim, "key"))
      }
      assert(naiveRows == saltedRows, s"salted join changed the answer: $naiveRows vs $saltedRows")
      println(f"skew_join naive : wall $nw%.2f s, max task $nt%.2f s ($naiveRows rows)")
      println(f"skew_join salted: wall $sw%.2f s, max task $st%.2f s ($saltedRows rows)")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.skewJoin.enabled")
    }
    }
    // --- bloom-prefiltered dedup (q84's operator) in its design regime:
    // the stored key set CANNOT broadcast (threshold off), so the plain
    // anti-join shuffles the whole corpus while the bloom path shuffles
    // only the positive sliver (true dups + fpp·N). Same answer, and the
    // printed positives count IS the confirm join's left side.
    if (want("q84")) locally {
      import org.apache.spark.sql.functions.concat
      val n = 4000000L
      val corpus = spark.range(n).select(concat(lit("k"), col("id")).as("k"))
      // every 10th key is already stored: a 10% re-crawl rate
      val stored = spark.range(0, n, 10).select(concat(lit("k"), col("id")).as("k"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val t0 = System.nanoTime()
        val bloom = graft.operators.BloomDedup.buildBloom(stored, "k", n / 10, 0.01)
        println(f"bloom_build 400k keys: ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
          f"${bloom.length / 1024} KB sketch")
        val positives = corpus.filter(org.apache.spark.sql.GraftShim.column(
          graft.functions.expressions.BloomMightContain(
            org.apache.spark.sql.GraftShim.expression(xxhash64(col("k"))), bloom)))
          .count()
        println(f"bloom_positive sliver: $positives of $n rows " +
          f"(${positives * 100.0 / n}%.1f%% reaches the confirm join)")
        // at local[32] the "network" is a memcpy, so WALL parity is
        // expected — the cluster-scale win is shuffled BYTES (taskStats
        // measures them): only the sliver + stored keys cross the
        // exchange
        var bloomRows = 0L; var plainRows = 0L
        var bloomBytes = 0L; var plainBytes = 0L
        time("q84_bloom_dedup 4M vs 400k       ") {
          val (_, _, b) = taskStats {
            bloomRows = graft.operators.BloomDedup.newKeys(corpus, stored, "k", bloom).count()
          }
          bloomBytes = b
          bloomRows
        }
        time("q84_plain_antijoin 4M vs 400k SMJ") {
          val (_, _, b) = taskStats {
            plainRows = corpus.join(stored, Seq("k"), "left_anti").count()
          }
          plainBytes = b
          plainRows
        }
        assert(bloomRows == plainRows,
          s"bloom dedup changed the answer: $bloomRows vs $plainRows")
        println(f"q84 shuffle-write: bloom ${bloomBytes / 1024 / 1024} MB vs " +
          f"plain ${plainBytes / 1024 / 1024} MB " +
          f"(${bloomBytes * 100.0 / math.max(1, plainBytes)}%.0f%%)")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }

    // --- perceptron training (q85): rounds × one partial-aggregable scan
    // with 65-int driver state — cost is linear in rows, flat per row.
    graft.queries.PipelineQueries.clearPerceptrons()
    time("q85_classifier sf0.1   (5k vecs)  ")(PipelineQueries.q85(spark, src).count())
    graft.queries.PipelineQueries.clearPerceptrons()
    time("q85_classifier sf1.0  (50k vecs)  ")(PipelineQueries.q85(spark, out).count())

    // --- round-7 stat-family probes at 10×: q141's corpus-sized work is
    // ONE (source, n_chars) groupBy; everything after rides the
    // source × distinct-length GRID, which replication leaves UNCHANGED
    // (same length distribution, 10× counts) — growth must be ~the scan.
    // q148's basket self-join is bounded by (user, day) basket width
    // (≤ |event_type| = 5 distinct types per basket), so 10× events is
    // ~10× baskets with FLAT per-basket pair work — the quadratic term
    // rides the basket, not the corpus. q152's global rank is the one
    // deliberate single-partition window in the suite: the window input
    // is the per-USER fold (users-sized, replication holds users fixed),
    // so 10× events changes only the pre-fold scan — the probe pins that
    // the users-sized sort does NOT grow with event volume.
    if (want("q141", "q148", "q152")) {
      import graft.queries.StatQueries
      time("q141_ks_drift sf0.1     (5k docs) ")(StatQueries.q141(spark, src).count())
      time("q141_ks_drift sf1.0    (50k docs) ")(StatQueries.q141(spark, out).count())
      time("q148_assoc_rules sf0.1 (100k ev)  ")(StatQueries.q148(spark, src).count())
      time("q148_assoc_rules sf1.0   (1M ev)  ")(StatQueries.q148(spark, out).count())
      time("q152_gini sf0.1        (100k ev)  ")(StatQueries.q152(spark, src).count())
      time("q152_gini sf1.0          (1M ev)  ")(StatQueries.q152(spark, out).count())
      graft.core.Pins.release()
    }

    // --- TPC-H star joins at 10× facts, fixed dims: the q153–q155 plans
    // broadcast every dimension and shuffle facts at most once (q154's
    // only exchanges are orders⋈lineitem + the final nation fold), so
    // 10× facts must be ~10× scan+shuffle with dimension cost flat. The
    // replicated orders/lineitem share one orderkey base (FK intact);
    // customer/supplier/nation/region are the sf0.1 originals.
    if (want("q153", "q154", "q155", "q157", "q158", "q179", "q184", "q185")) {
      import graft.queries.RelationalQueries
      time("q153_shipping_prio sf0.1 (600k li)")(RelationalQueries.q153(spark, src).count())
      time("q153_shipping_prio sf1.0   (6M li)")(RelationalQueries.q153(spark, out).count())
      time("q154_local_volume sf0.1  (600k li)")(RelationalQueries.q154(spark, src).count())
      time("q154_local_volume sf1.0    (6M li)")(RelationalQueries.q154(spark, out).count())
      time("q155_returned_items sf0.1(600k li)")(RelationalQueries.q155(spark, src).count())
      time("q155_returned_items sf1.0  (6M li)")(RelationalQueries.q155(spark, out).count())
      time("q157_waiting_supp sf0.1  (600k li)")(RelationalQueries.q157(spark, src).count())
      time("q157_waiting_supp sf1.0    (6M li)")(RelationalQueries.q157(spark, out).count())
      time("q158_waiting_1scan sf0.1 (600k li)")(RelationalQueries.q158(spark, src).count())
      time("q158_waiting_1scan sf1.0   (6M li)")(RelationalQueries.q158(spark, out).count())
      // q179's seven-table star: dimensions broadcast (fixed at 10×),
      // lineitem probes the cascade and shuffles once for the year
      // fold — growth must be ~the fact scan, like q154
      time("q179_market_share sf0.1  (600k li)")(RelationalQueries.q179(spark, src).count())
      time("q179_market_share sf1.0    (6M li)")(RelationalQueries.q179(spark, out).count())
      // q184's one custkey outer-join shuffle and q185's pinned slim
      // probe relation both grow ~with the fact side; dims fixed
      time("q184_custdist sf0.1     (150k ord)")(RelationalQueries.q184(spark, src).count())
      time("q184_custdist sf1.0     (1.5M ord)")(RelationalQueries.q184(spark, out).count())
      graft.core.Pins.release()
      time("q185_small_order sf0.1   (600k li)")(RelationalQueries.q185(spark, src).count())
      time("q185_small_order sf1.0     (6M li)")(RelationalQueries.q185(spark, out).count())
      graft.core.Pins.release()
    }

    // --- q183 at 10× docs: the codec chain is scan-local mapPartitions
    // (payloads never shuffle inside decode/sample); the synthesis
    // assembly and the md5-distinct fold are the only exchanges, both
    // ~linear in docs
    if (want("q183")) {
      time("q183_frame_dedup sf0.1  (5k docs) ")(
        graft.queries.PipelineQueries.q183(spark, src).count())
      time("q183_frame_dedup sf1.0 (50k docs) ")(
        graft.queries.PipelineQueries.q183(spark, out).count())
    }

    // --- mining-family probes at 10× (round 7): q159's candidate join
    // is bounded by per-prefix-token bucket width — replication clones
    // every doc 10×, so each rare prefix token's bucket grows 10× and
    // the near-dup pair OUTPUT grows ~100× inside clusters (the q19
    // flood direction, not corpus-quadratic); q165/q166 ride one
    // dimension-key shuffle each (10× orders is ~10× slim rows); q167's
    // ordered work is the cents GRID, which replication leaves at the
    // value-domain size — growth must be ~the scan.
    if (want("q159", "q165", "q166", "q167", "q170", "q171", "q173",
        "q175", "q177", "q178")) {
      import graft.queries.MiningQueries
      time("q159_prefix_join sf0.1  (5k docs) ")(MiningQueries.q159(spark, src).count())
      time("q159_prefix_join sf1.0 (50k docs) ")(MiningQueries.q159(spark, out).count())
      graft.core.Pins.release()
      time("q165_scd2 sf0.1      (150k ord)  ")(MiningQueries.q165(spark, src).count())
      time("q165_scd2 sf1.0      (1.5M ord)  ")(MiningQueries.q165(spark, out).count())
      time("q166_snapshot_diff sf0.1 (150k)  ")(MiningQueries.q166(spark, src).count())
      time("q166_snapshot_diff sf1.0 (1.5M)  ")(MiningQueries.q166(spark, out).count())
      graft.core.Pins.release()
      time("q167_equidepth sf0.1  (100k ev)  ")(MiningQueries.q167(spark, src).count())
      time("q167_equidepth sf1.0    (1M ev)  ")(MiningQueries.q167(spark, out).count())
      graft.core.Pins.release()
      // q170's ordered windows ride per-group value grids (flat under
      // densification like q167); q171's window input is the
      // per-customer fold — replication grows each customer's order
      // count 10× but the fold stays customers-sized
      time("q170_mad sf0.1        (100k ev)  ")(MiningQueries.q170(spark, src).count())
      time("q170_mad sf1.0          (1M ev)  ")(MiningQueries.q170(spark, out).count())
      graft.core.Pins.release()
      time("q171_skyline sf0.1   (150k ord)  ")(MiningQueries.q171(spark, src).count())
      time("q171_skyline sf1.0   (1.5M ord)  ")(MiningQueries.q171(spark, out).count())
      graft.core.Pins.release()
      // q173's candidates are (w−1)·N by construction — per-block sort
      // + equi-join, so 10× docs must be ~10× (block sizes grow but the
      // window width doesn't); q175's exchanges are bounded by distinct
      // (det, dep) pairs — replication grows keys 10× on the shifted-id
      // tables, so ~10× slim rows; q178 rides ONE (type, day) exchange
      // shared by window and fold — ~the scan at 10× density
      time("q173_snm sf0.1          (5k docs)")(MiningQueries.q173(spark, src).count())
      time("q173_snm sf1.0         (50k docs)")(MiningQueries.q173(spark, out).count())
      graft.core.Pins.release()
      time("q175_fd_profile sf0.1 (600k rows)")(MiningQueries.q175(spark, src).count())
      time("q175_fd_profile sf1.0   (6M rows)")(MiningQueries.q175(spark, out).count())
      time("q178_twap sf0.1       (100k ev)  ")(MiningQueries.q178(spark, src).count())
      time("q178_twap sf1.0         (1M ev)  ")(MiningQueries.q178(spark, out).count())
    }

    // --- round-7 additions. Expected shapes: q187/q195 ride slim
    // (nation)/(level,node) folds over 10× orders (~scan); q188/q189
    // fold 10× events into the SAME days-sized grid (flat windows);
    // q190/q191 partition by user with 10× rows per user (linear);
    // q192's quadratic term is confined to 2¹⁵-wide blocks — but the
    // replicated corpus plants 10-copy signature families, so PAIR
    // OUTPUT grows ~45× and wall must track pairs (the q186 rule);
    // q193's survival grid is value-domain-bounded (≤ span-hours) —
    // densification SHRINKS gaps, the fold stays grid-sized; q194 is
    // a 9-integer moment fold (~scan).
    if (want("q187", "q188", "q189", "q190", "q191", "q192", "q193",
        "q194", "q195")) {
      import graft.queries.{MiningQueries, RelationalQueries}
      time("q187_share sf0.1     (150k ord)  ")(RelationalQueries.q187(spark, src).count())
      time("q187_share sf1.0     (1.5M ord)  ")(RelationalQueries.q187(spark, out).count())
      time("q188_rollmed sf0.1     (1M ev)   ")(MiningQueries.q188(spark, src).count())
      time("q188_rollmed sf1.0    (10M ev)   ")(MiningQueries.q188(spark, out).count())
      time("q189_cusum sf0.1       (1M ev)   ")(MiningQueries.q189(spark, src).count())
      time("q189_cusum sf1.0      (10M ev)   ")(MiningQueries.q189(spark, out).count())
      graft.core.Pins.release()
      time("q190_streaks sf0.1     (1M ev)   ")(MiningQueries.q190(spark, src).count())
      time("q190_streaks sf1.0    (10M ev)   ")(MiningQueries.q190(spark, out).count())
      time("q191_coverage sf0.1    (1M ev)   ")(MiningQueries.q191(spark, src).count())
      time("q191_coverage sf1.0   (10M ev)   ")(MiningQueries.q191(spark, out).count())
      time("q192_hamming sf0.1   (50k docs)  ")(PipelineQueries.q192(spark, src).count())
      graft.core.Pins.release()
      time("q192_hamming sf1.0  (500k docs)  ")(PipelineQueries.q192(spark, out).count())
      graft.core.Pins.release()
      time("q193_km sf0.1          (1M ev)   ")(MiningQueries.q193(spark, src).count())
      graft.core.Pins.release()
      time("q193_km sf1.0         (10M ev)   ")(MiningQueries.q193(spark, out).count())
      graft.core.Pins.release()
      time("q194_ols sf0.1         (1M ev)   ")(MiningQueries.q194(spark, src).count())
      time("q194_ols sf1.0        (10M ev)   ")(MiningQueries.q194(spark, out).count())
      time("q195_rollup sf0.1    (150k ord)  ")(RelationalQueries.q195(spark, src).count())
      time("q195_rollup sf1.0    (1.5M ord)  ")(RelationalQueries.q195(spark, out).count())
    }

    // --- q196-q200. q196/q199 ride the value GRID (10× density fattens
    // map-side combines, the grid itself barely grows); q197's pair set
    // is days², fixed span ⇒ flat; q198 is two keyed folds + key-sized
    // rank windows (~scan); q200 is the DOCUMENTED quadratic tier — the
    // tiled ε-join is N²/2 integer ops with early-exit, so 10× vectors
    // ⇒ ~100× comparisons spread over the tile grid (q22's shape), and
    // the ε-graph/CC work grows with edges, not vectors.
    if (want("q196", "q197", "q198", "q199", "q200")) {
      import graft.queries.{MiningQueries, RelationalQueries}
      time("q196_mwu sf0.1         (1M ev)   ")(MiningQueries.q196(spark, src).count())
      graft.core.Pins.release()
      time("q196_mwu sf1.0        (10M ev)   ")(MiningQueries.q196(spark, out).count())
      graft.core.Pins.release()
      time("q197_mk sf0.1          (1M ev)   ")(MiningQueries.q197(spark, src).count())
      graft.core.Pins.release()
      time("q197_mk sf1.0         (10M ev)   ")(MiningQueries.q197(spark, out).count())
      graft.core.Pins.release()
      time("q198_skew sf0.1   (1M ev+150k o) ")(MiningQueries.q198(spark, src).count())
      time("q198_skew sf1.0  (10M ev+1.5M o) ")(MiningQueries.q198(spark, out).count())
      time("q199_qnorm sf0.1       (1M ev)   ")(MiningQueries.q199(spark, src).count())
      graft.core.Pins.release()
      time("q199_qnorm sf1.0      (10M ev)   ")(MiningQueries.q199(spark, out).count())
      graft.core.Pins.release()
      time("q200_dbscan sf0.1    (2k vecs)   ")(PipelineQueries.q200(spark, src).count())
      graft.core.Pins.release()
      time("q200_dbscan sf1.0   (20k vecs)   ")(PipelineQueries.q200(spark, out).count())
      graft.core.Pins.release()
    }

    // --- q201/q202 at 10× facts, fixed dims (q153-family discipline):
    // q201's disjunctive-band join broadcasts the OR-pruned part side
    // (fixed at 10×) and folds one row — growth must be ~the lineitem
    // scan with the residual OR evaluated stream-side, never a shuffle
    // of the fact. q202's threshold moments and nation fold are
    // customer-sized (fixed); the only 10×-growing piece is the
    // left-anti probe against the urgent-orders side, one slim
    // custkey exchange.
    if (want("q201", "q202")) {
      import graft.queries.RelationalQueries
      time("q201_disj_bands sf0.1    (600k li)")(RelationalQueries.q201(spark, src).count())
      time("q201_disj_bands sf1.0      (6M li)")(RelationalQueries.q201(spark, out).count())
      time("q202_dormant sf0.1      (150k ord)")(RelationalQueries.q202(spark, src).count())
      time("q202_dormant sf1.0      (1.5M ord)")(RelationalQueries.q202(spark, out).count())
    }

    // --- q203-q207 at 10×: q203's pair work is block²-bounded — the
    // replicated customer table multiplies every nation block 10×, so
    // within-block pairs grow ~100× while the γ-fold keeps the wire at
    // 8 rows (wall must track the in-block compare loop, the q186
    // pair-output rule with the block key as the dial); q204/q205 ride
    // user-/type-keyed windows (10× rows per key, ~scan growth);
    // q206 is a pure map stage; q207's curve is score-grid-bounded
    // (10× docs fatten the fold, the grid stays ≤ ppm-domain).
    if (want("q203", "q204", "q205", "q206", "q207")) {
      import graft.queries.{AuditQueries, MiningQueries, PipelineQueries}
      // q203 needs customers GROWN (the shared out dir holds dims
      // fixed): replicate 10× with shifted custkeys, same nations —
      // every block gets 10× members, in-block pairs grow ~100×
      val cust10x = "/tmp/graft_cust10x"
      locally {
        val base = spark.read.parquet(s"$src/customer.parquet")
        val shift = base.agg(org.apache.spark.sql.functions.max(col("c_custkey")))
          .head().getLong(0) + 1
        (0 until 10).map(i =>
          base.withColumn("c_custkey", col("c_custkey") + lit(i * shift)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$cust10x/customer.parquet")
      }
      time("q203_linkage sf0.1   (15k cust)  ")(MiningQueries.q203(spark, src).count())
      graft.core.Pins.release()
      time("q203_linkage sf1.0  (150k cust)  ")(MiningQueries.q203(spark, cust10x).count())
      graft.core.Pins.release()
      time("q204_ovjoin sf0.1      (1M ev)   ")(MiningQueries.q204(spark, src).count())
      graft.core.Pins.release()
      time("q204_ovjoin sf1.0     (10M ev)   ")(MiningQueries.q204(spark, out).count())
      graft.core.Pins.release()
      time("q205_ewma sf0.1        (1M ev)   ")(MiningQueries.q205(spark, src).count())
      time("q205_ewma sf1.0       (10M ev)   ")(MiningQueries.q205(spark, out).count())
      // q206 is pure projection — count() would prune every regexp
      // column (the Bench noop-sink lesson); fold the grade so the
      // probe pays the real scan work
      time("q206_readability sf0.1 (50k docs)")(
        PipelineQueries.q206(spark, src)
          .agg(sum(col("fkg_num") + col("n_complex"))).head().getLong(0))
      time("q206_readability sf1.0(500k docs)")(
        PipelineQueries.q206(spark, out)
          .agg(sum(col("fkg_num") + col("n_complex"))).head().getLong(0))
      time("q207_roc sf0.1       (50k docs)  ")(AuditQueries.q207(spark, src).count())
      time("q207_roc sf1.0      (500k docs)  ")(AuditQueries.q207(spark, out).count())
    }

    // --- q208-q211 at 10×: q208's corpus-sized work is the one daily
    // fold (the ranking rides the value grid, q141's rationale);
    // q209/q210 follow the q153 discipline — 10× facts, fixed dims,
    // the (part,supplier) folds and windows are model-sized; q211's
    // sequential stage is shortlist-bounded (32 cands, 8 picks) — only
    // the relevance scan + top-k see the 10× vectors.
    if (want("q208", "q209", "q210", "q211")) {
      import graft.queries.{AuditQueries, MiningQueries, PipelineQueries, RelationalQueries, StatQueries}
      time("q208_kw sf0.1          (1M ev)   ")(StatQueries.q208(spark, src).count())
      graft.core.Pins.release()
      time("q208_kw sf1.0         (10M ev)   ")(StatQueries.q208(spark, out).count())
      graft.core.Pins.release()
      time("q209_dominant sf0.1  (600k li)   ")(RelationalQueries.q209(spark, src).count())
      time("q209_dominant sf1.0    (6M li)   ")(RelationalQueries.q209(spark, out).count())
      time("q210_mincost sf0.1   (600k li)   ")(RelationalQueries.q210(spark, src).count())
      time("q210_mincost sf1.0     (6M li)   ")(RelationalQueries.q210(spark, out).count())
      time("q211_mmr sf0.1       (20k vecs)  ")(PipelineQueries.q211(spark, src).count())
      graft.core.Pins.release()
      time("q211_mmr sf1.0      (200k vecs)  ")(PipelineQueries.q211(spark, out).count())
      graft.core.Pins.release()
    }

    // --- q212-q216 at 10×: q212/q216's ranked work rides the per-type
    // days grid (fixed span ⇒ pair set and rank windows unchanged —
    // only the daily fold sees 10×); q213's rank window rides the
    // customer fold (orders 10×, customers fixed); q214 doubles down
    // on scan-local hashing (2× synthesis rows incl. variants, slim
    // signature join); q215 is one user-keyed window over 10× rows
    // per user.
    if (want("q212", "q213", "q214", "q215", "q216", "q217", "q218", "q219", "q220", "q221")) {
      import graft.queries.{MiningQueries, PipelineQueries, RelationalQueries, StatQueries}
      time("q212_theilsen sf0.1    (1M ev)   ")(MiningQueries.q212(spark, src).count())
      graft.core.Pins.release()
      time("q212_theilsen sf1.0   (10M ev)   ")(MiningQueries.q212(spark, out).count())
      graft.core.Pins.release()
      time("q213_abc sf0.1      (150k ord)   ")(RelationalQueries.q213(spark, src).count())
      time("q213_abc sf1.0      (1.5M ord)   ")(RelationalQueries.q213(spark, out).count())
      time("q214_ahash sf0.1    (20k vecs)   ")(PipelineQueries.q214(spark, src).count())
      graft.core.Pins.release()
      time("q214_ahash sf1.0   (200k vecs)   ")(PipelineQueries.q214(spark, out).count())
      graft.core.Pins.release()
      time("q215_attrib sf0.1      (1M ev)   ")(MiningQueries.q215(spark, src).count())
      time("q215_attrib sf1.0     (10M ev)   ")(MiningQueries.q215(spark, out).count())
      time("q216_spearman sf0.1    (1M ev)   ")(StatQueries.q216(spark, src).count())
      time("q216_spearman sf1.0   (10M ev)   ")(StatQueries.q216(spark, out).count())
      // q217: two LOCF carries on the same user-keyed window as q215
      time("q217_seqmatch sf0.1    (1M ev)   ")(MiningQueries.q217(spark, src).count())
      time("q217_seqmatch sf1.0   (10M ev)   ")(MiningQueries.q217(spark, out).count())
      // q218: one pinned fact fold, total re-aggregated off the fold;
      // q219: detail fold + full-outer join, both on the shared key
      time("q218_imparts sf0.1   (600k li)   ")(graft.queries.RelationalQueries.q218(spark, src).count())
      graft.core.Pins.release()
      time("q218_imparts sf1.0     (6M li)   ")(graft.queries.RelationalQueries.q218(spark, out).count())
      graft.core.Pins.release()
      time("q219_recon sf0.1 (150k o+600k l) ")(graft.queries.AuditQueries.q219(spark, src).count())
      graft.core.Pins.release()
      time("q219_recon sf1.0 (1.5M o+6M l)   ")(graft.queries.AuditQueries.q219(spark, out).count())
      graft.core.Pins.release()
      // q220: one orderkey semi-join with the late residual
      time("q220_late sf0.1  (75k o+600k l)  ")(graft.queries.RelationalQueries.q220(spark, src).count())
      time("q220_late sf1.0  (750k o+6M l)   ")(graft.queries.RelationalQueries.q220(spark, out).count())
      // q221: one broadcast total + scan-local hash filter
      time("q221_wsample sf0.1  (150k ord)   ")(graft.queries.MiningQueries.q221(spark, src).count())
      time("q221_wsample sf1.0  (1.5M ord)   ")(graft.queries.MiningQueries.q221(spark, out).count())
    }

    // --- round-8 additions: the TPC-H completions, the exact-stat
    // shelf and the text/bootstrap folds — each must absorb 10× facts
    // in the corpus-sized fold while the downstream algebra stays
    // grid-/types-sized (q222's chain is the widest dimension probe;
    // q235 multiplies the GRID ×B, never the corpus; q230's model
    // joins are vocabulary-bounded)
    if (want("q222", "q225", "q226", "q227", "q230", "q235", "q236", "q238")) {
      import graft.queries.{MiningQueries, PipelineQueries, RelationalQueries, StatQueries}
      time("q222_profit sf0.1    (600k li)   ")(RelationalQueries.q222(spark, src).count())
      time("q222_profit sf1.0      (6M li)   ")(RelationalQueries.q222(spark, out).count())
      time("q225_suppcnt sf0.1   (600k li)   ")(RelationalQueries.q225(spark, src).count())
      time("q225_suppcnt sf1.0     (6M li)   ")(RelationalQueries.q225(spark, out).count())
      time("q226_bigorders sf0.1 (600k li)   ")(RelationalQueries.q226(spark, src).count())
      time("q226_bigorders sf1.0   (6M li)   ")(RelationalQueries.q226(spark, out).count())
      time("q227_anova sf0.1       (1M ev)   ")(StatQueries.q227(spark, src).count())
      time("q227_anova sf1.0      (10M ev)   ")(StatQueries.q227(spark, out).count())
      time("q230_colloc sf0.1    (5k docs)   ")(PipelineQueries.q230(spark, src).count())
      graft.core.Pins.release()
      time("q230_colloc sf1.0   (50k docs)   ")(PipelineQueries.q230(spark, out).count())
      graft.core.Pins.release()
      time("q235_bootstrap sf0.1   (1M ev)   ")(StatQueries.q235(spark, src).count())
      time("q235_bootstrap sf1.0  (10M ev)   ")(StatQueries.q235(spark, out).count())
      time("q236_changept sf0.1    (1M ev)   ")(MiningQueries.q236(spark, src).count())
      time("q236_changept sf1.0   (10M ev)   ")(MiningQueries.q236(spark, out).count())
      time("q238_kendall sf0.1     (1M ev)   ")(StatQueries.q238(spark, src).count())
      graft.core.Pins.release()
      time("q238_kendall sf1.0    (10M ev)   ")(StatQueries.q238(spark, out).count())
      graft.core.Pins.release()
    }

    // --- q177 BFS at 10×: the replicated corpus multiplies near-dup
    // clusters, so the pair artifact and every frontier grow ~10× —
    // per-hop cost must track the FRONTIER (edges are the memoized
    // checkpoint; the corpus itself is touched only for the seed scan)
    // --- q244/q245 at 10× (the round-8 verdict's missing recsys
    // probes). q244: basket fold + scan-local pair gen — both terms
    // fact-sized, wall must track lineitem. q245: the interval-lookup
    // claim is probed BOTH ways — 10× FACTS (users grow, catalog
    // fixed: wall ∝ buyers) and 10× CATALOG (users fixed: the bucket
    // width ADAPTS via k = 55 − ⌊log2 np⌋, so evaluated candidates per
    // user stay ~72 and the wall stays flat — the r8 form's evaluated
    // pairs would have grown 10×). The evaluated-candidate counts are
    // printed as direct evidence that candidates, not |U|×|P| pairs,
    // drive the wall.
    if (want("q244", "q245")) {
      import graft.queries.{PipelineQueries, RelationalQueries}
      time("q244_itemsim sf0.1     (600k li) ")(
        RelationalQueries.q244(spark, src).count())
      graft.core.Pins.release()
      time("q244_itemsim sf1.0       (6M li) ")(
        RelationalQueries.q244(spark, out).count())
      graft.core.Pins.release()
      time("q245_negsamp sf0.1  (15k buyers) ")(
        PipelineQueries.q245(spark, src).count())
      graft.core.Pins.release()
      // the shared 10× fact dir shifts ORDER keys, not custkeys: the
      // same 15k buyers with 10× purchase history — probes the posSets
      // fold + pset growth, not buyer fan-out (buyer fan-out is linear
      // by construction: every per-user term is independent)
      time("q245_negsamp sf1.0 (10x history) ")(
        PipelineQueries.q245(spark, out).count())
      graft.core.Pins.release()
      val part10x = "/tmp/graft_part10x"
      locally {
        val base = spark.read.parquet(s"$src/part.parquet")
        val shift = base.agg(org.apache.spark.sql.functions.max(col("p_partkey")))
          .head().getLong(0) + 1
        (0 until 10).map(i =>
          base.withColumn("p_partkey", col("p_partkey") + lit(i * shift)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$part10x/part.parquet")
        for (tn <- Seq("orders", "lineitem"))
          spark.read.parquet(s"$src/$tn.parquet")
            .write.mode("overwrite").parquet(s"$part10x/$tn.parquet")
      }
      time("q245_negsamp cat10x (200k parts) ")(
        PipelineQueries.q245(spark, part10x).count())
      graft.core.Pins.release()
      // evaluated-candidate evidence: rebuild the pool stage (same h52
      // math as q245) and count BHJ probe rows before the h<T filter
      def evaluated(dir: String): (Long, Long) = {
        def h52(prefix: String, c: org.apache.spark.sql.Column) =
          conv(substring(md5(concat(lit(prefix), c.cast("string"))), 1, 13),
            16, 10).cast("long")
        val parts = graft.core.Tables.load(spark, dir, "part").select(col("p_partkey"))
        val npv = graft.core.Tables.rowCount(spark, dir, "part")
        val M = 4503599627370496L
        val T = math.min(M, M * 64 / npv)
        val k = math.min(52L, math.max(0L,
          55L - (63 - java.lang.Long.numberOfLeadingZeros(npv)))).toInt
        val W = 1L << k
        val nB = M / W
        val buyers = graft.core.Tables.load(spark, dir, "orders")
          .select(col("o_custkey")).distinct()
        val probed = buyers.withColumn("au", h52("u|", col("o_custkey")))
          .withColumn("lo", pmod(-col("au"), lit(M)))
          .withColumn("__bk", explode(array_distinct(expr(
            s"transform(sequence(lo div ${W}L, (lo + ${T - 1}L) div ${W}L)," +
              s" b -> pmod(b, ${nB}L))"))))
          .join(broadcast(parts.withColumn("bp", h52("p|", col("p_partkey")))
            .withColumn("__bk", expr(s"bp div ${W}L"))), Seq("__bk"))
        val n = probed.count()
        val pool = probed
          .filter(pmod(col("au") + col("bp"), lit(M)) < lit(T)).count()
        (n, pool)
      }
      val (e1, p1) = evaluated(src)
      val (e2, p2) = evaluated(part10x)
      println(s"q245 evaluated-candidates sf0.1: $e1 probed -> $p1 pool " +
        s"(~${e1 / 15000} probed/user); cat10x: $e2 -> $p2 " +
        s"(~${e2 / 15000} probed/user — flat at 10x catalog; the r8 " +
        s"cross form would probe 200000/user)")
    }

    // --- q247-q258 (round 9) at 10×: q247/q248 ride one
    // partial-aggregable fold each (bottom-k buffers / per-user
    // extremes collapse map-side — wall must track the scan);
    // q250/q251/q257/q258 are docs-shaped (tokenize + windows/folds);
    // q252/q255 are vectors-shaped; q253/q254/q256 are the governance
    // audits (QI fold / broadcast semi / key-set folds). q249 reuses
    // the memoized q85 perceptron (trained once per (session, dir)).
    if (want("q247", "q248", "q250", "q251", "q252", "q253", "q254",
             "q255", "q256", "q257", "q258", "q259", "q260", "q261")) {
      import graft.queries.PipelineQueries
      def both(label: String, name: String): Unit = {
        time(f"$label%-22s sf0.1")(
          graft.SparkEntry.queries(name)(spark, src).count())
        graft.core.Pins.release()
        time(f"$label%-22s sf1.0")(
          graft.SparkEntry.queries(name)(spark, out).count())
        graft.core.Pins.release()
      }
      both("q247_qsketch", "q247_quantile_sketch")
      both("q248_prefpairs", "q248_preference_pairs")
      both("q250_batching", "q250_length_batching")
      both("q251_spans", "q251_span_corruption")
      both("q252_collisions", "q252_inbatch_collisions")
      both("q254_erasure", "q254_erasure_audit")
      both("q256_orphans", "q256_fk_orphans")
      both("q257_ablation", "q257_gate_ablation")
      both("q258_waterfill", "q258_token_waterfill")
      both("q259_dupattrib", "q259_dup_attribution")
      both("q260_gini", "q260_source_gini")
      both("q261_survival", "q261_survival_hazard")
      // q253/q255 read dimension-sized tables the shared 10× dir holds
      // fixed — their 10× story is the same fold shape as q257's
    }

    if (want("q177")) {
      graft.queries.PipelineQueries.clearLshPairs()
      time("q177_khop sf0.1         (5k docs)")(
        graft.queries.PipelineQueries.q177(spark, src).count())
      graft.core.Pins.release()
      graft.queries.PipelineQueries.clearLshPairs()
      time("q177_khop sf1.0        (50k docs)")(
        graft.queries.PipelineQueries.q177(spark, out).count())
      graft.core.Pins.release()
      graft.queries.PipelineQueries.clearLshPairs()
    }

    // --- ADVERSARIAL-SKEW probes (round 10): uniform replication (the
    // 10× dir) can't expose a hot key, so these rebuild the keyed
    // tables with ONE key holding 50% of the rows (the q49 skew
    // direction) and re-time the round-9 training-prep shelf's
    // per-key folds at the SAME total volume. Expectation and why:
    // q248's extremes and q261's per-user fold are partial-aggregable
    // — the hot user's rows collapse to one struct per PARTITION
    // map-side, so the hot key costs max(rows-per-partition) work,
    // never 50% of the corpus on one reducer. q250's per-LANG
    // row_number windows are the deliberate contrast: a window is NOT
    // partial-aggregable — the hot language lands on one task — so
    // its skew growth is the measured price of exact sorted batching,
    // and the production dial (per-shard batching inside a language,
    // stated in the q250 doc) caps it.
    if (want("skew248", "skew250", "skew261", "skew277")) {
      val skewDir = "/tmp/graft_skew"
      locally {
        val ev = graft.core.Tables.load(spark, src, "events")
        // one user takes every even event: 50% of rows, same volume
        ev.withColumn("user_id",
            when(col("event_id") % 2 === 0, lit(424242L))
              .otherwise(col("user_id")))
          .write.mode("overwrite").parquet(s"$skewDir/events.parquet")
        val docs = spark.read.parquet(s"$src/documents.parquet")
        docs.withColumn("lang",
            when(col("doc_id") % 2 === 0, lit("xx")).otherwise(col("lang")))
          .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
      }
      def pair(label: String, name: String): Unit = {
        time(f"$label%-22s uniform")(
          graft.SparkEntry.queries(name)(spark, src).count())
        graft.core.Pins.release()
        time(f"$label%-22s 50%%-hot-key")(
          graft.SparkEntry.queries(name)(spark, skewDir).count())
        graft.core.Pins.release()
      }
      pair("skew248_prefpairs", "q248_preference_pairs")
      pair("skew261_survival", "q261_survival_hazard")
      pair("skew250_batching", "q250_length_batching")
      // q277 (round 10) is the same per-user conditional-fold shape as
      // q248 — partial-aggregable, so the 50%-hot user collapses
      // map-side to one partial row per partition
      pair("skew277_matrix", "q277_training_matrix")
    }
    // round-10 second wave under the same 50%-hot-key skew: q286's
    // user fold is the q277 shape (partial-aggregable); q291's lag
    // window is the deliberate contrast — the hot user's sequence
    // rides ONE task (the q250 rationale; at scale the per-user
    // sequence is bounded by retention policy, the documented dial)
    if (want("skew286", "skew291")) {
      val skewDir = "/tmp/graft_skew"
      // ALWAYS rewrite (like the skew248 block): a dir-exists skip
      // would silently reuse a fixture derived from a DIFFERENT --src
      // run and measure stale skewed data
      locally {
        val ev = graft.core.Tables.load(spark, src, "events")
        ev.withColumn("user_id",
            when(col("event_id") % 2 === 0, lit(424242L))
              .otherwise(col("user_id")))
          .write.mode("overwrite").parquet(s"$skewDir/events.parquet")
      }
      def pair(label: String, name: String): Unit = {
        time(f"$label%-22s uniform")(
          graft.SparkEntry.queries(name)(spark, src).count())
        graft.core.Pins.release()
        time(f"$label%-22s 50%%-hot-key")(
          graft.SparkEntry.queries(name)(spark, skewDir).count())
        graft.core.Pins.release()
      }
      pair("skew286_stratified", "q286_stratified_effect")
      pair("skew291_markov", "q291_markov_accuracy")
    }

    // --- round 10 additions at 10×: q268 is a scan-local key + a
    // ≤ 4096-row cube fold (wall must track the scan); q271's only
    // data exchange is the (class, value) count fold; q272's Gramian
    // cells collapse map-side to ≤ 2145 rows/task (embeddings are
    // dimension-sized in the shared 10× dir — its 10× axis is ROWS,
    // probed via the replicated vectors table q252/q255 use); q273's
    // single-long-key count fold is the intrinsic term — expect wall
    // ∝ scan, flat per-row cost, nothing super-linear.
    if (want("q268", "q271", "q273")) {
      def both(label: String, name: String): Unit = {
        time(f"$label%-22s sf0.1")(
          graft.SparkEntry.queries(name)(spark, src).count())
        graft.core.Pins.release()
        time(f"$label%-22s sf1.0")(
          graft.SparkEntry.queries(name)(spark, out).count())
        graft.core.Pins.release()
      }
      both("q268_zorder", "q268_zorder_layout")
      both("q271_tclose", "q271_t_closeness")
      both("q273_joinest", "q273_join_size_est")
    }

    // --- round 10 second wave at 10×: q281's only data exchange is
    // the (type, user) distinct fold (partial-aggregable after
    // distinct); q283 rides a grid fold + one (phase, lang) fold —
    // both must track the scan. q279/q280/q282/q284 read the
    // dimension-held embeddings table in the shared 10× dir; their
    // row-scaling story is the q85 fold family's (one scan-local
    // score pass + grid/groups-sized folds), probed via the events/
    // docs-shaped twins here.
    if (want("q281", "q283")) {
      def both(label: String, name: String): Unit = {
        time(f"$label%-22s sf0.1")(
          graft.SparkEntry.queries(name)(spark, src).count())
        graft.core.Pins.release()
        time(f"$label%-22s sf1.0")(
          graft.SparkEntry.queries(name)(spark, out).count())
        graft.core.Pins.release()
      }
      both("q281_srm", "q281_srm_check")
      both("q283_curric", "q283_curriculum")
    }

    // --- round 10 third wave at 10×: q287's one shared-order window
    // partitions by orderkey (per-partition sorts, fully parallel —
    // wall must track the scan); q293's digest fold collapses
    // map-side to the columns domain; q294 re-runs component
    // assignment over 10× docs (the LSH pair artifact rebuilds for
    // the new dir — bucketed, never all-pairs) and the audit folds
    // are components-keyed.
    if (want("q287", "q293", "q294")) {
      def both(label: String, name: String): Unit = {
        time(f"$label%-22s sf0.1")(
          graft.SparkEntry.queries(name)(spark, src).count())
        graft.core.Pins.release()
        time(f"$label%-22s sf1.0")(
          graft.SparkEntry.queries(name)(spark, out).count())
        graft.core.Pins.release()
      }
      both("q287_encoding", "q287_encoding_advisor")
      both("q293_checksums", "q293_column_checksums")
      graft.queries.PipelineQueries.clearLshPairs()
      both("q294_erasure", "q294_erasure_closure")
      graft.queries.PipelineQueries.clearLshPairs()
    }

    // q295's user cascade and q296's two folds are partial-aggregable
    // — wall must track the 10× events scan
    if (want("q295", "q296")) {
      def both(label: String, name: String): Unit = {
        time(f"$label%-22s sf0.1")(
          graft.SparkEntry.queries(name)(spark, src).count())
        graft.core.Pins.release()
        time(f"$label%-22s sf1.0")(
          graft.SparkEntry.queries(name)(spark, out).count())
        graft.core.Pins.release()
      }
      both("q295_funnel", "q295_funnel_latency")
      both("q296_sketcherr", "q296_sketch_error")
    }

    // --- round-11: 100× probes for the round-10 per-user/basket shelf
    // (q277/q286/q291 fold events per user; q297 builds the co-basket
    // model from lineitem). The 10× rows and 50%-hot-key skew probes
    // exist above; this is the two-orders-of-magnitude check the
    // verdict asked for: ~linear wall and NO task-skew blowup (per-user
    // folds are partial-aggregable; q291's per-user lag window rides
    // retention-bounded sequences). Prints wall AND max single-task
    // time — the skew tell a wall number alone hides. Setup replicates
    // events (shifted event_id, SAME users/span → 100× per-user
    // density) and orders+lineitem (shared orderkey shift, FK intact).
    if (want("x100")) {
      val d100 = "/tmp/graft_scale100"
      locally {
        val base = graft.core.Tables.load(spark, src, "events")
        val maxKey = base.agg(org.apache.spark.sql.functions.max(col("event_id")))
          .head().getLong(0) + 1
        (0 until 100).map(i =>
            base.withColumn("event_id", col("event_id") + lit(i * maxKey)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$d100/events.parquet")
        val ordBase = spark.read.parquet(s"$src/orders.parquet")
        val liBase = spark.read.parquet(s"$src/lineitem.parquet")
        val shift = ordBase.agg(org.apache.spark.sql.functions.max(col("o_orderkey")))
          .head().getLong(0) + 1
        (0 until 100).map(i =>
            ordBase.withColumn("o_orderkey", col("o_orderkey") + lit(i * shift)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$d100/orders.parquet")
        (0 until 100).map(i =>
            liBase.withColumn("l_orderkey", col("l_orderkey") + lit(i * shift)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$d100/lineitem.parquet")
        for (tn <- Seq("customer", "supplier", "nation", "region", "part"))
          spark.read.parquet(s"$src/$tn.parquet")
            .write.mode("overwrite").parquet(s"$d100/$tn.parquet")
        // documents at 100× = 5M docs for the dedup/LSH shelf (round-12:
        // the q19 band join and q55 incremental tier at two orders of
        // magnitude). Each replica suffixes EVERY word with its replica
        // tag, so cross-replica word-shingles never match: a real 5M-doc
        // corpus is not 100 identical crawls, and plain copies would turn
        // every doc into a 100-member exact-dup clique — measuring the
        // (separately-probed) identical-doc flood path instead of
        // candidate-bound growth. Near/exact-dup structure stays intact
        // WITHIN each replica, so the dup rate per doc is scale-invariant.
        val docBase = spark.read.parquet(s"$src/documents.parquet")
        val maxDoc = docBase.agg(org.apache.spark.sql.functions.max(col("doc_id")))
          .head().getLong(0) + 1
        (0 until 100).map(i => docBase
            .withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
            .withColumn("text",
              expr(s"concat_ws(' ', transform(split(text, ' '), w -> concat(w, 'x$i')))"))
            .withColumn("n_chars", length(col("text")).cast("long")))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$d100/documents.parquet")
      }
      val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0)
      val taskListener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val d = te.taskInfo.duration
          maxTaskMs.getAndUpdate(m => math.max(m, d)): Unit
        }
      }
      spark.sparkContext.addSparkListener(taskListener)
      def probe(label: String, name: String, dir: String, tag: String): Unit = {
        maxTaskMs.set(0)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir).count(): Unit
        val wall = (System.nanoTime() - t0) / 1e9
        graft.core.Pins.release()
        // the listener bus is ASYNC: TaskEnd events can still be in
        // flight when count() returns — poll until the max stabilizes
        // so a late straggler isn't dropped (or billed to the next
        // probe by the reset above)
        var prev = -1L
        while (prev != maxTaskMs.get()) {
          prev = maxTaskMs.get(); Thread.sleep(300)
        }
        println(f"$label%-22s $tag%-6s $wall%8.3f s" +
          f"  max-task ${maxTaskMs.get() / 1000.0}%7.3f s")
      }
      for ((label, name) <- Seq(
          "x100_q277_matrix" -> "q277_training_matrix",
          "x100_q286_stratified" -> "q286_stratified_effect",
          "x100_q291_markov" -> "q291_markov_accuracy",
          "x100_q297_recsys" -> "q297_recsys_hitrate",
          // round-12: the dedup/LSH shelf at 5M docs (candidate-bound
          // band join + batch-proportional incremental tier) and the
          // retention-bounded per-user fold (max-task must stay flat
          // where q291's unbounded lag window grows)
          "x100_q19_banddup" -> "q19_minhash_lsh_neardup",
          "x100_q55_incremental" -> "q55_incremental_neardup",
          "x100_q302_retention" -> "q302_retention_tail")) {
        probe(label, name, src, "1x")
        probe(label, name, d100, "100x")
      }
      // round-12: the q297 STORED-MODEL sibling — build the q244
      // item-item rec list ONCE into a table (the SURVEY §4.1 ingest-
      // artifact mechanism, q19_bucketed's stored-layout precedent),
      // then time the eval leg ALONE against the stored model. This
      // turns "at scale the model is a stored artifact and only eval
      // re-runs" from the accepted floor rationale into measured rows:
      // eval-only pays the post-window scan, never the basket-pair fold.
      locally {
        import graft.queries.RelationalQueries
        def timed(label: String, tag: String)(f: => Unit): Unit = {
          maxTaskMs.set(0)
          val t0 = System.nanoTime(); f
          val wall = (System.nanoTime() - t0) / 1e9
          graft.core.Pins.release()
          var prev = -1L
          while (prev != maxTaskMs.get()) {
            prev = maxTaskMs.get(); Thread.sleep(300)
          }
          println(f"$label%-22s $tag%-6s $wall%8.3f s" +
            f"  max-task ${maxTaskMs.get() / 1000.0}%7.3f s")
        }
        for ((dir, tag) <- Seq(src -> "1x", d100 -> "100x")) {
          val tbl = s"probe_recs_$tag"
          timed("x100_q297_model_build", tag) {
            RelationalQueries.q297Model(RelationalQueries.q297Baskets(spark, dir))
              .write.mode("overwrite").saveAsTable(tbl)
          }
          timed("x100_q297_eval_stored", tag) {
            RelationalQueries.q297EvalOnly(spark, dir, spark.table(tbl))
              .count(): Unit
          }
        }
      }
      spark.sparkContext.removeSparkListener(taskListener)
    }

    // --- round-13: the q32 exact-percentile BUFFER hazard, measured
    // (verdict task 3). Spark's `percentile()` aggregate buffers a
    // value→count OpenHashMap PER GROUP; with o_totalprice near-unique
    // the buffer is corpus-sized single-map state. The replicas PERTURB
    // the price (+replica·1e-6) so distinct values actually grow with
    // the corpus — plain copies would flatter both forms by keeping the
    // value domain fixed. Probes the old buffer form against the
    // shipped distribution-grid q32 at 1×/10×/100× orders, wall +
    // max-task (the buffer form's growth shows up as one fat task and
    // a map-sized shuffle; the grid form's window sort spills instead
    // of growing an unspillable map).
    if (want("q32buf")) {
      val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0)
      val lst = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val d = te.taskInfo.duration
          maxTaskMs.getAndUpdate(m => math.max(m, d)): Unit
        }
      }
      spark.sparkContext.addSparkListener(lst)
      def timed(label: String, tag: String)(f: => Unit): Unit = {
        maxTaskMs.set(0)
        val t0 = System.nanoTime()
        try f catch {
          case e: Throwable =>
            println(s"$label $tag FAILED: ${e.getClass.getSimpleName}")
        }
        val wall = (System.nanoTime() - t0) / 1e9
        graft.core.Pins.release()
        var prev = -1L
        while (prev != maxTaskMs.get()) {
          prev = maxTaskMs.get(); Thread.sleep(300)
        }
        println(f"$label%-22s $tag%-6s $wall%8.3f s" +
          f"  max-task ${maxTaskMs.get() / 1000.0}%7.3f s")
      }
      val ordBase = spark.read.parquet(s"$src/orders.parquet")
      val shift = ordBase.agg(org.apache.spark.sql.functions.max(col("o_orderkey")))
        .head().getLong(0) + 1
      def build(f: Int): String = {
        val dir = s"/tmp/graft_q32_${f}x"
        (0 until f).map(i => ordBase
            .withColumn("o_orderkey", col("o_orderkey") + lit(i * shift))
            .withColumn("o_totalprice", col("o_totalprice") + lit(i * 1e-6)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dir/orders.parquet")
        dir
      }
      def bufferForm(dir: String) = spark.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_orderpriority"))
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"),
          count(lit(1)).as("n"))
      // noop-write action, NOT count(): under a count Catalyst prunes
      // the unreferenced percentile aggregates out of the plan entirely
      // (the Bench.action lesson) and the probe times an empty group-by
      for ((dir, tag) <- Seq(src -> "1x", build(10) -> "10x",
          build(100) -> "100x")) {
        timed("q32_buffer_percentile", tag)(graft.Bench.action(bufferForm(dir)))
        timed("q32_grid_shipped", tag)(
          graft.Bench.action(graft.queries.RelationalQueries.q32(spark, dir)))
      }
      spark.sparkContext.removeSparkListener(lst)
    }

    // --- round-13: the q303 DEGENERATE-CELL sub-shard bound, measured
    // (verdict task 4). A synthetic template flood: every vector in ONE
    // quantizer cell (the scenario the cell count is supposed to
    // prevent but a hot template defeats), 64-dim integer grid drawn
    // from 50 distinct templates so the dup structure is dense. The
    // single-task fold pays the whole N² in one task; the shipped
    // sub-shard bound (maxTaskMembers) tiles it over shard pairs —
    // wall drops to the parallel share and MAX-TASK is the bound doing
    // its job. Stats are asserted identical (the spec pins equality;
    // this probe prints the numbers).
    if (want("q303flood")) {
      val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0)
      val lst = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val d = te.taskInfo.duration
          maxTaskMs.getAndUpdate(m => math.max(m, d)): Unit
        }
      }
      spark.sparkContext.addSparkListener(lst)
      val flood = spark.range(10000).selectExpr(
          "CAST(0 AS BIGINT) AS cell", "id AS vec_id",
          """transform(sequence(0, 63),
             k -> CAST(((id % 50) * 13 + k * 7) % 97 AS BIGINT)) AS q""")
        .localCheckpoint()
      def run(label: String, mtm: Int): Long = {
        maxTaskMs.set(0)
        val t0 = System.nanoTime()
        val rows = graft.operators.SemanticDedup
          .withinCellStats(flood, 49L, 400L, mtm).collect()
        val wall = (System.nanoTime() - t0) / 1e9
        var prev = -1L
        while (prev != maxTaskMs.get()) {
          prev = maxTaskMs.get(); Thread.sleep(300)
        }
        val r = rows.head
        println(f"$label%-26s $wall%8.3f s  max-task " +
          f"${maxTaskMs.get() / 1000.0}%7.3f s  " +
          s"(pairs ${r.getLong(2)}, removed ${r.getLong(3)})")
        r.getLong(2)
      }
      val p1 = run("q303_flood_single_task", Int.MaxValue)
      val p2 = run("q303_flood_sharded_1024", 1024)
      val p3 = run("q303_flood_sharded_512", 512)
      assert(p1 == p2 && p2 == p3,
        s"sub-sharded pair counts diverged: $p1 / $p2 / $p3")
      spark.sparkContext.removeSparkListener(lst)
    }
    spark.stop()
  }
}
