package graft

/** Plan audit: prints executed plans for the headline queries and greps
  * them for the properties that matter at 100 TB — broadcast joins on
  * dims, parquet filter/column pushdown, whole-stage codegen, and the
  * absence of unintended cartesian products. Run:
  *   sbt "runMain graft.Explain /root/testdata/sf0.01"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(8, "ERROR")

    val audit = Seq(
      // money sums are the exact unscaled-long aggregate, never
      // Spark's BigDecimal-per-row `sum`
      "q1_pricing_summary"   -> Seq("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate",
        "graft_decimal_sum"),
      "q3_shipping_priority" -> Seq("BroadcastHashJoin", "PushedFilters", "graft_decimal_sum"),
      "q5_local_supplier"    -> Seq("BroadcastHashJoin", "graft_decimal_sum"),
      // WindowGroupLimit = Spark 4's rank-filter pushdown: per-partition
      // top-k before the window sort, essential for top-k over a fact table
      "q_topk_per_group"     -> Seq("BroadcastHashJoin", "WindowGroupLimit", "graft_decimal_sum"),
      "q_scan_filter_project" -> Seq("PushedFilters"),
      // keyset pagination: the resume predicate reaches the scan
      "q_scan_page"          -> Seq("PushedFilters", "GreaterThan(o_orderkey"),
      "q_asof_join"          -> Seq("Window"),
      // custom operator tier: the planner strategy must pick AsOfJoinExec
      "q_asof_native"        -> Seq("AsOfJoin"),
      // nearest = backward + forward passes, both windows on the user key
      "q_asof_nearest"       -> Seq("Window"),
      // banded interval join: bucket explode (Generate) + equi join, no nested loop
      "q_interval_join"      -> Seq("Generate", "HashAggregate"),
      "q_org_rules_full"     -> Seq("BroadcastHashJoin"),
      // posting-list shape: windowed DF prefilter on the one exchange
      // (Window), collect_list postings (ObjectHashAggregate), pair
      // explode (Generate)
      "q_dedup_ngram_jaccard" -> Seq("Window", "ObjectHashAggregate", "Generate"),
      // same inverted-index shape: DF window on the one shingle shuffle
      "q_dup_span_frac"      -> Seq("Window", "Generate"),
      // per-run digest: one hash aggregation, messages ordered inside
      // the aggregation (no window over the log stream)
      "q_flow_errors"        -> Seq("ObjectHashAggregate"),
      "q_search_entry"       -> Seq("Window", "Generate"),
      "q_ann_topk"           -> Seq("BroadcastNestedLoopJoin"),
      // Hamming screen: broadcast queries against the one-long-per-vector
      // sketch corpus, per-query top-R window, equi-join rerank — the
      // float corpus is only touched through the shortlist hash join
      "q_ann_hamming"        -> Seq("BroadcastNestedLoopJoin", "Window",
        "BroadcastHashJoin"),
      // banded form: the candidate fetch is a bucket EQUI-join (no
      // nested loop anywhere) + the rerank window
      "q_ann_hamming_banded" -> Seq("BroadcastHashJoin", "Window"),
      // df must be a hash aggregation (map-side partials collapse hot
      // words), never a whole-partition window on the word key
      // the 1-row n_docs total rides an explicit broadcast hint — no
      // AQE rescue needed for the corpus-constant side
      "q_tfidf_top_terms"    -> Seq("Window", "HashAggregate",
        "BroadcastNestedLoopJoin"),
      "q_semi_join"          -> Seq("LeftSemi"),
      "q_anti_join"          -> Seq("LeftAnti"),
      "q_dedup_embedding"    -> Seq("HashAggregate"),
      "q_latest_version"     -> Seq("Window"),
      "q_submission_normalize" -> Seq("ReadSchema"),
      // corpus curation: the split must prune to its two columns (the
      // text never leaves the scan), the cap must use the rank
      // pushdown, and the contamination probe must broadcast the
      // benchmark set
      "q_hash_split"         -> Seq("ReadSchema: struct<doc_id:bigint,source:string>"),
      "q_domain_cap"         -> Seq("WindowGroupLimit"),
      "q_contamination"      -> Seq("BroadcastHashJoin"),
      // bloom gate: literal-bloom prefilter before the verify join
      "q_contamination_bloom" -> Seq("might_contain"),
      "q_pack_sequences"     -> Seq("Window"),
      "q_transfer_items"     -> Seq("Window", "Generate"),
      "q_url_canonical"      -> Seq("Window"),
      "q_curate_pipeline"    -> Seq("BroadcastHashJoin", "Window"),
      // row-local codegen projections: extraction never shuffles
      "q_json_mapping_extract" -> Seq("Project"),
      "q_xml_mapping_extract"  -> Seq("Project"),
      "q_automate_rec"       -> Seq("Window", "Generate"),
      // quantization is one exploded map-side projection
      "q_embed_quantize"     -> Seq("Generate"),
      // band join carries ids only; vectors re-attach via equi-joins
      "q_dedup_embedding_lsh" -> Seq("Generate", "HashAggregate"),
      // chunk frequency must be a hash aggregation (map-side partials
      // collapse viral chunks), never a window on the chunk key
      // r11: the chunker Generate moved into the materialization job
      // of the once-computed chunk frame (see chunkDedupOf)
      "q_chunk_dedup"        -> Seq("HashAggregate", "ObjectHashAggregate"),
      // the rule cascade runs at scan speed: one codegen projection
      // around the native Gopher kernel
      "q_gopher_filter"      -> Seq("Project", "graft_gopher_stats"),
      // HTML boilerplate extraction: one codegen string projection —
      // the whole family runs at scan speed
      "q_html_extract"       -> Seq("Project"),
      // encoding-cleanliness gate: same scan-speed projection shape
      "q_encoding_quality"   -> Seq("Project"),
      // embedding validation gate: scan-speed projection too
      "q_embed_health"       -> Seq("Project"),
      // C4-style blocklist gate: one regex projection at scan speed
      "q_blocklist_filter"   -> Seq("Project"),
      // ADC: encoded corpus joins the per-query LUT via broadcast —
      // the corpus side of the search carries codes, not vectors
      "q_ann_pq"             -> Seq("BroadcastHashJoin"),
      // incremental probe: batch bands equi-join the index bands
      "q_dedup_incremental"  -> Seq("HashAggregate"),
      // report: one grouped agg, dup rate via hash aggregation
      "q_corpus_report"      -> Seq("HashAggregate"),
      // semdedup: centroids ride a broadcast; within-cell candidates
      // come from a hash equi-join on the cell id, never a nested loop
      "q_semdedup"           -> Seq("BroadcastNestedLoopJoin", "HashAggregate"),
      // bigram-LM model counts are hash aggregations (map-side partials
      // collapse Zipfian hot bigrams), per-doc fold is the sorted
      // collect_list (ObjectHashAggregate); model joins are plain
      // equi-joins, never hand-broadcast (vocabulary-sized)
      "q_lm_perplexity"      -> Seq("HashAggregate", "ObjectHashAggregate"),
      // DSIR: the session-trained 256-bucket model rides as literal
      // arrays, so scoring is ONE projection over the native per-doc
      // bucket counts with a compiled sort_array fold (no join, no
      // explode, no per-doc regroup — see the forbids below)
      "q_dsir_weights"       -> Seq("graft_md5_bucket_counts", "sort_array"),
      // resampling: hourly rollup is a hash aggregation (map-side
      // partials collapse the raw stream), spine is a Generate off the
      // tiny per-user bounds frame
      // keep rule: rank + member-count share one cluster_id window
      // partitioning; only text LENGTH rides the join, never the text
      "q_dedup_keep"         -> Seq("Window"),
      "q_gap_fill"           -> Seq("HashAggregate", "Generate"),
      "q_locf"               -> Seq("Window", "Generate"),
      // FIR smoothing: one user-key window, O(1) frame state
      "q_ewma"               -> Seq("Window"),
      // anomaly: dense spine Generate + exact-integer-sum trailing window
      "q_anomaly"            -> Seq("Window", "Generate", "HashAggregate"),
      // winsorize: 5-row bounds frame rides a broadcast; clip is map-side
      "q_winsorize"          -> Seq("BroadcastHashJoin"),
      "q_winsorize_approx"   -> Seq("BroadcastHashJoin"),
      // hopping: the 4-way window replication stays inside codegen
      // (Expand), one shuffle on (window, type)
      "q_hopping_window"     -> Seq("Expand", "HashAggregate"),
      // substring dedup: window frequency as a hash aggregation
      // (map-side partials collapse viral windows), coverage explode,
      // one per-doc reassembly — never a pair join. The native
      // graft_window_hashes pass runs inside the wins checkpoint's
      // producing job, so it is invisible in this (post-checkpoint)
      // plan; its value-identity is pinned in WindowHashesSpec.
      "q_substring_dedup"    -> Seq("HashAggregate",
        "Generate", "ObjectHashAggregate"),
      // tercile cutoffs are a tiny per-language aggregate broadcast
      // back — assignment is map-side, no per-language window sort
      "q_ppl_buckets"        -> Seq("BroadcastHashJoin", "ObjectHashAggregate"),
      // exact kNN graph: the deliberate broadcast nested loop baseline
      "q_knn_graph"          -> Seq("BroadcastNestedLoopJoin"),
      // per-label centroids: narrow explode + two hash aggregations,
      // never a whole-vector groupBy
      "q_embed_centroids"    -> Seq("Generate", "ObjectHashAggregate"),
      // outliers: distance joins through narrow (label, idx) rows;
      // the rank window partitions on the bounded label key
      // r11: the 64× posexplode moved into the materialization job of
      // the once-exploded ex frame (see embedOutliers)
      "q_embed_outliers"     -> Seq("ObjectHashAggregate", "Window"),
      // leaderboard: df via hash agg (map-side collapses the viral
      // phrases), top-k as a per-partition heap, no global sort
      "q_top_ngrams"         -> Seq("HashAggregate", "TakeOrderedAndProject"),
      // CMS: one explode + one hash agg on (row, bucket); the width
      // explode is a Generate, never a 256-wide sum-CASE
      "q_token_cms"          -> Seq("HashAggregate", "Generate"),
      // DAU/WAU: distinct-then-count chains (plain hash aggs), the ×7
      // coverage explode, 1-row bounds frame broadcast
      "q_dau_wau"            -> Seq("HashAggregate", "Generate", "BroadcastHashJoin",
        "BroadcastNestedLoopJoin"),
      // funnel: stage totals are a 1-row frame on an explicit broadcast
      "q_funnel"             -> Seq("HashAggregate", "BroadcastNestedLoopJoin"),
      // cohorts: one (user, week) distinct feeds everything; sizes
      // rejoin via broadcast
      "q_retention_cohorts"  -> Seq("HashAggregate", "BroadcastHashJoin"),
      // overlap audit: posting-list equi-join on the fingerprint —
      // only sources actually sharing content meet; the text never
      // leaves the scan beyond fingerprinting
      "q_source_overlap"     -> Seq("HashAggregate",
        "ReadSchema: struct<text:string,source:string>"),
      // BM25: one scoring projection against the session-trained model,
      // top-k a per-partition heap — never a global sort
      "q_bm25_topk"          -> Seq("TakeOrderedAndProject"),
      // chunking is one map-side Generate
      "q_rag_chunks"         -> Seq("Generate"),
      // phrase match is a pruned-scan column chain
      "q_phrase_search"      -> Seq("ReadSchema: struct<doc_id:bigint,text:string>"),
      // RRF: both shortlists are per-partition heaps; fusion is a
      // join of two k-row frames
      "q_rank_fusion"        -> Seq("TakeOrderedAndProject"),
      // migration is one shuffle-free projection reading one column
      "q_migrate_legacy_ids" -> Seq("ReadSchema: struct<doc_id:bigint>"),
      // binary parsing + the mixed catalog: pure scan-speed projections
      "q_image_meta"         -> Seq("Project"),
      "q_audio_meta"         -> Seq("Project"),
      "q_media_catalog"      -> Seq("Project"),
      // bounded sketch: one ObjectHashAggregate, label recovery via
      // broadcast semi-filter — the vocabulary never shuffles whole
      "q_heavy_hitters"      -> Seq("ObjectHashAggregate", "LeftSemi"),
      // rebalance rates are a language-sized aggregate broadcast back;
      // keep/drop is a map-side hash compare on the broadcast rate
      "q_lang_rebalance"     -> Seq("BroadcastHashJoin", "HashAggregate"),
      // NB classifier: vocabulary-sized model joins stay planner-decided
      // equi-joins, class-sized frames broadcast, per-(doc, class)
      // fold is the sorted collect_list
      "q_nb_classify"        -> Seq("BroadcastHashJoin", "ObjectHashAggregate",
        "BroadcastNestedLoopJoin"),
      // PageRank: every iteration is one equi-join + one hash agg on
      // the destination key; N rides a broadcast 1-row aggregate
      "q_graph_pagerank"     -> Seq("HashAggregate", "BroadcastNestedLoopJoin"),
      // same iteration over the IVF-mined edges — the scale path
      "q_graph_pagerank_ivf" -> Seq("HashAggregate", "BroadcastNestedLoopJoin"),
      // containment: same posting-list inverted-index shape as the
      // jaccard miner — df window on the one shingle exchange, pairs
      // generated array-side
      "q_dedup_containment"  -> Seq("Window", "ObjectHashAggregate", "Generate"),
      // transition matrix: one per-user lag window + one |types|^2-
      // bounded hash agg; type-sized totals broadcast back
      "q_event_transitions"  -> Seq("Window", "HashAggregate", "BroadcastHashJoin"),
      // KL drift: corpus counts roll up from the same exploded frame,
      // the source rollup is the sorted collect_list fold
      "q_source_kl"          -> Seq("HashAggregate", "ObjectHashAggregate"),
      // semantic gate: eval vectors ride a broadcast, the corpus scan
      // stays map-side (the embedding analog of the n-gram probe)
      "q_semantic_decontam"  -> Seq("BroadcastNestedLoopJoin"),
      // ensemble: the components' audited plans joined on doc_id; the
      // model-sized frames still broadcast inside their components
      "q_quality_ensemble"   -> Seq("BroadcastHashJoin", "ObjectHashAggregate"),
      // PMI: three hash aggs off one bigram explode, top-k heap
      "q_pmi_collocations"   -> Seq("HashAggregate", "TakeOrderedAndProject"),
      // backoff LM: count tables are hash aggs joined back as plain
      // equi-joins (a web-scale trigram table is never hand-broadcast)
      "q_backoff_score"      -> Seq("HashAggregate", "ObjectHashAggregate"),
      // co-occurrence: map-side pair lambda + ONE hash agg + heap —
      // never a positions self-join
      "q_cooccurrence"       -> Seq("Generate", "HashAggregate",
        "TakeOrderedAndProject"),
      // duplication profile: two bounded hash rollups off the cached
      // cluster map
      "q_dup_profile"        -> Seq("HashAggregate"),
      // --- scan-algebra pushdown assertions: every filter form the
      // reference's scan_table exposes must reach the parquet reader
      // (strings verified against executed plans; long PushedFilters
      // lists elide their tail, so each asserts a surviving prefix)
      "q_scan_project"       -> Seq(
        "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double,o_orderdate"),
      "q_filter_begins_with" -> Seq("PushedFilters", "StringStartsWith(c_name"),
      "q_filter_contains"    -> Seq("PushedFilters", "StringContains(p_type"),
      "q_filter_cmp"         -> Seq("PushedFilters", "IsNotNull(l_quantity)"),
      "q_filter_between_in"  -> Seq("PushedFilters",
        "GreaterThanOrEqual(o_totalprice,200000.0)"),
      "q_filter_null_semantics" -> Seq("PushedFilters", "LessThan(o_orderkey,2000)"),
      // composite keyset resume: the row-value predicate pushes as an Or
      // on the leading key (literal elided — the token VALUE is derived
      // from page 1 of the data, so pinning it would couple the audit
      // to one sf; the shape is what matters)
      "q_scan_page_composite" -> Seq("PushedFilters", "Or(GreaterThan(o_custkey,"),
      // --- aggregation-shape assertions for the remaining headline ops
      // (HashAggregate = map-side partials; ObjectHashAggregate = the
      // sketch/percentile buffers; Expand only where ROLLUP needs it)
      "q_range_join"         -> Seq("BroadcastHashJoin"),
      "q_salted_join"        -> Seq("Generate", "HashAggregate"),
      "q_hll_union"          -> Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      "q_rollup_revenue"     -> Seq("Expand", "HashAggregate"),
      "q_pivot_events"       -> Seq("HashAggregate"),
      "q_percentiles"        -> Seq("ObjectHashAggregate"),
      "q_distinct_users"     -> Seq("HashAggregate"),
      "q_dedup_exact"        -> Seq("HashAggregate"),
      "q_org_closure"        -> Seq("Generate"),
      "q_tumbling_window"    -> Seq("HashAggregate"),
      "q_sessionize"         -> Seq("HashAggregate"),
      // native TokenCounts feeds the corpus-frequency rollup and the
      // per-doc sorted-fold rollup (ObjectHashAggregate)
      "q_token_rarity"       -> Seq("ObjectHashAggregate"),
      // temperature resample: two bounded rollups, rates broadcast back,
      // accept is a map-side hash compare
      "q_temperature_mix"    -> Seq("HashAggregate", "BroadcastHashJoin",
        "BroadcastNestedLoopJoin"),
      // BPE-budget packing: the encoder is a per-row expression, so the
      // only shuffle is the per-group packing window
      "q_pack_sequences_bpe" -> Seq("Window"),
      // token-space decontamination: same broadcast-probe shape as the
      // word-space gate — the encoder adds no join or shuffle
      "q_contamination_bpe"  -> Seq("BroadcastHashJoin"),
      // tokenizer-health report: map-side array accounting + ONE
      // per-source hash agg — no explode, no join
      "q_bpe_coverage"       -> Seq("HashAggregate"),
      // token-budget mix: encoder is a projection; the exact quota costs
      // exactly one shuffle — the per-source running-total window
      "q_token_budget_mix"   -> Seq("Window"),
      // its utilization report adds one per-source rollup on top
      "q_token_budget_report" -> Seq("Window", "HashAggregate"))

    // anti-patterns per query: substrings that must NOT appear. Expand
    // is countDistinct's row-multiplying fallback — these queries are
    // shaped as distinct-then-plain-count precisely to avoid it; a
    // Window would mean a whole-partition sort the agg shape avoids.
    val forbids = Map(
      // scoring against the session-trained DSIR model is one
      // projection: a Generate or a regroup means the per-(doc, bucket)
      // rows are back
      "q_dsir_weights"      -> Seq("Generate", "ObjectHashAggregate", "Join"),
      // the same for BM25 against its session-trained model
      "q_bm25_topk"         -> Seq("Generate", "ObjectHashAggregate", "Join"),
      // the Gopher rules are one native pass: a lambda, a regex match
      // or a regex rewrite means the interpreted chain is back
      "q_gopher_filter"     -> Seq("lambdafunction", "RLIKE", "regexp_replace"),
      // real-BPE token accounting is a pure native-expression
      // projection: no join, no aggregation — encoding a 100 TB corpus
      // must stay a scan; the id stream inherits the same shape (the
      // vocab rides the closure, NOT a join)
      "q_bpe_tokens"        -> Seq("Join", "HashAggregate", "Window"),
      "q_bpe_ids"           -> Seq("Join", "HashAggregate", "Window"),
      // the quota verdict needs no join and no aggregation — both window
      // sums share the one per-source exchange
      "q_token_budget_mix"  -> Seq("Join", "HashAggregate"),
      "q_token_cms"         -> Seq("Expand", "Window"),
      "q_dau_wau"           -> Seq("Expand", "Window"),
      "q_retention_cohorts" -> Seq("Expand", "Window"),
      "q_source_overlap"    -> Seq("Expand", "Window"),
      "q_rag_chunks"        -> Seq("Join", "HashAggregate", "Window"),
      "q_phrase_search"     -> Seq("Join", "HashAggregate", "Window"),
      "q_migrate_legacy_ids" -> Seq("Join", "HashAggregate", "Window", "Exchange hash"),
      "q_image_meta"        -> Seq("Join", "HashAggregate", "Window"),
      "q_audio_meta"        -> Seq("Join", "HashAggregate", "Window"),
      "q_media_catalog"     -> Seq("Join", "HashAggregate", "Window"),
      "q_html_extract"      -> Seq("Join", "HashAggregate", "Window"),
      "q_encoding_quality"  -> Seq("Join", "HashAggregate", "Window"),
      "q_embed_health"      -> Seq("Join", "HashAggregate", "Window"),
      "q_blocklist_filter"  -> Seq("Join", "HashAggregate", "Window"))

    // the curate pipeline's whole cost at scale is corpus scans: quality,
    // content key, and split must share ONE projection, so `documents`
    // may appear at most twice (main scan + contamination side agg)
    val scanCaps = Map("q_curate_pipeline" -> ("documents", 2))

    var bad = 0
    audit.foreach { case (name, expects) =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      val missing = expects.filterNot(plan.contains)
      val present = forbids.getOrElse(name, Nil).filter(plan.contains)
      val cartesian = plan.contains("CartesianProduct")
      val overScan = scanCaps.get(name).flatMap { case (table, cap) =>
        val n = plan.linesIterator.count(l => l.contains("Scan parquet") && l.contains(table))
        if (n > cap) Some(s"$n scans of $table (cap $cap)") else None
      }
      if (missing.nonEmpty || present.nonEmpty || cartesian || overScan.nonEmpty) {
        bad += 1
        println(s"== $name: MISSING=${missing.mkString(",")}" +
          (if (present.nonEmpty) s" FORBIDDEN=${present.mkString(",")}" else "") +
          s" cartesian=$cartesian" +
          overScan.map(o => s" overScan=$o").getOrElse(""))
        println(plan.linesIterator.take(40).mkString("\n"))
      } else println(s"== $name: OK")
    }
    // global tripwire: EVERY registered query — audited above or not —
    // must plan without a CartesianProduct (the one operator that is
    // never acceptable at corpus scale; deliberate small-side nested
    // loops plan as BroadcastNestedLoopJoin, which this does not flag)
    val audited = audit.map(_._1).toSet
    SparkEntry.queries.keys.toSeq.sorted.filterNot(audited).foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) {
        bad += 1
        println(s"== $name: CARTESIAN (unaudited query)")
      }
    }
    println(s"== audit ${if (bad == 0) "clean" else s"$bad problems"} " +
      s"(${audited.size} shape-audited + ${SparkEntry.queries.size - audited.size} cartesian-swept)")
    spark.stop()
    // a red audit must fail visibly for CI/driver use, not just print
    if (bad > 0) sys.exit(1)
  }
}
