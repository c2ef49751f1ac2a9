package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a DuckDB twin in `oracleSql` unless the
  * operator is not SQL-expressible (then the driver records a rows-only
  * check). Determinism rules (SURVEY.md §5.2): total ORDER BY with key
  * tie-break; exact DECIMAL(18,6) sums for float aggregates (bitwise
  * engine-portable — see Relational.dsum) instead of rounding raw double
  * sums; identical column names on both sides; integer outputs cast to
  * BIGINT on both sides; no raw ns-timestamps in output.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    WordCount.wordCount(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.A reference core: word-count MapReduce family ----
    "wordcount"           -> ((s, d) => WordCount.wordCount(s, d)),
    "wordcount_rdd"       -> ((s, d) => WordCount.wordCountRdd(s, d)),
    "top10_words"         -> ((s, d) => WordCount.topKWords(s, d, 10)),
    "perlang_wordcount"   -> ((s, d) => WordCount.perLangWordCount(s, d)),
    "stopword_wordcount"  -> ((s, d) => WordCount.stopwordFiltered(s, d)),
    "top_term_per_doc"    -> ((s, d) => WordCount.topTermPerDoc(s, d)),
    "doc_token_counts"    -> ((s, d) => WordCount.docTokenCounts(s, d)),
    "q_topk_udaf"         -> ((s, d) => WordCount.topKUdaf(s, d, 10)),
    "q_sort_within"       -> ((s, d) => WordCount.sortWithinPartitions(s, d)),
    // ---- B2 projections / filters / predicates ----
    "q_filter_project"    -> ((s, d) => Relational.filterProject(s, d)),
    "q_in_like"           -> ((s, d) => Relational.inLikeBetween(s, d)),
    "q_null_handling"     -> ((s, d) => Relational.nullHandling(s, d)),
    // ---- B3 joins ----
    "q_join_factfact"     -> ((s, d) => Relational.joinFactFact(s, d)),
    "q_join_salted"       -> ((s, d) => Relational.joinFactFactSalted(s, d)),
    "q_star_join"         -> ((s, d) => Relational.starJoin(s, d)),
    "q_broadcast_join"    -> ((s, d) => Relational.broadcastJoin(s, d)),
    "q_left_outer"        -> ((s, d) => Relational.leftOuterJoin(s, d)),
    "q_full_outer"        -> ((s, d) => Relational.fullOuterJoin(s, d)),
    "q_semi_join"         -> ((s, d) => Relational.semiJoin(s, d)),
    "q_anti_join"         -> ((s, d) => Relational.antiJoin(s, d)),
    // r9: BOTH names run the banded equi-join plan — no registered query
    // broadcasts a growing table (VERDICT r8 ask #2). The naive
    // broadcast-NLJ form survives as the unregistered didactic baseline
    // Relational.thetaJoin, pinned equal to the banded plan in
    // RelationalSpec; q_theta_join_banded keeps its name for bench
    // continuity.
    "q_theta_join"        -> ((s, d) => Relational.thetaJoinBanded(s, d)),
    "q_theta_join_banded" -> ((s, d) => Relational.thetaJoinBanded(s, d)),
    "q_range_join"        -> ((s, d) => Relational.rangeJoin(s, d)),
    "q_range_join_banded" -> ((s, d) => Relational.rangeJoinBanded(s, d)),
    "q_scalar_subquery"   -> ((s, d) => Relational.scalarSubquery(s, d)),
    "q_unpivot"           -> ((s, d) => Relational.unpivotMeasures(s, d)),
    "q_lateral_topk"      -> ((s, d) => Relational.lateralTopCustomers(s, d)),
    "q_not_exists"        -> ((s, d) => Relational.notExistsCustomers(s, d)),
    "q_recursive_cte"     -> ((s, d) => Relational.recursiveAncestors(s, d)),
    "q_scd2"              -> ((s, d) => Relational.scd2Build(s, d)),
    "q_scd2_incremental"  -> ((s, d) => Relational.scd2Incremental(s, d)),
    "q_time_travel"       -> ((s, d) => Relational.scd2AsOf(s, d)),
    "q_cdc_apply"         -> ((s, d) => Relational.cdcApply(s, d)),
    "q_profile"           -> ((s, d) => Curation.profileOrders(s, d)),
    "q_profile_approx"    -> ((s, d) => Curation.profileOrdersApprox(s, d)),
    "q_session_paths"     -> ((s, d) => Funnels.sessionPaths(s, d)),
    "q_session_stats"     -> ((s, d) => Funnels.sessionStats(s, d)),
    "q_rfm"               -> ((s, d) => Windows.rfmSegments(s, d)),
    "q_skyline"           -> ((s, d) => Relational.skylineParts(s, d)),
    "q_skyline_custom"    -> ((s, d) => Relational.skylinePartsCustom(s, d)),
    "q_table_diff"        -> ((s, d) => Relational.tableDiff(s, d)),
    "q_csv_source"        -> ((s, d) => Sources.csvCustomerSegments(s, d)),
    "q_jsonl_source"      -> ((s, d) => Sources.jsonlDocsPerLang(s, d)),
    "q_orc_source"        -> ((s, d) => Sources.orcOrderPriorities(s, d)),
    "q_csv_events"        -> ((s, d) => Sources.csvEventsNs(s, d)),
    "q_jsonl_events"      -> ((s, d) => Sources.jsonlEventsNs(s, d)),
    "q_orc_events"        -> ((s, d) => Sources.orcEventsNs(s, d)),
    "q_iqr_outliers"      -> ((s, d) => Aggregates.iqrOutliers(s, d)),
    "q_weighted_median"   -> ((s, d) => Aggregates.weightedMedian(s, d)),
    "q_kwic"              -> ((s, d) => TextAnalysis.kwic(s, d)),
    "q_schema_evolution"  -> ((s, d) => Sources.schemaEvolution(s, d)),
    "q_partition_overwrite" -> ((s, d) => Sources.partitionOverwrite(s, d)),
    "q_join_profile"      -> ((s, d) => Relational.joinSizeProfile(s, d)),
    "q_compaction"        -> ((s, d) => operators.Layout.compactionReport(s, d)),
    "q_compaction_binpack" -> ((s, d) => operators.Layout.compactionBinpack(s, d)),
    "q_purge_cascade"     -> ((s, d) => Relational.purgeCascade(s, d)),
    "q_spatial_join"      -> ((s, d) => Relational.spatialJoin(s, d)),
    "q_asof_join"         -> ((s, d) => Relational.asOfJoin(s, d)),
    "q_asof_join_custom"  -> ((s, d) => Relational.asOfJoinCustom(s, d)),
    "q_asof_join_tolerance" -> ((s, d) => Relational.asOfJoinTolerance(s, d)),
    "q_asof_join_forward" -> ((s, d) => Relational.asOfJoinForward(s, d)),
    "q_asof_join_payload" -> ((s, d) => Relational.asOfJoinPayload(s, d)),
    "q_asof_join_nearest" -> ((s, d) => Relational.asOfJoinNearest(s, d)),
    "q_interval_join"     -> ((s, d) => Relational.intervalJoin(s, d)),
    // ---- B4 aggregations ----
    "q1_agg"              -> ((s, d) => Aggregates.q1PricingSummary(s, d)),
    "q_global_agg"        -> ((s, d) => Aggregates.globalAgg(s, d)),
    "q_count_distinct"    -> ((s, d) => Aggregates.countDistinctUsers(s, d)),
    "q_approx_distinct"   -> ((s, d) => Aggregates.approxDistinctUsers(s, d)),
    "q_hll_overlap"       -> ((s, d) => Aggregates.hllOverlap(s, d)),
    "q_hll_overlap_sketch" -> ((s, d) => Aggregates.hllOverlapSketch(s, d)),
    "q_kmv_distinct"      -> ((s, d) => Aggregates.kmvDistinct(s, d)),
    "q_kmv_cube"          -> ((s, d) => Aggregates.kmvCubeServed(s, d)),
    "q_kmv_cube_incremental" -> ((s, d) => Aggregates.kmvCubeIncremental(s, d)),
    "q_kmv_cube_sketch"   -> ((s, d) => Aggregates.kmvCubeSketch(s, d)),
    "q_kmv_overlap"       -> ((s, d) => Aggregates.kmvOverlap(s, d)),
    "q_kmv_overlap_sketch" -> ((s, d) => Aggregates.kmvOverlapSketch(s, d)),
    "q_hll_cube"          -> ((s, d) => Aggregates.hllCubeServed(s, d)),
    "q_quantile_cube"     -> ((s, d) => Aggregates.quantileCubeServed(s, d)),
    "q_dd_cube"            -> ((s, d) => Aggregates.ddCubeServed(s, d)),
    "q_dd_cube_signed"     -> ((s, d) => Aggregates.ddCubeSigned(s, d)),
    "q_dd_cube_signed_incremental" -> ((s, d) => Aggregates.ddCubeSignedIncremental(s, d)),
    "q_dd_cube_incremental" -> ((s, d) => Aggregates.ddCubeIncremental(s, d)),
    "q_quantile_cube_incremental" -> ((s, d) => Aggregates.quantileCubeIncremental(s, d)),
    "q_skew_audit"        -> ((s, d) => Curation.skewAudit(s, d)),
    "q_rollup"            -> ((s, d) => Aggregates.rollupRevenue(s, d)),
    "q_cube"              -> ((s, d) => Aggregates.cubeOrders(s, d)),
    "q_collect"           -> ((s, d) => Aggregates.collectEventTypes(s, d)),
    "q_percentile_stats"  -> ((s, d) => Aggregates.percentileStats(s, d)),
    "q_corr_stats"        -> ((s, d) => Aggregates.corrStats(s, d)),
    "q_ols_trend"         -> ((s, d) => Aggregates.olsTrend(s, d)),
    "q_minmax_by"         -> ((s, d) => Aggregates.minMaxBy(s, d)),
    "q_median_hist"       -> ((s, d) => Aggregates.medianHist(s, d)),
    "q_mode_hist"         -> ((s, d) => Aggregates.modeHist(s, d)),
    "q_mad_hist"          -> ((s, d) => Aggregates.madHist(s, d)),
    "q_approx_percentile" -> ((s, d) => Aggregates.approxPercentiles(s, d)),
    "q_cms_counts"        -> ((s, d) => Aggregates.cmsWordCounts(s, d)),
    "q_cms_cube"          -> ((s, d) => Aggregates.cmsCubeServed(s, d)),
    "q_mv_cube"           -> ((s, d) => MaterializedView.mvCube(s, d)),
    "q_mv_rewrite"        -> ((s, d) => MaterializedView.mvServed(s, d)),
    "q_mv_incremental"    -> ((s, d) => MaterializedView.mvIncremental(s, d)),
    "q_pivot"             -> ((s, d) => Aggregates.pivotEventCounts(s, d)),
    "q_grouping_sets"     -> ((s, d) => Aggregates.groupingSetsOrders(s, d)),
    // ---- B5 windows ----
    "q_window_topk"       -> ((s, d) => Windows.topKPerUser(s, d)),
    "q_window_lag"        -> ((s, d) => Windows.lagDelta(s, d)),
    "q_window_running"    -> ((s, d) => Windows.runningTotal(s, d)),
    "q_window_trailing1h" -> ((s, d) => Windows.trailing1h(s, d)),
    "q_percent_rank"      -> ((s, d) => Windows.percentRank(s, d)),
    "q_window_nav"        -> ((s, d) => Windows.navFunctions(s, d)),
    "q_ntile"             -> ((s, d) => Windows.ntileBalance(s, d)),
    "q_ntile_dist"        -> ((s, d) => Windows.ntileBalanceDist(s, d)),
    "q_gapfill"           -> ((s, d) => Windows.gapfillHourly(s, d)),
    "q_twap"              -> ((s, d) => Windows.twapPerUser(s, d)),
    "q_ewma"              -> ((s, d) => Windows.ewmaPerUser(s, d)),
    "q_ewma_fold"         -> ((s, d) => Windows.ewmaFold(s, d)),
    "q_seasonal_naive"    -> ((s, d) => Windows.seasonalNaive(s, d)),
    "q_pareto_abc"        -> ((s, d) => Windows.paretoAbc(s, d)),
    "q_gini"              -> ((s, d) => Windows.giniRevenue(s, d)),
    // ---- B6 sorts / limits / set ops ----
    "q_top20_orders"      -> ((s, d) => SetOps.topOrders(s, d)),
    "q_union_all"         -> ((s, d) => SetOps.unionAll(s, d)),
    "q_union_by_name"     -> ((s, d) => SetOps.unionByNameEvolved(s, d)),
    "q_intersect"         -> ((s, d) => SetOps.intersectNations(s, d)),
    "q_except"            -> ((s, d) => SetOps.exceptNations(s, d)),
    "q_distinct_pairs"    -> ((s, d) => SetOps.distinctPairs(s, d)),
    // ---- B7 scalar function families ----
    "q_string_funcs"      -> ((s, d) => Scalars.stringFuncs(s, d)),
    "q_date_funcs"        -> ((s, d) => Scalars.dateFuncs(s, d)),
    "q_math_funcs"        -> ((s, d) => Scalars.mathFuncs(s, d)),
    "q_array_funcs"       -> ((s, d) => Scalars.arrayFuncs(s, d)),
    "q_json_funcs"        -> ((s, d) => Scalars.jsonFuncs(s, d)),
    "q_map_funcs"         -> ((s, d) => Scalars.mapFuncs(s, d)),
    "q_conditional"       -> ((s, d) => Scalars.conditionalFuncs(s, d)),
    "q_window_topk_custom" -> ((s, d) => Windows.topKPerUserCustom(s, d)),
    // ---- B9 dedup ----
    "q_dedup_exact"       -> ((s, d) => Dedup.exactDedup(s, d)),
    "q_dedup_hash"        -> ((s, d) => Dedup.hashDedup(s, d)),
    "q_neardup_jaccard"   -> ((s, d) => Dedup.jaccardPairs(s, d)),
    "q_neardup_ppjoin"    -> ((s, d) => Dedup.ppjoinPairs(s, d)),
    "q_simjoin_rewrite"   -> ((s, d) => Dedup.simJoinDeclarative(s, d)),
    "q_neardup_minhash"   -> ((s, d) => Dedup.minhashPairs(s, d)),
    "q_simhash"           -> ((s, d) => Dedup.simhashFingerprints(s, d)),
    "q_minhash_sig"       -> ((s, d) => Dedup.minhashSignatures(s, d)),
    "q_neardup_simhash"   -> ((s, d) => Dedup.simhashPairs(s, d)),
    "q_neardup_clusters"  -> ((s, d) => Dedup.neardupClusters(s, d)),
    "q_dedup_incremental" -> ((s, d) => Dedup.incrementalSurvivors(s, d)),
    "q_dedup_bloom"       -> ((s, d) => Dedup.incrementalSurvivorsBloom(s, d)),
    "q_dedup_embedding"   -> ((s, d) => Dedup.embeddingPairs(s, d)),
    "q_embedding_clusters" -> ((s, d) => Dedup.embeddingClusters(s, d)),
    "q_embedding_clusters_tight" -> ((s, d) => Dedup.embeddingClustersTight(s, d)),
    // ---- B9 text analysis ----
    "q_tfidf"             -> ((s, d) => TextAnalysis.tfidfTop3(s, d)),
    "q_bigrams"           -> ((s, d) => TextAnalysis.bigramCounts(s, d)),
    "q_langid"            -> ((s, d) => TextAnalysis.langId(s, d)),
    "q_langid_audit"      -> ((s, d) => TextAnalysis.langIdAudit(s, d)),
    "q_langid_kappa"      -> ((s, d) => TextAnalysis.langIdKappa(s, d)),
    "q_naive_bayes"       -> ((s, d) => TextAnalysis.naiveBayes(s, d)),
    "q_nb_holdout"        -> ((s, d) => TextAnalysis.nbHoldout(s, d)),
    "q_zipf_slope"        -> ((s, d) => TextAnalysis.zipfSlope(s, d)),
    "q_gopher_rules"      -> ((s, d) => TextAnalysis.gopherRules(s, d)),
    "q_heaps_curve"       -> ((s, d) => TextAnalysis.heapsCurve(s, d)),
    "q_quality"           -> ((s, d) => TextAnalysis.qualityScore(s, d)),
    "q_fingerprint"       -> ((s, d) => TextAnalysis.fingerprints(s, d)),
    "q_winnow"            -> ((s, d) => TextAnalysis.winnowFingerprints(s, d)),
    "q_token_stats"       -> ((s, d) => TextAnalysis.tokenStats(s, d)),
    "q_repetition"        -> ((s, d) => TextAnalysis.repetition(s, d)),
    "q_phrase_search"     -> ((s, d) => TextAnalysis.phraseSearch(s, d)),
    "q_skipgram"          -> ((s, d) => TextAnalysis.skipgramPairs(s, d)),
    // ---- B9 corpus curation: LM scoring, vocab, collocations, PII ----
    "q_lm_perplexity"     -> ((s, d) => Curation.lmPerplexity(s, d)),
    "q_char_entropy"      -> ((s, d) => Curation.charEntropy(s, d)),
    "q_vocab_prune"       -> ((s, d) => Curation.vocabPrune(s, d)),
    "q_pmi_bigrams"       -> ((s, d) => Curation.pmiBigrams(s, d)),
    "q_fuzzy_vocab"       -> ((s, d) => Curation.fuzzyVocabPairs(s, d)),
    "q_pii_scrub"         -> ((s, d) => Curation.piiScrub(s, d)),
    "q_dup_ngrams"        -> ((s, d) => Dedup.dupNgramFractions(s, d)),
    "q_dup_spans"         -> ((s, d) => Dedup.dupSpans(s, d)),
    "q_suffix_dedup"      -> ((s, d) => SuffixDedup.suffixDedup(s, d)),
    "q_suffix_mask"       -> ((s, d) => SuffixDedup.suffixMask(s, d)),
    "q_suffix_mask_incremental" -> ((s, d) => SuffixDedup.suffixMaskIncremental(s, d)),
    "q_suffix_spans_served" -> ((s, d) => SuffixDedup.suffixSpansServed(s, d)),
    "q_span_scrub"        -> ((s, d) => Dedup.spanScrub(s, d)),
    "q_containment"       -> ((s, d) => Dedup.containmentPairs(s, d)),
    "q_minhash_est"       -> ((s, d) => Dedup.minhashEstimate(s, d)),
    "q_minhash_band_curve" -> ((s, d) => Dedup.minhashBandCurve(s, d)),
    // ---- B9 pipeline composition: decontamination + keep set ----
    "q_decontaminate"     -> ((s, d) => Pipeline.decontaminate(s, d)),
    "q_decontaminate_overlap" -> ((s, d) => Pipeline.decontaminateOverlap(s, d)),
    "q_pipeline_keep"     -> ((s, d) => Pipeline.keepSet(s, d)),
    "q_pipeline_keep_neardup" -> ((s, d) => Pipeline.keepSetNearDup(s, d)),
    "q_pipeline_curated"  -> ((s, d) => Pipeline.curatedKeepSet(s, d)),
    "q_pipeline_substr"   -> ((s, d) => Pipeline.curatedSubstrKeepSet(s, d)),
    "q_dataset_card"      -> ((s, d) => Pipeline.datasetCard(s, d)),
    "q_split_leakage"     -> ((s, d) => Pipeline.splitLeakage(s, d)),
    "q_pack_texts"        -> ((s, d) => Pipeline.packTexts(s, d)),
    // ---- B9 deterministic sampling / data mixing ----
    "q_sample_stratified" -> ((s, d) => Sampling.stratifiedSample(s, d)),
    "q_sample_k_per_lang" -> ((s, d) => Sampling.sampleKPerStratum(s, d)),
    "q_sample_importance" -> ((s, d) => Sampling.importanceSample(s, d)),
    "q_pack_sequences"    -> ((s, d) => Pipeline.packSequences(s, d)),
    "q_source_mix"        -> ((s, d) => Sampling.sourceMix(s, d)),
    "q_train_val_test"    -> ((s, d) => Sampling.trainValTest(s, d)),
    "q_length_histogram"  -> ((s, d) => Curation.lengthHistogram(s, d)),
    "q_vocab_coverage"    -> ((s, d) => Curation.vocabCoverage(s, d)),
    "q_mixture_rebalance" -> ((s, d) => Sampling.mixtureRebalance(s, d)),
    "q_token_budget"      -> ((s, d) => Sampling.tokenBudget(s, d)),
    "q_mixture_temp"      -> ((s, d) => Sampling.mixtureTemperature(s, d)),
    "q_chunk_overlap"     -> ((s, d) => Curation.chunkOverlap(s, d)),
    "q_vocab_encode"      -> ((s, d) => Curation.vocabEncode(s, d)),
    "q_feature_hash"      -> ((s, d) => Curation.featureHash(s, d)),
    "q_shuffle_det"       -> ((s, d) => Sampling.deterministicShuffle(s, d)),
    "q_shard_manifest"    -> ((s, d) => Sampling.shardManifest(s, d)),
    // ---- B9 similarity search ----
    "q_cosine_topk"       -> ((s, d) => Similarity.cosineTopK(s, d)),
    "q_hard_negatives"    -> ((s, d) => Similarity.hardNegatives(s, d)),
    "q_ann_topk"          -> ((s, d) => Similarity.annTopK(s, d)),
    // the stored-index SERVING lifecycle (r10): index built + written once
    // per session, queries read stored buckets/postings — same results,
    // same full oracles as the scan-time forms
    "q_ann_served"        -> ((s, d) => Similarity.annServed(s, d)),
    "q_ann_incremental"   -> ((s, d) => Similarity.annIncremental(s, d)),
    "q_ann_recall"        -> ((s, d) => Similarity.annRecall(s, d)),
    // the raw IVF operator benches as itself (fully hash-checked since
    // r15's deterministic integer-Lloyd coarse quantizer); its recall
    // eval is the separately registered q_ivf_audit, so round-over-round
    // bench comparisons of "IVF ANN" measure the operator, not the
    // audit's embedded exact scan (ADVICE r8)
    "q_ivf_topk"          -> ((s, d) => Similarity.ivfTopK(s, d)),
    "q_ivf_served"        -> ((s, d) => Similarity.ivfServed(s, d)),
    "q_ivf_incremental"   -> ((s, d) => Similarity.ivfIncremental(s, d)),
    "q_ivf_audit"         -> ((s, d) => Similarity.ivfAudit(s, d)),
    "q_ivf_probe_curve"   -> ((s, d) => Similarity.ivfProbeCurve(s, d)),
    "q_quantize_int8"     -> ((s, d) => Similarity.quantizeInt8(s, d)),
    "q_kmeans"            -> ((s, d) => Similarity.kmeans(s, d)),
    "q_label_purity"      -> ((s, d) => Similarity.labelPurity(s, d)),
    "q_rand_proj"         -> ((s, d) => Similarity.randProjPairs(s, d)),
    "q_rand_proj_topk"    -> ((s, d) => Similarity.randProjTopk(s, d)),
    "q_jl_ivf_topk"       -> ((s, d) => Similarity.jlIvfTopK(s, d)),
    "q_jl_ivf_recall"     -> ((s, d) => Similarity.jlIvfRecall(s, d)),
    "q_jl_probe_curve"    -> ((s, d) => Similarity.jlProbeCurve(s, d)),
    "q_ivfpq_probe_curve" -> ((s, d) => Similarity.ivfPqProbeCurve(s, d)),
    "q_pca_power"         -> ((s, d) => Similarity.pcaPower(s, d)),
    "q_pca_scores"        -> ((s, d) => Similarity.pcaScores(s, d)),
    "q_pca_cov"           -> ((s, d) => Similarity.pcaCov(s, d)),
    "q_pca_topk"          -> ((s, d) => Similarity.pcaTopk(s, d)),
    "q_pca_scores2"       -> ((s, d) => Similarity.pcaScores2(s, d)),
    "q_pca_cov_incremental" -> ((s, d) => Similarity.pcaCovIncremental(s, d)),
    "q_pca_cov_recentered" -> ((s, d) => Similarity.pcaCovRecentered(s, d)),
    "q_embedding_outliers" -> ((s, d) => Similarity.embeddingOutliers(s, d)),
    "q_pq_topk"           -> ((s, d) => Similarity.pqTopK(s, d)),
    "q_ivfpq_topk"        -> ((s, d) => Similarity.ivfPqTopK(s, d)),
    "q_ivfpq_residual"    -> ((s, d) => Similarity.ivfPqResidualTopK(s, d)),
    "q_ivfpq_incremental" -> ((s, d) => Similarity.ivfPqIncremental(s, d)),
    "q_pq_recall"         -> ((s, d) => Similarity.pqRecall(s, d)),
    "q_pqres_recall"      -> ((s, d) => Similarity.pqResRecall(s, d)),
    "q_semdedup"          -> ((s, d) => Similarity.semDedup(s, d)),
    "q_semdedup_incremental" -> ((s, d) => Similarity.semDedupIncremental(s, d)),
    // ---- B9 multimodal ----
    "q_multimodal_join"   -> ((s, d) => Multimodal.multimodalJoin(s, d)),
    "q_binary_meta"       -> ((s, d) => Multimodal.binaryMeta(s, d)),
    "q_lang_centroids"    -> ((s, d) => Multimodal.langCentroids(s, d)),
    "q_centroid_classify" -> ((s, d) => Multimodal.centroidClassify(s, d)),
    "q_media_features"    -> ((s, d) => Multimodal.mediaFeatures(s, d)),
    // ---- B8 streaming batch twins ----
    "q_tumbling_1h"       -> ((s, d) => StreamingTwins.tumbling1h(s, d)),
    "q_watermark_windows" -> ((s, d) => graft.streaming.StreamingOps.watermarkedWindowsReplay(s, d)),
    "q_stream_dedup"      -> ((s, d) => graft.streaming.StreamingOps.streamDedupReplay(s, d)),
    "q_stream_enrich"     -> ((s, d) => graft.streaming.StreamingOps.streamEnrichReplay(s, d)),
    "q_stream_funnel"     -> ((s, d) => graft.streaming.StreamingOps.streamFunnelReplay(s, d)),
    "q_stream_stream_join" -> ((s, d) => graft.streaming.StreamingOps.streamStreamJoinReplay(s, d)),
    "q_stream_stream_outer" -> ((s, d) => graft.streaming.StreamingOps.streamStreamOuterReplay(s, d)),
    "q_stream_sessions"   -> ((s, d) => graft.streaming.StreamingOps.streamSessionsReplay(s, d)),
    "q_sliding_1h15m"     -> ((s, d) => StreamingTwins.sliding1h15m(s, d)),
    "q_sessions_10m"      -> ((s, d) => StreamingTwins.sessions10m(s, d)),
    // ---- B5/B8 behavioral analytics over events ----
    "q_funnel"            -> ((s, d) => Funnels.funnel(s, d)),
    "q_funnel_fold"       -> ((s, d) => Funnels.funnelFold(s, d)),
    "q_retention"         -> ((s, d) => Funnels.retention(s, d)),
    "q_funnel_latency"    -> ((s, d) => Funnels.funnelLatency(s, d)),
    "q_survival_curve"    -> ((s, d) => Funnels.survivalCurve(s, d)),
    "q_ltv_cohort"        -> ((s, d) => Funnels.ltvCohort(s, d)),
    "q_benford"           -> ((s, d) => Curation.benfordAudit(s, d)),
    "q_new_returning"     -> ((s, d) => Funnels.newVsReturning(s, d)),
    "q_period_over_period" -> ((s, d) => Windows.periodOverPeriod(s, d)),
    "q_ohlc_bars"         -> ((s, d) => Windows.ohlcBars(s, d)),
    "q_max_drawdown"      -> ((s, d) => Windows.maxDrawdown(s, d)),
    "q_business_days"     -> ((s, d) => Windows.businessDays(s, d)),
    "q_sla_compliance"    -> ((s, d) => Windows.slaCompliance(s, d)),
    "q_lag_features"      -> ((s, d) => Windows.lagFeatures(s, d)),
    "q_topk_ties"         -> ((s, d) => Windows.topKDaysWithTies(s, d)),
    "q_tpch_q1"           -> ((s, d) => SqlSurface.tpchQ1(s, d)),
    "q_tpch_q3"           -> ((s, d) => SqlSurface.tpchQ3(s, d)),
    "q_tpch_q5"           -> ((s, d) => SqlSurface.tpchQ5(s, d)),
    "q_tpch_q4"           -> ((s, d) => SqlSurface.tpchQ4(s, d)),
    "q_tpch_q6"           -> ((s, d) => SqlSurface.tpchQ6(s, d)),
    "q_tpch_q7"           -> ((s, d) => SqlSurface.tpchQ7(s, d)),
    "q_tpch_q10"          -> ((s, d) => SqlSurface.tpchQ10(s, d)),
    "q_tpch_q12"          -> ((s, d) => SqlSurface.tpchQ12(s, d)),
    "q_tpch_q13"          -> ((s, d) => SqlSurface.tpchQ13(s, d)),
    "q_tpch_q15"          -> ((s, d) => SqlSurface.tpchQ15(s, d)),
    "q_tpch_q17"          -> ((s, d) => SqlSurface.tpchQ17(s, d)),
    "q_tpch_q22"          -> ((s, d) => SqlSurface.tpchQ22(s, d)),
    "q_tpch_q14"          -> ((s, d) => SqlSurface.tpchQ14(s, d)),
    "q_tpch_q8"           -> ((s, d) => SqlSurface.tpchQ8(s, d)),
    "q_tpch_q18"          -> ((s, d) => SqlSurface.tpchQ18(s, d)),
    "q_dim_decode"        -> ((s, d) => Relational.dimDecode(s, d)),
    "q_anomaly_zscore"    -> ((s, d) => Funnels.anomalyZscore(s, d)),
    "q_abtest_welch"      -> ((s, d) => Funnels.abtestWelch(s, d)),
    "q_ks_test"           -> ((s, d) => Funnels.ksTest(s, d)),
    "q_mannwhitney"       -> ((s, d) => Funnels.mannWhitney(s, d)),
    "q_chi2"              -> ((s, d) => Funnels.chi2Independence(s, d)),
    "q_rolling_dau"       -> ((s, d) => Funnels.rollingDau(s, d)),
    "q_rolling_dau_incremental" -> ((s, d) => Funnels.rollingDauIncremental(s, d)),
    "q_rolling_dau_hll"   -> ((s, d) => Funnels.rollingDauHll(s, d)),
    "q_reach_curve"       -> ((s, d) => Funnels.reachCurve(s, d)),
    "q_wilson_ci"         -> ((s, d) => Funnels.wilsonCi(s, d)),
    "q_cusum"             -> ((s, d) => Funnels.cusumChangepoint(s, d)),
    "q_attribution"       -> ((s, d) => Funnels.attribution(s, d)),
    "q_transitions"       -> ((s, d) => Funnels.transitions(s, d)),
    "q_textrank"          -> ((s, d) => TextAnalysis.textrank(s, d)),
    "q_triangles"         -> ((s, d) => TextAnalysis.triangles(s, d)),
    // ---- B9 ranked retrieval (lexical + hybrid) ----
    "q_bm25_topk"         -> ((s, d) => TextAnalysis.bm25TopK(s, d)),
    "q_bm25_served"       -> ((s, d) => TextAnalysis.bm25Served(s, d)),
    "q_bm25_incremental"  -> ((s, d) => TextAnalysis.bm25Incremental(s, d)),
    "q_rrf_fusion"        -> ((s, d) => TextAnalysis.rrfFusion(s, d)),
    "q_semantic_decontaminate" -> ((s, d) => Similarity.semanticDecontaminate(s, d)),
    // ---- B9 tokenizer training + apply ----
    "q_bpe_merges"        -> ((s, d) => Curation.bpeMerges(s, d)),
    "q_bpe_encode"        -> ((s, d) => Curation.bpeEncode(s, d)),
    "q_drift_audit"       -> ((s, d) => Curation.driftAudit(s, d)),
    "q_expectations"      -> ((s, d) => Curation.expectations(s, d)),
    "q_assoc_rules"       -> ((s, d) => Curation.assocRules(s, d)),
    "q_son_rules"         -> ((s, d) => Curation.sonRules(s, d)),
    "q_fpgrowth"          -> ((s, d) => Curation.fpGrowthRules(s, d)),
    "q_assoc_rules3"      -> ((s, d) => Curation.assocRules3(s, d)),
    // ---- B6/B10 storage layout ----
    "q_zorder"            -> ((s, d) => Layout.zorderLayout(s, d)),
    "q_hilbert"           -> ((s, d) => Layout.hilbertLayout(s, d)),
  )

  /** DuckDB SQL twins. Table names resolve to the same parquet files.
    * The HLL/QuantileSummaries sketches carry BRACKET oracles (exact
    * companion columns + sketch-error verdicts); the remaining rows-only
    * queries are genuinely unobservable by a row oracle (partition layout,
    * ANN recall floors, typed-Dataset round-trips).
    */
  /** Shared by q_skyline and q_skyline_custom (both plans must verify
    * against the SAME textbook quadratic dominance formulation). */
  // NULL-criterion rows are EXCLUDED by declared semantics (ADVICE r10):
  // the engine treats them as incomparable and drops them, while a bare
  // NOT EXISTS would EMIT them (their dominance subquery is vacuously
  // empty under three-valued logic) — so the oracle states the exclusion
  // explicitly. part carries no NULLs, so this changes no current hash;
  // PropertySpec pins the null-bearing case against both engine forms.
  // SCD2 replayed with the same window algebra: null-safe change flag
  // (IS DISTINCT FROM == Spark's !(a <=> b)), running-sum versions,
  // per-run stats, lead() closing each interval. `ver` is a windowed sum
  // → HUGEINT in DuckDB, so the output column MUST cast to BIGINT (the
  // round-10 hash failure; OracleHygieneSpec now sweeps the whole map).
  // Shared by q_scd2 (scan-time build) and q_scd2_incremental (stored
  // dimension + one-day append) — the merge must equal the full rebuild.
  // Shared by q_quantile_cube (single build) and its append-only
  // incremental twin — exact histogram additivity makes the serve-time
  // refold bit-identical to the full rebuild DuckDB computes here.
  private val quantileCubeOracleSql: String =
    """WITH h AS (SELECT event_type, epoch_ns(ts)//86400000000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents, count(*) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |m AS (SELECT event_type, cents, CAST(sum(c) AS BIGINT) AS c
      |  FROM h GROUP BY 1, 2),
      |w AS (SELECT event_type, cents,
      |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS cum,
      |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM m)
      |SELECT w.event_type, max(n) AS n,
      |  (SELECT count(*) FROM h WHERE h.event_type = w.event_type)::BIGINT
      |    AS cell_days,
      |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN cents END)
      |    + min(CASE WHEN cum >= n // 2 + 1 THEN cents END) AS BIGINT)
      |    AS med_x2_cents,
      |  min(CASE WHEN cum * 100 >= n * 95 THEN cents END) AS p95_cents
      |FROM w GROUP BY w.event_type ORDER BY w.event_type""".stripMargin

  // Shared by q_rolling_dau (scan-time build) and q_rolling_dau_incremental
  // (stored day-partitioned artifact + appended final day): the served
  // artifact must reproduce the full-rebuild DAU/WAU readout exactly.
  private val rollingDauOracleSql: String =
    """WITH ud AS (SELECT DISTINCT epoch_ns(ts)//86400000000000 AS day,
      |            user_id FROM events),
      |days AS (SELECT DISTINCT day FROM ud),
      |a AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
      |w AS (SELECT d.day, count(DISTINCT u.user_id) AS wau
      |      FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
      |      GROUP BY 1)
      |SELECT day, dau, wau, round(dau::DOUBLE / wau, 6) AS stickiness
      |FROM a JOIN w USING (day) ORDER BY day""".stripMargin

  // Shared by q_mv_cube (stored pre-sums, single-segment build) and
  // q_mv_incremental (per-batch partials refolded at serve): both must
  // equal the direct fact-grain aggregate DuckDB runs here.
  private val mvCubeOracleSql: String =
    """SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc,
      |  count(*) AS n_items
      |FROM lineitem GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  private val scd2OracleSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_ns(ts) AS tns, epoch_ns(ts) // 1000000000 AS tsec FROM events),
      |c AS (SELECT *, CASE WHEN lag(event_type) OVER
      |      (PARTITION BY user_id ORDER BY tns, event_id)
      |      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg FROM e),
      |g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY tns, event_id
      |      ROWS UNBOUNDED PRECEDING) AS ver FROM c),
      |s AS (SELECT user_id, CAST(ver AS BIGINT) AS version, min(event_type) AS event_type,
      |      min(tsec) AS valid_from_sec, count(*) AS n_events
      |      FROM g GROUP BY user_id, ver)
      |SELECT user_id, version, event_type, valid_from_sec,
      |  lead(valid_from_sec) OVER w AS valid_to_sec,
      |  (lead(valid_from_sec) OVER w IS NULL) AS is_current, n_events
      |FROM s WINDOW w AS (PARTITION BY user_id ORDER BY version)
      |ORDER BY user_id, version""".stripMargin

  /** Shared column-profiler oracle (q_profile / q_profile_approx): one
    * multi-distinct aggregate unpivoted to a per-column datasheet; extrema
    * pass through untouched (no arithmetic), BIGINT keys cast to DOUBLE
    * (exact below 2^53). `withVerdict` appends the TRUE HLL-envelope
    * verdict column the approx form asserts Spark-side. */
  private def profileOracleSql(withVerdict: Boolean): String = {
    val v = if (withVerdict) ", TRUE AS hll_within_10pct" else ""
    s"""WITH a AS (SELECT count(*) AS n,
       |  count(o_orderkey) AS nn_key, count(DISTINCT o_orderkey) AS nd_key,
       |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       |  count(o_custkey) AS nn_cust, count(DISTINCT o_custkey) AS nd_cust,
       |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
       |  count(o_totalprice) AS nn_price, count(DISTINCT o_totalprice) AS nd_price,
       |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
       |  count(o_orderstatus) AS nn_status, count(DISTINCT o_orderstatus) AS nd_status,
       |  min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
       |  count(o_orderpriority) AS nn_prio, count(DISTINCT o_orderpriority) AS nd_prio,
       |  min(o_orderpriority) AS min_prio, max(o_orderpriority) AS max_prio,
       |  count(o_orderdate) AS nn_date, count(DISTINCT o_orderdate) AS nd_date,
       |  min(CAST(o_orderdate AS VARCHAR)) AS min_date,
       |  max(CAST(o_orderdate AS VARCHAR)) AS max_date
       |  FROM orders)
       |SELECT * FROM (
       |  SELECT 'o_orderkey' AS column_name, n AS n_rows, n - nn_key AS n_nulls,
       |    nd_key AS n_distinct, CAST(min_key AS DOUBLE) AS min_num,
       |    CAST(max_key AS DOUBLE) AS max_num,
       |    CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str$v FROM a
       |  UNION ALL SELECT 'o_custkey', n, n - nn_cust, nd_cust,
       |    CAST(min_cust AS DOUBLE), CAST(max_cust AS DOUBLE),
       |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)$v FROM a
       |  UNION ALL SELECT 'o_totalprice', n, n - nn_price, nd_price,
       |    min_price, max_price, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)$v FROM a
       |  UNION ALL SELECT 'o_orderstatus', n, n - nn_status, nd_status,
       |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min_status, max_status$v FROM a
       |  UNION ALL SELECT 'o_orderpriority', n, n - nn_prio, nd_prio,
       |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min_prio, max_prio$v FROM a
       |  UNION ALL SELECT 'o_orderdate', n, n - nn_date, nd_date,
       |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min_date, max_date$v FROM a
       |) ORDER BY column_name""".stripMargin
  }

  /** Shared k=2 association-rule oracle (q_assoc_rules / q_son_rules):
    * Apriori and SON emit the same rule set on the same integer floors —
    * one oracle text proves it for both. */
  private val assocRulesOracleSql: String =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |items AS (SELECT DISTINCT doc_id, word FROM t WHERE word <> ''),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |f0 AS (SELECT word, count(*) AS supp FROM items GROUP BY word),
        |freq AS (SELECT word, supp FROM f0, nd
        |         WHERE supp * ${operators.Curation.AssocSupDenom} >= n_docs),
        |pairs AS (SELECT a.word AS ante, b.word AS cons, count(*) AS supp_pair
        |  FROM items a JOIN items b ON a.doc_id = b.doc_id AND a.word < b.word
        |  JOIN freq fa ON fa.word = a.word JOIN freq fb ON fb.word = b.word
        |  GROUP BY 1, 2),
        |rules AS (SELECT ante, cons, supp_pair FROM pairs
        |  UNION ALL SELECT cons, ante, supp_pair FROM pairs)
        |SELECT r.ante, r.cons, r.supp_pair, fa.supp AS supp_ante, fb.supp AS supp_cons,
        |  round(r.supp_pair / fa.supp, 6) AS confidence,
        |  round((r.supp_pair * n_docs) / (fa.supp::DOUBLE * fb.supp), 6) AS lift
        |FROM rules r JOIN freq fa ON fa.word = r.ante
        |  JOIN freq fb ON fb.word = r.cons, nd
        |WHERE r.supp_pair * ${operators.Curation.AssocConfDenom} >= fa.supp
        |ORDER BY ante, cons""".stripMargin

  /** Shared oracle for the DDSketch log-bucket quantile cube (build +
    * incremental append): exact nearest-rank p50/p95 over the raw values
    * with the SAME integer rank rules the sketch read-off uses, plus the
    * expected-TRUE relative-error verdicts. */
  private val ddCubeOracleSql: String =
    """WITH e AS (SELECT event_type, ts, value FROM events),
      |g AS (SELECT event_type, value, count(*) AS c FROM e GROUP BY 1, 2),
      |w AS (SELECT event_type, value,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n FROM g),
      |q AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
      |    min(CASE WHEN cum * 2 >= n THEN value END) AS p50_exact,
      |    min(CASE WHEN cum * 100 >= n * 95 THEN value END) AS p95_exact
      |  FROM w GROUP BY 1),
      |d AS (SELECT event_type,
      |    count(DISTINCT epoch_ns(ts) // 86400000000000) AS n_days
      |  FROM e GROUP BY 1)
      |SELECT q.event_type AS event_type, n, CAST(n_days AS BIGINT) AS n_days,
      |  round(p50_exact, 6) AS p50_exact, round(p95_exact, 6) AS p95_exact,
      |  TRUE AS p50_within_2pct, TRUE AS p95_within_2pct
      |FROM q JOIN d ON q.event_type = d.event_type
      |ORDER BY event_type""".stripMargin

  /** Shared language-ID scoring CTE (q_langid / q_langid_audit): the
    * marker-vocabulary scores and the ordered argmax CASE chain — one
    * constant so the classifier and its confusion audit cannot drift. */
  private val langIdCtes: String =
    """WITH s AS (SELECT doc_id, lang,
        |  len(list_filter(w, x -> list_contains(['customer','hash','join','row'], x))) AS s_de,
        |  len(list_filter(w, x -> list_contains(['hash','order','table','window'], x))) AS s_en,
        |  len(list_filter(w, x -> list_contains(['slow','agg','hash','merge'], x))) AS s_es,
        |  len(list_filter(w, x -> list_contains(['scan','data','query','batch'], x))) AS s_fr,
        |  len(list_filter(w, x -> list_contains(['join','small','row','customer'], x))) AS s_zh
        |  FROM (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents)),
        |pr AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN s_de>=s_en AND s_de>=s_es AND s_de>=s_fr AND s_de>=s_zh THEN 'de'
        |         WHEN s_en>=s_es AND s_en>=s_fr AND s_en>=s_zh THEN 'en'
        |         WHEN s_es>=s_fr AND s_es>=s_zh THEN 'es'
        |         WHEN s_fr>=s_zh THEN 'fr' ELSE 'zh' END AS pred_lang
        |  FROM s)""".stripMargin

  /** Shared signed-cube oracle (q_dd_cube_signed /
    * q_dd_cube_signed_incremental): exact BIGINT signed quantile
    * companions + TRUE 2-alpha verdicts; additivity makes the appended
    * cube serve bit-identically to the single build. */
  private val ddSignedOracleSql: String =
    """WITH s AS (SELECT user_id % 4 AS cohort,
        |    epoch_ns(ts) // 86400000000000 AS day,
        |    CASE WHEN event_type = 'purchase'
        |         THEN CAST(round(value * 100) AS BIGINT)
        |         ELSE -CAST(round(value * 100) AS BIGINT) END AS v
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        |g AS (SELECT cohort, v, count(*) AS c FROM s GROUP BY 1, 2),
        |w AS (SELECT cohort, v,
        |    sum(c) OVER (PARTITION BY cohort ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY cohort) AS n FROM g),
        |q AS (SELECT cohort, CAST(max(n) AS BIGINT) AS n,
        |    CAST(min(CASE WHEN cum * 100 >= n * 5 THEN v END) AS BIGINT) AS p05_exact,
        |    CAST(min(CASE WHEN cum * 2 >= n THEN v END) AS BIGINT) AS p50_exact,
        |    CAST(min(CASE WHEN cum * 100 >= n * 95 THEN v END) AS BIGINT) AS p95_exact
        |  FROM w GROUP BY 1),
        |d AS (SELECT cohort, count(DISTINCT day) AS n_days FROM s GROUP BY 1)
        |SELECT q.cohort AS cohort, n, CAST(n_days AS BIGINT) AS n_days,
        |  p05_exact, p50_exact, p95_exact,
        |  TRUE AS p05_within_2pct, TRUE AS p50_within_2pct,
        |  TRUE AS p95_within_2pct
        |FROM q JOIN d ON q.cohort = d.cohort
        |ORDER BY cohort""".stripMargin

  /** Shared funnel oracle (q_funnel / q_funnel_fold / q_stream_funnel):
    * the declarative, fold, and streaming-stateful formulations all emit
    * the same stage counts. */
  private val funnelOracleSql: String =
    """WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS ns FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS ns FROM events e
        |      JOIN v ON e.user_id = v.user_id AND epoch_ns(e.ts) > v.ns
        |      WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS ns FROM events e
        |      JOIN c ON e.user_id = c.user_id AND epoch_ns(e.ts) > c.ns
        |      WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT 'view' AS stage, 1 AS stage_ord, count(*)::BIGINT AS n_users FROM v
        |UNION ALL SELECT 'click', 2, count(*)::BIGINT FROM c
        |UNION ALL SELECT 'purchase', 3, count(*)::BIGINT FROM p
        |ORDER BY stage_ord""".stripMargin

  private val skylineOracleSql: String =
    """SELECT p_partkey, p_retailprice, p_size::BIGINT AS p_size
      |FROM part p
      |WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
      |  AND NOT EXISTS (SELECT 1 FROM part d
      |  WHERE d.p_retailprice >= p.p_retailprice AND d.p_size <= p.p_size
      |    AND (d.p_retailprice > p.p_retailprice OR d.p_size < p.p_size))
      |ORDER BY p_partkey""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "wordcount" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY w ORDER BY cnt DESC, word""".stripMargin,
    "wordcount_rdd" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY w ORDER BY cnt DESC, word""".stripMargin,
    "top10_words" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY w ORDER BY cnt DESC, word LIMIT 10""".stripMargin,
    "perlang_wordcount" ->
      """SELECT lang, w AS word, count(*) AS cnt
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY lang, w ORDER BY lang, cnt DESC, word""".stripMargin,
    "stopword_wordcount" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |WHERE w NOT IN ('a','the','of','and','to','in')
        |GROUP BY w ORDER BY cnt DESC, word""".stripMargin,
    "top_term_per_doc" ->
      """SELECT doc_id, word, tf FROM (
        |  SELECT doc_id, word, tf,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, word DESC) AS rn
        |  FROM (SELECT doc_id, w AS word, count(*) AS tf
        |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |        GROUP BY doc_id, w))
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "doc_token_counts" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q_topk_udaf computes the same result as top10_words through the custom
    // bounded-state Aggregator; q_sort_within is rows-only (partition order
    // is not oracle-observable)
    "q_topk_udaf" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY w ORDER BY cnt DESC, word LIMIT 10""".stripMargin,

    "q_filter_project" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       l_extendedprice * (1 - l_discount) AS net
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_in_like" ->
      """SELECT p_partkey, p_name, p_brand, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE p_type LIKE 'PROMO%'
        |   OR (p_brand IN ('Brand#1','Brand#2') AND p_size BETWEEN 5 AND 15)
        |ORDER BY p_partkey""".stripMargin,
    "q_null_handling" ->
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment,'BUILDING'),'(masked)') AS seg,
        |  CAST(CASE WHEN nullif(c_mktsegment,'BUILDING') IS NULL THEN 1 ELSE 0 END AS BIGINT) AS was_building
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_join_factfact" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // identical semantics to q_join_factfact, computed through the salted
    // (skew-spreading) join — same oracle by design
    "q_join_salted" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_star_join" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_broadcast_join" ->
      """SELECT n_name, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS gross
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_left_outer" ->
      """SELECT o_orderkey, count(l.l_orderkey) AS n_heavy
        |FROM orders LEFT JOIN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45) l
        |  ON o_orderkey = l.l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "q_full_outer" ->
      """SELECT CAST(coalesce(c.c_nationkey, s.s_nationkey) AS BIGINT) AS nationkey,
        |       coalesce(n_rich_cust, 0) AS n_rich_cust,
        |       coalesce(n_rich_supp, 0) AS n_rich_supp
        |FROM (SELECT c_nationkey, count(*) AS n_rich_cust FROM customer
        |      WHERE c_acctbal > 9000 GROUP BY c_nationkey) c
        |FULL JOIN (SELECT s_nationkey, count(*) AS n_rich_supp FROM supplier
        |      WHERE s_acctbal > 5000 GROUP BY s_nationkey) s
        |  ON c.c_nationkey = s.s_nationkey
        |ORDER BY nationkey""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_theta_join" ->
      """SELECT s_suppkey, count(*) AS n_cheaper_parts
        |FROM part JOIN supplier ON p_retailprice < s_acctbal / 10.0
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    // identical semantics to q_theta_join, computed by the banded equi-join
    // plan (no growing broadcast) — same oracle by design
    "q_theta_join_banded" ->
      """SELECT s_suppkey, count(*) AS n_cheaper_parts
        |FROM part JOIN supplier ON p_retailprice < s_acctbal / 10.0
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT p_partkey, p_brand, p_retailprice
        |FROM part p
        |WHERE p_retailprice > (SELECT CAST(sum(CAST(p2.p_retailprice AS DECIMAL(18,6))) AS DOUBLE)
        |                              / count(*)
        |                       FROM part p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin,
    // UNPIVOT stated as its portable UNION ALL equivalent
    "q_unpivot" ->
      """WITH long_ AS (
        |  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT measure, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  round(min(value), 6) AS vmin, round(max(value), 6) AS vmax
        |FROM long_ GROUP BY measure ORDER BY measure""".stripMargin,
    "q_lateral_topk" ->
      """SELECT n.n_name, t.c_name, round(t.c_acctbal, 6) AS bal
        |FROM nation n,
        |  LATERAL (SELECT c_name, c_acctbal FROM customer c
        |           WHERE c.c_nationkey = n.n_nationkey
        |           ORDER BY c_acctbal DESC, c_name LIMIT 3) t
        |ORDER BY n_name, bal DESC, c_name""".stripMargin,
    "q_not_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    // the IDENTICAL recursion, DuckDB syntax (// for integer div)
    "q_recursive_cte" ->
      """WITH RECURSIVE anc(doc_id, node, depth) AS (
        |  SELECT doc_id, doc_id, 0 FROM documents
        |  UNION ALL
        |  SELECT doc_id, node // 2, depth + 1 FROM anc WHERE node > 0
        |)
        |SELECT doc_id, CAST(max(depth) AS BIGINT) AS chain_len,
        |  count(*) AS n_nodes, CAST(sum(node) AS BIGINT) AS node_sum
        |FROM anc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_scd2" -> scd2OracleSql,
    // AS OF = the interval containing the cutoff; the history CTE is the
    // hash-checked scd2 oracle verbatim, cutoff interpolated from the
    // engine constant
    "q_time_travel" ->
      s"""SELECT user_id, version, event_type, valid_from_sec
        |FROM ($scd2OracleSql)
        |WHERE valid_from_sec <= ${Relational.TimeTravelCutoffSec}
        |  AND (valid_to_sec IS NULL OR valid_to_sec > ${Relational.TimeTravelCutoffSec})
        |ORDER BY user_id""".stripMargin,
    // incremental maintenance (r11): stored dimension + one-day append,
    // hash-checked against the SAME full-rebuild oracle — the merge must
    // reproduce the from-scratch fold exactly
    "q_scd2_incremental" -> scd2OracleSql,
    // MERGE apply (r11): the oracle applies the batch the textbook way —
    // anti-join deletes/updates out, union the new images back — while
    // the engine plans ONE full-outer verb-dispatch join; hash match
    // proves the single-join MERGE rewrite
    "q_cdc_apply" ->
      """WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS s, o_orderpriority AS p,
        |      CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
        |del AS (SELECT k FROM t WHERE k % 101 = 5),
        |upd AS (SELECT k, s, '0-MERGED' AS p, c + 250 AS c
        |        FROM t WHERE k % 11 = 3 AND k % 101 <> 5),
        |ins AS (SELECT k + 10000000 AS k, 'N' AS s, p, c FROM t WHERE k % 131 = 7),
        |kept AS (SELECT * FROM t WHERE k NOT IN (SELECT k FROM del)
        |         AND k NOT IN (SELECT k FROM upd)),
        |m AS (SELECT * FROM kept UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT k AS o_orderkey, s AS o_orderstatus, p AS o_orderpriority, c AS cents
        |FROM m ORDER BY o_orderkey""".stripMargin,
    // session path analysis (r11): the q_sessions_10m sessionization, each
    // session folded to its ordered event_type chain; (tns, event_id) tie
    // order pinned in both engines so path strings are deterministic
    // session duration/depth quantiles off value histograms — the same
    // sessionize CTE as q_session_paths, then the integer rank rules on
    // both measures; the two single-row stats frames cross-join
    "q_session_stats" ->
      s"""WITH m AS (SELECT user_id, event_id, epoch_ns(ts) AS tns,
        |  CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
        |       OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w >= ${operators.Funnels.SessionGapNs}
        |       THEN 1 ELSE 0 END AS newsess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
        |s AS (SELECT user_id, event_id, tns,
        |  sum(newsess) OVER (PARTITION BY user_id ORDER BY tns, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |g AS (SELECT user_id, sid, (max(tns) - min(tns)) // 1000000000 AS dur_sec,
        |      count(*) AS depth FROM s GROUP BY user_id, sid),
        |hd AS (SELECT dur_sec AS v, count(*) AS c FROM g GROUP BY 1),
        |wd AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum,
        |       CAST(sum(c) OVER () AS BIGINT) AS n FROM hd),
        |sd AS (SELECT max(n) AS n_sessions,
        |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END)
        |    + min(CASE WHEN cum >= n // 2 + 1 THEN v END) AS BIGINT) AS med_x2_dur_sec,
        |  min(CASE WHEN cum * 100 >= n * 95 THEN v END) AS p95_dur_sec,
        |  max(v) AS max_dur_sec FROM wd),
        |he AS (SELECT depth AS v, count(*) AS c FROM g GROUP BY 1),
        |we AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum,
        |       CAST(sum(c) OVER () AS BIGINT) AS n FROM he),
        |se AS (SELECT
        |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END)
        |    + min(CASE WHEN cum >= n // 2 + 1 THEN v END) AS BIGINT) AS med_x2_depth,
        |  min(CASE WHEN cum * 100 >= n * 95 THEN v END) AS p95_depth,
        |  max(v) AS max_depth FROM we)
        |SELECT * FROM sd, se""".stripMargin,
    "q_session_paths" ->
      s"""WITH m AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns,
        |  CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
        |       OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w >= ${operators.Funnels.SessionGapNs}
        |       THEN 1 ELSE 0 END AS newsess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
        |s AS (SELECT user_id, event_id, event_type, tns,
        |  sum(newsess) OVER (PARTITION BY user_id ORDER BY tns, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |p AS (SELECT user_id, sid, string_agg(event_type, '>' ORDER BY tns, event_id) AS path,
        |      count(*) AS len FROM s GROUP BY user_id, sid)
        |SELECT path, count(*) AS n_sessions, CAST(sum(len) AS BIGINT) AS n_events
        |FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // RFM segmentation (r11): ntile(4) quartiles with custkey tie-breaks —
    // equal-fill ntile semantics are SQL standard in both engines; the
    // lifetime-cents sum is BIGINT-cast (HUGEINT hazard class)
    "q_rfm" ->
      """WITH c AS (SELECT o_custkey,
        |  max(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000) AS last_day,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |s AS (SELECT *,
        |  CAST(ntile(4) OVER (ORDER BY last_day DESC, o_custkey) AS BIGINT) AS r_score,
        |  CAST(ntile(4) OVER (ORDER BY n_orders DESC, o_custkey) AS BIGINT) AS f_score,
        |  CAST(ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS m_score
        |  FROM c)
        |SELECT o_custkey, last_day, n_orders, cents, r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
        |    || CAST(m_score AS VARCHAR) AS segment
        |FROM s ORDER BY o_custkey""".stripMargin,
    // column profiler (r11): one global multi-distinct aggregate unpivoted
    // to a per-column datasheet; extrema pass through untouched (no
    // arithmetic), BIGINT keys cast to DOUBLE (exact below 2^53)
    "q_profile" -> profileOracleSql(withVerdict = false),
    // the 100 TB datasheet (HLL distincts, no Expand): same exact-column
    // oracle plus the TRUE sketch-envelope verdict — bracket pattern of
    // q_approx_distinct, so a drifting sketch hash-mismatches by name
    "q_profile_approx" -> profileOracleSql(withVerdict = true),
    // the text-source queries aggregate a session-written CSV/JSONL copy;
    // the oracle aggregates the parquet original — any parse/encode
    // round-trip loss hash-mismatches by name
    // independent formulation: quadratic NOT-EXISTS dominance (the
    // textbook definition) vs the engine's linear grouped sweep
    "q_skyline" -> skylineOracleSql,
    // the native plan node form — same quadratic dominance oracle
    "q_skyline_custom" -> skylineOracleSql,
    // independent formulation: direct column-by-column comparison vs the
    // engine's md5 row-signature compare — the hash match proves the
    // signature technique classifies identically
    "q_table_diff" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |a AS (SELECT * FROM o WHERE o_orderkey % 97 <> 3),
        |b AS (SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |    CASE WHEN o_orderkey % 13 = 0 THEN cents + 500 ELSE cents END AS cents
        |  FROM o WHERE o_orderkey % 89 <> 7)
        |SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |       WHEN b.o_orderkey IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change_type
        |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
        |   OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
        |   OR a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
        |   OR a.cents IS DISTINCT FROM b.cents
        |ORDER BY o_orderkey""".stripMargin,
    "q_csv_source" ->
      """SELECT c_mktsegment, count(*) AS n_cust,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_acctbal,
        |  min(c_name) AS first_name, max(c_name) AS last_name
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_jsonl_source" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_orc_source" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // events through the text formats (r11): the oracle reads the PARQUET
    // original via epoch_ns, the engine reads its int64-ns text copy —
    // subsec_sum moves on any µs truncation in the encode/parse chain.
    // Both sum casts are mandatory: sum(BIGINT) is HUGEINT in DuckDB
    // (the exact q_scd2 hazard class OracleHygieneSpec now sweeps for).
    "q_csv_events" ->
      """SELECT event_type, count(*) AS n_events,
        |  min(epoch_ns(ts)) AS min_ts_ns, max(epoch_ns(ts)) AS max_ts_ns,
        |  CAST(sum(epoch_ns(ts) % 1000000000) AS BIGINT) AS subsec_sum,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_jsonl_events" ->
      """SELECT event_type, count(*) AS n_events,
        |  min(epoch_ns(ts)) AS min_ts_ns, max(epoch_ns(ts)) AS max_ts_ns,
        |  CAST(sum(epoch_ns(ts) % 1000000000) AS BIGINT) AS subsec_sum,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the columnar events round-trip: ts is a native int64 ORC column —
    // pins the writer/reader pair; same checksum as the text twins
    "q_orc_events" ->
      """SELECT event_type, count(*) AS n_events,
        |  min(epoch_ns(ts)) AS min_ts_ns, max(epoch_ns(ts)) AS max_ts_ns,
        |  CAST(sum(epoch_ns(ts) % 1000000000) AS BIGINT) AS subsec_sum,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // weighted median: the histMedian lo/hi rules on cumulative WEIGHT
    // (quantity mass) instead of row counts; all integer
    "q_weighted_median" ->
      """WITH h AS (SELECT l_returnflag AS k,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (SELECT k, v,
        |    CAST(sum(c) OVER (PARTITION BY k ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY k) AS BIGINT) AS n FROM h)
        |SELECT k, max(n) AS total_weight,
        |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END)
        |    + min(CASE WHEN cum >= n // 2 + 1 THEN v END) AS BIGINT)
        |    AS wmed_x2_cents
        |FROM w GROUP BY k ORDER BY k""".stripMargin,
    // KWIC snippets by DuckDB list slicing over generate_subscripts —
    // an independent formulation of the ±3 window clamp
    "q_kwic" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |t AS (SELECT doc_id, w, unnest(w) AS word,
        |    generate_subscripts(w, 1) AS p FROM d)
        |SELECT word AS term, doc_id, CAST(p - 1 AS BIGINT) AS pos,
        |  array_to_string(w[greatest(p - 3, 1):least(p + 3, len(w))], ' ')
        |    AS snippet
        |FROM t WHERE word IN ('join', 'scan')
        |ORDER BY term, doc_id, pos""".stripMargin,
    // Tukey fences off the value histogram: integer nearest-rank q1/q3
    // (4*cum >= n, 4*cum >= 3n), x2-integer fences emitted once as
    // doubles, outlier mass counted off the same histogram
    "q_iqr_outliers" ->
      """WITH h AS (SELECT l_returnflag AS k, l_quantity AS v, count(*) AS c
        |    FROM lineitem GROUP BY 1, 2),
        |w AS (SELECT k, v, c,
        |    CAST(sum(c) OVER (PARTITION BY k ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY k) AS BIGINT) AS n FROM h),
        |q AS (SELECT k, max(n) AS n,
        |    min(CASE WHEN cum * 4 >= n THEN v END) AS q1,
        |    min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
        |  FROM w GROUP BY 1),
        |f AS (SELECT k, n, q1, q3,
        |    q1 * 2 - (q3 - q1) * 3 AS lo_x2,
        |    q3 * 2 + (q3 - q1) * 3 AS hi_x2 FROM q)
        |SELECT f.k, f.n, f.q1, f.q3,
        |  CAST(lo_x2 AS DOUBLE) / 2.0 AS fence_lo,
        |  CAST(hi_x2 AS DOUBLE) / 2.0 AS fence_hi,
        |  CAST(sum(CASE WHEN h.v * 2 < lo_x2 OR h.v * 2 > hi_x2
        |    THEN h.c ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM f JOIN h ON f.k = h.k
        |GROUP BY f.k, f.n, f.q1, f.q3, lo_x2, hi_x2
        |ORDER BY f.k""".stripMargin,
    // merge-on-read schema evolution: the engine unions two file
    // generations (gen-1 lacks o_orderpriority → backfilled 'LEGACY');
    // the oracle derives the same split from the pristine orders table
    "q_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'LEGACY'
        |            ELSE o_orderpriority END AS priority,
        |  count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4)
        |    AS sum_total,
        |  max(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // dynamic partition overwrite: the engine serves a year-partitioned
    // store whose earliest year was first loaded short then restated in
    // dynamic mode; equality to the pristine per-year rollup proves the
    // restatement landed AND untouched partitions survived
    "q_partition_overwrite" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4)
        |    AS sum_total,
        |  max(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // spatial oracle: the QUADRATIC self-join with the identical exact
    // integer predicate — agreement proves the grid join finds every
    // pair exactly once (the engine never runs a quadratic stage)
    "q_spatial_join" ->
      """WITH p AS (SELECT c_custkey AS k,
        |    ((c_custkey % 1000003) * (c_custkey % 1000003) * 7919
        |      + c_custkey * 104729) % 18000 AS lat_s,
        |    ((c_custkey % 1000003) * (c_custkey % 1000003) * 104729
        |      + c_custkey * 7919) % 36000 AS lon_s
        |  FROM customer)
        |SELECT a.k AS a, b.k AS b,
        |  (a.lat_s - b.lat_s) * (a.lat_s - b.lat_s) * 1000000
        |    + (a.lon_s - b.lon_s) * (a.lon_s - b.lon_s) * 586756 AS d2
        |FROM p a JOIN p b ON a.k < b.k
        |WHERE (a.lat_s - b.lat_s) * (a.lat_s - b.lat_s) * 1000000
        |    + (a.lon_s - b.lon_s) * (a.lon_s - b.lon_s) * 586756
        |  <= 40000000000
        |ORDER BY a, b""".stripMargin,
    // erasure cascade receipt: purged/retained per table via the same
    // foreign-key semi-join chain, stated as correlated subqueries
    "q_purge_cascade" ->
      """WITH panel AS (SELECT c_custkey FROM customer WHERE c_custkey % 53 = 1),
        |po AS (SELECT o_orderkey FROM orders
        |       WHERE o_custkey IN (SELECT c_custkey FROM panel))
        |SELECT 'customer' AS tbl,
        |  (SELECT count(*) FROM panel) AS purged,
        |  (SELECT count(*) FROM customer) - (SELECT count(*) FROM panel) AS retained
        |UNION ALL
        |SELECT 'lineitem',
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_orderkey IN (SELECT o_orderkey FROM po)),
        |  (SELECT count(*) FROM lineitem)
        |    - (SELECT count(*) FROM lineitem
        |       WHERE l_orderkey IN (SELECT o_orderkey FROM po))
        |UNION ALL
        |SELECT 'orders',
        |  (SELECT count(*) FROM po),
        |  (SELECT count(*) FROM orders) - (SELECT count(*) FROM po)
        |ORDER BY tbl""".stripMargin,
    "q_range_join" ->
      """SELECT a.user_id, count(*) AS n_pairs_1h
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND epoch_us(b.ts) > epoch_us(a.ts)
        |  AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    // identical semantics computed by the (user, 1h-band) equi join —
    // the hot-key-safe plan; same oracle by design
    "q_range_join_banded" ->
      """SELECT a.user_id, count(*) AS n_pairs_1h
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND epoch_us(b.ts) > epoch_us(a.ts)
        |  AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    "q_asof_join" ->
      """SELECT event_id, user_id, coalesce(prev_click_us, -1) AS prev_click_us FROM (
        |  SELECT event_id, user_id, event_type,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click_us
        |  FROM events) t
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    // same semantics (and oracle) as q_asof_join, computed by the native
    // sort-merge AsOfJoin operator instead of a window
    "q_asof_join_custom" ->
      """SELECT event_id, user_id, coalesce(prev_click_us, -1) AS prev_click_us FROM (
        |  SELECT event_id, user_id, event_type,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click_us
        |  FROM events) t
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    // max-gap variant: the backward match only counts within 30 minutes
    "q_asof_join_tolerance" ->
      """SELECT event_id, user_id,
        |  CASE WHEN prev_click_us IS NOT NULL AND epoch_us(ts) - prev_click_us <= 1800000000
        |       THEN prev_click_us ELSE -1 END AS prev_click_us FROM (
        |  SELECT event_id, user_id, event_type, ts,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click_us
        |  FROM events) t
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    // nearest mode: closer of the backward/forward matches, ties backward
    "q_asof_join_nearest" ->
      """SELECT event_id, user_id,
        |  CASE WHEN prev_us IS NULL AND next_us IS NULL THEN -1
        |       WHEN prev_us IS NULL THEN next_us
        |       WHEN next_us IS NULL THEN prev_us
        |       WHEN us - prev_us <= next_us - us THEN prev_us
        |       ELSE next_us END AS nearest_click_us FROM (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_us,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |            RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_us
        |  FROM events) t
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    // payload mode: the matched click's time, id and value ride along.
    // All as-of oracles use epoch_us RANGE frames, so purchase-click same-µs
    // pairs are handled identically to the native operator's <=/>= compare
    // (peers included) regardless of ns tie order. The one remaining tie is
    // CLICK-CLICK at the matched µs (struct-max picks the larger event_id;
    // the operator picks its sort-order last) — probed zero such collisions
    // in events at sf0.01/0.1.
    "q_asof_join_payload" ->
      """SELECT event_id, user_id,
        |  coalesce(m.c_us, -1) AS c_us,
        |  coalesce(m.c_event, -1) AS c_event,
        |  coalesce(m.c_value, -1.0) AS c_value FROM (
        |  SELECT event_id, user_id, event_type,
        |    max(CASE WHEN event_type = 'click'
        |             THEN struct_pack(c_us := epoch_us(ts), c_event := event_id, c_value := value) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM events) t
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    // forward direction: first click at or after each purchase
    "q_asof_join_forward" ->
      """SELECT event_id, user_id, coalesce(next_click_us, -1) AS next_click_us FROM (
        |  SELECT event_id, user_id, event_type,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |            RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_click_us
        |  FROM events) t
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)/count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)/count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)/count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_global_agg" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)/count(*) AS avg_price,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,
    "q_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(n_name, 'ALL') AS nation, coalesce(oyear, -1) AS oyear,
        |  CAST(sum(CAST(net AS DECIMAL(18,6))) AS DOUBLE) AS revenue, count(*) AS n_items
        |FROM (SELECT n_name, year(o_orderdate) AS oyear,
        |             l_extendedprice*(1-l_discount) AS net
        |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation ON c_nationkey = n_nationkey)
        |GROUP BY ROLLUP(n_name, oyear)
        |ORDER BY nation, oyear""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    // q_mv_cube checks the stored pre-sums against the same aggregate run
    // directly on the fact; q_mv_rewrite checks the REWRITTEN serving plan
    // (engine side refuses to run unless the plan is cube-only) against
    // the fact-scanning form — together they pin both halves of the
    // materialized-view lifecycle to DuckDB.
    "q_mv_cube" -> mvCubeOracleSql,
    // the incremental segment fold is bit-identical to a full rebuild
    // (DECIMAL partial sums are order/grouping-insensitive), so it shares
    // the full-rebuild oracle — the self-maintainable-view claim, checked
    "q_mv_incremental" -> mvCubeOracleSql,
    "q_mv_rewrite" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc,
        |  count(*) AS n_items
        |FROM lineitem WHERE year(l_shipdate) >= 1996
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_collect" ->
      """SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        |       count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_percentile_stats" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95,
        |  round(stddev_samp(value), 4) AS sd,
        |  min(value) AS vmin, max(value) AS vmax
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // bracket oracles for the two non-portable sketches: the oracle computes
    // the EXACT companion columns and expects the sketch-error verdicts
    // TRUE — a sketch drifting outside its asserted envelope hash-mismatches
    // by name (the raw estimates are displayed and bounded in AggregatesSpec)
    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS hll_within_10pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // inclusion-exclusion overlap of two customer sets from three HLL
    // sketches: exact set sizes + exact Jaccard ppm portable, the
    // composed-estimate verdict bracketed against the UNION scale
    "q_hll_overlap" ->
      """WITH s AS (SELECT
        |    count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN o_custkey END) AS n_a,
        |    count(DISTINCT CASE WHEN year(o_orderdate) = 1996
        |      THEN o_custkey END) AS n_b,
        |    count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
        |      OR year(o_orderdate) = 1996 THEN o_custkey END) AS n_union
        |  FROM orders)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_union AS BIGINT) AS n_union,
        |  CAST(n_a + n_b - n_union AS BIGINT) AS n_intersect,
        |  CAST((n_a + n_b - n_union) * 1000000 // n_union AS BIGINT)
        |    AS jaccard_ppm,
        |  TRUE AS inter_within_10pct_of_union
        |FROM s""".stripMargin,
    // the no-Expand sibling: exact companions identical by construction,
    // so the oracle body is q_hll_overlap's verbatim
    "q_hll_overlap_sketch" ->
      """WITH s AS (SELECT
        |    count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN o_custkey END) AS n_a,
        |    count(DISTINCT CASE WHEN year(o_orderdate) = 1996
        |      THEN o_custkey END) AS n_b,
        |    count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
        |      OR year(o_orderdate) = 1996 THEN o_custkey END) AS n_union
        |  FROM orders)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_union AS BIGINT) AS n_union,
        |  CAST(n_a + n_b - n_union AS BIGINT) AS n_intersect,
        |  CAST((n_a + n_b - n_union) * 1000000 // n_union AS BIGINT)
        |    AS jaccard_ppm,
        |  TRUE AS inter_within_10pct_of_union
        |FROM s""".stripMargin,
    // KMV: the sketch is a pure function of the data under the house
    // 60-bit md5 hash, so the ESTIMATE ITSELF replays exactly — no
    // bracket needed, full oracle (unlike HLL's engine-private registers)
    "q_kmv_distinct" -> KmvOracle,
    // the served day-cube merge (union + re-rank + truncate) is EXACTLY
    // the one-shot top-k — the merged estimate equals q_kmv_distinct
    // bit-for-bit, so the oracle is shared verbatim
    "q_kmv_cube" -> KmvOracle,
    // the appended store's union-truncate fold is exact (≤ k−1-smaller
    // argument) — oracle shared verbatim a third time
    "q_kmv_cube_incremental" -> KmvOracle,
    // the sketch-only serve (no exact arm in the PLAN — asserted off the
    // analyzed relations); the oracle still replays the deterministic
    // estimate from the raw events and hash-checks it
    "q_kmv_cube_sketch" ->
      s"""WITH dh AS (SELECT DISTINCT event_type,
         |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS h
         |  FROM events),
         |tk AS (SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |       FROM dh),
         |kk AS (SELECT event_type, max(h) AS hk, count(*) AS nk
         |       FROM tk WHERE rn <= ${operators.Aggregates.KmvK} GROUP BY 1)
         |SELECT event_type,
         |  CAST(CASE WHEN nk < ${operators.Aggregates.KmvK} THEN nk
         |       ELSE (CAST(${operators.Aggregates.KmvK - 1} AS HUGEINT) * ${operators.Aggregates.KmvTwo60}) // hk
         |       END AS BIGINT) AS kmv_est
         |FROM kk ORDER BY event_type""".stripMargin,
    // the store-only overlap serve: per-type synopses recovered from the
    // cube by the exact union-truncate, same theta-rule estimates — the
    // oracle replays them from raw events (values identical to
    // q_kmv_overlap's sketch arm)
    "q_kmv_overlap_sketch" ->
      s"""WITH dh AS (SELECT DISTINCT event_type,
         |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS h
         |  FROM events),
         |tk AS (SELECT event_type, h FROM (
         |    SELECT event_type, h,
         |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |    FROM dh) WHERE rn <= ${operators.Aggregates.KmvK}),
         |tp AS (SELECT DISTINCT event_type FROM dh),
         |pr AS (SELECT a.event_type AS ta, b.event_type AS tb
         |       FROM tp a JOIN tp b ON a.event_type < b.event_type),
         |u AS (SELECT DISTINCT pr.ta, pr.tb, s.h
         |      FROM pr JOIN tk s ON s.event_type = pr.ta OR s.event_type = pr.tb),
         |ku AS (SELECT ta, tb, h FROM (
         |    SELECT ta, tb, h,
         |      row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
         |    FROM u) WHERE rn <= ${operators.Aggregates.KmvK}),
         |ag AS (SELECT k.ta, k.tb, max(k.h) AS hk, count(*) AS nk,
         |        sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS c
         |      FROM ku k
         |      LEFT JOIN tk a ON a.event_type = k.ta AND a.h = k.h
         |      LEFT JOIN tk b ON b.event_type = k.tb AND b.h = k.h
         |      GROUP BY 1, 2),
         |est AS (SELECT ta, tb, c, nk,
         |         CASE WHEN nk < ${operators.Aggregates.KmvK} THEN nk
         |              ELSE (CAST(${operators.Aggregates.KmvK - 1} AS HUGEINT) * ${operators.Aggregates.KmvTwo60}) // hk
         |         END AS union_est
         |        FROM ag)
         |SELECT ta AS type_a, tb AS type_b,
         |  CAST(union_est AS BIGINT) AS union_est,
         |  CAST((CAST(c AS HUGEINT) * union_est) // nk AS BIGINT) AS inter_est,
         |  CAST(c * 1000000 // nk AS BIGINT) AS jaccard_est_ppm
         |FROM est ORDER BY type_a, type_b""".stripMargin,
    // KMV set algebra: the theta-style union/intersection estimator whose
    // ESTIMATES hash-check (deterministic synopses — q_hll_overlap's
    // bracket retired for this family); exact companions = audit arm
    "q_kmv_overlap" ->
      s"""WITH dh AS (SELECT DISTINCT event_type,
         |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS h
         |  FROM events),
         |tk AS (SELECT event_type, h FROM (
         |    SELECT event_type, h,
         |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |    FROM dh) WHERE rn <= ${operators.Aggregates.KmvK}),
         |tp AS (SELECT DISTINCT event_type FROM dh),
         |pr AS (SELECT a.event_type AS ta, b.event_type AS tb
         |       FROM tp a JOIN tp b ON a.event_type < b.event_type),
         |u AS (SELECT DISTINCT pr.ta, pr.tb, s.h
         |      FROM pr JOIN tk s ON s.event_type = pr.ta OR s.event_type = pr.tb),
         |ku AS (SELECT ta, tb, h FROM (
         |    SELECT ta, tb, h,
         |      row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
         |    FROM u) WHERE rn <= ${operators.Aggregates.KmvK}),
         |ag AS (SELECT k.ta, k.tb, max(k.h) AS hk, count(*) AS nk,
         |        sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS c
         |      FROM ku k
         |      LEFT JOIN tk a ON a.event_type = k.ta AND a.h = k.h
         |      LEFT JOIN tk b ON b.event_type = k.tb AND b.h = k.h
         |      GROUP BY 1, 2),
         |tu AS (SELECT DISTINCT event_type, user_id FROM events),
         |uu AS (SELECT pr.ta, pr.tb, t.user_id, t.event_type
         |       FROM pr JOIN tu t ON t.event_type = pr.ta OR t.event_type = pr.tb),
         |pu AS (SELECT ta, tb, user_id, count(DISTINCT event_type) AS ntp
         |       FROM uu GROUP BY 1, 2, 3),
         |ex AS (SELECT ta, tb, count(*) AS n_union,
         |        sum(CASE WHEN ntp = 2 THEN 1 ELSE 0 END) AS n_inter
         |       FROM pu GROUP BY 1, 2),
         |est AS (SELECT g.ta, g.tb, e.n_union, e.n_inter, g.c, g.nk,
         |         CASE WHEN g.nk < ${operators.Aggregates.KmvK} THEN g.nk
         |              ELSE (CAST(${operators.Aggregates.KmvK - 1} AS HUGEINT) * ${operators.Aggregates.KmvTwo60}) // g.hk
         |         END AS union_est
         |        FROM ag g JOIN ex e ON e.ta = g.ta AND e.tb = g.tb)
         |SELECT ta AS type_a, tb AS type_b,
         |  CAST(n_union AS BIGINT) AS n_union, CAST(n_inter AS BIGINT) AS n_inter,
         |  CAST(union_est AS BIGINT) AS union_est,
         |  CAST((CAST(c AS HUGEINT) * union_est) // nk AS BIGINT) AS inter_est,
         |  CAST(n_inter * 1000000 // n_union AS BIGINT) AS jaccard_ppm,
         |  CAST(c * 1000000 // nk AS BIGINT) AS jaccard_est_ppm
         |FROM est ORDER BY type_a, type_b""".stripMargin,
    // the sketch-cube serving shape: exact companions + the cube grain
    // (distinct days) are portable; the merged-union estimate is the
    // bracket verdict, like q_approx_distinct
    "q_hll_cube" ->
      """SELECT event_type,
        |  count(DISTINCT date_trunc('day', ts))::BIGINT AS n_days,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS merged_within_10pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // exact-quantile cube: the oracle replays BOTH integer rank rules
    // over the raw table — exact equality (the point vs the sketch cubes);
    // cell_days = distinct (day, cents) cells per type pins the grain.
    // Shared by the single-build cube and its append-only incremental
    // twin: exact additivity means the refold equals the full rebuild.
    "q_quantile_cube" -> quantileCubeOracleSql,
    // log-bucket (DDSketch) quantile cube, the unbounded-domain sibling:
    // exact nearest-rank companions + TRUE relative-error verdicts —
    // bracket pattern of q_approx_distinct; one oracle for build + append
    "q_dd_cube" -> ddCubeOracleSql,
    "q_dd_cube_incremental" -> ddCubeOracleSql,
    // signed-domain DDSketch (full Masson: mirrored negative store + zero
    // bucket) over per-event net cents; exact BIGINT quantile companions
    // with p05 reading off the negative store, TRUE 2-alpha verdicts
    "q_dd_cube_signed" -> ddSignedOracleSql,
    "q_dd_cube_signed_incremental" -> ddSignedOracleSql,
    "q_quantile_cube_incremental" -> quantileCubeOracleSql,
    // all-integer skew audit: counts, exact-ppm share, hotness x100 vs
    // the uniform mean; (n desc, key) order pinned in both engines
    "q_skew_audit" ->
      """WITH pk AS (SELECT o_custkey, count(*) AS n_rows FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t, count(*) AS k FROM pk)
        |SELECT o_custkey, n_rows,
        |  n_rows * 1000000 // t AS share_ppm,
        |  n_rows * k * 100 // t AS hot_x100
        |FROM pk, t ORDER BY n_rows DESC, o_custkey LIMIT 20""".stripMargin,
    "q_approx_percentile" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50_exact,
        |  round(quantile_cont(value, 0.95), 6) AS p95_exact,
        |  TRUE AS p50_in_rank_window,
        |  TRUE AS p95_in_rank_window
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_corr_stats" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // exact integer sufficient statistics (HUGEINT == the engine's
    // DECIMAL(38,0)); one decimal->double cast per term and a fixed IEEE
    // op order make the emitted doubles bit-deterministic cross-engine.
    // The independent check vs naive least squares lives in AggregatesSpec.
    "q_ols_trend" ->
      """WITH b AS (SELECT o_orderpriority,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS HUGEINT) AS x,
        |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT) AS y
        |  FROM orders),
        |s AS (SELECT o_orderpriority, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
        |  FROM b GROUP BY 1),
        |t AS (SELECT o_orderpriority, n,
        |    CAST(n*sxy - sx*sy AS DOUBLE) AS num,
        |    CAST(n*sxx - sx*sx AS DOUBLE) AS den,
        |    CAST(sy*sxx - sx*sxy AS DOUBLE) AS inum,
        |    CAST(n*syy - sy*sy AS DOUBLE) AS dyy
        |  FROM s)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
        |  round(CASE WHEN den <> 0 THEN num/den END, 6) AS slope_cents_per_day,
        |  round(CASE WHEN den <> 0 THEN inum/den END, 6) AS intercept_cents,
        |  round(CASE WHEN den <> 0 AND dyy <> 0 THEN (num*num)/(den*dyy) END, 6)
        |    AS r2
        |FROM t ORDER BY o_orderpriority""".stripMargin,
    "q_minmax_by" ->
      """SELECT user_id,
        |  (max(struct_pack(value := value, event_id := event_id))).value AS top_value,
        |  (max(struct_pack(value := value, event_id := event_id))).event_id AS top_event_id,
        |  (min(struct_pack(ts := epoch_ns(ts), event_id := event_id))).event_id AS first_event_id
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // fully independent formulation: DuckDB's native median (quantile_cont
    // 0.5) vs the engine's histogram-cumulative construction
    "q_median_hist" ->
      """SELECT l_returnflag AS k, median(l_quantity) AS med
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // fully independent formulation: two native medians vs the engine's
    // double histogram-cumulative pass (deviations step by 0.5 over the
    // integral lattice, so every intermediate is exact in binary)
    "q_mad_hist" ->
      """WITH m AS (SELECT l_returnflag AS k, median(l_quantity) AS med
        |  FROM lineitem GROUP BY 1)
        |SELECT m.k AS k, m.med AS med,
        |  median(abs(l.l_quantity - m.med)) AS mad
        |FROM lineitem l JOIN m ON l.l_returnflag = m.k
        |GROUP BY m.k, m.med ORDER BY m.k""".stripMargin,
    "q_mode_hist" ->
      """WITH h AS (SELECT l_returnflag AS k, l_quantity AS v,
        |    count(*)::BIGINT AS c FROM lineitem GROUP BY 1, 2),
        |  m AS (SELECT k, max(c) AS mc FROM h GROUP BY k)
        |SELECT h.k AS k, min(h.v) AS mode_v, m.mc::BIGINT AS cnt
        |FROM h JOIN m ON h.k = m.k AND h.c = m.mc
        |GROUP BY h.k, m.mc ORDER BY h.k""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS n_click,
        |  count(*) FILTER (event_type = 'error') AS n_error,
        |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (event_type = 'signup') AS n_signup,
        |  count(*) FILTER (event_type = 'view') AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_window_topk" ->
      """SELECT user_id, CAST(rn AS BIGINT) AS rn, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
    "q_window_lag" ->
      """SELECT event_id, value - prev AS delta FROM (
        |  SELECT event_id, value, lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events) t
        |WHERE prev IS NOT NULL ORDER BY event_id""".stripMargin,
    "q_window_running" ->
      """SELECT o_orderkey, o_custkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_total
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_window_trailing1h" ->
      """SELECT event_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000000000
        |        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS sum_1h
        |FROM events ORDER BY event_id""".stripMargin,
    "q_percent_rank" ->
      """SELECT o_orderkey, round(percent_rank() OVER w, 6) AS pr,
        |       round(cume_dist() OVER w, 6) AS cd
        |FROM orders WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        |ORDER BY o_orderkey""".stripMargin,
    "q_window_nav" ->
      """SELECT event_id, user_id,
        |  round(first_value(value) OVER w, 6) AS first_v,
        |  round(nth_value(value, 3) OVER w, 6) AS third_v,
        |  round(last_value(value) OVER w, 6) AS last_v
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "q_ntile" ->
      """SELECT c_custkey,
        |  CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // same semantics (and oracle) as q_ntile, computed by the partition-
    // parallel range-exchange + global-rank formulation instead of the
    // single-task global window
    "q_ntile_dist" ->
      """SELECT c_custkey,
        |  CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // interpolation expression mirrored token-for-token from the engine
    // (ap + (an-ap) * ((h-hp)/(hn-hp)) over exact inputs), rounded once
    "q_gapfill" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_ns(ts)//3600000000000 AS h,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS a
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS h FROM bounds),
        |j AS (SELECT g.event_type, g.h, hr.a FROM grid g
        |  LEFT JOIN hourly hr ON g.event_type = hr.event_type AND g.h = hr.h),
        |f AS (SELECT event_type, h, a,
        |    last_value(a IGNORE NULLS) OVER wp AS ap,
        |    last_value(CASE WHEN a IS NOT NULL THEN h END IGNORE NULLS) OVER wp AS hp,
        |    first_value(a IGNORE NULLS) OVER wn AS an,
        |    first_value(CASE WHEN a IS NOT NULL THEN h END IGNORE NULLS) OVER wn AS hn
        |  FROM j
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, h*3600 AS hour_sec, a IS NULL AS interpolated,
        |  round(coalesce(a,
        |    ap + (an - ap) * (CAST(h - hp AS DOUBLE) / CAST(hn - hp AS DOUBLE))), 6)
        |    AS avg_value
        |FROM f ORDER BY event_type, hour_sec""".stripMargin,
    // exact integer cents×ns weighted sums (HUGEINT == DECIMAL(38,0)),
    // one division at emit; lead tie-broken by event_id in both engines
    "q_twap" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tns, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
        |i AS (SELECT user_id, y,
        |    lead(tns) OVER (PARTITION BY user_id ORDER BY tns, event_id) - tns AS dt
        |  FROM e),
        |g AS (SELECT user_id, count(*)::BIGINT AS n_intervals,
        |    sum(CAST(y AS HUGEINT) * CAST(dt AS HUGEINT)) AS num,
        |    sum(CAST(dt AS HUGEINT)) AS den
        |  FROM i WHERE dt IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_intervals,
        |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS twap_cents
        |FROM g WHERE den > 0 ORDER BY user_id""".stripMargin,
    // unrounded DOUBLE output on purpose: both engines evaluate the same
    // seeded left fold (list_reduce / aggregate-HOF) in the same IEEE op
    // order — two exact 0.5 scalings + one add per step — over the same
    // (ts, event_id)-total order, so the doubles are bit-identical
    "q_ewma" ->
      """SELECT user_id, count(*) AS n_events,
        |  list_reduce(list(value ORDER BY ts, event_id),
        |              (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the O(1)-state mapPartitions fold replays the SAME seeded fold in
    // the same IEEE op order over the same (ts, event_id) total order —
    // one shared oracle for both formulations
    "q_ewma_fold" ->
      """SELECT user_id, count(*) AS n_events,
        |  list_reduce(list(value ORDER BY ts, event_id),
        |              (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_seasonal_naive" ->
      """WITH d AS (SELECT event_type, ts::DATE AS day,
        |        sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |      FROM events GROUP BY 1, 2),
        |j AS (SELECT a.event_type, a.cents AS actual, f.cents AS fc
        |      FROM d a JOIN d f
        |      ON a.event_type = f.event_type AND a.day = f.day + 7)
        |SELECT event_type, count(*) AS n_days,
        |  round(sum(abs(actual - fc))::DOUBLE / count(*), 6) AS mae_cents,
        |  round(sum(actual - fc)::DOUBLE / count(*), 6) AS bias_cents
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // rank-weighted closed form over exact integers; two fixed-order
    // IEEE divisions at emit
    "q_gini" ->
      """WITH o AS (SELECT o_orderpriority, o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y FROM orders),
        |r AS (SELECT o_orderpriority, y, row_number() OVER (
        |    PARTITION BY o_orderpriority ORDER BY y, o_orderkey) AS i FROM o),
        |g AS (SELECT o_orderpriority, count(*)::BIGINT AS n,
        |    sum(CAST(y AS HUGEINT)) AS s1,
        |    sum(CAST(i AS HUGEINT) * CAST(y AS HUGEINT)) AS s2
        |  FROM r GROUP BY 1)
        |SELECT o_orderpriority, n,
        |  round(CASE WHEN s1 <> 0 THEN
        |    CAST(s2 * 2 AS DOUBLE) / CAST(s1 * n AS DOUBLE)
        |      - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) END, 6) AS gini
        |FROM g ORDER BY o_orderpriority""".stripMargin,
    // share thresholds as exact integer products (cum*100 <= total*80) —
    // a 0.8 float literal would diverge on boundary rows cross-engine
    "q_pareto_abc" ->
      """WITH rev AS (SELECT l_partkey,
        |    sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS revenue
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT l_partkey, revenue,
        |    sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(revenue) OVER () AS total
        |  FROM rev)
        |SELECT l_partkey, CAST(revenue AS BIGINT) AS revenue_cents,
        |  CASE WHEN cum * 100 <= total * 80 THEN 'A'
        |       WHEN cum * 100 <= total * 95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM c ORDER BY l_partkey""".stripMargin,

    "q_top20_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q_union_all" ->
      """SELECT * FROM (
        |  SELECT 'cust' AS kind, c_name AS name, c_acctbal AS bal FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT 'supp', s_name, s_acctbal FROM supplier WHERE s_acctbal > 0)
        |ORDER BY kind, name""".stripMargin,
    // the null-filled missing column surfaces as the -1 sentinel, written
    // literally on the side that lacks it in the oracle
    "q_union_by_name" ->
      """SELECT id, name, bal FROM (
        |  SELECT c_custkey AS id, c_name AS name, -1.0 AS bal FROM customer
        |  UNION ALL
        |  SELECT s_suppkey, s_name, s_acctbal FROM supplier)
        |ORDER BY name, id""".stripMargin,
    "q_intersect" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |INTERSECT
        |SELECT CAST(s_nationkey AS BIGINT) FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q_except" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |EXCEPT
        |SELECT CAST(s_nationkey AS BIGINT) FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q_distinct_pairs" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_string_funcs" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS len_text,
        |  length(text) = n_chars AS len_matches,
        |  upper(substr(text, 1, 8)) AS head8,
        |  concat_ws('-', lang, source) AS lang_src,
        |  CAST(instr(text, 'scan') AS BIGINT) AS scan_pos,
        |  CAST(levenshtein(lang, 'en') AS BIGINT) AS lev_en,
        |  regexp_extract(text, '([a-z]+)', 1) AS first_word,
        |  regexp_replace(substr(text, 1, 20), ' ', '_', 'g') AS head_snake
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey, year(o_orderdate) AS oyear, month(o_orderdate) AS omonth,
        |  day(o_orderdate) AS oday, quarter(o_orderdate) AS oquarter,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS omonth_start,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch0,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_math_funcs" ->
      """SELECT p_partkey, round(sqrt(p_retailprice), 6) AS sqrt_price,
        |  round(ln(p_retailprice), 6) AS ln_price,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
        |  CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
        |  CAST(abs(p_size - 25) AS BIGINT) AS abs_size_off,
        |  pow(p_size, 2) AS size_sq,
        |  CAST(greatest(p_size, 25) AS BIGINT) AS size_hi,
        |  CAST(least(p_size, 25) AS BIGINT) AS size_lo
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS e1,
        |  round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum'), 6) AS vsum,
        |  round(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax,
        |  round(CAST(list_min(embedding) AS DOUBLE), 6) AS vmin,
        |  list_contains(embedding, embedding[1]) AS has_e1,
        |  CAST(len(list_distinct(embedding)) AS BIGINT) AS n_distinct
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_json_funcs" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k_path,
        |  CAST(props->>'$.k' AS BIGINT) AS k_map,
        |  CAST(props->>'$.k' AS BIGINT) % 10 AS k_mod10
        |FROM events ORDER BY event_id""".stripMargin,
    // keys_csv / first_val / n_entries are DERIVED from the JSON on the
    // DuckDB side too (json_keys), so a map_keys/size regression on the
    // Spark side cannot hide behind a constant oracle
    "q_map_funcs" ->
      """SELECT event_id,
        |  array_to_string(json_keys(props), ',') AS keys_csv,
        |  CAST(props->>('$.' || json_keys(props)[1]) AS BIGINT) AS first_val,
        |  CAST(len(json_keys(props)) AS BIGINT) AS n_entries,
        |  event_type AS et_val,
        |  CAST(user_id AS VARCHAR) AS u_val
        |FROM events ORDER BY event_id""".stripMargin,
    // same semantics (and oracle) as q_window_topk, computed by the custom
    // GroupTopK plan node instead of a window
    "q_window_topk_custom" ->
      """SELECT user_id, CAST(rn AS BIGINT) AS rn, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
    "q_conditional" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'low'
        |       ELSE 'high' END AS tier,
        |  (c_acctbal > 5000 AND c_mktsegment <> 'BUILDING') AS rich_nonbuild
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "q_dedup_hash" ->
      """SELECT sha256(text) AS fp, min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "q_neardup_jaccard"  -> NearDupOracle,
    "q_neardup_ppjoin"   -> NearDupOracle,
    // declarative crossJoin+filter form, planned by SimJoinRewriteRule —
    // same pair semantics, same oracle
    "q_simjoin_rewrite"  -> NearDupOracle,
    "q_neardup_minhash"  -> NearDupOracle,
    // connected components over the same exact pair ground truth, via a
    // recursive transitive-closure CTE; cluster label = component minimum
    "q_neardup_clusters" ->
      s"""WITH RECURSIVE $NearDupPairsCte,
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM np
         |          UNION SELECT doc_b, doc_a FROM np),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster,
         |       a = least(a, min(b)) AS is_survivor
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // incremental batch-vs-index: odd doc_ids are the new batch, even the
    // index; survivors = new docs with no cross-side near-dup
    "q_dedup_incremental" ->
      s"""WITH $NearDupPairsCte,
         |dup AS (SELECT doc_b AS doc_id FROM np WHERE doc_a % 2 = 0 AND doc_b % 2 = 1
         |        UNION SELECT doc_a FROM np WHERE doc_a % 2 = 1 AND doc_b % 2 = 0)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM dup)
         |ORDER BY doc_id""".stripMargin,
    // bloom-prefiltered EXACT incremental dedup: the filter only routes
    // rows (definite-new bypass vs verify join), so the oracle is the
    // plain exact anti-join semantics
    "q_dedup_bloom" ->
      """SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 2 = 1 AND NOT EXISTS (
        |  SELECT 1 FROM documents o WHERE o.doc_id % 2 = 0 AND o.text = d.text)
        |ORDER BY doc_id""".stripMargin,
    "q_simhash" -> SimhashOracle,
    // the DuckDB oracle recomputes the same 8 affine-family minima over the
    // md5-60 shingle hashes (constants interpolated from TextHash — the
    // engine and the oracle share one deterministic hash-family definition)
    "q_minhash_sig" -> {
      val terms = (0 until 8).map(i =>
        s"min((${graft.functions.TextHash.coefA(i)} * hm + ${graft.functions.TextHash.coefB(i)}) % 2147483647) AS s$i")
        .mkString(", ")
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
         |         THEN [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]
         |         ELSE w END)) AS s FROM toks),
         |h AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT % 2147483647 AS hm FROM sh)
         |SELECT doc_id, $terms
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // estimate-vs-exact sketch audit: ALL 64 affine minima recomputed, the
    // matching-component fraction compared against the exact Jaccard on
    // the verified near-dup pair set
    "q_minhash_est" -> {
      val mins = (0 until 64).map(i =>
        s"min((${graft.functions.TextHash.coefA(i)} * hm + ${graft.functions.TextHash.coefB(i)}) % 2147483647)")
        .mkString("list_value(", ", ", ")")
      s"""WITH $NearDupPairsCte,
         |hm AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT % 2147483647 AS hm
         |  FROM (SELECT doc_id, unnest(ts) AS s FROM sh)),
         |sigs AS (SELECT doc_id, $mins AS sig FROM hm GROUP BY doc_id)
         |SELECT np.doc_a, np.doc_b,
         |  len([i for i in range(1, 65) if sa.sig[i] = sb.sig[i]])::BIGINT AS n_match,
         |  round(len([i for i in range(1, 65) if sa.sig[i] = sb.sig[i]]) / 64.0, 6) AS jac_est,
         |  np.jac AS jac_exact,
         |  round(round(len([i for i in range(1, 65) if sa.sig[i] = sb.sig[i]]) / 64.0, 6)
         |        - np.jac, 6) AS err
         |FROM np JOIN sigs sa ON sa.doc_id = np.doc_a
         |        JOIN sigs sb ON sb.doc_id = np.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // band-width tuning curve: signatures + all four hierarchically
    // nested bandings + the exact-Jaccard truth join replayed per config —
    // the S-curve threshold sweep with hash-pinned values
    "q_minhash_band_curve" -> {
      val mins = (0 until 64).map(i =>
        s"min((${graft.functions.TextHash.coefA(i)} * hm + ${graft.functions.TextHash.coefB(i)}) % 2147483647)")
        .mkString("list_value(", ", ", ")")
      val cfg = Seq(2, 4, 8, 16).map { r =>
        val b = 64 / r
        s"""k$r AS (SELECT doc_id, i AS band,
           |  array_to_string(sig[i*$r+1:i*$r+$r], ',') AS key
           |  FROM sigs, range(0, $b) t(i)),
           |c$r AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM k$r a JOIN k$r b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
           |row$r AS (SELECT CAST($r AS BIGINT) AS rows_per_band,
           |    CAST($b AS BIGINT) AS n_bands,
           |    (SELECT count(*) FROM c$r) AS n_cand,
           |    (SELECT count(*) FROM tp) AS n_true,
           |    (SELECT count(*) FROM c$r c JOIN tp
           |       ON tp.doc_a = c.doc_a AND tp.doc_b = c.doc_b) AS n_hits)""".stripMargin
      }.mkString(",\n")
      s"""WITH $NearDupPairsCte,
         |tp AS (SELECT doc_a, doc_b FROM np),
         |hm AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT % 2147483647 AS hm
         |  FROM (SELECT doc_id, unnest(ts) AS s FROM sh)),
         |sigs AS MATERIALIZED (SELECT doc_id, $mins AS sig FROM hm GROUP BY doc_id),
         |$cfg
         |SELECT rows_per_band, n_bands,
         |  CAST(n_cand AS BIGINT) AS n_cand, CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_hits AS BIGINT) AS n_hits,
         |  CAST(n_hits * 1000000 // n_cand AS BIGINT) AS precision_ppm,
         |  CAST(n_hits * 1000000 // n_true AS BIGINT) AS recall_ppm
         |FROM (SELECT * FROM row2 UNION ALL SELECT * FROM row4
         |      UNION ALL SELECT * FROM row8 UNION ALL SELECT * FROM row16)
         |ORDER BY rows_per_band""".stripMargin
    },
    // containment: exact all-pairs ground truth on the same shingle sets
    "q_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |         THEN [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]
        |         ELSE w END) AS ts FROM toks)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.ts, b.ts))::BIGINT AS inter,
        |  len(a.ts)::BIGINT AS sz_a, len(b.ts)::BIGINT AS sz_b,
        |  round(len(list_intersect(a.ts, b.ts))::DOUBLE
        |        / least(len(a.ts), len(b.ts)), 6) AS containment
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ts, b.ts)) * 10 >= least(len(a.ts), len(b.ts)) * 9
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_neardup_simhash" ->
      s"""WITH f AS ($SimhashOracle)
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |FROM f x JOIN f y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 9
         |ORDER BY doc_a, doc_b""".stripMargin,
    // r9: CLUSTER-LOCAL loose-τ pair graph (SemDeDup's tractability trade
    // applied to the pair graph itself) — the oracle replays the identical
    // deterministic integer k-means (KmeansCtes, shared with q_kmeans /
    // q_semdedup) and applies the same-cluster condition, so the contract
    // is exact, not recall-lossy. The global all-pairs form survives as
    // the unregistered Dedup.embeddingPairsExact audit tool.
    "q_dedup_embedding" ->
      s"""WITH $KmeansCtes,
         |asg AS (SELECT vec_id, cid AS cluster FROM af WHERE rn = 1),
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
         |n AS (SELECT vec_id, v, list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b) nn FROM e),
         |m AS (SELECT n.vec_id, v, nn, cluster FROM n JOIN asg USING (vec_id))
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_reduce(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), (x,y) -> x+y)
         |        / (sqrt(a.nn)*sqrt(b.nn)), 6) AS cos
         |FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |WHERE list_reduce(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), (x,y) -> x+y)
         |      / (sqrt(a.nn)*sqrt(b.nn)) >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q_embedding_clusters" ->
      s"""WITH RECURSIVE $KmeansCtes,
         |asg AS (SELECT vec_id, cid AS cluster FROM af WHERE rn = 1),
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
         |n AS (SELECT vec_id, v, list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b) nn FROM e),
         |m AS (SELECT n.vec_id, v, nn, cluster FROM n JOIN asg USING (vec_id)),
         |ep AS (SELECT a.vec_id AS va, b.vec_id AS vb
         |       FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |       WHERE list_reduce(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), (x,y) -> x+y)
         |             / (sqrt(a.nn)*sqrt(b.nn)) >= 0.45),
         |edges AS (SELECT va AS a, vb AS b FROM ep UNION SELECT vb, va FROM ep),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a)
         |SELECT a AS vec_id, least(a, min(b)) AS cluster,
         |       a = least(a, min(b)) AS is_survivor
         |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin,
    // tight-τ (0.9) variant over the FULL corpus — singletons cluster to
    // themselves; the engine side generates candidates from sign-LSH bands
    // (bucket-only), the oracle from the exact cross join
    "q_embedding_clusters_tight" ->
      """WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |n AS (SELECT vec_id, v, list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b) nn FROM e),
        |ep AS (SELECT a.vec_id AS va, b.vec_id AS vb
        |       FROM n a JOIN n b ON a.vec_id < b.vec_id
        |       WHERE list_reduce(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), (x,y) -> x+y)
        |             / (sqrt(a.nn)*sqrt(b.nn)) >= 0.9),
        |edges AS (SELECT va AS a, vb AS b FROM ep UNION SELECT vb, va FROM ep),
        |reach(a, b) AS (SELECT a, b FROM edges
        |                UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
        |comp AS (SELECT a AS vec_id, least(a, min(b)) AS cluster FROM reach GROUP BY a)
        |SELECT e.vec_id AS vec_id, coalesce(c.cluster, e.vec_id) AS cluster,
        |       coalesce(c.cluster, e.vec_id) = e.vec_id AS is_survivor
        |FROM e LEFT JOIN comp c ON c.vec_id = e.vec_id ORDER BY e.vec_id""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) w FROM documents),
        |tf AS (SELECT doc_id, w AS word, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(*) AS nd FROM documents),
        |sc AS (SELECT doc_id, word, tf * (ln((nd+1.0)/(df+1.0))+1.0) AS tfidf
        |       FROM tf JOIN df USING (word) CROSS JOIN nn)
        |SELECT doc_id, CAST(rn AS BIGINT) AS rn, word, round(tfidf, 6) AS tfidf FROM (
        |  SELECT doc_id, word, tfidf,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
        |  FROM sc)
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "q_bigrams" ->
      """SELECT b AS bigram, count(*) AS cnt FROM (
        |  SELECT unnest(CASE WHEN len(w) >= 2
        |    THEN [w[i]||' '||w[i+1] for i in range(1, len(w))]
        |    ELSE []::VARCHAR[] END) AS b
        |  FROM (SELECT string_split(text,' ') AS w FROM documents))
        |GROUP BY 1 ORDER BY cnt DESC, bigram""".stripMargin,
    // the phrase panel and skip-gram window are interpolated from the
    // engine constants so both sides always answer the same question; the
    // oracle enumerates anchor positions (list-slice compare), the exact
    // semantics of the engine's offset-join — overlapping occurrences
    // count separately on both sides
    "q_phrase_search" ->
      s"""WITH ph(p_id, phrase) AS (VALUES ${TextAnalysis.PhrasePanel
            .map { case (i, p) => s"($i, '$p')" }.mkString(", ")}),
        |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |e AS (SELECT p_id, phrase, string_split(phrase, ' ') AS pw FROM ph),
        |hits AS (
        |  SELECT e.p_id, e.phrase, x.doc_id
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w)+1)) AS i FROM t) x, e
        |  WHERE x.i + len(e.pw) - 1 <= len(x.w)
        |    AND x.w[x.i : x.i + len(e.pw) - 1] = e.pw)
        |SELECT CAST(p_id AS BIGINT) AS p_id, phrase, doc_id, count(*) AS n_occ
        |FROM hits GROUP BY 1, 2, 3 ORDER BY p_id, doc_id""".stripMargin,
    "q_skipgram" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |f AS (SELECT w[i] AS a, w[i+d] AS b
        |      FROM (SELECT doc_id, w, unnest(range(1, len(w)+1)) AS i FROM t),
        |           (VALUES ${(1 to TextAnalysis.SkipWindow)
                       .map(d => s"($d)").mkString(", ")}) v(d)
        |      WHERE i + d <= len(w))
        |SELECT center, context, count(*) AS n FROM (
        |  SELECT a AS center, b AS context FROM f
        |  UNION ALL SELECT b AS center, a AS context FROM f)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_langid" -> (langIdCtes + """
        |SELECT doc_id, lang, pred_lang, pred_lang = lang AS is_correct
        |FROM pr ORDER BY doc_id""".stripMargin),
    // confusion matrix over the SAME scoring CTE (one shared constant, no
    // drift): per (true, predicted) cell count + exact-ppm share of the
    // true language's documents
    "q_langid_audit" -> (langIdCtes + """,
        |cells AS (SELECT lang, pred_lang, count(*)::BIGINT AS n_docs
        |  FROM pr GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang
        |  FROM cells GROUP BY 1)
        |SELECT cells.lang AS lang, pred_lang, n_docs,
        |  CAST(n_docs * 1000000 // n_lang AS BIGINT) AS share_ppm
        |FROM cells JOIN t ON cells.lang = t.lang
        |ORDER BY lang, pred_lang""".stripMargin),
    // Cohen's kappa over the same scoring CTE: truncating integer-ppm
    // ratios computed in the same expression order as the Spark side
    // (kappa from the ALREADY-truncated po/pe ppms) — bit-exact parity.
    "q_langid_kappa" -> (langIdCtes + """,
        |f AS (SELECT lang, pred_lang, count(*) AS c FROM pr GROUP BY 1, 2),
        |t AS (SELECT sum(CASE WHEN lang = pred_lang THEN c ELSE 0 END) AS diag,
        |             sum(c) AS n FROM f),
        |rm AS (SELECT lang AS l, sum(c) AS n_true FROM f GROUP BY 1),
        |cm AS (SELECT pred_lang AS l, sum(c) AS n_pred FROM f GROUP BY 1),
        |pe AS (SELECT sum(CAST(coalesce(n_true, 0) AS HUGEINT)
        |                  * CAST(coalesce(n_pred, 0) AS HUGEINT)) AS pe_num
        |       FROM rm FULL JOIN cm USING (l)),
        |k AS (SELECT CAST(n AS BIGINT) AS n_docs,
        |        CAST(diag AS HUGEINT) * 1000000 // CAST(n AS HUGEINT) AS po_ppm,
        |        pe_num * 1000000 // (CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS pe_ppm
        |      FROM t, pe)
        |SELECT n_docs, CAST(po_ppm AS BIGINT) AS po_ppm,
        |  CAST(pe_ppm AS BIGINT) AS pe_ppm,
        |  CAST(CASE WHEN pe_ppm >= 1000000 THEN error('langIdKappa: degenerate corpus — pe_ppm = 1e6 (single-language marginals), kappa undefined')
        |       ELSE (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm) END AS BIGINT) AS kappa_ppm
        |FROM k""".stripMargin),
    // Gopher-style quality gate: every threshold an integer
    // cross-multiplication — no doubles, bit-deterministic flags
    "q_gopher_rules" ->
      """WITH m AS (SELECT doc_id, len(w)::BIGINT AS nt,
        |    len(list_distinct(w))::BIGINT AS nd,
        |    len(list_filter(w, x -> list_contains(['a','the','of','and','to','in'], x)))::BIGINT AS ns,
        |    CASE WHEN len(w) >= 3 THEN (len(w)-2)::BIGINT ELSE 0 END AS n3,
        |    CASE WHEN len(w) >= 3
        |         THEN len(list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]))::BIGINT
        |         ELSE 0 END AS n3d
        |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents))
        |SELECT doc_id, nt AS n_tokens,
        |  (nt >= 40 AND nt <= 95) AS flag_len,
        |  (ns*50 >= nt) AS flag_stop,
        |  (nd*10 >= nt*3) AS flag_ttr,
        |  ((n3-n3d)*20 <= n3) AS flag_rep,
        |  (nt >= 40 AND nt <= 95 AND ns*50 >= nt AND nd*10 >= nt*3
        |   AND (n3-n3d)*20 <= n3) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // Zipf fit: integer-scaled logs (1e-8 units), exact HUGEINT OLS sums,
    // doubles only in the final divisions — the q_ols_trend discipline
    "q_zipf_slope" ->
      """WITH f AS (SELECT w AS word, count(*) AS cnt
        |  FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents) GROUP BY 1),
        |r AS (SELECT word, cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rank FROM f),
        |p AS (SELECT CAST(round(ln(rank::DOUBLE) * 100000000) AS HUGEINT) AS x,
        |             CAST(round(ln(cnt::DOUBLE) * 100000000) AS HUGEINT) AS y FROM r),
        |s AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |        sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM p)
        |SELECT CAST(n AS BIGINT) AS n_vocab,
        |  round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
        |  round(CAST(sy*sxx - sx*sxy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) / 100000000, 6) AS intercept,
        |  round((CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
        |        / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6) AS r2
        |FROM s""".stripMargin,
    // Heaps growth: each word counts at its FIRST doc; bucket-grain
    // cumulative sums (bounded window)
    "q_heaps_curve" ->
      s"""WITH wd AS (SELECT (max(doc_id) + ${operators.TextAnalysis.HeapsMaxBuckets}) // ${operators.TextAnalysis.HeapsMaxBuckets} AS bw FROM documents),
        |d AS (SELECT doc_id, doc_id // bw AS bucket,
        |    len(string_split(text,' '))::BIGINT AS n_tokens FROM documents, wd),
        |pb AS (SELECT bucket, count(*) AS n_docs, sum(n_tokens) AS toks
        |       FROM d GROUP BY 1),
        |fw AS (SELECT w AS word, min(doc_id) AS first_doc
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
        |  GROUP BY 1),
        |nw AS (SELECT first_doc // bw AS bucket, count(*) AS n_new FROM fw, wd GROUP BY 1)
        |SELECT pb.bucket, pb.n_docs,
        |  CAST(sum(pb.toks) OVER (ORDER BY pb.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_tokens,
        |  CAST(sum(coalesce(nw.n_new, 0)) OVER (ORDER BY pb.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_vocab
        |FROM pb LEFT JOIN nw USING (bucket)
        |ORDER BY bucket""".stripMargin,
    // multinomial Naive Bayes, trained on the corpus itself: Laplace
    // likelihoods and priors each rounded ONCE into DECIMAL(18,8) (the
    // lm_perplexity log discipline), per-doc scores exact integer×decimal
    // sums, argmax ties on lang ascending — identical on both engines
    "q_naive_bayes" ->
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS word
        |          FROM documents),
        |dw AS (SELECT doc_id, lang, word, count(*) AS cnt FROM t GROUP BY 1, 2, 3),
        |cw AS (SELECT lang AS c, word, sum(cnt) AS cwc FROM dw GROUP BY 1, 2),
        |ct AS (SELECT c, sum(cwc) AS tokc FROM cw GROUP BY 1),
        |vv AS (SELECT count(DISTINCT word) AS v FROM cw),
        |grid AS (SELECT w.word, ct.c,
        |    CAST(round(ln((coalesce(cw.cwc, 0) + 1.0) / (ct.tokc + vv.v)), 8)
        |         AS DECIMAL(18,8)) AS lik
        |  FROM (SELECT DISTINCT word FROM cw) w
        |  CROSS JOIN ct CROSS JOIN vv
        |  LEFT JOIN cw ON cw.word = w.word AND cw.c = ct.c),
        |pri AS (SELECT lang AS c,
        |    CAST(round(ln(count(*)::DOUBLE / (SELECT count(*) FROM documents)), 8)
        |         AS DECIMAL(18,8)) AS prior
        |  FROM documents GROUP BY 1),
        |sc AS (SELECT dw.doc_id, dw.lang, g.c, sum(dw.cnt * g.lik) AS s
        |       FROM dw JOIN grid g USING (word) GROUP BY 1, 2, 3),
        |sp AS (SELECT sc.doc_id, sc.lang, sc.c, sc.s + p.prior AS score
        |       FROM sc JOIN pri p USING (c)),
        |pr AS (SELECT doc_id, lang, c AS pred_lang,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rn
        |       FROM sp)
        |SELECT doc_id, lang, pred_lang, pred_lang = lang AS is_correct
        |FROM pr WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // held-out NB eval: the same trained-grid construction restricted to
    // the 98% train band (the q_train_val_test hash banding), both bands
    // scored, per-(lang, split) exact-ppm accuracies
    "q_nb_holdout" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
        |              % 1000000000 < 980000000 THEN 'train' ELSE 'val' END AS split,
        |    unnest(string_split(text,' ')) AS word
        |  FROM documents
        |  WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
        |        % 1000000000 < 990000000),
        |dw AS (SELECT doc_id, lang, split, word, count(*) AS cnt FROM t GROUP BY 1,2,3,4),
        |cw AS (SELECT lang AS c, word, sum(cnt) AS cwc FROM dw
        |       WHERE split = 'train' GROUP BY 1, 2),
        |ct AS (SELECT c, sum(cwc) AS tokc FROM cw GROUP BY 1),
        |vv AS (SELECT count(DISTINCT word) AS v FROM cw),
        |grid AS (SELECT w.word, ct.c,
        |    CAST(round(ln((coalesce(cw.cwc, 0) + 1.0) / (ct.tokc + vv.v)), 8)
        |         AS DECIMAL(18,8)) AS lik
        |  FROM (SELECT DISTINCT word FROM cw) w
        |  CROSS JOIN ct CROSS JOIN vv
        |  LEFT JOIN cw ON cw.word = w.word AND cw.c = ct.c),
        |tr AS (SELECT doc_id, lang FROM documents
        |       WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
        |             % 1000000000 < 980000000),
        |pri AS (SELECT lang AS c,
        |    CAST(round(ln(count(*)::DOUBLE / (SELECT count(*) FROM tr)), 8)
        |         AS DECIMAL(18,8)) AS prior
        |  FROM tr GROUP BY 1),
        |sc AS (SELECT dw.doc_id, dw.lang, dw.split, g.c, sum(dw.cnt * g.lik) AS s
        |       FROM dw JOIN grid g USING (word) GROUP BY 1, 2, 3, 4),
        |sp AS (SELECT sc.doc_id, sc.lang, sc.split, sc.c, sc.s + p.prior AS score
        |       FROM sc JOIN pri p USING (c)),
        |pr AS (SELECT doc_id, lang, split, c,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rn
        |       FROM sp)
        |SELECT lang, split, count(*)::BIGINT AS n_docs,
        |  CAST(sum(CASE WHEN c = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(sum(CASE WHEN c = lang THEN 1 ELSE 0 END) * 1000000 // count(*)
        |       AS BIGINT) AS acc_ppm
        |FROM pr WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "q_quality" ->
      """WITH m AS (SELECT doc_id, n_chars, len(w)::BIGINT AS n_tokens,
        |  len(list_distinct(w))::BIGINT AS n_distinct,
        |  len(list_filter(w, x -> list_contains(['a','the','of','and','to','in'], x)))::BIGINT AS n_stop
        |  FROM (SELECT doc_id, n_chars, string_split(text,' ') AS w FROM documents))
        |SELECT doc_id, n_tokens, n_distinct,
        |  round(n_distinct::DOUBLE/n_tokens, 6) AS ttr,
        |  round((n_chars - n_tokens + 1)::DOUBLE/n_tokens, 6) AS avg_wlen,
        |  round(n_stop::DOUBLE/n_tokens, 6) AS stop_ratio,
        |  round(0.4*(n_distinct::DOUBLE/n_tokens) + 0.3*(1.0 - n_stop::DOUBLE/n_tokens)
        |        + 0.3*(least(n_tokens, 200)::DOUBLE/200.0), 6) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, md5(text) AS md5_fp,
        |  list_reduce(list_transform(string_split(text,' '),
        |    w -> ('0x'||substr(md5(w),1,8))::BIGINT), (a,b) -> (a*131+b)%1000000007) AS roll_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // winnowing: same 60-bit md5 hash formula recomputed in SQL; window
    // minima over 4 consecutive positional 3-gram hashes, distinct values
    "q_winnow" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS wd FROM documents),
        |hp AS (SELECT doc_id,
        |  [('0x'||substr(md5(wd[i]||' '||wd[i+1]||' '||wd[i+2]),1,15))::BIGINT
        |   for i in range(1, len(wd)-1)] AS hp
        |  FROM t WHERE len(wd) >= 3),
        |sel AS (SELECT doc_id, CASE WHEN len(hp) >= 4
        |  THEN [list_min(hp[j:j+3]) for j in range(1, len(hp)-2)]
        |  ELSE [list_min(hp)] END AS sel FROM hp)
        |SELECT doc_id, unnest(list_sort(list_distinct(sel))) AS fp
        |FROM sel ORDER BY doc_id, fp""".stripMargin,
    "q_token_stats" ->
      """SELECT doc_id,
        |  len(string_split(text,' '))::BIGINT AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+'))::BIGINT AS n_re_tokens,
        |  len(list_distinct(string_split(text,' ')))::BIGINT AS n_uniq_tokens,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
        |         THEN [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]
        |         ELSE w END)) AS s FROM toks),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        |bad AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (s) WHERE sh.doc_id % 97 <> 0)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,
    "q_decontaminate_overlap" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
        |         THEN [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]
        |         ELSE w END)) AS s FROM toks),
        |bench AS (SELECT DISTINCT s, 1 AS hit FROM sh WHERE doc_id % 97 = 0)
        |SELECT sh.doc_id, count(*)::BIGINT AS n_sh, count(hit)::BIGINT AS n_hit,
        |  round(count(hit)::DOUBLE / count(*), 6) AS overlap_frac,
        |  (count(hit) * 20 >= count(*)) AS contaminated
        |FROM sh LEFT JOIN bench ON sh.s = bench.s
        |WHERE sh.doc_id % 97 <> 0
        |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin,
    "q_dup_ngrams" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
        |         THEN [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]
        |         ELSE w END)) AS s FROM toks),
        |df AS (SELECT s, count(*)::BIGINT AS nd FROM sh GROUP BY s)
        |SELECT sh.doc_id, count(*)::BIGINT AS n_sh,
        |  sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
        |  round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS shared_frac,
        |  (sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 5 >= count(*) * 4) AS mostly_dup
        |FROM sh JOIN df USING (s)
        |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin,
    // suffix-array exact-substring dedup: all doubling rounds + the
    // descending LCP walk unrolled as materialized CTEs (the BpeCtes
    // discipline); dense_rank replays the distributed dense index exactly
    "q_suffix_dedup" -> operators.SuffixDedup.suffixDedupOracleSql,
    // the stored-artifact serve is the same frame materialized — SAME
    // oracle, two routes (the q_ivf_served discipline)
    "q_suffix_spans_served" -> operators.SuffixDedup.suffixDedupOracleSql,
    // the removal step: the suffix-array replay's fin frame folded into
    // per-doc coverage — an independent route to the engine's window
    // count (the fixed-window reduction in SuffixDedup.windowsOf)
    "q_suffix_mask" -> operators.SuffixDedup.suffixMaskOracleSql,
    // the same window count off the stored window-posting index — SAME
    // oracle, two registered queries
    "q_suffix_mask_incremental" -> operators.SuffixDedup.suffixMaskOracleSql,
    // positional trigrams under the same portable 60-bit md5 hash the
    // winnowing/sampling oracles use; runs via gaps-and-islands
    "q_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |tg AS (SELECT doc_id, i-1 AS pos,
        |    ('0x'||substr(md5(w[i]||' '||w[i+1]||' '||w[i+2]),1,15))::BIGINT AS h
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w)-1)) AS i
        |        FROM t WHERE len(w) >= 3)),
        |dfq AS (SELECT h, count(*) AS nd
        |  FROM (SELECT DISTINCT doc_id, h FROM tg) GROUP BY h),
        |dp AS (SELECT tg.doc_id, tg.pos FROM tg JOIN dfq USING (h) WHERE nd >= 2),
        |runs AS (SELECT doc_id, max(cnt) AS max_run FROM (
        |    SELECT doc_id, grp, count(*) AS cnt FROM (
        |      SELECT doc_id, pos,
        |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM dp) GROUP BY doc_id, grp) GROUP BY doc_id),
        |base AS (SELECT doc_id,
        |    greatest(len(string_split(text,' ')) - 2, 0)::BIGINT AS n_grams
        |  FROM documents)
        |SELECT b.doc_id, b.n_grams,
        |  coalesce(r.max_run, 0)::BIGINT AS max_dup_run,
        |  (CASE WHEN coalesce(r.max_run, 0) > 0 THEN r.max_run + 2
        |        ELSE 0 END)::BIGINT AS dup_span_tokens
        |FROM base b LEFT JOIN runs r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the apply half: same runs, pick (longest, earliest), cut the token
    // range [start, start+run+1], fingerprint the rejoined remainder
    "q_span_scrub" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |tg AS (SELECT doc_id, i-1 AS pos,
        |    ('0x'||substr(md5(w[i]||' '||w[i+1]||' '||w[i+2]),1,15))::BIGINT AS h
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w)-1)) AS i
        |        FROM t WHERE len(w) >= 3)),
        |dfq AS (SELECT h, count(*) AS nd
        |  FROM (SELECT DISTINCT doc_id, h FROM tg) GROUP BY h),
        |dp AS (SELECT tg.doc_id, tg.pos FROM tg JOIN dfq USING (h) WHERE nd >= 2),
        |runs AS (SELECT doc_id, grp, count(*) AS cnt, min(pos) AS start FROM (
        |    SELECT doc_id, pos,
        |      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |    FROM dp) GROUP BY doc_id, grp),
        |best AS (SELECT doc_id, cnt, start FROM (
        |    SELECT doc_id, cnt, start,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, start) AS rn
        |    FROM runs) WHERE rn = 1)
        |SELECT doc_id, n_tokens, cut_start, cut_tokens,
        |  len(cw)::BIGINT AS n_clean,
        |  -- array_to_string([]) is NULL in DuckDB where Spark's
        |  -- array_join([]) is '' — a fully-cut doc must hash '' here too
        |  md5(coalesce(array_to_string(cw, ' '), '')) AS clean_fp
        |FROM (SELECT t.doc_id, len(t.w)::BIGINT AS n_tokens,
        |    coalesce(b.start, -1)::BIGINT AS cut_start,
        |    (CASE WHEN b.cnt IS NULL THEN 0 ELSE b.cnt + 2 END)::BIGINT AS cut_tokens,
        |    CASE WHEN b.cnt IS NULL THEN t.w
        |         ELSE list_concat(t.w[1:b.start], t.w[b.start+b.cnt+3:]) END AS cw
        |  FROM t LEFT JOIN best b USING (doc_id))
        |ORDER BY doc_id""".stripMargin,
    // char-level gibberish signal: per-(doc,char) c*ln(c) rounded once
    // into DECIMAL(18,8) (order-insensitive sum), one closed-form chain
    "q_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |g AS (SELECT doc_id, ch, count(*)::BIGINT AS c FROM ch GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
        |    count(*)::BIGINT AS n_distinct_chars,
        |    sum(round(c::DOUBLE * ln(c::DOUBLE), 8)::DECIMAL(18,8)) AS s
        |  FROM g GROUP BY 1)
        |SELECT doc_id, n_chars, n_distinct_chars,
        |  round(ln(n_chars::DOUBLE) - s::DOUBLE / n_chars::DOUBLE, 6)
        |    AS entropy_nats
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_lm_perplexity" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |bg AS (SELECT doc_id, unnest([w[i]||' '||w[i+1] for i in range(1, len(w))]) AS b FROM t),
        |db AS (SELECT doc_id, b, count(*)::BIGINT AS nb FROM bg GROUP BY doc_id, b),
        |c2 AS (SELECT b, sum(nb)::BIGINT AS c2 FROM db GROUP BY b),
        |ch AS (SELECT string_split(b,' ')[1] AS w1, sum(c2)::BIGINT AS ch FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok)::BIGINT AS v
        |      FROM (SELECT unnest(string_split(text,' ')) AS tok FROM documents)),
        |p AS (SELECT b, round(-ln((c2 + 0.5) / (ch + 0.5*v)), 8)::DECIMAL(18,8) AS nlp
        |      FROM c2 JOIN ch ON string_split(c2.b,' ')[1] = ch.w1 CROSS JOIN v)
        |SELECT db.doc_id, sum(nb)::BIGINT AS n_bigrams,
        |  round(sum(nlp*nb::DECIMAL(10,0))::DOUBLE / sum(nb)::DOUBLE, 6) AS avg_nll,
        |  round(exp(sum(nlp*nb::DECIMAL(10,0))::DOUBLE / sum(nb)::DOUBLE), 6) AS ppl
        |FROM db JOIN p USING (b)
        |GROUP BY db.doc_id ORDER BY doc_id""".stripMargin,
    "q_vocab_prune" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |dw AS (SELECT doc_id, w, count(*)::BIGINT AS nw FROM tok GROUP BY doc_id, w),
        |wc AS (SELECT w, sum(nw)::BIGINT AS cnt FROM dw GROUP BY w),
        |tt AS (SELECT sum(cnt)::BIGINT AS total FROM wc)
        |SELECT doc_id, sum(nw)::BIGINT AS n_tokens,
        |  sum(CASE WHEN cnt*1000 >= total THEN 0 ELSE nw END)::BIGINT AS n_oov,
        |  round(sum(CASE WHEN cnt*1000 >= total THEN 0 ELSE nw END)::DOUBLE / sum(nw)::DOUBLE, 6) AS oov_rate
        |FROM dw JOIN wc USING (w) CROSS JOIN tt
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_train_val_test" ->
      """SELECT doc_id, lang,
        |  CASE WHEN h < 980000000 THEN 'train'
        |       WHEN h < 990000000 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |  ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000000000 AS h
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_length_histogram" ->
      """SELECT (n // 10) * 10 AS bucket_lo, count(*)::BIGINT AS n_docs,
        |  min(n)::BIGINT AS min_tokens, max(n)::BIGINT AS max_tokens,
        |  sum(n)::BIGINT AS n_tokens
        |FROM (SELECT len(string_split(text,' '))::BIGINT AS n FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vocab_coverage" ->
      """WITH wc AS (SELECT w, count(*)::BIGINT AS cnt
        |  FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
        |  GROUP BY w),
        |rk AS (SELECT cnt,
        |    row_number() OVER (ORDER BY cnt DESC, w) AS r,
        |    sum(cnt) OVER (ORDER BY cnt DESC, w ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM wc),
        |t AS (SELECT sum(cnt)::BIGINT AS total, count(*)::BIGINT AS nvocab FROM wc)
        |SELECT r::BIGINT AS rank, cum::BIGINT AS cum_tokens,
        |  round(cum::DOUBLE / total, 6) AS coverage
        |FROM rk, t
        |WHERE (r & (r - 1)) = 0 OR r = nvocab
        |ORDER BY rank""".stripMargin,
    // chunking mirrors the operator exactly: starts every 48 tokens,
    // 64-token slices, trailing fully-covered starts suppressed
    "q_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' '))::BIGINT AS n FROM documents),
        |u AS (SELECT doc_id, toks, n,
        |    unnest(generate_series(0, n - 1, 48))::BIGINT AS start FROM t)
        |SELECT doc_id, start // 48 AS chunk_id, start,
        |  least(64, n - start) AS n_chunk,
        |  array_to_string(list_slice(toks, start + 1, start + 64), ' ') AS chunk
        |FROM u WHERE start = 0 OR start + 16 < n
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // id = global frequency rank; md5 over the ORDERED id sequence
    // same md5-low-bits hash on both engines, so the whole hashing-trick
    // vectorization is hash-checked end to end
    "q_feature_hash" ->
      """SELECT doc_id,
        |  ('0x'||substr(md5(w),1,8))::BIGINT % 64 AS bucket,
        |  count(*)::BIGINT AS cnt
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |WHERE w <> '' GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_vocab_encode" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |u AS (SELECT doc_id, toks,
        |      unnest(generate_series(1, len(toks)))::BIGINT AS i FROM t),
        |tok AS (SELECT doc_id, i AS pos, toks[i] AS w FROM u),
        |v AS (SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS id
        |      FROM (SELECT w, count(*) AS cnt FROM tok GROUP BY w))
        |SELECT t.doc_id, count(*)::BIGINT AS n_tokens, sum(v.id)::BIGINT AS id_sum,
        |  md5(string_agg(CAST(v.id AS VARCHAR), ',' ORDER BY t.pos)) AS ids_fp
        |FROM tok t JOIN v USING (w)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    // BPE training replayed round-for-round as materialized CTEs (the
    // q_pca_power construction — VERDICT r13 ask #1); see BpeCtes for the
    // greedy-splice relational encoding
    "q_bpe_merges" ->
      s"""WITH $BpeCtes
         |SELECT * FROM (
         |${(1 to operators.Curation.BpeRounds)
             .map(k => s"""SELECT $k AS merge_rank, l AS "left", r AS "right", freq FROM bm$k""")
             .mkString("\nUNION ALL\n")}
         |) ORDER BY merge_rank""".stripMargin,
    // encode = one join against the replayed wd16 word→symbols table
    // (complete on this corpus: the 1-ppm floor prunes nothing), flattened
    // in (position, within-word) order; same unit-separator fingerprint.
    // The `gap` guard (ADVICE r14) makes the completeness assumption
    // STRUCTURAL: on a corpus where the 1-ppm vocabulary floor prunes any
    // word, the inner join would silently drop that word's tokens — the
    // guard raises instead, so the oracle fails loud rather than
    // corpus-conditionally wrong.
    "q_bpe_encode" ->
      s"""WITH $BpeCtes,
         |dt AS MATERIALIZED (
         |  SELECT doc_id, i AS pos, toks[i] AS w
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i
         |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
         |gap AS (SELECT count(*) AS n_missing
         |        FROM dt d LEFT JOIN wd${operators.Curation.BpeRounds} v ON d.w = v.word
         |        WHERE v.word IS NULL),
         |enc0 AS MATERIALIZED (
         |  SELECT d.doc_id, d.pos, v.syms AS syms, unnest(range(1, len(v.syms)+1)) AS j
         |  FROM dt d JOIN wd${operators.Curation.BpeRounds} v ON d.w = v.word),
         |enc AS MATERIALIZED (
         |  SELECT doc_id, pos, j, syms[j] AS sym FROM enc0)
         |SELECT doc_id,
         |  CAST(count(*) + (SELECT CASE WHEN n_missing > 0 THEN error(
         |    'q_bpe_encode oracle: ' || n_missing || ' document tokens have no wd${operators.Curation.BpeRounds} vocabulary entry — the 1-ppm floor pruned a word; oracle incomplete on this corpus')
         |    ELSE 0 END FROM gap) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT sym) AS BIGINT) AS n_distinct,
         |  md5(string_agg(sym, chr(31) ORDER BY pos, j)) AS tok_fp
         |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_shuffle_det" ->
      """WITH h AS (SELECT doc_id, lang,
        |  ('0x'||substr(md5('shuf:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000000000 AS hk
        |  FROM documents)
        |SELECT hk % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY hk % 8 ORDER BY hk, doc_id) AS BIGINT) AS pos,
        |  doc_id, lang
        |FROM h ORDER BY shard, pos""".stripMargin,
    // the manifest over the same deterministic order: per-shard counts +
    // order-sensitive fingerprint of the doc_id sequence
    "q_shard_manifest" ->
      """WITH h AS (SELECT doc_id,
        |    len(string_split(text,' '))::BIGINT AS n,
        |    ('0x'||substr(md5('shuf:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000000000 AS hk
        |  FROM documents),
        |s AS (SELECT hk % 8 AS shard, doc_id, n,
        |    row_number() OVER (PARTITION BY hk % 8 ORDER BY hk, doc_id) AS pos
        |  FROM h)
        |SELECT shard, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens,
        |  md5(string_agg(doc_id::VARCHAR, ',' ORDER BY pos)) AS order_fp
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    "q_quantize_int8" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |a AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS amax FROM v),
        |qq AS (SELECT vec_id, v, amax,
        |  CASE WHEN amax = 0.0 THEN list_transform(v, x -> 0)
        |       ELSE list_transform(v, x -> CAST(round(x * 127.0 / amax) AS INTEGER)) END AS q
        |  FROM a)
        |SELECT vec_id,
        |  round(amax / 127.0, 6) AS scale,
        |  md5(array_to_string(q, ',')) AS q_fp,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  round(CASE WHEN amax = 0.0 THEN 0.0
        |       ELSE list_max(list_transform(v,
        |         x -> abs(x - round(x * 127.0 / amax) * amax / 127.0))) END, 6) AS max_err
        |FROM qq ORDER BY vec_id""".stripMargin,
    // deterministic md5-seeded CMS: estimates, exact counts and overcounts
    // are all reproducible cross-engine
    "q_cms_counts" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |cells AS (
        |  SELECT r, ('0x'||substr(md5(r||':'||w),1,15))::BIGINT % 16 AS cell,
        |         count(*)::BIGINT AS c
        |  FROM tok, rows_ GROUP BY 1, 2),
        |exact AS (SELECT w, count(*)::BIGINT AS cnt FROM tok GROUP BY w),
        |probes AS (
        |  SELECT w, cnt, r,
        |         ('0x'||substr(md5(r||':'||w),1,15))::BIGINT % 16 AS cell
        |  FROM exact, rows_)
        |SELECT p.w, min(c.c) AS est, p.cnt, min(c.c) - p.cnt AS overcount
        |FROM probes p JOIN cells c ON p.r = c.r AND p.cell = c.cell
        |GROUP BY p.w, p.cnt
        |ORDER BY p.w""".stripMargin,
    // the stored per-source cube merges to the IDENTICAL sketch (cells
    // are additive), so the oracle is the q_cms_counts replay + the grain
    "q_cms_cube" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |cells AS (
        |  SELECT r, ('0x'||substr(md5(r||':'||w),1,15))::BIGINT % 16 AS cell,
        |         count(*)::BIGINT AS c
        |  FROM tok, rows_ GROUP BY 1, 2),
        |exact AS (SELECT w, count(*)::BIGINT AS cnt FROM tok GROUP BY w),
        |probes AS (
        |  SELECT w, cnt, r,
        |         ('0x'||substr(md5(r||':'||w),1,15))::BIGINT % 16 AS cell
        |  FROM exact, rows_),
        |ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents)
        |SELECT p.w, min(c.c) AS est, p.cnt, min(c.c) - p.cnt AS overcount,
        |  (SELECT n_sources FROM ns) AS n_sources
        |FROM probes p JOIN cells c ON p.r = c.r AND p.cell = c.cell
        |GROUP BY p.w, p.cnt
        |ORDER BY p.w""".stripMargin,
    // fuzzy pairs: exact brute-force ground truth over the (tiny) distinct
    // vocabulary — the engine's deletion-neighborhood join must reproduce
    // it exactly (recall-complete for levenshtein <= 2, then verified)
    "q_fuzzy_vocab" ->
      """WITH wc AS (SELECT w, count(*)::BIGINT AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w)
        |SELECT a.w AS word_a, b.w AS word_b,
        |  levenshtein(a.w, b.w)::BIGINT AS dist, a.cnt AS cnt_a, b.cnt AS cnt_b
        |FROM wc a JOIN wc b ON a.w < b.w
        |WHERE levenshtein(a.w, b.w) <= 2
        |ORDER BY word_a, word_b""".stripMargin,
    "q_pmi_bigrams" ->
      """WITH bg AS (SELECT unnest([w[i]||' '||w[i+1] for i in range(1, len(w))]) AS b
        |            FROM (SELECT string_split(text,' ') AS w FROM documents)),
        |c2 AS (SELECT b, count(*)::BIGINT AS c2 FROM bg GROUP BY b),
        |cl AS (SELECT string_split(b,' ')[1] AS w1, sum(c2)::BIGINT AS cl FROM c2 GROUP BY 1),
        |cr AS (SELECT string_split(b,' ')[2] AS w2, sum(c2)::BIGINT AS cr FROM c2 GROUP BY 1),
        |n AS (SELECT sum(c2)::BIGINT AS nb FROM c2)
        |SELECT b, c2, round(ln(nb::DOUBLE * c2 / (cl::DOUBLE * cr)), 6) AS pmi
        |FROM c2 JOIN cl ON string_split(c2.b,' ')[1] = cl.w1
        |        JOIN cr ON string_split(c2.b,' ')[2] = cr.w2
        |        CROSS JOIN n
        |WHERE c2 >= 20
        |ORDER BY pmi DESC, b LIMIT 20""".stripMargin,
    "q_pii_scrub" ->
      """WITH s AS (SELECT doc_id,
        |  text || ' user' || doc_id::VARCHAR || '@mail' || (doc_id % 10)::VARCHAR
        |       || '.com tel 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |       || ' ip 10.' || (doc_id % 200)::VARCHAR || '.'
        |       || ((doc_id // 200) % 200)::VARCHAR || '.' || (doc_id % 250)::VARCHAR AS s
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(s, '[a-z0-9]+@[a-z0-9]+\.[a-z]+'))::BIGINT AS n_email,
        |  len(regexp_extract_all(s, '[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phone,
        |  len(regexp_extract_all(s, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+'))::BIGINT AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(s,
        |    '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g'),
        |    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_fp
        |FROM s ORDER BY doc_id""".stripMargin,
    // dataset drift audit: shares in exact integer per-mille (n*1000 // total)
    // so both engines land on identical longs; count(*) FILTER keeps BIGINT
    "q_drift_audit" ->
      """WITH docs AS (SELECT *, CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS parity FROM documents),
        |segs AS (
        |  SELECT 'lang' AS dim, lang AS seg, parity FROM docs
        |  UNION ALL SELECT 'source', source, parity FROM docs
        |  UNION ALL SELECT 'len', 'b' || lpad((n_chars // 50)::VARCHAR, 4, '0'), parity FROM docs),
        |wide AS (SELECT dim, seg,
        |  count(*) FILTER (WHERE parity = 0) AS n_index,
        |  count(*) FILTER (WHERE parity = 1) AS n_batch
        |  FROM segs GROUP BY dim, seg),
        |tot AS (SELECT dim, sum(n_index)::BIGINT AS t_index, sum(n_batch)::BIGINT AS t_batch
        |        FROM wide GROUP BY dim)
        |SELECT w.dim AS dim, seg, n_index, n_batch,
        |  n_index * 1000 // t_index AS rate_index_pm,
        |  n_batch * 1000 // t_batch AS rate_batch_pm,
        |  n_batch * 1000 // t_batch - n_index * 1000 // t_index AS delta_pm,
        |  abs(n_batch * 1000 // t_batch - n_index * 1000 // t_index) > 20 AS drifted
        |FROM wide w JOIN tot t ON w.dim = t.dim ORDER BY dim, seg""".stripMargin,
    // expectations suite: the same seven conditional counts folded in one
    // aggregate, unpivoted via UNION ALL (DuckDB regexp_matches == rlike)
    "q_expectations" ->
      """WITH a AS (SELECT count(*) AS n,
        |  count(DISTINCT doc_id) AS n_ids,
        |  sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS v_null,
        |  sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS v_chars,
        |  sum(CASE WHEN lang NOT IN ('de','en','es','fr','zh') THEN 1 ELSE 0 END) AS v_lang,
        |  sum(CASE WHEN NOT regexp_matches(text, '^[a-z ]+$') THEN 1 ELSE 0 END) AS v_charset,
        |  sum(CASE WHEN len(string_split(text,' ')) < 1
        |        OR len(string_split(text,' ')) > 200 THEN 1 ELSE 0 END) AS v_len,
        |  sum(CASE WHEN NOT regexp_matches(source, '^src[0-9]{1,2}$') THEN 1 ELSE 0 END) AS v_source
        |  FROM documents),
        |r AS (
        |  SELECT 'doc_id_unique' AS check_name, n - n_ids AS violations, n AS checked FROM a
        |  UNION ALL SELECT 'doc_id_not_null', v_null, n FROM a
        |  UNION ALL SELECT 'n_chars_consistent', v_chars, n FROM a
        |  UNION ALL SELECT 'lang_in_domain', v_lang, n FROM a
        |  UNION ALL SELECT 'text_charset_az', v_charset, n FROM a
        |  UNION ALL SELECT 'token_len_1_200', v_len, n FROM a
        |  UNION ALL SELECT 'source_id_format', v_source, n FROM a)
        |SELECT check_name, violations::BIGINT AS violations, checked::BIGINT AS checked,
        |  violations = 0 AS passed
        |FROM r ORDER BY check_name""".stripMargin,
    // Apriori k=2 replay; thresholds are integer ratios (supp*20 >= n,
    // supp_pair*2 >= supp_ante) so no float literal crosses engines, and
    // the conf/lift division groupings mirror the Spark expressions
    "q_assoc_rules" -> assocRulesOracleSql,
    // SON mines the SAME rule set on the SAME floors (exact recount pass)
    // — one shared oracle proves the partition-candidate path emits
    // bit-identical rules
    "q_son_rules" -> assocRulesOracleSql,
    // FP-Growth (tree-free pattern-base form) mines the SAME rule set on
    // the SAME floors with NO candidate generation — third sharer
    "q_fpgrowth" -> assocRulesOracleSql,
    // Apriori k=3 replay (r11): the same integer thresholds one level up —
    // triples only counted where ALL three 2-subsets are frequent (the
    // closure prune, mirrored from the engine's broadcast equi-joins)
    "q_assoc_rules3" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |items AS (SELECT DISTINCT doc_id, word FROM t WHERE word <> ''),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |f0 AS (SELECT word, count(*) AS supp FROM items GROUP BY word),
        |freq AS (SELECT word, supp FROM f0, nd
        |         WHERE supp * ${operators.Curation.AssocSupDenom} >= n_docs),
        |dp AS (SELECT a.doc_id, a.word AS a, b.word AS b
        |  FROM items a JOIN items b ON a.doc_id = b.doc_id AND a.word < b.word
        |  JOIN freq fa ON fa.word = a.word JOIN freq fb ON fb.word = b.word),
        |p0 AS (SELECT a, b, count(*) AS supp_pair FROM dp GROUP BY 1, 2),
        |fpairs AS (SELECT a, b, supp_pair FROM p0, nd
        |           WHERE supp_pair * ${operators.Curation.AssocSupDenom} >= n_docs),
        |tri AS (SELECT dp.a, dp.b, c.word AS c
        |  FROM dp JOIN fpairs fp ON fp.a = dp.a AND fp.b = dp.b
        |  JOIN items c ON c.doc_id = dp.doc_id AND dp.b < c.word
        |  JOIN freq fc ON fc.word = c.word
        |  JOIN fpairs pac ON pac.a = dp.a AND pac.b = c.word
        |  JOIN fpairs pbc ON pbc.a = dp.b AND pbc.b = c.word),
        |t0 AS (SELECT a, b, c, count(*) AS supp_tri FROM tri GROUP BY 1, 2, 3),
        |ftri AS (SELECT a, b, c, supp_tri FROM t0, nd
        |         WHERE supp_tri * ${operators.Curation.AssocSupDenom} >= n_docs),
        |rot AS (SELECT a AS ante1, b AS ante2, c AS cons, supp_tri FROM ftri
        |  UNION ALL SELECT a, c, b, supp_tri FROM ftri
        |  UNION ALL SELECT b, c, a, supp_tri FROM ftri)
        |SELECT r.ante1, r.ante2, r.cons, r.supp_tri, fp.supp_pair AS supp_ante,
        |  fc.supp AS supp_cons,
        |  round(r.supp_tri / fp.supp_pair, 6) AS confidence,
        |  round((r.supp_tri * n_docs) / (fp.supp_pair::DOUBLE * fc.supp), 6) AS lift
        |FROM rot r JOIN fpairs fp ON fp.a = r.ante1 AND fp.b = r.ante2
        |  JOIN freq fc ON fc.word = r.cons, nd
        |WHERE r.supp_tri * ${operators.Curation.AssocConfDenom} >= fp.supp_pair
        |ORDER BY ante1, ante2, cons""".stripMargin,
    "q_pipeline_keep" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
        |         THEN [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]
        |         ELSE w END)) AS s FROM toks),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        |bad AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (s) WHERE sh.doc_id % 97 <> 0),
        |surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |m AS (SELECT doc_id, n_chars, len(w)::BIGINT AS n_tokens,
        |  len(list_distinct(w))::BIGINT AS n_distinct,
        |  len(list_filter(w, x -> list_contains(['a','the','of','and','to','in'], x)))::BIGINT AS n_stop
        |  FROM toks JOIN documents USING (doc_id)),
        |q AS (SELECT doc_id,
        |  round(0.4*(n_distinct::DOUBLE/n_tokens) + 0.3*(1.0 - n_stop::DOUBLE/n_tokens)
        |        + 0.3*(least(n_tokens, 200)::DOUBLE/200.0), 6) AS quality FROM m)
        |SELECT doc_id, quality FROM q
        |WHERE doc_id % 97 <> 0
        |  AND doc_id NOT IN (SELECT doc_id FROM bad)
        |  AND doc_id IN (SELECT doc_id FROM surv)
        |  AND quality >= 0.55
        |ORDER BY doc_id""".stripMargin,
    // packed training sequences: per (lang, pack), members concatenated in
    // doc_id order with an <eod> separator, fingerprinted
    "q_pack_texts" ->
      """WITH t AS (SELECT doc_id, lang, text,
        |  len(string_split(text,' '))::BIGINT AS n,
        |  sum(len(string_split(text,' '))::BIGINT)
        |    OVER (PARTITION BY lang ORDER BY doc_id) AS cum
        |  FROM documents)
        |SELECT lang, ((cum - n) // 4096)::BIGINT AS pack_id,
        |  count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens,
        |  md5(string_agg(text, ' <eod> ' ORDER BY doc_id)) AS pack_fp
        |FROM t GROUP BY lang, ((cum - n) // 4096)
        |ORDER BY lang, pack_id""".stripMargin,
    // cross-split leakage audit: per non-train doc, the fraction of its
    // shingles present anywhere in the train split
    "q_split_leakage" ->
      """WITH sp AS (SELECT doc_id,
        |  CASE WHEN h < 980000000 THEN 'train'
        |       WHEN h < 990000000 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000000000 AS h
        |    FROM documents)),
        |toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT t.doc_id, sp.split, unnest(list_distinct(CASE WHEN len(w) >= 3
        |         THEN [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]
        |         ELSE w END)) AS s FROM toks t JOIN sp ON t.doc_id = sp.doc_id),
        |tr AS (SELECT DISTINCT s, 1 AS hit FROM sh WHERE split = 'train')
        |SELECT sh.doc_id, sh.split, count(*)::BIGINT AS n_sh, count(hit)::BIGINT AS n_hit,
        |  round(count(hit)::DOUBLE / count(*), 6) AS leak_frac
        |FROM sh LEFT JOIN tr ON sh.s = tr.s
        |WHERE sh.split <> 'train'
        |GROUP BY sh.doc_id, sh.split ORDER BY doc_id""".stripMargin,
    // the full five-stage curation pipeline: survivors ∧ quality ∧
    // fractional decontamination ∧ LM nll band ∧ length band
    // every card metric is an exact integer (rates via integer div) —
    // the UNION-ALL unpivot mirrors the engine's literal stack
    "q_dataset_card" ->
      """WITH s AS (SELECT count(*)::BIGINT AS n_docs,
        |    sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
        |    count(DISTINCT lang)::BIGINT AS n_langs,
        |    count(DISTINCT source)::BIGINT AS n_sources,
        |    count(DISTINCT text)::BIGINT AS n_distinct_texts,
        |    sum(n_chars)::BIGINT AS sum_chars
        |  FROM documents)
        |SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, n_docs AS value FROM s
        |  UNION ALL SELECT 'n_tokens', n_tokens FROM s
        |  UNION ALL SELECT 'n_langs', n_langs FROM s
        |  UNION ALL SELECT 'n_sources', n_sources FROM s
        |  UNION ALL SELECT 'n_distinct_texts', n_distinct_texts FROM s
        |  UNION ALL SELECT 'exact_dup_per_mille',
        |    (n_docs - n_distinct_texts) * 1000 // n_docs FROM s
        |  UNION ALL SELECT 'mean_chars_ppm', sum_chars * 1000000 // n_docs FROM s)
        |ORDER BY metric""".stripMargin,
    "q_pipeline_curated" ->
      s"""WITH $CuratedCtes
        |SELECT q.doc_id, q.quality, lm.avg_nll, q.n_tokens
        |FROM q JOIN lm ON q.doc_id = lm.doc_id
        |WHERE q.doc_id IN (SELECT doc_id FROM clean)
        |  AND q.doc_id IN (SELECT doc_id FROM surv)
        |  AND q.quality >= 0.55
        |  AND lm.avg_nll >= 3.0 AND lm.avg_nll <= 4.0
        |  AND q.n_tokens >= 15 AND q.n_tokens <= 400
        |ORDER BY q.doc_id""".stripMargin,
    // the curated keep-set with the ExactSubstr gate on top: the suffix
    // CTE chain computes each doc's duplicated-token ppm, and docs that
    // are majority duplicated CONTENT are dropped even when they are the
    // canonical exact-dup survivor (Lee et al. remove every occurrence)
    "q_pipeline_substr" ->
      s"""WITH $CuratedCtes,
        |${operators.SuffixDedup.suffixMaskCtes},
        |dupp AS (SELECT l.doc_id,
        |    CAST(coalesce(c.nd, 0) * 1000000 // l.len AS BIGINT) AS dup_ppm
        |  FROM ln l LEFT JOIN cnt c USING (doc_id))
        |SELECT q.doc_id, q.quality, lm.avg_nll, q.n_tokens, dupp.dup_ppm
        |FROM q JOIN lm ON q.doc_id = lm.doc_id
        |  JOIN dupp ON dupp.doc_id = q.doc_id
        |WHERE q.doc_id IN (SELECT doc_id FROM clean)
        |  AND q.doc_id IN (SELECT doc_id FROM surv)
        |  AND q.quality >= 0.55
        |  AND lm.avg_nll >= 3.0 AND lm.avg_nll <= 4.0
        |  AND q.n_tokens >= 15 AND q.n_tokens <= 400
        |  AND dupp.dup_ppm <= ${operators.Pipeline.DupPpmMax}
        |ORDER BY q.doc_id""".stripMargin,
    // q_pipeline_keep plus the near-dup-survivor filter: drop docs that sit
    // in a near-dup connected component without being its minimum
    "q_pipeline_keep_neardup" ->
      s"""WITH RECURSIVE $NearDupPairsCte,
         |shx AS (SELECT doc_id, unnest(ts) AS s FROM sh),
         |bench AS (SELECT DISTINCT s FROM shx WHERE doc_id % 97 = 0),
         |bad AS (SELECT DISTINCT shx.doc_id FROM shx JOIN bench USING (s) WHERE shx.doc_id % 97 <> 0),
         |surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |m AS (SELECT doc_id, n_chars, len(w)::BIGINT AS n_tokens,
         |  len(list_distinct(w))::BIGINT AS n_distinct,
         |  len(list_filter(w, x -> list_contains(['a','the','of','and','to','in'], x)))::BIGINT AS n_stop
         |  FROM toks JOIN documents USING (doc_id)),
         |q AS (SELECT doc_id,
         |  round(0.4*(n_distinct::DOUBLE/n_tokens) + 0.3*(1.0 - n_stop::DOUBLE/n_tokens)
         |        + 0.3*(least(n_tokens, 200)::DOUBLE/200.0), 6) AS quality FROM m),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM np UNION SELECT doc_b, doc_a FROM np),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |losers AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING a <> least(a, min(b)))
         |SELECT doc_id, quality FROM q
         |WHERE doc_id % 97 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM bad)
         |  AND doc_id IN (SELECT doc_id FROM surv)
         |  AND doc_id NOT IN (SELECT doc_id FROM losers)
         |  AND quality >= 0.55
         |ORDER BY doc_id""".stripMargin,

    // deterministic hash sampling: both engines compute the identical
    // md5-top-60-bit bucket, so the sampled row SET is oracle-checkable
    "q_sample_stratified" ->
      """WITH h AS (SELECT doc_id, lang,
        |  ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000000000 AS sample_key
        |  FROM documents)
        |SELECT doc_id, lang, sample_key FROM h
        |WHERE sample_key < CASE WHEN lang = 'en' THEN 300000000 ELSE 100000000 END
        |ORDER BY doc_id""".stripMargin,
    "q_sample_importance" ->
      """WITH h AS (SELECT doc_id, lang,
        |  len(string_split(text,' '))::BIGINT AS n_tokens,
        |  ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000000000 AS h
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens FROM h
        |WHERE h < least(n_tokens, 200) * 2500000
        |ORDER BY doc_id""".stripMargin,
    "q_source_mix" ->
      """SELECT source, lang, count(*)::BIGINT AS n_docs,
        |  sum(len(string_split(text,' '))::BIGINT)::BIGINT AS n_tokens,
        |  round(avg(length(text)), 6) AS avg_chars
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    // greedy-prefix budget cut: kept iff the budget wasn't full BEFORE
    // the doc (cum − own ≤ B); windowed sums stay internal, outputs cast
    "q_token_budget" ->
      """WITH d AS (SELECT lang, doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        |c AS (SELECT lang, doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d)
        |SELECT lang, count(*) AS n_docs_taken,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_taken,
        |  max(doc_id) AS last_doc_id
        |FROM c WHERE cum - n_tokens <= 10000
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_mixture_rebalance" ->
      """WITH c AS (SELECT source, count(*)::BIGINT AS n_src FROM documents GROUP BY source),
        |t AS (SELECT sum(n_src)::BIGINT AS n_total, count(*)::BIGINT AS n_sources FROM c),
        |r AS (SELECT source, least(1000000000, (n_total * 1000000000) // (n_sources * n_src))::BIGINT AS rate
        |      FROM c, t)
        |SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
        |WHERE ('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15))::BIGINT % 1000000000 < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    // α=1/2 temperature flattening: IEEE sqrt/division are correctly
    // rounded in both engines, so the floored rates match bit-for-bit
    "q_mixture_temp" ->
      """WITH c AS (SELECT source, count(*)::BIGINT AS n_src FROM documents GROUP BY source),
        |m AS (SELECT min(n_src) AS n_min FROM c),
        |r AS (SELECT source, n_src,
        |  CAST(floor(1000000000 * sqrt(n_min::DOUBLE / n_src::DOUBLE)) AS BIGINT) AS rate
        |  FROM c, m),
        |k AS (SELECT d.source, r.n_src, r.rate,
        |  ('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15))::BIGINT % 1000000000 AS h
        |  FROM documents d JOIN r USING (source))
        |SELECT source, n_src, rate, count(*)::BIGINT AS n_kept
        |FROM k WHERE h < rate
        |GROUP BY source, n_src, rate ORDER BY source""".stripMargin,
    "q_pack_sequences" ->
      """SELECT doc_id, lang, n_tokens, ((cum - n_tokens) // 4096)::BIGINT AS pack_id FROM (
        |  SELECT doc_id, lang, len(string_split(text,' '))::BIGINT AS n_tokens,
        |    sum(len(string_split(text,' '))::BIGINT)
        |      OVER (PARTITION BY lang ORDER BY doc_id) AS cum
        |  FROM documents) t ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """SELECT doc_id,
        |  CASE WHEN len(w) >= 3 THEN (len(w)-2)::BIGINT ELSE 0 END AS n_grams,
        |  CASE WHEN len(w) >= 3
        |       THEN len(list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]))::BIGINT
        |       ELSE 0 END AS n_distinct,
        |  CASE WHEN len(w) >= 3
        |       THEN round(1.0 - len(list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]))::DOUBLE
        |                  / (len(w)-2), 6)
        |       ELSE 0.0 END AS dup_frac
        |FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "q_sample_k_per_lang" ->
      """WITH h AS (SELECT doc_id, lang,
        |  ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000000000 AS hk
        |  FROM documents)
        |SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
        |  FROM h)
        |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,

    // deterministic integer k-means, iteration UNROLLED one CTE-triple per
    // Lloyd round (like q_textrank) — CTE chain shared with q_semdedup.
    "q_kmeans" ->
      s"""WITH $KmeansCtes
         |SELECT q.vec_id, q.label, af.cid::BIGINT AS cluster, af.dist::BIGINT AS dist
         |FROM af JOIN q USING (vec_id) WHERE af.rn = 1 ORDER BY vec_id""".stripMargin,
    // JL random projection: the ±1 matrix derives from the house md5 hash
    // ("rp:r:c" low bit), so projections, fingerprints AND the per-pair
    // distortion ratio replay exactly — a fully deterministic sketch
    "q_rand_proj" ->
      s"""WITH $RpCtes,
         |pr AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         a.fp AS proj_fp_a, b.fp AS proj_fp_b,
         |         CAST(list_sum([(qa.qv[i] - qb.qv[i])*(qa.qv[i] - qb.qv[i]) for i in range(1,65)]) AS BIGINT) AS d64,
         |         CAST(list_sum([(a.p[i] - b.p[i])*(a.p[i] - b.p[i]) for i in range(1,${operators.Similarity.RpDim + 1})]) AS BIGINT) AS d16
         |       FROM pl a JOIN pl b ON b.vec_id = a.vec_id + 1
         |       JOIN qe qa ON qa.vec_id = a.vec_id
         |       JOIN qe qb ON qb.vec_id = b.vec_id
         |       WHERE a.vec_id % 2 = 0)
         |SELECT vec_a, vec_b, proj_fp_a, proj_fp_b, d64, d16,
         |  CAST(CAST(d16 AS HUGEINT) * 1000000 // (${operators.Similarity.RpDim} * CAST(d64 AS HUGEINT)) AS BIGINT) AS ratio_ppm
         |FROM pr ORDER BY vec_a""".stripMargin,
    // projected-space top-10 vs the exact top-10 — both rankings total-
    // ordered and the matrix hash-derived, so the RECALL replays exactly
    "q_rand_proj_topk" ->
      s"""WITH $RpCtes,
         |al AS (SELECT pl.vec_id, qe.qv, pl.p FROM pl JOIN qe USING (vec_id)),
         |qs AS (SELECT vec_id AS q_id, qv AS qq, p AS pq FROM al WHERE vec_id % 25 = 0),
         |pr AS (SELECT q.q_id, a.vec_id,
         |        list_sum([(q.qq[i] - a.qv[i])*(q.qq[i] - a.qv[i]) for i in range(1,65)]) AS d64,
         |        list_sum([(q.pq[i] - a.p[i])*(q.pq[i] - a.p[i]) for i in range(1,${operators.Similarity.RpDim + 1})]) AS d16
         |       FROM qs q CROSS JOIN al a WHERE a.vec_id <> q.q_id),
         |rk AS (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id ORDER BY d16, vec_id) AS rp,
         |        row_number() OVER (PARTITION BY q_id ORDER BY d64, vec_id) AS re
         |       FROM pr)
         |SELECT q_id,
         |  CAST(sum(CASE WHEN rp <= ${operators.Similarity.RpTopK} AND re <= ${operators.Similarity.RpTopK} THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN rp <= ${operators.Similarity.RpTopK} AND re <= ${operators.Similarity.RpTopK} THEN 1 ELSE 0 END) * 1000000 // ${operators.Similarity.RpTopK}
         |       AS BIGINT) AS recall_ppm,
         |  CAST(min(CASE WHEN rp = 1 THEN vec_id END) AS BIGINT) AS proj_top1,
         |  CAST(min(CASE WHEN re = 1 THEN vec_id END) AS BIGINT) AS exact_top1
         |FROM rk GROUP BY q_id ORDER BY q_id""".stripMargin,
    // JL-composed IVF: project (RpCtes) → coarse-assign (the SAME integer
    // Lloyd replayed in 16 dims over the projections) → exact 64-dim
    // re-rank of the survivors; hash-derived + integer end-to-end, so the
    // whole composition replays (VERDICT r14 ask #6)
    "q_jl_ivf_topk" ->
      s"""WITH $RpCtes,
         |${operators.Similarity.jlScoreCtes}
         |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, dist FROM (
         |  SELECT q_id, vec_id, dist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
         |  FROM jlsc)
         |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    // its recall row beside q_ann_recall/q_ivf_audit — values hash-pinned
    "q_jl_ivf_recall" ->
      s"""WITH $RpCtes,
         |${operators.Similarity.jlScoreCtes},
         |${operators.Similarity.l2RecallOracleTail(10, "jlsc", "jl", "qe")}""".stripMargin,
    // the JL-family probe-width sweep: shared projected-space quantizer,
    // one probe/cand/exact-rerank chain per point, curve values pinned
    "q_jl_probe_curve" ->
      s"""WITH $RpCtes,
         |${operators.Similarity.jlBaseCtes},
         |${operators.Similarity.jlProbeCtesFor("j1", 1)},
         |${operators.Similarity.jlProbeCtesFor("j2", 2)},
         |${operators.Similarity.jlProbeCtesFor("j4", 4)},
         |${operators.Similarity.jlProbeCtesFor("j8", 8)},
         |jcex AS (SELECT q_id, vec_id FROM (
         |    SELECT a.vec_id AS q_id, b.vec_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        list_sum([(a.qv[i]-b.qv[i])*(a.qv[i]-b.qv[i]) for i in range(1,65)]),
         |        b.vec_id) AS rn
         |    FROM qe a JOIN qe b ON b.vec_id <> a.vec_id WHERE a.vec_id % 25 = 0)
         |  WHERE rn <= 10),
         |jnq AS (SELECT count(DISTINCT q_id) AS n FROM jcex),
         |jrows AS (
         |  SELECT CAST(1 AS BIGINT) AS nprobe, (SELECT count(*) FROM jcex e JOIN (
         |      SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn FROM j1sc)
         |      WHERE rn <= 10) r ON r.q_id = e.q_id AND r.vec_id = e.vec_id) AS nh
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), (SELECT count(*) FROM jcex e JOIN (
         |      SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn FROM j2sc)
         |      WHERE rn <= 10) r ON r.q_id = e.q_id AND r.vec_id = e.vec_id)
         |  UNION ALL
         |  SELECT CAST(4 AS BIGINT), (SELECT count(*) FROM jcex e JOIN (
         |      SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn FROM j4sc)
         |      WHERE rn <= 10) r ON r.q_id = e.q_id AND r.vec_id = e.vec_id)
         |  UNION ALL
         |  SELECT CAST(8 AS BIGINT), (SELECT count(*) FROM jcex e JOIN (
         |      SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn FROM j8sc)
         |      WHERE rn <= 10) r ON r.q_id = e.q_id AND r.vec_id = e.vec_id))
         |SELECT nprobe, CAST(jnq.n AS BIGINT) AS n_queries, CAST(nh AS BIGINT) AS n_hits,
         |  CAST(nh * 1000000 // (jnq.n * 10) AS BIGINT) AS recall_ppm
         |FROM jrows, jnq ORDER BY nprobe""".stripMargin,
    // the IVFADC probe-width sweep: candidate-generation recall (monotone
    // by nested probe lists) + served ADC recall (pinned, not
    // order-asserted — coded ranking can trade a true neighbor away)
    "q_ivfpq_probe_curve" ->
      s"""WITH $KmeansCtes,
         |${operators.Similarity.pqCtes("pq")},
         |pcasg AS (SELECT vec_id, cid FROM af WHERE rn = 1),
         |pcex AS (SELECT q_id, vec_id FROM (
         |    SELECT a.vec_id AS q_id, b.vec_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        list_sum([(a.qv[i]-b.qv[i])*(a.qv[i]-b.qv[i]) for i in range(1,65)]),
         |        b.vec_id) AS rn
         |    FROM q a JOIN q b ON b.vec_id <> a.vec_id WHERE a.vec_id % 25 = 0)
         |  WHERE rn <= ${operators.Similarity.PqTopK}),
         |${operators.Similarity.ivfPqCurvePointCtes("x1", 1)},
         |${operators.Similarity.ivfPqCurvePointCtes("x2", 2)},
         |${operators.Similarity.ivfPqCurvePointCtes("x4", 4)},
         |${operators.Similarity.ivfPqCurvePointCtes("x8", 8)}
         |SELECT nprobe, CAST(n_queries AS BIGINT) AS n_queries,
         |  CAST(n_cand_hits AS BIGINT) AS n_cand_hits,
         |  CAST(n_cand_hits * 1000000 // (n_queries * ${operators.Similarity.PqTopK}) AS BIGINT) AS cand_ppm,
         |  CAST(n_hits AS BIGINT) AS n_hits,
         |  CAST(n_hits * 1000000 // (n_queries * ${operators.Similarity.PqTopK}) AS BIGINT) AS recall_ppm
         |FROM (SELECT * FROM x1row UNION ALL SELECT * FROM x2row
         |      UNION ALL SELECT * FROM x4row UNION ALL SELECT * FROM x8row)
         |ORDER BY nprobe""".stripMargin,
    // cluster-label purity: majority-label share per cluster off the same
    // deterministic k-means replay; all-integer, tie on (n DESC, label)
    "q_label_purity" ->
      s"""WITH $KmeansCtes,
         |cl AS (SELECT af.cid AS cluster, q.label, count(*) AS n
         |       FROM af JOIN q USING (vec_id) WHERE af.rn = 1 GROUP BY 1, 2),
         |t AS (SELECT cluster, sum(n) AS n_vecs FROM cl GROUP BY 1),
         |mj AS (SELECT cluster, label AS maj_label, n AS n_maj,
         |         row_number() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rn
         |       FROM cl)
         |SELECT CAST(t.cluster AS BIGINT) AS cluster,
         |  CAST(t.n_vecs AS BIGINT) AS n_vecs,
         |  CAST(m.maj_label AS BIGINT) AS maj_label,
         |  CAST(m.n_maj AS BIGINT) AS n_maj,
         |  CAST(m.n_maj * 1000000 // t.n_vecs AS BIGINT) AS purity_ppm
         |FROM t JOIN mj m USING (cluster) WHERE m.rn = 1 ORDER BY cluster""".stripMargin,
    // per-cluster distance z-scores off the same deterministic k-means
    // replay: μ/σ from exact HUGEINT moment sums, doubles only at the end
    "q_embedding_outliers" ->
      s"""WITH $KmeansCtes,
         |s AS (SELECT cid, count(*) AS n, sum(CAST(dist AS HUGEINT)) AS sd,
         |        sum(CAST(dist AS HUGEINT) * dist) AS sdd
         |      FROM af WHERE rn = 1 GROUP BY 1),
         |u AS (SELECT cid,
         |        CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         |        sqrt(greatest(CAST(sdd AS DOUBLE)/CAST(n AS DOUBLE)
         |          - (CAST(sd AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(sd AS DOUBLE)/CAST(n AS DOUBLE)), 0.0))
         |          AS std
         |      FROM s)
         |SELECT af.vec_id, CAST(af.cid AS BIGINT) AS cluster,
         |  CAST(af.dist AS BIGINT) AS dist,
         |  round(CASE WHEN u.std > 0 THEN (af.dist - u.mean) / u.std ELSE 0.0 END, 6) AS z,
         |  (af.dist > u.mean + 2 * u.std) AS is_outlier
         |FROM af JOIN u USING (cid) WHERE af.rn = 1 ORDER BY vec_id""".stripMargin,
    // power-iteration PCA: the trained eigenvector (max-norm micro-units)
    // + explained-variance ppm, replayed round-for-round in exact integers
    "q_pca_power" ->
      s"""WITH $PcaCtes
         |SELECT CAST(u.i - 1 AS BIGINT) AS pos,
         |  CAST(v[u.i] AS BIGINT) AS loading,
         |  CAST(explained_ppm AS BIGINT) AS explained_ppm
         |FROM vf, ex, (SELECT unnest(range(1, 65)) AS i) u
         |ORDER BY pos""".stripMargin,
    // the serve path: every vector's exact projection, micro-units,
    // sign-abs truncating division (same construction Spark-side)
    "q_pca_scores" ->
      s"""WITH $PcaCtes
         |SELECT vec_id, CAST(CASE WHEN dd < 0 THEN -((-dd) // 1000000)
         |  ELSE dd // 1000000 END AS BIGINT) AS score_mu
         |FROM f ORDER BY vec_id""".stripMargin,
    // exact Gram/covariance upper triangle: the same centered corpus,
    // self-joined on vec_id; DECIMAL(38,0) sums rendered as strings (the
    // q_join_profile no-silent-wrap pattern)
    "q_pca_cov" -> PcaCovOracle,
    // the appended-store twin re-sums to the identical cells (scatter
    // additivity over row partitions at fixed mean) — oracle verbatim
    "q_pca_cov_incremental" -> PcaCovOracle,
    // the raw-moment store recenters at the merged mean at serve time;
    // the recentering identity is exact in integers, so the served cells
    // equal a from-scratch build — oracle shared verbatim again
    "q_pca_cov_recentered" -> PcaCovOracle,
    // top-k eigensolve from the stored covariance: the eigenpairs are
    // driver doubles (not SQL-replayable), so the portable columns are
    // n_vectors + the exact scatter trace, and the five eigen-verdicts
    // (Rayleigh / residual / orthogonality / order / beats-iterate) are
    // expected-TRUE brackets computed distributedly Spark-side
    "q_pca_topk" ->
      s"""WITH $PcaBaseCtes,
         |nn AS (SELECT count(*) AS n FROM embeddings)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS component, CAST(n AS BIGINT) AS n_vectors,
         |    CAST(trace AS VARCHAR) AS trace_str, TRUE AS rayleigh_ok,
         |    TRUE AS resid_ok, TRUE AS orth_ok, TRUE AS order_ok,
         |    TRUE AS top_beats_iterate, 'ok' AS diag FROM tr, nn
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), CAST(n AS BIGINT), CAST(trace AS VARCHAR),
         |    TRUE, TRUE, TRUE, TRUE, TRUE, 'ok' FROM tr, nn
         |) ORDER BY component""".stripMargin,
    // two-component serve path: PC1's 64 rounds + PC2's 32 deflated
    // rounds replayed exactly; sign-abs truncating projections
    "q_pca_scores2" ->
      s"""WITH $Pca2Ctes
         |SELECT f.vec_id,
         |  CAST(CASE WHEN f.dd < 0 THEN -((-f.dd) // 1000000)
         |    ELSE f.dd // 1000000 END AS BIGINT) AS score1_mu,
         |  CAST(CASE WHEN f2.dd2 < 0 THEN -((-f2.dd2) // 1000000)
         |    ELSE f2.dd2 // 1000000 END AS BIGINT) AS score2_mu,
         |  CAST(explained_ppm AS BIGINT) AS explained1_ppm,
         |  CAST(explained2_ppm AS BIGINT) AS explained2_ppm
         |FROM f JOIN f2 USING (vec_id), ex, ex2
         |ORDER BY vec_id""".stripMargin,
    // full PQ replay: subspace Lloyd training, encode, LUT, ADC ranking
    "q_pq_topk" -> operators.Similarity.pqOracleSql,
    // exact-L2 + PQ + IVFADC rankings replayed and joined in one statement
    "q_pq_recall" ->
      s"""WITH $KmeansCtes,
         |${operators.Similarity.pqCtes("pq")},
         |${operators.Similarity.pqRecallOracleTail}""".stripMargin,
    // IVFADC = KmeansCtes (coarse lists) ∘ pqCtes (codes + LUTs): probe
    // the nprobe nearest final centroids per panel query, candidates from
    // the cluster assignment, ADC-rank from the PQ replay's enc/lut
    "q_ivfpq_topk" -> IvfPqOracle,
    // the appendable compressed-index serve equals the in-plan IVFADC
    // bit-for-bit (per-row cluster+codes facts under fixed models) —
    // SAME oracle, two routes (the q_ivf_incremental discipline)
    "q_ivfpq_incremental" -> IvfPqOracle,
    // residual IVFADC (FAISS by_residual=true): KmeansCtes ∘ residual ∘
    // PQ-core retraining on residuals ∘ per-(query, probed cluster) LUTs
    // ∘ ADC — all integer, full replay
    "q_ivfpq_residual" ->
      s"""WITH $KmeansCtes,
         |${operators.Similarity.pqResidualCtes}
         |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, adist FROM (
         |  SELECT q_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
         |  FROM rzsc)
         |WHERE rn <= ${operators.Similarity.PqTopK} ORDER BY q_id, rn""".stripMargin,
    // raw-codes vs residual-codes IVFADC against exact integer L2 — both
    // approximate arms and the reference replayed in one statement
    "q_pqres_recall" ->
      s"""WITH $KmeansCtes,
         |${operators.Similarity.pqCtes("pq")},
         |${operators.Similarity.pqResidualCtes},
         |probe AS (SELECT vec_id AS q_id, cid FROM (
         |    SELECT q.vec_id, c.cid,
         |      list_sum([(q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]) for i in range(1,65)]) AS dist,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cid) AS rn
         |    FROM q CROSS JOIN c${operators.Similarity.KmeansRounds} c
         |    WHERE q.vec_id % 25 = 0)
         |  WHERE rn <= ${operators.Similarity.IvfPqNProbe}),
         |cand AS (SELECT p.q_id, a.vec_id FROM probe p
         |         JOIN rzasg a ON a.cid = p.cid AND a.vec_id <> p.q_id),
         |scpq AS (SELECT c.q_id, c.vec_id, CAST(sum(l.d) AS BIGINT) AS adist
         |        FROM cand c JOIN pqenc e ON e.vec_id = c.vec_id
         |          JOIN pqlut l ON l.q_id = c.q_id AND l.sub = e.sub AND l.code = e.code
         |        GROUP BY 1, 2),
         |rawr AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
         |    FROM scpq) WHERE rn <= ${operators.Similarity.PqTopK}),
         |resr AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
         |    FROM rzsc) WHERE rn <= ${operators.Similarity.PqTopK}),
         |exr AS (SELECT q_id, vec_id FROM (
         |    SELECT a.vec_id AS q_id, b.vec_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        list_sum([(a.qv[i]-b.qv[i])*(a.qv[i]-b.qv[i]) for i in range(1,65)]),
         |        b.vec_id) AS rn
         |    FROM q a JOIN q b ON b.vec_id <> a.vec_id WHERE a.vec_id % 25 = 0)
         |  WHERE rn <= ${operators.Similarity.PqTopK}),
         |j AS (SELECT e.q_id, r.vec_id AS rv, s.vec_id AS sv FROM exr e
         |      LEFT JOIN rawr r ON r.q_id = e.q_id AND r.vec_id = e.vec_id
         |      LEFT JOIN resr s ON s.q_id = e.q_id AND s.vec_id = e.vec_id)
         |SELECT q_id, count(rv)::BIGINT AS n_ivfpq,
         |  round(count(rv)::DOUBLE / ${operators.Similarity.PqTopK}, 6) AS recall_ivfpq,
         |  count(sv)::BIGINT AS n_res,
         |  round(count(sv)::DOUBLE / ${operators.Similarity.PqTopK}, 6) AS recall_res
         |FROM j GROUP BY q_id ORDER BY q_id""".stripMargin,
    // SemDeDup: within each k-means cluster, drop every vector with a
    // lower-id neighbor at cosine >= 0.45 (greedy lowest-id keep);
    // cross-cluster near-dups survive by design.
    "q_semdedup" -> SemDedupOracle,
    // the stored-segment serve must equal the scan-time keep set exactly
    // (per-row assignment facts under a fixed model + a pure pair rule ⇒
    // append == rebuild) — SAME oracle, two routes
    "q_semdedup_incremental" -> SemDedupOracle,
    "q_cosine_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |n AS (SELECT vec_id, v, list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b) nn FROM e),
        |q AS (SELECT vec_id AS q_id, v AS vq, nn AS nq FROM n WHERE vec_id % 25 = 0),
        |sc AS (SELECT q.q_id, c.vec_id,
        |         list_reduce(list_transform(range(1, len(q.vq)+1), i -> q.vq[i]*c.v[i]), (a,b) -> a+b)
        |         / (sqrt(q.nq)*sqrt(c.nn)) AS cos
        |       FROM q JOIN n c ON c.vec_id <> q.q_id)
        |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, round(cos, 6) AS cos FROM (
        |  SELECT q_id, vec_id, cos,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
        |  FROM sc)
        |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    // cosine_topk's construction with the cross-label constraint in the join
    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |n AS (SELECT e.vec_id, v, list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b) nn,
        |        d.lang
        |      FROM e JOIN documents d ON d.doc_id = e.vec_id),
        |q AS (SELECT vec_id AS q_id, v AS vq, nn AS nq, lang AS q_lang
        |      FROM n WHERE vec_id % 25 = 0),
        |sc AS (SELECT q.q_id, q.q_lang, c.vec_id, c.lang AS neg_lang,
        |         list_reduce(list_transform(range(1, len(q.vq)+1), i -> q.vq[i]*c.v[i]), (a,b) -> a+b)
        |         / (sqrt(q.nq)*sqrt(c.nn)) AS cos
        |       FROM q JOIN n c ON c.lang <> q.q_lang)
        |SELECT q_id, q_lang, CAST(rn AS BIGINT) AS rn, vec_id, neg_lang,
        |       round(cos, 6) AS cos FROM (
        |  SELECT q_id, q_lang, vec_id, neg_lang, cos,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
        |  FROM sc)
        |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    // FULL oracle: the LSH pipeline is deterministic plan-time math, so the
    // SQL re-runs bucketing + multi-probe + rerank (plane-weight literals
    // interpolated from the same generator the engine compiles in)
    "q_ann_topk" -> Similarity.annOracleSql,
    // the served form reads the session's stored bucket index — same
    // deterministic plane family, same candidates, same oracle; the
    // incremental form appends per-batch signature segments (per-row
    // facts — no serve-time recompute) and serves identically
    "q_ann_served" -> Similarity.annOracleSql,
    "q_ann_incremental" -> Similarity.annOracleSql,
    // recall@10 + MRR of the LSH ANN vs the exact ranking, per query —
    // both pipelines replayed in SQL (deterministic end-to-end), so the
    // hash gate checks the recall VALUES, not a floor
    "q_ann_recall" -> Similarity.annRecallOracleSql,
    // IVFFlat serving (r15): the coarse quantizer is the deterministic
    // integer-lattice Lloyd (KmeansCtes, shared with q_kmeans/q_ivfpq),
    // so bucketing + nprobe probing + the exact in-list re-rank replay
    // in DuckDB and the query hash-checks — the last probabilistic
    // registered row retired (VERDICT r14 ask #1)
    "q_ivf_topk" ->
      s"""WITH $KmeansCtes,
         |${Similarity.ivfScoreCtes}
         |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, dist FROM (
         |  SELECT q_id, vec_id, dist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
         |  FROM ivsc)
         |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    // the stored and appended index forms serve the IDENTICAL ranking
    // (per-row cluster facts under the fixed trained quantizer — append
    // == rebuild trivially and exactly) — oracle shared verbatim
    "q_ivf_served" ->
      s"""WITH $KmeansCtes,
         |${Similarity.ivfScoreCtes}
         |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, dist FROM (
         |  SELECT q_id, vec_id, dist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
         |  FROM ivsc)
         |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    "q_ivf_incremental" ->
      s"""WITH $KmeansCtes,
         |${Similarity.ivfScoreCtes}
         |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, dist FROM (
         |  SELECT q_id, vec_id, dist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
         |  FROM ivsc)
         |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    // the probe-width tuning curve: one exact reference + one pipeline
    // per nprobe point, curve values hash-pinned (candidate sets nested
    // ⇒ recall monotone — the spec asserts it, the oracle pins it)
    "q_ivf_probe_curve" ->
      s"""WITH $KmeansCtes,
         |${operators.Similarity.ivfScoreCtesFor("p1", 1)},
         |${operators.Similarity.ivfScoreCtesFor("p2", 2)},
         |${operators.Similarity.ivfScoreCtesFor("p4", 4)},
         |${operators.Similarity.ivfScoreCtesFor("p8", 8)},
         |exr AS (SELECT q_id, vec_id FROM (
         |    SELECT a.vec_id AS q_id, b.vec_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        list_sum([(a.qv[i]-b.qv[i])*(a.qv[i]-b.qv[i]) for i in range(1,65)]),
         |        b.vec_id) AS rn
         |    FROM q a JOIN q b ON b.vec_id <> a.vec_id WHERE a.vec_id % 25 = 0)
         |  WHERE rn <= 10),
         |nq AS (SELECT count(DISTINCT q_id) AS n FROM exr),
         |h1 AS (SELECT count(*) AS nh FROM exr e JOIN (
         |    SELECT q_id, vec_id FROM (
         |      SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
         |      FROM p1sc) WHERE rn <= 10) r
         |  ON r.q_id = e.q_id AND r.vec_id = e.vec_id),
         |h2 AS (SELECT count(*) AS nh FROM exr e JOIN (
         |    SELECT q_id, vec_id FROM (
         |      SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
         |      FROM p2sc) WHERE rn <= 10) r
         |  ON r.q_id = e.q_id AND r.vec_id = e.vec_id),
         |h4 AS (SELECT count(*) AS nh FROM exr e JOIN (
         |    SELECT q_id, vec_id FROM (
         |      SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
         |      FROM p4sc) WHERE rn <= 10) r
         |  ON r.q_id = e.q_id AND r.vec_id = e.vec_id),
         |h8 AS (SELECT count(*) AS nh FROM exr e JOIN (
         |    SELECT q_id, vec_id FROM (
         |      SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
         |      FROM p8sc) WHERE rn <= 10) r
         |  ON r.q_id = e.q_id AND r.vec_id = e.vec_id)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS nprobe, CAST(nq.n AS BIGINT) AS n_queries,
         |    CAST(h1.nh AS BIGINT) AS n_hits,
         |    CAST(h1.nh * 1000000 // (nq.n * 10) AS BIGINT) AS recall_ppm
         |  FROM nq, h1
         |UNION ALL
         |  SELECT CAST(2 AS BIGINT) AS nprobe, CAST(nq.n AS BIGINT) AS n_queries,
         |    CAST(h2.nh AS BIGINT) AS n_hits,
         |    CAST(h2.nh * 1000000 // (nq.n * 10) AS BIGINT) AS recall_ppm
         |  FROM nq, h2
         |UNION ALL
         |  SELECT CAST(4 AS BIGINT) AS nprobe, CAST(nq.n AS BIGINT) AS n_queries,
         |    CAST(h4.nh AS BIGINT) AS n_hits,
         |    CAST(h4.nh * 1000000 // (nq.n * 10) AS BIGINT) AS recall_ppm
         |  FROM nq, h4
         |UNION ALL
         |  SELECT CAST(8 AS BIGINT) AS nprobe, CAST(nq.n AS BIGINT) AS n_queries,
         |    CAST(h8.nh AS BIGINT) AS n_hits,
         |    CAST(h8.nh * 1000000 // (nq.n * 10) AS BIGINT) AS recall_ppm
         |  FROM nq, h8
         |) ORDER BY nprobe""".stripMargin,
    // the recall eval now carries a FULL oracle too (both arms replay on
    // the shared integer lattice — the pqRecall discipline); the recall
    // VALUES are hash-pinned, honestly mid-band on this isotropic corpus
    "q_ivf_audit" ->
      s"""WITH $KmeansCtes,
         |${Similarity.ivfScoreCtes},
         |${Similarity.ivfAuditOracleTail()}""".stripMargin,

    "q_multimodal_join" ->
      """SELECT doc_id, lang, CAST(label AS BIGINT) AS label, n_chars,
        |  round(sqrt(list_reduce(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)),
        |        (a,b) -> a+b)), 6) AS vnorm
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,
    "q_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
        |  md5(text) AS checksum, ascii(substr(text,1,1))::BIGINT AS first_byte
        |FROM documents ORDER BY doc_id""".stripMargin,
    // FULL oracle since r9 (bracket pattern): text-payload features are
    // exact SQL (the corpus is pure ASCII, so the byte mean is the mean
    // of per-char codepoints — TablesContractSpec pins the ASCII
    // invariant); the three in-plan decode verdicts are pinned TRUE
    "q_media_features" ->
      """SELECT doc_id, 'text/plain' AS media_type,
        |  octet_length(encode(text))::BIGINT AS n_bytes,
        |  md5(text) AS checksum,
        |  round(CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE list_sum(list_transform(range(1, length(text)+1), i -> ascii(text[i])))::DOUBLE
        |         / length(text) END, 6) AS feat_mean,
        |  TRUE AS img_decode_ok, TRUE AS img_resize_ok, TRUE AS wav_rms_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // per-language embedding centroids; 0-based dim to match posexplode
    "q_lang_centroids" ->
      """WITH j AS (SELECT lang, embedding FROM documents JOIN embeddings ON doc_id = vec_id)
        |SELECT lang, CAST(i - 1 AS BIGINT) AS dim,
        |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
        |        / count(*), 6) AS centroid
        |FROM j, (SELECT unnest(range(1, 65)) AS i)
        |GROUP BY lang, i ORDER BY lang, dim""".stripMargin,
    // nearest-centroid confusion matrix: identical centroid construction,
    // identical index-order dot products, struct-max argmax (lang
    // tie-break) — bit-portable across engines
    "q_centroid_classify" ->
      """WITH j AS (SELECT lang, embedding FROM documents JOIN embeddings ON doc_id = vec_id),
        |cent0 AS (SELECT lang AS c_lang, i AS dim,
        |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
        |        / count(*), 6) AS c
        |  FROM j, (SELECT unnest(range(1, 65)) AS i) GROUP BY c_lang, i),
        |cent AS (SELECT c_lang, list(c ORDER BY dim) AS cvec FROM cent0 GROUP BY c_lang),
        |ev AS (SELECT vec_id, lang, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |       FROM embeddings JOIN documents ON vec_id = doc_id),
        |sc AS (SELECT vec_id, lang, c_lang,
        |  list_reduce(list_transform(range(1, 65), i -> v[i]*cvec[i]), (a,b) -> a+b)
        |  / (sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b))
        |     * sqrt(list_reduce(list_transform(cvec, x -> x*x), (a,b) -> a+b))) AS cos
        |  FROM ev, cent),
        |pred AS (SELECT vec_id, lang,
        |  (max(struct_pack(cos := cos, c_lang := c_lang))).c_lang AS pred_lang
        |  FROM sc GROUP BY vec_id, lang)
        |SELECT lang, pred_lang, count(*) AS n FROM pred
        |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,

    "q_tumbling_1h" ->
      """SELECT (epoch_ns(ts)//3600000000000)*3600 AS bucket_sec, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sliding_1h15m" ->
      """SELECT bucket_sec, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM (SELECT ((epoch_ns(ts)//900000000000) - k)*900 AS bucket_sec, event_type, value
        |      FROM events, (SELECT unnest(range(0, 4)) AS k))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the REAL watermarked stream (three file-source micro-batches,
    // append mode): the oracle replays the probed two-watermark
    // semantics — with the corpus-max row in batch 0, emitted rows are
    // exactly the even-event_id (batch-1) rows in windows ending at or
    // below the terminal watermark (corpus max − 2h, ms-floored); odd
    // (batch-2) rows in those windows were genuinely dropped as late,
    // and no window past the horizon is emitted
    // streamed-twice corpus: every batch-2 duplicate is provably removed
    // (late filter below the watermark, state hit at/above it) — emitted
    // set = every event exactly once
    // exact pre-join audit: the oracle replays the count-table join
    "q_join_profile" ->
      """WITH l AS (SELECT o_orderkey AS k, count(*) AS cl FROM orders GROUP BY 1),
        |r AS (SELECT l_orderkey AS k, count(*) AS cr FROM lineitem GROUP BY 1),
        |j AS (SELECT coalesce(l.k, r.k) AS k,
        |    coalesce(cl, 0) AS cl, coalesce(cr, 0) AS cr
        |  FROM l FULL OUTER JOIN r ON l.k = r.k)
        |SELECT CAST(sum(cl) AS BIGINT) AS lhs_rows,
        |  CAST(sum(cr) AS BIGINT) AS rhs_rows,
        |  CAST(sum(CASE WHEN cl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS lhs_keys,
        |  CAST(sum(CASE WHEN cr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rhs_keys,
        |  CAST(CAST(sum(CAST(cl AS DECIMAL(38,0)) * cr) AS DECIMAL(38,0)) AS VARCHAR) AS est_out_rows,
        |  CAST(CAST(max(CAST(cl AS DECIMAL(38,0)) * cr) AS DECIMAL(38,0)) AS VARCHAR) AS max_key_fanout,
        |  CAST(sum(CASE WHEN cl > 0 AND cr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS matched_keys
        |FROM j""".stripMargin,
    // compaction: content columns (rows + exact cents per day) must
    // survive the rewrite untouched; the file-count verdicts are TRUE
    "q_compaction" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day, count(*) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  TRUE AS compacted, TRUE AS single_file
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    // bin-packed form: same content contract, file count per day must
    // equal ceil(rows/target) exactly (verdict TRUE)
    "q_compaction_binpack" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day, count(*) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  TRUE AS binpacked
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "q_stream_dedup" ->
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin,
    // the stream-static join replay equals the plain batch join
    "q_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    // left-outer streamed join: matched pairs = the batch join verbatim;
    // unmatched clicks null-emit iff their 1h match window closed below
    // the PROBED terminal eviction watermark — the minimum of the two
    // sides' own floor-ms maxima, each minus the 2h delay (see
    // streamStreamOuterReplay's probe notes)
    "q_stream_stream_outer" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(cus) // 1000 * 1000 FROM c),
        |    (SELECT max(pus) // 1000 * 1000 FROM p)) - 7200000000 AS w),
        |m AS (SELECT c.click_id, p.purchase_id, c.user_id
        |  FROM c JOIN p ON c.user_id = p.user_id
        |    AND p.pus > c.cus AND p.pus <= c.cus + 3600000000),
        |u AS (SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id
        |  FROM c, wm WHERE c.cus + 3600000000 < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
        |      AND p.pus > c.cus AND p.pus <= c.cus + 3600000000))
        |SELECT * FROM m UNION ALL SELECT * FROM u
        |ORDER BY click_id, purchase_id""".stripMargin,
    // streamed symmetric-hash interval join over chronological slices =
    // the plain batch interval join (see streamStreamJoinReplay's proof)
    "q_stream_stream_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, p.purchase_id, c.user_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.pus > c.cus AND p.pus <= c.cus + 3600000000
        |ORDER BY click_id, purchase_id""".stripMargin,
    "q_watermark_windows" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_id, event_type FROM events),
        |fin AS (SELECT (max(us)//1000 - 7200000)*1000 AS final_wm FROM e)
        |SELECT CAST((us // 3600000000) * 3600 AS BIGINT) AS bucket_sec,
        |  event_type, count(*) AS n_events
        |FROM e, fin
        |WHERE ((us // 3600000000) + 1) * 3600000000 <= fin.final_wm
        |  AND event_id % 2 = 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // streamed session windows: gap-sessionize the stateful rows
    // (even event_ids ∪ the corpus-max watermark pin), emit only
    // sessions closing at or below the terminal watermark — the probed
    // append-mode semantics, session-merge edition
    "q_stream_sessions" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, user_id, event_id FROM events),
        |fin AS (SELECT (max(us)//1000 - 7200000)*1000 AS final_wm FROM e),
        |mx AS (SELECT max(us) AS mus FROM e),
        |st AS (SELECT us, user_id, event_id FROM e, mx
        |       WHERE event_id % 2 = 0 OR us = mus),
        |m AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w >= 600000000 THEN 1 ELSE 0 END AS ns
        |      FROM st WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |g AS (SELECT user_id, sid, min(us) AS start_us,
        |        max(us) + 600000000 AS end_us, count(*) AS n_events,
        |        min(event_id) AS min_eid, max(event_id) AS max_eid
        |      FROM s GROUP BY 1, 2)
        |SELECT user_id, CAST(start_us AS BIGINT) AS start_us,
        |  CAST(end_us AS BIGINT) AS end_us, n_events, min_eid, max_eid
        |FROM g, fin WHERE end_us <= final_wm
        |ORDER BY user_id, start_us""".stripMargin,
    "q_sessions_10m" ->
      """WITH m AS (SELECT user_id, epoch_ns(ts) AS tns, value,
        |  CASE WHEN lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) IS NULL
        |         OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) >= 600000000000
        |       THEN 1 ELSE 0 END AS newsess
        |  FROM events),
        |s AS (SELECT user_id, tns, value,
        |  sum(newsess) OVER (PARTITION BY user_id ORDER BY tns ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(tns)//1000000000 AS sess_start_sec, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sess_start_sec""".stripMargin,
    // strict order: each stage's earliest qualifying event must be strictly
    // after the timestamp that satisfied the previous stage (ns precision
    // on BOTH sides, so tie behavior is identical)
    "q_funnel" -> funnelOracleSql,
    // the O(1)-state fold computes the IDENTICAL funnel — shared oracle
    "q_funnel_fold" -> funnelOracleSql,
    // the REAL mapGroupsWithState stream over 3 chronological slices
    // computes the IDENTICAL funnel — third sharer of the oracle
    "q_stream_funnel" -> funnelOracleSql,
    // time-to-convert quantiles off the converter latency histogram —
    // the same min-chain as q_funnel's oracle, then the integer rank
    // rules (lo+hi median, nearest-rank p95); // is integer division
    "q_funnel_latency" ->
      """WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS ns FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS ns FROM events e
        |      JOIN v ON e.user_id = v.user_id AND epoch_ns(e.ts) > v.ns
        |      WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS ns FROM events e
        |      JOIN c ON e.user_id = c.user_id AND epoch_ns(e.ts) > c.ns
        |      WHERE e.event_type = 'purchase' GROUP BY 1),
        |lat AS (SELECT (p.ns - v.ns) // 1000000000 AS sec
        |        FROM p JOIN v ON p.user_id = v.user_id),
        |h AS (SELECT sec, count(*) AS c FROM lat GROUP BY 1),
        |w AS (SELECT sec,
        |    CAST(sum(c) OVER (ORDER BY sec) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER () AS BIGINT) AS n
        |  FROM h)
        |SELECT max(n) AS n_converted,
        |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN sec END)
        |    + min(CASE WHEN cum >= n // 2 + 1 THEN sec END) AS BIGINT)
        |    AS med_x2_sec,
        |  min(CASE WHEN cum * 100 >= n * 95 THEN sec END) AS p95_sec,
        |  max(sec) AS max_sec
        |FROM w""".stripMargin,
    // the discrete life table: entry = first view, event = first BIG
    // purchase (>90, the wilson event — plain purchases never censor on
    // this data); censoring at the horizon; at-risk = suffix sum (cast)
    "q_survival_curve" ->
      """WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS ns FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS ns FROM events e
        |      JOIN v ON e.user_id = v.user_id AND epoch_ns(e.ts) > v.ns
        |      WHERE e.event_type = 'purchase' AND e.value > 90.0 GROUP BY 1),
        |h AS (SELECT max(epoch_ns(ts)//86400000000000) AS max_day FROM events),
        |obs AS (SELECT
        |    CASE WHEN p.user_id IS NOT NULL
        |         THEN (p.ns - v.ns) // 86400000000000
        |         ELSE h.max_day - v.ns // 86400000000000 END AS k,
        |    CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS d
        |  FROM v LEFT JOIN p ON v.user_id = p.user_id, h),
        |g AS (SELECT k, CAST(sum(d) AS BIGINT) AS n_converted,
        |    CAST(sum(1 - d) AS BIGINT) AS n_censored FROM obs GROUP BY 1)
        |SELECT k,
        |  CAST(sum(n_converted + n_censored) OVER (ORDER BY k DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk,
        |  n_converted, n_censored
        |FROM g ORDER BY k""".stripMargin,
    // cumulative cohort revenue: retention's cohort map + exact integer
    // cents; the running sum is windowed (HUGEINT in DuckDB -> CAST)
    "q_ltv_cohort" ->
      """WITH ev AS (SELECT user_id, epoch_ns(ts)//86400000000000 AS day,
        |    event_type, value FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
        |r AS (SELECT user_id, day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
        |g AS (SELECT f.cohort_day, r.day - f.cohort_day AS day_offset,
        |    count(*)::BIGINT AS n_user_days,
        |    CAST(sum(r.cents) AS BIGINT) AS cents
        |  FROM r JOIN f ON r.user_id = f.user_id GROUP BY 1, 2)
        |SELECT cohort_day, day_offset, n_user_days, cents,
        |  CAST(sum(cents) OVER (PARTITION BY cohort_day ORDER BY day_offset)
        |    AS BIGINT) AS cum_cents
        |FROM g ORDER BY cohort_day, day_offset""".stripMargin,
    // Benford screen: expectations are the SAME fixed integer literals in
    // both engines (floor(log10(1+1/d)*1e6)) — no engine evaluates a log
    "q_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |    FROM orders),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM g),
        |e(digit, benford_ppm) AS (VALUES (1, 301029), (2, 176091),
        |  (3, 124938), (4, 96910), (5, 79181), (6, 66946), (7, 57991),
        |  (8, 51152), (9, 45757))
        |SELECT g.digit, g.n, g.n * 1000000 // t.t AS share_ppm,
        |  CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
        |  g.n * 1000000 // t.t - e.benford_ppm AS dev_ppm,
        |  abs(g.n * 1000000 // t.t - e.benford_ppm) > 50000 AS flagged
        |FROM g, t JOIN e ON g.digit = e.digit
        |ORDER BY g.digit""".stripMargin,
    "q_retention" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |             epoch_ns(ts)//86400000000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        |SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
        |  count(*)::BIGINT AS n_users
        |FROM d JOIN f ON d.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_new_returning" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |             epoch_ns(ts)//86400000000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS d0 FROM d GROUP BY 1)
        |SELECT d.day,
        |  sum(CASE WHEN d.day = f.d0 THEN 1 ELSE 0 END)::BIGINT AS new_users,
        |  sum(CASE WHEN d.day <> f.d0 THEN 1 ELSE 0 END)::BIGINT AS returning_users
        |FROM d JOIN f ON d.user_id = f.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // distinct-over-sliding-window via the shifted expansion on both
    // sides; integer epoch-day keys, one rounded division for stickiness.
    // Shared by q_rolling_dau (scan-time) and q_rolling_dau_incremental
    // (stored day-partitioned artifact + one-day append): the appended
    // artifact must reproduce the full-rebuild readout exactly.
    "q_rolling_dau" -> rollingDauOracleSql,
    "q_rolling_dau_incremental" -> rollingDauOracleSql,
    // bracket oracle like q_hll_cube: the exact WAU companion and the
    // day-window grain are portable; the HLL union estimate is asserted
    // within its 10% envelope by the engine-side verdict column
    "q_rolling_dau_hll" ->
      """WITH ud AS (SELECT DISTINCT epoch_ns(ts)//86400000000000 AS day,
        |            user_id FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |w AS (SELECT d.day,
        |        count(DISTINCT u.day)::BIGINT AS days_in_window,
        |        count(DISTINCT u.user_id) AS exact_wau
        |      FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |      GROUP BY 1)
        |SELECT day, days_in_window, exact_wau, TRUE AS sketch_within_10pct
        |FROM w ORDER BY day""".stripMargin,
    // cumulative distinct collapses to min-day per user + a running sum
    // (no shifted expansion); one rounded division for the pct
    "q_reach_curve" ->
      """WITH f AS (SELECT user_id, min(epoch_ns(ts)//86400000000000) AS day
        |           FROM events GROUP BY 1),
        |n AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1),
        |c AS (SELECT day, new_users,
        |        CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
        |      FROM n)
        |SELECT day, new_users, cum_users,
        |  round(cum_users::DOUBLE / (max(cum_users) OVER ()), 6) AS pct_of_total
        |FROM c ORDER BY day""".stripMargin,
    // Wilson score intervals + pooled two-proportion z, token-for-token
    // the engine's fixed IEEE op order; verdict on the 4-dp-rounded z
    "q_wilson_ci" ->
      """WITH u AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 90.0
        |             THEN 1 ELSE 0 END) AS converted,
        |    (user_id % 2 = 0) AS va
        |  FROM events GROUP BY user_id),
        |c AS (SELECT
        |    sum(CASE WHEN va THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN NOT va THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |    sum(CASE WHEN va AND converted = 1 THEN 1 ELSE 0 END)::BIGINT AS x_a,
        |    sum(CASE WHEN NOT va AND converted = 1 THEN 1 ELSE 0 END)::BIGINT AS x_b
        |  FROM u),
        |d AS (SELECT n_a, x_a, n_b, x_b,
        |    x_a::DOUBLE / n_a::DOUBLE AS pa, n_a::DOUBLE AS na,
        |    x_b::DOUBLE / n_b::DOUBLE AS pb, n_b::DOUBLE AS nb
        |  FROM c),
        |e AS (SELECT *,
        |    (x_a + x_b)::DOUBLE / (n_a + n_b)::DOUBLE AS pp,
        |    1.0 + 1.96 * 1.96 / na AS dena,
        |    1.0 + 1.96 * 1.96 / nb AS denb
        |  FROM d)
        |SELECT n_a, x_a, round(pa, 6) AS p_a,
        |  round((pa + 1.96 * 1.96 / (2.0 * na)) / dena
        |    - 1.96 * sqrt(pa * (1.0 - pa) / na
        |        + 1.96 * 1.96 / (4.0 * na * na)) / dena, 6) AS wilson_lo_a,
        |  round((pa + 1.96 * 1.96 / (2.0 * na)) / dena
        |    + 1.96 * sqrt(pa * (1.0 - pa) / na
        |        + 1.96 * 1.96 / (4.0 * na * na)) / dena, 6) AS wilson_hi_a,
        |  n_b, x_b, round(pb, 6) AS p_b,
        |  round((pb + 1.96 * 1.96 / (2.0 * nb)) / denb
        |    - 1.96 * sqrt(pb * (1.0 - pb) / nb
        |        + 1.96 * 1.96 / (4.0 * nb * nb)) / denb, 6) AS wilson_lo_b,
        |  round((pb + 1.96 * 1.96 / (2.0 * nb)) / denb
        |    + 1.96 * sqrt(pb * (1.0 - pb) / nb
        |        + 1.96 * 1.96 / (4.0 * nb * nb)) / denb, 6) AS wilson_hi_b,
        |  round((pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)), 4)
        |    AS z_pooled,
        |  abs(round((pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)), 4))
        |    >= 1.96 AS significant
        |FROM e""".stripMargin,
    // join elimination: the engine decodes via a literal map (no join
    // node at all); the oracle deliberately runs the JOIN formulation
    "q_dim_decode" ->
      """SELECT n_name AS nation_name, count(*) AS n_cust,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 4)
        |    AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation_name""".stripMargin,
    // full TPC-H Q1 (q1_agg is its 2-measure simplification): exact
    // decimal sum/product chains, one fixed-order division per avg
    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
        |    * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE), 4) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
        |    * (1 - CAST(l_discount AS DECIMAL(18,6)))
        |    * (1 + CAST(l_tax AS DECIMAL(18,6)))) AS DOUBLE), 4) AS sum_charge,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS avg_price,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // the SQL surface rows: the engine runs the IDENTICAL text through
    // spark.sql over registered views; revenue via the exact-decimal sum
    "q_tpch_q3" ->
      """SELECT l_orderkey,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
        |    * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE), 4) AS revenue,
        |  CAST(o_orderdate AS DATE) AS odate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
        |    * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE), 4) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    // Q7/Q10/Q12 (VERDICT r11 ask #4): oracle text identical to the
    // spark.sql text (Q12's lateness buckets use INTERVAL literal
    // addition, the date arithmetic both engines parse identically)
    // Q4/Q6/Q13/Q14/Q18: oracle registers the EXACT string the engine
    // executes (one shared constant — structurally impossible to drift)
    "q_tpch_q4" -> operators.SqlSurface.Q4Sql,
    "q_tpch_q6" -> operators.SqlSurface.Q6Sql,
    "q_tpch_q13" -> operators.SqlSurface.Q13Sql,
    "q_tpch_q14" -> operators.SqlSurface.Q14Sql,
    // q18's oracle keeps the classic two-aggregate text while the engine
    // executes the restructured single-aggregate form (r17) — DuckDB
    // proves the rewrite's equivalence
    "q_tpch_q18" -> operators.SqlSurface.Q18OracleSql,
    "q_tpch_q15" -> operators.SqlSurface.Q15Sql,
    "q_tpch_q17" -> operators.SqlSurface.Q17Sql,
    "q_tpch_q22" -> operators.SqlSurface.Q22Sql,
    "q_tpch_q8" -> operators.SqlSurface.Q8Sql,
    "q_tpch_q7" -> operators.SqlSurface.Q7Sql,
    "q_tpch_q10" -> operators.SqlSurface.Q10Sql,
    "q_tpch_q12" -> operators.SqlSurface.Q12Sql,
    // SLA share over the same closed form; exact ppm, BETWEEN inclusive
    "q_sla_compliance" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS od
        |  FROM orders),
        |l AS (SELECT l_orderkey,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS sd
        |  FROM lineitem),
        |j AS (SELECT o_orderpriority,
        |    (5 * ((sd + 3) // 7) + least((sd + 3) % 7 + 1, 5) - 3)
        |      - (5 * ((od + 3) // 7) + least((od + 3) % 7 + 1, 5) - 3) AS bd
        |  FROM o JOIN l ON o_orderkey = l_orderkey)
        |SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CASE WHEN bd BETWEEN 0 AND 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_within_sla,
        |  CAST(sum(CASE WHEN bd BETWEEN 0 AND 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS sla_ppm
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // the lag-feature frame: NULLs where history is short are the
    // feature-store contract (imputation belongs to the model)
    "q_lag_features" ->
      """WITH daily AS (SELECT user_id, epoch_ns(ts)//86400000000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT user_id, day, cents,
        |  lag(cents, 1) OVER w AS lag1_cents,
        |  lag(cents, 7) OVER w AS lag7_cents,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS trail7_cents,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS trail7_days
        |FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |ORDER BY user_id, day""".stripMargin,
    // the weekday closed form token-for-token (y = epoch_day + 3 shifts
    // Monday to 0 mod 7; positive domain so // == Spark's div)
    "q_business_days" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS od
        |  FROM orders),
        |l AS (SELECT l_orderkey,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS sd
        |  FROM lineitem),
        |j AS (SELECT o_orderpriority,
        |    (5 * ((sd + 3) // 7) + least((sd + 3) % 7 + 1, 5) - 3)
        |      - (5 * ((od + 3) // 7) + least((od + 3) % 7 + 1, 5) - 3) AS bd
        |  FROM o JOIN l ON o_orderkey = l_orderkey)
        |SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(bd) AS BIGINT) AS sum_busdays,
        |  round(CAST(sum(bd) AS DOUBLE) / count(*), 6) AS avg_busdays
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // rank() keeps whole tie groups — the reproducible top-k when the
    // measure ties (row_number's tie-break is partition-order luck)
    "q_topk_ties" ->
      """WITH d AS (SELECT user_id, epoch_ns(ts)//86400000000000 AS day,
        |    count(*) AS n_events FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, day, n_events,
        |    CAST(rank() OVER (PARTITION BY user_id ORDER BY n_events DESC)
        |      AS BIGINT) AS rnk
        |  FROM d)
        |SELECT user_id, day, n_events, rnk FROM r WHERE rnk <= 3
        |ORDER BY user_id, rnk, day""".stripMargin,
    // drawdown over the SIGNED net-flow walk (purchases − errors): exact
    // integer cum/peak windows; trough via earliest-day argmax, the TRUE
    // final cum via last-day row_number (windowed sums stay internal)
    "q_max_drawdown" ->
      """WITH daily AS (SELECT user_id % 4 AS cohort,
        |    epoch_ns(ts)//86400000000000 AS day,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(round(value * 100) AS BIGINT)
        |        ELSE -CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('purchase', 'error')
        |  GROUP BY 1, 2),
        |c AS (SELECT cohort, day,
        |    CAST(sum(cents) OVER w AS BIGINT) AS cum
        |  FROM daily WINDOW w AS (PARTITION BY cohort ORDER BY day
        |    ROWS UNBOUNDED PRECEDING)),
        |p AS (SELECT cohort, day, cum,
        |    CAST(max(cum) OVER (PARTITION BY cohort ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - cum AS dd
        |  FROM c),
        |r AS (SELECT cohort, day, dd,
        |    row_number() OVER (PARTITION BY cohort
        |      ORDER BY dd DESC, day ASC) AS rn
        |  FROM p),
        |f AS (SELECT cohort, cum AS final_cum_cents,
        |    row_number() OVER (PARTITION BY cohort ORDER BY day DESC) AS rn
        |  FROM p),
        |t AS (SELECT cohort, count(*)::BIGINT AS n_days FROM p GROUP BY 1)
        |SELECT t.cohort, t.n_days, f.final_cum_cents,
        |  r.dd AS max_drawdown_cents, r.day AS trough_day
        |FROM t JOIN r ON t.cohort = r.cohort AND r.rn = 1
        |JOIN f ON t.cohort = f.cohort AND f.rn = 1
        |ORDER BY t.cohort""".stripMargin,
    // OHLC: open/close by (tns, event_id) via row_number (the oracle's
    // independent formulation of the engine's struct-min/max tie order)
    "q_ohlc_bars" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts)//3600000000000 AS hour,
        |    epoch_ns(ts) AS tns, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type, hour
        |      ORDER BY tns, event_id) AS rn,
        |    row_number() OVER (PARTITION BY event_type, hour
        |      ORDER BY tns DESC, event_id DESC) AS rrn
        |  FROM e)
        |SELECT event_type, hour,
        |  CAST(max(CASE WHEN rn = 1 THEN cents END) AS BIGINT) AS open_cents,
        |  max(cents) AS high_cents, min(cents) AS low_cents,
        |  CAST(max(CASE WHEN rrn = 1 THEN cents END) AS BIGINT) AS close_cents,
        |  count(*) AS volume
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // integer daily sums and deltas; one fixed-order double division for
    // the growth percent; the first day per type emits NULLs in both
    "q_period_over_period" ->
      """WITH daily AS (SELECT event_type, epoch_ns(ts)//86400000000000 AS d,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, d, cents,
        |    lag(cents) OVER (PARTITION BY event_type ORDER BY d) AS prev
        |  FROM daily)
        |SELECT event_type, d * 86400 AS day_sec, cents,
        |  cents - prev AS delta_cents,
        |  round(CASE WHEN prev <> 0 THEN
        |    CAST(cents - prev AS DOUBLE) / CAST(prev AS DOUBLE) * 100 END, 6)
        |    AS growth_pct
        |FROM l ORDER BY event_type, day_sec""".stripMargin,
    // z-score from exact decimal sums; same left-associated scalar
    // arithmetic as the Spark side so the doubles are bit-identical, and
    // the >= 2 cut is applied to the 4-dp-rounded score in both engines
    "q_anomaly_zscore" ->
      """WITH st AS (SELECT event_type AS t, count(*)::BIGINT AS n,
        |    sum(CAST(value AS DECIMAL(18,6))) AS s1,
        |    sum(CAST(value*value AS DECIMAL(28,12))) AS s2
        |  FROM events GROUP BY 1),
        |z AS (SELECT event_id, event_type, value,
        |    round((value - CAST(s1 AS DOUBLE)/n)
        |      / sqrt((CAST(s2 AS DOUBLE)
        |              - n * (CAST(s1 AS DOUBLE)/n) * (CAST(s1 AS DOUBLE)/n))
        |             / (n - 1)), 4) AS z
        |  FROM events JOIN st ON event_type = t)
        |SELECT event_id, event_type, value, z FROM z
        |WHERE abs(z) >= 2.0 ORDER BY event_id""".stripMargin,
    // Welch t from exact HUGEINT sufficient statistics (== the engine's
    // DECIMAL(38,0)); one cast per term, same IEEE op order, and the
    // significance boolean decided on the 4-dp-rounded t in both engines
    "q_abtest_welch" ->
      """WITH e AS (SELECT event_type, user_id % 2 = 0 AS va,
        |    CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) AS y FROM events),
        |s AS (SELECT event_type,
        |    sum(CASE WHEN va THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN NOT va THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |    sum(CASE WHEN va THEN y ELSE 0 END) AS s_a,
        |    sum(CASE WHEN NOT va THEN y ELSE 0 END) AS s_b,
        |    sum(CASE WHEN va THEN y*y ELSE 0 END) AS ss_a,
        |    sum(CASE WHEN NOT va THEN y*y ELSE 0 END) AS ss_b
        |  FROM e GROUP BY 1),
        |t AS (SELECT event_type, n_a, n_b,
        |    CASE WHEN n_a > 0 THEN
        |      CAST(s_a AS DOUBLE)/CAST(n_a AS DOUBLE) END AS m_a,
        |    CASE WHEN n_b > 0 THEN
        |      CAST(s_b AS DOUBLE)/CAST(n_b AS DOUBLE) END AS m_b,
        |    CASE WHEN n_a > 1 THEN (CAST(ss_a AS DOUBLE)
        |       - CAST(s_a AS DOUBLE)*CAST(s_a AS DOUBLE)/CAST(n_a AS DOUBLE))
        |      /CAST(n_a - 1 AS DOUBLE) END AS v_a,
        |    CASE WHEN n_b > 1 THEN (CAST(ss_b AS DOUBLE)
        |       - CAST(s_b AS DOUBLE)*CAST(s_b AS DOUBLE)/CAST(n_b AS DOUBLE))
        |      /CAST(n_b - 1 AS DOUBLE) END AS v_b
        |  FROM s),
        |r AS (SELECT event_type, n_a, n_b,
        |    round(m_a, 4) AS mean_a_cents,
        |    round(m_b, 4) AS mean_b_cents,
        |    round(CASE WHEN n_a > 1 AND n_b > 1
        |        AND (v_a/CAST(n_a AS DOUBLE) + v_b/CAST(n_b AS DOUBLE)) > 0 THEN
        |      (m_a - m_b)
        |        /sqrt(v_a/CAST(n_a AS DOUBLE) + v_b/CAST(n_b AS DOUBLE)) END, 4)
        |      AS t_welch
        |  FROM t)
        |SELECT event_type, n_a, n_b, mean_a_cents, mean_b_cents, t_welch,
        |  abs(t_welch) >= 1.96 AS significant
        |FROM r ORDER BY event_type""".stripMargin,
    // linear credit as integer ppm (1000000 // k, remainder dropped in
    // both engines) — never a float 1/k whose sum is order-dependent;
    // first/last ties break on (ts, event_id) struct order in both
    "q_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns
        |  FROM events),
        |conv AS (SELECT user_id, event_id AS conv_id, tns AS conv_ts
        |  FROM ev WHERE event_type = 'purchase'),
        |t AS (SELECT e.event_type, e.tns, e.event_id, c.conv_id
        |  FROM ev e JOIN conv c ON e.user_id = c.user_id
        |  WHERE e.tns >= c.conv_ts - 604800000000000 AND e.tns < c.conv_ts),
        |pc AS (SELECT conv_id, count(*)::BIGINT AS k,
        |    (min(struct_pack(tns := tns, event_id := event_id,
        |       event_type := event_type))).event_type AS first_type,
        |    (max(struct_pack(tns := tns, event_id := event_id,
        |       event_type := event_type))).event_type AS last_type
        |  FROM t GROUP BY 1),
        |lin AS (SELECT t.event_type AS touch_type,
        |    sum(1000000 // pc.k)::BIGINT AS linear_ppm,
        |    count(*)::BIGINT AS n_touches
        |  FROM t JOIN pc USING (conv_id) GROUP BY 1),
        |f AS (SELECT first_type AS touch_type, count(*)::BIGINT AS first_touch
        |  FROM pc GROUP BY 1),
        |l AS (SELECT last_type AS touch_type, count(*)::BIGINT AS last_touch
        |  FROM pc GROUP BY 1)
        |SELECT lin.touch_type, n_touches, linear_ppm,
        |  coalesce(f.first_touch, 0)::BIGINT AS first_touch,
        |  coalesce(l.last_touch, 0)::BIGINT AS last_touch
        |FROM lin LEFT JOIN f ON lin.touch_type = f.touch_type
        |LEFT JOIN l ON lin.touch_type = l.touch_type
        |ORDER BY lin.touch_type""".stripMargin,
    // scaled CUSUM deviation n·Pk − k·T is exact integer arithmetic, so
    // the argmax (ties → earliest hour) carries no float at all
    "q_cusum" ->
      """WITH hr AS (SELECT event_type, epoch_ns(ts)//3600000000000 AS h,
        |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, h, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS k,
        |    sum(x) OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(x) OVER (PARTITION BY event_type) AS t
        |  FROM hr),
        |d AS (SELECT event_type, h, n,
        |    abs(CAST(n AS HUGEINT) * p - CAST(k AS HUGEINT) * t) AS dev
        |  FROM c),
        |r AS (SELECT event_type, n::BIGINT AS n_hours, h * 3600 AS cp_hour_sec,
        |    dev::BIGINT AS dev_cents_hours,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY dev DESC, h ASC) AS rn
        |  FROM d)
        |SELECT event_type, n_hours, cp_hour_sec, dev_cents_hours
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    // the ECDF gap is exact integer arithmetic (|cumA·nB − cumB·nA| over
    // HUGEINT) with one division at emit; verdict decided on 6-dp-rounded
    // statistic vs 6-dp-rounded critical value in both engines
    "q_ks_test" ->
      """WITH e AS (SELECT event_type, user_id % 2 = 0 AS va,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
        |h AS (SELECT event_type, y,
        |    CAST(sum(CASE WHEN va THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
        |    CAST(sum(CASE WHEN NOT va THEN 1 ELSE 0 END) AS HUGEINT) AS cb
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT event_type,
        |    sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b,
        |    sum(ca) OVER t AS na, sum(cb) OVER t AS nb
        |  FROM h
        |  WINDOW w AS (PARTITION BY event_type ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  t AS (PARTITION BY event_type)),
        |g AS (SELECT event_type, max(na) AS nad, max(nb) AS nbd,
        |    max(abs(cum_a * nb - cum_b * na)) AS dmax
        |  FROM c GROUP BY 1),
        |r AS (SELECT event_type,
        |    CAST(nad AS BIGINT) AS n_a, CAST(nbd AS BIGINT) AS n_b,
        |    round(CASE WHEN nad > 0 AND nbd > 0 THEN CAST(dmax AS DOUBLE)
        |      / (CAST(nad AS DOUBLE) * CAST(nbd AS DOUBLE)) END, 6) AS ks,
        |    round(CASE WHEN nad > 0 AND nbd > 0 THEN CAST(1.36 AS DOUBLE)
        |      * sqrt((CAST(nad AS DOUBLE) + CAST(nbd AS DOUBLE))
        |             / (CAST(nad AS DOUBLE) * CAST(nbd AS DOUBLE))) END, 6)
        |      AS crit_05
        |  FROM g)
        |SELECT event_type, n_a, n_b, ks, crit_05, ks > crit_05 AS significant
        |FROM r ORDER BY event_type""".stripMargin,
    // rank sums as exact HUGEINT midrank-x2 products (never a float
    // rank); u_a halves exactly in a double; z one fixed op chain,
    // verdict on the 4-dp-rounded z — the Welch/KS discipline
    "q_mannwhitney" ->
      """WITH e AS (SELECT event_type, user_id % 2 = 0 AS va,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
        |h AS (SELECT event_type, y,
        |    CAST(sum(CASE WHEN va THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
        |    CAST(sum(CASE WHEN NOT va THEN 1 ELSE 0 END) AS HUGEINT) AS cb
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT event_type, ca, cb,
        |    2 * (sum(ca + cb) OVER w - (ca + cb)) + (ca + cb) + 1 AS mr2
        |  FROM h
        |  WINDOW w AS (PARTITION BY event_type ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (SELECT event_type, sum(ca) AS na, sum(cb) AS nb,
        |    sum(ca * mr2) AS r2 FROM c GROUP BY 1),
        |r AS (SELECT event_type,
        |    CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |    (CAST(r2 AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0))
        |      / 2.0 AS u_a,
        |    round((CAST(r2 AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0)
        |        - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
        |      / 2.0
        |      / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |        * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0) / 12.0), 4) AS z_mw
        |  FROM s)
        |SELECT event_type, n_a, n_b, u_a, z_mw, abs(z_mw) >= 1.96 AS significant
        |FROM r ORDER BY event_type""".stripMargin,
    // marginals stay internal (DuckDB sums them as HUGEINT — never output
    // uncast); expected/contrib are single-rounding op chains replicated
    // textually from the engine side
    "q_chi2" ->
      """WITH cells AS (
        |  SELECT event_type, hour(ts) // 6 AS h_bucket, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, sum(o) AS r_tot FROM cells GROUP BY 1),
        |c AS (SELECT h_bucket, sum(o) AS c_tot FROM cells GROUP BY 1),
        |n AS (SELECT sum(o) AS n_tot FROM cells),
        |j AS (SELECT event_type, h_bucket, o,
        |    (r_tot * c_tot)::DOUBLE / n_tot::DOUBLE AS e_raw
        |  FROM cells JOIN r USING (event_type) JOIN c USING (h_bucket) CROSS JOIN n)
        |SELECT event_type, CAST(h_bucket AS BIGINT) AS h_bucket, o,
        |  round(e_raw, 6) AS expected,
        |  round((o::DOUBLE - e_raw) * (o::DOUBLE - e_raw) / e_raw, 6) AS contrib
        |FROM j ORDER BY event_type, h_bucket""".stripMargin,
    // event_id tiebreak on BOTH engines: pair composition at equal ns
    // timestamps must be identical
    "q_transitions" ->
      """WITH s AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY epoch_ns(ts), event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n
        |FROM s WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // orientation-free triangle enumeration: lexicographic edges a<b<c via
    // a three-way join — triangles are orientation-invariant, so this must
    // equal the engine's degree-ordered construction
    "q_triangles" ->
      """WITH p AS (
        |  SELECT unnest(CASE WHEN len(w) >= 2
        |    THEN [w[i]||' '||w[i+1] for i in range(1, len(w))]
        |    ELSE []::VARCHAR[] END) AS b
        |  FROM (SELECT string_split(text,' ') AS w FROM documents)),
        |e AS (SELECT DISTINCT
        |    least(split_part(b,' ',1), split_part(b,' ',2)) AS u,
        |    greatest(split_part(b,' ',1), split_part(b,' ',2)) AS v
        |  FROM p WHERE split_part(b,' ',1) <> split_part(b,' ',2)),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT word, count(*)::BIGINT AS n_tri FROM (
        |  SELECT a AS word FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // textrank's fixed-round iteration, UNROLLED: one CTE per rank-update
    // round (generated from the same TextRankIters/TextRankD constants the
    // engine uses, so they cannot drift). Portable because each round's
    // contributions are decimal-rounded before the neighbor sum — both
    // engines sum identical DECIMAL(20,10) values — and the damping
    // constant is written as the same IEEE expression (1.0 - d) Catalyst
    // constant-folds, not its shortest-string rendering.
    "q_textrank" -> textrankOracleSql,
    // BM25 ranked retrieval (shared formulation, see bm25OracleSql); the
    // served form reads the session's stored term-partitioned index —
    // w6 depends only on (doc, word) + corpus stats, so the oracle is the
    // same scan-time formulation
    "q_bm25_served" -> bm25OracleSql,
    // the incremental form serves from append-only raw postings + batch
    // stats; df/idf recomputed from current global facts at serve time,
    // so the merged-index ranking is exactly the full-corpus ranking
    "q_bm25_incremental" -> bm25OracleSql,
    "q_bm25_topk" -> bm25OracleSql,
    // hybrid retrieval: the BM25 chain above with per-query-doc term sets
    // (doc_id ≡ 0 mod 25 — the cosine family's panel), the cosine_topk
    // chain at pool depth 20, fused by reciprocal-rank with each 1/(60+r)
    // discount rounded once into DECIMAL(18,8) before the two-term sum
    "q_rrf_fusion" ->
      """WITH st AS (SELECT count(*)::BIGINT AS n,
        |         sum(len(string_split(text,' ')))::BIGINT AS t FROM documents),
        |qt AS (SELECT doc_id AS q_id, unnest(list_distinct(string_split(text,' '))) AS term
        |       FROM documents WHERE doc_id % 25 = 0),
        |tok AS (SELECT doc_id, len(string_split(text,' '))::BIGINT AS dl,
        |          unnest(string_split(text,' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf, min(dl) AS dl FROM tok
        |       WHERE word IN (SELECT term FROM qt) GROUP BY doc_id, word),
        |df AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY word),
        |sc AS (SELECT qt.q_id, tf.doc_id,
        |        round(round(ln((n - df + 0.5)/(df + 0.5) + 1), 8)::DECIMAL(18,8)::DOUBLE
        |          * (22*tf.tf*t)::DOUBLE / (10*tf.tf*t + 3*t + 9*tf.dl*n)::DOUBLE, 6)::DECIMAL(18,6) AS w
        |       FROM tf JOIN df USING (word)
        |       JOIN qt ON qt.term = tf.word AND qt.q_id <> tf.doc_id CROSS JOIN st),
        |lexagg AS (SELECT q_id, doc_id, sum(w) AS s FROM sc GROUP BY q_id, doc_id),
        |lex AS (SELECT q_id, doc_id, rn AS r_lex FROM (
        |  SELECT q_id, doc_id,
        |         row_number() OVER (PARTITION BY q_id ORDER BY s DESC, doc_id) AS rn
        |  FROM lexagg) WHERE rn <= 20),
        |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |nv AS (SELECT vec_id, v, list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b) nn FROM e),
        |qv AS (SELECT vec_id AS q_id, v AS vq, nn AS nq FROM nv WHERE vec_id % 25 = 0),
        |cs AS (SELECT qv.q_id, c.vec_id AS doc_id,
        |         list_reduce(list_transform(range(1, len(qv.vq)+1), i -> qv.vq[i]*c.v[i]), (a,b) -> a+b)
        |         / (sqrt(qv.nq)*sqrt(c.nn)) AS cos
        |       FROM qv JOIN nv c ON c.vec_id <> qv.q_id),
        |sem AS (SELECT q_id, doc_id, rn AS r_sem FROM (
        |  SELECT q_id, doc_id,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rn
        |  FROM cs) WHERE rn <= 20),
        |fused AS (SELECT coalesce(lex.q_id, sem.q_id) AS q_id,
        |        coalesce(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
        |        coalesce(round(1.0::DOUBLE/(60 + r_lex), 8)::DECIMAL(18,8), 0::DECIMAL(18,8))
        |      + coalesce(round(1.0::DOUBLE/(60 + r_sem), 8)::DECIMAL(18,8), 0::DECIMAL(18,8)) AS rrf
        |      FROM lex FULL OUTER JOIN sem ON lex.q_id = sem.q_id AND lex.doc_id = sem.doc_id)
        |SELECT q_id, rn::BIGINT AS rn, doc_id, r_lex::BIGINT AS r_lex,
        |       r_sem::BIGINT AS r_sem, round(rrf::DOUBLE, 8) AS rrf FROM (
        |  SELECT q_id, doc_id, r_lex, r_sem, rrf,
        |         row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rn
        |  FROM fused)
        |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    // embedding-space decontamination: exact brute-force twin of the
    // broadcast-benchmark scan; argmax on raw doubles (cosineTopK's
    // discipline), cosine rounded only at emit. The threshold and the
    // benchmark cap are INTERPOLATED from the engine constants
    // (Dedup.CosineTau, Similarity.BenchmarkCap) so a tuned constant can
    // never silently diverge from the oracle (ADVICE r9).
    "q_semantic_decontaminate" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |n AS (SELECT vec_id, v, list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b) nn FROM e),
        |bm AS (SELECT vec_id AS b_id, v AS vb, nn AS nb FROM n
        |       WHERE vec_id % 10 = 7 AND vec_id < ${operators.Similarity.BenchmarkCap}),
        |h AS (SELECT c.vec_id, bm.b_id,
        |        list_reduce(list_transform(range(1, len(bm.vb)+1), i -> bm.vb[i]*c.v[i]), (s,x) -> s+x)
        |        / (sqrt(bm.nb)*sqrt(c.nn)) AS cos
        |      FROM n c CROSS JOIN bm
        |      WHERE NOT (c.vec_id % 10 = 7 AND c.vec_id < ${operators.Similarity.BenchmarkCap})),
        |f AS (SELECT * FROM h WHERE cos >= ${operators.Dedup.CosineTau})
        |SELECT vec_id AS doc_id, n_hits, b_id AS nn_id, round(cos, 6) AS max_cos FROM (
        |  SELECT vec_id, b_id, cos,
        |         count(*) OVER (PARTITION BY vec_id) AS n_hits,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, b_id) AS rn
        |  FROM f)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // banded interval-overlap join's exact twin: plain inequality join
    "q_interval_join" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000000000 AS sec,
        |    epoch_ns(ts)//86400000000000 AS day FROM events),
        |b AS (SELECT min(sec) AS tmin, max(sec) AS tmax FROM e),
        |w AS (SELECT unnest(generate_series((tmin//86400)*86400, tmax, 18000))::BIGINT
        |        AS w_start FROM b),
        |iv AS (SELECT user_id, day, min(sec) AS s, max(sec) AS e FROM e GROUP BY 1, 2)
        |SELECT user_id, day, w_start,
        |  least(e, w_start + 17999) - greatest(s, w_start) + 1 AS overlap_sec
        |FROM iv JOIN w ON s <= w_start + 17999 AND w_start <= e
        |ORDER BY user_id, day, w_start""".stripMargin,
    // bit-exact twin of the MortonInterleave kernel: 32 explicit shift
    // terms (generated) over the same 16-bit-masked keys
    "q_zorder" ->
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |  l_partkey, l_suppkey, CAST($mortonSqlTerms AS BIGINT) AS zcode
         |FROM lineitem ORDER BY zcode, l_orderkey, l_linenumber""".stripMargin,
    // bit-exact twin of the HilbertIndex kernel: the classic xy2d walk
    // replayed as a 16-step recursive CTE carrying (x, y, d, s) state —
    // per level the quadrant offset s*s*xor(3*rx, ry) accumulates and the
    // frame rotates (ry=0: full-grid point reflection when rx=1, then an
    // axis swap), exactly the Expression's loop
    "q_hilbert" ->
      """WITH RECURSIVE hb AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_partkey, l_suppkey,
        |    l_partkey & 65535 AS x, l_suppkey & 65535 AS y,
        |    CAST(0 AS BIGINT) AS d, CAST(32768 AS BIGINT) AS s
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    CASE WHEN (y & s) > 0 THEN x
        |         WHEN (x & s) > 0 THEN 65535 - y
        |         ELSE y END AS x,
        |    CASE WHEN (y & s) > 0 THEN y
        |         WHEN (x & s) > 0 THEN 65535 - x
        |         ELSE x END AS y,
        |    d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
        |                    CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END) AS d,
        |    s // 2 AS s
        |  FROM hb WHERE s > 0)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(d AS BIGINT) AS hcode
        |FROM hb WHERE s = 0
        |ORDER BY hcode, l_orderkey, l_linenumber""".stripMargin,
  )

  /** Shared BM25 oracle for q_bm25_topk AND q_bm25_served: idf rounded
    * once into DECIMAL(18,8), tf normalization cleared to exact integers
    * (k1=6/5, b=3/4 → 22·tf·T / (10·tf·T + 3·T + 9·dl·N)), so per-term
    * weights are identical decimals in both engines and the per-(query,
    * doc) score is an order-independent decimal sum. One formulation
    * serves both queries because the served form's stored w6 is exactly
    * the scan-time weight — independent of the indexed vocabulary subset.
    */
  private lazy val bm25OracleSql: String =
    """WITH q(q_id, term) AS (VALUES (1,'spark'),(1,'table'),(1,'join'),
      |    (2,'window'),(2,'agg'),(2,'stream'),(3,'fast'),(3,'scan'),(3,'filter'),
      |    (4,'customer'),(4,'order'),(4,'query'),(5,'vector'),(5,'hash'),(5,'merge')),
      |st AS (SELECT count(*)::BIGINT AS n,
      |         sum(len(string_split(text,' ')))::BIGINT AS t FROM documents),
      |tok AS (SELECT doc_id, len(string_split(text,' '))::BIGINT AS dl,
      |          unnest(string_split(text,' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf, min(dl) AS dl FROM tok
      |       WHERE word IN (SELECT term FROM q) GROUP BY doc_id, word),
      |df AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY word),
      |sc AS (SELECT q.q_id, tf.doc_id,
      |        round(round(ln((n - df + 0.5)/(df + 0.5) + 1), 8)::DECIMAL(18,8)::DOUBLE
      |          * (22*tf.tf*t)::DOUBLE / (10*tf.tf*t + 3*t + 9*tf.dl*n)::DOUBLE, 6)::DECIMAL(18,6) AS w
      |       FROM tf JOIN df USING (word) JOIN q ON q.term = tf.word CROSS JOIN st),
      |agg AS (SELECT q_id, doc_id, sum(w) AS s FROM sc GROUP BY q_id, doc_id)
      |SELECT q_id::BIGINT AS q_id, rn::BIGINT AS rn, doc_id, round(s::DOUBLE, 6) AS score FROM (
      |  SELECT q_id, doc_id, s,
      |         row_number() OVER (PARTITION BY q_id ORDER BY s DESC, doc_id) AS rn FROM agg)
      |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin

  /** The DuckDB-side Morton interleave for q_zorder's oracle: bit i of the
    * 16-bit-masked partkey lands at 2i, of the suppkey at 2i+1 — generated
    * term-by-term so the SQL provably mirrors the kernel's loop.
    */
  private lazy val mortonSqlTerms: String = (0 until 16).map { i =>
    s"((((l_partkey & 65535) >> $i) & 1) << ${2 * i}) | " +
      s"((((l_suppkey & 65535) >> $i) & 1) << ${2 * i + 1})"
  }.mkString("(", " | ", ")")

  /** The DuckDB textrank twin: the co-occurrence graph as CTEs, then the
    * engine's fixed TextRankIters rank-update rounds unrolled one CTE per
    * round (generated from the SAME constants, so iteration count and
    * damping cannot drift from operators/TextAnalysis.textrank). Each
    * round mirrors the engine bit-for-bit: contribution = round(rank·w /
    * wdeg, 10) cast into DECIMAL(20,10) BEFORE the neighbor sum (exact,
    * ordering-independent), then rank = (1.0 - d) + d·sum — with the
    * damping base written as the expression `1.0 - d` (= the IEEE value
    * Catalyst constant-folds, 0.15000000000000002 for d = 0.85), not a
    * rounded literal.
    */
  private lazy val textrankOracleSql: String = {
    val d = operators.TextAnalysis.TextRankD
    val rounds = (1 to operators.TextAnalysis.TextRankIters).map { i =>
      s"""r$i AS (SELECT g.dst AS word,
         |  (1.0 - $d) + $d * CAST(sum(CAST(round(r.rank * g.w / g.wdeg, 10)
         |    AS DECIMAL(20,10))) AS DOUBLE) AS rank
         |  FROM g JOIN r${i - 1} r ON g.src = r.word GROUP BY g.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH bg AS (SELECT unnest(CASE WHEN len(wl) >= 2
       |    THEN [wl[i]||' '||wl[i+1] for i in range(1, len(wl))]
       |    ELSE []::VARCHAR[] END) AS b
       |  FROM (SELECT string_split(text,' ') AS wl FROM documents)),
       |bc AS (SELECT split_part(b,' ',1) AS src, split_part(b,' ',2) AS dst,
       |         count(*)::BIGINT AS w
       |  FROM bg GROUP BY 1, 2),
       |e AS (SELECT src, dst, w FROM bc WHERE src <> dst),
       |edges AS (SELECT src, dst, sum(w)::BIGINT AS w FROM (
       |    SELECT src, dst, w FROM e
       |    UNION ALL SELECT dst AS src, src AS dst, w FROM e)
       |  GROUP BY src, dst),
       |wd AS (SELECT src, sum(w)::BIGINT AS wdeg FROM edges GROUP BY src),
       |g AS (SELECT edges.src, edges.dst, edges.w, wd.wdeg
       |  FROM edges JOIN wd USING (src)),
       |r0 AS (SELECT DISTINCT src AS word, 1.0::DOUBLE AS rank FROM g),
       |$rounds
       |SELECT word, round(rank, 6) AS score
       |FROM r${operators.TextAnalysis.TextRankIters}
       |ORDER BY score DESC, word LIMIT 20""".stripMargin
  }

  /** Shared CTE block (no WITH keyword) for the deterministic integer
    * k-means: `q` = micro-unit-quantized vectors, `c0` = lowest-vec_id
    * seeds, then one CTE-triple per Lloyd round (a{r} = assignment under
    * c{r-1}, g{r} = per-cluster component sums, c{r} = half-up integer
    * means, empty cluster keeping its centroid via the LEFT JOIN CASE),
    * ending in `af` = the final assignment with rn=1 marking the argmin.
    * All math is int64 on positive values, so the engines agree
    * bit-for-bit. Composed into the q_kmeans and q_semdedup oracles.
    */
  private val KmeansCtes: String = {
    val k = graft.operators.Similarity.KmeansK
    val sums = (1 to 64).map(i => s"sum(qv[$i])").mkString("list_value(", ", ", ")")
    val rounds = (1 to graft.operators.Similarity.KmeansRounds).map { r =>
      s"""a$r AS (SELECT vec_id, qv, cid, dist,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM (SELECT q.vec_id, q.qv, c.cid,
         |          list_sum([(q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]) for i in range(1,65)]) AS dist
         |        FROM q CROSS JOIN c${r - 1} c)),
         |g$r AS (SELECT cid, count(*) AS n, $sums AS sv FROM a$r WHERE rn = 1 GROUP BY cid),
         |c$r AS (SELECT c.cid, CASE WHEN g.cid IS NULL THEN c.cv
         |          ELSE [CAST((2*g.sv[i] + g.n) // (2*g.n) AS BIGINT) for i in range(1,65)] END AS cv
         |        FROM c${r - 1} c LEFT JOIN g$r g USING (cid))""".stripMargin
    }.mkString(",\n")
    val fr = graft.operators.Similarity.KmeansRounds
    s"""q AS (SELECT vec_id, label::BIGINT AS label,
       |  [CAST(round((x::DOUBLE + 1.0) * 1000000) AS BIGINT) for x in embedding] AS qv
       |  FROM embeddings),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
       |       FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $k)),
       |$rounds,
       |af AS (SELECT vec_id, cid, dist,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |  FROM (SELECT q.vec_id, q.qv, c.cid,
       |          list_sum([(q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]) for i in range(1,65)]) AS dist
       |        FROM q CROSS JOIN c$fr c))""".stripMargin
  }

  /** Unrolled power-iteration PCA replay (q_pca_power / q_pca_scores):
    * exactly Similarity.trainedPc1's integer arithmetic — micro-unit
    * quantization (the KmeansCtes cast), truncating per-dimension mean,
    * PcaRounds rounds of w = Σ d·dv in HUGEINT with sign-abs max-norm
    * normalization, ending in `vf` = the trained eigenvector list, `f` =
    * per-vector exact projections, `ex` = the explained-variance ppm with
    * the same n-independent truncation order (sd2 // trace first). All
    * integer; DuckDB `//` and Spark `div` both truncate toward zero, and
    * every division is wrapped sign-abs anyway. */
  /** The eigensolve-free prefix of [[PcaCtes]] — micro-unit quantization,
    * truncating mean, centered corpus `d`, exploded `du`, exact trace
    * `tr` — shared verbatim by the full iterate replay and by
    * q_pca_topk's portable-column replay. */
  private val PcaBaseCtes: String = {
    val dim = 64
    val muSums = (1 to dim)
      .map(i => s"CAST(sum(qv[$i]) AS HUGEINT) // count(*)")
      .mkString("list_value(", ", ", ")")
    s"""q AS MATERIALIZED (SELECT vec_id,
       |  [CAST(round((x::DOUBLE + 1.0) * 1000000) AS BIGINT) for x in embedding] AS qv
       |  FROM embeddings),
       |mu AS MATERIALIZED (SELECT $muSums AS m FROM q),
       |d AS MATERIALIZED (SELECT vec_id, [qv[i] - CAST(m[i] AS BIGINT) for i in range(1,65)] AS dv
       |      FROM q CROSS JOIN mu),
       |du AS MATERIALIZED (SELECT vec_id, u.i AS pos, dv[u.i] AS dvp
       |       FROM d, (SELECT unnest(range(1, 65)) AS i) u),
       |tr AS (SELECT sum(list_sum([CAST(dv[i] AS HUGEINT) * dv[i] for i in range(1,65)])) AS trace
       |       FROM d)""".stripMargin
  }

  private val PcaCtes: String = {
    // every chained CTE is MATERIALIZED: DuckDB otherwise inlines each
    // reference, and the 64-round v←m←w←(du,p←d,v) chain re-plans the
    // parquet scan per inlining — hundreds of concurrent file opens and
    // exponential plan growth (observed as "Too many open files")
    val rounds = (1 to graft.operators.Similarity.PcaRounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT vec_id, list_sum([dv[i] * v[i] for i in range(1,65)]) AS dd
         |  FROM d CROSS JOIN v${r - 1}),
         |w$r AS MATERIALIZED (SELECT pos, sum(CAST(dd AS HUGEINT) * dvp) AS w
         |  FROM du JOIN p$r USING (vec_id) GROUP BY pos),
         |m$r AS MATERIALIZED (SELECT max(abs(w)) AS mx FROM w$r),
         |v$r AS MATERIALIZED (SELECT list(CAST(CASE WHEN w < 0 THEN -((-w) * 1000000 // mx)
         |    ELSE w * 1000000 // mx END AS BIGINT) ORDER BY pos) AS v FROM w$r, m$r)""".stripMargin
    }.mkString(",\n")
    val fr = graft.operators.Similarity.PcaRounds
    s"""$PcaBaseCtes,
       |v0 AS (SELECT [CAST(1000000 AS BIGINT) for i in range(1,65)] AS v),
       |$rounds,
       |vf AS (SELECT v FROM v$fr),
       |f AS (SELECT vec_id, dv, list_sum([dv[i] * v[i] for i in range(1,65)]) AS dd
       |      FROM d CROSS JOIN vf),
       |s2 AS (SELECT sum(CAST(dd AS HUGEINT) * dd) AS sd2 FROM f),
       |vv AS (SELECT list_sum([CAST(v[i] AS HUGEINT) * v[i] for i in range(1,65)]) AS vtv FROM vf),
       |ex AS (SELECT (sd2 // trace) * 1000000 // vtv AS explained_ppm FROM s2, tr, vv)""".stripMargin
  }

  /** Shared JL-projection replay (q_rand_proj / q_rand_proj_topk): the
    * ±1 matrix from the "rp:r:c" md5 low bit, micro-unit quantization,
    * per-vector 16-cell projections `pl` with ordered fingerprints. */
  private val RpCtes: String =
    """qe AS MATERIALIZED (SELECT vec_id,
      |    [CAST(round((x::DOUBLE + 1.0) * 1000000) AS BIGINT) for x in embedding] AS qv
      |  FROM embeddings),
      |sg AS MATERIALIZED (SELECT r.r, c.c,
      |    CASE WHEN ('0x'||substr(md5('rp:'||CAST(r.r AS VARCHAR)||':'||CAST(c.c AS VARCHAR)),1,1))::INT % 2 = 1
      |         THEN 1 ELSE -1 END AS s
      |  FROM (SELECT unnest(range(0, 16)) AS r) r,
      |       (SELECT unnest(range(1, 65)) AS c) c),
      |pe AS MATERIALIZED (SELECT q.vec_id, sg.r, CAST(sum(sg.s * q.qv[sg.c]) AS BIGINT) AS p
      |       FROM qe q, sg GROUP BY 1, 2),
      |pl AS MATERIALIZED (SELECT vec_id,
      |         list(p ORDER BY r) AS p,
      |         md5(string_agg(CAST(p AS VARCHAR), ',' ORDER BY r)) AS fp
      |       FROM pe GROUP BY 1)""".stripMargin

  /** Shared KMV replay (q_kmv_distinct and the served cube — the
    * union-merge of per-day synopses is exactly the global top-k, so one
    * oracle serves both). */
  /** Shared CTE body (no WITH) of the curated-pipeline oracle — the five
    * verified stages (shingle decontamination, exact-dup survivorship,
    * heuristic quality, bigram-LM plausibility) whose final keep-set
    * filter q_pipeline_curated and the ExactSubstr-gated
    * q_pipeline_substr apply identically. */
  private val CuratedCtes: String =
    """toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
      |         THEN [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]
      |         ELSE w END)) AS s FROM toks),
      |bench AS (SELECT DISTINCT s, 1 AS hit FROM sh WHERE doc_id % 97 = 0),
      |ov AS (SELECT sh.doc_id, count(*) AS n_sh, count(hit) AS n_hit
      |       FROM sh LEFT JOIN bench ON sh.s = bench.s
      |       WHERE sh.doc_id % 97 <> 0 GROUP BY sh.doc_id),
      |clean AS (SELECT doc_id FROM ov WHERE NOT (n_hit * 20 >= n_sh)),
      |surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
      |m AS (SELECT doc_id, len(w)::BIGINT AS n_tokens,
      |  len(list_distinct(w))::BIGINT AS n_distinct,
      |  len(list_filter(w, x -> list_contains(['a','the','of','and','to','in'], x)))::BIGINT AS n_stop
      |  FROM toks),
      |q AS (SELECT doc_id, n_tokens,
      |  round(0.4*(n_distinct::DOUBLE/n_tokens) + 0.3*(1.0 - n_stop::DOUBLE/n_tokens)
      |        + 0.3*(least(n_tokens, 200)::DOUBLE/200.0), 6) AS quality FROM m),
      |bg AS (SELECT doc_id, unnest([w[i]||' '||w[i+1] for i in range(1, len(w))]) AS b FROM toks),
      |db AS (SELECT doc_id, b, count(*)::BIGINT AS nb FROM bg GROUP BY doc_id, b),
      |c2 AS (SELECT b, sum(nb)::BIGINT AS c2 FROM db GROUP BY b),
      |ch AS (SELECT string_split(b,' ')[1] AS w1, sum(c2)::BIGINT AS ch FROM c2 GROUP BY 1),
      |v AS (SELECT count(DISTINCT tok)::BIGINT AS v
      |      FROM (SELECT unnest(string_split(text,' ')) AS tok FROM documents)),
      |p AS (SELECT b, round(-ln((c2 + 0.5) / (ch + 0.5*v)), 8)::DECIMAL(18,8) AS nlp
      |      FROM c2 JOIN ch ON string_split(c2.b,' ')[1] = ch.w1 CROSS JOIN v),
      |lm AS (SELECT db.doc_id,
      |  round(sum(nlp*nb::DECIMAL(10,0))::DOUBLE / sum(nb)::DOUBLE, 6) AS avg_nll
      |  FROM db JOIN p USING (b) GROUP BY db.doc_id)""".stripMargin

  private val KmvOracle: String =
    s"""WITH dh AS (SELECT DISTINCT event_type,
      |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS h
      |  FROM events),
      |tk AS (SELECT event_type, h,
      |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |       FROM dh),
      |kk AS (SELECT event_type, max(h) AS hk, count(*) AS nk
      |       FROM tk WHERE rn <= ${operators.Aggregates.KmvK} GROUP BY 1),
      |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
      |       FROM events GROUP BY 1),
      |est AS (SELECT k.event_type, e.n_exact,
      |          CASE WHEN k.nk < ${operators.Aggregates.KmvK} THEN k.nk
      |               ELSE (CAST(${operators.Aggregates.KmvK - 1} AS HUGEINT) * ${operators.Aggregates.KmvTwo60}) // k.hk
      |          END AS kmv_est
      |        FROM kk k JOIN ex e USING (event_type))
      |SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
      |  CAST(kmv_est AS BIGINT) AS kmv_est,
      |  CAST(abs(kmv_est - n_exact) * 1000000 // n_exact AS BIGINT) AS err_ppm
      |FROM est ORDER BY event_type""".stripMargin

  /** Shared exact-scatter-cell replay (q_pca_cov and its appended twin —
    * additivity over row partitions at a fixed mean makes them
    * bit-identical, so one oracle serves both). */
  private lazy val PcaCovOracle: String =
    s"""WITH $PcaCtes
       |SELECT CAST(a.pos - 1 AS BIGINT) AS i, CAST(b.pos - 1 AS BIGINT) AS j,
       |  CAST(CAST(sum(CAST(a.dvp AS HUGEINT) * b.dvp) AS DECIMAL(38,0)) AS VARCHAR) AS cov_sum
       |FROM du a JOIN du b ON a.vec_id = b.vec_id AND a.pos <= b.pos
       |GROUP BY 1, 2 ORDER BY i, j""".stripMargin

  /** PC2 extension of [[PcaCtes]] (q_pca_scores2): Hotelling-deflated
    * power rounds replayed exactly — per round the same 64-cell pair
    * aggregate, then the projection quotient qq = sign-abs((w·v1) // v1ᵀv1)
    * and w' = w − qq·v1 in HUGEINT, then the sign-abs max-norm. Ends in
    * `uf` (the PC2 iterate), `f2` (per-vector PC2 projections) and `ex2`
    * (the PC2 Rayleigh ppm under the same n-independent truncation
    * order). */
  private val Pca2Ctes: String = {
    // CTE names are prefixed `pb/wb/qb/xb/mb/u` — the PC1 chain already
    // owns p1..p64/w1..w64/m1..m64, and e.g. "p2"+round 1 would collide
    // with PC1's round-21 "p21"
    val rounds = (1 to graft.operators.Similarity.Pc2Rounds).map { r =>
      s"""pb$r AS MATERIALIZED (SELECT vec_id, list_sum([dv[i] * u[i] for i in range(1,65)]) AS dd
         |  FROM d CROSS JOIN u${r - 1}),
         |wb$r AS MATERIALIZED (SELECT pos, sum(CAST(dd AS HUGEINT) * dvp) AS w
         |  FROM du JOIN pb$r USING (vec_id) GROUP BY pos),
         |qb$r AS MATERIALIZED (SELECT CASE WHEN s < 0 THEN -((-s) // vv) ELSE s // vv END AS qq
         |  FROM (SELECT sum(w * v1e) AS s FROM wb$r JOIN v1u USING (pos)) t, vv1),
         |xb$r AS MATERIALIZED (SELECT pos, w - qq * v1e AS w2
         |  FROM wb$r JOIN v1u USING (pos), qb$r),
         |mb$r AS MATERIALIZED (SELECT max(abs(w2)) AS mx FROM xb$r),
         |u$r AS MATERIALIZED (SELECT list(CAST(CASE WHEN w2 < 0 THEN -((-w2) * 1000000 // mx)
         |    ELSE w2 * 1000000 // mx END AS BIGINT) ORDER BY pos) AS u FROM xb$r, mb$r)""".stripMargin
    }.mkString(",\n")
    val fr = graft.operators.Similarity.Pc2Rounds
    s"""$PcaCtes,
       |v1u AS MATERIALIZED (SELECT u.i AS pos, v[u.i] AS v1e
       |  FROM vf, (SELECT unnest(range(1, 65)) AS i) u),
       |vv1 AS MATERIALIZED (SELECT sum(CAST(v1e AS HUGEINT) * v1e) AS vv FROM v1u),
       |u0 AS (SELECT [CAST(1000000 AS BIGINT) for i in range(1,65)] AS u),
       |$rounds,
       |uf AS (SELECT u FROM u$fr),
       |f2 AS (SELECT vec_id, list_sum([dv[i] * u[i] for i in range(1,65)]) AS dd2
       |       FROM d CROSS JOIN uf),
       |s22 AS (SELECT sum(CAST(dd2 AS HUGEINT) * dd2) AS sd2b FROM f2),
       |vv2 AS (SELECT list_sum([CAST(u[i] AS HUGEINT) * u[i] for i in range(1,65)]) AS vtv2 FROM uf),
       |ex2 AS (SELECT (sd2b // trace) * 1000000 // vtv2 AS explained2_ppm FROM s22, tr, vv2)""".stripMargin
  }

  /** Unrolled BPE merge-training replay (q_bpe_merges / q_bpe_encode —
    * VERDICT r13 ask #1, closing the last convertible no-oracle pair):
    * exactly Curation.trainMerges' semantics, one MATERIALIZED CTE group
    * per merge round (the PcaCtes 64-round precedent). Per round k:
    * `pr` counts adjacent symbol pairs weighted by word frequency, `bm`
    * takes the argmax under the IDENTICAL total tie order
    * (freq DESC, left ASC, right ASC; ASCII symbols, so UTF-8 binary,
    * UTF-16 and codepoint collations all agree) with the `freq >= 2`
    * early-stop (an empty `bm` makes every later round the identity and
    * contributes no output row — the stop falls out structurally), and
    * the greedy LEFT-TO-RIGHT splice is exact relational algebra:
    * candidate positions (syms[i], syms[i+1]) = (l, r) form
    * gaps-and-islands runs (consecutive candidates only exist when
    * l = r), greedy consumption keeps exactly the ODD offsets within
    * each run (row_number % 2), and a lag() flag drops the consumed
    * right-neighbors before `list(... ORDER BY i)` reassembles each
    * word. The vocabulary base replays bpeVocabFrom's 1-ppm floor
    * (prunes nothing on this corpus — every word ≥ 1 ppm — so wd16 maps
    * EVERY document token, which is what lets the encode oracle inner-
    * join; documented in COVERAGE.md). wd16 then IS the trained
    * tokenizer's word→symbols table, so the encode oracle is one join +
    * per-doc flatten — the same per-distinct-word memoization shape the
    * Spark encoder uses.
    */
  private val BpeCtes: String = {
    val eow = operators.Curation.BpeEow
    val rounds = (1 to operators.Curation.BpeRounds).map { k =>
      val p = s"wd${k - 1}"
      s"""pr$k AS MATERIALIZED (
         |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS freq
         |  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM $p)
         |  GROUP BY 1, 2),
         |bm$k AS MATERIALIZED (
         |  SELECT l, r, freq FROM pr$k WHERE freq >= 2
         |  ORDER BY freq DESC, l, r LIMIT 1),
         |sy$k AS MATERIALIZED (
         |  SELECT word, cnt, syms, unnest(range(1, len(syms)+1)) AS i FROM $p),
         |cd$k AS MATERIALIZED (
         |  SELECT s.word, s.cnt, s.i, s.syms[s.i] AS sym, b.l AS ml, b.r AS mr,
         |    coalesce(s.i < len(s.syms) AND s.syms[s.i] = b.l
         |             AND s.syms[s.i+1] = b.r, FALSE) AS cand
         |  FROM sy$k s LEFT JOIN bm$k b ON TRUE),
         |rn$k AS MATERIALIZED (
         |  SELECT *, CASE WHEN cand THEN i - row_number() OVER
         |      (PARTITION BY word, cand ORDER BY i) END AS grp
         |  FROM cd$k),
         |mg$k AS MATERIALIZED (
         |  SELECT word, cnt, i, sym, ml, mr,
         |    cand AND (row_number() OVER (PARTITION BY word, grp ORDER BY i) % 2 = 1) AS dm
         |  FROM rn$k),
         |wd$k AS MATERIALIZED (
         |  SELECT word, cnt, list(CASE WHEN dm THEN ml || mr ELSE sym END ORDER BY i) AS syms
         |  FROM (SELECT *, coalesce(lag(dm) OVER (PARTITION BY word ORDER BY i), FALSE) AS consumed
         |        FROM mg$k)
         |  WHERE NOT consumed GROUP BY word, cnt)""".stripMargin
    }.mkString(",\n")
    s"""wc0 AS MATERIALIZED (
       |  SELECT w, count(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |wd0 AS MATERIALIZED (
       |  SELECT w AS word, cnt,
       |    list_append([w[i] for i in range(1, length(w)+1)], '$eow') AS syms
       |  FROM wc0
       |  WHERE cnt >= ceil((SELECT sum(cnt) FROM wc0) * 1e-6)),
       |$rounds""".stripMargin
  }

  /** Shared CTE block (no WITH keyword) producing `np` = the exact all-pairs
    * near-dup ground truth (3-gram-shingle Jaccard >= 0.8) — composed into
    * the pair oracle, the clusters oracle and the keep-set oracle.
    */
  private val NearDupPairsCte: String =
    """toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      |         THEN [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]
      |         ELSE w END) AS ts FROM toks),
      |np AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         round(len(list_intersect(a.ts,b.ts))::DOUBLE
      |               / (len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))), 6) AS jac
      |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |       WHERE len(list_intersect(a.ts,b.ts))::DOUBLE
      |             / (len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) >= 0.8)""".stripMargin

  /** Shared oracle for the three near-dup strategies (identical semantics:
    * 3-gram-shingle Jaccard >= 0.8, exact all-pairs ground truth).
    */
  private val NearDupOracle: String =
    s"""WITH $NearDupPairsCte
       |SELECT doc_a, doc_b, jac FROM np ORDER BY doc_a, doc_b""".stripMargin

  /** Shared oracle for the raw-code IVFADC ranking — the in-plan form
    * and the stored/appended-index serve (`q_ivfpq_topk` /
    * `q_ivfpq_incremental`) are bit-identical by construction. */
  private lazy val IvfPqOracle: String =
    s"""WITH $KmeansCtes,
         |${operators.Similarity.pqCtes("pq")},
         |probe AS (SELECT vec_id AS q_id, cid FROM (
         |    SELECT q.vec_id, c.cid,
         |      list_sum([(q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]) for i in range(1,65)]) AS dist,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cid) AS rn
         |    FROM q CROSS JOIN c${operators.Similarity.KmeansRounds} c
         |    WHERE q.vec_id % 25 = 0)
         |  WHERE rn <= ${operators.Similarity.IvfPqNProbe}),
         |asg AS (SELECT vec_id, cid FROM af WHERE rn = 1),
         |cand AS (SELECT p.q_id, a.vec_id FROM probe p
         |         JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.q_id),
         |scpq AS (SELECT c.q_id, c.vec_id, CAST(sum(l.d) AS BIGINT) AS adist
         |        FROM cand c JOIN pqenc e ON e.vec_id = c.vec_id
         |          JOIN pqlut l ON l.q_id = c.q_id AND l.sub = e.sub AND l.code = e.code
         |        GROUP BY 1, 2)
         |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, adist FROM (
         |  SELECT q_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
         |  FROM scpq)
         |WHERE rn <= ${operators.Similarity.PqTopK} ORDER BY q_id, rn""".stripMargin

  /** Shared oracle for the SemDeDup keep set — the scan-time form and the
    * stored-index serve (`q_semdedup` / `q_semdedup_incremental`) are
    * bit-identical by construction, so one replay checks both. */
  private lazy val SemDedupOracle: String =
    s"""WITH $KmeansCtes,
       |asg AS (SELECT vec_id, cid AS cluster FROM af WHERE rn = 1),
       |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
       |n AS (SELECT vec_id, v, list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b) nn FROM e),
       |m AS (SELECT n.vec_id, v, nn, cluster FROM n JOIN asg USING (vec_id)),
       |dr AS (SELECT DISTINCT b.vec_id
       |       FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |       WHERE list_reduce(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), (x,y) -> x+y)
       |             / (sqrt(a.nn)*sqrt(b.nn)) >= 0.45)
       |SELECT m.vec_id, m.cluster::BIGINT AS cluster, (dr.vec_id IS NULL) AS is_kept
       |FROM m LEFT JOIN dr ON dr.vec_id = m.vec_id
       |ORDER BY m.vec_id""".stripMargin

  /** Shared oracle CTE for the SimHash fingerprint (md5-60-bit hash per
    * 3-gram shingle, sign-summed per bit — mirrors Dedup.simhashFingerprints
    * op for op).
    */
  private val SimhashOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
      |         THEN [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]
      |         ELSE w END)) AS s FROM toks),
      |h AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT AS hv FROM sh),
      |bits AS (SELECT doc_id, b, sum(CASE WHEN (hv>>b)&1=1 THEN 1 ELSE -1 END) AS sc
      |         FROM h, (SELECT unnest(range(0,60)) AS b) GROUP BY 1, 2)
      |SELECT doc_id, sum(CASE WHEN sc>0 THEN 1::BIGINT<<b ELSE 0::BIGINT END)::BIGINT AS simhash
      |FROM bits GROUP BY 1 ORDER BY doc_id""".stripMargin
}
