package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 + the builder prompt.
  *
  * Every `queries` entry has a matching `oracleSql` entry (ANSI SQL in
  * DuckDB dialect over the same parquet tables); column names and
  * deterministic orderings are kept identical on both sides so the
  * oracle's hash compare is exact.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Olap.q5RegionRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // core OLAP
    "q1_agg" -> (Olap.q1Agg _),
    "q3_shipping" -> (Olap.q3Shipping _),
    "q5_region_revenue" -> (Olap.q5RegionRevenue _),
    "topk_per_group" -> (Olap.topkPerGroup _),
    "rollup_agg" -> (Olap.rollupAgg _),
    "parts_never_ordered" -> (Olap.partsNeverOrdered _),
    "nation_coverage" -> (Olap.nationCoverage _),
    "cube_agg" -> (Olap.cubeAgg _),
    "market_share" -> (Olap.marketShare _),
    // events
    "events_json" -> (Events.eventsJson _),
    "events_hourly" -> (Events.eventsHourly _),
    "events_sessionize" -> (Events.eventsSessionize _),
    "events_topusers" -> (Events.eventsTopUsers _),
    "events_asof_join" -> (Events.eventsAsofJoin _),
    "events_asof_forward" -> (Events.eventsAsofForward _),
    "events_lag_delta" -> (Events.eventsLagDelta _),
    "events_percentiles" -> (Events.eventsPercentiles _),
    "events_funnel" -> (Events.eventsFunnel _),
    "events_funnel_windowed" -> (Events.eventsFunnelWindowed _),
    "events_survival" -> (Events.eventsSurvival _),
    "events_cuped" -> (Events.eventsCuped _),
    "events_did" -> (Events.eventsDid _),
    "events_forecast_baseline" -> (Events.eventsForecastBaseline _),
    "events_retention" -> (Events.eventsRetention _),
    "events_moving_avg" -> (Events.eventsMovingAvg _),
    "events_dau_wau" -> (Events.eventsDauWau _),
    "events_funnel_time" -> (Events.eventsFunnelTime _),
    "events_anomaly_mad" -> (Events.eventsAnomalyMad _),
    // cleaning + quality
    "clean_abr" -> (Cleaning.cleanAbr _),
    "clean_cc" -> (Cleaning.cleanCc _),
    "clean_dedup_exact" -> (Cleaning.cleanDedupExact _),
    "quality_metrics" -> (Quality.qualityMetrics _),
    "curation_decisions" -> (Quality.curationDecisions _),
    "dq_expectations" -> (Governance.dqExpectations _),
    "dq_expectations_config" -> (Governance.dqExpectationsConfig _),
    "privacy_kanon" -> ((s: SparkSession, d: String) => Governance.privacyKanon(s, d)),
    "privacy_l_diversity" -> ((s: SparkSession, d: String) => Governance.privacyLDiversity(s, d)),
    "quality_pr_curve" -> (Governance.qualityPrCurve _),
    "quality_reliability" -> (Governance.qualityReliability _),
    "corpus_mixture_report" -> (Quality.corpusMixtureReport _),
    // entity matching
    "match_exact" -> (Matching.matchExact _),
    "match_fuzzy_blocked" -> (Matching.matchFuzzyBlocked _),
    "match_blocking_eval" -> (Matching.matchBlockingEval _),
    "match_tfidf_topk" -> (Matching.matchTfidfTopk _),
    "match_combined" -> (Matching.matchCombined _),
    "match_llm_stub" -> (Matching.matchLlmStub _),
    "match_bm25_topk" -> (Matching.matchBm25Topk _),
    "retrieve_chunks_bm25" -> (Matching.retrieveChunksBm25 _),
    "match_phonetic" -> (Matching.matchPhonetic _),
    "clean_abr_rejects" -> (Cleaning.cleanAbrRejects _),
    "entity_enriched" -> (Matching.entityEnriched _),
    "cc_domains" -> (Cleaning.ccDomains _),
    // dedup
    "dedup_exact_text" -> (Dedup.dedupExactText _),
    "dedup_index_probe" -> (Dedup.dedupIndexProbe _),
    "dedup_minhash_lsh" -> (Dedup.dedupMinhashLsh _),
    "dedup_minhash_est_eval" -> (Dedup.dedupMinhashEstEval _),
    "dedup_simhash" -> (Dedup.dedupSimhash _),
    "dedup_ngram_jaccard" -> (Dedup.dedupNgramJaccard _),
    "dedup_threshold_sweep" -> (Dedup.dedupThresholdSweep _),
    "dedup_method_agreement" -> (Dedup.dedupMethodAgreement _),
    "dedup_embed_nn" -> (Dedup.dedupEmbedNn _),
    "dedup_components" -> (Dedup.dedupComponents _),
    "dedup_keep_best" -> (Dedup.dedupKeepBest _),
    "contamination_minhash" -> (Dedup.contaminationMinhash _),
    "dedup_substring" -> (Dedup.dedupSubstring _),
    "dedup_paragraphs" -> (Dedup.dedupParagraphs _),
    "contamination_ngram" -> (Dedup.contaminationNgram _),
    "text_ngram_novelty" -> (Dedup.textNgramNovelty _),
    // text analysis
    "text_langid" -> (TextAnalysis.textLangid _),
    "langid_confusion" -> (TextAnalysis.langidConfusion _),
    "text_quality" -> (TextAnalysis.textQuality _),
    "text_tokens" -> (TextAnalysis.textTokens _),
    "text_zipf_fit" -> (TextAnalysis.textZipfFit _),
    "doc_length_histogram" -> (TextAnalysis.docLengthHistogram _),
    "text_fingerprint" -> (TextAnalysis.textFingerprint _),
    "text_bigrams" -> (TextAnalysis.textBigrams _),
    "text_tokens_bpe" -> (TextAnalysis.textTokensBpe _),
    "text_rolling_hash" -> (TextAnalysis.textRollingHash _),
    "text_perplexity" -> (TextAnalysis.textPerplexity _),
    "text_dsir" -> (TextAnalysis.textDsir _),
    "text_perplexity_bigram" -> (TextAnalysis.textPerplexityBigram _),
    "text_perplexity_kn" -> (TextAnalysis.textPerplexityKn _),
    "text_repetition" -> (TextAnalysis.textRepetition _),
    // similarity search
    "knn_brute" -> (Similarity.knnBrute _),
    "knn_signlsh" -> (Similarity.knnSignLsh _),
    "knn_ivf" -> (Similarity.knnIvf _),
    "knn_ivf_indexed" -> (Similarity.knnIvfIndexed _),
    "knn_ivfpq_indexed" -> (Similarity.knnIvfPqIndexed _),
    "knn_pq_adc" -> (Similarity.knnPqAdc _),
    "knn_ivfpq" -> (Similarity.knnIvfPq _),
    "knn_recall_pq" -> (Similarity.knnRecallPq _),
    "knn_batch" -> (Similarity.knnBatch _),
    "knn_filtered" -> (Similarity.knnFiltered _),
    "knn_batch_ivf" -> (Similarity.knnBatchIvf _),
    "knn_recall_vs_nprobe" -> (Similarity.knnRecallVsNprobe _),
    "embed_outliers" -> (Similarity.embedOutliers _),
    "embed_whitening" -> (Similarity.embedWhitening _),
    "cluster_kmeans" -> (Similarity.clusterKmeans _),
    "embed_cluster_margin" -> (Similarity.embedClusterMargin _),
    "embed_top_pc" -> (Similarity.embedTopPc _),
    "embed_top2_pc" -> (Similarity.embedTop2Pc _),
    "embed_pq_distortion" -> (Similarity.embedPqDistortion _),
    // sketches + range join
    "approx_distinct_kmv" -> (Sketches.approxDistinctKmv _),
    "events_range_join" -> (Events.eventsRangeJoin _),
    "events_histogram" -> (Events.eventsHistogram _),
    "events_zscore" -> (Events.eventsZscore _),
    "sample_stratified" -> (Sampling.sampleStratified _),
    "sample_token_budget" -> (Sampling.sampleTokenBudget(_, _)),
    "sample_priority" -> (Sampling.samplePriority(_, _)),
    "table_profile" -> (Quality.tableProfile _),
    "table_diff" -> (Quality.tableDiff _),
    "sample_per_group" -> (Sampling.samplePerGroup _),
    "sample_weighted_mix" -> (Sampling.sampleWeightedMix _),
    "sample_mixture_epochs" -> (Sampling.sampleMixtureEpochs _),
    "sample_epoch_expand" -> (Sampling.sampleEpochExpand _),
    "text_pmi_bigrams" -> (TextAnalysis.textPmiBigrams _),
    "mm_frame_sample" -> ((s, d) => multimodal.BinaryColumns.frameSample(s, d)),
    // extraction
    "extract_xml_entities" -> (sources.Extraction.extractXmlEntities _),
    "extract_html_names" -> (sources.Extraction.extractHtmlNames _),
    "clean_html_boilerplate" -> (sources.Extraction.cleanHtmlBoilerplate _),
    "extract_cdx_filter" -> (sources.Extraction.extractCdxFilter _),
    "extract_warc_records" -> (sources.Extraction.extractWarcRecords _),
    // multimodal
    "mm_binary_features" -> (multimodal.BinaryColumns.binaryFeatures _),
    "mm_pair_builder" -> (multimodal.BinaryColumns.pairBuilder _),
    "mm_fake_decode" -> (multimodal.BinaryColumns.fakeDecodeFeatures _),
    "mm_resize" -> (multimodal.BinaryColumns.resizePlan _),
    // round 4: privacy, diversity, sketches, crosstabs, paths, URLs, splits
    "text_pii_scrub" -> (TextAnalysis.textPiiScrub _),
    "text_token_entropy" -> (TextAnalysis.textTokenEntropy _),
    "heavy_hitters_cms" -> (Sketches.heavyHittersCms _),
    "pivot_agg" -> (Olap.pivotAgg _),
    "q4_priority_exists" -> (Olap.q4PriorityExists _),
    "events_path_transitions" -> (Events.eventsPathTransitions _),
    "clean_url_canon" -> (Cleaning.cleanUrlCanon _),
    "sample_hash_split" -> (Sampling.sampleHashSplit _),
    "sample_shard_shuffle" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
      Sampling.sampleShardShuffle(s, d)),
    // round 4, batch 2: OLAP plan shapes + pipeline analytics
    "q10_returned" -> (Olap.q10Returned _),
    "q14_promo_share" -> (Olap.q14PromoShare _),
    "q15_top_supplier" -> (Olap.q15TopSupplier _),
    "q18_large_orders" -> (Olap.q18LargeOrders _),
    "q19_disjunctive" -> (Olap.q19Disjunctive _),
    "orders_rfm" -> (Olap.ordersRfm _),
    "text_keywords_tfidf" -> (TextAnalysis.textKeywordsTfidf _),
    "events_sliding_dau" -> (Events.eventsSlidingDau _),
    "embed_label_stats" -> (Similarity.embedLabelStats _),
    "graph_pagerank" -> (Graph.graphPagerank _),
    "grouping_sets_agg" -> (Olap.groupingSetsAgg _),
    "match_jaro" -> (Matching.matchJaro _),
    "part_affinity" -> (Graph.partAffinity _),
    "approx_quantiles_sampled" -> (Sketches.approxQuantilesSampled _),
    "orders_scd2" -> (Olap.ordersScd2 _),
    "events_gap_fill" -> (Events.eventsGapFill _),
    "customer_pareto" -> (Olap.customerPareto _),
    "pack_sequences" -> ((s, d) => Sampling.packSequences(s, d)),
    "q7_volume" -> (Olap.q7Volume _),
    "q9_profit" -> (Olap.q9Profit _),
    "q21_sole_supplier" -> (Olap.q21SoleSupplier _),
    "q22_idle_balance" -> (Olap.q22IdleBalance _),
    "sample_temperature" -> ((s, d) => Sampling.sampleTemperature(s, d)),
    "chunk_overlap" -> ((s, d) => TextAnalysis.chunkOverlap(s, d)),
    "approx_distinct_kmv_agg" -> (Sketches.approxDistinctKmvAgg _),
    // round 4, batch 5: TPC-H completion (lineitem as the supply relation)
    "q6_forecast" -> (Olap.q6Forecast _),
    "q12_priority_class" -> (Olap.q12PriorityClass _),
    "q13_custdist" -> (Olap.q13Custdist _),
    "q2_min_cost" -> (Olap.q2MinCost _),
    "q11_important_stock" -> (Olap.q11ImportantStock _),
    "q16_supplier_cnt" -> (Olap.q16SupplierCnt _),
    "q17_small_qty" -> (Olap.q17SmallQty _),
    "q20_excess_share" -> (Olap.q20ExcessShare _),
    // round 4, batch 6: semantic dedup + classifier-style curation
    "dedup_semantic" -> (Dedup.dedupSemantic _),
    "quality_classifier" -> (TextAnalysis.qualityClassifier _),
    "tokenizer_oov" -> ((s, d) => TextAnalysis.tokenizerOov(s, d)),
    "graph_triangles" -> (Graph.graphTriangles _),
    // round 4, batch 7: interval sweep, cohort LTV, YoY growth
    "orders_concurrency" -> (Olap.ordersConcurrency _),
    "lineitem_monthly_yoy" -> (Olap.lineitemMonthlyYoy _),
    "events_cohort_ltv" -> (Events.eventsCohortLtv _),
    // round 4, batch 8: entity-resolution closure + feature store
    "entity_canonical" -> (Matching.entityCanonical _),
    "events_user_profile" -> (Events.eventsUserProfile _),
    "mm_audio_windows" -> (multimodal.BinaryColumns.audioWindows _),
    // round 4, batch 9: quantization, tokenizer training, attribution,
    // session depth, market quartiles, ANN quality eval
    "embed_quantize_int8" -> (Similarity.embedQuantizeInt8 _),
    "bpe_pair_merge" -> (TextAnalysis.bpePairMerge _),
    "bpe_train_rounds" -> (TextAnalysis.bpeTrainRounds _),
    "events_attribution" -> (Events.eventsAttribution _),
    "events_session_stats" -> (Events.eventsSessionStats _),
    "orders_ntile" -> (Olap.ordersNtile _),
    "knn_recall_eval" -> (Similarity.knnRecallEval _),
    "events_heatmap" -> (Events.eventsHeatmap _),
    "events_key_skew" -> (Events.eventsKeySkew _),
    "events_conversions" -> ((s, d) => Events.eventsConversions(s, d)),
    "events_bot_detect" -> (Events.eventsBotDetect _),
    "events_attribution_linear" -> (Events.eventsAttributionLinear _),
    "events_new_vs_returning" -> (Events.eventsNewVsReturning _),
    "events_ab_test" -> (Events.eventsAbTest _),
    "events_seasonal" -> (Events.eventsSeasonal _),
    "events_decayed_score" -> (Events.eventsDecayedScore _),
    "events_power_analysis" -> (Events.eventsPowerAnalysis _),
    "match_fellegi_sunter" -> (Matching.matchFellegiSunter _),
    "match_sorted_neighborhood" -> (Matching.matchSortedNeighborhood _),
    "approx_set_overlap_kmv" -> (Sketches.approxSetOverlapKmv _),
    "sample_soft_dedup" -> (Sampling.sampleSoftDedup _),
    "quality_kappa" -> (Governance.qualityKappa _),
    "text_source_divergence" -> (TextAnalysis.textSourceDivergence _),
    "events_srm_check" -> (Events.eventsSrmCheck _),
    "events_psi_drift" -> (Events.eventsPsiDrift _),
    "events_ks_drift" -> (Events.eventsKsDrift _),
    "events_changepoint_cusum" -> (Events.eventsChangepointCusum _),
    "embed_dim_stats" -> (Similarity.embedDimStats _),
    "events_uplift_segments" -> (Events.eventsUpliftSegments _),
    "knn_graph_mutual" -> (Similarity.knnGraphMutual _),
    "graph_label_prop" -> (Graph.graphLabelProp _),
    "text_readability" -> (TextAnalysis.textReadability _),
    // round 8, batch 6: HLL sketches, ranking eval, featurizer, CDC
    "approx_distinct_hll" -> (Sketches.approxDistinctHll _),
    "approx_distinct_hll_agg" -> (Sketches.approxDistinctHllAgg _),
    "quality_auc" -> (Governance.qualityAuc _),
    "text_feature_hashing" -> ((s, d) => TextAnalysis.textFeatureHashing(s, d)),
    "cdc_apply_latest" -> (Olap.cdcApplyLatest _),
    // round 8, batch 7: retrieval eval, link prediction, grouped stats
    "retrieval_ndcg" -> (Matching.retrievalNdcg _),
    "graph_adamic_adar" -> (Graph.graphAdamicAdar _),
    "part_weighted_median" -> (Olap.partWeightedMedian _),
    "part_price_ols" -> (Olap.partPriceOls _),
    "events_burstiness" -> (Events.eventsBurstiness _),
    // round 8, batch 8: partition quality, SLA percentiles,
    // shard manifest, truncated-embedding ablation
    "community_modularity" -> (Graph.communityModularity _),
    "lineitem_ship_latency" -> (Olap.lineitemShipLatency _),
    "mm_shard_manifest" ->
      ((s, d) => multimodal.BinaryColumns.shardManifest(s, d)),
    "embed_matryoshka_recall" ->
      ((s, d) => Similarity.embedMatryoshkaRecall(s, d)),
    // round 8, batch 9: contrastive pair mining, tokenizer bias
    "retrieval_hard_negatives" -> (Matching.retrievalHardNegatives _),
    "tokenizer_fertility" -> (TextAnalysis.tokenizerFertility _),
    // round 8, batch 10: EB rate shrinkage, FDR-controlled A/B family
    "part_return_eb_rates" -> (Olap.partReturnEbRates _),
    "events_ab_pvalues_fdr" -> (Events.eventsAbPvaluesFdr _),
    // round 8, batch 11: graph mixing/core structure, Gopher rule
    // battery, DP count release, aspect-ratio batch bucketing
    "graph_assortativity" -> (Graph.graphAssortativity _),
    "graph_kcore" -> ((s, d) => Graph.graphKcore(s, d)),
    "text_gopher_rules" -> (TextAnalysis.textGopherRules _),
    "privacy_dp_counts" -> ((s, d) => Governance.privacyDpCounts(s, d)),
    "mm_aspect_buckets" ->
      ((s, d) => multimodal.BinaryColumns.aspectBuckets(s, d)),
    // round 8, batch 12: RAKE keyphrases, pg_trgm matching, length
    // curriculum, kNN label-coherence eval
    "text_keyphrase_rake" -> (TextAnalysis.textKeyphraseRake _),
    "match_trigram" -> (Matching.matchTrigram _),
    "sample_curriculum" -> (Sampling.sampleCurriculum _),
    "embed_knn_classifier" -> (Similarity.embedKnnClassifier _),
    // round 8, batch 13: ACF periodicity, point-in-time features,
    // degree tail, confident-learning label noise
    "events_autocorrelation" -> (Events.eventsAutocorrelation _),
    "events_pit_features" -> (Events.eventsPitFeatures _),
    "graph_degree_hist" -> (Graph.graphDegreeHist _),
    "quality_confident_joint" -> (Governance.qualityConfidentJoint _),
    // round 8, batch 14: SLO burn alerting, price index, clustering NMI
    "events_slo_burn" -> (Events.eventsSloBurn _),
    "orders_price_index" -> (Olap.ordersPriceIndex _),
    "embed_cluster_nmi" -> (Similarity.embedClusterNmi _),
    // round 8, batch 15: code detection, layout skew, AQP estimator,
    // sequential always-valid A/B
    "text_code_detect" -> (TextAnalysis.textCodeDetect _),
    "layout_skew_report" -> ((s, d) => Quality.layoutSkewReport(s, d)),
    "table_estimate" -> ((s, d) => Sketches.tableEstimate(s, d)),
    "events_sequential_msprt" -> (Events.eventsSequentialMsprt _),
    // round 8, batch 16: distributional A/B, Benford screen, lexical
    // diversity, hub 2-hop expansion
    "events_qte" -> (Events.eventsQte _),
    "events_benford" -> (Events.eventsBenford _),
    "text_lexical_diversity" -> (TextAnalysis.textLexicalDiversity _),
    "graph_2hop_reach" -> (Graph.graphTwoHopReach _),
    // round 8, batch 17: Bayesian A/B, robust means, k-fold audit,
    // pHash banding
    "events_bayesian_ab" -> (Events.eventsBayesianAb _),
    "events_winsorized_ab" -> (Events.eventsWinsorizedAb _),
    "sample_kfold" -> (Sampling.sampleKfold _),
    "mm_phash_buckets" -> (multimodal.BinaryColumns.phashBuckets _),
    // round 8, batch 18: zone-map pruning sim, velocity forensics,
    // Zipf head coverage, keyed-hash pseudonymization
    "layout_pruning_sim" -> ((s, d) => Quality.layoutPruningSim(s, d)),
    "customer_order_velocity" -> (Olap.customerOrderVelocity _),
    "text_zipf_coverage" -> (TextAnalysis.textZipfCoverage _),
    "privacy_pseudonymize" -> (Governance.privacyPseudonymize _),
    // round 8, batch 19: Poisson-bootstrap CI, exact-bytes media
    // dedup, gap-island streaks, Wilson supplier on-time bounds
    "events_bootstrap_ci" -> (Events.eventsBootstrapCi _),
    "mm_dedup_bytes" -> (multimodal.BinaryColumns.dedupBytes _),
    "customer_active_streaks" -> (Olap.customerActiveStreaks _),
    "supplier_otif_wilson" -> (Olap.supplierOtifWilson _),
    // round 8, batch 20: local clustering coefficients, growth
    // accounting, ABC classification, ABN checksum audit
    "graph_clustering_local" -> (Graph.graphClusteringLocal _),
    "events_growth_accounting" -> (Events.eventsGrowthAccounting _),
    "part_abc_class" -> (Olap.partAbcClass _),
    "clean_abn_checksum" -> (Cleaning.cleanAbnChecksum _),
    // round 8, batch 21: garbage-text screen, PII incidence audit,
    // supplier-concentration HHI, cross-source dup matrix
    "text_garbage_score" -> (TextAnalysis.textGarbageScore _),
    "text_pii_incidence" -> (TextAnalysis.textPiiIncidence _),
    "part_supplier_hhi" -> (Olap.partSupplierHhi _),
    "dedup_cross_source" -> (Dedup.dedupCrossSource _),
    // round 8, batch 22: DAU/MAU stickiness, unit-price integrity,
    // priority mix-shift PSI, split-policy leakage audit
    "events_stickiness" -> (Events.eventsStickiness _),
    "part_price_dispersion" -> (Olap.partPriceDispersion _),
    "orders_priority_psi" -> (Olap.ordersPriorityPsi _),
    "sample_split_leakage" -> (Sampling.sampleSplitLeakage _),
    // round 8, batch 23: hybrid RRF retrieval, embedding anisotropy,
    // AU postcode geography, purchase cadence
    "retrieval_rrf_fusion" -> (Matching.retrievalRrfFusion _),
    "embed_cosine_histogram" -> (Similarity.embedCosineHistogram _),
    "clean_postcode_states" -> (Cleaning.cleanPostcodeStates _),
    "events_purchase_cadence" -> (Events.eventsPurchaseCadence _),
    // round 8, batch 24: weekend conversion effect, open-order aging,
    // char-entropy compressibility, feature co-usage matrix
    "events_weekend_effect" -> (Events.eventsWeekendEffect _),
    "orders_aging" -> (Olap.ordersAging _),
    "text_char_entropy" -> (TextAnalysis.textCharEntropy _),
    "events_type_overlap" -> (Events.eventsTypeOverlap _),
    // round 8, batch 25: Heaps'-law vocab growth, latency SLO trend,
    // dedup survival by source, discount lift
    "text_heaps_law" -> (TextAnalysis.textHeapsLaw _),
    "lineitem_latency_trend" -> (Olap.lineitemLatencyTrend _),
    "dedup_source_survival" -> (Dedup.dedupSourceSurvival _),
    "lineitem_discount_lift" -> (Olap.lineitemDiscountLift _),
    // round 8, batch 26: conversion p-chart, per-variant funnel,
    // retention half-life, corpus dup-ngram mass
    "events_conversion_pchart" -> (Events.eventsConversionPchart _),
    "events_funnel_ab" -> (Events.eventsFunnelAb _),
    "events_retention_halflife" -> (Events.eventsRetentionHalflife _),
    "text_dup_ngram_mass" -> (TextAnalysis.textDupNgramMass _),
    // round 8, batch 27: revenue bridge, DES forecast, freshness
    // monitor, ICC variance decomposition
    "orders_revenue_bridge" -> (Olap.ordersRevenueBridge _),
    "events_forecast_des" -> (Events.eventsForecastDes _),
    "events_freshness" -> (Events.eventsFreshness _),
    "events_value_icc" -> (Events.eventsValueIcc _),
    // round 8, batch 28: IVF balance, ppl-filter sweep, sampled
    // triangle AQP, spend-band migration
    "knn_ivf_balance" -> (Similarity.knnIvfBalance _),
    "text_ppl_filter_sweep" -> (TextAnalysis.textPplFilterSweep _),
    "graph_triangle_estimate" -> (Graph.graphTriangleEstimate _),
    "orders_band_migration" -> (Olap.ordersBandMigration _),
    // round 8, batch 29: rich-club curve, bigram entropy, top movers,
    // langid confidence margins
    "graph_rich_club" -> (Graph.graphRichClub _),
    "text_bigram_entropy" -> (TextAnalysis.textBigramEntropy _),
    "events_top_movers" -> (Events.eventsTopMovers _),
    "text_langid_margin" -> (TextAnalysis.textLangidMargin _),
    // round 8, batch 30: chi-square independence, one-way ANOVA,
    // exact Gini, term burstiness
    "clean_state_type_chi2" -> (Cleaning.cleanStateTypeChi2 _),
    "events_value_anova" -> (Events.eventsValueAnova _),
    "orders_spend_gini" -> (Olap.ordersSpendGini _),
    "text_term_burstiness" -> (TextAnalysis.textTermBurstiness _),
    // round 8, batch 31: seasonality index, pHash review queue,
    // degree Gini, Levene variance test
    "orders_seasonality_index" -> (Olap.ordersSeasonalityIndex _),
    "mm_phash_top_pairs" -> (multimodal.BinaryColumns.phashTopPairs _),
    "graph_degree_gini" -> (Graph.graphDegreeGini _),
    "events_levene_variance" -> (Events.eventsLeveneVariance _),
  )

  /** clean_abr's shaped+filtered relation, shared by several oracles. */
  private val abrCleanedCte: String =
    """shaped AS (
      | SELECT CASE WHEN c_custkey % 7 = 0 THEN printf('%010d', c_custkey)
      |             ELSE printf('%011d', c_custkey) END AS abn,
      |   trim('  ' || c_name || '  ') AS entity_name,
      |   c_mktsegment AS entity_type,
      |   CASE WHEN c_custkey % 3 = 0 THEN 'active' ELSE 'cancelled' END AS entity_status,
      |   CASE WHEN c_custkey % 5 = 0 THEN '99'
      |        ELSE printf('%04d', c_nationkey * 100 + c_custkey % 100) END AS postcode,
      |   c_acctbal
      | FROM customer),
      |abr AS (
      | SELECT abn, entity_name, entity_type, entity_status, postcode FROM (
      |  SELECT *, row_number() OVER (PARTITION BY abn ORDER BY entity_name) AS rn
      |  FROM (SELECT DISTINCT * FROM shaped
      |        WHERE regexp_matches(abn, '^\d{11}$')
      |          AND regexp_matches(postcode, '^\d{4}$')
      |          AND lower(entity_status) = 'active') d) w
      | WHERE rn = 1)""".stripMargin

  /** Blocked fuzzy scoring relation, shared by fuzzy + combined.
    * Candidates = the multi-pass name block of Matching.fuzzyBlockKeys
    * (reference 2-char prefix pass UNION 4-char suffix pass); the
    * UNION dedups pairs both passes admit, matching the Spark side's
    * argmax collapse.
    */
  private val fuzzyBestCte: String =
    """cn AS (SELECT c_custkey, c_name,
      |  array_to_string(list_sort(string_split_regex(lower(trim(c_name)),'\s+')),' ') AS c_norm
      | FROM customer),
      |sn AS (SELECT s_suppkey, s_name,
      |  array_to_string(list_sort(string_split_regex(lower(trim(s_name)),'\s+')),' ') AS s_norm
      | FROM supplier),
      |cand AS (
      |  SELECT c_custkey, c_name, c_norm, s_suppkey, s_name, s_norm
      |  FROM cn JOIN sn ON substr(c_norm, 1, 2) = substr(s_norm, 1, 2)
      |  UNION
      |  SELECT c_custkey, c_name, c_norm, s_suppkey, s_name, s_norm
      |  FROM cn JOIN sn ON right(c_norm, 4) = right(s_norm, 4)),
      |scored AS (SELECT c_custkey, c_name, s_suppkey, s_name,
      |  round(CAST(1.0 AS DOUBLE) - CAST(levenshtein(c_norm, s_norm) AS DOUBLE)
      |        / CAST(greatest(length(c_norm), length(s_norm)) AS DOUBLE), 6) AS score
      | FROM cand),
      |fuzzy_best AS (SELECT c_custkey, c_name, s_suppkey, s_name, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY c_custkey
      |    ORDER BY score DESC, s_suppkey) AS rn
      |  FROM scored WHERE score >= 0.5) t WHERE rn = 1)""".stripMargin

  /** HLL(p=8) register/rank derivation from the md5 nibble stream —
    * reg = first 2 nibbles (top 8 of the 56-bit hash), v = nibbles
    * 3..14 (the low 48 bits) — shared verbatim by both HLL oracles so
    * they can't drift from [[graft.functions.Hll]]'s geometry.
    */
  private val hllRegV: String =
    """   CAST(list_sum(list_transform(generate_series(1, 2),
      |     i -> (strpos('0123456789abcdef', substr(md5(token), i, 1)) - 1)
      |       * pow(16, 2-i))) AS BIGINT) AS reg,
      |   CAST(list_sum(list_transform(generate_series(3, 14),
      |     i -> (strpos('0123456789abcdef', substr(md5(token), i, 1)) - 1)
      |       * pow(16, 14-i))) AS BIGINT) AS v""".stripMargin

  /** The two-round LPA CTE chain (→ l2: node, lbl) — shared verbatim
    * by `graph_label_prop` and the `community_modularity` eval so
    * the score can't be computed on a different partition than the
    * one reported. `e` is the directed symmetric distinct co-order
    * edge set (both orientations), so degrees read directly off it.
    */
  private val lpaCtes: String =
    """e AS (
      | SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      | FROM lineitem a JOIN lineitem b
      |   ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
      |c1 AS (SELECT e.src, l0.lbl, count(*) AS c
      |  FROM e JOIN l0 ON e.dst = l0.node GROUP BY 1, 2),
      |l1 AS (SELECT src AS node, lbl FROM (
      |  SELECT *, row_number() OVER (PARTITION BY src
      |    ORDER BY c DESC, lbl) AS rk FROM c1) t WHERE rk = 1),
      |c2 AS (SELECT e.src, l1.lbl, count(*) AS c
      |  FROM e JOIN l1 ON e.dst = l1.node GROUP BY 1, 2),
      |l2 AS (SELECT src AS node, lbl FROM (
      |  SELECT *, row_number() OVER (PARTITION BY src
      |    ORDER BY c DESC, lbl) AS rk FROM c2) t WHERE rk = 1)""".stripMargin

  /** The chunk-then-score BM25 CTE chain (→ scored: i, doc_id,
    * chunk_id, bm25) — shared verbatim by `retrieve_chunks_bm25`,
    * the `retrieval_ndcg` eval and the `retrieval_hard_negatives`
    * pair builder, so retriever, eval and training prep can't drift
    * (the Spark twin is Matching.ragScored, one PlanCache entry).
    */
  private val ragScoredCtes: String =
    """q AS (SELECT doc_id AS i,
      |   unnest(list_distinct(string_split_regex(text,'\s+'))) AS token
      |  FROM documents WHERE doc_id < 3),
      |d AS (SELECT doc_id, string_split_regex(text,'\s+') AS ts
      |  FROM documents WHERE doc_id >= 3),
      |st AS (SELECT doc_id, ts, unnest(generate_series(0, len(ts)-1, 48)) AS s
      |  FROM d),
      |ch AS (SELECT doc_id, CAST(s // 48 AS INT) AS chunk_id,
      |   ts[s+1 : s+64] AS ct FROM st),
      |ctf AS (SELECT doc_id, chunk_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, chunk_id, unnest(ct) AS token FROM ch) t
      |  GROUP BY 1, 2, 3),
      |clen AS (SELECT doc_id, chunk_id, sum(tf) AS len FROM ctf GROUP BY 1, 2),
      |stats AS (SELECT count(*) AS n, sum(len) * 1.0 / count(*) AS a FROM clen),
      |dfreq AS (SELECT token, count(*) AS df FROM ctf GROUP BY token),
      |pruned AS (SELECT token, df FROM dfreq, stats WHERE df < 0.95 * n),
      |pw AS (SELECT ctf.token, ctf.doc_id, ctf.chunk_id,
      |   (ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
      |    (tf + 1.2 * (0.25 + 0.75 * len / a))) AS c
      |  FROM ctf JOIN clen USING(doc_id, chunk_id)
      |  JOIN pruned USING(token) CROSS JOIN stats),
      |scored AS (SELECT i, doc_id, chunk_id, round(sum(c), 6) AS bm25
      |  FROM q JOIN pw USING(token) GROUP BY 1, 2, 3)""".stripMargin

  private val ragTopkSql: String =
    s"""WITH $ragScoredCtes,
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY i
      |   ORDER BY bm25 DESC, doc_id, chunk_id) AS INT) AS rank FROM scored)
      |SELECT i, doc_id, chunk_id, bm25, rank FROM r
      |WHERE rank <= 3 ORDER BY i, rank""".stripMargin

  /** ragScoredCtes + the weak-truth relevance judgment (→ j: i,
    * doc_id, chunk_id, bm25, rel) — ONE rel definition shared by the
    * `retrieval_ndcg` and `retrieval_hard_negatives` oracles, the
    * SQL twin of Matching.ragJudged.
    */
  private val ragJudgedCtes: String =
    s"""$ragScoredCtes,
      |m AS (SELECT doc_id, lang, source FROM documents),
      |j AS (SELECT scored.i, scored.doc_id, scored.chunk_id, scored.bm25,
      |   CAST(CASE WHEN cm.lang = qm.lang THEN 1 ELSE 0 END
      |     + CASE WHEN cm.source = qm.source THEN 1 ELSE 0 END AS BIGINT)
      |    AS rel
      |  FROM scored JOIN m qm ON scored.i = qm.doc_id
      |  JOIN m cm ON scored.doc_id = cm.doc_id)""".stripMargin

  private val qualityClassifierSql: String =
    """WITH f AS (SELECT doc_id, text,
      |   string_split_regex(text, '\s+') AS t FROM documents),
      |g AS (SELECT doc_id,
      |   CAST(len(t) AS BIGINT) AS n_tokens,
      |   CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) AS sum_len,
      |   CAST(len(list_filter(t, x -> x IN ('the','a','or','and'))) AS BIGINT) AS n_stop,
      |   length(text) AS n_chars,
      |   length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
      |  FROM f),
      |h AS (SELECT doc_id, n_tokens,
      |   round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
      |   round(CAST(n_digit AS DOUBLE) / n_chars, 6) AS digit_ratio,
      |   round(abs(sum_len / n_tokens - 5.0), 6) AS len_dev
      |  FROM g),
      |i AS (SELECT *, round(-1.0 + 0.35 * ln(1.0 + n_tokens)
      |   + 2.0 * stop_ratio - 4.0 * digit_ratio - 0.15 * len_dev, 6) AS logit
      |  FROM h)
      |SELECT doc_id, n_tokens, stop_ratio, digit_ratio,
      | round(1.0 / (1.0 + exp(-logit)), 6) AS score,
      | CASE WHEN round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5
      |      THEN 'keep' ELSE 'drop' END AS verdict
      |FROM i ORDER BY doc_id""".stripMargin

  private val textQualitySql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(text,'\s+') AS t FROM documents),
      |s AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
      |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_len,
      |  CAST(len(list_filter(t, x -> x IN ('the','a','or','and'))) AS BIGINT) AS n_stop
      | FROM d)
      |SELECT doc_id, n_tokens,
      | round(CAST(sum_len AS DOUBLE)/n_tokens, 6) AS avg_token_len,
      | round(CAST(n_stop AS DOUBLE)/n_tokens, 6) AS stop_ratio,
      | CASE WHEN n_tokens < 20 THEN 'too_short'
      |      WHEN CAST(n_stop AS DOUBLE)/n_tokens > 0.3 THEN 'boilerplate'
      |      ELSE 'ok' END AS quality_bucket
      |FROM s ORDER BY doc_id""".stripMargin

  /** Full pair-producing SQL for each near-dup method — each is BOTH
    * its own oracle entry and a subquery of dedup_method_agreement
    * (one source of truth; the agreement oracle can never drift from
    * the per-method oracles).
    */
  /** Shingle → minhash → band → candidate → exact-jaccard CTE chain;
    * `candCond` picks the pair population (within-corpus i<j for the
    * LSH dedup, bipartite batch×corpus for the stored-index probe).
    */
  private def minhashCtes(candCond: String): String = {
    val hs = (1 to 8).map { j =>
      val src = if (j <= 4) 1 else 2
      val off = ((j - 1) % 4) * 8 + 1
      s"list_min(list_transform(s, x -> substr(md5('$src'||'|'||x),$off,8))) AS h$j"
    }.mkString(",\n  ")
    s"""WITH toks AS (SELECT doc_id, string_split_regex(text,'\\s+') AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |   generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' '))) AS s
       |  FROM toks WHERE len(t) >= 3),
       |mh AS (SELECT doc_id, s,
       |  $hs
       | FROM sh),
       |bands AS (
       |  SELECT doc_id, 1 AS band_idx, h1||h2 AS band_val FROM mh
       |  UNION ALL SELECT doc_id, 2, h3||h4 FROM mh
       |  UNION ALL SELECT doc_id, 3, h5||h6 FROM mh
       |  UNION ALL SELECT doc_id, 4, h7||h8 FROM mh),
       |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j FROM bands a
       |  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND ($candCond)),
       |v AS (SELECT i, j,
       |   CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS inter,
       |   len(sa.s) AS la, len(sb.s) AS lb
       |  FROM cand JOIN mh sa ON cand.i = sa.doc_id
       |            JOIN mh sb ON cand.j = sb.doc_id)""".stripMargin
  }

  private val minhashCandCtes: String = minhashCtes("a.doc_id < b.doc_id")

  private val dedupMinhashLshSql: String =
    s"""$minhashCandCtes
       |SELECT i, j, round(inter/(la+lb-inter),6) AS jaccard FROM v
       |WHERE round(inter/(la+lb-inter),6) >= 0.8 ORDER BY i, j""".stripMargin

  private val dedupMinhashEstEvalSql: String = {
    val eqs = (1 to 8).map(k => s"(CASE WHEN sa.h$k = sb.h$k THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""$minhashCandCtes,
       |eq AS (SELECT cand.i, cand.j, CAST($eqs AS BIGINT) AS n_eq
       |  FROM cand JOIN mh sa ON cand.i = sa.doc_id
       |            JOIN mh sb ON cand.j = sb.doc_id)
       |SELECT v.i, v.j,
       | round(CAST(n_eq AS DOUBLE) / 8.0, 6) AS est_jaccard,
       | round(inter/(la+lb-inter), 6) AS exact_jaccard,
       | round(abs(round(CAST(n_eq AS DOUBLE) / 8.0, 6)
       |   - round(inter/(la+lb-inter), 6)), 6) AS abs_err
       |FROM v JOIN eq ON v.i = eq.i AND v.j = eq.j
       |ORDER BY v.i, v.j""".stripMargin
  }

  private val dedupSimhashSql: String =
    """WITH tok AS (SELECT doc_id,
      |   unnest(list_distinct(string_split_regex(text,'\s+'))) AS tk FROM documents),
      |bits AS (SELECT doc_id, tk, b,
      |   (strpos('0123456789abcdef', substr(md5(tk), (b//4)+1, 1)) - 1) AS nib,
      |   CASE b%4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS mask
      | FROM tok CROSS JOIN (SELECT unnest(generate_series(0,15)) AS b) bs),
      |sv AS (SELECT doc_id, b,
      |   sum(CASE WHEN (nib//mask)%2 = 1 THEN 1 ELSE -1 END) AS sv
      | FROM bits GROUP BY 1, 2),
      |sim AS (SELECT doc_id, CAST(sum(
      |   (CASE WHEN sv > 0 THEN 1 ELSE 0 END) * CAST(pow(2,b) AS BIGINT)) AS BIGINT) AS simhash
      | FROM sv GROUP BY doc_id),
      |fam AS (SELECT simhash, count(*) AS n_members, min(doc_id) AS hub
      | FROM sim GROUP BY 1 HAVING count(*) >= 2),
      |m AS (SELECT s.doc_id, s.simhash, f.n_members, f.hub
      | FROM sim s JOIN fam f USING (simhash))
      |SELECT a.doc_id AS i, b.doc_id AS j, a.simhash AS simhash
      |FROM m a JOIN m b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
      |WHERE a.n_members <= 16 AND b.n_members <= 16
      |UNION ALL
      |SELECT hub AS i, doc_id AS j, simhash FROM m
      |WHERE n_members > 16 AND doc_id <> hub
      |ORDER BY i, j""".stripMargin

  private val dedupNgramJaccardSql: String =
    """WITH g AS (SELECT doc_id, lang,
      |   list_distinct(list_transform(generate_series(1, length(text)-2),
      |     i -> substr(text, i, 3))) AS g
      | FROM documents WHERE length(text) >= 3),
      |ex AS (SELECT doc_id, lang,
      |   ((strpos('0123456789abcdef', substr(md5(ng),1,1)) - 1) * 256
      |    + (strpos('0123456789abcdef', substr(md5(ng),2,1)) - 1) * 16
      |    + (strpos('0123456789abcdef', substr(md5(ng),3,1)) - 1)) % 4096 AS r
      |  FROM (SELECT doc_id, lang, unnest(g) AS ng FROM g) t),
      |bits AS (SELECT doc_id, lang, r//32 AS wi,
      |   CAST(bit_or(CAST(1 AS BIGINT) << (r % 32)) AS BIGINT) AS wrd
      |  FROM ex GROUP BY 1, 2, 3),
      |grid AS (SELECT doc_id, lang,
      |   unnest(generate_series(0, 127)) AS wi FROM g),
      |dense AS (SELECT doc_id, lang, list(wrd ORDER BY wi) AS v,
      |   CAST(sum(bit_count(wrd)) AS BIGINT) AS n FROM (
      |  SELECT grid.doc_id, grid.lang, grid.wi, coalesce(bits.wrd, 0) AS wrd
      |  FROM grid LEFT JOIN bits ON grid.doc_id = bits.doc_id AND grid.wi = bits.wi) t
      | GROUP BY 1, 2),
      |p AS (SELECT a.doc_id AS i, b.doc_id AS j,
      |   CAST(list_sum(list_transform(generate_series(1, len(a.v)),
      |     k -> bit_count(a.v[k] & b.v[k]))) AS DOUBLE) AS inter,
      |   a.n AS la, b.n AS lb
      |  FROM dense a JOIN dense b ON a.lang = b.lang AND a.doc_id < b.doc_id)
      |SELECT i, j, round(inter/(la+lb-inter),6) AS jaccard FROM p
      |WHERE round(inter/(la+lb-inter),6) >= 0.8 ORDER BY i, j""".stripMargin

  /** Unrolled 3-round merge-training oracle (mirrors
    * TextAnalysis.bpeTrainRounds round for round).
    */
  private val bpeTrainRoundsSql: String = {
    def pairCte(r: Int) =
      s"""p$r AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM (
         |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |    i -> {'w1': t[i], 'w2': t[i + 1]}), recursive := true)
         |  FROM d${r - 1}) x
         | WHERE w1 <> w2 GROUP BY 1, 2)""".stripMargin
    def topCte(r: Int) =
      s"""top$r AS (SELECT w1, w2, cnt FROM p$r
         | ORDER BY cnt DESC, w1, w2 LIMIT 1)""".stripMargin
    def mergeCte(r: Int) =
      s"""d$r AS (SELECT list_transform(
         |   list_filter(generate_series(1, len(t)), i ->
         |     NOT (i > 1 AND t[i - 1] = w1 AND t[i] = w2)),
         |   i -> CASE WHEN t[i] = w1 AND i < len(t) AND t[i + 1] = w2
         |        THEN w1 || '@@' || w2 ELSE t[i] END) AS t
         |  FROM d${r - 1} CROSS JOIN top$r)""".stripMargin
    def reportSel(r: Int) =
      s"""SELECT CAST($r AS BIGINT) AS round, w1 || ' ' || w2 AS merged_pair,
         | cnt AS pair_count,
         | (SELECT CAST(sum(len(t)) AS BIGINT) FROM d$r) AS corpus_symbols
         |FROM top$r""".stripMargin
    val ctes = (1 to 3).flatMap(r => Seq(pairCte(r), topCte(r), mergeCte(r)))
    s"""WITH d0 AS (SELECT string_split_regex(text, '\\s+') AS t FROM documents
       |  WHERE len(string_split_regex(text, '\\s+')) >= 2),
       |${ctes.mkString(",\n")}
       |${(1 to 3).map(reportSel).mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin
  }

  /** DuckDB-dialect oracle for each query (driver runs these on the
    * same parquet tables and hash-compares).
    *
    * knn_ivf_indexed probes a stored copy of the same index knn_ivf
    * computes inline, so one oracle covers both.
    */
  private val knnBruteSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM e),
        |q AS (SELECT v, norm FROM n WHERE vec_id = 0),
        |p AS (SELECT n.vec_id, round(list_sum(list_transform(
        |    generate_series(1, len(n.v)), i -> n.v[i]*q.v[i])) / (q.norm*n.norm), 6) AS cosine
        |  FROM n CROSS JOIN q WHERE n.vec_id <> 0)
        |SELECT vec_id, cosine, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS rank
        | FROM p) t
        |WHERE rank <= 10 ORDER BY rank""".stripMargin

  private val knnIvfPqSql: String =
    """WITH e AS (SELECT vec_id, label,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |   sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM e),
        |px AS (SELECT label, unnest(list_transform(generate_series(1, len(v)),
        |   i -> {'pos': i, 'x': v[i]}), recursive := true) FROM n),
        |cent AS (SELECT label, list(cx ORDER BY pos) AS cv FROM (
        |   SELECT label, pos, avg(x) AS cx FROM px GROUP BY label, pos) g
        | GROUP BY label),
        |q AS (SELECT v, norm FROM n WHERE vec_id = 0),
        |best AS (SELECT label AS target_label FROM (
        |   SELECT c.label, round(list_sum(list_transform(
        |       generate_series(1, len(c.cv)), i -> c.cv[i]*q.v[i]))
        |     / (sqrt(list_sum(list_transform(c.cv, x -> x*x))) * q.norm), 6) AS csim
        |   FROM cent c CROSS JOIN q) t
        | ORDER BY csim DESC, label LIMIT 2),
        |su AS (SELECT vec_id, m, list_slice(v, m*4 + 1, (m+1)*4) AS sv
        |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS m) ms),
        |s2 AS (SELECT vec_id, m, sv,
        |   list_sum(list_transform(sv, x -> x*x)) AS s2 FROM su),
        |c0 AS (SELECT m, CAST(vec_id AS INT) AS cid, sv AS c,
        |   list_sum(list_transform(sv, x -> x*x)) AS c2 FROM s2 WHERE vec_id < 64),
        |p1 AS (SELECT s.vec_id, s.m, c0.cid, round(s.s2
        |   - 2*list_sum(list_transform(generate_series(1, 4), i -> s.sv[i]*c0.c[i]))
        |   + c0.c2, 6) AS d2
        |  FROM s2 s JOIN c0 ON s.m = c0.m),
        |a1 AS (SELECT vec_id, m, cid AS code FROM (
        |   SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        |   FROM p1) t WHERE rn = 1),
        |mx AS (SELECT a1.m, a1.code AS cid, unnest(generate_series(1, 4)) AS dim,
        |   unnest(s.sv) AS x
        |  FROM a1 JOIN s2 s USING (vec_id, m)),
        |m1 AS (SELECT m, cid, dim, round(avg(x), 6) AS cx FROM mx GROUP BY 1, 2, 3),
        |c1 AS (SELECT m, cid, list(cx ORDER BY dim) AS c FROM m1 GROUP BY 1, 2),
        |c1b AS (SELECT m, cid, c, list_sum(list_transform(c, x -> x*x)) AS c2 FROM c1),
        |p2 AS (SELECT s.vec_id, s.m, c1b.cid, round(s.s2
        |   - 2*list_sum(list_transform(generate_series(1, 4), i -> s.sv[i]*c1b.c[i]))
        |   + c1b.c2, 6) AS d2
        |  FROM s2 s JOIN c1b ON s.m = c1b.m),
        |codes AS (SELECT vec_id, m, cid AS code FROM (
        |   SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        |   FROM p2) t WHERE rn = 1),
        |qs AS (SELECT m, sv AS qv, s2 AS q2 FROM s2 WHERE vec_id = 0),
        |lut AS (SELECT c1b.m, c1b.cid AS code, round(qs.q2
        |   - 2*list_sum(list_transform(generate_series(1, 4), i -> qs.qv[i]*c1b.c[i]))
        |   + c1b.c2, 6) AS qd2
        |  FROM c1b JOIN qs ON c1b.m = qs.m),
        |adc AS (SELECT s.vec_id, e2.label, round(sum(qd2), 6) AS adc_d2
        |  FROM codes s JOIN lut USING (m, code)
        |  JOIN e e2 ON s.vec_id = e2.vec_id
        |  JOIN best ON e2.label = best.target_label
        |  WHERE s.vec_id <> 0 GROUP BY 1, 2)
        |SELECT vec_id, label, adc_d2, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY adc_d2, vec_id) AS INT) AS rank
        | FROM adc) t
        |WHERE rank <= 5 ORDER BY rank""".stripMargin

  /** Shared seed→round-1-centroid→distance CTE chain (through p2 =
    * every (vec, centroid) rounded distance) — consumed by the
    * cluster_kmeans assignment and the margin diagnostic.
    */
  private val kmeansCtes: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c,
        |   list_sum(list_transform(v, x -> x*x)) AS c2 FROM e WHERE vec_id < 8),
        |p1 AS (SELECT vec_id, cid, round(n2
        |   - 2*list_sum(list_transform(generate_series(1, len(v)), i -> v[i]*c[i]))
        |   + c2, 6) AS d2
        |  FROM n CROSS JOIN c0),
        |a1 AS (SELECT vec_id, cid AS cluster FROM (
        |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |   FROM p1) t WHERE rn = 1),
        |mx AS (SELECT cluster, unnest(generate_series(1, len(v))) AS dim, unnest(v) AS x
        |  FROM a1 JOIN n USING (vec_id)),
        |m1 AS (SELECT cluster AS cid, dim, round(avg(x), 6) AS cx
        |  FROM mx GROUP BY 1, 2),
        |c1 AS (SELECT cid, list(cx ORDER BY dim) AS c FROM m1 GROUP BY 1),
        |c1b AS (SELECT cid, c, list_sum(list_transform(c, x -> x*x)) AS c2 FROM c1),
        |p2 AS (SELECT vec_id, cid, round(n2
        |   - 2*list_sum(list_transform(generate_series(1, len(v)), i -> v[i]*c[i]))
        |   + c2, 6) AS d2
        |  FROM n CROSS JOIN c1b)"""
    .stripMargin

  def oracleSql: Map[String, String] = oracleSqlAll

  // built once per JVM — the base map is thousands of lines of SQL
  // text; rebuilding it on every access (twice, for the indexed-probe
  // alias) is pure waste
  private lazy val oracleSqlAll: Map[String, String] =
    oracleSqlBase + ("knn_ivf_indexed" -> oracleSqlBase("knn_ivf")) +
      ("knn_ivfpq_indexed" -> oracleSqlBase("knn_ivfpq"))

  /** IVF-blocked top-5 kNN edge chain (e..edges) — the ONE graph both
    * knn_graph_mutual and embed_knn_classifier describe; shared so the
    * two oracles can never drift from each other (or from the
    * PlanCache-shared engine relation).
    */
  private val knnGraphCtes: String =
    """e AS (SELECT vec_id, label,
      |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, label, v,
      |   sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM e),
      |px AS (SELECT label, unnest(list_transform(generate_series(1, len(v)),
      |   i -> {'pos': i, 'x': v[i]}), recursive := true) FROM n),
      |cent AS (SELECT label, list(cx ORDER BY pos) AS cv FROM (
      |   SELECT label, pos, avg(x) AS cx FROM px GROUP BY label, pos) g
      | GROUP BY label),
      |cn AS (SELECT label, cv,
      |   sqrt(list_sum(list_transform(cv, x -> x*x))) AS cnorm FROM cent),
      |routes AS (SELECT s.vec_id AS src, s.v AS sv, s.norm AS sn, c.label,
      |   round(list_sum(list_transform(generate_series(1, len(c.cv)),
      |     i -> c.cv[i]*s.v[i])) / (c.cnorm * s.norm), 6) AS csim
      |  FROM n s CROSS JOIN cn c),
      |probes AS (SELECT src, sv, sn, label AS probe_label FROM (
      |   SELECT *, row_number() OVER (PARTITION BY src
      |     ORDER BY csim DESC, label) AS rk FROM routes) t WHERE rk <= 2),
      |scored AS (SELECT p.src, d.vec_id AS dst,
      |   round(list_sum(list_transform(generate_series(1, len(d.v)),
      |     i -> d.v[i]*p.sv[i])) / (p.sn * d.norm), 6) AS cosine
      |  FROM probes p JOIN n d ON d.label = p.probe_label
      |  WHERE p.src <> d.vec_id),
      |edges AS (SELECT src, dst, cosine FROM (
      |   SELECT *, row_number() OVER (PARTITION BY src
      |     ORDER BY cosine DESC, dst) AS rk FROM scored) t WHERE rk <= 5)""".stripMargin

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
        | round(avg(l_quantity),6) AS avg_qty,
        | round(avg(l_discount),6) AS avg_disc,
        | CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping" ->
      """SELECT l_orderkey,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        | JOIN customer ON o_custkey=c_custkey
        |WHERE c_mktsegment='BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        | JOIN customer ON o_custkey=c_custkey
        | JOIN supplier ON l_suppkey=s_suppkey AND s_nationkey=c_nationkey
        | JOIN nation ON c_nationkey=n_nationkey
        | JOIN region ON n_regionkey=r_regionkey
        |WHERE r_name='ASIA' GROUP BY n_name ORDER BY n_name""".stripMargin,

    "topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |       ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        | FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "rollup_agg" ->
      """SELECT coalesce(l_returnflag,'ALL') AS returnflag,
        | coalesce(l_linestatus,'ALL') AS linestatus,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "parts_never_ordered" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey""".stripMargin,

    "nation_coverage" ->
      """WITH c AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
        |s AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |SELECT nk, coverage FROM (
        | SELECT nk, 'both' AS coverage FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s) t1
        | UNION ALL
        | SELECT nk, 'customers_only' FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s) t2
        | UNION ALL
        | SELECT nk, 'suppliers_only' FROM (SELECT nk FROM s EXCEPT SELECT nk FROM c) t3) u
        |ORDER BY coverage, nk""".stripMargin,

    "events_asof_join" ->
      """WITH e AS (SELECT *, epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |w AS (SELECT *,
        |  last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |          ROWS UNBOUNDED PRECEDING) AS signup_event,
        |  last_value(CASE WHEN event_type = 'signup' THEN ts_s END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |          ROWS UNBOUNDED PRECEDING) AS signup_ts
        | FROM e)
        |SELECT event_id, user_id, signup_event, ts_s - signup_ts AS gap_s
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "events_forecast_baseline" ->
      """WITH e AS (SELECT event_type,
        |  (epoch_ns(ts)//1000000000)//3600 AS h FROM events),
        |hourly AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2),
        |mx AS (SELECT max(h) AS mh FROM hourly),
        |actual AS (SELECT event_type, h, c FROM hourly CROSS JOIN mx
        |  WHERE h > mh - 168),
        |pred AS (SELECT event_type, h + 168 AS h, c AS p FROM hourly)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        | round(avg(abs(c - coalesce(p, 0))), 6) AS mae,
        | round(CAST(sum(abs(c - coalesce(p, 0))) AS DOUBLE)
        |   / CAST(sum(c) AS DOUBLE), 6) AS wape
        |FROM actual LEFT JOIN pred USING (event_type, h)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_did" ->
      """WITH e AS (SELECT user_id, event_type, value,
        |  epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |mid AS (SELECT (min(ts_s) + max(ts_s)) / 2 AS mid_ts FROM e),
        |pu AS (SELECT user_id,
        |  coalesce(sum(CASE WHEN event_type = 'purchase' AND ts_s < mid_ts
        |    THEN value END), 0.0) AS x,
        |  coalesce(sum(CASE WHEN event_type = 'purchase' AND ts_s >= mid_ts
        |    THEN value END), 0.0) AS y
        | FROM e CROSS JOIN mid GROUP BY 1),
        |pv AS (SELECT x, y, y - x AS d,
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 < 0.5
        |  THEN 'A' ELSE 'B' END AS variant FROM pu),
        |s AS (SELECT
        |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  sum(CASE WHEN variant = 'A' THEN x END) AS sx_a,
        |  sum(CASE WHEN variant = 'B' THEN x END) AS sx_b,
        |  sum(CASE WHEN variant = 'A' THEN y END) AS sy_a,
        |  sum(CASE WHEN variant = 'B' THEN y END) AS sy_b,
        |  sum(CASE WHEN variant = 'A' THEN d END) AS sd_a,
        |  sum(CASE WHEN variant = 'B' THEN d END) AS sd_b,
        |  sum(CASE WHEN variant = 'A' THEN d*d END) AS sdd_a,
        |  sum(CASE WHEN variant = 'B' THEN d*d END) AS sdd_b
        | FROM pv),
        |t AS (SELECT *,
        |  sd_b / CAST(n_b AS DOUBLE) - sd_a / CAST(n_a AS DOUBLE) AS did,
        |  sdd_a / CAST(n_a AS DOUBLE)
        |    - (sd_a / CAST(n_a AS DOUBLE)) * (sd_a / CAST(n_a AS DOUBLE)) AS vd_a,
        |  sdd_b / CAST(n_b AS DOUBLE)
        |    - (sd_b / CAST(n_b AS DOUBLE)) * (sd_b / CAST(n_b AS DOUBLE)) AS vd_b
        | FROM s)
        |SELECT n_a, n_b,
        | round(sx_a / CAST(n_a AS DOUBLE), 6) AS pre_mean_a,
        | round(sx_b / CAST(n_b AS DOUBLE), 6) AS pre_mean_b,
        | round(sy_a / CAST(n_a AS DOUBLE), 6) AS post_mean_a,
        | round(sy_b / CAST(n_b AS DOUBLE), 6) AS post_mean_b,
        | round(did, 6) AS did,
        | round(did / sqrt(vd_a / n_a + vd_b / n_b), 6) AS z
        |FROM t""".stripMargin,

    "events_cuped" ->
      """WITH e AS (SELECT user_id, event_type, value,
        |  epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |mid AS (SELECT (min(ts_s) + max(ts_s)) / 2 AS mid_ts FROM e),
        |pu AS (SELECT user_id,
        |  coalesce(sum(CASE WHEN event_type = 'purchase' AND ts_s < mid_ts
        |    THEN value END), 0.0) AS x,
        |  coalesce(sum(CASE WHEN event_type = 'purchase' AND ts_s >= mid_ts
        |    THEN value END), 0.0) AS y
        | FROM e CROSS JOIN mid GROUP BY 1),
        |pv AS (SELECT x, y, CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 < 0.5
        |  THEN 'A' ELSE 'B' END AS variant FROM pu),
        |s AS (SELECT
        |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  sum(CASE WHEN variant = 'A' THEN x END) AS sx_a,
        |  sum(CASE WHEN variant = 'B' THEN x END) AS sx_b,
        |  sum(CASE WHEN variant = 'A' THEN y END) AS sy_a,
        |  sum(CASE WHEN variant = 'B' THEN y END) AS sy_b,
        |  sum(CASE WHEN variant = 'A' THEN x*x END) AS sxx_a,
        |  sum(CASE WHEN variant = 'B' THEN x*x END) AS sxx_b,
        |  sum(CASE WHEN variant = 'A' THEN y*y END) AS syy_a,
        |  sum(CASE WHEN variant = 'B' THEN y*y END) AS syy_b,
        |  sum(CASE WHEN variant = 'A' THEN x*y END) AS sxy_a,
        |  sum(CASE WHEN variant = 'B' THEN x*y END) AS sxy_b
        | FROM pv),
        |d AS (SELECT *,
        |  CAST(n_a + n_b AS DOUBLE) AS n,
        |  (sx_a + sx_b) / CAST(n_a + n_b AS DOUBLE) AS mx,
        |  (sy_a + sy_b) / CAST(n_a + n_b AS DOUBLE) AS my
        | FROM s),
        |t AS (SELECT *,
        |  ((sxy_a + sxy_b) / n - mx * my)
        |    / ((sxx_a + sxx_b) / n - mx * mx) AS theta,
        |  syy_a / CAST(n_a AS DOUBLE)
        |    - (sy_a / CAST(n_a AS DOUBLE)) * (sy_a / CAST(n_a AS DOUBLE)) AS vy_a,
        |  syy_b / CAST(n_b AS DOUBLE)
        |    - (sy_b / CAST(n_b AS DOUBLE)) * (sy_b / CAST(n_b AS DOUBLE)) AS vy_b
        | FROM d),
        |u AS (SELECT *,
        |  sy_a / CAST(n_a AS DOUBLE) - theta * (sx_a / CAST(n_a AS DOUBLE) - mx) AS adj_a,
        |  sy_b / CAST(n_b AS DOUBLE) - theta * (sx_b / CAST(n_b AS DOUBLE) - mx) AS adj_b,
        |  vy_a - 2.0 * theta * (sxy_a / CAST(n_a AS DOUBLE)
        |      - (sx_a / CAST(n_a AS DOUBLE)) * (sy_a / CAST(n_a AS DOUBLE)))
        |    + theta * theta * (sxx_a / CAST(n_a AS DOUBLE)
        |      - (sx_a / CAST(n_a AS DOUBLE)) * (sx_a / CAST(n_a AS DOUBLE))) AS va_adj,
        |  vy_b - 2.0 * theta * (sxy_b / CAST(n_b AS DOUBLE)
        |      - (sx_b / CAST(n_b AS DOUBLE)) * (sy_b / CAST(n_b AS DOUBLE)))
        |    + theta * theta * (sxx_b / CAST(n_b AS DOUBLE)
        |      - (sx_b / CAST(n_b AS DOUBLE)) * (sx_b / CAST(n_b AS DOUBLE))) AS vb_adj
        | FROM t)
        |SELECT n_a, n_b,
        | round(sy_a / CAST(n_a AS DOUBLE), 6) AS rev_mean_a,
        | round(sy_b / CAST(n_b AS DOUBLE), 6) AS rev_mean_b,
        | round(theta, 6) AS theta,
        | round(adj_a, 6) AS adj_mean_a,
        | round(adj_b, 6) AS adj_mean_b,
        | round(1.0 - (va_adj * n_a + vb_adj * n_b) / (vy_a * n_a + vy_b * n_b), 6)
        |   AS var_reduction,
        | round((sy_b / CAST(n_b AS DOUBLE) - sy_a / CAST(n_a AS DOUBLE))
        |   / sqrt(vy_a / n_a + vy_b / n_b), 6) AS z_raw,
        | round((adj_b - adj_a) / sqrt(va_adj / n_a + vb_adj / n_b), 6) AS z_adj
        |FROM u""".stripMargin,

    "events_survival" ->
      """WITH e AS (SELECT user_id, event_type,
        |  epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |mx AS (SELECT max(ts_s) AS max_ts FROM e),
        |su AS (SELECT user_id, min(ts_s) AS t0 FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT e.user_id, min(ts_s) AS tp
        |  FROM e JOIN su ON e.user_id = su.user_id
        |  WHERE event_type = 'purchase' AND ts_s >= t0 GROUP BY 1),
        |durs AS (SELECT
        |  CASE WHEN tp IS NOT NULL THEN (tp - t0)//86400
        |       ELSE (max_ts - t0)//86400 END AS dur,
        |  CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        | FROM su LEFT JOIN pu ON su.user_id = pu.user_id CROSS JOIN mx),
        |dc AS (SELECT dur, CAST(sum(ev) AS BIGINT) AS d,
        |  CAST(count(*) AS BIGINT) AS c FROM durs GROUP BY 1),
        |grid AS (SELECT unnest(generate_series(0, 30)) AS t),
        |byt AS (SELECT t,
        |  CAST(coalesce(sum(CASE WHEN dur = t THEN d END), 0) AS BIGINT) AS n_events,
        |  CAST(coalesce(sum(c), 0) AS BIGINT) AS n_risk
        | FROM grid LEFT JOIN dc ON dur >= t GROUP BY t),
        |wh AS (SELECT t, n_risk, n_events,
        |  CASE WHEN n_risk > 0
        |    THEN CAST(n_events AS DOUBLE)/CAST(n_risk AS DOUBLE) END AS h
        | FROM byt),
        |acc AS (SELECT a.t, a.n_risk, a.n_events, a.h,
        |  sum(CASE WHEN b.h < 1.0 THEN ln(1.0 - b.h) END) AS lnS,
        |  max(CASE WHEN b.h = 1.0 THEN 1 ELSE 0 END) AS dead
        | FROM wh a JOIN wh b ON b.t <= a.t
        | GROUP BY a.t, a.n_risk, a.n_events, a.h)
        |SELECT CAST(t AS BIGINT) AS t, n_risk, n_events,
        | round(h, 6) AS hazard,
        | round(CASE WHEN dead = 1 THEN 0.0
        |   ELSE exp(coalesce(lnS, 0.0)) END, 6) AS survival
        |FROM acc ORDER BY t""".stripMargin,

    "events_funnel_windowed" ->
      """WITH e AS (SELECT user_id, event_type,
        |  epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |su AS (SELECT user_id, min(ts_s) AS t_signup FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |vw AS (SELECT e.user_id, min(ts_s) AS t_view
        |  FROM e JOIN su ON e.user_id = su.user_id
        |  WHERE event_type = 'view' AND ts_s >= t_signup
        |    AND ts_s <= t_signup + 604800 GROUP BY 1),
        |pu AS (SELECT e.user_id, min(ts_s) AS t_purchase
        |  FROM e JOIN vw ON e.user_id = vw.user_id
        |  WHERE event_type = 'purchase' AND ts_s >= t_view
        |    AND ts_s <= t_view + 604800 GROUP BY 1)
        |SELECT su.user_id, t_signup, t_view, t_purchase,
        | t_view IS NOT NULL AS reached_view,
        | t_purchase IS NOT NULL AS reached_purchase
        |FROM su LEFT JOIN vw ON su.user_id = vw.user_id
        | LEFT JOIN pu ON su.user_id = pu.user_id
        |ORDER BY su.user_id""".stripMargin,

    "events_asof_forward" ->
      """WITH e AS (SELECT *, epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |w AS (SELECT *,
        |  first_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_view_event,
        |  first_value(CASE WHEN event_type = 'view' THEN ts_s END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_view_ts
        | FROM e)
        |SELECT event_id, user_id,
        | CASE WHEN next_view_ts - ts_s <= 3600 THEN next_view_event END AS view_event,
        | CASE WHEN next_view_ts - ts_s <= 3600 THEN next_view_ts - ts_s END AS lead_s
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "events_lag_delta" ->
      """WITH e AS (SELECT *, epoch_ns(ts)//1000000000 AS ts_s FROM events)
        |SELECT event_id, user_id,
        | ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS gap_s,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |   ROWS UNBOUNDED PRECEDING), 2) AS running_value
        |FROM e ORDER BY event_id""".stripMargin,

    "events_percentiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.9), 6) AS p90,
        | round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "cube_agg" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
        | coalesce(o_orderpriority, 'ALL') AS orderpriority,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY orderstatus, orderpriority""".stripMargin,

    "market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        | round(sum(CASE WHEN c_mktsegment = 'BUILDING'
        |     THEN l_extendedprice*(1.0-l_discount) ELSE 0.0 END)
        |   / sum(l_extendedprice*(1.0-l_discount)), 6) AS building_share
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY o_year""".stripMargin,

    "events_funnel" ->
      """WITH e AS (SELECT *, epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |st AS (SELECT user_id,
        |  min(CASE WHEN event_type='signup' THEN ts_s END) AS t_signup,
        |  min(CASE WHEN event_type='view' THEN ts_s END) AS t_view,
        |  min(CASE WHEN event_type='purchase' THEN ts_s END) AS t_purchase
        | FROM e GROUP BY user_id)
        |SELECT user_id,
        | t_signup IS NOT NULL AS reached_signup,
        | (t_signup IS NOT NULL AND t_view IS NOT NULL
        |   AND t_view >= t_signup) AS reached_view,
        | (t_signup IS NOT NULL AND t_view IS NOT NULL AND t_purchase IS NOT NULL
        |   AND t_view >= t_signup AND t_purchase >= t_view) AS reached_purchase
        |FROM st ORDER BY user_id""".stripMargin,

    "events_retention" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000000000//86400 AS day FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        | CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN cohort ON e.user_id = cohort.user_id
        |WHERE day - cohort_day <= 7
        |GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset""".stripMargin,

    "events_moving_avg" ->
      """WITH e AS (SELECT *, epoch_ns(ts)//1000000000 AS ts_s FROM events)
        |SELECT event_id, user_id,
        | round(avg(value) OVER (PARTITION BY user_id ORDER BY ts_s
        |   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 6) AS avg_1h
        |FROM e ORDER BY event_id""".stripMargin,

    "dedup_keep_best" ->
      """WITH fp AS (SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(
        |    string_split_regex(text,'\s+'))), ' ')) AS fp,
        |  CAST(len(string_split_regex(text,'\s+')) AS BIGINT) AS n_tokens
        | FROM documents),
        |fam AS (SELECT *, count(*) OVER (PARTITION BY fp) AS n,
        |  min(doc_id) OVER (PARTITION BY fp) AS component,
        |  row_number() OVER (PARTITION BY fp
        |    ORDER BY n_tokens DESC, doc_id) AS rn FROM fp)
        |SELECT doc_id, component, CAST(n AS BIGINT) AS n_members, n_tokens,
        |  CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_keeper
        |FROM fam WHERE n > 1 ORDER BY doc_id""".stripMargin,

    "text_dsir" ->
      """WITH tok AS (SELECT doc_id,
        |   unnest(string_split_regex(text,'\s+')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tok GROUP BY 1, 2),
        |src AS (SELECT w, sum(cnt) AS sw FROM tf GROUP BY w),
        |tgt AS (SELECT w, sum(cnt) AS tw FROM tf
        |  WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
        |  GROUP BY w),
        |tots AS (SELECT (SELECT sum(sw) FROM src) AS s_total,
        |  (SELECT count(*) FROM src) AS vocab,
        |  (SELECT coalesce(sum(tw), 0) FROM tgt) AS t_total)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  round(sum(cnt * (ln((coalesce(tw, 0) + 1.0) / (t_total + vocab))
        |    - ln((sw + 1.0) / (s_total + vocab)))) / sum(cnt), 6) + 0.0
        |    AS avg_log_ratio
        |FROM tf JOIN src USING(w) LEFT JOIN tgt USING(w) CROSS JOIN tots
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "sample_priority" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |  list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1) * pow(16, 8-i)))
        |  / 4294967296.0 AS u
        | FROM documents),
        |p AS (SELECT doc_id, n_chars,
        |  round(ln(u) / n_chars, 12) AS key,
        |  round(pow(u, 1.0 / n_chars), 6) AS priority FROM d)
        |SELECT doc_id, n_chars, priority,
        | CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT) AS rank
        |FROM p ORDER BY rank LIMIT 100""".stripMargin,

    "table_diff" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
        |n AS (SELECT o_orderkey,
        |   CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1.0
        |        ELSE o_totalprice END AS o_totalprice
        |  FROM o WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice
        |  FROM o WHERE o_orderkey % 101 = 0),
        |d AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |   o.o_totalprice AS old_val, n.o_totalprice AS new_val
        |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey,
        | CASE WHEN new_val IS NULL THEN 'delete'
        |      WHEN old_val IS NULL THEN 'insert'
        |      ELSE 'update' END AS change_type,
        | old_val, new_val
        |FROM d
        |WHERE new_val IS NULL OR old_val IS NULL OR old_val <> new_val
        |ORDER BY o_orderkey""".stripMargin,

    "table_profile" ->
      (Seq(
        ("o_orderkey", Some("CAST(o_orderkey AS DOUBLE)")),
        ("o_custkey", Some("CAST(o_custkey AS DOUBLE)")),
        ("o_totalprice", Some("o_totalprice")),
        ("o_orderdate", Some("CAST(epoch_ns(o_orderdate)//1000000000 AS DOUBLE)")),
        ("o_orderstatus", None),
        ("o_orderpriority", None)).map { case (name, num) =>
        val mn = num.map(n => s"round(min($n), 6)").getOrElse("CAST(NULL AS DOUBLE)")
        val mx = num.map(n => s"round(max($n), 6)").getOrElse("CAST(NULL AS DOUBLE)")
        s"""SELECT '$name' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
           | CAST(sum(CASE WHEN $name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           | CAST(count(DISTINCT $name) AS BIGINT) AS n_distinct,
           | $mn AS min_val, $mx AS max_val FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")),

    "sample_token_budget" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(len(string_split_regex(text,'\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split_regex(text,'\s+'),
        |    x -> x IN ('the','a','or','and'))) AS BIGINT) AS n_stop
        | FROM documents),
        |s AS (SELECT doc_id, n_tokens,
        |  1.0 - CAST(n_stop AS DOUBLE) / n_tokens AS score FROM m),
        |tot AS (SELECT 0.25 * sum(n_tokens) AS budget FROM s),
        |r AS (SELECT doc_id, n_tokens, score,
        |  coalesce(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        | FROM s)
        |SELECT doc_id, n_tokens, round(score, 6) AS score
        |FROM r CROSS JOIN tot WHERE pre < budget ORDER BY doc_id""".stripMargin,

    "dedup_components" ->
      """WITH fp AS (SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(
        |    string_split_regex(text,'\s+'))), ' ')) AS fp FROM documents),
        |fam AS (SELECT doc_id, count(*) OVER (PARTITION BY fp) AS n,
        |  min(doc_id) OVER (PARTITION BY fp) AS component FROM fp)
        |SELECT doc_id AS id, component FROM fam WHERE n > 1 ORDER BY id""".stripMargin,

    "events_json" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(k) AS BIGINT) AS sum_k,
        | round(avg(k),6) AS avg_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(nullif(regexp_extract(props, '"k":\s*(\d+)', 1),'') AS INT) AS k
        |      FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_hourly" ->
      """SELECT (epoch_ns(ts)//1000000000//3600)*3600 AS hour_ts, event_type,
        | CAST(count(*) AS BIGINT) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin,

    "events_sessionize" ->
      """WITH e AS (SELECT *, epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |f AS (SELECT *, CASE WHEN ts_s - lag(ts_s) OVER
        |        (PARTITION BY user_id ORDER BY ts_s, event_id) > 1800
        |      THEN 1 ELSE 0 END AS new_session FROM e),
        |g AS (SELECT *, CAST(sum(new_session) OVER
        |        (PARTITION BY user_id ORDER BY ts_s, event_id
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM f)
        |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
        | min(ts_s) AS session_start, round(sum(value),2) AS sum_value
        |FROM g GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    "events_topusers" ->
      """WITH agg AS (SELECT user_id, round(sum(value),2) AS purchase_total,
        |  CAST(count(*) AS BIGINT) AS n_purchases
        |  FROM events WHERE event_type='purchase' GROUP BY user_id)
        |SELECT user_id, purchase_total, n_purchases, rank FROM (
        |  SELECT *, CAST(row_number() OVER
        |    (ORDER BY purchase_total DESC, user_id) AS INT) AS rank
        |  FROM agg) t
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "clean_abr" ->
      """WITH shaped AS (
        | SELECT CASE WHEN c_custkey % 7 = 0 THEN printf('%010d', c_custkey)
        |             ELSE printf('%011d', c_custkey) END AS abn,
        |   trim('  ' || c_name || '  ') AS entity_name,
        |   c_mktsegment AS entity_type,
        |   CASE WHEN c_custkey % 3 = 0 THEN 'active' ELSE 'cancelled' END AS entity_status,
        |   CASE WHEN c_custkey % 5 = 0 THEN '99'
        |        ELSE printf('%04d', c_nationkey * 100 + c_custkey % 100) END AS postcode,
        |   c_acctbal
        | FROM customer)
        |SELECT abn, entity_name, entity_type, entity_status, postcode FROM (
        | SELECT *, row_number() OVER (PARTITION BY abn ORDER BY entity_name) AS rn
        | FROM (SELECT DISTINCT * FROM shaped
        |       WHERE regexp_matches(abn, '^\d{11}$')
        |         AND regexp_matches(postcode, '^\d{4}$')
        |         AND lower(entity_status) = 'active') d) w
        |WHERE rn = 1 ORDER BY abn""".stripMargin,

    "clean_cc" ->
      """WITH shaped AS (
        | SELECT '  HTTPS://www.' || replace(p_name,' ','-') || '.example.com/'
        |          || p_brand || '  ' AS raw_url,
        |   ' ' || p_name || '   ' || p_type || ' ' AS raw_name
        | FROM part),
        |cleaned AS (
        | SELECT lower(substr(trim(raw_url),1,500)) AS website_url,
        |   array_to_string(list_transform(
        |     string_split(trim(regexp_replace(raw_name,' +',' ','g')),' '),
        |     w -> upper(substr(w,1,1)) || lower(substr(w,2))), ' ') AS company_name
        | FROM shaped)
        |SELECT DISTINCT website_url, company_name FROM cleaned
        |WHERE website_url IS NOT NULL AND company_name IS NOT NULL
        |ORDER BY website_url, company_name""".stripMargin,

    "cc_domains" ->
      """WITH shaped AS (
        | SELECT '  HTTPS://www.' || replace(p_name,' ','-') || '.example.com/'
        |          || p_brand || '  ' AS raw_url,
        |   ' ' || p_name || '   ' || p_type || ' ' AS raw_name
        | FROM part),
        |cleaned AS (
        | SELECT lower(substr(trim(raw_url),1,500)) AS website_url,
        |   array_to_string(list_transform(
        |     string_split(trim(regexp_replace(raw_name,' +',' ','g')),' '),
        |     w -> upper(substr(w,1,1)) || lower(substr(w,2))), ' ') AS company_name
        | FROM shaped),
        |cc AS (SELECT DISTINCT website_url, company_name FROM cleaned
        | WHERE website_url IS NOT NULL AND company_name IS NOT NULL),
        |agg AS (SELECT regexp_extract(website_url, '^https?://([^/]+)/', 1) AS domain,
        |   CAST(count(*) AS BIGINT) AS n_entities,
        |   CAST(count(DISTINCT company_name) AS BIGINT) AS n_names
        | FROM cc GROUP BY 1)
        |SELECT domain, n_entities, n_names, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY n_entities DESC, domain) AS INT) AS rank
        | FROM agg) t
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "events_dau_wau" ->
      """WITH d AS (SELECT (epoch_ns(ts)//1000000000)//86400 AS day, user_id
        |  FROM events),
        |dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM d GROUP BY 1),
        |wau AS (SELECT day//7 AS week, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM d GROUP BY 1)
        |SELECT day, dau, wau, round(CAST(dau AS DOUBLE)/wau, 6) AS stickiness
        |FROM dau JOIN wau ON dau.day//7 = wau.week
        |ORDER BY day""".stripMargin,

    "events_funnel_time" ->
      """WITH e AS (SELECT epoch_ns(ts)//1000000000 AS ts_s, user_id, event_type
        |  FROM events),
        |su AS (SELECT user_id, min(ts_s) AS t0 FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |d AS (SELECT su.user_id, min(ts_s - t0) AS delta_s
        |  FROM su JOIN e ON su.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_s >= su.t0 GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_converters,
        | round(quantile_cont(delta_s, 0.5), 6) AS p50_s,
        | round(quantile_cont(delta_s, 0.9), 6) AS p90_s,
        | CAST(max(delta_s) AS BIGINT) AS max_s
        |FROM d""".stripMargin,

    "events_anomaly_mad" ->
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM e GROUP BY 1),
        |mad AS (SELECT e.event_type,
        |   round(quantile_cont(abs(value - med), 0.5), 6) AS mad,
        |   round(any_value(med), 6) AS med
        |  FROM e JOIN med USING (event_type) GROUP BY 1)
        |SELECT event_id, e.event_type, round(value, 6) AS value,
        | mad.med, mad.mad, round(abs(value - mad.med), 6) AS dev
        |FROM e JOIN mad USING (event_type)
        |WHERE round(abs(value - mad.med), 6) > 8.0 * mad.mad
        |ORDER BY event_id""".stripMargin,

    "clean_dedup_exact" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM (
        | SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |   ORDER BY l_linenumber, l_returnflag, l_quantity) AS rn
        | FROM (SELECT DISTINCT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |       FROM lineitem) d) w
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,

    "quality_metrics" ->
      """WITH om AS (SELECT CAST(count(*) AS BIGINT) n_rows,
        |  CAST(count(o_orderkey) AS BIGINT) key_nonnull,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) key_distinct,
        |  CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS BIGINT) price_positive,
        |  CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) prio_valid
        | FROM orders),
        |cm AS (SELECT CAST(count(*) AS BIGINT) n_rows,
        |  CAST(count(c_name) AS BIGINT) name_nonnull,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) key_distinct,
        |  CAST(sum(CASE WHEN c_acctbal >= -1000 THEN 1 ELSE 0 END) AS BIGINT) bal_in_range
        | FROM customer),
        |ccsrc AS (SELECT DISTINCT website_url, company_name FROM (
        |  SELECT lower(substr(trim(raw_url),1,500)) AS website_url,
        |    array_to_string(list_transform(
        |      string_split(trim(regexp_replace(raw_name,' +',' ','g')),' '),
        |      w -> upper(substr(w,1,1)) || lower(substr(w,2))), ' ') AS company_name
        |  FROM (SELECT '  HTTPS://www.' || replace(p_name,' ','-') || '.example.com/'
        |          || p_brand || '  ' AS raw_url,
        |     ' ' || p_name || '   ' || p_type || ' ' AS raw_name FROM part) s) c
        | WHERE website_url IS NOT NULL AND company_name IS NOT NULL),
        |ccm AS (SELECT CAST(count(*) AS BIGINT) n_rows,
        |  CAST(count(website_url) AS BIGINT) url_nonnull,
        |  CAST(count(company_name) AS BIGINT) name_nonnull,
        |  CAST(count(DISTINCT (website_url, company_name)) AS BIGINT) pair_distinct
        | FROM ccsrc)
        |SELECT * FROM (
        | SELECT 'orders' AS table_name, 'not_null_rate_o_orderkey' AS metric_name,
        |  round(CAST(key_nonnull AS DOUBLE)/n_rows, 6) AS metric_value,
        |  CAST(1.0 AS DOUBLE) AS threshold_value,
        |  CASE WHEN round(CAST(key_nonnull AS DOUBLE)/n_rows,6) >= 1.0 THEN 'pass' ELSE 'fail' END AS status FROM om
        | UNION ALL SELECT 'orders', 'unique_rate_o_orderkey',
        |  round(CAST(key_distinct AS DOUBLE)/n_rows,6), CAST(1.0 AS DOUBLE),
        |  CASE WHEN round(CAST(key_distinct AS DOUBLE)/n_rows,6) >= 1.0 THEN 'pass' ELSE 'fail' END FROM om
        | UNION ALL SELECT 'orders', 'positive_rate_o_totalprice',
        |  round(CAST(price_positive AS DOUBLE)/n_rows,6), CAST(0.99 AS DOUBLE),
        |  CASE WHEN round(CAST(price_positive AS DOUBLE)/n_rows,6) >= 0.99 THEN 'pass' ELSE 'fail' END FROM om
        | UNION ALL SELECT 'orders', 'valid_rate_o_orderpriority',
        |  round(CAST(prio_valid AS DOUBLE)/n_rows,6), CAST(0.99 AS DOUBLE),
        |  CASE WHEN round(CAST(prio_valid AS DOUBLE)/n_rows,6) >= 0.99 THEN 'pass' ELSE 'fail' END FROM om
        | UNION ALL SELECT 'customer', 'not_null_rate_c_name',
        |  round(CAST(name_nonnull AS DOUBLE)/n_rows,6), CAST(1.0 AS DOUBLE),
        |  CASE WHEN round(CAST(name_nonnull AS DOUBLE)/n_rows,6) >= 1.0 THEN 'pass' ELSE 'fail' END FROM cm
        | UNION ALL SELECT 'customer', 'unique_rate_c_custkey',
        |  round(CAST(key_distinct AS DOUBLE)/n_rows,6), CAST(1.0 AS DOUBLE),
        |  CASE WHEN round(CAST(key_distinct AS DOUBLE)/n_rows,6) >= 1.0 THEN 'pass' ELSE 'fail' END FROM cm
        | UNION ALL SELECT 'customer', 'in_range_rate_c_acctbal',
        |  round(CAST(bal_in_range AS DOUBLE)/n_rows,6), CAST(0.95 AS DOUBLE),
        |  CASE WHEN round(CAST(bal_in_range AS DOUBLE)/n_rows,6) >= 0.95 THEN 'pass' ELSE 'fail' END FROM cm
        | UNION ALL SELECT 'cc_cleaned', 'not_null_rate_website_url',
        |  round(CAST(url_nonnull AS DOUBLE)/n_rows,6), CAST(1.0 AS DOUBLE),
        |  CASE WHEN round(CAST(url_nonnull AS DOUBLE)/n_rows,6) >= 1.0 THEN 'pass' ELSE 'fail' END FROM ccm
        | UNION ALL SELECT 'cc_cleaned', 'not_null_rate_company_name',
        |  round(CAST(name_nonnull AS DOUBLE)/n_rows,6), CAST(1.0 AS DOUBLE),
        |  CASE WHEN round(CAST(name_nonnull AS DOUBLE)/n_rows,6) >= 1.0 THEN 'pass' ELSE 'fail' END FROM ccm
        | UNION ALL SELECT 'cc_cleaned', 'unique_rate_url_name',
        |  round(CAST(pair_distinct AS DOUBLE)/n_rows,6), CAST(1.0 AS DOUBLE),
        |  CASE WHEN round(CAST(pair_distinct AS DOUBLE)/n_rows,6) >= 1.0 THEN 'pass' ELSE 'fail' END FROM ccm
        |) u ORDER BY table_name, metric_name""".stripMargin,

    "match_exact" ->
      s"""WITH $abrCleanedCte,
         |cc AS (SELECT printf('%011d', s_suppkey) AS abn, s_name FROM supplier)
         |SELECT abr.abn, entity_name, s_name AS matched_name,
         | 'exact' AS method, CAST(1.0 AS DOUBLE) AS score
         |FROM abr JOIN cc USING (abn) ORDER BY abn""".stripMargin,

    "match_blocking_eval" ->
      """WITH cn AS (SELECT c_custkey,
        |  array_to_string(list_sort(string_split_regex(lower(trim(c_name)),'\s+')),' ') AS c_norm
        | FROM customer),
        |sn AS (SELECT s_suppkey,
        |  array_to_string(list_sort(string_split_regex(lower(trim(s_name)),'\s+')),' ') AS s_norm
        | FROM supplier),
        |par AS (SELECT
        |  round(CAST(0.2 AS DOUBLE) * sh, 4) AS thc,
        |  round(CAST(0.5 AS DOUBLE) * sh, 4) AS ths
        | FROM (SELECT CASE WHEN p > 8000000.0 THEN sqrt(8000000.0 / p)
        |              ELSE CAST(1.0 AS DOUBLE) END AS sh
        |   FROM (SELECT ((CAST(0.2 AS DOUBLE) * (SELECT count(*) FROM customer))
        |                 * CAST(0.5 AS DOUBLE)) * (SELECT count(*) FROM supplier) AS p))),
        |cs AS (SELECT * FROM cn
        | WHERE list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef', substr(md5(c_norm), i, 1)) - 1) * pow(16, 8-i)))
        |   / 4294967296.0 < (SELECT thc FROM par)),
        |ss AS (SELECT * FROM sn
        | WHERE list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef', substr(md5(s_norm), i, 1)) - 1) * pow(16, 8-i)))
        |   / 4294967296.0 < (SELECT ths FROM par)),
        |truth AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n_true_pairs,
        |  CAST(sum(CASE WHEN substr(c_norm, 1, 2) = substr(s_norm, 1, 2)
        |             OR right(c_norm, 4) = right(s_norm, 4)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_true_in_block
        | FROM cs CROSS JOIN ss
        | WHERE round(CAST(1.0 AS DOUBLE) - CAST(levenshtein(c_norm, s_norm) AS DOUBLE)
        |   / CAST(greatest(length(c_norm), length(s_norm)) AS DOUBLE), 6) >= 0.7),
        |ckeys AS (SELECT 'p:' || substr(c_norm, 1, 2) AS k FROM cn
        | UNION ALL SELECT 's:' || right(c_norm, 4) FROM cn),
        |skeys AS (SELECT 'p:' || substr(s_norm, 1, 2) AS k FROM sn
        | UNION ALL SELECT 's:' || right(s_norm, 4) FROM sn),
        |vol AS (SELECT CAST(coalesce(sum(nc * ns), 0) AS BIGINT) AS n_blocked_candidates
        | FROM (SELECT k, count(*) AS nc FROM ckeys GROUP BY 1) a
        | JOIN (SELECT k, count(*) AS ns FROM skeys GROUP BY 1) b USING (k)),
        |ovl AS (SELECT CAST(coalesce(sum(nc * ns), 0) AS BIGINT) AS n_both
        | FROM (SELECT substr(c_norm, 1, 2) AS p2, right(c_norm, 4) AS s4,
        |        count(*) AS nc FROM cn GROUP BY 1, 2) a
        | JOIN (SELECT substr(s_norm, 1, 2) AS p2, right(s_norm, 4) AS s4,
        |        count(*) AS ns FROM sn GROUP BY 1, 2) b USING (p2, s4))
        |SELECT n_true_pairs, n_blocked_candidates,
        | n_blocked_candidates - n_both AS n_blocked_pairs_distinct,
        | n_true_in_block,
        | round(CAST(n_true_in_block AS DOUBLE) / n_true_pairs, 6) AS recall
        |FROM truth CROSS JOIN vol CROSS JOIN ovl""".stripMargin,

    "match_fuzzy_blocked" ->
      s"""WITH $fuzzyBestCte
         |SELECT * FROM fuzzy_best ORDER BY c_custkey""".stripMargin,

    // the heuristic pair classifier is deterministic, so the LLM
    // CONTRACT query is fully oracle-expressible
    "match_llm_stub" ->
      s"""WITH $fuzzyBestCte
         |SELECT c_custkey, s_suppkey,
         |  score >= 0.8 AS "match",
         |  round(least(CAST(1.0 AS DOUBLE), score * 1.1), 6) AS confidence,
         |  concat('token-sort similarity ', CAST(score AS VARCHAR),
         |    CASE WHEN score >= 0.8 THEN ' >= 0.8: same entity'
         |         ELSE ' < 0.8: different entity' END) AS reason
         |FROM fuzzy_best ORDER BY c_custkey""".stripMargin,

    "match_tfidf_topk" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS token
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS token FROM (
        |    SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        |    FROM (SELECT doc_id, string_split_regex(text,'\s+') AS t FROM documents) d
        |    WHERE len(t) >= 2) b),
        |doclen AS (SELECT doc_id, count(*) AS len FROM tokens GROUP BY doc_id),
        |tf AS (SELECT doc_id, token, count(*) AS cnt FROM tokens GROUP BY doc_id, token),
        |tfn AS (SELECT t.doc_id, token, CAST(cnt AS DOUBLE)/CAST(len AS DOUBLE) AS tf
        |  FROM tf t JOIN doclen d ON t.doc_id = d.doc_id),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |idfall AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        |  FROM tfn GROUP BY token),
        |idf AS (SELECT token, df FROM (
        |  SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS vr
        |  FROM idfall WHERE df < 0.95 * (SELECT n FROM nd)) t
        | WHERE vr <= 10000),
        |w AS (SELECT doc_id, t.token, tf * ln((SELECT n FROM nd)/df) AS w
        |  FROM tfn t JOIN idf USING (token)),
        |norms AS (SELECT doc_id, sqrt(sum(w*w)) AS norm FROM w GROUP BY doc_id),
        |-- UNFILTERED exact pairwise cosine: the Spark side's prefix
        |-- filter is a lossless threshold bound, so it must reproduce
        |-- this exact formulation bit-for-bit — the gate now detects
        |-- any recall loss in the candidate generation.
        |dots AS (SELECT lw.doc_id AS i, rw.doc_id AS j, sum(lw.w * rw.w) AS dot
        |  FROM w lw JOIN w rw ON rw.token = lw.token
        |  WHERE lw.doc_id % 2 = 0 AND rw.doc_id % 2 = 1
        |  GROUP BY 1, 2),
        |cos AS (SELECT i, j, round(dot/(ni.norm*nj.norm), 6) AS cosine
        |  FROM dots JOIN norms ni ON dots.i = ni.doc_id
        |            JOIN norms nj ON dots.j = nj.doc_id)
        |SELECT i, j, cosine FROM (
        | SELECT *, row_number() OVER (PARTITION BY i ORDER BY cosine DESC, j) AS rn
        | FROM cos) t
        |WHERE rn = 1 AND cosine >= 0.5 ORDER BY i""".stripMargin,

    "entity_enriched" ->
      s"""WITH $abrCleanedCte,
         |cc AS (SELECT printf('%011d', s_suppkey) AS abn, s_name FROM supplier),
         |$fuzzyBestCte,
         |ex AS (SELECT abr.abn AS left_key, s_name AS right_name,
         |   'exact' AS method, CAST(1.0 AS DOUBLE) AS score
         |  FROM abr JOIN cc USING (abn)),
         |fz AS (SELECT printf('%011d', c_custkey) AS left_key, s_name AS right_name,
         |   'fuzzy' AS method, score FROM fuzzy_best),
         |comb AS (SELECT left_key, right_name, method, score FROM (
         | SELECT *, row_number() OVER (PARTITION BY left_key, right_name
         |   ORDER BY method) AS rn
         | FROM (SELECT * FROM ex UNION ALL SELECT * FROM fz) u) t
         | WHERE rn = 1)
         |SELECT abr.abn AS abn, entity_name, entity_type, postcode,
         | right_name AS matched_name, method, score
         |FROM abr LEFT JOIN comb ON abr.abn = comb.left_key
         |ORDER BY abn, matched_name""".stripMargin,

    "match_combined" ->
      s"""WITH $abrCleanedCte,
         |cc AS (SELECT printf('%011d', s_suppkey) AS abn, s_name FROM supplier),
         |$fuzzyBestCte,
         |ex AS (SELECT abr.abn AS left_key, s_name AS right_name,
         |   'exact' AS method, CAST(1.0 AS DOUBLE) AS score
         |  FROM abr JOIN cc USING (abn)),
         |fz AS (SELECT printf('%011d', c_custkey) AS left_key, s_name AS right_name,
         |   'fuzzy' AS method, score FROM fuzzy_best)
         |SELECT left_key, right_name, method, score FROM (
         | SELECT *, row_number() OVER (PARTITION BY left_key, right_name
         |   ORDER BY method) AS rn
         | FROM (SELECT * FROM ex UNION ALL SELECT * FROM fz) u) t
         |WHERE rn = 1 ORDER BY left_key, right_name""".stripMargin,

    "dedup_exact_text" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper,
        | CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin,

    "dedup_paragraphs" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |segs AS (SELECT doc_id,
        |   unnest(list_transform(generate_series(1, len(toks) // 10),
        |     i -> array_to_string(list_slice(toks, (i-1)*10+1, (i-1)*10+10), ' ')))
        |   AS segment
        |  FROM t WHERE len(toks) >= 10),
        |per_doc AS (SELECT segment, doc_id, CAST(count(*) AS BIGINT) AS occ
        |  FROM segs GROUP BY 1, 2)
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(occ) AS BIGINT) AS n_occ
        |FROM per_doc GROUP BY 1 HAVING count(*) >= 3
        |ORDER BY n_docs DESC, segment""".stripMargin,

    "dedup_index_probe" ->
      s"""${minhashCtes("a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0")}
         |SELECT i, j, round(inter/(la+lb-inter),6) AS jaccard FROM v
         |WHERE round(inter/(la+lb-inter),6) >= 0.8 ORDER BY i, j""".stripMargin,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,

    "dedup_minhash_est_eval" -> dedupMinhashEstEvalSql,

    "contamination_minhash" -> {
      val hs = (1 to 8).map { j =>
        val src = if (j <= 4) 1 else 2
        val off = ((j - 1) % 4) * 8 + 1
        s"list_min(list_transform(s, x -> substr(md5('$src'||'|'||x),$off,8))) AS h$j"
      }.mkString(",\n  ")
      s"""WITH toks AS (SELECT doc_id, string_split_regex(text,'\\s+') AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |   generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' '))) AS s
         |  FROM toks WHERE len(t) >= 3),
         |mh AS (SELECT doc_id, s,
         |  $hs
         | FROM sh),
         |bands AS (
         |  SELECT doc_id, 1 AS band_idx, h1||h2 AS band_val FROM mh
         |  UNION ALL SELECT doc_id, 2, h3||h4 FROM mh
         |  UNION ALL SELECT doc_id, 3, h5||h6 FROM mh
         |  UNION ALL SELECT doc_id, 4, h7||h8 FROM mh),
         |u AS (SELECT doc_id,
         |  list_sum(list_transform(generate_series(1, 8),
         |    i -> (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1) * pow(16, 8-i)))
         |  / 4294967296.0 AS u
         | FROM documents),
         |sp AS (SELECT doc_id,
         |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
         | FROM u),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j FROM bands a
         |  JOIN sp st ON a.doc_id = st.doc_id AND st.split = 'test'
         |  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |  JOIN sp sr ON b.doc_id = sr.doc_id AND sr.split = 'train'),
         |v AS (SELECT i, j,
         |   CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS inter,
         |   len(sa.s) AS la, len(sb.s) AS lb
         |  FROM cand JOIN mh sa ON cand.i = sa.doc_id
         |            JOIN mh sb ON cand.j = sb.doc_id)
         |SELECT i, j, round(inter/(la+lb-inter),6) AS jaccard FROM v
         |WHERE round(inter/(la+lb-inter),6) >= 0.8 ORDER BY i, j""".stripMargin
    },

    "dedup_simhash" -> dedupSimhashSql,

    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,

    "dedup_method_agreement" ->
      s"""WITH exp AS (SELECT a.doc_id AS i, b.doc_id AS j FROM documents a
         |  JOIN documents b ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id),
         |mhp AS (SELECT i, j FROM ($dedupMinhashLshSql) t1),
         |ngp AS (SELECT i, j FROM ($dedupNgramJaccardSql) t2),
         |shp AS (SELECT i, j FROM ($dedupSimhashSql) t3),
         |u AS (SELECT i, j, max(f_exact) AS f_exact, max(f_minhash) AS f_minhash,
         |   max(f_ngram) AS f_ngram, max(f_simhash) AS f_simhash FROM (
         |  SELECT i, j, 1 AS f_exact, 0 AS f_minhash, 0 AS f_ngram, 0 AS f_simhash FROM exp
         |  UNION ALL SELECT i, j, 0, 1, 0, 0 FROM mhp
         |  UNION ALL SELECT i, j, 0, 0, 1, 0 FROM ngp
         |  UNION ALL SELECT i, j, 0, 0, 0, 1 FROM shp) z GROUP BY 1, 2)
         |SELECT CAST(f_exact AS BIGINT) AS f_exact,
         |  CAST(f_minhash AS BIGINT) AS f_minhash,
         |  CAST(f_ngram AS BIGINT) AS f_ngram,
         |  CAST(f_simhash AS BIGINT) AS f_simhash,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM u GROUP BY 1, 2, 3, 4
         |ORDER BY 1, 2, 3, 4""".stripMargin,

    "dedup_threshold_sweep" ->
      """WITH g AS (SELECT doc_id, lang,
        |   list_distinct(list_transform(generate_series(1, length(text)-2),
        |     i -> substr(text, i, 3))) AS g
        | FROM documents WHERE length(text) >= 3),
        |ex AS (SELECT doc_id, lang,
        |   ((strpos('0123456789abcdef', substr(md5(ng),1,1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(md5(ng),2,1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5(ng),3,1)) - 1)) % 4096 AS r
        |  FROM (SELECT doc_id, lang, unnest(g) AS ng FROM g) t),
        |bits AS (SELECT doc_id, lang, r//32 AS wi,
        |   CAST(bit_or(CAST(1 AS BIGINT) << (r % 32)) AS BIGINT) AS wrd
        |  FROM ex GROUP BY 1, 2, 3),
        |grid AS (SELECT doc_id, lang,
        |   unnest(generate_series(0, 127)) AS wi FROM g),
        |dense AS (SELECT doc_id, lang, list(wrd ORDER BY wi) AS v,
        |   CAST(sum(bit_count(wrd)) AS BIGINT) AS n FROM (
        |  SELECT grid.doc_id, grid.lang, grid.wi, coalesce(bits.wrd, 0) AS wrd
        |  FROM grid LEFT JOIN bits ON grid.doc_id = bits.doc_id AND grid.wi = bits.wi) t
        | GROUP BY 1, 2),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j,
        |   CAST(list_sum(list_transform(generate_series(1, len(a.v)),
        |     k -> bit_count(a.v[k] & b.v[k]))) AS DOUBLE) AS inter,
        |   a.n AS la, b.n AS lb
        |  FROM dense a JOIN dense b ON a.lang = b.lang AND a.doc_id < b.doc_id),
        |sc AS (SELECT round(inter/(la+lb-inter),6) AS jaccard FROM p
        |  WHERE round(inter/(la+lb-inter),6) >= 0.5),
        |bins AS (SELECT CAST(round(jaccard*1000000) AS BIGINT)//100000 AS bin_x10,
        |   CAST(count(*) AS BIGINT) AS n_pairs FROM sc GROUP BY 1),
        |cum AS (SELECT a.bin_x10,
        |   CAST(sum(b.n_pairs) AS BIGINT) AS n_pairs_at_or_above
        |  FROM bins a JOIN bins b ON b.bin_x10 >= a.bin_x10 GROUP BY 1)
        |SELECT bin_x10, n_pairs, n_pairs_at_or_above
        |FROM bins JOIN cum USING (bin_x10) ORDER BY bin_x10 DESC""".stripMargin,

    "dedup_embed_nn" ->
      """WITH e AS (SELECT vec_id, label,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |   sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM e),
        |p AS (SELECT a.vec_id AS vid, b.vec_id AS nid,
        |   round(list_sum(list_transform(generate_series(1, len(a.v)),
        |       i -> a.v[i]*b.v[i])) / (a.norm*b.norm), 6) AS cosine
        | FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id)
        |SELECT vid AS vec_id, nid AS nn_id, cosine FROM (
        | SELECT *, row_number() OVER (PARTITION BY vid
        |   ORDER BY cosine DESC, nid) AS rn FROM p) t
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "text_langid" ->
      s"""WITH m(token, cand_lang) AS (VALUES ${operators.TextAnalysis.markers
            .map { case (l, t) => s"('$t','$l')" }.mkString(", ")}),
         |hits AS (SELECT doc_id, cand_lang, CAST(count(*) AS BIGINT) AS score
         |  FROM (SELECT doc_id, unnest(string_split_regex(text,'\\s+')) AS token
         |        FROM documents) t
         |  JOIN m USING (token) GROUP BY 1, 2),
         |pred AS (SELECT doc_id, cand_lang AS pred_lang, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, cand_lang) AS rn FROM hits) x WHERE rn = 1)
         |SELECT d.doc_id AS doc_id, coalesce(pred_lang, 'und') AS pred_lang,
         | coalesce(score, 0) AS score
         |FROM documents d LEFT JOIN pred ON d.doc_id = pred.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "langid_confusion" ->
      s"""WITH m(token, cand_lang) AS (VALUES ${operators.TextAnalysis.markers
            .map { case (l, t) => s"('$t','$l')" }.mkString(", ")}),
         |hits AS (SELECT doc_id, cand_lang, CAST(count(*) AS BIGINT) AS score
         |  FROM (SELECT doc_id, unnest(string_split_regex(text,'\\s+')) AS token
         |        FROM documents) t
         |  JOIN m USING (token) GROUP BY 1, 2),
         |pred AS (SELECT doc_id, cand_lang AS pred_lang, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, cand_lang) AS rn FROM hits) x WHERE rn = 1),
         |p2 AS (SELECT d.doc_id, d.lang, coalesce(pred_lang, 'und') AS pred_lang
         |  FROM documents d LEFT JOIN pred ON d.doc_id = pred.doc_id),
         |c AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM p2 GROUP BY 1, 2)
         |SELECT lang, pred_lang, n_docs,
         | round(CAST(n_docs AS DOUBLE)/sum(n_docs) OVER (PARTITION BY lang), 6) AS share
         |FROM c ORDER BY lang, pred_lang""".stripMargin,

    "text_quality" -> textQualitySql,

    "text_tokens" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS token
        |  FROM documents),
        |agg AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY token)
        |SELECT token, cnt, df, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank
        | FROM agg) t
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "text_perplexity_kn" ->
      """WITH d AS (SELECT doc_id, string_split_regex(text,'\s+') AS t FROM documents),
        |bgr AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM (
        |   SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        |   FROM d WHERE len(t) >= 2) s),
        |dbg AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bgr GROUP BY 1, 2, 3),
        |bg AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS cbg FROM dbg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(cbg) AS BIGINT) AS c1,
        |   CAST(count(*) AS BIGINT) AS n1f FROM bg GROUP BY 1),
        |back AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM bg GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM bg),
        |sc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |   sum(CAST(cnt AS DOUBLE) * -ln(
        |     (CAST(cbg AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
        |     + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
        |       * (CAST(n1b AS DOUBLE) / CAST(t_types AS DOUBLE)))) AS nll
        |  FROM dbg JOIN bg USING(w1, w2) JOIN ctx USING(w1) JOIN back USING(w2)
        |  CROSS JOIN tt
        |  GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, round(nll/n_bigrams, 6) AS avg_nll,
        | round(exp(round(nll/n_bigrams, 6)), 6) AS ppl
        |FROM sc ORDER BY doc_id""".stripMargin,

    "text_zipf_fit" ->
      """WITH tok AS (SELECT unnest(string_split_regex(text,'\s+')) AS w FROM documents),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM tok GROUP BY 1),
        |top AS (SELECT cw, CAST(row_number() OVER (ORDER BY cw DESC, w) AS INT) AS rank
        |  FROM c ORDER BY cw DESC, w LIMIT 100),
        |p AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cw AS DOUBLE)) AS y FROM top),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM p)
        |SELECT n AS n_terms,
        | round((n*sxy - sx*sy)/(n*sxx - sx*sx), 6) AS slope,
        | round((sy - (n*sxy - sx*sy)/(n*sxx - sx*sx)*sx)/n, 6) AS intercept,
        | round(pow(n*sxy - sx*sy, 2)
        |   /((n*sxx - sx*sx)*(n*syy - sy*sy)), 6) AS r2
        |FROM s""".stripMargin,

    "doc_length_histogram" ->
      """WITH d AS (SELECT CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
        |   AS n_tokens FROM documents),
        |b AS (SELECT n_tokens,
        |   CAST(floor(log2(greatest(n_tokens, 1))) AS INT) AS bucket FROM d),
        |h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
        |   CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM h)
        |SELECT bucket, CAST(pow(2, bucket) AS BIGINT) AS min_tokens,
        | n_docs, n_tokens,
        | round(CAST(n_docs AS DOUBLE) / tot_docs, 6) AS doc_share,
        | round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS token_share
        |FROM h CROSS JOIN t ORDER BY bucket""".stripMargin,

    "text_fingerprint" ->
      """SELECT fp, keeper, n_docs FROM (
        | SELECT md5(array_to_string(list_sort(list_distinct(
        |    string_split_regex(text,'\s+'))), ' ')) AS fp,
        |  min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_docs
        | FROM documents GROUP BY 1) t
        |WHERE n_docs >= 2 ORDER BY keeper""".stripMargin,

    "text_bigrams" ->
      """WITH d AS (SELECT string_split_regex(text,'\s+') AS t FROM documents),
        |bi AS (SELECT unnest(list_transform(generate_series(1, len(t)-1),
        |   i -> t[i] || ' ' || t[i+1])) AS bigram FROM d WHERE len(t) >= 2),
        |agg AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cnt FROM bi GROUP BY bigram)
        |SELECT bigram, cnt, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY cnt DESC, bigram) AS INT) AS rank
        | FROM agg) t
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "text_tokens_bpe" ->
      """SELECT doc_id,
        | CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_rolling_hash" ->
      """SELECT doc_id,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(generate_series(1, length(text)),
        |     i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
        |   (acc, x) -> (acc * 31 + x) % 1000000007) AS doc_hash,
        | list_min(list_transform(
        |   generate_series(0, CAST(ceil(length(text) / 100.0) AS INT) - 1),
        |   c -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(generate_series(1, length(substr(text, c * 100 + 1, 100))),
        |       i -> CAST(ascii(substr(substr(text, c * 100 + 1, 100), i, 1)) AS BIGINT))),
        |     (acc, x) -> (acc * 31 + x) % 1000000007))) AS min_chunk_hash,
        | CAST(ceil(length(text) / 100.0) AS INT) AS n_chunks
        |FROM documents WHERE length(text) >= 1 ORDER BY doc_id""".stripMargin,

    "knn_brute" -> knnBruteSql,

    "knn_signlsh" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS norm,
        |   CAST(list_sum(list_transform(generate_series(1, 8),
        |     i -> CASE WHEN v[i] >= 0.0 THEN CAST(pow(2, i-1) AS BIGINT)
        |          ELSE 0 END)) AS BIGINT) AS bucket
        | FROM e),
        |q AS (SELECT v, norm, bucket FROM n WHERE vec_id = 0),
        |p AS (SELECT n.vec_id, n.bucket, round(list_sum(list_transform(
        |    generate_series(1, len(n.v)), i -> n.v[i]*q.v[i])) / (q.norm*n.norm), 6) AS cosine
        |  FROM n JOIN q ON bit_count(xor(n.bucket, q.bucket)) <= 1
        |  WHERE n.vec_id <> 0)
        |SELECT vec_id, bucket, cosine, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS rank
        | FROM p) t
        |WHERE rank <= 5 ORDER BY rank""".stripMargin,

    "embed_top_pc" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |px AS (SELECT unnest(list_transform(generate_series(1, len(v)),
        |   i -> {'pos': i, 'x': v[i]}), recursive := true) FROM e),
        |mx AS (SELECT pos, avg(x) AS m FROM px GROUP BY pos),
        |mv AS (SELECT list(m ORDER BY pos) AS m FROM mx),
        |c AS (SELECT vec_id, list_transform(generate_series(1, len(v)),
        |   i -> v[i] - m[i]) AS c FROM e CROSS JOIN mv),
        |ps AS (SELECT unnest(generate_series(1, 64)) AS pos),
        |z1 AS (SELECT pos, sum(c[pos] * c[1]) AS z FROM c CROSS JOIN ps GROUP BY pos),
        |v1 AS (SELECT list(round(z / sqrt((SELECT sum(z*z) FROM z1)), 6)
        |   ORDER BY pos) AS pc FROM z1),
        |y2 AS (SELECT c, list_sum(list_transform(generate_series(1, 64),
        |   i -> c[i] * pc[i])) AS y FROM c CROSS JOIN v1),
        |z2 AS (SELECT pos, sum(c[pos] * y) AS z FROM y2 CROSS JOIN ps GROUP BY pos),
        |v2 AS (SELECT list(round(z / sqrt((SELECT sum(z*z) FROM z2)), 6)
        |   ORDER BY pos) AS pc FROM z2),
        |y3 AS (SELECT c, list_sum(list_transform(generate_series(1, 64),
        |   i -> c[i] * pc[i])) AS y FROM c CROSS JOIN v2),
        |z3 AS (SELECT pos, sum(c[pos] * y) AS z FROM y3 CROSS JOIN ps GROUP BY pos),
        |v3 AS (SELECT list(round(z / sqrt((SELECT sum(z*z) FROM z3)), 6)
        |   ORDER BY pos) AS pc FROM z3),
        |sh AS (SELECT round(sum(y*y) / sum(cn), 6) AS var_share FROM (
        |   SELECT list_sum(list_transform(generate_series(1, 64),
        |     i -> c[i] * pc[i])) AS y,
        |    list_sum(list_transform(c, x -> x*x)) AS cn
        |   FROM c CROSS JOIN v3) t)
        |SELECT CAST(pos AS INT) AS dim, pc[pos] AS loading, var_share
        |FROM ps CROSS JOIN v3 CROSS JOIN sh ORDER BY dim""".stripMargin,

    "embed_top2_pc" ->
      """WITH e AS MATERIALIZED (SELECT vec_id,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |px AS MATERIALIZED (SELECT unnest(list_transform(generate_series(1, len(v)),
        |   i -> {'pos': i, 'x': v[i]}), recursive := true) FROM e),
        |mx AS MATERIALIZED (SELECT pos, avg(x) AS m FROM px GROUP BY pos),
        |mv AS MATERIALIZED (SELECT list(m ORDER BY pos) AS m FROM mx),
        |c AS MATERIALIZED (SELECT vec_id, list_transform(generate_series(1, len(v)),
        |   i -> v[i] - m[i]) AS c FROM e CROSS JOIN mv),
        |ps AS MATERIALIZED (SELECT unnest(generate_series(1, 64)) AS pos),
        |z1 AS MATERIALIZED (SELECT pos, sum(c[pos] * c[1]) AS z FROM c CROSS JOIN ps GROUP BY pos),
        |v1 AS MATERIALIZED (SELECT list(round(z / sqrt((SELECT sum(z*z) FROM z1)), 6)
        |   ORDER BY pos) AS pc FROM z1),
        |y2 AS MATERIALIZED (SELECT c, list_sum(list_transform(generate_series(1, 64),
        |   i -> c[i] * pc[i])) AS y FROM c CROSS JOIN v1),
        |z2 AS MATERIALIZED (SELECT pos, sum(c[pos] * y) AS z FROM y2 CROSS JOIN ps GROUP BY pos),
        |v2 AS MATERIALIZED (SELECT list(round(z / sqrt((SELECT sum(z*z) FROM z2)), 6)
        |   ORDER BY pos) AS pc FROM z2),
        |y3 AS MATERIALIZED (SELECT c, list_sum(list_transform(generate_series(1, 64),
        |   i -> c[i] * pc[i])) AS y FROM c CROSS JOIN v2),
        |z3 AS MATERIALIZED (SELECT pos, sum(c[pos] * y) AS z FROM y3 CROSS JOIN ps GROUP BY pos),
        |v3 AS MATERIALIZED (SELECT list(round(z / sqrt((SELECT sum(z*z) FROM z3)), 6)
        |   ORDER BY pos) AS pc FROM z3),
        |d AS MATERIALIZED (SELECT vec_id, list_transform(generate_series(1, 64),
        |   i -> c[i] - y * pc[i]) AS c2 FROM (
        |  SELECT vec_id, c, list_sum(list_transform(generate_series(1, 64),
        |    i -> c[i] * pc[i])) AS y, pc FROM c CROSS JOIN v3) t),
        |w1 AS MATERIALIZED (SELECT pos, sum(c2[pos] * c2[2]) AS z FROM d CROSS JOIN ps GROUP BY pos),
        |u1 AS MATERIALIZED (SELECT list(round(z / sqrt((SELECT sum(z*z) FROM w1)), 6)
        |   ORDER BY pos) AS pc FROM w1),
        |x2 AS MATERIALIZED (SELECT c2, list_sum(list_transform(generate_series(1, 64),
        |   i -> c2[i] * pc[i])) AS y FROM d CROSS JOIN u1),
        |w2 AS MATERIALIZED (SELECT pos, sum(c2[pos] * y) AS z FROM x2 CROSS JOIN ps GROUP BY pos),
        |u2 AS MATERIALIZED (SELECT list(round(z / sqrt((SELECT sum(z*z) FROM w2)), 6)
        |   ORDER BY pos) AS pc FROM w2),
        |x3 AS MATERIALIZED (SELECT c2, list_sum(list_transform(generate_series(1, 64),
        |   i -> c2[i] * pc[i])) AS y FROM d CROSS JOIN u2),
        |w3 AS MATERIALIZED (SELECT pos, sum(c2[pos] * y) AS z FROM x3 CROSS JOIN ps GROUP BY pos),
        |u3 AS MATERIALIZED (SELECT list(round(z / sqrt((SELECT sum(z*z) FROM w3)), 6)
        |   ORDER BY pos) AS pc FROM w3),
        |sh1 AS MATERIALIZED (SELECT round(sum(y*y) / sum(cn), 6) AS var_share FROM (
        |   SELECT list_sum(list_transform(generate_series(1, 64),
        |     i -> c[i] * pc[i])) AS y,
        |    list_sum(list_transform(c, x -> x*x)) AS cn
        |   FROM c CROSS JOIN v3) t),
        |sh2 AS MATERIALIZED (SELECT round(sum(y*y) / sum(cn), 6) AS var_share FROM (
        |   SELECT list_sum(list_transform(generate_series(1, 64),
        |     i -> c[i] * pc[i])) AS y,
        |    list_sum(list_transform(c, x -> x*x)) AS cn
        |   FROM c CROSS JOIN u3) t)
        |SELECT CAST(1 AS BIGINT) AS component, CAST(pos AS INT) AS dim,
        |  pc[pos] AS loading, var_share
        | FROM ps CROSS JOIN v3 CROSS JOIN sh1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(pos AS INT), pc[pos], var_share
        | FROM ps CROSS JOIN u3 CROSS JOIN sh2
        |ORDER BY component, dim""".stripMargin,

    "knn_ivf" ->
      """WITH e AS (SELECT vec_id, label,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |   sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM e),
        |px AS (SELECT label, unnest(list_transform(generate_series(1, len(v)),
        |   i -> {'pos': i, 'x': v[i]}), recursive := true) FROM n),
        |cent AS (SELECT label, list(cx ORDER BY pos) AS cv FROM (
        |   SELECT label, pos, avg(x) AS cx FROM px GROUP BY label, pos) g
        | GROUP BY label),
        |q AS (SELECT v, norm FROM n WHERE vec_id = 0),
        |best AS (SELECT label AS target_label FROM (
        |   SELECT c.label, round(list_sum(list_transform(
        |       generate_series(1, len(c.cv)), i -> c.cv[i]*q.v[i]))
        |     / (sqrt(list_sum(list_transform(c.cv, x -> x*x))) * q.norm), 6) AS csim
        |   FROM cent c CROSS JOIN q) t
        | ORDER BY csim DESC, label LIMIT 2),
        |p AS (SELECT n.vec_id, n.label, round(list_sum(list_transform(
        |     generate_series(1, len(n.v)), i -> n.v[i]*q.v[i]))
        |   / (n.norm * q.norm), 6) AS cosine
        |  FROM n JOIN best ON n.label = best.target_label CROSS JOIN q
        |  WHERE n.vec_id <> 0)
        |SELECT vec_id, label, cosine, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS rank
        | FROM p) t
        |WHERE rank <= 5 ORDER BY rank""".stripMargin,

    "retrieve_chunks_bm25" -> ragTopkSql,

    "match_bm25_topk" ->
      """WITH tokens AS (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS token
        |  FROM documents),
        |ctf AS (SELECT doc_id AS j, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM tokens WHERE doc_id % 2 = 1 GROUP BY 1, 2),
        |dl AS (SELECT j, CAST(sum(tf) AS BIGINT) AS len FROM ctf GROUP BY j),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |   CAST(sum(len) AS DOUBLE)/count(*) AS avglen FROM dl),
        |dfq AS (SELECT token, df FROM (
        |  SELECT token, CAST(count(DISTINCT j) AS BIGINT) AS df
        |  FROM ctf GROUP BY token) t
        | WHERE df < 0.95 * (SELECT n FROM nn)),
        |q AS (SELECT DISTINCT doc_id AS i, token FROM tokens WHERE doc_id % 2 = 0),
        |c AS (SELECT q.i, ctf.j,
        |   ln(((SELECT n FROM nn) - df + 0.5)/(df + 0.5) + 1.0)
        |     * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * len / (SELECT avglen FROM nn))) AS c
        |  FROM q JOIN ctf USING (token) JOIN dfq USING (token) JOIN dl ON ctf.j = dl.j),
        |s AS (SELECT i, j, round(sum(c), 6) AS bm25 FROM c GROUP BY i, j)
        |SELECT i, j, bm25 FROM (
        | SELECT *, row_number() OVER (PARTITION BY i ORDER BY bm25 DESC, j) AS rn
        | FROM s) t
        |WHERE rn = 1 ORDER BY i""".stripMargin,

    "match_phonetic" ->
      """WITH p0 AS (SELECT p_partkey, p_name,
        |   array_to_string(list_sort(string_split_regex(lower(trim(p_name)), '\s+')), ' ') AS norm
        | FROM part),
        |pp AS (SELECT p_partkey, p_name, norm,
        |   substr(norm, 1, 1) || regexp_replace(substr(norm, 2), '[aeiou]', '', 'g') AS blk
        | FROM p0),
        |l AS (SELECT p_partkey AS l_key, p_name AS l_name, blk, norm AS l_norm
        |  FROM pp WHERE p_partkey % 2 = 0),
        |r AS (SELECT p_partkey AS r_key, p_name AS r_name, blk, norm AS r_norm
        |  FROM pp WHERE p_partkey % 2 = 1),
        |cand AS (SELECT l_key, r_key, r_name,
        |   round(1.0 - CAST(levenshtein(l_norm, r_norm) AS DOUBLE)
        |     / greatest(length(l_norm), length(r_norm)), 6) AS score
        |  FROM l JOIN r USING (blk)),
        |best AS (SELECT l_key, r_key, r_name, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_key ORDER BY score DESC, r_key) AS rn
        |  FROM cand WHERE score >= 0.5) t WHERE rn = 1)
        |SELECT l_key, r_key, r_name, score FROM best ORDER BY l_key""".stripMargin,

    "clean_abr_rejects" ->
      """WITH shaped AS (
        | SELECT CASE WHEN c_custkey % 7 = 0 THEN printf('%010d', c_custkey)
        |             ELSE printf('%011d', c_custkey) END AS abn,
        |   trim('  ' || c_name || '  ') AS entity_name,
        |   CASE WHEN c_custkey % 3 = 0 THEN 'active' ELSE 'cancelled' END AS entity_status,
        |   CASE WHEN c_custkey % 5 = 0 THEN '99'
        |        ELSE printf('%04d', c_nationkey * 100 + c_custkey % 100) END AS postcode
        | FROM customer)
        |SELECT abn, entity_name,
        | CASE WHEN NOT regexp_matches(abn, '^\d{11}$') THEN 'invalid_abn'
        |      WHEN NOT regexp_matches(postcode, '^\d{4}$') THEN 'invalid_postcode'
        |      WHEN lower(entity_status) <> 'active' THEN 'inactive_status' END AS reject_reason
        |FROM shaped
        |WHERE NOT regexp_matches(abn, '^\d{11}$')
        |   OR NOT regexp_matches(postcode, '^\d{4}$')
        |   OR lower(entity_status) <> 'active'
        |ORDER BY abn, entity_name""".stripMargin,

    "sample_per_group" ->
      """WITH d AS (SELECT lang, doc_id,
        |   list_sum(list_transform(generate_series(1, 8),
        |     i -> (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1) * pow(16, 8-i)))
        |   / 4294967296.0 AS u
        | FROM documents)
        |SELECT lang, doc_id, round(u, 6) AS u FROM (
        | SELECT *, row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rn
        | FROM d) t
        |WHERE rn <= 10 ORDER BY lang, u, doc_id""".stripMargin,

    "text_pmi_bigrams" ->
      """WITH uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM (
        |   SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents) t
        |  GROUP BY w),
        |n1 AS (SELECT CAST(sum(cw) AS DOUBLE) AS n FROM uni),
        |d AS (SELECT string_split_regex(text, '\s+') AS t FROM documents),
        |bi AS (SELECT t[i] AS w1, t[i+1] AS w2 FROM (
        |   SELECT t, unnest(generate_series(1, len(t)-1)) AS i FROM d WHERE len(t) >= 2) x),
        |cbi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cxy FROM bi GROUP BY 1, 2),
        |n2 AS (SELECT CAST(sum(cxy) AS DOUBLE) AS n FROM cbi),
        |scored AS (SELECT w1 || ' ' || w2 AS bigram, cxy,
        |   round(ln((CAST(cxy AS DOUBLE) / (SELECT n FROM n2)) /
        |     ((CAST(cx AS DOUBLE) / (SELECT n FROM n1))
        |       * (CAST(cy AS DOUBLE) / (SELECT n FROM n1)))), 6) AS pmi
        |  FROM cbi
        |  JOIN (SELECT w AS w1, cw AS cx FROM uni) u1 USING (w1)
        |  JOIN (SELECT w AS w2, cw AS cy FROM uni) u2 USING (w2)
        |  WHERE cxy >= 5)
        |SELECT bigram, cxy, pmi, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY pmi DESC, bigram) AS INT) AS rank
        | FROM scored) t
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "mm_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |   CAST(octet_length(CAST(text AS BLOB)) % 30 + 1 AS BIGINT) AS n_frames
        | FROM documents)
        |SELECT media_id, n_frames, frame_idx,
        | substr(md5(CAST(media_id AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR)), 1, 16) AS frame_sig
        |FROM (SELECT media_id, n_frames,
        |   unnest(generate_series(0, n_frames - 1, 5)) AS frame_idx FROM m) t
        |ORDER BY media_id, frame_idx""".stripMargin,

    "mm_resize" ->
      """WITH m AS (SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes
        |  FROM documents),
        |d AS (SELECT media_id, 64 + n_bytes % 448 AS w,
        |   64 + (n_bytes // 7) % 448 AS h FROM m),
        |s AS (SELECT media_id, w, h,
        |   least(1000, least(224000 // w, 224000 // h)) AS scale FROM d),
        |o AS (SELECT media_id, w, h,
        |   greatest(1, (w * scale) // 1000) AS out_w,
        |   greatest(1, (h * scale) // 1000) AS out_h FROM s)
        |SELECT media_id, w, h, out_w, out_h,
        | substr(md5(CAST(media_id AS VARCHAR) || ':' || CAST(out_w AS VARCHAR)
        |   || 'x' || CAST(out_h AS VARCHAR)), 1, 16) AS resize_sig
        |FROM o ORDER BY media_id""".stripMargin,

    "sample_stratified" ->
      """WITH d AS (SELECT doc_id, lang,
        |   list_sum(list_transform(generate_series(1, 8),
        |     i -> (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1) * pow(16, 8-i)))
        |   / 4294967296.0 AS u,
        |   CASE WHEN lang = 'en' THEN 0.5 ELSE 0.1 END AS rate
        | FROM documents)
        |SELECT doc_id, lang, round(u, 6) AS u FROM d
        |WHERE u < rate ORDER BY doc_id""".stripMargin,

    "sample_weighted_mix" ->
      """WITH d AS (SELECT doc_id, source, text,
        |   CAST(len(string_split_regex(text,'\s+')) AS BIGINT) AS n_tokens FROM documents),
        |bysrc AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok_s FROM d GROUP BY 1),
        |b AS (SELECT CAST(min(tok_s) AS DOUBLE) AS budget FROM bysrc),
        |rates AS (SELECT source, round(least(CAST(1.0 AS DOUBLE),
        |    (SELECT budget FROM b) / CAST(tok_s AS DOUBLE)), 6) AS rate FROM bysrc),
        |u AS (SELECT doc_id, source, n_tokens,
        |   list_sum(list_transform(generate_series(1, 8),
        |     i -> (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1) * pow(16, 8-i)))
        |   / 4294967296.0 AS u FROM d)
        |SELECT u.doc_id, u.source, u.n_tokens, rates.rate, round(u.u, 6) AS u
        |FROM u JOIN rates ON u.source = rates.source
        |WHERE u.u < rates.rate ORDER BY doc_id""".stripMargin,

    "text_perplexity" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |uni AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS cw FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cw) AS DOUBLE) AS total FROM uni),
        |d AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |   sum(cnt * ln((SELECT total FROM tot) / cw)) AS nll
        |  FROM tf JOIN uni USING (w) GROUP BY 1)
        |SELECT doc_id, n_tokens, round(nll/n_tokens, 6) AS avg_nll,
        | round(exp(round(nll/n_tokens, 6)), 6) AS ppl
        |FROM d ORDER BY doc_id""".stripMargin,

    "text_perplexity_bigram" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS w
        |  FROM documents),
        |uni AS (SELECT w AS w1, CAST(count(*) AS BIGINT) AS cw1
        |  FROM tok GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM uni),
        |d AS (SELECT doc_id, string_split_regex(text,'\s+') AS t FROM documents),
        |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM (
        |   SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        |   FROM d WHERE len(t) >= 2) s),
        |dbg AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bg GROUP BY 1, 2, 3),
        |m AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS cbg FROM dbg GROUP BY 1, 2),
        |sc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |   sum(cnt * ln((cw1 + vocab) * 1.0 / (cbg + 1))) AS nll
        |  FROM dbg JOIN m USING(w1, w2) JOIN uni USING(w1) CROSS JOIN v
        |  GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, round(nll/n_bigrams, 6) AS avg_nll,
        | round(exp(round(nll/n_bigrams, 6)), 6) AS ppl
        |FROM sc ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split_regex(text,'\s+') AS t FROM documents),
        |base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |   CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct FROM d),
        |bi AS (SELECT doc_id, max(c) AS top2 FROM (
        |   SELECT doc_id, g, count(*) AS c FROM (
        |     SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
        |        i -> array_to_string(t[i:i+1], ' '))) AS g
        |     FROM d WHERE len(t) >= 2) x GROUP BY 1, 2) y GROUP BY 1),
        |tri AS (SELECT doc_id, max(c) AS top3 FROM (
        |   SELECT doc_id, g, count(*) AS c FROM (
        |     SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
        |        i -> array_to_string(t[i:i+2], ' '))) AS g
        |     FROM d WHERE len(t) >= 3) x GROUP BY 1, 2) y GROUP BY 1),
        |s AS (SELECT base.doc_id, n_tokens,
        |   round(CAST(1.0 AS DOUBLE) - CAST(n_distinct AS DOUBLE)/n_tokens, 6) AS dup_word_frac,
        |   round(CAST(coalesce(top2, 0) AS DOUBLE) * 2 / n_tokens, 6) AS top_bigram_frac,
        |   round(CAST(coalesce(top3, 0) AS DOUBLE) * 3 / n_tokens, 6) AS top_trigram_frac
        |  FROM base LEFT JOIN bi ON base.doc_id = bi.doc_id
        |            LEFT JOIN tri ON base.doc_id = tri.doc_id)
        |SELECT doc_id, n_tokens, dup_word_frac, top_bigram_frac, top_trigram_frac,
        | CASE WHEN top_bigram_frac > 0.20 OR top_trigram_frac > 0.18
        |      THEN 'drop' ELSE 'keep' END AS verdict
        |FROM s ORDER BY doc_id""".stripMargin,

    "dedup_substring" ->
      """WITH ch AS (SELECT DISTINCT doc_id, md5(substr(text, c*32+1, 64)) AS h
        |  FROM (SELECT doc_id, text, unnest(generate_series(0,
        |      CAST(floor((length(text)-64)/32.0) AS INT))) AS c
        |    FROM documents WHERE length(text) >= 64) x),
        |nch AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY 1),
        |keep AS (SELECT h FROM ch GROUP BY h HAVING count(*) <= 100),
        |p AS (SELECT doc_id, h FROM ch JOIN keep USING (h)),
        |shared AS (SELECT a.doc_id AS i, b.doc_id AS j, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT i, j, n_shared,
        | round(CAST(n_shared AS DOUBLE)/least(ni.n, nj.n), 6) AS containment
        |FROM shared JOIN nch ni ON shared.i = ni.doc_id
        |            JOIN nch nj ON shared.j = nj.doc_id
        |WHERE round(CAST(n_shared AS DOUBLE)/least(ni.n, nj.n), 6) >= 0.5
        |ORDER BY i, j""".stripMargin,

    "contamination_ngram" ->
      """WITH d AS (SELECT doc_id, string_split_regex(text,'\s+') AS t FROM documents),
        |g AS (SELECT doc_id, md5(g5) AS h FROM (
        |   SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(t)-4),
        |      i -> array_to_string(t[i:i+4], ' ')))) AS g5
        |   FROM d WHERE len(t) >= 5) x),
        |bench AS (SELECT doc_id AS bench_id, h FROM g WHERE doc_id % 10 = 0),
        |train AS (SELECT doc_id, h FROM g WHERE doc_id % 10 <> 0)
        |SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM train JOIN bench USING (h)
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY doc_id, bench_id""".stripMargin,

    "text_ngram_novelty" ->
      """WITH d AS (SELECT doc_id, string_split_regex(text,'\s+') AS t FROM documents),
        |g AS (SELECT doc_id, md5(g5) AS h FROM (
        |   SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(t)-4),
        |      i -> array_to_string(t[i:i+4], ' ')))) AS g5
        |   FROM d WHERE len(t) >= 5) x),
        |f AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        | round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS novelty,
        | round(CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS common_frac
        |FROM g JOIN f USING (h)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "corpus_mixture_report" ->
      """WITH d AS (SELECT source, lang,
        |  CAST(len(string_split_regex(text,'\s+')) AS BIGINT) AS n_tokens, n_chars
        | FROM documents),
        |c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
        | FROM d GROUP BY source, lang),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM c)
        |SELECT source, lang, n_docs, n_tokens,
        | round(CAST(n_tokens AS DOUBLE)/tot, 6) AS token_share, avg_chars
        |FROM c CROSS JOIN t ORDER BY source, lang""".stripMargin,

    "dq_expectations" ->
      """WITH lagg AS (SELECT CAST(count(*) AS BIGINT) n,
        |  CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT) v_rf,
        |  CAST(sum(CASE WHEN l_linestatus IN ('O','F') THEN 0 ELSE 1 END) AS BIGINT) v_ls,
        |  CAST(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END) AS BIGINT) v_disc,
        |  CAST(sum(CASE WHEN l_quantity BETWEEN 1.0 AND 50.0 THEN 0 ELSE 1 END) AS BIGINT) v_qty,
        |  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) v_uniq
        | FROM lineitem),
        |oagg AS (SELECT CAST(count(*) AS BIGINT) n FROM orders),
        |checks AS (
        | SELECT 'accepted_values_l_returnflag' check_name, n n_rows, v_rf v FROM lagg
        | UNION ALL SELECT 'accepted_values_l_linestatus', n, v_ls FROM lagg
        | UNION ALL SELECT 'range_l_discount_0_0.1', n, v_disc FROM lagg
        | UNION ALL SELECT 'range_l_quantity_1_50', n, v_qty FROM lagg
        | UNION ALL SELECT 'unique_lineitem_orderkey_linenumber', n, v_uniq FROM lagg
        | UNION ALL SELECT 'fk_lineitem_orderkey_orders', n,
        |   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) FROM lagg
        | UNION ALL SELECT 'fk_lineitem_partkey_part', n,
        |   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l LEFT JOIN part p
        |    ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL) FROM lagg
        | UNION ALL SELECT 'fk_lineitem_suppkey_supplier', n,
        |   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l LEFT JOIN supplier s
        |    ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL) FROM lagg
        | UNION ALL SELECT 'fk_orders_custkey_customer', n,
        |   (SELECT CAST(count(*) AS BIGINT) FROM orders o LEFT JOIN customer c
        |    ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) FROM oagg
        | UNION ALL SELECT 'consistency_shipdate_after_orderdate', n,
        |   (SELECT CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey) FROM lagg)
        |SELECT check_name, n_rows, v AS n_violations,
        | round(CAST(v AS DOUBLE) / n_rows, 6) AS violation_rate,
        | CASE WHEN v = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM checks ORDER BY check_name""".stripMargin,

    "dq_expectations_config" ->
      """WITH oagg AS (SELECT CAST(count(*) AS BIGINT) n,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) v_nn,
        |  CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) v_uq,
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL
        |    OR o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS BIGINT) v_av,
        |  CAST(sum(CASE WHEN o_totalprice IS NULL
        |    OR o_totalprice BETWEEN 0 AND 400000 THEN 0 ELSE 1 END) AS BIGINT) v_rng
        | FROM orders),
        |cagg AS (SELECT CAST(count(*) AS BIGINT) n,
        |  CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) v_nn,
        |  CAST(count(c_custkey) - count(DISTINCT c_custkey) AS BIGINT) v_uq,
        |  CAST(sum(CASE WHEN c_name IS NULL
        |    OR regexp_matches(c_name, '^Customer#[0-9]+$') THEN 0 ELSE 1 END) AS BIGINT) v_re,
        |  CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) v_nn2
        | FROM customer),
        |checks AS (
        | SELECT 'not_null_orders_o_orderkey' check_name, n n_rows, v_nn v FROM oagg
        | UNION ALL SELECT 'unique_orders_o_orderkey', n, v_uq FROM oagg
        | UNION ALL SELECT 'accepted_values_orders_o_orderstatus', n, v_av FROM oagg
        | UNION ALL SELECT 'range_orders_o_totalprice', n, v_rng FROM oagg
        | UNION ALL SELECT 'not_null_customer_c_custkey', n, v_nn FROM cagg
        | UNION ALL SELECT 'unique_customer_c_custkey', n, v_uq FROM cagg
        | UNION ALL SELECT 'regex_customer_c_name', n, v_re FROM cagg
        | UNION ALL SELECT 'not_null_customer_c_mktsegment', n, v_nn2 FROM cagg)
        |SELECT check_name, n_rows, v AS n_violations,
        | round(CAST(v AS DOUBLE) / n_rows, 6) AS violation_rate,
        | CASE WHEN v = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM checks ORDER BY check_name""".stripMargin,

    "privacy_kanon" ->
      """SELECT c_mktsegment,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS BIGINT) AS at_risk
        |FROM customer GROUP BY 1, 2 ORDER BY c_mktsegment, bal_bucket""".stripMargin,

    "privacy_l_diversity" ->
      """SELECT c_mktsegment,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_sensitive,
        |  CAST(CASE WHEN count(DISTINCT c_nationkey) < 3 THEN 1 ELSE 0 END AS BIGINT) AS at_risk
        |FROM customer GROUP BY 1, 2 ORDER BY c_mktsegment, bal_bucket""".stripMargin,

    "quality_reliability" ->
      s"""WITH sc AS (SELECT doc_id, score FROM ($qualityClassifierSql) c),
         |tr AS (SELECT doc_id,
         |  CAST(CASE WHEN quality_bucket = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS pos
         | FROM ($textQualitySql) q),
         |b AS (SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin, score, pos
         |  FROM sc JOIN tr ON sc.doc_id = tr.doc_id),
         |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, avg(score) AS ms,
         |   CAST(sum(pos) AS BIGINT) AS n_pos FROM b GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM bins)
         |SELECT bin, n, n_pos,
         | round(CAST(n AS DOUBLE)/nn, 6) AS share,
         | round(ms, 6) AS mean_score,
         | round(CAST(n_pos AS DOUBLE)/n, 6) AS pos_rate,
         | round(abs(ms - CAST(n_pos AS DOUBLE)/n), 6) AS gap,
         | round(CAST(n AS DOUBLE)/nn * abs(ms - CAST(n_pos AS DOUBLE)/n), 6)
         |   AS ece_contrib
         |FROM bins CROSS JOIN tot ORDER BY bin""".stripMargin,

    "quality_pr_curve" ->
      s"""WITH sc AS (SELECT doc_id, score FROM ($qualityClassifierSql) c),
         |tr AS (SELECT doc_id,
         |  CAST(CASE WHEN quality_bucket = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS pos
         | FROM ($textQualitySql) q),
         |th AS (SELECT unnest(generate_series(1, 9)) AS t10),
         |j AS (SELECT sc.score, tr.pos, th.t10,
         |   CAST(CASE WHEN sc.score >= th.t10 / 10.0 THEN 1 ELSE 0 END AS BIGINT) AS hit
         |  FROM sc JOIN tr ON sc.doc_id = tr.doc_id CROSS JOIN th),
         |m AS (SELECT t10,
         |   CAST(sum(hit * pos) AS BIGINT) AS tp,
         |   CAST(sum(hit * (1 - pos)) AS BIGINT) AS fp,
         |   CAST(sum((1 - hit) * pos) AS BIGINT) AS fn
         |  FROM j GROUP BY 1)
         |SELECT t10, tp, fp, fn,
         | round(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6) AS precision,
         | round(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6) AS recall
         |FROM m ORDER BY t10""".stripMargin,

    "sample_epoch_expand" ->
      """WITH bs AS (SELECT source,
        |  CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY 1),
        |t AS (SELECT max(n_tokens) AS t FROM bs),
        |we AS (SELECT source,
        |  CAST(least(4, (t.t + n_tokens - 1) // n_tokens) AS BIGINT) AS epochs
        | FROM bs CROSS JOIN t)
        |SELECT doc_id, source, CAST(epoch_idx AS BIGINT) AS epoch_idx FROM (
        | SELECT doc_id, d.source, unnest(generate_series(1, epochs)) AS epoch_idx
        | FROM documents d JOIN we ON d.source = we.source) x
        |ORDER BY doc_id, epoch_idx""".stripMargin,

    "sample_mixture_epochs" ->
      """WITH bs AS (SELECT source,
        |  CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY 1),
        |t AS (SELECT max(n_tokens) AS t FROM bs),
        |we AS (SELECT source, n_tokens,
        |  CAST(least(4, (t.t + n_tokens - 1) // n_tokens) AS BIGINT) AS epochs,
        |  CAST(n_tokens * least(4, (t.t + n_tokens - 1) // n_tokens) AS BIGINT) AS effective_tokens
        | FROM bs CROSS JOIN t),
        |tot AS (SELECT CAST(sum(effective_tokens) AS BIGINT) AS tot FROM we)
        |SELECT source, n_tokens, epochs, effective_tokens,
        | round(CAST(effective_tokens AS DOUBLE) / tot, 6) AS share
        |FROM we CROSS JOIN tot ORDER BY source""".stripMargin,

    "curation_decisions" ->
      """WITH d0 AS (SELECT doc_id, text, string_split_regex(text,'\s+') AS t FROM documents),
        |k AS (SELECT md5(text) AS h, min(doc_id) AS keeper FROM d0 GROUP BY 1),
        |dup AS (SELECT doc_id, CAST(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END AS INT) AS is_dup
        |  FROM d0 JOIN k ON md5(d0.text) = k.h),
        |base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |   CAST(len(list_filter(t, x -> x IN ('the','a','or','and'))) AS BIGINT) AS n_stop
        |  FROM d0),
        |bi AS (SELECT doc_id, max(c) AS top2 FROM (
        |   SELECT doc_id, g, count(*) AS c FROM (
        |     SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
        |        i -> array_to_string(t[i:i+1], ' '))) AS g
        |     FROM d0 WHERE len(t) >= 2) x GROUP BY 1, 2) y GROUP BY 1),
        |tri AS (SELECT doc_id, max(c) AS top3 FROM (
        |   SELECT doc_id, g, count(*) AS c FROM (
        |     SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
        |        i -> array_to_string(t[i:i+2], ' '))) AS g
        |     FROM d0 WHERE len(t) >= 3) x GROUP BY 1, 2) y GROUP BY 1),
        |rep AS (SELECT base.doc_id, CAST(CASE WHEN
        |     round(CAST(coalesce(top2, 0) AS DOUBLE) * 2 / n_tokens, 6) > 0.20
        |     OR round(CAST(coalesce(top3, 0) AS DOUBLE) * 3 / n_tokens, 6) > 0.18
        |   THEN 1 ELSE 0 END AS INT) AS is_repetitive
        |  FROM base LEFT JOIN bi ON base.doc_id = bi.doc_id
        |            LEFT JOIN tri ON base.doc_id = tri.doc_id),
        |q AS (SELECT doc_id, CAST(CASE WHEN n_tokens < 20 THEN 1
        |    WHEN CAST(n_stop AS DOUBLE)/n_tokens > 0.3 THEN 1 ELSE 0 END AS INT) AS is_lowq
        |  FROM base),
        |g AS (SELECT doc_id, md5(g5) AS h2 FROM (
        |   SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(t)-4),
        |      i -> array_to_string(t[i:i+4], ' ')))) AS g5
        |   FROM d0 WHERE len(t) >= 5) x),
        |conp AS (SELECT tr.doc_id AS doc_id, be.bench_id, count(*) AS ns FROM
        |   (SELECT doc_id, h2 FROM g WHERE doc_id % 10 <> 0) tr
        |   JOIN (SELECT doc_id AS bench_id, h2 FROM g WHERE doc_id % 10 = 0) be USING (h2)
        |   GROUP BY 1, 2 HAVING count(*) >= 3),
        |con AS (SELECT DISTINCT doc_id FROM conp)
        |SELECT dup.doc_id, is_dup, is_repetitive, is_lowq,
        | CAST(CASE WHEN con.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_contaminated,
        | CASE WHEN is_dup = 1 THEN 'drop_duplicate'
        |      WHEN con.doc_id IS NOT NULL THEN 'drop_contaminated'
        |      WHEN is_repetitive = 1 THEN 'drop_repetitive'
        |      WHEN is_lowq = 1 THEN 'drop_quality'
        |      ELSE 'keep' END AS decision
        |FROM dup JOIN rep ON dup.doc_id = rep.doc_id
        |         JOIN q ON dup.doc_id = q.doc_id
        |         LEFT JOIN con ON dup.doc_id = con.doc_id
        |ORDER BY dup.doc_id""".stripMargin,

    "cluster_kmeans" ->
      s"""$kmeansCtes
         |SELECT vec_id, cid AS cluster, d2 AS dist2 FROM (
         | SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         | FROM p2) t WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "embed_cluster_margin" ->
      s"""$kmeansCtes,
         |r AS (SELECT vec_id, cid, d2,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM p2),
         |mm AS (SELECT a.vec_id, a.cid AS cluster, a.d2 AS dist2,
         |   round((b.d2 - a.d2) / b.d2, 6) AS margin
         |  FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2)
         |SELECT vec_id, cluster, dist2, margin, rank FROM (
         | SELECT *, CAST(row_number() OVER (ORDER BY margin, vec_id) AS INT) AS rank
         | FROM mm) t WHERE rank <= 25 ORDER BY rank""".stripMargin,

    "knn_batch" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM e),
        |q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn FROM n WHERE vec_id < 8),
        |p AS (SELECT q.q_id, n.vec_id, round(list_sum(list_transform(
        |    generate_series(1, len(n.v)), i -> n.v[i]*q.qv[i])) / (n.norm*q.qn), 6) AS cosine
        |  FROM n CROSS JOIN q WHERE n.vec_id >= 8)
        |SELECT q_id, vec_id, cosine, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
        | FROM p) t
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    "knn_filtered" ->
      """WITH e AS (SELECT vec_id, label,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |   sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM e),
        |q AS (SELECT v, norm FROM n WHERE vec_id = 0),
        |p AS (SELECT n.vec_id, n.label, round(list_sum(list_transform(
        |     generate_series(1, len(n.v)), i -> n.v[i]*q.v[i]))
        |   / (n.norm * q.norm), 6) AS cosine
        |  FROM n CROSS JOIN q WHERE n.label = 3 AND n.vec_id <> 0)
        |SELECT vec_id, label, cosine, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS rank
        | FROM p) t
        |WHERE rank <= 5 ORDER BY rank""".stripMargin,

    "knn_batch_ivf" ->
      """WITH e AS (SELECT vec_id, label,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |   sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM e),
        |px AS (SELECT label, unnest(list_transform(generate_series(1, len(v)),
        |   i -> {'pos': i, 'x': v[i]}), recursive := true) FROM n),
        |cent AS (SELECT label, list(cx ORDER BY pos) AS cv FROM (
        |   SELECT label, pos, avg(x) AS cx FROM px GROUP BY label, pos) g
        | GROUP BY label),
        |q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn FROM n WHERE vec_id < 8),
        |routes AS (SELECT q.q_id, c.label, round(list_sum(list_transform(
        |     generate_series(1, len(c.cv)), i -> c.cv[i]*q.qv[i]))
        |   / (sqrt(list_sum(list_transform(c.cv, x -> x*x))) * q.qn), 6) AS csim
        |  FROM cent c CROSS JOIN q),
        |best AS (SELECT q_id, label AS target_label FROM (
        |   SELECT *, row_number() OVER (PARTITION BY q_id
        |     ORDER BY csim DESC, label) AS rn FROM routes) t WHERE rn <= 2),
        |p AS (SELECT b.q_id, n.vec_id, n.label, round(list_sum(list_transform(
        |     generate_series(1, len(n.v)), i -> n.v[i]*q.qv[i]))
        |   / (n.norm * q.qn), 6) AS cosine
        |  FROM n JOIN best b ON n.label = b.target_label
        |  JOIN q ON q.q_id = b.q_id
        |  WHERE n.vec_id >= 8)
        |SELECT q_id, vec_id, label, cosine, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |   ORDER BY cosine DESC, vec_id) AS INT) AS rank FROM p) t
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    "knn_recall_vs_nprobe" ->
      """WITH e AS (SELECT vec_id, label,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |   sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM e),
        |q AS (SELECT v, norm FROM n WHERE vec_id = 0),
        |truth AS (SELECT vec_id FROM (
        |   SELECT n.vec_id, round(list_sum(list_transform(
        |       generate_series(1, len(n.v)), i -> n.v[i]*q.v[i]))
        |     / (n.norm * q.norm), 6) AS cosine
        |   FROM n CROSS JOIN q WHERE n.vec_id <> 0) t
        | ORDER BY cosine DESC, vec_id LIMIT 10),
        |px AS (SELECT label, unnest(list_transform(generate_series(1, len(v)),
        |   i -> {'pos': i, 'x': v[i]}), recursive := true) FROM n),
        |cent AS (SELECT label, list(cx ORDER BY pos) AS cv FROM (
        |   SELECT label, pos, avg(x) AS cx FROM px GROUP BY label, pos) g
        | GROUP BY label),
        |ranked AS (SELECT label, row_number() OVER (ORDER BY csim DESC, label) AS rnk
        |  FROM (SELECT c.label, round(list_sum(list_transform(
        |      generate_series(1, len(c.cv)), i -> c.cv[i]*q.v[i]))
        |    / (sqrt(list_sum(list_transform(c.cv, x -> x*x))) * q.norm), 6) AS csim
        |   FROM cent c CROSS JOIN q) t),
        |np AS (SELECT unnest(generate_series(1, 3)) AS nprobe),
        |cells AS (SELECT np.nprobe, ranked.label FROM np JOIN ranked
        |  ON ranked.rnk <= np.nprobe),
        |cands AS (SELECT cells.nprobe, n.vec_id FROM n
        |  JOIN cells ON n.label = cells.label WHERE n.vec_id <> 0)
        |SELECT cands.nprobe,
        | CAST(count(*) AS BIGINT) AS n_candidates,
        | CAST(sum(CASE WHEN truth.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        | round(CAST(sum(CASE WHEN truth.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / 10.0, 6) AS recall
        |FROM cands LEFT JOIN truth ON cands.vec_id = truth.vec_id
        |GROUP BY cands.nprobe ORDER BY cands.nprobe""".stripMargin,

    "embed_outliers" ->
      """WITH e AS (SELECT vec_id, label,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |px AS (SELECT label, unnest(list_transform(generate_series(1, len(v)),
        |   i -> {'pos': i, 'x': v[i]}), recursive := true) FROM e),
        |cent AS (SELECT label, list(cx ORDER BY pos) AS cv FROM (
        |   SELECT label, pos, avg(x) AS cx FROM px GROUP BY label, pos) g
        | GROUP BY label),
        |d AS (SELECT vec_id, e.label,
        |   sqrt(list_sum(list_transform(generate_series(1, len(v)),
        |     i -> (v[i] - cv[i]) * (v[i] - cv[i])))) AS dist
        |  FROM e JOIN cent ON e.label = cent.label),
        |st AS (SELECT label, sum(dist)/count(*) AS mu,
        |   sqrt(sum(dist*dist)/count(*)
        |     - (sum(dist)/count(*)) * (sum(dist)/count(*))) AS sd
        |  FROM d GROUP BY label),
        |z AS (SELECT vec_id, d.label, round(dist, 6) AS dist,
        |   round((dist - mu)/sd, 6) AS z
        |  FROM d JOIN st ON d.label = st.label)
        |SELECT vec_id, label, dist, z, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY abs(z) DESC, vec_id) AS INT) AS rank
        | FROM z) t
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "embed_whitening" ->
      """WITH px AS (SELECT vec_id,
        |   unnest(list_transform(generate_series(1, len(v)),
        |     i -> {'pos': i, 'x': v[i]}), recursive := true)
        |  FROM (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings) e),
        |stats AS (SELECT pos, sum(x)/count(*) AS mu,
        |   sqrt(sum(x*x)/count(*) - (sum(x)/count(*)) * (sum(x)/count(*))) AS sd
        |  FROM px GROUP BY pos)
        |SELECT vec_id, CAST(px.pos - 1 AS INT) AS pos, round(x, 6) AS x,
        | round((x - mu)/sd, 6) AS white
        |FROM px JOIN stats ON px.pos = stats.pos
        |WHERE vec_id < 10 ORDER BY vec_id, pos""".stripMargin,

    "approx_distinct_kmv" ->
      """WITH tok0 AS (SELECT lang, unnest(string_split_regex(text,'\s+')) AS token
        |  FROM documents),
        |toks AS (SELECT DISTINCT lang, token FROM tok0),
        |h AS (SELECT lang, token, list_sum(list_transform(generate_series(1, 8),
        |   i -> (strpos('0123456789abcdef', substr(md5(token), i, 1)) - 1) * pow(16, 8-i)))
        |   / 4294967296.0 AS u
        | FROM toks),
        |kept AS (SELECT lang, u FROM (
        |   SELECT lang, u, row_number() OVER (PARTITION BY lang ORDER BY u, token) AS rn
        |   FROM h) t
        |  WHERE rn <= 64),
        |est AS (SELECT lang, max(u) AS uk, count(*) AS m FROM kept GROUP BY lang),
        |ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM toks GROUP BY lang)
        |SELECT ex.lang AS lang, n_exact,
        | CASE WHEN m < 64 THEN CAST(m AS DOUBLE) ELSE round(63.0/uk, 6) END AS approx_distinct
        |FROM ex JOIN est ON ex.lang = est.lang ORDER BY lang""".stripMargin,

    "events_histogram" ->
      """SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin,
        | CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin,

    "events_zscore" ->
      """WITH stats AS (SELECT event_type,
        |   sum(value)/count(*) AS mu,
        |   sqrt(sum(value*value)/count(*)
        |     - (sum(value)/count(*)) * (sum(value)/count(*))) AS sigma
        | FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type AS event_type, value,
        | round((value - mu)/sigma, 6) AS z
        |FROM events e JOIN stats s ON e.event_type = s.event_type
        |WHERE abs(round((value - mu)/sigma, 6)) >= 3.0
        |ORDER BY event_id""".stripMargin,

    "events_range_join" ->
      """WITH ev AS (SELECT *, epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |p AS (SELECT event_id, user_id, ts_s FROM ev WHERE event_type='purchase')
        |SELECT p.event_id AS event_id, CAST(count(*) AS BIGINT) AS n_prior,
        | round(sum(e.value), 2) AS sum_prior
        |FROM p JOIN ev e ON e.user_id = p.user_id
        | AND e.ts_s >= p.ts_s - 3600 AND e.ts_s < p.ts_s
        |GROUP BY p.event_id ORDER BY event_id""".stripMargin,

    "extract_xml_entities" ->
      """WITH x AS (SELECT
        |  '<ABR><ABN status="' || CASE WHEN c_custkey % 3 = 0 THEN 'ACT' ELSE 'CAN' END
        |  || '" ABNStatusFromDate="'
        |  || printf('2020%02d%02d', c_custkey % 12 + 1, c_custkey % 28 + 1)
        |  || '">' || printf('%011d', c_custkey) || '</ABN>'
        |  || '<EntityType><EntityTypeText>' || c_mktsegment || '</EntityTypeText></EntityType>'
        |  || CASE WHEN c_custkey % 4 = 0 THEN
        |       '<LegalEntity><IndividualName><GivenName>Given' || CAST(c_custkey AS VARCHAR)
        |       || '</GivenName><FamilyName>Family' || CAST(c_nationkey AS VARCHAR)
        |       || '</FamilyName></IndividualName></LegalEntity>'
        |     ELSE '<MainEntity><NonIndividualName><NonIndividualNameText>' || c_name
        |       || '</NonIndividualNameText></NonIndividualName></MainEntity>' END
        |  || CASE WHEN c_custkey % 5 = 0 THEN '<MainBusinessPhysicalAddress>' ELSE '<BusinessAddress>' END
        |  || '<AddressDetails><State>S' || CAST(c_nationkey AS VARCHAR)
        |  || '</State><Postcode>' || printf('%04d', c_nationkey * 100 + c_custkey % 100)
        |  || '</Postcode></AddressDetails>'
        |  || CASE WHEN c_custkey % 5 = 0 THEN '</MainBusinessPhysicalAddress>' ELSE '</BusinessAddress>' END
        |  || '</ABR>' AS xml
        | FROM customer)
        |SELECT regexp_extract(xml, '<ABN[^>]*>([0-9]+)</ABN>', 1) AS abn,
        | CASE WHEN regexp_extract(xml, '<NonIndividualNameText>([^<]*)</NonIndividualNameText>', 1) <> ''
        |   THEN regexp_extract(xml, '<NonIndividualNameText>([^<]*)</NonIndividualNameText>', 1)
        |   ELSE trim(regexp_extract(xml, '<GivenName>([^<]*)</GivenName>', 1) || ' '
        |     || regexp_extract(xml, '<FamilyName>([^<]*)</FamilyName>', 1)) END AS entity_name,
        | regexp_extract(xml, '<ABN status="([A-Z]+)"', 1) AS entity_status,
        | regexp_extract(xml, 'ABNStatusFromDate="([0-9]+)"', 1) AS start_date,
        | regexp_extract(xml, '<EntityTypeText>([^<]*)</EntityTypeText>', 1) AS entity_type,
        | CASE WHEN regexp_extract(xml, '<BusinessAddress><AddressDetails><State>([^<]*)</State>', 1) <> ''
        |   THEN regexp_extract(xml, '<BusinessAddress><AddressDetails><State>([^<]*)</State>', 1)
        |   ELSE regexp_extract(xml, '<MainBusinessPhysicalAddress><AddressDetails><State>([^<]*)</State>', 1) END AS state,
        | CASE WHEN regexp_extract(xml, '<BusinessAddress><AddressDetails><State>[^<]*</State><Postcode>([0-9]+)', 1) <> ''
        |   THEN regexp_extract(xml, '<BusinessAddress><AddressDetails><State>[^<]*</State><Postcode>([0-9]+)', 1)
        |   ELSE regexp_extract(xml, '<MainBusinessPhysicalAddress><AddressDetails><State>[^<]*</State><Postcode>([0-9]+)', 1) END AS postcode
        |FROM x ORDER BY abn""".stripMargin,

    "clean_html_boilerplate" ->
      """WITH h AS (SELECT p_partkey,
        |  '<html><head><title>' || p_name || '</title><script>var t=track('''
        |  || p_brand || ''');</script></head><body><nav>Home About Contact Pricing</nav>'
        |  || '<p>' || p_type || ' from ' || p_name || '.</p>'
        |  || CASE WHEN p_partkey % 2 = 0
        |       THEN '<p>Extra detail on ' || p_brand || '.</p>' ELSE '' END
        |  || '<footer>Copyright ' || p_name || '</footer></body></html>' AS html
        | FROM part),
        |c AS (SELECT p_partkey, html,
        |  trim(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(html,
        |      '<script>.*?</script>', '', 'g'),
        |      '<nav>.*?</nav>', '', 'g'),
        |      '<footer>.*?</footer>', '', 'g'),
        |    '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS clean_text
        | FROM h)
        |SELECT p_partkey, clean_text,
        | CAST(length(html) AS INT) AS n_chars_raw,
        | CAST(length(clean_text) AS INT) AS n_chars_clean,
        | round(CAST(length(clean_text) AS DOUBLE) / length(html), 6) AS content_ratio
        |FROM c ORDER BY p_partkey""".stripMargin,

    "extract_cdx_filter" ->
      """WITH lines AS (SELECT unnest([
        |   '{"urlkey": "com,example)/p' || p_partkey
        |   || '", "timestamp": "2024' || printf('%010d', p_partkey % 1000000 + 0)
        |   || '", "status": "' || CASE WHEN p_partkey % 5 = 3 THEN '404'
        |        WHEN p_partkey % 5 = 4 THEN '301' ELSE '200' END
        |   || '", "mime": "' || CASE WHEN p_partkey % 7 = 0
        |        THEN 'application/pdf' ELSE 'text/html' END
        |   || '", "digest": "' || substr(md5(p_name || '0'), 1, 16) || '"}',
        |   '{"urlkey": "com,example)/p' || p_partkey
        |   || '", "timestamp": "2024' || printf('%010d', p_partkey % 1000000 + 5000)
        |   || '", "status": "' || CASE WHEN p_partkey % 5 = 3 THEN '404'
        |        WHEN p_partkey % 5 = 4 THEN '301' ELSE '200' END
        |   || '", "mime": "' || CASE WHEN p_partkey % 7 = 0
        |        THEN 'application/pdf' ELSE 'text/html' END
        |   || '", "digest": "' || substr(md5(p_name || '5000'), 1, 16) || '"}'
        |  ]) AS line FROM part),
        |f AS (SELECT
        |  regexp_extract(line, '"urlkey": "([^"]*)"', 1) AS urlkey,
        |  regexp_extract(line, '"timestamp": "([^"]*)"', 1) AS ts,
        |  regexp_extract(line, '"status": "([^"]*)"', 1) AS status,
        |  regexp_extract(line, '"mime": "([^"]*)"', 1) AS mime,
        |  regexp_extract(line, '"digest": "([^"]*)"', 1) AS digest
        | FROM lines)
        |SELECT urlkey, ts AS timestamp, digest FROM (
        |  SELECT *, row_number() OVER (PARTITION BY urlkey
        |    ORDER BY ts DESC, digest DESC) AS rn
        |  FROM f WHERE status = '200' AND mime = 'text/html') t
        |WHERE rn = 1 ORDER BY urlkey""".stripMargin,

    "extract_html_names" ->
      """WITH h AS (SELECT p_partkey,
        |  '<html><head><title>' || p_name || ' | Home</title>'
        |  || CASE WHEN p_partkey % 3 = 0
        |       THEN '<meta property="og:site_name" content="' || p_name || ' Co"/>'
        |     WHEN p_partkey % 3 = 1
        |       THEN '<script type="application/ld+json">{"@type": "Organization", "name": "'
        |         || p_name || ' Org"}</script>'
        |     ELSE '' END
        |  || '</head><body>' || p_type || '</body></html>' AS html
        | FROM part)
        |SELECT p_partkey,
        | CASE WHEN og <> '' THEN og WHEN ld <> '' THEN ld ELSE title END AS company_name,
        | CASE WHEN og <> '' THEN 'og_site_name' WHEN ld <> '' THEN 'json_ld'
        |   ELSE 'title' END AS method
        |FROM (SELECT p_partkey,
        |  regexp_extract(html, 'property="og:site_name" content="([^"]*)"', 1) AS og,
        |  regexp_extract(html, '"@type": "Organization", "name": "([^"]*)"', 1) AS ld,
        |  trim(regexp_extract(html, '<title>([^|<]*)', 1)) AS title
        | FROM h) t ORDER BY p_partkey""".stripMargin,

    "extract_warc_records" ->
      """WITH recs AS (SELECT
        |  'WARC/1.0' || chr(10) ||
        |  'WARC-Type: response' || chr(10) ||
        |  'WARC-Target-URI: https://www.'
        |    || regexp_replace(lower(s_name), '[^a-z0-9]+', '-', 'g')
        |    || '.example.com/' || chr(10) ||
        |  'WARC-Record-ID: rec-' || CAST(s_suppkey AS VARCHAR) || chr(10) ||
        |  'Content-Length: ' || CAST(strlen(s_name)*3 AS VARCHAR) || chr(10) || chr(10) ||
        |  '<html><head><title>' || s_name || ' | Site</title></head><body>acct '
        |    || CAST(s_acctbal AS VARCHAR) || '</body></html>' AS rec
        | FROM supplier)
        |SELECT
        | regexp_extract(rec, 'WARC-Type: ([^\n]+)', 1) AS warc_type,
        | regexp_extract(rec, 'WARC-Target-URI: ([^\n]+)', 1) AS target_uri,
        | regexp_extract(rec, 'WARC-Record-ID: ([^\n]+)', 1) AS record_id,
        | CAST(regexp_extract(rec, 'Content-Length: ([0-9]+)', 1) AS INT) AS content_length,
        | trim(regexp_extract(rec, '<title>([^|<]*)', 1)) AS page_title
        |FROM recs ORDER BY target_uri""".stripMargin,

    "mm_binary_features" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
        | min(md5(text)) AS min_hash, max(md5(text)) AS max_hash
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // the decode stand-in is a pure byte function (sum / head / tail
    // of the UTF-8 payload); the corpus text is ASCII at every SF, so
    // per-char ord() IS the byte value and the oracle reproduces the
    // mapPartitions decoder exactly
    "mm_fake_decode" ->
      """SELECT doc_id AS media_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(list_aggregate(list_transform(string_split(text, ''),
        |   c -> ord(c)), 'sum') AS BIGINT) AS byte_sum,
        | CAST(ord(text[1]) AS INT) AS head_byte,
        | CAST(ord(text[-1]) AS INT) AS tail_byte
        |FROM documents ORDER BY media_id""".stripMargin,

    "mm_pair_builder" ->
      """WITH d AS (SELECT doc_id, lang,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes, length(text) AS n_chars
        | FROM documents),
        |e AS (SELECT vec_id AS doc_id,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS emb_norm
        | FROM embeddings WHERE vec_id % 11 <> 0)
        |SELECT d.doc_id, lang, n_bytes, emb_norm,
        | CAST(CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS BIGINT) AS text_ok,
        | CAST(CASE WHEN n_bytes <= 384 THEN 1 ELSE 0 END AS BIGINT) AS media_ok,
        | CAST(CASE WHEN emb_norm IS NOT NULL AND emb_norm > 0
        |   THEN 1 ELSE 0 END AS BIGINT) AS embed_ok,
        | CAST(CASE WHEN n_chars >= 250 AND n_bytes <= 384
        |   AND emb_norm IS NOT NULL AND emb_norm > 0
        |   THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM d LEFT JOIN e ON d.doc_id = e.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_pii_scrub" ->
      """WITH withpii AS (SELECT doc_id,
        |  text ||
        |  CASE WHEN doc_id % 4 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 6 = 0 THEN ' call 555-' || printf('%04d', doc_id % 10000) ELSE '' END ||
        |  CASE WHEN doc_id % 10 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ELSE '' END
        |  AS text FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        | CAST(len(regexp_extract_all(text, '\b555-[0-9]{4}\b')) AS INT) AS n_phones,
        | CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ips,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b555-[0-9]{4}\b', '<PHONE>', 'g'),
        |   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')) AS scrub_md5
        |FROM withpii ORDER BY doc_id""".stripMargin,

    "text_token_entropy" ->
      """WITH tf AS (
        | SELECT doc_id, w, count(*) AS cnt
        | FROM (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS w FROM documents)
        | GROUP BY 1, 2),
        |agg AS (
        | SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  sum(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) AS clc
        | FROM tf GROUP BY 1),
        |scored AS (
        | SELECT doc_id, n_tokens, n_distinct,
        |  round(ln(CAST(n_tokens AS DOUBLE)) - clc / CAST(n_tokens AS DOUBLE), 6) AS entropy
        | FROM agg)
        |SELECT doc_id, n_tokens, n_distinct, entropy,
        | CASE WHEN n_distinct > 1
        |      THEN round(entropy / ln(CAST(n_distinct AS DOUBLE)), 6)
        |      ELSE CAST(0.0 AS DOUBLE) END AS norm_entropy
        |FROM scored ORDER BY doc_id""".stripMargin,

    "heavy_hitters_cms" ->
      """WITH exact AS (
        | SELECT token, CAST(count(*) AS BIGINT) AS n_exact
        | FROM (SELECT unnest(string_split_regex(text,'\s+')) AS token FROM documents)
        | GROUP BY 1),
        |sk0 AS (SELECT token, n_exact, unnest(generate_series(0, 3)) AS row FROM exact),
        |sketch AS (
        | SELECT row, substr(md5(row || '|' || token), 1, 2) AS bucket,
        |  CAST(sum(n_exact) AS BIGINT) AS bsum
        | FROM sk0 GROUP BY 1, 2),
        |top AS (
        | SELECT token, n_exact,
        |  CAST(row_number() OVER (ORDER BY n_exact DESC, token) AS INT) AS rank
        | FROM exact ORDER BY n_exact DESC, token LIMIT 20),
        |probe AS (SELECT rank, token, n_exact, unnest(generate_series(0, 3)) AS row FROM top)
        |SELECT rank, probe.token AS token, probe.n_exact AS n_exact,
        | min(bsum) AS cms_est
        |FROM probe JOIN sketch
        |  ON sketch.row = probe.row
        | AND sketch.bucket = substr(md5(probe.row || '|' || probe.token), 1, 2)
        |GROUP BY 1, 2, 3 ORDER BY rank""".stripMargin,

    "pivot_agg" ->
      """SELECT o_orderpriority,
        | CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
        | CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
        | CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_pending,
        | CAST(count(*) FILTER (WHERE o_orderstatus IN ('O','F','P')) AS BIGINT) AS n_total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q4_priority_exists" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_path_transitions" ->
      """WITH seq AS (
        | SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ns(ts)//1000000000, event_id) AS to_type
        | FROM events),
        |agg AS (
        | SELECT event_type AS from_type, to_type, CAST(count(*) AS BIGINT) AS n
        | FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        | round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM agg ORDER BY from_type, to_type""".stripMargin,

    "clean_url_canon" ->
      """WITH base AS (
        | SELECT p_partkey,
        |  'HTTPS://WWW.' || replace(p_name, ' ', '-') || '.Example.COM' AS host,
        |  '/catalog/' || replace(p_brand, '#', '') || '/item' AS path
        | FROM part),
        |variants AS (
        | SELECT p_partkey, unnest([
        |   host || ':443' || path,
        |   lower(host) || path || '?utm_source=crawl&utm_campaign=x',
        |   host || path || '/#section']) AS raw_url
        | FROM base),
        |canon AS (
        | SELECT p_partkey,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    lower(raw_url),
        |    '#.*$', '', 'g'), ':(443|80)/', '/', 'g'), 'utm_[a-z]+=[^&#]*&?', '', 'g'),
        |    '[?&]+$', '', 'g'), '\?&', '?', 'g'), '/$', '', 'g') AS u
        | FROM variants)
        |SELECT u AS canon_url, CAST(count(*) AS BIGINT) AS n_variants,
        | min(p_partkey) AS first_key
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin,

    "sample_hash_split" ->
      """WITH d AS (SELECT doc_id,
        |  list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1) * pow(16, 8-i)))
        |  / 4294967296.0 AS u
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
        | round(u, 6) AS u
        |FROM d ORDER BY doc_id""".stripMargin,

    "sample_shard_shuffle" ->
      """WITH d AS (SELECT doc_id,
        |  list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef', substr(md5(text || '#shuffle'), i, 1)) - 1)
        |      * pow(16, 8-i)))
        |  / 4294967296.0 AS u
        | FROM documents),
        |s AS (SELECT doc_id, CAST(floor(u * 8) AS INT) AS shard, u FROM d)
        |SELECT doc_id, shard,
        | CAST(row_number() OVER (PARTITION BY shard ORDER BY u, doc_id) AS INT) AS pos,
        | round(u, 6) AS u
        |FROM s ORDER BY shard, pos""".stripMargin,

    "q10_returned" ->
      """SELECT c_custkey, c_name, n_name,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        | JOIN customer ON o_custkey=c_custkey
        | JOIN nation ON c_nationkey=n_nationkey
        |WHERE l_returnflag='R'
        |GROUP BY 1,2,3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q14_promo_share" ->
      """WITH u AS (
        | SELECT strftime(l_shipdate, '%Y-%m') AS month, p_type,
        |  CAST(round(l_extendedprice*100) AS BIGINT)
        |   * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev
        | FROM lineitem JOIN part ON l_partkey=p_partkey),
        |m AS (
        | SELECT month,
        |  CAST((sum(CASE WHEN p_type='PROMO' THEN rev ELSE 0 END) + 50) // 100
        |   AS DOUBLE) / 100 AS promo_rev,
        |  CAST((sum(rev) + 50) // 100 AS DOUBLE) / 100 AS total_rev
        | FROM u GROUP BY 1)
        |SELECT month, promo_rev, total_rev,
        | round(promo_rev/total_rev, 6) AS promo_share
        |FROM m ORDER BY month""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        | SELECT l_suppkey, round(sum(l_extendedprice*(1.0-l_discount)),2) AS total_rev
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |   AND l_shipdate < TIMESTAMP '1997-04-01'
        | GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev JOIN supplier ON l_suppkey=s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        | SELECT l_orderkey, round(sum(l_quantity),2) AS sum_qty
        | FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity),2) > 300.0)
        |SELECT c_custkey, c_name, o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        | round(o_totalprice,2) AS o_totalprice, sum_qty
        |FROM orders JOIN big ON o_orderkey=l_orderkey
        | JOIN customer ON o_custkey=c_custkey
        |ORDER BY sum_qty DESC, o_orderkey""".stripMargin,

    "q19_disjunctive" ->
      """SELECT round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey=p_partkey
        |WHERE (p_brand='Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand='Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand='Brand#15' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "orders_rfm" ->
      """WITH rfm AS (
        | SELECT o_custkey,
        |  CAST(max(epoch(o_orderdate)) AS BIGINT) AS last_s,
        |  CAST(count(*) AS BIGINT) AS frequency,
        |  round(sum(o_totalprice),2) AS monetary
        | FROM orders GROUP BY 1),
        |r2 AS (
        | SELECT o_custkey,
        |  CAST((epoch(TIMESTAMP '2001-09-01') - last_s)//86400 AS BIGINT) AS recency_days,
        |  frequency, monetary FROM rfm),
        |med AS (
        | SELECT round(quantile_cont(recency_days, 0.5),4) AS r_med,
        |  round(quantile_cont(frequency, 0.5),4) AS f_med,
        |  round(quantile_cont(monetary, 0.5),4) AS m_med
        | FROM r2)
        |SELECT o_custkey, recency_days, frequency, monetary,
        | (CASE WHEN recency_days <= r_med THEN 'H' ELSE 'L' END ||
        |  CASE WHEN frequency > f_med THEN 'H' ELSE 'L' END ||
        |  CASE WHEN monetary > m_med THEN 'H' ELSE 'L' END) AS segment
        |FROM r2 CROSS JOIN med ORDER BY o_custkey""".stripMargin,

    "text_keywords_tfidf" ->
      """WITH tf AS (
        | SELECT doc_id, w AS token, CAST(count(*) AS BIGINT) AS c
        | FROM (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS w FROM documents)
        | GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |scored AS (
        | SELECT doc_id, tf.token AS token,
        |  round(c * ln(CAST(nd AS DOUBLE)/df), 6) AS tfidf
        | FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
        |ranked AS (
        | SELECT doc_id, token, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token) AS INT) AS rank
        | FROM scored)
        |SELECT doc_id, rank, token, tfidf FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "events_sliding_dau" ->
      """WITH du AS (
        | SELECT DISTINCT epoch_ns(ts)//1000000000//86400 AS day_idx, user_id
        | FROM events),
        |m AS (SELECT max(day_idx) AS maxd FROM du),
        |x AS (SELECT day_idx + unnest(generate_series(0, 6)) AS day, user_id FROM du)
        |SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau7
        |FROM x CROSS JOIN m WHERE day <= maxd
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "embed_label_stats" ->
      """WITH v AS (
        | SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        | FROM embeddings),
        |norms AS (
        | SELECT label, sqrt(list_sum(list_transform(ve, x -> x*x))) AS nrm FROM v),
        |mn AS (
        | SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(avg(nrm),6) AS mean_norm
        | FROM norms GROUP BY 1),
        |dims AS (
        | SELECT label, unnest(ve) AS x,
        |  unnest(generate_series(1, len(ve))) AS i
        | FROM v),
        |cent AS (SELECT label, i, round(avg(x),6) AS cx FROM dims GROUP BY 1, 2),
        |cn AS (
        | SELECT label, round(sqrt(sum(cx*cx)),6) AS centroid_norm
        | FROM cent GROUP BY 1)
        |SELECT mn.label AS label, n_vecs, mean_norm, centroid_norm
        |FROM mn JOIN cn ON mn.label = cn.label ORDER BY label""".stripMargin,

    "graph_pagerank" ->
      """WITH e AS (
        | SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        | FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM deg),
        |r0 AS (SELECT src AS node, 1.0/nn AS r FROM deg CROSS JOIN n),
        |it1 AS (
        | SELECT e.dst AS node, 0.15/nn + 0.85*sum(r/outdeg) AS r
        | FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
        |  CROSS JOIN n
        | GROUP BY e.dst, nn),
        |it2 AS (
        | SELECT e.dst AS node, 0.15/nn + 0.85*sum(r/outdeg) AS r
        | FROM e JOIN it1 ON e.src = it1.node JOIN deg ON e.src = deg.src
        |  CROSS JOIN n
        | GROUP BY e.dst, nn),
        |it3 AS (
        | SELECT e.dst AS node, 0.15/nn + 0.85*sum(r/outdeg) AS r
        | FROM e JOIN it2 ON e.src = it2.node JOIN deg ON e.src = deg.src
        |  CROSS JOIN n
        | GROUP BY e.dst, nn)
        |SELECT node AS p_partkey, round(r, 6) AS pagerank,
        | CAST(row_number() OVER (ORDER BY round(r, 6) DESC, node) AS INT) AS rank
        |FROM it3 ORDER BY rank LIMIT 20""".stripMargin,

    "grouping_sets_agg" ->
      """SELECT CAST(GROUPING(l_returnflag, o_orderpriority) AS BIGINT) AS gid,
        | coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | CAST(count(*) AS BIGINT) AS n_lines,
        | round(sum(l_extendedprice*(1.0-l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY GROUPING SETS ((l_returnflag, o_orderpriority),
        | (l_returnflag), (o_orderpriority), ())
        |ORDER BY gid, returnflag, priority""".stripMargin,

    "match_jaro" ->
      """WITH p0 AS (SELECT p_partkey, p_name,
        |   array_to_string(list_sort(string_split_regex(lower(trim(p_name)), '\s+')), ' ') AS norm
        | FROM part),
        |pp AS (SELECT p_partkey, p_name, norm,
        |   substr(norm, 1, 1) || regexp_replace(substr(norm, 2), '[aeiou]', '', 'g') AS blk
        | FROM p0),
        |l AS (SELECT p_partkey AS l_key, blk, norm AS l_norm
        |  FROM pp WHERE p_partkey % 2 = 0),
        |r AS (SELECT p_partkey AS r_key, p_name AS r_name, blk, norm AS r_norm
        |  FROM pp WHERE p_partkey % 2 = 1),
        |cand AS (SELECT l_key, r_key, r_name,
        |   round(jaro_winkler_similarity(l_norm, r_norm), 6) AS score
        |  FROM l JOIN r USING (blk)),
        |best AS (SELECT l_key, r_key, r_name, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_key ORDER BY score DESC, r_key) AS rn
        |  FROM cand WHERE score >= 0.8) t WHERE rn = 1)
        |SELECT l_key, r_key, r_name, score FROM best ORDER BY l_key""".stripMargin,

    "part_affinity" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS nn FROM op),
        |pc AS (SELECT p, CAST(count(*) AS BIGINT) AS np FROM op GROUP BY 1),
        |pairs AS (
        | SELECT a.p AS part_a, b.p AS part_b, CAST(count(*) AS BIGINT) AS n_ab
        | FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        | GROUP BY 1, 2 HAVING count(*) >= 5),
        |scored AS (
        | SELECT part_a, part_b, n_ab,
        |  round(CAST(n_ab AS DOUBLE)/nn, 6) AS support,
        |  round(CAST(n_ab AS DOUBLE)/pa.np, 6) AS confidence,
        |  round(CAST(n_ab AS DOUBLE)*nn/(pa.np*pb.np), 6) AS lift
        | FROM pairs CROSS JOIN n
        |  JOIN pc pa ON part_a = pa.p JOIN pc pb ON part_b = pb.p)
        |SELECT part_a, part_b, n_ab, support, confidence, lift,
        | CAST(row_number() OVER (ORDER BY lift DESC, part_a, part_b) AS INT) AS rank
        |FROM scored ORDER BY rank LIMIT 20""".stripMargin,

    "approx_quantiles_sampled" ->
      """WITH e AS (
        | SELECT event_type, value,
        |  list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |            substr(md5(CAST(event_id AS VARCHAR)), i, 1)) - 1)
        |         * pow(16, 8-i))) / 4294967296.0 AS u
        | FROM events),
        |full_q AS (
        | SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50_exact,
        |  round(quantile_cont(value, 0.9), 6) AS p90_exact,
        |  round(quantile_cont(value, 0.99), 6) AS p99_exact
        | FROM e GROUP BY 1),
        |samp AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n_sample,
        |  round(quantile_cont(value, 0.5), 6) AS p50_est,
        |  round(quantile_cont(value, 0.9), 6) AS p90_est,
        |  round(quantile_cont(value, 0.99), 6) AS p99_est
        | FROM e WHERE u < 0.1 GROUP BY 1)
        |SELECT full_q.event_type AS event_type,
        | p50_exact, p90_exact, p99_exact,
        | n_sample, p50_est, p90_est, p99_est,
        | round(abs(p50_est - p50_exact), 6) AS p50_err,
        | round(abs(p90_est - p90_exact), 6) AS p90_err
        |FROM full_q JOIN samp ON full_q.event_type = samp.event_type
        |ORDER BY event_type""".stripMargin,

    "orders_scd2" ->
      """WITH base AS (
        | SELECT o_custkey, o_orderkey,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS valid_from_s,
        |  round(o_totalprice, 2) AS o_totalprice
        | FROM orders),
        |v AS (
        | SELECT o_custkey, o_orderkey, valid_from_s, o_totalprice,
        |  CAST(row_number() OVER w AS INT) AS version,
        |  coalesce(lead(valid_from_s) OVER w, 253402300799) AS valid_to_s
        | FROM base
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from_s, o_orderkey))
        |SELECT o_custkey, version, o_orderkey, valid_from_s,
        | CAST(valid_to_s AS BIGINT) AS valid_to_s, o_totalprice,
        | CAST(CASE WHEN valid_to_s = 253402300799 THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM v ORDER BY o_custkey, version""".stripMargin,

    "events_gap_fill" ->
      """WITH hourly AS (
        | SELECT event_type, epoch_ns(ts)//1000000000//3600 AS h,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(h0, h1)) AS h FROM b),
        |ff AS (
        | SELECT g.event_type, g.h, max(hr.h) AS src_h
        | FROM grid g JOIN hourly hr
        |   ON hr.event_type = g.event_type AND hr.h <= g.h
        | GROUP BY 1, 2)
        |SELECT ff.event_type AS event_type, ff.h AS hour,
        | CASE WHEN ff.src_h = ff.h THEN f.n ELSE CAST(0 AS BIGINT) END AS n_observed,
        | f.n AS n_filled,
        | CAST(CASE WHEN ff.src_h = ff.h THEN 0 ELSE 1 END AS INT) AS is_gap
        |FROM ff JOIN hourly f
        |  ON f.event_type = ff.event_type AND f.h = ff.src_h
        |ORDER BY event_type, hour""".stripMargin,

    "customer_pareto" ->
      """WITH rev AS (
        | SELECT o_custkey, round(sum(o_totalprice),2) AS rev
        | FROM orders GROUP BY 1),
        |b AS (SELECT
        | round(quantile_cont(rev, 0.1),4) AS b1, round(quantile_cont(rev, 0.2),4) AS b2,
        | round(quantile_cont(rev, 0.3),4) AS b3, round(quantile_cont(rev, 0.4),4) AS b4,
        | round(quantile_cont(rev, 0.5),4) AS b5, round(quantile_cont(rev, 0.6),4) AS b6,
        | round(quantile_cont(rev, 0.7),4) AS b7, round(quantile_cont(rev, 0.8),4) AS b8,
        | round(quantile_cont(rev, 0.9),4) AS b9
        | FROM rev),
        |d AS (
        | SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
        |  round(sum(rev),2) AS decile_rev
        | FROM (SELECT rev,
        |   (CASE WHEN rev > b1 THEN 1 ELSE 0 END + CASE WHEN rev > b2 THEN 1 ELSE 0 END +
        |    CASE WHEN rev > b3 THEN 1 ELSE 0 END + CASE WHEN rev > b4 THEN 1 ELSE 0 END +
        |    CASE WHEN rev > b5 THEN 1 ELSE 0 END + CASE WHEN rev > b6 THEN 1 ELSE 0 END +
        |    CASE WHEN rev > b7 THEN 1 ELSE 0 END + CASE WHEN rev > b8 THEN 1 ELSE 0 END +
        |    CASE WHEN rev > b9 THEN 1 ELSE 0 END) AS decile
        |  FROM rev CROSS JOIN b) GROUP BY 1),
        |t AS (SELECT sum(decile_rev) AS total_rev FROM d),
        |ws AS (
        | SELECT decile, n_customers, decile_rev,
        |  round(decile_rev/total_rev, 6) AS rev_share, total_rev
        | FROM d CROSS JOIN t),
        |cum AS (
        | SELECT a.decile AS decile,
        |  round(sum(b.decile_rev/b.total_rev),6) AS cum_share_from_top
        | FROM ws a JOIN ws b ON b.decile >= a.decile GROUP BY 1)
        |SELECT ws.decile AS decile, n_customers, decile_rev, rev_share,
        | cum_share_from_top
        |FROM ws JOIN cum ON ws.decile = cum.decile
        |ORDER BY decile DESC""".stripMargin,

    "pack_sequences" ->
      """WITH d AS (
        | SELECT doc_id, lang, CAST(doc_id % 8 AS INT) AS shard,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (
        | SELECT doc_id, lang, shard, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        | FROM d)
        |SELECT doc_id, lang, shard, n_tokens,
        | CAST((cum_tokens - n_tokens)//2048 AS BIGINT) AS bin,
        | CAST(cum_tokens - n_tokens AS BIGINT) AS start_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "q7_volume" ->
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS INT) AS l_year,
        | round(sum(l_extendedprice*(1.0-l_discount)), 2) AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ns ON s_nationkey = ns.n_nationkey
        |JOIN nation nc ON c_nationkey = nc.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ns.n_name IN ('NATION_3','NATION_8')
        |  AND nc.n_name IN ('NATION_3','NATION_8')
        |  AND ns.n_name <> nc.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q9_profit" ->
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
        | round(sum(l_extendedprice*(1.0-l_discount)
        |   - p_retailprice*l_quantity*0.1), 2) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_type = 'ECONOMY'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q21_sole_supplier" ->
      """WITH late AS (
        | SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag='R'),
        |alll AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS waiting
        |FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (SELECT 1 FROM alll a
        |   WHERE a.l_orderkey = l1.l_orderkey AND a.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l2
        |   WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name ORDER BY waiting DESC, s_name LIMIT 20""".stripMargin,

    "q22_idle_balance" ->
      """WITH pos AS (SELECT * FROM customer WHERE c_acctbal > 0),
        |a AS (SELECT avg(c_acctbal) AS avg_bal FROM pos),
        |active AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
        | round(sum(c_acctbal), 2) AS total_bal
        |FROM pos, a
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM active WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sample_temperature" ->
      """WITH bylang AS (
        | SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |p AS (SELECT lang, n_docs, pow(CAST(n_docs AS DOUBLE), 0.3) AS p_raw FROM bylang),
        |t AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS total_docs, sum(p_raw) AS p_sum FROM p),
        |rates AS (SELECT lang, round(least(CAST(1.0 AS DOUBLE),
        |   p_raw / (SELECT p_sum FROM t) * (SELECT total_docs FROM t) * 0.5
        |     / CAST(n_docs AS DOUBLE)), 6) AS keep_rate FROM p),
        |u AS (SELECT doc_id, lang,
        |   list_sum(list_transform(generate_series(1, 8),
        |     i -> (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1) * pow(16, 8-i)))
        |   / 4294967296.0 AS u FROM documents)
        |SELECT u.doc_id, u.lang, rates.keep_rate, round(u.u, 6) AS u
        |FROM u JOIN rates ON u.lang = rates.lang
        |WHERE u.u < rates.keep_rate ORDER BY doc_id""".stripMargin,

    "chunk_overlap" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(text, '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, ts,
        |   unnest(generate_series(0, len(ts) - 1, 48)) AS start FROM tok)
        |SELECT doc_id, CAST(start // 48 AS INT) AS chunk_id,
        | CAST(start AS BIGINT) AS start_tok,
        | CAST(least(64, len(ts) - start) AS BIGINT) AS n_tok,
        | md5(array_to_string(ts[start + 1 : start + 64], ' ')) AS chunk_md5
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    "approx_distinct_kmv_agg" ->
      """WITH tok AS (
        | SELECT lang, unnest(string_split_regex(text, '\s+')) AS token FROM documents),
        |h AS (SELECT DISTINCT lang,
        |   list_sum(list_transform(generate_series(1, 8),
        |     i -> (strpos('0123456789abcdef', substr(md5(token), i, 1)) - 1) * pow(16, 8-i)))
        |   AS hv FROM tok),
        |r AS (SELECT lang AS klang, hv,
        |   row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn FROM h),
        |k AS (SELECT klang, count(*) AS m,
        |   max(CASE WHEN rn = 64 THEN hv END) AS hk FROM r WHERE rn <= 64 GROUP BY 1),
        |e AS (SELECT lang, CAST(count(DISTINCT token) AS BIGINT) AS n_exact
        |   FROM tok GROUP BY 1)
        |SELECT e.lang,
        | CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
        |      ELSE round(63.0 / (hk / 4294967296.0), 6) END AS approx_distinct,
        | e.n_exact
        |FROM k JOIN e ON k.klang = e.lang ORDER BY e.lang""".stripMargin,

    "q6_forecast" ->
      """SELECT round(CAST(sum(l_extendedprice * l_discount) AS DOUBLE), 2) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.04 AND l_discount <= 0.06 AND l_quantity < 24""".stripMargin,

    "q12_priority_class" ->
      """SELECT l_returnflag,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q13_custdist" ->
      """WITH o AS (SELECT o_custkey, o_orderkey FROM orders
        |  WHERE o_orderpriority <> '1-URGENT'),
        |c AS (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN o ON c_custkey = o_custkey GROUP BY 1)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM c GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q2_min_cost" ->
      """WITH p AS (SELECT p_partkey, p_name FROM part
        |  WHERE p_type = 'STANDARD' AND p_size >= 40),
        |cost AS (SELECT p_partkey, l_suppkey,
        |   min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem JOIN p ON l_partkey = p_partkey GROUP BY 1, 2),
        |best AS (SELECT p_partkey, unit_cost, l_suppkey AS s_suppkey FROM (
        |  SELECT *, row_number() OVER (PARTITION BY p_partkey
        |    ORDER BY unit_cost, l_suppkey) AS rn FROM cost) t WHERE rn = 1)
        |SELECT best.p_partkey, p.p_name, s_name, n_name AS nation, unit_cost,
        | s_acctbal
        |FROM best JOIN supplier ON best.s_suppkey = supplier.s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN p ON best.p_partkey = p.p_partkey
        |ORDER BY s_acctbal DESC, best.p_partkey LIMIT 100""".stripMargin,

    "q11_important_stock" ->
      """WITH s AS (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5),
        |pp AS (SELECT l_partkey AS p_partkey,
        |   round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS stock_value
        |  FROM lineitem JOIN s ON l_suppkey = s_suppkey GROUP BY 1),
        |t AS (SELECT round(0.001 * sum(stock_value), 2) AS threshold FROM pp)
        |SELECT p_partkey, stock_value FROM pp, t
        |WHERE stock_value > threshold
        |ORDER BY stock_value DESC, p_partkey""".stripMargin,

    "q16_supplier_cnt" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_type, p_size FROM part
        |  WHERE p_type <> 'STANDARD' AND p_size IN (1, 10, 20, 30, 40, 50))
        |SELECT p_brand, p_type, p_size,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN p ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q17_small_qty" ->
      """WITH p AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#5'),
        |sl AS (SELECT p_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN p ON l_partkey = p_partkey),
        |caps AS (SELECT p_partkey, 0.2 * avg(l_quantity) AS qty_cap
        |  FROM sl GROUP BY 1)
        |SELECT round(CAST(sum(l_extendedprice) AS DOUBLE) / 7.0, 2) AS avg_yearly,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM sl JOIN caps USING (p_partkey)
        |WHERE l_quantity < qty_cap""".stripMargin,

    "q20_excess_share" ->
      """WITH p AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
        |ps AS (SELECT p_partkey, l_suppkey, sum(l_quantity) AS supp_qty
        |  FROM lineitem JOIN p ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |pt AS (SELECT p_partkey, sum(supp_qty) AS part_qty FROM ps GROUP BY 1),
        |dom AS (SELECT DISTINCT l_suppkey FROM ps JOIN pt USING (p_partkey)
        |  WHERE supp_qty > 0.5 * part_qty)
        |SELECT s_name, s_nationkey FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM dom) AND s_nationkey < 13
        |ORDER BY s_name""".stripMargin,

    "dedup_semantic" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM e),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c,
        |   list_sum(list_transform(v, x -> x*x)) AS c2 FROM e WHERE vec_id < 8),
        |p1 AS (SELECT vec_id, cid, round(n2
        |   - 2*list_sum(list_transform(generate_series(1, len(v)), i -> v[i]*c[i]))
        |   + c2, 6) AS d2
        |  FROM n CROSS JOIN c0),
        |a1 AS (SELECT vec_id, cid AS cluster FROM (
        |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |   FROM p1) t WHERE rn = 1),
        |w AS (SELECT a1.vec_id, cluster, v, sqrt(n2) AS nm
        |  FROM a1 JOIN n USING (vec_id)),
        |pairs AS (SELECT a.vec_id AS i, b.vec_id AS j,
        |   round(list_sum(list_transform(generate_series(1, len(a.v)),
        |     k -> a.v[k]*b.v[k])) / (a.nm*b.nm), 6) AS cosine
        |  FROM w a JOIN w b ON a.cluster = b.cluster AND b.vec_id < a.vec_id),
        |hits AS (SELECT i, min(j) AS dup_of, max(cosine) AS max_cos
        |  FROM pairs WHERE cosine >= 0.3 GROUP BY 1)
        |SELECT a1.vec_id, a1.cluster,
        | CASE WHEN dup_of IS NULL THEN 'keep' ELSE 'drop' END AS verdict,
        | dup_of, max_cos
        |FROM a1 LEFT JOIN hits ON a1.vec_id = hits.i
        |ORDER BY a1.vec_id""".stripMargin,

    "quality_classifier" -> qualityClassifierSql,

    "tokenizer_oov" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents),
        |v AS (SELECT token FROM (SELECT token, count(*) AS cnt FROM tok
        |   GROUP BY 1 ORDER BY cnt DESC, token LIMIT 256) q)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        | round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS oov_rate
        |FROM tok LEFT JOIN v ON tok.token = v.token
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "graph_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |d AS (SELECT node, count(*) AS dg FROM (
        |   SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) nn GROUP BY 1),
        |orient AS (SELECT
        |   CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v) THEN u ELSE v END AS src,
        |   CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v) THEN v ELSE u END AS dst
        |  FROM e JOIN d du ON e.u = du.node JOIN d dv ON e.v = dv.node),
        |w AS (SELECT x.src AS a, x.dst AS n1, y.dst AS n2
        |  FROM orient x JOIN orient y ON x.src = y.src AND x.dst < y.dst),
        |tri AS (SELECT a, n1, n2 FROM w JOIN e ON n1 = e.u AND n2 = e.v),
        |pn AS (SELECT node AS p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM (SELECT a AS node FROM tri UNION ALL SELECT n1 FROM tri
        |        UNION ALL SELECT n2 FROM tri) t
        |  GROUP BY 1)
        |SELECT p_partkey, n_triangles,
        | CAST(row_number() OVER (ORDER BY n_triangles DESC, p_partkey) AS INT) AS rank
        |FROM pn ORDER BY rank LIMIT 20""".stripMargin,

    "orders_concurrency" ->
      """WITH o AS (SELECT CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS d FROM orders),
        |deltas AS (SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM (
        |   SELECT d AS day, 1 AS delta FROM o
        |   UNION ALL SELECT d + 30, -1 FROM o) t GROUP BY 1)
        |SELECT day, net,
        | CAST(sum(net) OVER (ORDER BY day) AS BIGINT) AS open_orders
        |FROM deltas ORDER BY day""".stripMargin,

    "lineitem_monthly_yoy" ->
      """WITH m AS (SELECT CAST(year(l_shipdate) AS INT) AS yr,
        |   CAST(month(l_shipdate) AS INT) AS mo,
        |   CAST((sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |     * (100 - CAST(round(l_discount*100) AS BIGINT))) + 50) // 100
        |    AS DOUBLE) / 100 AS revenue
        |  FROM lineitem GROUP BY 1, 2),
        |l AS (SELECT *, lag(yr) OVER (PARTITION BY mo ORDER BY yr) AS prev_yr,
        |   lag(revenue) OVER (PARTITION BY mo ORDER BY yr) AS prev_rev
        |  FROM m)
        |SELECT yr, mo, revenue,
        | CASE WHEN yr - prev_yr = 1 THEN prev_rev END AS prev_year_revenue,
        | CASE WHEN yr - prev_yr = 1
        |      THEN round((revenue - prev_rev) / prev_rev * 100.0, 4) END AS yoy_pct
        |FROM l ORDER BY yr, mo""".stripMargin,

    "events_cohort_ltv" ->
      """WITH e AS (SELECT *, epoch_ns(ts)//1000000000//604800 AS week FROM events),
        |cohort AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
        |sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM cohort GROUP BY 1),
        |cells AS (SELECT cohort_week, week - cohort_week AS week_offset,
        |   round(sum(value), 2) AS revenue,
        |   CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_buyers
        |  FROM e JOIN cohort ON e.user_id = cohort.user_id
        |  WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, revenue, n_buyers, cohort_size,
        | round(revenue / cohort_size, 6) AS ltv_per_user
        |FROM cells JOIN sizes USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // star-shaped closure: every customer has exactly ONE best-match
    // supplier, so a component's min node is min(2·custkey, 2·supp+1)
    // over the supplier's star — the window form is exact here; the
    // Spark side runs the general label propagation.
    "entity_canonical" ->
      s"""WITH $fuzzyBestCte,
        |ed AS (SELECT c_custkey * 2 AS cnode, s_suppkey * 2 + 1 AS snode
        |  FROM fuzzy_best),
        |scomp AS (SELECT snode, least(min(cnode), snode) AS entity_id
        |  FROM ed GROUP BY snode)
        |SELECT node_type, key, entity_id FROM (
        | SELECT 'customer' AS node_type, cnode // 2 AS key, entity_id
        |  FROM ed JOIN scomp USING (snode)
        | UNION ALL
        | SELECT 'supplier' AS node_type, snode // 2 AS key, entity_id
        |  FROM scomp) u
        |ORDER BY node_type, key""".stripMargin,

    "events_user_profile" ->
      """WITH e AS (SELECT *, epoch_ns(ts)//1000000000 AS ts_s FROM events)
        |SELECT user_id,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT ts_s // 86400) AS BIGINT) AS active_days,
        | min(ts_s) AS first_s, max(ts_s) AS last_s,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signups,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        | round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS purchase_value
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,

    "mm_audio_windows" ->
      """WITH d AS (SELECT doc_id AS media_id, text,
        |   length(text) // 16 AS n_frames
        |  FROM documents WHERE length(text) >= 16),
        |f AS (SELECT media_id, text,
        |   unnest(generate_series(0, n_frames - 1)) AS frame_idx FROM d),
        |fr AS (SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |   substr(text, frame_idx * 16 + 1, 16) AS frame FROM f),
        |s AS (SELECT media_id, frame_idx, frame,
        |   list_transform(generate_series(1, 16),
        |     i -> CAST(ord(substr(frame, i, 1)) AS BIGINT)) AS samples FROM fr)
        |SELECT media_id, frame_idx,
        | CAST(list_sum(samples) AS BIGINT) AS sum_amp,
        | CAST(list_max(samples) AS BIGINT) AS peak,
        | CAST(list_sum(list_transform(samples, x -> x * x)) AS BIGINT) AS energy,
        | substr(md5(frame), 1, 16) AS frame_sig
        |FROM s ORDER BY media_id, frame_idx""".stripMargin,

    "embed_quantize_int8" ->
      """WITH dims AS (
        | SELECT CAST(i AS INT) AS dim, CAST(embedding[i] AS DOUBLE) AS x
        | FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
        |sc AS (SELECT dim, max(abs(x)) AS scale FROM dims GROUP BY dim
        |       HAVING max(abs(x)) > 0),
        |q AS (SELECT dims.dim, sc.scale,
        |   CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT) AS code, x
        | FROM dims JOIN sc ON dims.dim = sc.dim)
        |SELECT dim, max(scale) AS scale,
        | round(avg(abs(x - code * scale / 127.0)), 6) AS avg_abs_err,
        | CAST(max(abs(code)) AS BIGINT) AS max_code
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin,

    "bpe_train_rounds" -> bpeTrainRoundsSql,

    "bpe_pair_merge" ->
      """WITH w AS (SELECT unnest(string_split_regex(text, '\s+')) AS w
        |  FROM documents),
        |f AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM w
        |      WHERE len(w) >= 2 GROUP BY w),
        |p AS (SELECT substring(w, CAST(i AS INT), 2) AS pair, freq
        |      FROM f, unnest(generate_series(1, len(w) - 1)) AS t(i)),
        |a AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY pair)
        |SELECT pair, cnt, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank
        | FROM a) t
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "events_attribution" ->
      """WITH e AS (SELECT *, epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |w AS (SELECT *,
        |  last_value(CASE WHEN event_type IN ('view','click') THEN event_type END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |          ROWS UNBOUNDED PRECEDING) AS t_type
        | FROM e),
        |p AS (SELECT coalesce(t_type, 'unattributed') AS channel, value
        |      FROM w WHERE event_type = 'purchase'),
        |a AS (SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
        |      round(sum(value), 2) AS revenue FROM p GROUP BY channel),
        |t AS (SELECT round(sum(value), 2) AS tot FROM p)
        |SELECT channel, n_purchases, revenue,
        | round(revenue / tot, 6) AS rev_share
        |FROM a CROSS JOIN t ORDER BY channel""".stripMargin,

    "events_session_stats" ->
      """WITH e AS (SELECT *, epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |f AS (SELECT *, CASE WHEN ts_s - lag(ts_s) OVER
        |        (PARTITION BY user_id ORDER BY ts_s, event_id) > 1800
        |      THEN 1 ELSE 0 END AS new_session FROM e),
        |g AS (SELECT *, sum(new_session) OVER
        |        (PARTITION BY user_id ORDER BY ts_s, event_id
        |         ROWS UNBOUNDED PRECEDING) AS session_idx FROM f),
        |s AS (SELECT user_id, session_idx, count(*) AS n_events,
        |      max(ts_s) - min(ts_s) AS duration_s
        |      FROM g GROUP BY user_id, session_idx),
        |b AS (SELECT CASE WHEN n_events = 1 THEN '1'
        |             WHEN n_events <= 4 THEN '2-4'
        |             WHEN n_events <= 9 THEN '5-9'
        |             ELSE '10+' END AS bucket, n_events, duration_s FROM s)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_sessions,
        | round(avg(n_events), 6) AS avg_events,
        | round(avg(duration_s), 6) AS avg_duration_s
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "orders_ntile" ->
      """WITH spend AS (
        | SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
        | FROM orders GROUP BY o_custkey),
        |ranked AS (
        | SELECT c_nationkey, spend,
        |  CAST(ntile(4) OVER (PARTITION BY c_nationkey
        |                 ORDER BY spend DESC, c_custkey) AS INT) AS quartile
        | FROM spend JOIN customer ON o_custkey = c_custkey)
        |SELECT CAST(c_nationkey AS INT) AS nationkey, quartile,
        | CAST(count(*) AS BIGINT) AS n_cust,
        | round(sum(spend), 2) AS quartile_spend
        |FROM ranked GROUP BY 1, 2 ORDER BY nationkey, quartile""".stripMargin,

    "knn_pq_adc" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |su AS (SELECT vec_id, m, list_slice(v, m*4 + 1, (m+1)*4) AS sv
        |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS m) ms),
        |s2 AS (SELECT vec_id, m, sv,
        |   list_sum(list_transform(sv, x -> x*x)) AS s2 FROM su),
        |c0 AS (SELECT m, CAST(vec_id AS INT) AS cid, sv AS c,
        |   list_sum(list_transform(sv, x -> x*x)) AS c2 FROM s2 WHERE vec_id < 64),
        |p1 AS (SELECT s.vec_id, s.m, c0.cid, round(s.s2
        |   - 2*list_sum(list_transform(generate_series(1, 4), i -> s.sv[i]*c0.c[i]))
        |   + c0.c2, 6) AS d2
        |  FROM s2 s JOIN c0 ON s.m = c0.m),
        |a1 AS (SELECT vec_id, m, cid AS code FROM (
        |   SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        |   FROM p1) t WHERE rn = 1),
        |mx AS (SELECT a1.m, a1.code AS cid, unnest(generate_series(1, 4)) AS dim,
        |   unnest(s.sv) AS x
        |  FROM a1 JOIN s2 s USING (vec_id, m)),
        |m1 AS (SELECT m, cid, dim, round(avg(x), 6) AS cx FROM mx GROUP BY 1, 2, 3),
        |c1 AS (SELECT m, cid, list(cx ORDER BY dim) AS c FROM m1 GROUP BY 1, 2),
        |c1b AS (SELECT m, cid, c, list_sum(list_transform(c, x -> x*x)) AS c2 FROM c1),
        |p2 AS (SELECT s.vec_id, s.m, c1b.cid, round(s.s2
        |   - 2*list_sum(list_transform(generate_series(1, 4), i -> s.sv[i]*c1b.c[i]))
        |   + c1b.c2, 6) AS d2
        |  FROM s2 s JOIN c1b ON s.m = c1b.m),
        |codes AS (SELECT vec_id, m, cid AS code FROM (
        |   SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        |   FROM p2) t WHERE rn = 1),
        |q AS (SELECT m, sv AS qv, s2 AS q2 FROM s2 WHERE vec_id = 0),
        |lut AS (SELECT c1b.m, c1b.cid AS code, round(q.q2
        |   - 2*list_sum(list_transform(generate_series(1, 4), i -> q.qv[i]*c1b.c[i]))
        |   + c1b.c2, 6) AS qd2
        |  FROM c1b JOIN q ON c1b.m = q.m),
        |adc AS (SELECT vec_id, round(sum(qd2), 6) AS adc_d2
        |  FROM codes JOIN lut USING (m, code) WHERE vec_id <> 0 GROUP BY vec_id)
        |SELECT vec_id, adc_d2, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY adc_d2, vec_id) AS INT) AS rank
        | FROM adc) t
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "knn_ivfpq" -> knnIvfPqSql,

    "embed_pq_distortion" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |su AS (SELECT vec_id, m, list_slice(v, m*4 + 1, (m+1)*4) AS sv
        |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS m) ms),
        |s2 AS (SELECT vec_id, m, sv,
        |   list_sum(list_transform(sv, x -> x*x)) AS s2 FROM su),
        |c0 AS (SELECT m, CAST(vec_id AS INT) AS cid, sv AS c,
        |   list_sum(list_transform(sv, x -> x*x)) AS c2 FROM s2 WHERE vec_id < 64),
        |p1 AS (SELECT s.vec_id, s.m, c0.cid, round(s.s2
        |   - 2*list_sum(list_transform(generate_series(1, 4), i -> s.sv[i]*c0.c[i]))
        |   + c0.c2, 6) AS d2
        |  FROM s2 s JOIN c0 ON s.m = c0.m),
        |a1 AS (SELECT vec_id, m, cid AS code FROM (
        |   SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        |   FROM p1) t WHERE rn = 1),
        |mx AS (SELECT a1.m, a1.code AS cid, unnest(generate_series(1, 4)) AS dim,
        |   unnest(s.sv) AS x
        |  FROM a1 JOIN s2 s USING (vec_id, m)),
        |m1 AS (SELECT m, cid, dim, round(avg(x), 6) AS cx FROM mx GROUP BY 1, 2, 3),
        |c1 AS (SELECT m, cid, list(cx ORDER BY dim) AS c FROM m1 GROUP BY 1, 2),
        |c1b AS (SELECT m, cid, c, list_sum(list_transform(c, x -> x*x)) AS c2 FROM c1),
        |p2 AS (SELECT s.vec_id, s.m, c1b.cid, round(s.s2
        |   - 2*list_sum(list_transform(generate_series(1, 4), i -> s.sv[i]*c1b.c[i]))
        |   + c1b.c2, 6) AS d2
        |  FROM s2 s JOIN c1b ON s.m = c1b.m),
        |codes AS (SELECT vec_id, m, cid AS code FROM (
        |   SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        |   FROM p2) t WHERE rn = 1),
        |dist AS (SELECT p2.m, p2.d2, s.s2
        |  FROM p2 JOIN codes k ON p2.vec_id = k.vec_id AND p2.m = k.m
        |    AND p2.cid = k.code
        |  JOIN s2 s ON p2.vec_id = s.vec_id AND p2.m = s.m),
        |agg AS (SELECT m, CAST(count(*) AS BIGINT) AS n_vecs,
        |   round(avg(d2), 6) AS mse, round(avg(s2), 6) AS mean_energy
        |  FROM dist GROUP BY m)
        |SELECT m, n_vecs, mse, mean_energy,
        |  round(mse / mean_energy, 6) AS err_share
        |FROM agg ORDER BY m""".stripMargin,
    "knn_recall_pq" ->
      s"""WITH truth AS (SELECT vec_id FROM ($knnBruteSql) b WHERE rank <= 5),
         |got AS (SELECT vec_id FROM ($knnIvfPqSql) g)
         |SELECT CAST(5 AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_hits,
         | round(CAST(count(*) AS BIGINT)/5.0, 6) AS recall
         |FROM got JOIN truth USING (vec_id)""".stripMargin,

    "knn_recall_eval" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS norm,
        |   CAST(list_sum(list_transform(generate_series(1, 8),
        |     i -> CASE WHEN v[i] >= 0.0 THEN CAST(pow(2, i-1) AS BIGINT)
        |          ELSE 0 END)) AS BIGINT) AS bucket
        | FROM e),
        |q AS (SELECT v, norm, bucket FROM n WHERE vec_id = 0),
        |scored AS (SELECT n.vec_id, round(list_sum(list_transform(
        |    generate_series(1, len(n.v)), i -> n.v[i]*q.v[i])) / (q.norm*n.norm), 6) AS cosine
        |  FROM n CROSS JOIN q WHERE n.vec_id <> 0),
        |truth AS (SELECT vec_id FROM (
        |  SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rnk
        |  FROM scored) t WHERE rnk <= 10),
        |cands AS (SELECT n.vec_id FROM n JOIN q
        |  ON bit_count(xor(n.bucket, q.bucket)) <= 1 WHERE n.vec_id <> 0),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cands),
        |h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM truth
        |      WHERE vec_id IN (SELECT vec_id FROM cands))
        |SELECT 10 AS k, n_candidates, n_hits,
        | round(CAST(n_hits AS DOUBLE) / 10.0, 6) AS recall
        |FROM nc CROSS JOIN h""".stripMargin,

    "events_heatmap" ->
      """WITH e AS (SELECT *, epoch_ns(ts)//1000000000 AS ts_s FROM events)
        |SELECT (ts_s // 86400 + 4) % 7 AS dow,
        | (ts_s % 86400) // 3600 AS hour,
        | CAST(count(*) AS BIGINT) AS n_events,
        | round(sum(value), 2) AS value_sum
        |FROM e GROUP BY 1, 2 ORDER BY dow, hour""".stripMargin,

    "events_decayed_score" ->
      """WITH e AS (SELECT *, epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |h AS (SELECT max(ts_s) AS h FROM e),
        |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value * exp((ts_s - h) / 604800.0)), 6) AS decayed_score
        | FROM e CROSS JOIN h GROUP BY user_id)
        |SELECT user_id, n_events, decayed_score,
        | CAST(row_number() OVER (ORDER BY decayed_score DESC, user_id) AS INT) AS rank
        |FROM s ORDER BY rank LIMIT 20""".stripMargin,

    "events_key_skew" ->
      """WITH k AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_keys FROM k),
        |top AS (SELECT CAST(sum(c) AS BIGINT) AS top10 FROM (
        |  SELECT c FROM k ORDER BY c DESC, user_id LIMIT 10)),
        |mx AS (SELECT max(c) AS mc FROM k),
        |h AS (SELECT -sum(p * ln(p)) AS ent FROM (
        |  SELECT c * 1.0 / (SELECT n_rows FROM t) AS p FROM k))
        |SELECT n_keys, n_rows,
        | round(mc * 1.0 / n_rows, 6) AS max_share,
        | round(top10 * 1.0 / n_rows, 6) AS top10_share,
        | round(ent, 6) AS entropy,
        | round(mc * 1.0 * n_keys / n_rows, 6) AS skew_ratio
        |FROM t CROSS JOIN mx CROSS JOIN top CROSS JOIN h""".stripMargin,

    "events_seasonal" ->
      """WITH e AS (SELECT epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |h AS (SELECT (ts_s // 3600) * 3600 AS hour_ts,
        |   CAST(count(*) AS BIGINT) AS n_events FROM e GROUP BY 1),
        |h2 AS (SELECT *, (hour_ts % 604800) // 3600 AS slot FROM h),
        |b AS (SELECT slot, round(avg(CAST(n_events AS DOUBLE)), 6) AS slot_mean,
        |   round(stddev_samp(CAST(n_events AS DOUBLE)), 6) AS slot_std
        |  FROM h2 GROUP BY 1),
        |s AS (SELECT hour_ts, slot, n_events, slot_mean,
        |   round((CAST(n_events AS DOUBLE) - slot_mean)/slot_std, 6) AS z
        |  FROM h2 JOIN b USING (slot) WHERE slot_std > 0)
        |SELECT hour_ts, slot, n_events, slot_mean, z, rank FROM (
        | SELECT *, CAST(row_number() OVER (ORDER BY abs(z) DESC, hour_ts) AS INT) AS rank
        | FROM s) t
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "events_conversions" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  epoch_ns(ts)//1000000000 AS ts_s
        | FROM events WHERE event_type IN ('view', 'purchase')),
        |w AS (SELECT *,
        |  last_value(CASE WHEN event_type = 'view' THEN ts_s END IGNORE NULLS)
        |    OVER win AS pv_ts,
        |  last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |    OVER win AS pv_id,
        |  last_value(CASE WHEN event_type = 'purchase' THEN ts_s END IGNORE NULLS)
        |    OVER win AS pp_ts,
        |  last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
        |    OVER win AS pp_id
        | FROM e
        | WINDOW win AS (PARTITION BY user_id ORDER BY ts_s, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, pv_id AS view_event, event_id AS purchase_event,
        | ts_s - pv_ts AS latency_s
        |FROM w
        |WHERE event_type = 'purchase' AND pv_ts IS NOT NULL
        | AND (pp_ts IS NULL OR (pp_ts, pp_id) < (pv_ts, pv_id))
        | AND ts_s - pv_ts <= 1800
        |ORDER BY purchase_event""".stripMargin,

    "events_new_vs_returning" ->
      """WITH p AS (SELECT DISTINCT user_id,
        |  epoch_ns(ts)//1000000000//86400 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM p GROUP BY 1)
        |SELECT day,
        | CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        | CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
        | CAST(count(*) AS BIGINT) AS dau
        |FROM p JOIN f USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin,

    "events_attribution_linear" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |  epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |p AS (SELECT event_id AS p_id, user_id, ts_s, value FROM e
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_type AS channel, ts_s AS t_ts FROM e
        |  WHERE event_type IN ('view', 'click')),
        |pairs AS (SELECT p.p_id, p.value, t.channel
        |  FROM p JOIN t ON p.user_id = t.user_id
        |  WHERE t.t_ts >= p.ts_s - 1800 AND t.t_ts < p.ts_s),
        |c AS (SELECT *, value / count(*) OVER (PARTITION BY p_id) AS credit
        |  FROM pairs)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
        | round(sum(credit), 6) AS credited_revenue
        |FROM c GROUP BY channel ORDER BY channel""".stripMargin,

    "events_bot_detect" ->
      """WITH e AS (SELECT user_id, event_id,
        |  epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |g AS (SELECT user_id,
        |  CAST(ts_s - lag(ts_s) OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id) AS DOUBLE) AS gap FROM e),
        |gg AS (SELECT user_id,
        |  sum(gap)/count(*) AS mean_gap,
        |  sqrt(sum(gap*gap)/count(*)
        |    - (sum(gap)/count(*)) * (sum(gap)/count(*))) AS sd_gap
        | FROM g WHERE gap IS NOT NULL GROUP BY 1),
        |mb AS (SELECT user_id, CAST(max(c) AS BIGINT) AS max_burst_min FROM (
        |  SELECT user_id, ts_s//60 AS m, count(*) AS c FROM e GROUP BY 1, 2) t
        | GROUP BY 1),
        |b AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT ts_s//60) AS BIGINT) AS active_minutes FROM e GROUP BY 1)
        |SELECT b.user_id, n_events, active_minutes,
        | round(CAST(n_events AS DOUBLE)/active_minutes, 6) AS events_per_active_min,
        | round(mean_gap, 6) AS mean_gap_s,
        | CASE WHEN mean_gap > 0 THEN round(sd_gap/mean_gap, 6) END AS gap_cv,
        | max_burst_min,
        | CAST(CASE WHEN sd_gap IS NOT NULL
        |   AND ((n_events >= 3 AND round(sd_gap, 6) = 0)
        |   OR (mean_gap > 0 AND round(sd_gap/mean_gap, 6) <= 0.8))
        |   THEN 1 ELSE 0 END AS BIGINT) AS is_bot
        |FROM b LEFT JOIN gg ON b.user_id = gg.user_id
        |JOIN mb ON b.user_id = mb.user_id
        |ORDER BY b.user_id""".stripMargin,

    "events_ab_test" ->
      """WITH pu AS (SELECT user_id,
        |  coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0.0) AS rev
        | FROM events GROUP BY 1),
        |v AS (SELECT rev,
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1) * pow(16, 8-i)))
        |    / 4294967296.0 < 0.5 THEN 'A' ELSE 'B' END AS variant FROM pu),
        |s AS (SELECT
        |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  sum(CASE WHEN variant = 'A' THEN rev END) AS s_a,
        |  sum(CASE WHEN variant = 'B' THEN rev END) AS s_b,
        |  sum(CASE WHEN variant = 'A' THEN rev*rev END) AS ss_a,
        |  sum(CASE WHEN variant = 'B' THEN rev*rev END) AS ss_b
        | FROM v),
        |m AS (SELECT n_a, n_b, s_a/n_a AS mean_a, s_b/n_b AS mean_b,
        |  ss_a/n_a - (s_a/n_a)*(s_a/n_a) AS var_a,
        |  ss_b/n_b - (s_b/n_b)*(s_b/n_b) AS var_b FROM s)
        |SELECT n_a, n_b,
        | round(mean_a, 6) AS rev_mean_a,
        | round(mean_b, 6) AS rev_mean_b,
        | round(mean_b/mean_a - 1.0, 6) AS lift,
        | round((mean_b - mean_a)/sqrt(var_a/n_a + var_b/n_b), 6) AS z
        |FROM m""".stripMargin,

    // z constants interpolated from the Scala side so both engines
    // see bit-identical doubles (the ln(8)-threshold discipline of the
    // survival curve's h=1 flag: make the edge explicit, don't let
    // each engine re-derive it)
    "events_power_analysis" ->
      s"""WITH pu AS (SELECT user_id,
         |  coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0.0) AS rev
         | FROM events GROUP BY 1),
         |v AS (SELECT rev,
         |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
         |    i -> (strpos('0123456789abcdef',
         |      substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1) * pow(16, 8-i)))
         |    / 4294967296.0 < 0.5 THEN 'A' ELSE 'B' END AS variant FROM pu),
         |s AS (SELECT
         |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |  sum(CASE WHEN variant = 'A' THEN rev END) AS s_a,
         |  sum(CASE WHEN variant = 'B' THEN rev END) AS s_b,
         |  sum(CASE WHEN variant = 'A' THEN rev*rev END) AS ss_a,
         |  sum(CASE WHEN variant = 'B' THEN rev*rev END) AS ss_b
         | FROM v),
         |m AS (SELECT n_a, n_b, s_a/n_a AS mean_a,
         |  ss_a/n_a - (s_a/n_a)*(s_a/n_a) AS var_a,
         |  ss_b/n_b - (s_b/n_b)*(s_b/n_b) AS var_b FROM s),
         |grid AS (SELECT CAST(unnest([1, 2, 5, 10, 20]) AS BIGINT) AS lift_pct),
         |g AS (SELECT m.*, lift_pct, mean_a * lift_pct / 100.0 AS delta
         | FROM m CROSS JOIN grid),
         |r AS (SELECT lift_pct, n_a, n_b, delta,
         |  CAST(ceil(${(1.959964 + 0.841621) * (1.959964 + 0.841621)}
         |    * (var_a + var_b) / (delta * delta)) AS BIGINT) AS n_required,
         |  round(${1.959964 + 0.841621} * sqrt(var_a/n_a + var_b/n_b), 6)
         |    AS mde_abs_at_n
         | FROM g)
         |SELECT lift_pct, n_a, n_b, round(delta, 6) AS delta_abs, n_required,
         | least(n_a, n_b) >= n_required AS powered, mde_abs_at_n
         |FROM r ORDER BY lift_pct""".stripMargin,

    // field weights on the name γ and the ±ln(8) verdict thresholds
    // are Scala-interpolated constants; the noise-field u's are
    // runtime collision probabilities mirrored on both sides, and the
    // complement terms keep the (1.0 - 0.12) form so Catalyst's
    // constant fold and DuckDB produce the same double
    "match_fellegi_sunter" ->
      s"""WITH c AS (SELECT c_custkey,
         |  array_to_string(list_sort(string_split_regex(lower(trim(c_name)), '\\s+')), ' ') AS c_norm,
         |  floor(c_acctbal / 1000.0) AS c_bkt, c_custkey % 10 AS c_dig
         | FROM customer),
         |s AS (SELECT s_suppkey,
         |  array_to_string(list_sort(string_split_regex(lower(trim(s_name)), '\\s+')), ' ') AS s_norm,
         |  floor(s_acctbal / 1000.0) AS s_bkt, s_suppkey % 10 AS s_dig
         | FROM supplier),
         |ub AS (SELECT CAST(sum(nl * nr) AS DOUBLE)
         |    / ((SELECT count(*) FROM c) * (SELECT count(*) FROM s)) AS u
         |  FROM (SELECT c_bkt AS v, count(*) AS nl FROM c GROUP BY 1) a
         |  JOIN (SELECT s_bkt AS v, count(*) AS nr FROM s GROUP BY 1) b USING (v)),
         |ud AS (SELECT CAST(sum(nl * nr) AS DOUBLE)
         |    / ((SELECT count(*) FROM c) * (SELECT count(*) FROM s)) AS u
         |  FROM (SELECT c_dig AS v, count(*) AS nl FROM c GROUP BY 1) a
         |  JOIN (SELECT s_dig AS v, count(*) AS nr FROM s GROUP BY 1) b USING (v)),
         |cand AS (
         |  SELECT c_custkey, s_suppkey, c_norm, s_norm, c_bkt, s_bkt, c_dig, s_dig
         |  FROM c JOIN s ON substr(c_norm, 1, 2) = substr(s_norm, 1, 2)
         |  UNION
         |  SELECT c_custkey, s_suppkey, c_norm, s_norm, c_bkt, s_bkt, c_dig, s_dig
         |  FROM c JOIN s ON right(c_norm, 4) = right(s_norm, 4)),
         |pairs AS (SELECT
         |  CASE WHEN 1.0 - CAST(levenshtein(c_norm, s_norm) AS DOUBLE)
         |      / greatest(length(c_norm), length(s_norm)) >= 0.65 THEN 1 ELSE 0 END AS g_name,
         |  CASE WHEN c_bkt = s_bkt THEN 1 ELSE 0 END AS g_bkt,
         |  CASE WHEN c_dig = s_dig THEN 1 ELSE 0 END AS g_dig
         | FROM cand),
         |pat AS (SELECT g_name, g_bkt, g_dig, CAST(count(*) AS BIGINT) AS n_pairs,
         |  round((CASE WHEN g_name = 1 THEN ${math.log(0.9 / 0.01)}
         |              ELSE ${math.log((1 - 0.9) / (1 - 0.01))} END)
         |    + (CASE WHEN g_bkt = 1 THEN ln(0.12 / (SELECT u FROM ub))
         |            ELSE ln((1.0 - 0.12) / (1.0 - (SELECT u FROM ub))) END)
         |    + (CASE WHEN g_dig = 1 THEN ln(0.12 / (SELECT u FROM ud))
         |            ELSE ln((1.0 - 0.12) / (1.0 - (SELECT u FROM ud))) END), 6) AS weight
         | FROM pairs GROUP BY 1, 2, 3)
         |SELECT g_name, g_bkt, g_dig, n_pairs, weight,
         | CASE WHEN weight >= ${math.log(8.0)} THEN 'match'
         |      WHEN weight <= ${-math.log(8.0)} THEN 'non_match'
         |      ELSE 'possible' END AS verdict
         |FROM pat ORDER BY g_name, g_bkt, g_dig""".stripMargin,

    // the oracle states the sorted-neighborhood DEFINITION (rank-band
    // inequality join); the Spark side's 2-bucket binned band join
    // must reproduce it pair-for-pair
    "match_sorted_neighborhood" ->
      """WITH p AS (SELECT p_partkey, p_name,
        |   array_to_string(list_sort(string_split_regex(lower(trim(p_name)), '\s+')), ' ') AS norm
        | FROM part),
        |r AS (SELECT p_partkey, p_name, norm, substr(norm, 1, 1) AS pfx,
        |   row_number() OVER (PARTITION BY substr(norm, 1, 1)
        |     ORDER BY norm, p_partkey) AS rank
        | FROM p),
        |cand AS (SELECT l.p_partkey AS l_key, r2.p_partkey AS r_key,
        |   r2.p_name AS r_name,
        |   round(1.0 - CAST(levenshtein(l.norm, r2.norm) AS DOUBLE)
        |     / greatest(length(l.norm), length(r2.norm)), 6) AS score
        |  FROM r l JOIN r r2 ON l.pfx = r2.pfx
        |    AND r2.rank - l.rank > 0 AND r2.rank - l.rank <= 4
        |  WHERE l.p_partkey % 2 = 0 AND r2.p_partkey % 2 = 1)
        |SELECT l_key, r_key, r_name, score FROM (
        | SELECT *, row_number() OVER (PARTITION BY l_key ORDER BY score DESC, r_key) AS rn
        | FROM cand WHERE score >= 0.5) t WHERE rn = 1 ORDER BY l_key""".stripMargin,

    "approx_set_overlap_kmv" ->
      """WITH toks AS (SELECT lang, string_split_regex(text, '\s+') AS t FROM documents),
        |tu AS (SELECT DISTINCT lang AS t, array_to_string(tt[i:i+2], ' ') AS member
        |  FROM (SELECT lang, t AS tt, unnest(generate_series(1, len(t)-2)) AS i
        |        FROM toks WHERE len(t) >= 3) x),
        |h AS (SELECT DISTINCT t,
        |  list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(member), i, 1)) - 1) * pow(16, 8-i)))
        |  / 4294967296.0 AS u
        | FROM tu),
        |sk AS (SELECT t, u FROM (
        |  SELECT t, u, row_number() OVER (PARTITION BY t ORDER BY u) AS rn FROM h) x
        | WHERE rn <= 64),
        |types AS (SELECT DISTINCT t FROM sk),
        |pairs AS (SELECT a.t AS t1, b.t AS t2 FROM types a JOIN types b ON a.t < b.t),
        |pr AS (SELECT DISTINCT t1, t2, u
        |  FROM pairs JOIN sk ON sk.t = t1 OR sk.t = t2),
        |uk AS (SELECT t1, t2, u FROM (
        |  SELECT t1, t2, u, row_number() OVER (PARTITION BY t1, t2 ORDER BY u) AS rn
        |  FROM pr) x WHERE rn <= 64),
        |est0 AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS m, max(uk.u) AS ukv,
        |  CAST(sum(CASE WHEN a.u IS NOT NULL AND b.u IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
        | FROM uk LEFT JOIN sk a ON a.t = uk.t1 AND a.u = uk.u
        |         LEFT JOIN sk b ON b.t = uk.t2 AND b.u = uk.u
        | GROUP BY 1, 2),
        |est AS (SELECT t1, t2,
        |  CASE WHEN m < 64 THEN CAST(m AS DOUBLE) ELSE round(63.0 / ukv, 6) END AS union_est,
        |  round(CAST(hits AS DOUBLE) / m, 6) AS jaccard_est
        | FROM est0),
        |nt AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1),
        |ix AS (SELECT a.t AS t1, b.t AS t2, CAST(count(*) AS BIGINT) AS inter_exact
        |  FROM tu a JOIN tu b ON a.member = b.member AND a.t < b.t GROUP BY 1, 2),
        |fin AS (SELECT est.t1, est.t2,
        |  na.n AS n_a_exact, nb.n AS n_b_exact,
        |  coalesce(ix.inter_exact, 0) AS inter_exact,
        |  union_est, jaccard_est
        | FROM est JOIN nt na ON na.t = est.t1 JOIN nt nb ON nb.t = est.t2
        |   LEFT JOIN ix ON ix.t1 = est.t1 AND ix.t2 = est.t2)
        |SELECT t1, t2, n_a_exact, n_b_exact, inter_exact,
        | round(CAST(inter_exact AS DOUBLE)
        |   / (n_a_exact + n_b_exact - inter_exact), 6) AS jaccard_exact,
        | union_est, round(jaccard_est * union_est, 6) AS inter_est, jaccard_est
        |FROM fin ORDER BY t1, t2""".stripMargin,

    "sample_soft_dedup" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
        |fam AS (SELECT h, CAST(count(*) AS BIGINT) AS n_family FROM d GROUP BY 1),
        |j AS (SELECT doc_id, h, n_family,
        |  list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(h || '#soft' || CAST(doc_id AS VARCHAR)), i, 1)) - 1) * pow(16, 8-i)))
        |  / 4294967296.0 AS u
        | FROM d JOIN fam USING (h))
        |SELECT doc_id, h AS family, n_family, round(u, 6) AS u,
        | u * n_family < 1.0 AS keep
        |FROM j ORDER BY doc_id""".stripMargin,

    "quality_kappa" ->
      s"""WITH ra AS (SELECT doc_id,
         |  CAST(CASE WHEN quality_bucket = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS a
         | FROM ($textQualitySql) q),
         |rb AS (SELECT doc_id,
         |  CAST(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END AS BIGINT) AS b
         | FROM ($qualityClassifierSql) c),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(a * b) AS BIGINT) AS n11,
         |  CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
         |  CAST(sum((1 - a) * b) AS BIGINT) AS n01,
         |  CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
         | FROM ra JOIN rb USING (doc_id)),
         |k AS (SELECT n, n11, n10, n01, n00,
         |  CAST(n11 + n00 AS DOUBLE) / n AS po,
         |  (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
         |    + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
         |    / (CAST(n AS DOUBLE) * n) AS pe
         | FROM m)
         |SELECT n, n11, n10, n01, n00,
         | round(po, 6) AS p_observed, round(pe, 6) AS p_chance,
         | round((po - pe) / (1.0 - pe), 6) AS kappa FROM k""".stripMargin,

    "text_source_divergence" ->
      """WITH tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w
        |  FROM documents) t GROUP BY 1, 2),
        |stf AS (SELECT source, w, CAST(sum(cnt) AS BIGINT) AS sc
        |  FROM tf JOIN documents USING (doc_id) GROUP BY 1, 2),
        |uni AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS cw FROM tf GROUP BY 1),
        |tots AS (SELECT source, CAST(sum(sc) AS BIGINT) AS tot_s FROM stf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS total FROM uni),
        |kl AS (SELECT source, max(tot_s) AS n_tokens, max(total) AS n_total,
        |  sum((CAST(sc AS DOUBLE) / tot_s)
        |    * ln((CAST(sc AS DOUBLE) / tot_s) / (CAST(cw AS DOUBLE) / total))) AS kl
        | FROM stf JOIN uni USING (w) JOIN tots USING (source) CROSS JOIN tot
        | GROUP BY 1)
        |SELECT source, n_tokens,
        | round(CAST(n_tokens AS DOUBLE) / n_total, 6) AS token_share,
        | round(kl, 6) AS kl_vs_corpus,
        | round(CAST(n_tokens AS DOUBLE) / n_total * kl, 6) AS jsd_contrib
        |FROM kl ORDER BY source""".stripMargin,

    "events_srm_check" ->
      """WITH ue AS (SELECT DISTINCT user_id, event_type FROM events),
        |v AS (SELECT user_id, event_type,
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1) * pow(16, 8-i)))
        |    / 4294967296.0 < 0.5 THEN 'A' ELSE 'B' END AS variant FROM ue),
        |bt AS (SELECT event_type AS segment,
        |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        | FROM v GROUP BY 1),
        |ov AS (SELECT '_all_' AS segment,
        |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        | FROM (SELECT DISTINCT user_id, variant FROM v) d),
        |u AS (SELECT * FROM bt UNION ALL SELECT * FROM ov),
        |r AS (SELECT segment, n_a, n_b,
        |  round(CAST(n_a AS DOUBLE) / (n_a + n_b), 6) AS ratio_a,
        |  round((CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |    / sqrt(CAST(n_a + n_b AS DOUBLE) / 4.0), 6) AS z
        | FROM u)
        |SELECT segment, n_a, n_b, ratio_a, z, abs(z) > 3.0 AS srm
        |FROM r ORDER BY segment""".stripMargin,

    "events_psi_drift" ->
      """WITH pu AS (SELECT user_id,
        |  coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0.0) AS rev
        | FROM events GROUP BY 1),
        |v AS (SELECT rev,
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1) * pow(16, 8-i)))
        |    / 4294967296.0 < 0.5 THEN 'A' ELSE 'B' END AS variant FROM pu),
        |b AS (SELECT least(CAST(floor(ln(1.0 + rev)) AS BIGINT), 8) AS bucket,
        |  variant FROM v),
        |c AS (SELECT bucket,
        |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        | FROM b GROUP BY 1),
        |g AS (SELECT CAST(unnest(generate_series(0, 8)) AS BIGINT) AS bucket),
        |f AS (SELECT g.bucket, coalesce(ca, 0) AS n_a, coalesce(cb, 0) AS n_b
        | FROM g LEFT JOIN c USING (bucket)),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
        | FROM f),
        |terms AS (SELECT bucket, n_a, n_b,
        |  (CAST(n_a AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 4.5) AS share_a,
        |  (CAST(n_b AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 4.5) AS share_b
        | FROM f CROSS JOIN t),
        |terms2 AS (SELECT *,
        |  (share_a - share_b) * ln(share_a / share_b) AS psi_term FROM terms),
        |tot AS (SELECT sum(psi_term) AS t FROM terms2)
        |SELECT bucket, n_a, n_b, round(share_a, 6) AS share_a,
        | round(share_b, 6) AS share_b, round(psi_term, 6) AS psi_term,
        | round(t, 6) AS psi_total
        |FROM terms2 CROSS JOIN tot ORDER BY bucket""".stripMargin,

    "events_ks_drift" ->
      """WITH p AS (SELECT round(value, 2) AS g,
        |  ((epoch_ns(ts)//1000000000)//86400 + 4) % 7 BETWEEN 1 AND 5 AS wd
        | FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT g,
        |  CAST(sum(CASE WHEN wd THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |  CAST(sum(CASE WHEN NOT wd THEN 1 ELSE 0 END) AS BIGINT) AS c2
        | FROM p GROUP BY 1),
        |e AS (SELECT g, sum(c1) OVER (ORDER BY g) AS cum1,
        |  sum(c2) OVER (ORDER BY g) AS cum2 FROM c),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c2) AS BIGINT) AS t2
        | FROM c),
        |d AS (SELECT abs(CAST(cum1 AS DOUBLE) / CAST(t1 AS DOUBLE)
        |    - CAST(cum2 AS DOUBLE) / CAST(t2 AS DOUBLE)) AS d, t1, t2
        | FROM e CROSS JOIN t),
        |r AS (SELECT t1 AS n_weekday, t2 AS n_weekend,
        |  round(max(d), 6) AS ks_stat,
        |  round(1.627625 * sqrt(CAST(t1 + t2 AS DOUBLE)
        |    / CAST(t1 * t2 AS DOUBLE)), 6) AS ks_crit_01
        | FROM d GROUP BY t1, t2)
        |SELECT n_weekday, n_weekend, ks_stat, ks_crit_01,
        | ks_stat > ks_crit_01 AS drift
        |FROM r""".stripMargin,

    "events_changepoint_cusum" ->
      """WITH h AS (SELECT (epoch_ns(ts)//1000000000)//3600 AS hr,
        |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |s AS (SELECT hr, sum(x) OVER (ORDER BY hr) AS cum,
        |  row_number() OVER (ORDER BY hr) AS t FROM h),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS tot, avg(x) AS mu,
        |  sqrt(greatest(0.0, avg(x*x) - avg(x)*avg(x))) AS sd FROM h),
        |c AS (SELECT hr, n, tot, sd,
        |  abs(CAST(cum AS DOUBLE) - CAST(t AS DOUBLE) * mu) AS s_abs
        | FROM s CROSS JOIN m),
        |mx AS (SELECT max(s_abs) AS mxv FROM c),
        |r AS (SELECT n, tot, sd, mxv, min(hr) AS cp_hour
        | FROM c JOIN mx ON s_abs = mxv GROUP BY n, tot, sd, mxv)
        |SELECT n AS n_hours, tot AS total_events, cp_hour,
        | round(mxv, 6) AS cusum_max,
        | CASE WHEN sd > 0
        |   THEN round(mxv / (sd * sqrt(CAST(n AS DOUBLE))), 6) END AS stat,
        | coalesce(CASE WHEN sd > 0
        |   THEN round(mxv / (sd * sqrt(CAST(n AS DOUBLE))), 6) END > 1.358,
        |  false) AS drift
        |FROM r""".stripMargin,

    "embed_dim_stats" ->
      """WITH v AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        | FROM embeddings),
        |d AS (SELECT unnest(ve) AS x,
        |  unnest(generate_series(1, len(ve))) AS dim FROM v)
        |SELECT CAST(dim AS INT) AS dim, CAST(count(*) AS BIGINT) AS n,
        | round(avg(x), 6) AS mean_x,
        | round(sqrt(greatest(0.0, avg(x*x) - avg(x)*avg(x))), 6) AS sd_x,
        | round(min(x), 6) AS min_x, round(max(x), 6) AS max_x
        |FROM d GROUP BY dim ORDER BY dim""".stripMargin,

    "events_uplift_segments" ->
      """WITH e AS (SELECT user_id, event_type, value,
        |  epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |mid AS (SELECT (min(ts_s) + max(ts_s)) / 2 AS mid_ts FROM e),
        |pu AS (SELECT user_id,
        |  CAST(sum(CASE WHEN ts_s < mid_ts THEN 1 ELSE 0 END) AS BIGINT) AS c_pre,
        |  coalesce(sum(CASE WHEN event_type = 'purchase' AND ts_s >= mid_ts
        |    THEN value END), 0.0) AS y
        | FROM e CROSS JOIN mid GROUP BY 1),
        |pv AS (SELECT y,
        |  CASE WHEN c_pre <= 24 THEN 0 WHEN c_pre <= 30 THEN 1
        |    WHEN c_pre <= 36 THEN 2 WHEN c_pre <= 44 THEN 3 ELSE 4 END AS seg_id,
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 < 0.5
        |  THEN 'A' ELSE 'B' END AS variant FROM pu),
        |s AS (SELECT seg_id,
        |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  sum(CASE WHEN variant = 'A' THEN y END) AS s_a,
        |  sum(CASE WHEN variant = 'B' THEN y END) AS s_b,
        |  sum(CASE WHEN variant = 'A' THEN y*y END) AS ss_a,
        |  sum(CASE WHEN variant = 'B' THEN y*y END) AS ss_b
        | FROM pv GROUP BY seg_id),
        |m AS (SELECT seg_id, n_a, n_b,
        |  CASE WHEN n_a > 0 THEN s_a / n_a END AS mean_a,
        |  CASE WHEN n_b > 0 THEN s_b / n_b END AS mean_b,
        |  CASE WHEN n_a > 0 THEN ss_a / n_a - (s_a/n_a)*(s_a/n_a) END AS var_a,
        |  CASE WHEN n_b > 0 THEN ss_b / n_b - (s_b/n_b)*(s_b/n_b) END AS var_b
        | FROM s)
        |SELECT seg_id,
        | CASE seg_id WHEN 0 THEN '<=24' WHEN 1 THEN '25-30' WHEN 2 THEN '31-36'
        |   WHEN 3 THEN '37-44' ELSE '45+' END AS segment,
        | n_a, n_b,
        | round(mean_a, 6) AS rev_mean_a, round(mean_b, 6) AS rev_mean_b,
        | CASE WHEN mean_a <> 0.0 THEN round(mean_b / mean_a - 1.0, 6) END AS lift,
        | CASE WHEN var_a / n_a + var_b / n_b > 0.0
        |   THEN round((mean_b - mean_a) / sqrt(var_a / n_a + var_b / n_b), 6) END AS z
        |FROM m ORDER BY seg_id""".stripMargin,

    "knn_graph_mutual" ->
      s"""WITH $knnGraphCtes
        |SELECT a.src AS vec_id, CAST(count(*) AS BIGINT) AS deg,
        | CAST(sum(CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS mutual_deg,
        | round(avg(a.cosine), 6) AS mean_sim, round(max(a.cosine), 6) AS max_sim
        |FROM edges a LEFT JOIN edges b ON a.src = b.dst AND a.dst = b.src
        |GROUP BY a.src ORDER BY vec_id""".stripMargin,

    "graph_label_prop" ->
      s"""WITH $lpaCtes,
        |comm AS (SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
        |  min(node) AS min_node, max(node) AS max_node FROM l2 GROUP BY 1)
        |SELECT community, n_members, min_node, max_node,
        | CAST(row_number() OVER (ORDER BY n_members DESC, community) AS INT) AS rank
        |FROM comm ORDER BY rank LIMIT 20""".stripMargin,

    "text_readability" ->
      """WITH d AS (SELECT doc_id, text,
        |  string_split_regex(text, '\s+') AS t FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_words,
        |  greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
        |    1) AS n_sents,
        |  CAST(list_sum(list_transform(t, w -> greatest(
        |    len(regexp_extract_all(lower(w), '[aeiouy]+')), 1))) AS BIGINT)
        |   AS n_syll
        | FROM d),
        |f AS (SELECT doc_id, n_words, n_sents, n_syll,
        |  round(206.835 - 1.015 * CAST(n_words AS DOUBLE) / n_sents
        |    - 84.6 * CAST(n_syll AS DOUBLE) / n_words, 6) AS flesch
        | FROM s)
        |SELECT doc_id, n_words, n_sents, n_syll, flesch,
        | CASE WHEN flesch >= 60.0 THEN 'easy'
        |  WHEN flesch >= 30.0 THEN 'standard'
        |  ELSE 'hard' END AS band
        |FROM f ORDER BY doc_id""".stripMargin,

    "approx_distinct_hll" ->
      s"""WITH tok0 AS (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS token
         |  FROM documents),
         |h AS (SELECT lang, token,
         |$hllRegV
         | FROM tok0),
         |regs AS (SELECT lang, reg,
         |   max(CASE WHEN v = 0 THEN 49 ELSE 49 - length(bin(v)) END) AS mj
         |  FROM h GROUP BY 1, 2),
         |folded AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_present,
         |   sum(CAST(1 AS BIGINT) << (49 - mj)) AS isum_present
         |  FROM regs GROUP BY 1),
         |e2 AS (SELECT lang, n_present, 256 - n_present AS zeros,
         |   0.7213/(1.0 + 1.079/256.0)*256.0*256.0*562949953421312.0
         |     / CAST(isum_present + (256 - n_present) * 562949953421312 AS DOUBLE)
         |    AS e_raw
         |  FROM folded),
         |ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM (SELECT DISTINCT lang, token FROM tok0) d GROUP BY lang)
         |SELECT ex.lang AS lang, n_exact, n_present AS n_registers,
         | round(CASE WHEN e_raw <= 640.0 AND zeros > 0
         |   THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE)) ELSE e_raw END, 6)
         |  AS hll_est
         |FROM ex JOIN e2 ON ex.lang = e2.lang ORDER BY lang""".stripMargin,

    "approx_distinct_hll_agg" ->
      s"""WITH tok0 AS (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS token
         |  FROM documents),
         |h AS (SELECT lang, token,
         |$hllRegV
         | FROM tok0),
         |regs AS (SELECT lang, reg,
         |   max(CASE WHEN v = 0 THEN 49 ELSE 49 - length(bin(v)) END) AS mj
         |  FROM h GROUP BY 1, 2),
         |folded AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_present,
         |   sum(CAST(1 AS BIGINT) << (49 - mj)) AS isum_present
         |  FROM regs GROUP BY 1),
         |e2 AS (SELECT lang, n_present, 256 - n_present AS zeros,
         |   0.7213/(1.0 + 1.079/256.0)*256.0*256.0*562949953421312.0
         |     / CAST(isum_present + (256 - n_present) * 562949953421312 AS DOUBLE)
         |    AS e_raw
         |  FROM folded),
         |ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM (SELECT DISTINCT lang, token FROM tok0) d GROUP BY lang)
         |SELECT ex.lang AS lang,
         | round(CASE WHEN e_raw <= 640.0 AND zeros > 0
         |   THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE)) ELSE e_raw END, 6)
         |  AS hll_est, n_exact
         |FROM ex JOIN e2 ON ex.lang = e2.lang ORDER BY lang""".stripMargin,

    "quality_auc" ->
      s"""WITH sc AS (SELECT doc_id, score FROM ($qualityClassifierSql) c),
         |tr AS (SELECT doc_id,
         |  CAST(CASE WHEN quality_bucket = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS pos
         | FROM ($textQualitySql) q),
         |bys AS (SELECT score, CAST(count(*) AS BIGINT) AS c,
         |   CAST(sum(pos) AS BIGINT) AS p
         |  FROM sc JOIN tr USING (doc_id) GROUP BY score),
         |cum AS (SELECT score, p, c - p AS neg,
         |   CAST(sum(c - p) OVER (ORDER BY score
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |     - (c - p) AS below
         |  FROM bys),
         |agg AS (SELECT CAST(sum(p) AS BIGINT) AS n_pos,
         |   CAST(sum(neg) AS BIGINT) AS n_neg,
         |   CAST(sum(p * (2 * below + neg)) AS BIGINT) AS num2
         |  FROM cum)
         |SELECT n_pos, n_neg,
         | round(CAST(num2 AS DOUBLE)
         |   / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) AS auc,
         | round(2.0 * round(CAST(num2 AS DOUBLE)
         |   / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) - 1.0, 6)
         |  AS gini
         |FROM agg""".stripMargin,

    "text_feature_hashing" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents),
        |f AS (SELECT doc_id, token,
        |   CAST(list_sum(list_transform(generate_series(1, 2),
        |     i -> (strpos('0123456789abcdef', substr(md5(token), i, 1)) - 1)
        |       * pow(16, 2-i))) AS BIGINT) % 64 AS dim,
        |   CASE WHEN (strpos('0123456789abcdef', substr(md5(token), 3, 1)) - 1) % 2 = 0
        |     THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS s
        |  FROM tok),
        |pdd AS (SELECT doc_id, dim, CAST(sum(s) AS BIGINT) AS w,
        |   CAST(count(*) AS BIGINT) AS n_occ
        |  FROM f GROUP BY 1, 2),
        |td AS (SELECT dim, CAST(count(DISTINCT token) AS BIGINT) AS n_distinct_tokens
        |  FROM f GROUP BY 1)
        |SELECT CAST(pdd.dim AS INT) AS dim, CAST(count(*) AS BIGINT) AS n_docs,
        | max(n_distinct_tokens) AS n_distinct_tokens,
        | CAST(sum(n_occ) AS BIGINT) AS n_occ,
        | CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(w * w) AS BIGINT) AS ss_w
        |FROM pdd JOIN td ON pdd.dim = td.dim
        |GROUP BY 1 ORDER BY dim""".stripMargin,

    "cdc_apply_latest" ->
      """WITH ch AS (SELECT o_custkey, o_orderkey,
        |   CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS seq_s,
        |   CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |   round(o_totalprice, 2) AS payload
        |  FROM orders),
        |latest AS (SELECT o_custkey, o_orderkey, seq_s, op, payload,
        |   CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_changes,
        |   CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
        |     OVER (PARTITION BY o_custkey) AS BIGINT) AS n_deletes,
        |   row_number() OVER (PARTITION BY o_custkey
        |     ORDER BY seq_s DESC, o_orderkey DESC) AS rn
        |  FROM ch)
        |SELECT o_custkey, o_orderkey AS last_orderkey, seq_s AS last_seq_s,
        | payload AS last_price, n_changes, n_deletes
        |FROM latest WHERE rn = 1 AND op <> 'D'
        |ORDER BY o_custkey""".stripMargin,

    "retrieval_ndcg" ->
      s"""WITH $ragJudgedCtes,
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY i
         |   ORDER BY bm25 DESC, doc_id, chunk_id) AS INT) AS rank FROM j),
         |g AS (SELECT i, rank, rel,
         |   CAST(CASE WHEN rel = 2 THEN 3 WHEN rel = 1 THEN 1 ELSE 0 END
         |     AS BIGINT) AS gain FROM r WHERE rank <= 3),
         |ir AS (SELECT *, row_number() OVER (PARTITION BY i
         |   ORDER BY gain DESC, rank) AS irank FROM g),
         |agg AS (SELECT i,
         |   CAST(sum(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
         |   max(CASE WHEN rel >= 1 THEN 1.0 / rank ELSE 0.0 END) AS mrr0,
         |   sum(gain / log2(rank + 1.0)) AS dcg,
         |   sum(gain / log2(irank + 1.0)) AS idcg
         |  FROM ir GROUP BY i)
         |SELECT i, n_rel, round(n_rel / 3.0, 6) AS prec_at3,
         | round(mrr0, 6) AS mrr, round(dcg, 6) AS dcg_at3,
         | round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6)
         |  AS ndcg_at3
         |FROM agg ORDER BY i""".stripMargin,

    "graph_adamic_adar" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT a.p AS u, b.p AS v FROM op a
        |  JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
        |sym AS (SELECT u AS s, v AS d FROM e
        |  UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS dg
        |  FROM sym GROUP BY 1),
        |q AS (SELECT node AS a, dg AS deg_a FROM deg
        |  ORDER BY dg DESC, node LIMIT 50),
        |w AS (SELECT q.a, q.deg_a, s1.d AS c, s2.d AS b
        |  FROM q JOIN sym s1 ON s1.s = q.a
        |  JOIN sym s2 ON s2.s = s1.d
        |  WHERE s2.d <> q.a),
        |ww AS (SELECT w.a, w.deg_a, w.b,
        |   CAST(round(1000000.0 / ln(dc.dg), 0) AS BIGINT) AS w_u6
        |  FROM w JOIN deg dc ON dc.node = w.c),
        |sc AS (SELECT a, deg_a, b, CAST(count(*) AS BIGINT) AS n_common,
        |   CAST(sum(w_u6) AS BIGINT) AS aa_u6
        |  FROM ww GROUP BY 1, 2, 3),
        |nonadj AS (SELECT sc.* FROM sc
        |  LEFT JOIN sym ON sym.s = sc.a AND sym.d = sc.b
        |  WHERE sym.s IS NULL),
        |jb AS (SELECT nonadj.*, db.dg AS deg_b FROM nonadj
        |  JOIN deg db ON db.node = nonadj.b),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY a
        |   ORDER BY aa_u6 DESC, b) AS INT) AS rank FROM jb)
        |SELECT a AS p_partkey, b AS candidate, n_common,
        | round(n_common * 1.0 / (deg_a + deg_b - n_common), 6) AS jaccard,
        | round(aa_u6 / 1000000.0, 6) AS adamic_adar, rank
        |FROM r WHERE rank <= 3 ORDER BY p_partkey, rank""".stripMargin,

    "part_weighted_median" ->
      """WITH g AS (SELECT p_brand,
        |   CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c,
        |   CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |c AS (SELECT p_brand, price_c, w,
        |   CAST(sum(w) OVER (PARTITION BY p_brand ORDER BY price_c
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum
        |  FROM g),
        |t AS (SELECT p_brand, CAST(sum(w) AS BIGINT) AS total_qty,
        |   CAST(count(*) AS BIGINT) AS n_price_points FROM g GROUP BY 1)
        |SELECT c.p_brand, total_qty, n_price_points,
        | min(price_c) / 100.0 AS median_price
        |FROM c JOIN t ON c.p_brand = t.p_brand
        |WHERE cum * 2 >= total_qty
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    "part_price_ols" ->
      """WITH xy AS (SELECT p_brand,
        |   CAST(round(l_discount * 100, 0) AS BIGINT) AS x,
        |   CAST(round(l_quantity, 0) AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |s AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |   CAST(sum(x*y) AS BIGINT) AS sxy,
        |   CAST(sum(x*x) AS BIGINT) AS sxx,
        |   CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM xy GROUP BY 1),
        |d AS (SELECT p_brand, n, n*sxy - sx*sy AS cov_n,
        |   n*sxx - sx*sx AS varx_n, n*syy - sy*sy AS vary_n, sx, sy
        |  FROM s)
        |SELECT p_brand, n,
        | CASE WHEN varx_n > 0
        |  THEN round(CAST(cov_n AS DOUBLE) / varx_n, 6) END
        |  AS slope_qty_per_pct,
        | CASE WHEN varx_n > 0
        |  THEN round((CAST(sy AS DOUBLE)
        |   - CAST(cov_n AS DOUBLE) / varx_n * sx) / n, 6) END
        |  AS intercept_qty,
        | CASE WHEN varx_n > 0 AND vary_n > 0
        |  THEN round(CAST(cov_n AS DOUBLE) * cov_n
        |   / (CAST(varx_n AS DOUBLE) * vary_n), 6) END AS r2
        |FROM d ORDER BY p_brand""".stripMargin,

    "events_burstiness" ->
      """WITH e AS (SELECT user_id, event_id,
        |   epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |g AS (SELECT user_id,
        |   ts_s - lag(ts_s, 1) OVER (PARTITION BY user_id
        |     ORDER BY ts_s, event_id) AS gap
        |  FROM e),
        |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |   CAST(sum(gap) AS BIGINT) AS sg,
        |   CAST(sum(gap*gap) AS BIGINT) AS sg2
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1
        |  HAVING count(*) >= 2 AND sum(gap) > 0),
        |m AS (SELECT user_id, n_gaps,
        |   CAST(sg AS DOUBLE) / n_gaps AS mu,
        |   sqrt(CAST(n_gaps*sg2 - sg*sg AS DOUBLE)) / n_gaps AS sigma
        |  FROM s)
        |SELECT user_id, n_gaps, round(mu, 6) AS mean_gap_s,
        | round(sigma, 6) AS sd_gap_s, round(sigma / mu, 6) AS cv,
        | round((sigma - mu) / (sigma + mu), 6) AS burstiness
        |FROM m ORDER BY user_id""".stripMargin,

    "community_modularity" ->
      s"""WITH $lpaCtes,
        |und AS (SELECT src AS u, dst AS v FROM e WHERE src < dst),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS dg
        |  FROM e GROUP BY 1),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
        |dc AS (SELECT l2.lbl, CAST(sum(dg) AS BIGINT) AS d_c,
        |   CAST(count(*) AS BIGINT) AS n_members
        |  FROM l2 JOIN deg ON l2.node = deg.node GROUP BY 1),
        |ec AS (SELECT la.lbl, CAST(count(*) AS BIGINT) AS e_c
        |  FROM und JOIN l2 la ON und.u = la.node
        |  JOIN l2 lb ON und.v = lb.node
        |  WHERE la.lbl = lb.lbl GROUP BY 1),
        |per AS (SELECT dc.lbl, dc.d_c, dc.n_members,
        |   CAST(coalesce(ec.e_c, 0) AS BIGINT) AS e_c
        |  FROM dc LEFT JOIN ec ON dc.lbl = ec.lbl),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
        |   CAST(sum(n_members) AS BIGINT) AS n_nodes,
        |   CAST(sum(e_c) AS BIGINT) AS intra_edges,
        |   CAST(sum(d_c * d_c) AS BIGINT) AS sum_d2
        |  FROM per)
        |SELECT n_communities, n_nodes, m AS m_edges, intra_edges,
        | round(CAST(intra_edges AS DOUBLE) / m, 6) AS intra_fraction,
        | round(CAST(4 * m * intra_edges - sum_d2 AS DOUBLE)
        |   / (4.0 * CAST(m AS DOUBLE) * m), 6) AS modularity
        |FROM agg CROSS JOIN mm""".stripMargin,

    "lineitem_ship_latency" ->
      """WITH g AS (SELECT o_orderpriority,
        |   CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |     CAST(l_shipdate AS DATE)) AS BIGINT) AS days,
        |   CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY o_orderpriority
        |   ORDER BY days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS cum FROM g),
        |t AS (SELECT o_orderpriority, CAST(sum(cnt) AS BIGINT) AS n_lines,
        |   min(days) AS min_days, max(days) AS max_days FROM g GROUP BY 1)
        |SELECT c.o_orderpriority, n_lines, min_days,
        | min(CASE WHEN cum * 10 >= n_lines THEN days END) AS p10_days,
        | min(CASE WHEN cum * 2 >= n_lines THEN days END) AS p50_days,
        | min(CASE WHEN cum * 10 >= n_lines * 9 THEN days END) AS p90_days,
        | min(CASE WHEN cum * 100 >= n_lines * 99 THEN days END) AS p99_days,
        | max_days
        |FROM c JOIN t ON c.o_orderpriority = t.o_orderpriority
        |GROUP BY c.o_orderpriority, n_lines, min_days, max_days
        |ORDER BY 1""".stripMargin,

    "mm_shard_manifest" ->
      """WITH med AS (SELECT doc_id AS media_id, md5(text) AS content_hash,
        |   CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents),
        |d AS (SELECT media_id, n_bytes,
        |   list_sum(list_transform(generate_series(1, 8),
        |     i -> (strpos('0123456789abcdef',
        |       substr(md5(content_hash || '#manifest'), i, 1)) - 1)
        |       * pow(16, 8-i))) / 4294967296.0 AS u
        |  FROM med),
        |s AS (SELECT media_id, n_bytes, u,
        |   CAST(floor(u * 8) AS INT) AS shard FROM d),
        |man AS (SELECT shard, media_id, n_bytes,
        |   CAST(row_number() OVER (PARTITION BY shard
        |     ORDER BY u, media_id) AS INT) AS pos,
        |   CAST(coalesce(sum(n_bytes) OVER (PARTITION BY shard
        |     ORDER BY u, media_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS offset_bytes
        |  FROM s),
        |t AS (SELECT shard, CAST(count(*) AS BIGINT) AS shard_items,
        |   CAST(sum(n_bytes) AS BIGINT) AS shard_bytes FROM man GROUP BY 1)
        |SELECT man.shard, pos, media_id, offset_bytes, n_bytes,
        | shard_items, shard_bytes
        |FROM man JOIN t ON man.shard = t.shard ORDER BY 1, 2""".stripMargin,

    "embed_matryoshka_recall" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, v[1:16] AS vp,
        |   sqrt(list_sum(list_transform(v, x -> x*x))) AS norm,
        |   sqrt(list_sum(list_transform(v[1:16], x -> x*x))) AS pnorm
        |  FROM e),
        |q AS (SELECT vec_id AS q_id, v AS qv, vp AS qvp,
        |   norm AS qn, pnorm AS qpn FROM n WHERE vec_id < 8),
        |sc AS (SELECT q.q_id, n.vec_id,
        |   round(list_sum(list_transform(generate_series(1, len(n.v)),
        |     i -> n.v[i]*q.qv[i])) / (n.norm * q.qn), 6) AS cos_full,
        |   round(list_sum(list_transform(generate_series(1, 16),
        |     i -> n.vp[i]*q.qvp[i])) / (n.pnorm * q.qpn), 6) AS cos_pre
        |  FROM n CROSS JOIN q WHERE n.vec_id >= 8),
        |tr AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
        |   row_number() OVER (PARTITION BY q_id
        |     ORDER BY cos_full DESC, vec_id) AS rk FROM sc) t WHERE rk <= 10),
        |ca AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
        |   row_number() OVER (PARTITION BY q_id
        |     ORDER BY cos_pre DESC, vec_id) AS rk FROM sc) t WHERE rk <= 10),
        |h AS (SELECT tr.q_id,
        |   CAST(sum(CASE WHEN ca.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_hits
        |  FROM tr LEFT JOIN ca ON tr.q_id = ca.q_id AND tr.vec_id = ca.vec_id
        |  GROUP BY 1)
        |SELECT q_id, CAST(10 AS BIGINT) AS k, CAST(16 AS INT) AS prefix_dims,
        | n_hits, round(n_hits / 10.0, 6) AS recall_at10
        |FROM h ORDER BY q_id""".stripMargin,

    "retrieval_hard_negatives" ->
      s"""WITH $ragJudgedCtes,
        |pos AS (SELECT i, 'positive' AS role, doc_id, chunk_id, bm25, rel,
        |   CAST(row_number() OVER (PARTITION BY i
        |     ORDER BY bm25 DESC, doc_id, chunk_id) AS INT) AS rank
        |  FROM j WHERE rel >= 1),
        |neg AS (SELECT i, 'negative' AS role, doc_id, chunk_id, bm25, rel,
        |   CAST(row_number() OVER (PARTITION BY i
        |     ORDER BY bm25 DESC, doc_id, chunk_id) AS INT) AS rank
        |  FROM j WHERE rel = 0)
        |SELECT i, role, rank, doc_id, chunk_id, bm25, rel FROM (
        | SELECT * FROM pos WHERE rank <= 1
        | UNION ALL SELECT * FROM neg WHERE rank <= 5) u
        |ORDER BY i, role, rank""".stripMargin,

    "tokenizer_fertility" ->
      """WITH f AS (SELECT lang,
        |   CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS w,
        |   CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        |     AS BIGINT) AS t,
        |   CAST(length(text) AS BIGINT) AS c
        |  FROM documents),
        |s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(w) AS BIGINT) AS n_words,
        |   CAST(sum(t) AS BIGINT) AS n_tokens,
        |   CAST(sum(c) AS BIGINT) AS n_chars
        |  FROM f GROUP BY 1)
        |SELECT lang, n_docs, n_words, n_tokens, n_chars,
        | round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility,
        | round(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS chars_per_token
        |FROM s ORDER BY lang""".stripMargin,

    "part_return_eb_rates" ->
      """WITH per AS (SELECT l_partkey AS p_partkey,
        |   CAST(count(*) AS BIGINT) AS n_lines,
        |   CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_returned
        |  FROM lineitem GROUP BY 1),
        |pr AS (SELECT *, CAST(n_returned AS DOUBLE) / n_lines AS raw_rate
        |  FROM per),
        |mo AS (SELECT CAST(count(*) AS BIGINT) AS p_cnt,
        |   sum(raw_rate) AS sr, sum(raw_rate * raw_rate) AS sr2 FROM pr),
        |j AS (SELECT pr.*, sr / p_cnt AS mu,
        |   sr2 / p_cnt - (sr / p_cnt) * (sr / p_cnt) AS v
        |  FROM pr CROSS JOIN mo),
        |g AS (SELECT *, CASE WHEN v > 0 AND mu > 0 AND mu < 1
        |   THEN mu * (1.0 - mu) / v - 1.0 END AS s0 FROM j),
        |h AS (SELECT *, CASE WHEN s0 > 0 THEN s0 END AS s FROM g)
        |SELECT p_partkey, n_lines, n_returned,
        | round(raw_rate, 6) AS raw_rate,
        | round(CASE WHEN s IS NOT NULL
        |   THEN (n_returned + mu * s) / (n_lines + s)
        |   ELSE raw_rate END, 6) AS shrunk_rate,
        | round(s, 6) AS prior_strength
        |FROM h ORDER BY p_partkey""".stripMargin,

    "events_ab_pvalues_fdr" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |uv AS (SELECT user_id,
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1) * pow(16, 8-i)))
        |    / 4294967296.0 < 0.5 THEN 'A' ELSE 'B' END AS variant FROM u),
        |ty AS (SELECT DISTINCT event_type FROM events LIMIT 64),
        |c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT uv.user_id, uv.variant, ty.event_type,
        |   coalesce(c.c, 0) AS c
        |  FROM uv CROSS JOIN ty
        |  LEFT JOIN c ON c.user_id = uv.user_id AND c.event_type = ty.event_type),
        |per AS (SELECT event_type,
        |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN variant = 'A' THEN c ELSE 0 END) AS BIGINT) AS s_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN c ELSE 0 END) AS BIGINT) AS s_b,
        |  CAST(sum(CASE WHEN variant = 'A' THEN c*c ELSE 0 END) AS BIGINT) AS ss_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN c*c ELSE 0 END) AS BIGINT) AS ss_b
        | FROM grid GROUP BY 1),
        |st AS (SELECT event_type, n_a, n_b,
        |  CAST(s_a AS DOUBLE) / n_a AS mean_a,
        |  CAST(s_b AS DOUBLE) / n_b AS mean_b,
        |  CAST(ss_a AS DOUBLE) / n_a
        |    - (CAST(s_a AS DOUBLE) / n_a) * (CAST(s_a AS DOUBLE) / n_a) AS var_a,
        |  CAST(ss_b AS DOUBLE) / n_b
        |    - (CAST(s_b AS DOUBLE) / n_b) * (CAST(s_b AS DOUBLE) / n_b) AS var_b
        | FROM per),
        |zz AS (SELECT *, (mean_b - mean_a)
        |   / sqrt(var_a / n_a + var_b / n_b) AS z FROM st),
        |pp AS (SELECT *, abs(z) AS az,
        |   1.0 / (1.0 + 0.2316419 * abs(z)) AS t FROM zz),
        |p2 AS (SELECT *, round(least(
        |   2.0 * exp(-az * az / 2.0) * 0.3989422804014327
        |    * (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
        |      + t * (-1.821255978 + t * 1.330274429))))), 1.0), 6) AS p
        |  FROM pp),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY p, event_type)
        |   AS INT) AS rank, CAST(count(*) OVER () AS BIGINT) AS m FROM p2),
        |qq AS (SELECT *, round(least(min(p * m / rank) OVER (
        |   ORDER BY rank DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 6) AS q
        |  FROM r)
        |SELECT event_type, n_a, n_b,
        | round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
        | round(z, 6) AS z, p AS p_value, rank, q AS q_value,
        | CAST(CASE WHEN q <= 0.05 THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM qq ORDER BY rank""".stripMargin,

    "graph_assortativity" ->
      """WITH e AS (
        | SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        | FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS dg
        |  FROM e GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m2,
        |  CAST(sum(du.dg) AS BIGINT) AS sx,
        |  CAST(sum(dv.dg) AS BIGINT) AS sy,
        |  CAST(sum(du.dg * dv.dg) AS BIGINT) AS sxy,
        |  CAST(sum(du.dg * du.dg) AS BIGINT) AS sxx,
        |  CAST(sum(dv.dg * dv.dg) AS BIGINT) AS syy
        | FROM e JOIN deg du ON e.src = du.node JOIN deg dv ON e.dst = dv.node)
        |SELECT m2 // 2 AS n_edges,
        | round((CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / sqrt((CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |     * (CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)
        |       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  AS assortativity
        |FROM m""".stripMargin,

    "graph_kcore" -> kcoreSql(k = 80, rounds = 6),

    "text_gopher_rules" ->
      """WITH d AS (SELECT doc_id, string_split_regex(text,'\s+') AS t
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_words,
        |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_len,
        |  CAST(list_max(list_transform(t, x -> length(x))) AS BIGINT)
        |    AS max_word_len,
        |  CAST(len(list_distinct(t)) AS BIGINT) AS n_unique,
        |  CAST(len(list_distinct(list_filter(t,
        |    x -> x IN ('the','a','and','or','of')))) AS BIGINT) AS n_stop_distinct
        | FROM d),
        |r AS (SELECT doc_id, n_words,
        |  round(CAST(sum_len AS DOUBLE) / n_words, 6) AS mean_word_len,
        |  round(CAST(n_unique AS DOUBLE) / n_words, 6) AS frac_unique,
        |  n_stop_distinct, max_word_len FROM s)
        |SELECT doc_id, n_words, mean_word_len, frac_unique, n_stop_distinct,
        | max_word_len,
        | CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS INT)
        |   AS r_word_count,
        | CAST(CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   THEN 1 ELSE 0 END AS INT) AS r_mean_word_len,
        | CAST(CASE WHEN n_stop_distinct >= 2 THEN 1 ELSE 0 END AS INT)
        |   AS r_stopwords,
        | CAST(CASE WHEN frac_unique >= 0.2 THEN 1 ELSE 0 END AS INT)
        |   AS r_unique_frac,
        | CAST(CASE WHEN max_word_len <= 15 THEN 1 ELSE 0 END AS INT)
        |   AS r_max_word,
        | CAST(CASE WHEN n_words BETWEEN 50 AND 100000
        |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND n_stop_distinct >= 2 AND frac_unique >= 0.2
        |   AND max_word_len <= 15 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    "privacy_dp_counts" ->
      """WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |u AS (SELECT event_type, n,
        |  list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(event_type || '#dp-release-1'), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 - 0.5 AS shift
        | FROM c),
        |z AS (SELECT event_type, n,
        |  -1.0 * sign(shift)
        |    * ln(greatest(1.0 - 2.0 * abs(shift), 1e-12)) AS noise
        | FROM u)
        |SELECT event_type, n AS true_count,
        | CAST(1.0 AS DOUBLE) AS epsilon,
        | round(noise, 6) AS noise,
        | round(n + noise, 6) AS dp_count
        |FROM z ORDER BY event_type""".stripMargin,

    "mm_aspect_buckets" ->
      """WITH dm AS (SELECT
        |   64 + octet_length(CAST(text AS BLOB)) % 448 AS w,
        |   64 + (octet_length(CAST(text AS BLOB)) // 7) % 448 AS h
        |  FROM documents),
        |r AS (SELECT (1000 * w) // h AS ratio_milli,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM dm GROUP BY 1),
        |b(bucket_id, bucket_w, bucket_h) AS (VALUES
        |  (1,512,2048),(2,576,1792),(3,640,1536),(4,704,1408),(5,768,1344),
        |  (6,832,1216),(7,896,1152),(8,1024,1024),(9,1152,896),(10,1216,832),
        |  (11,1344,768),(12,1408,704),(13,1536,640),(14,1792,576),
        |  (15,2048,512)),
        |c AS (SELECT r.ratio_milli, r.n, b.bucket_id, b.bucket_w, b.bucket_h,
        |   row_number() OVER (PARTITION BY r.ratio_milli
        |     ORDER BY abs(r.ratio_milli
        |       - (1000 * b.bucket_w) // b.bucket_h), b.bucket_id) AS rn
        |  FROM r CROSS JOIN b),
        |a AS (SELECT * FROM c WHERE rn = 1)
        |SELECT bucket_id, bucket_w, bucket_h,
        | CAST(sum(n) AS BIGINT) AS n_items,
        | CAST(sum(n) // 32 AS BIGINT) AS n_full_batches,
        | CAST(sum(n) % 32 AS BIGINT) AS n_remainder,
        | CAST(min(ratio_milli) AS BIGINT) AS min_ratio_milli,
        | CAST(max(ratio_milli) AS BIGINT) AS max_ratio_milli
        |FROM a GROUP BY 1, 2, 3 ORDER BY bucket_id""".stripMargin,

    "text_keyphrase_rake" ->
      """WITH d AS (SELECT doc_id, string_split_regex(text,'\s+') AS t
        |  FROM documents),
        |tokpos AS (SELECT doc_id,
        |  unnest(list_transform(generate_series(1, len(t)),
        |    i -> {'pos': i, 'w': t[i]}), recursive := true) FROM d),
        |ns AS (SELECT doc_id, pos, w FROM tokpos
        |  WHERE w NOT IN ('the','a','and','or','of')),
        |runs AS (SELECT doc_id, pos, w,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
        | FROM ns),
        |chunks AS (SELECT doc_id, rid, pos, w,
        |  (row_number() OVER (PARTITION BY doc_id, rid ORDER BY pos) - 1) // 3
        |    AS chunk FROM runs),
        |phr AS (SELECT doc_id, rid, chunk,
        |  array_to_string(list(w ORDER BY pos), ' ') AS phrase,
        |  CAST(count(*) AS BIGINT) AS plen
        | FROM chunks GROUP BY 1, 2, 3),
        |pw AS (SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS w
        |  FROM phr),
        |ws AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
        |  CAST(sum(plen) AS BIGINT) AS degree FROM pw GROUP BY 1),
        |occ AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ
        |  FROM phr GROUP BY 1),
        |o2 AS (SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS w
        |  FROM occ),
        |sc AS (SELECT phrase, n_occ,
        |  CAST(sum(CAST(round(1e6 * degree / freq) AS BIGINT)) AS BIGINT)
        |    AS score_u6
        | FROM o2 JOIN ws USING (w) GROUP BY 1, 2)
        |SELECT phrase, n_occ, round(score_u6 / 1e6, 6) AS rake_score,
        | CAST(row_number() OVER (ORDER BY score_u6 DESC, phrase) AS INT)
        |   AS rank
        |FROM sc ORDER BY rank LIMIT 20""".stripMargin,

    "match_trigram" ->
      """WITH p0 AS (SELECT p_partkey, p_name,
        |  lower(trim(p_name)) AS nm FROM part),
        |names AS (SELECT nm, CAST(count(*) AS BIGINT) AS copies,
        |  CAST(sum(CASE WHEN p_partkey % 2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_even,
        |  list_distinct(flatten(list_transform(
        |    string_split(nm, ' '), w ->
        |    list_transform(generate_series(1, length(w) + 1),
        |      i -> substr('  ' || w || ' ', i, 3))))) AS tg
        | FROM p0 GROUP BY nm),
        |posts AS (SELECT nm, copies, unnest(tg) AS t FROM names),
        |dfc AS (SELECT t, CAST(sum(copies) AS BIGINT) AS df
        |  FROM posts GROUP BY 1),
        |rare AS (SELECT nm, t FROM (
        |  SELECT p.nm, p.t, row_number() OVER (
        |    PARTITION BY p.nm ORDER BY d.df, p.t) AS rk
        |  FROM posts p JOIN dfc d USING (t)) x WHERE rk <= 2),
        |oddmin AS (SELECT nm AS r_nm,
        |  min(p_partkey) AS r_key,
        |  arg_min(p_name, p_partkey) AS r_name
        | FROM p0 WHERE p_partkey % 2 = 1 GROUP BY 1),
        |cand AS (SELECT DISTINCT l.nm AS l_nm, r.nm AS r_nm
        |  FROM rare l JOIN rare r USING (t)
        |  JOIN names ln ON ln.nm = l.nm AND ln.n_even > 0
        |  JOIN oddmin o ON o.r_nm = r.nm),
        |sc AS (SELECT c.l_nm, o.r_key, o.r_name,
        |  CAST(len(list_intersect(ln.tg, rn.tg)) AS BIGINT) AS shared,
        |  round(CAST(len(list_intersect(ln.tg, rn.tg)) AS DOUBLE)
        |    / (len(ln.tg) + len(rn.tg) - len(list_intersect(ln.tg, rn.tg))),
        |    6) AS sim
        | FROM cand c JOIN names ln ON ln.nm = c.l_nm
        |  JOIN names rn ON rn.nm = c.r_nm
        |  JOIN oddmin o ON o.r_nm = c.r_nm),
        |best AS (SELECT l_nm, r_key, r_name, shared, sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_nm
        |    ORDER BY sim DESC, r_key) AS rn
        |  FROM sc WHERE sim >= 0.45) t WHERE rn = 1)
        |SELECT e.p_partkey AS l_key, b.r_key, b.r_name, b.shared, b.sim
        |FROM p0 e JOIN best b ON e.nm = b.l_nm
        |WHERE e.p_partkey % 2 = 0
        |ORDER BY l_key""".stripMargin,

    "sample_curriculum" ->
      """WITH d AS (SELECT doc_id, source, text,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words
        | FROM documents),
        |grid AS (SELECT source, n_words, CAST(count(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1, 2),
        |g2 AS (SELECT source, n_words, c,
        |  CAST(coalesce(sum(c) OVER (PARTITION BY source ORDER BY n_words
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before FROM grid),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src
        |  FROM grid GROUP BY 1),
        |g3 AS (SELECT g2.source, g2.n_words,
        |  CAST(least(4, 1 + (4 * cum_before) // n_src) AS BIGINT) AS stage
        | FROM g2 JOIN tot USING (source))
        |SELECT doc_id, d.source, d.n_words, stage,
        | round(list_sum(list_transform(generate_series(1, 8),
        |   i -> (strpos('0123456789abcdef',
        |     substr(md5(text || '#curriculum'), i, 1)) - 1) * pow(16, 8-i)))
        |   / 4294967296.0, 6) AS shuffle_u
        |FROM d JOIN g3 ON d.source = g3.source AND d.n_words = g3.n_words
        |ORDER BY doc_id""".stripMargin,

    "embed_knn_classifier" ->
      s"""WITH $knnGraphCtes,
        |votes AS (SELECT a.src, n.label AS nbr_label,
        |   CAST(count(*) AS BIGINT) AS c
        |  FROM edges a JOIN n ON n.vec_id = a.dst GROUP BY 1, 2),
        |pred AS (SELECT src AS vec_id, nbr_label AS pred_label FROM (
        |   SELECT *, row_number() OVER (PARTITION BY src
        |     ORDER BY c DESC, nbr_label) AS rk FROM votes) t WHERE rk = 1),
        |cm AS (SELECT n.label AS true_label, p.pred_label,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM pred p JOIN n ON n.vec_id = p.vec_id GROUP BY 1, 2),
        |per AS (SELECT true_label, CAST(sum(n) AS BIGINT) AS n_true,
        |   CAST(sum(CASE WHEN pred_label = true_label THEN n ELSE 0 END)
        |     AS BIGINT) AS n_correct
        |  FROM cm GROUP BY 1)
        |SELECT cm.true_label, cm.pred_label, cm.n,
        | round(CAST(n_correct AS DOUBLE) / n_true, 6) AS label_accuracy
        |FROM cm JOIN per USING (true_label)
        |ORDER BY true_label, pred_label""".stripMargin,

    "events_autocorrelation" ->
      """WITH daily AS (SELECT event_type,
        |   epoch_ns(ts)//1000000000//86400 AS day,
        |   CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
        |  FROM span),
        |filled AS (SELECT g.event_type, g.day, coalesce(d.c, 0) AS c
        |  FROM grid g LEFT JOIN daily d ON d.event_type = g.event_type
        |    AND d.day = g.day),
        |lags AS (SELECT f.event_type, f.day, f.c, l.lag
        |  FROM filled f CROSS JOIN
        |   (SELECT unnest(generate_series(1, 7)) AS lag) l),
        |pairs AS (SELECT a.event_type, a.lag, a.c AS x, b.c AS y
        |  FROM lags a JOIN filled b ON a.event_type = b.event_type
        |   AND a.day - a.lag = b.day),
        |m AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
        |  CAST(sum(y*y) AS BIGINT) AS syy
        | FROM pairs GROUP BY 1, 2)
        |SELECT event_type, lag, n AS n_pairs,
        | round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
        |FROM m ORDER BY event_type, lag""".stripMargin,

    "events_pit_features" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  epoch_ns(ts)//1000000000 AS ts_s FROM events),
        |f AS (SELECT event_id, user_id, event_type, ts_s,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts_s
        |    RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING) AS BIGINT)
        |    AS n_prior_7d,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_s
        |    RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS n_views_7d,
        |  coalesce(ts_s - lag(ts_s, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id), -1) AS gap_s
        | FROM e)
        |SELECT event_id, user_id, ts_s, n_prior_7d, n_views_7d, gap_s
        |FROM f WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "graph_degree_hist" ->
      """WITH e AS (
        | SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        | FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS dg
        |  FROM e GROUP BY 1),
        |binned AS (SELECT CAST(length(bin(dg)) - 1 AS BIGINT) AS bin_l2,
        |   CAST(count(*) AS BIGINT) AS n_nodes
        |  FROM deg GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS n_total FROM binned),
        |tail AS (SELECT CAST(count(*) AS BIGINT) AS n_tail,
        |   CAST(sum(CAST(round(1e6 * ln(dg / 64.0)) AS BIGINT)) AS BIGINT)
        |     AS lnsum_u6
        |  FROM deg WHERE dg >= 64)
        |SELECT bin_l2,
        | CAST(pow(2, bin_l2) AS BIGINT) AS d_lo,
        | CAST(pow(2, bin_l2 + 1) AS BIGINT) - 1 AS d_hi,
        | n_nodes,
        | round(CAST(n_nodes AS DOUBLE) / n_total, 6) AS share,
        | n_tail,
        | round(1.0 + CAST(n_tail AS DOUBLE) / (CAST(lnsum_u6 AS DOUBLE) / 1e6),
        |   6) AS hill_alpha
        |FROM binned CROSS JOIN tot CROSS JOIN tail ORDER BY bin_l2""".stripMargin,

    "quality_confident_joint" ->
      s"""WITH sc AS (SELECT doc_id, score FROM ($qualityClassifierSql) c),
        |yy AS (SELECT doc_id,
        |  CASE WHEN quality_bucket = 'ok' THEN 1 ELSE 0 END AS y
        | FROM ($textQualitySql) q),
        |d AS (SELECT sc.doc_id, yy.y,
        |  CAST(round(score * 1e6) AS BIGINT) AS s_u6
        | FROM sc JOIN yy USING (doc_id)),
        |th AS (SELECT
        |  CAST(sum(CASE WHEN y = 1 THEN s_u6 END) AS BIGINT) AS sum1,
        |  CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN y = 0 THEN 1000000 - s_u6 END) AS BIGINT)
        |    AS sum0,
        |  CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
        | FROM d),
        |cells AS (SELECT CAST(y AS BIGINT) AS noisy_label,
        |  CAST(CASE
        |    WHEN s_u6 * n1 >= sum1 AND (1000000 - s_u6) * n0 >= sum0 THEN
        |      CASE WHEN s_u6 >= 500000 THEN 1 ELSE 0 END
        |    WHEN s_u6 * n1 >= sum1 THEN 1
        |    WHEN (1000000 - s_u6) * n0 >= sum0 THEN 0
        |    ELSE -1 END AS BIGINT) AS confident_label,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM d CROSS JOIN th GROUP BY 1, 2),
        |rt AS (SELECT noisy_label, CAST(sum(n) AS BIGINT) AS n_row
        |  FROM cells GROUP BY 1)
        |SELECT noisy_label, confident_label, n,
        | round(CAST(n AS DOUBLE) / n_row, 6) AS row_share
        |FROM cells JOIN rt USING (noisy_label)
        |ORDER BY noisy_label, confident_label""".stripMargin,

    "events_slo_burn" ->
      """WITH hourly AS (SELECT epoch_ns(ts)//1000000000//3600 AS hour,
        |   CAST(count(*) AS BIGINT) AS n_total,
        |   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_err
        |  FROM events GROUP BY 1),
        |span AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM hourly),
        |grid AS (SELECT g.hour, coalesce(h.n_total, 0) AS n_total,
        |   coalesce(h.n_err, 0) AS n_err
        |  FROM (SELECT unnest(generate_series(h0, h1)) AS hour FROM span) g
        |  LEFT JOIN hourly h USING (hour)),
        |trail AS (SELECT hour + off AS hour,
        |   CAST(sum(n_total) AS BIGINT) AS t6,
        |   CAST(sum(n_err) AS BIGINT) AS e6
        |  FROM grid CROSS JOIN
        |   (SELECT unnest(generate_series(0, 5)) AS off) o
        |  GROUP BY 1),
        |j AS (SELECT g.hour, g.n_total, g.n_err, t.t6, t.e6,
        |  CASE WHEN g.n_total > 0
        |    THEN round(CAST(g.n_err AS DOUBLE) / g.n_total, 6)
        |    ELSE 0.0 END AS rate1,
        |  CASE WHEN t.t6 > 0
        |    THEN round(CAST(t.e6 AS DOUBLE) / t.t6, 6)
        |    ELSE 0.0 END AS rate6
        | FROM grid g JOIN trail t USING (hour))
        |SELECT hour AS hour_ts, n_total, n_err, rate1,
        | round(rate1 / 0.01, 6) AS burn1, rate6,
        | round(rate6 / 0.01, 6) AS burn6,
        | CAST(CASE WHEN rate1 / 0.01 >= 14.4 AND rate6 / 0.01 >= 6.0
        |   THEN 1 ELSE 0 END AS INT) AS page
        |FROM j ORDER BY hour_ts""".stripMargin,

    "orders_price_index" ->
      """WITH m AS (SELECT
        |   year(l_shipdate) * 100 + month(l_shipdate) AS ym, l_partkey,
        |   CAST(round(sum(l_quantity)) AS BIGINT) AS qty,
        |   CAST(round(100.0 * sum(l_extendedprice) / sum(l_quantity))
        |     AS BIGINT) AS price_c
        |  FROM lineitem GROUP BY 1, 2),
        |base AS (SELECT min(ym) AS ym0 FROM m),
        |bt AS (SELECT l_partkey, qty AS q0, price_c AS p0_c
        |  FROM m CROSS JOIN base WHERE ym = ym0)
        |SELECT m.ym, CAST(count(*) AS BIGINT) AS n_parts,
        | round(CAST(sum(m.price_c * bt.q0) AS DOUBLE)
        |   / CAST(sum(bt.p0_c * bt.q0) AS DOUBLE), 6) AS price_index
        |FROM m JOIN bt USING (l_partkey)
        |GROUP BY m.ym ORDER BY m.ym""".stripMargin,

    "embed_cluster_nmi" ->
      s"""$kmeansCtes,
        |assign AS (SELECT vec_id, cid AS cluster FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2, cid) AS rn FROM p2) t WHERE rn = 1),
        |cells AS (SELECT a.cluster, emb.label,
        |   CAST(count(*) AS BIGINT) AS n_ij
        |  FROM assign a JOIN embeddings emb USING (vec_id) GROUP BY 1, 2),
        |rc AS (SELECT cluster, CAST(sum(n_ij) AS BIGINT) AS n_i
        |  FROM cells GROUP BY 1),
        |ccc AS (SELECT label, CAST(sum(n_ij) AS BIGINT) AS n_j
        |  FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_ij) AS BIGINT) AS nn FROM cells),
        |mi AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(CAST(round(1e9 * (CAST(n_ij AS DOUBLE) / nn)
        |    * ln(CAST(nn AS DOUBLE) * n_ij
        |      / (CAST(n_i AS DOUBLE) * n_j))) AS BIGINT)) AS BIGINT) AS mi_u9
        | FROM cells JOIN rc USING (cluster) JOIN ccc USING (label)
        |  CROSS JOIN tt),
        |hc AS (SELECT CAST(sum(CAST(round(-1e9 * (CAST(n_i AS DOUBLE) / nn)
        |    * ln(CAST(n_i AS DOUBLE) / nn)) AS BIGINT)) AS BIGINT) AS hc_u9
        |  FROM rc CROSS JOIN tt),
        |hl AS (SELECT CAST(sum(CAST(round(-1e9 * (CAST(n_j AS DOUBLE) / nn)
        |    * ln(CAST(n_j AS DOUBLE) / nn)) AS BIGINT)) AS BIGINT) AS hl_u9
        |  FROM ccc CROSS JOIN tt)
        |SELECT n_cells,
        | round(mi_u9 / 1e9, 6) AS mutual_info,
        | round(hc_u9 / 1e9, 6) AS h_cluster,
        | round(hl_u9 / 1e9, 6) AS h_label,
        | round(CAST(mi_u9 AS DOUBLE)
        |   / sqrt(CAST(hc_u9 AS DOUBLE) * CAST(hl_u9 AS DOUBLE)), 6) AS nmi
        |FROM mi CROSS JOIN hc CROSS JOIN hl""".stripMargin,

    "text_code_detect" ->
      """WITH d AS (SELECT doc_id, text,
        |  string_split_regex(text, '\s+') AS t FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(
        |    regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS BIGINT)
        |    AS n_sym,
        |  CAST(len(list_filter(t, x -> x IN
        |    ('join','hash','scan','sort','merge','filter'))) AS BIGINT)
        |    AS n_kw,
        |  CAST(len(list_filter(t, x -> x IN
        |    ('the','a','and','or','of'))) AS BIGINT) AS n_stop,
        |  CAST(length(text) AS BIGINT) AS n_chars
        | FROM d),
        |r AS (SELECT doc_id, n_tokens,
        |  round(CAST(n_sym AS DOUBLE) / n_chars, 6) AS sym_ratio,
        |  round(CAST(n_kw AS DOUBLE) / n_tokens, 6) AS kw_ratio,
        |  round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio
        | FROM f)
        |SELECT doc_id, n_tokens, sym_ratio, kw_ratio, stop_ratio,
        | CASE WHEN kw_ratio >= 0.18 AND stop_ratio <= 0.08 THEN 'code'
        |      WHEN kw_ratio >= 0.10 THEN 'mixed'
        |      ELSE 'prose' END AS verdict
        |FROM r ORDER BY doc_id""".stripMargin,

    "layout_skew_report" ->
      """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |   CAST(count(*) AS BIGINT) AS n_parts FROM per)
        |SELECT source, n_docs, bytes,
        | round(CAST(bytes AS DOUBLE) / total_bytes, 6) AS byte_share,
        | round(CAST(bytes AS DOUBLE) * n_parts / total_bytes, 6)
        |   AS skew_vs_mean,
        | greatest(CAST(1 AS BIGINT), (bytes + 1048575) // 1048576)
        |   AS files_recommended
        |FROM per CROSS JOIN tot ORDER BY source""".stripMargin,

    "table_estimate" ->
      """WITH l AS (SELECT
        |  l_extendedprice * (1.0 - l_discount) AS rev,
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef', substr(md5(
        |      CAST(l_orderkey AS VARCHAR) || ':' ||
        |      CAST(l_linenumber AS VARCHAR) || '#aqp'), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 < 0.1
        |   THEN 1 ELSE 0 END AS inS
        | FROM lineitem),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |  sum(rev) AS rev_exact,
        |  CAST(sum(inS) AS BIGINT) AS n_sample,
        |  sum(CASE WHEN inS = 1 THEN rev ELSE 0.0 END) AS sr,
        |  sum(CASE WHEN inS = 1 THEN rev * rev ELSE 0.0 END) AS sr2
        | FROM l),
        |est AS (SELECT *,
        |  sr / n_sample AS mean,
        |  sr2 / n_sample - (sr / n_sample) * (sr / n_sample) AS variance,
        |  n_sample / 0.1 AS n_hat,
        |  sr / 0.1 AS rev_est
        | FROM agg),
        |e2 AS (SELECT *,
        |  sqrt(variance / n_sample) * n_hat AS se_total FROM est)
        |SELECT n_sample, n_exact,
        | CAST(round(n_hat) AS BIGINT) AS n_est,
        | round(rev_est, 2) AS rev_est,
        | round(rev_exact, 2) AS rev_exact,
        | round(rev_est - 1.96 * se_total, 2) AS ci_lo,
        | round(rev_est + 1.96 * se_total, 2) AS ci_hi,
        | round(abs(rev_est - rev_exact) / rev_exact, 6) AS rel_err,
        | CAST(CASE WHEN rev_exact >= rev_est - 1.96 * se_total
        |   AND rev_exact <= rev_est + 1.96 * se_total
        |   THEN 1 ELSE 0 END AS INT) AS within_ci
        |FROM e2""".stripMargin,

    "events_sequential_msprt" ->
      """WITH e AS (SELECT user_id, value,
        |  epoch_ns(ts)//1000000000//86400 AS day
        | FROM events WHERE event_type = 'purchase'),
        |uv AS (SELECT day, value,
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 < 0.5
        |   THEN 'A' ELSE 'B' END AS variant FROM e),
        |daily AS (SELECT day, variant, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(round(sum(value), 6) * 1e6) AS BIGINT) AS s_u6,
        |  CAST(round(round(sum(value * value), 6) * 1e6) AS BIGINT) AS ss_u6
        | FROM uv GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |grid AS (SELECT g.day, v.variant, coalesce(d.n, 0) AS n,
        |   coalesce(d.s_u6, 0) AS s_u6, coalesce(d.ss_u6, 0) AS ss_u6
        |  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM span) g
        |  CROSS JOIN (SELECT unnest(['A','B']) AS variant) v
        |  LEFT JOIN daily d ON d.day = g.day AND d.variant = v.variant),
        |cum AS (SELECT day, variant,
        |  CAST(sum(n) OVER w AS BIGINT) AS cn,
        |  CAST(sum(s_u6) OVER w AS BIGINT) AS cs,
        |  CAST(sum(ss_u6) OVER w AS BIGINT) AS css
        | FROM grid WINDOW w AS (PARTITION BY variant ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |byday AS (SELECT day,
        |  CAST(sum(CASE WHEN variant = 'A' THEN cn END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN cn END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN variant = 'A' THEN cs END) AS BIGINT) AS sa,
        |  CAST(sum(CASE WHEN variant = 'B' THEN cs END) AS BIGINT) AS sb,
        |  CAST(sum(CASE WHEN variant = 'A' THEN css END) AS BIGINT) AS ssa,
        |  CAST(sum(CASE WHEN variant = 'B' THEN css END) AS BIGINT) AS ssb
        | FROM cum GROUP BY 1),
        |st AS (SELECT *,
        |  CAST(sa AS DOUBLE) / 1e6 / n_a AS ma,
        |  CAST(sb AS DOUBLE) / 1e6 / n_b AS mb,
        |  CAST(ssa AS DOUBLE) / 1e6 / n_a
        |    - (CAST(sa AS DOUBLE) / 1e6 / n_a)
        |      * (CAST(sa AS DOUBLE) / 1e6 / n_a) AS va,
        |  CAST(ssb AS DOUBLE) / 1e6 / n_b
        |    - (CAST(sb AS DOUBLE) / 1e6 / n_b)
        |      * (CAST(sb AS DOUBLE) / 1e6 / n_b) AS vb
        | FROM byday),
        |sc AS (SELECT *, va / n_a + vb / n_b AS vn, mb - ma AS delta,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND va / n_a + vb / n_b > 0 THEN
        |   sqrt((va / n_a + vb / n_b) / (va / n_a + vb / n_b + 0.01))
        |   * exp((mb - ma) * (mb - ma) * 0.01
        |     / (2.0 * (va / n_a + vb / n_b)
        |        * (va / n_a + vb / n_b + 0.01)))
        |  END AS lam FROM st),
        |blk AS (SELECT *, day // 32 AS blk FROM sc),
        |inblk AS (SELECT day, blk, lam,
        |  max(lam) OVER (PARTITION BY blk ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cmax
        | FROM blk),
        |btot AS (SELECT blk, max(lam) AS bmax FROM blk GROUP BY 1),
        |pfx AS (SELECT a.blk, max(b.bmax) AS pmax
        |  FROM btot a LEFT JOIN btot b ON b.blk < a.blk GROUP BY 1),
        |prun AS (SELECT i.day,
        |  CASE WHEN i.cmax IS NULL THEN p.pmax
        |       WHEN p.pmax IS NULL THEN i.cmax
        |       ELSE greatest(i.cmax, p.pmax) END AS max_lam
        | FROM inblk i JOIN pfx p USING (blk))
        |SELECT sc.day, n_a, n_b,
        | round(delta, 6) AS delta,
        | round(lam, 6) AS lambda,
        | round(least(1.0, 1.0 / max_lam), 6) AS p_always,
        | CAST(coalesce(CAST(1.0 / max_lam <= 0.05 AS INT), 0) AS INT)
        |   AS reject
        |FROM sc JOIN prun ON prun.day = sc.day ORDER BY sc.day""".stripMargin,

    "events_qte" ->
      """WITH e AS (SELECT
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 < 0.5
        |   THEN 'A' ELSE 'B' END AS variant,
        |  CAST(round(value * 100) AS BIGINT) AS v_c
        | FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT variant, v_c, CAST(count(*) AS BIGINT) AS w
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT variant, v_c,
        |  sum(w) OVER (PARTITION BY variant ORDER BY v_c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM g),
        |t AS (SELECT variant, sum(w) AS total_n FROM g GROUP BY 1),
        |q AS (SELECT CAST(unnest([25, 50, 75, 90]) AS BIGINT) AS q_pct),
        |p AS (SELECT c.variant, q.q_pct, min(c.v_c) AS qv_c
        |  FROM c JOIN t USING (variant) CROSS JOIN q
        |  WHERE c.cum * 100 >= q.q_pct * t.total_n
        |  GROUP BY 1, 2)
        |SELECT q_pct,
        | CAST(sum(CASE WHEN variant = 'A' THEN qv_c END) AS DOUBLE)
        |   / 100.0 AS q_a,
        | CAST(sum(CASE WHEN variant = 'B' THEN qv_c END) AS DOUBLE)
        |   / 100.0 AS q_b,
        | CAST(sum(CASE WHEN variant = 'B' THEN qv_c END)
        |   - sum(CASE WHEN variant = 'A' THEN qv_c END) AS DOUBLE)
        |   / 100.0 AS qte
        |FROM p GROUP BY 1 ORDER BY q_pct""".stripMargin,

    "events_benford" ->
      """WITH obs AS (SELECT
        |  CAST(substr(CAST(CAST(round(value * 100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT) AS d,
        |  CAST(count(*) AS BIGINT) AS n_obs
        | FROM events WHERE event_type = 'purchase' AND value > 0
        | GROUP BY 1),
        |digits AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT)
        |  AS d),
        |tot AS (SELECT sum(n_obs) AS n_total FROM obs),
        |j AS (SELECT digits.d, coalesce(obs.n_obs, 0) AS n_obs
        |  FROM digits LEFT JOIN obs ON obs.d = digits.d),
        |x AS (SELECT j.d, j.n_obs, tot.n_total,
        |  round(log10(1.0 + 1.0 / j.d), 6) AS exp_share
        | FROM j CROSS JOIN tot)
        |SELECT d, n_obs,
        | round(CAST(n_obs AS DOUBLE) / n_total, 6) AS obs_share,
        | exp_share,
        | round((CAST(n_obs AS DOUBLE) - exp_share * n_total)
        |   * (CAST(n_obs AS DOUBLE) - exp_share * n_total)
        |   / (exp_share * n_total), 6) AS chi2_term
        |FROM x ORDER BY d""".stripMargin,

    "text_lexical_diversity" ->
      """WITH tk AS (SELECT doc_id,
        |  unnest(string_split_regex(text, '\s+')) AS tok
        | FROM documents),
        |f AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM tk GROUP BY 1, 2),
        |a AS (SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  CAST(sum(c * c) AS BIGINT) AS sum_c2
        | FROM f GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types, n_hapax,
        | round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
        | round(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_share,
        | round(1e4 * CAST(sum_c2 - n_tokens AS DOUBLE)
        |   / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6)
        |   AS yule_k
        |FROM a ORDER BY doc_id""".stripMargin,

    "graph_2hop_reach" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |sym AS (SELECT u AS s, v AS d FROM e
        |  UNION ALL SELECT v AS s, u AS d FROM e),
        |deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS dg
        |  FROM sym GROUP BY 1),
        |q AS (SELECT node AS a, dg AS deg_a FROM deg
        |  ORDER BY dg DESC, node LIMIT 50),
        |h1 AS (SELECT q.a, sym.d AS b FROM sym JOIN q ON sym.s = q.a),
        |h2 AS (SELECT h1.a, s2.d AS b FROM h1 JOIN sym s2 ON s2.s = h1.b),
        |r AS (SELECT a, b FROM h1 UNION SELECT a, b FROM h2),
        |rc AS (SELECT a, CAST(count(*) AS BIGINT) AS reach_2 FROM r
        |  WHERE b <> a GROUP BY 1)
        |SELECT q.a AS p_partkey, q.deg_a, rc.reach_2,
        | round(CAST(rc.reach_2 AS DOUBLE) / q.deg_a, 6) AS expansion
        |FROM q JOIN rc ON rc.a = q.a
        |ORDER BY reach_2 DESC, p_partkey""".stripMargin,

    "events_bayesian_ab" ->
      """WITH u AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS conv
        | FROM events GROUP BY 1),
        |v AS (SELECT conv,
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 < 0.5
        |   THEN 'A' ELSE 'B' END AS variant FROM u),
        |st AS (SELECT
        |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END)
        |    AS BIGINT) AS x_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END)
        |    AS BIGINT) AS x_b
        | FROM v),
        |g AS (SELECT unnest(generate_series(1, 199)) AS k),
        |l AS (SELECT k,
        |  x_a * ln(k / 200.0) + (n_a - x_a) * ln(1.0 - k / 200.0) AS la,
        |  x_b * ln(k / 200.0) + (n_b - x_b) * ln(1.0 - k / 200.0) AS lb
        | FROM g CROSS JOIN st),
        |m AS (SELECT max(la) AS ma, max(lb) AS mb FROM l),
        |e AS (SELECT k, exp(la - ma) AS ea, exp(lb - mb) AS eb
        |  FROM l CROSS JOIN m),
        |s AS (SELECT sum(ea) AS sa, sum(eb) AS sb FROM e),
        |w AS (SELECT k, ea / sa AS wa, eb / sb AS wb
        |  FROM e CROSS JOIN s),
        |pr AS (SELECT sum(CASE WHEN i.k > j.k THEN i.wb * j.wa
        |    WHEN i.k = j.k THEN i.wb * j.wa * 0.5 ELSE 0.0 END) AS pb
        |  FROM w i CROSS JOIN w j)
        |SELECT n_a, x_a, n_b, x_b,
        | round(CAST(x_a + 1 AS DOUBLE) / (n_a + 2), 6) AS post_mean_a,
        | round(CAST(x_b + 1 AS DOUBLE) / (n_b + 2), 6) AS post_mean_b,
        | round(CAST(x_b + 1 AS DOUBLE) / (n_b + 2)
        |   - CAST(x_a + 1 AS DOUBLE) / (n_a + 2), 6) AS lift_mean,
        | round(pb, 6) AS p_b_gt_a
        |FROM st CROSS JOIN pr""".stripMargin,

    "events_winsorized_ab" ->
      """WITH e AS (SELECT
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 < 0.5
        |   THEN 'A' ELSE 'B' END AS variant,
        |  CAST(round(value * 100) AS BIGINT) AS v_c
        | FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT variant, v_c, CAST(count(*) AS BIGINT) AS w
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT variant, v_c,
        |  sum(w) OVER (PARTITION BY variant ORDER BY v_c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM g),
        |t AS (SELECT variant, sum(w) AS total_n FROM g GROUP BY 1),
        |cap AS (SELECT c.variant, min(c.v_c) AS cap_c
        |  FROM c JOIN t USING (variant)
        |  WHERE c.cum * 100 >= t.total_n * 99 GROUP BY 1),
        |a AS (SELECT g.variant,
        |  CAST(sum(w) AS BIGINT) AS n,
        |  max(cap_c) AS cap_c,
        |  CAST(sum(w * v_c) AS BIGINT) AS sum_raw,
        |  CAST(sum(w * least(v_c, cap_c)) AS BIGINT) AS sum_wins,
        |  CAST(sum(CASE WHEN v_c <= cap_c THEN w ELSE 0 END)
        |    AS BIGINT) AS n_trim,
        |  CAST(sum(CASE WHEN v_c <= cap_c THEN w * v_c ELSE 0 END)
        |    AS BIGINT) AS sum_trim
        | FROM g JOIN cap ON cap.variant = g.variant GROUP BY 1)
        |SELECT variant, n, CAST(cap_c AS DOUBLE) / 100.0 AS cap_p99,
        | round(CAST(sum_raw AS DOUBLE) / n / 100.0, 6) AS mean_raw,
        | round(CAST(sum_wins AS DOUBLE) / n / 100.0, 6) AS mean_wins,
        | n_trim,
        | round(CAST(sum_trim AS DOUBLE) / n_trim / 100.0, 6)
        |   AS mean_trim,
        | round(CAST(sum_raw - sum_wins AS DOUBLE) / n / 100.0, 6)
        |   AS wins_effect
        |FROM a ORDER BY variant""".stripMargin,

    "sample_kfold" ->
      """WITH d AS (SELECT doc_id, source,
        |  CAST(floor(list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(doc_id AS VARCHAR) || '#fold'), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 * 5) AS BIGINT) AS fold
        | FROM documents),
        |cell AS (SELECT fold, source, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY 1, 2),
        |bys AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source
        |  FROM d GROUP BY 1),
        |folds AS (SELECT CAST(unnest(generate_series(0, 4)) AS BIGINT)
        |  AS fold)
        |SELECT f.fold, b.source, coalesce(cell.n, 0) AS n, b.n_source,
        | round(CAST(coalesce(cell.n, 0) AS DOUBLE) / b.n_source, 6)
        |   AS share_of_source,
        | round((CAST(coalesce(cell.n, 0) AS DOUBLE) - b.n_source / 5.0)
        |   * (CAST(coalesce(cell.n, 0) AS DOUBLE) - b.n_source / 5.0)
        |   / (b.n_source / 5.0), 6) AS chi2_term
        |FROM folds f CROSS JOIN bys b
        |LEFT JOIN cell ON cell.fold = f.fold AND cell.source = b.source
        |ORDER BY f.fold, b.source""".stripMargin,

    "mm_phash_buckets" ->
      """WITH g AS (SELECT doc_id,
        |  list_transform(generate_series(0, 63),
        |    i -> least(ascii(substr(text,
        |      CAST((i * length(text)) // 64 AS INT) + 1, 1)), 255)) AS v
        | FROM documents WHERE length(text) >= 1),
        |hs AS (SELECT doc_id, v, list_sum(v) AS sv FROM g),
        |h2 AS (SELECT doc_id,
        |  CAST(list_sum(list_transform(generate_series(1, 48),
        |    i -> CASE WHEN 64 * v[i] > sv THEN pow(2.0, i - 1)
        |      ELSE 0.0 END)) AS BIGINT) AS h48
        | FROM hs),
        |bands AS (SELECT CAST(unnest(generate_series(1, 4)) AS BIGINT)
        |  AS band),
        |bd AS (SELECT band, doc_id, h48,
        |  (h48 >> CAST((band - 1) * 12 AS INT)) & 4095 AS bkey
        | FROM h2 CROSS JOIN bands),
        |bk AS (SELECT band, bkey, CAST(count(*) AS BIGINT) AS k
        |  FROM bd GROUP BY 1, 2),
        |st AS (SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_multi,
        |  CAST(sum(k * (k - 1) // 2) AS BIGINT) AS cand_pairs,
        |  max(k) AS max_bucket
        | FROM bk GROUP BY 1),
        |hm AS (SELECT a.band,
        |  CAST(sum(bit_count(xor(a.h48, b.h48))) AS BIGINT) AS sum_ham
        | FROM bd a JOIN bd b ON a.band = b.band AND a.bkey = b.bkey
        |   AND a.doc_id < b.doc_id
        | GROUP BY 1)
        |SELECT st.band, n_buckets, n_multi, cand_pairs, max_bucket,
        | CASE WHEN cand_pairs > 0
        |   THEN round(CAST(sum_ham AS DOUBLE) / cand_pairs, 6)
        |   END AS avg_hamming
        |FROM st LEFT JOIN hm ON hm.band = st.band
        |ORDER BY st.band""".stripMargin,

    "layout_pruning_sim" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |  CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT)
        |    AS day
        | FROM lineitem),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM li),
        |sh AS (SELECT day,
        |  CAST(floor(list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
        |        || CAST(l_linenumber AS VARCHAR)), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 * 32) AS BIGINT)
        |    AS shard_hash,
        |  least(31, (32 * (day - d0)) // (d1 - d0 + 1)) AS shard_sorted
        | FROM li CROSS JOIN span),
        |zh AS (SELECT shard_hash, min(day) AS mn, max(day) AS mx
        |  FROM sh GROUP BY 1),
        |zs AS (SELECT shard_sorted, min(day) AS mn, max(day) AS mx
        |  FROM sh GROUP BY 1),
        |qs AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT)
        |  AS q_idx),
        |qd AS (SELECT q_idx, d0 + (q_idx * (d1 - d0)) // 10 AS q_day
        |  FROM qs CROSS JOIN span),
        |hh AS (SELECT q_idx, q_day, CAST(count(*) AS BIGINT)
        |    AS files_hash
        |  FROM qd JOIN zh ON zh.mn <= q_day AND q_day <= zh.mx
        |  GROUP BY 1, 2),
        |hs AS (SELECT q_idx, q_day, CAST(count(*) AS BIGINT)
        |    AS files_sorted
        |  FROM qd JOIN zs ON zs.mn <= q_day AND q_day <= zs.mx
        |  GROUP BY 1, 2)
        |SELECT qd.q_idx, qd.q_day,
        | CAST(coalesce(files_hash, 0) AS BIGINT) AS files_hash,
        | CAST(coalesce(files_sorted, 0) AS BIGINT) AS files_sorted,
        | round(1.0 - CAST(coalesce(files_hash, 0) AS DOUBLE) / 32, 6)
        |   AS prune_ratio_hash,
        | round(1.0 - CAST(coalesce(files_sorted, 0) AS DOUBLE) / 32, 6)
        |   AS prune_ratio_sorted
        |FROM qd LEFT JOIN hh USING (q_idx, q_day)
        |LEFT JOIN hs USING (q_idx, q_day)
        |ORDER BY q_idx""".stripMargin,

    "customer_order_velocity" ->
      """WITH o AS (SELECT o_custkey,
        |  CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
        |    AS day
        | FROM orders),
        |b AS (SELECT o_custkey,
        |  CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS burst7
        | FROM o),
        |g AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  max(burst7) AS max_burst_7d
        | FROM b GROUP BY 1)
        |SELECT o_custkey, n_orders, max_burst_7d,
        | CAST(CASE WHEN max_burst_7d >= 3 THEN 1 ELSE 0 END AS INT)
        |   AS flagged
        |FROM g ORDER BY max_burst_7d DESC, o_custkey LIMIT 20""".stripMargin,

    "text_zipf_coverage" ->
      """WITH tok AS (SELECT unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
        |  CAST(count(*) AS BIGINT) AS n_types FROM freq),
        |top AS (SELECT c,
        |  CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT)
        |    AS rank
        | FROM freq ORDER BY c DESC, tok LIMIT 1000),
        |ks AS (SELECT CAST(unnest([10, 100, 1000]) AS BIGINT) AS k),
        |hd AS (SELECT k, CAST(sum(c) AS BIGINT) AS covered_tokens,
        |  CAST(count(*) AS BIGINT) AS n_in_head
        | FROM top CROSS JOIN ks WHERE rank <= k GROUP BY 1)
        |SELECT k, n_in_head, covered_tokens, n_total, n_types,
        | round(CAST(covered_tokens AS DOUBLE) / n_total, 6) AS coverage
        |FROM hd CROSS JOIN tot ORDER BY k""".stripMargin,

    "privacy_pseudonymize" ->
      """WITH spend AS (SELECT o_custkey,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS spend_c
        | FROM orders GROUP BY 1)
        |SELECT substr(sha256('graft-pseudo:' || CAST(c_custkey AS VARCHAR)),
        |    1, 16) AS pseudonym,
        | c_mktsegment, n_orders,
        | round(CAST(spend_c AS DOUBLE) / 100, 2) AS total_spend
        |FROM customer JOIN spend ON c_custkey = o_custkey
        |ORDER BY total_spend DESC, pseudonym LIMIT 20""".stripMargin,

    "events_bootstrap_ci" ->
      """WITH pur AS (SELECT event_id,
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 < 0.5
        |   THEN 'A' ELSE 'B' END AS variant,
        |  CAST(round(value * 100) AS BIGINT) AS v_c
        | FROM events WHERE event_type = 'purchase'),
        |bs AS (SELECT CAST(unnest(generate_series(1, 100)) AS BIGINT)
        |  AS b),
        |reps AS (SELECT variant, v_c, b,
        |  list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(event_id AS VARCHAR) || '#boot'
        |        || CAST(b AS VARCHAR)), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 AS u
        | FROM pur CROSS JOIN bs),
        |wt AS (SELECT variant, v_c, b,
        |  CASE WHEN u < 0.36787944117144233 THEN 0
        |    WHEN u < 0.7357588823428847 THEN 1
        |    WHEN u < 0.9196986029286058 THEN 2
        |    WHEN u < 0.9810118431238463 THEN 3
        |    WHEN u < 0.9963401531726563 THEN 4
        |    WHEN u < 0.9994058151824183 THEN 5
        |    WHEN u < 0.999916758850712 THEN 6
        |    WHEN u < 0.9999897508033253 THEN 7
        |    WHEN u < 0.999998874797402 THEN 8
        |    ELSE 9 END AS w
        | FROM reps),
        |m AS (SELECT variant, b, CAST(sum(w * v_c) AS BIGINT) AS swv,
        |  CAST(sum(w) AS BIGINT) AS sw
        | FROM wt GROUP BY 1, 2),
        |r AS (SELECT variant, b, CAST(swv AS DOUBLE) / sw AS mean_c,
        |  row_number() OVER (PARTITION BY variant
        |    ORDER BY CAST(swv AS DOUBLE) / sw, b) AS rk
        | FROM m),
        |ci AS (SELECT variant,
        |  min(CASE WHEN rk = 3 THEN mean_c END) AS lo_c,
        |  min(CASE WHEN rk = 98 THEN mean_c END) AS hi_c
        | FROM r GROUP BY 1),
        |pt AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(v_c) AS BIGINT) AS s_c
        | FROM pur GROUP BY 1)
        |SELECT pt.variant, n_purchases,
        | round(CAST(s_c AS DOUBLE) / n_purchases / 100, 6) AS point_mean,
        | round(lo_c / 100, 6) AS boot_lo,
        | round(hi_c / 100, 6) AS boot_hi
        |FROM pt JOIN ci ON pt.variant = ci.variant
        |ORDER BY pt.variant""".stripMargin,

    "mm_dedup_bytes" ->
      """WITH m AS (SELECT md5(text) AS h,
        |  CAST(strlen(text) AS BIGINT) AS nb FROM documents),
        |f AS (SELECT h, CAST(count(*) AS BIGINT) AS family_size,
        |  CAST(sum(nb) AS BIGINT) AS fam_bytes,
        |  CAST(min(nb) AS BIGINT) AS keep_bytes
        | FROM m GROUP BY 1),
        |t AS (SELECT CAST(sum(nb) AS BIGINT) AS total_bytes FROM m),
        |g AS (SELECT family_size, CAST(count(*) AS BIGINT) AS n_families,
        |  CAST(sum(fam_bytes - keep_bytes) AS BIGINT) AS reclaim_bytes
        | FROM f GROUP BY 1)
        |SELECT family_size, n_families,
        | family_size * n_families AS n_items, reclaim_bytes,
        | round(CAST(reclaim_bytes AS DOUBLE) / total_bytes, 6)
        |   AS reclaim_share
        |FROM g CROSS JOIN t ORDER BY family_size""".stripMargin,

    "customer_active_streaks" ->
      """WITH mo AS (SELECT DISTINCT o_custkey,
        |  CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
        |    AS BIGINT) AS m
        | FROM orders),
        |i AS (SELECT o_custkey, m,
        |  m - row_number() OVER (PARTITION BY o_custkey ORDER BY m)
        |    AS grp
        | FROM mo),
        |s AS (SELECT o_custkey, grp, CAST(count(*) AS BIGINT) AS len
        |  FROM i GROUP BY 1, 2),
        |mx AS (SELECT o_custkey, max(len) AS longest FROM s GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM mx)
        |SELECT longest AS streak_months,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | round(CAST(count(*) AS DOUBLE) / n_total, 6) AS share
        |FROM mx CROSS JOIN t GROUP BY 1, n_total
        |ORDER BY 1""".stripMargin,

    "supplier_otif_wilson" ->
      """WITH st AS (SELECT l_suppkey,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate)
        |    <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY 1),
        |w AS (SELECT l_suppkey, n_lines, n_ontime,
        |  CAST(n_ontime AS DOUBLE) / n_lines AS p,
        |  CAST(n_lines AS DOUBLE) AS nd,
        |  CAST(1.959964 AS DOUBLE) AS z
        | FROM st),
        |lb AS (SELECT l_suppkey, n_lines, n_ontime, p,
        |  ((p + z * z / (2 * nd))
        |   - z * sqrt(p * (1 - p) / nd + z * z / (4 * nd * nd)))
        |  / (1 + z * z / nd) AS wilson
        | FROM w)
        |SELECT l_suppkey, n_lines, n_ontime,
        | round(p, 6) AS ontime_rate,
        | round(wilson, 6) AS wilson_lb,
        | CAST(CASE WHEN wilson < 0.5 THEN 1 ELSE 0 END AS INT)
        |   AS flagged
        |FROM lb ORDER BY l_suppkey""".stripMargin,

    "graph_clustering_local" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |d AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS dg
        |  FROM (SELECT u AS node FROM e
        |        UNION ALL SELECT v AS node FROM e) nn GROUP BY 1),
        |orient AS MATERIALIZED (SELECT
        |   CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
        |     THEN u ELSE v END AS src,
        |   CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
        |     THEN v ELSE u END AS dst
        |  FROM e JOIN d du ON e.u = du.node JOIN d dv ON e.v = dv.node),
        |w AS (SELECT x.src AS a, x.dst AS n1, y.dst AS n2
        |  FROM orient x JOIN orient y ON x.src = y.src AND x.dst < y.dst),
        |tri AS MATERIALIZED (SELECT a, n1, n2
        |  FROM w JOIN e ON n1 = e.u AND n2 = e.v),
        |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM (SELECT a AS node FROM tri UNION ALL SELECT n1 FROM tri
        |        UNION ALL SELECT n2 FROM tri) t
        |  GROUP BY 1),
        |c AS (SELECT d.node, d.dg, coalesce(pn.n_triangles, 0) AS tr,
        |  2.0 * coalesce(pn.n_triangles, 0)
        |    / (CAST(d.dg AS DOUBLE) * CAST(d.dg - 1 AS DOUBLE)) AS coeff
        | FROM d LEFT JOIN pn ON d.node = pn.node WHERE d.dg >= 2),
        |cb AS (SELECT least(10, CAST(floor(coeff * 10) AS BIGINT))
        |    AS bucket,
        |  CAST(round(coeff * 1e6) AS BIGINT) AS c_u6
        | FROM c),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM cb)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_nodes,
        | round(CAST(count(*) AS DOUBLE) / n_total, 6) AS share,
        | round(CAST(sum(c_u6) AS DOUBLE) / count(*) / 1e6, 6)
        |   AS avg_coeff
        |FROM cb CROSS JOIN t GROUP BY 1, n_total
        |ORDER BY bucket""".stripMargin,

    "events_growth_accounting" ->
      """WITH pr AS (SELECT DISTINCT user_id,
        |  CAST(epoch(ts) AS BIGINT) // 604800 AS week FROM events),
        |lg AS (SELECT user_id, week,
        |  lag(week) OVER (PARTITION BY user_id ORDER BY week)
        |    AS prev_week
        | FROM pr),
        |wk AS (SELECT week,
        |  CAST(sum(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN prev_week = week - 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_retained,
        |  CAST(sum(CASE WHEN prev_week IS NOT NULL
        |      AND prev_week < week - 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_resurrected
        | FROM lg GROUP BY 1),
        |cal AS (SELECT unnest(generate_series(
        |  (SELECT min(week) FROM wk), (SELECT max(week) FROM wk))) AS week),
        |wkf AS (SELECT cal.week,
        |  CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
        |  CAST(coalesce(n_retained, 0) AS BIGINT) AS n_retained,
        |  CAST(coalesce(n_resurrected, 0) AS BIGINT) AS n_resurrected
        | FROM cal LEFT JOIN wk ON wk.week = cal.week)
        |SELECT a.week,
        | a.n_new + a.n_retained + a.n_resurrected AS n_active,
        | a.n_new, a.n_retained, a.n_resurrected,
        | coalesce(p.n_new + p.n_retained + p.n_resurrected, 0)
        |   - a.n_retained AS n_churned
        |FROM wkf a LEFT JOIN wkf p ON p.week = a.week - 1
        |ORDER BY a.week""".stripMargin,

    "part_abc_class" ->
      """WITH rev AS (SELECT l_partkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS rev_c
        | FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(rev_c) AS BIGINT) AS total_c,
        |  CAST(count(*) AS BIGINT) AS n_parts_total FROM rev),
        |c AS (SELECT rev_c,
        |  CAST(coalesce(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS cum_excl
        | FROM rev),
        |cl AS (SELECT rev_c, total_c, n_parts_total,
        |  CASE WHEN cum_excl * 5 < total_c * 4 THEN 'A'
        |    WHEN cum_excl * 20 < total_c * 19 THEN 'B'
        |    ELSE 'C' END AS abc_class
        | FROM c CROSS JOIN t)
        |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
        | round(CAST(sum(rev_c) AS DOUBLE) / 100, 2) AS revenue,
        | round(CAST(sum(rev_c) AS DOUBLE) / total_c, 6)
        |   AS revenue_share,
        | round(CAST(count(*) AS DOUBLE) / n_parts_total, 6)
        |   AS part_share
        |FROM cl GROUP BY abc_class, total_c, n_parts_total
        |ORDER BY abc_class""".stripMargin,

    "clean_abn_checksum" ->
      ("""WITH shaped AS (
        | SELECT CASE WHEN c_custkey % 7 = 0 THEN printf('%010d', c_custkey)
        |             ELSE printf('%011d', c_custkey) END AS abn
        | FROM customer),
        |f AS (SELECT CAST(length(abn) AS BIGINT) AS abn_len,
        |  CAST(CASE WHEN length(abn) = 11 AND (
        |    (TRY_CAST(substr(abn, 1, 1) AS INT) - 1) * 10""".stripMargin +
        Seq(1, 3, 5, 7, 9, 11, 13, 15, 17, 19).zipWithIndex.map {
          case (w, i) =>
            s"\n    + TRY_CAST(substr(abn, ${i + 2}, 1) AS INT) * $w"
        }.mkString +
        """) % 89 = 0 THEN 1 ELSE 0 END AS INT) AS checksum_valid
        | FROM shaped),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM f)
        |SELECT abn_len, checksum_valid, CAST(count(*) AS BIGINT) AS n,
        | round(CAST(count(*) AS DOUBLE) / n_total, 6) AS share
        |FROM f CROSS JOIN t GROUP BY 1, 2, n_total
        |ORDER BY abn_len, checksum_valid""".stripMargin),

    "text_garbage_score" ->
      """WITH d AS (SELECT source,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(text)
        |    - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
        |    AS BIGINT) AS n_alpha,
        |  CAST(length(text)
        |    - length(regexp_replace(text, '[0-9]', '', 'g'))
        |    AS BIGINT) AS n_digit,
        |  CAST(coalesce(list_max(list_transform(
        |    regexp_extract_all(text, '[bcdfghjklmnpqrstvwxzBCDFGHJKLMNPQRSTVWXZ]+'),
        |    m -> length(m))), 0) AS BIGINT) AS max_run
        | FROM documents WHERE length(text) > 0),
        |u AS (SELECT source, max_run,
        |  CAST(round(n_alpha * 1e6 / n_chars) AS BIGINT) AS alpha_u6,
        |  CAST(round(n_digit * 1e6 / n_chars) AS BIGINT) AS digit_u6
        | FROM d),
        |f AS (SELECT source, max_run, alpha_u6, digit_u6,
        |  CASE WHEN alpha_u6 < 550000 OR digit_u6 > 300000
        |    OR max_run >= 8 THEN 1 ELSE 0 END AS garbage
        | FROM u)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(garbage) AS BIGINT) AS n_flagged,
        | round(CAST(sum(garbage) AS DOUBLE) / count(*), 6) AS flag_share,
        | round(CAST(sum(alpha_u6) AS DOUBLE) / count(*) / 1e6, 6)
        |   AS avg_alpha_ratio,
        | round(CAST(sum(digit_u6) AS DOUBLE) / count(*) / 1e6, 6)
        |   AS avg_digit_ratio,
        | max(max_run) AS max_consonant_run
        |FROM f GROUP BY 1 ORDER BY source""".stripMargin,

    "text_pii_incidence" ->
      """WITH withpii AS (SELECT doc_id, source,
        |  text ||
        |  CASE WHEN doc_id % 4 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 6 = 0 THEN ' call 555-' || printf('%04d', doc_id % 10000) ELSE '' END ||
        |  CASE WHEN doc_id % 10 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ELSE '' END
        |  AS text FROM documents),
        |c AS (SELECT source,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS ne,
        | CAST(len(regexp_extract_all(text, '\b555-[0-9]{4}\b')) AS BIGINT) AS np,
        | CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS ni
        | FROM withpii)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS docs_with_email,
        | CAST(sum(ne) AS BIGINT) AS n_email_matches,
        | CAST(sum(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS docs_with_phone,
        | CAST(sum(np) AS BIGINT) AS n_phone_matches,
        | CAST(sum(CASE WHEN ni > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS docs_with_ip,
        | CAST(sum(ni) AS BIGINT) AS n_ip_matches,
        | CAST(sum(CASE WHEN ne > 0 OR np > 0 OR ni > 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS docs_with_any,
        | round(CAST(sum(CASE WHEN ne > 0 OR np > 0 OR ni > 0 THEN 1
        |   ELSE 0 END) AS DOUBLE) / count(*), 6) AS any_pii_share
        |FROM c GROUP BY 1 ORDER BY source""".stripMargin,

    "part_supplier_hhi" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qs
        | FROM lineitem GROUP BY 1, 2),
        |pp AS (SELECT l_partkey, CAST(sum(qs) AS BIGINT) AS qt,
        |  CAST(sum(qs * qs) AS BIGINT) AS sq2,
        |  CAST(count(*) AS BIGINT) AS n_suppliers
        | FROM ps GROUP BY 1),
        |h AS (SELECT n_suppliers,
        |  CAST(round(CAST(sq2 AS DOUBLE) * 1e6
        |    / (CAST(qt AS DOUBLE) * CAST(qt AS DOUBLE))) AS BIGINT)
        |    AS hhi_u6
        | FROM pp),
        |b AS (SELECT least(10, hhi_u6 // 100000) AS bucket,
        |  n_suppliers, hhi_u6 FROM h),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_parts_total FROM b)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_parts,
        | round(CAST(count(*) AS DOUBLE) / n_parts_total, 6) AS share,
        | round(CAST(sum(n_suppliers) AS DOUBLE) / count(*), 6)
        |   AS avg_suppliers,
        | round(CAST(sum(hhi_u6) AS DOUBLE) / count(*) / 1e6, 6)
        |   AS avg_hhi
        |FROM b CROSS JOIN t GROUP BY 1, n_parts_total
        |ORDER BY bucket""".stripMargin,

    "dedup_cross_source" ->
      """WITH hs AS (SELECT DISTINCT md5(text) AS h, source
        |  FROM documents),
        |per AS (SELECT source, CAST(count(*) AS BIGINT) AS nh
        |  FROM hs GROUP BY 1),
        |pr AS (SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        | FROM hs a JOIN hs b ON a.h = b.h AND a.source <= b.source
        | GROUP BY 1, 2)
        |SELECT source_a, source_b, n_shared,
        | pa.nh AS n_a, pb.nh AS n_b,
        | round(CAST(n_shared AS DOUBLE) / least(pa.nh, pb.nh), 6)
        |   AS overlap_coef
        |FROM pr JOIN per pa ON pr.source_a = pa.source
        |JOIN per pb ON pr.source_b = pb.source
        |ORDER BY source_a, source_b""".stripMargin,

    "events_stickiness" ->
      """WITH pr AS (SELECT DISTINCT user_id,
        |  CAST(epoch(ts) AS BIGINT) // 86400 AS day FROM events),
        |g AS (SELECT user_id, day,
        |  day - lag(day) OVER (PARTITION BY user_id ORDER BY day)
        |    AS gap
        | FROM pr),
        |b AS (SELECT user_id, day,
        |  CASE WHEN gap IS NULL OR gap > 27 THEN 1 ELSE 0 END AS brk
        | FROM g),
        |i AS (SELECT user_id, day,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        | FROM b),
        |iv AS (SELECT user_id, isl, min(day) AS s, max(day) AS e
        |  FROM i GROUP BY 1, 2),
        |dl AS (SELECT d, CAST(sum(delta) AS BIGINT) AS delta FROM (
        |  SELECT s AS d, 1 AS delta FROM iv
        |  UNION ALL SELECT e + 28 AS d, -1 AS delta FROM iv) x
        | GROUP BY 1),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |  FROM pr GROUP BY 1),
        |mau AS (SELECT day, CAST(sum(delta) AS BIGINT) AS mau28
        |  FROM dau JOIN dl ON dl.d <= dau.day GROUP BY 1)
        |SELECT dau.day, dau.dau, mau.mau28,
        | round(CAST(dau.dau AS DOUBLE) / mau.mau28, 6) AS stickiness
        |FROM dau JOIN mau ON dau.day = mau.day
        |ORDER BY dau.day""".stripMargin,

    "part_price_dispersion" ->
      """WITH u AS (SELECT l_partkey,
        |  CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)
        |    AS u_c
        | FROM lineitem),
        |st AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(u_c) AS BIGINT) AS s,
        |  CAST(sum(u_c * u_c) AS BIGINT) AS sq,
        |  min(u_c) AS mn, max(u_c) AS mx
        | FROM u GROUP BY 1 HAVING count(*) >= 2),
        |cv AS (SELECT l_partkey, n_lines,
        |  CAST(s AS DOUBLE) / n_lines AS mean_c,
        |  sqrt(greatest(CAST(sq AS DOUBLE) / n_lines
        |    - (CAST(s AS DOUBLE) / n_lines) * (CAST(s AS DOUBLE) / n_lines),
        |    0.0)) / (CAST(s AS DOUBLE) / n_lines) AS cv_raw,
        |  mn, mx
        | FROM st)
        |SELECT l_partkey, n_lines,
        | round(mean_c / 100, 6) AS mean_unit_price,
        | round(CAST(mn AS DOUBLE) / 100, 2) AS min_unit_price,
        | round(CAST(mx AS DOUBLE) / 100, 2) AS max_unit_price,
        | round(cv_raw, 6) AS cv
        |FROM cv ORDER BY round(cv_raw, 6) DESC, l_partkey
        |LIMIT 20""".stripMargin,

    "orders_priority_psi" ->
      """WITH cells AS (SELECT
        |  CAST((year(o_orderdate) - 1992) * 4 + quarter(o_orderdate) - 1
        |    AS BIGINT) AS q,
        |  o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n
        | FROM orders GROUP BY 1, 2),
        |qt AS (SELECT q, CAST(sum(n) AS BIGINT) AS nq
        |  FROM cells GROUP BY 1),
        |b AS (SELECT priority, CAST(sum(n) AS BIGINT) AS nb
        |  FROM cells GROUP BY 1),
        |bt AS (SELECT CAST(sum(nb) AS BIGINT) AS nt FROM b),
        |t AS (SELECT cells.q, cells.priority, cells.n,
        |  (CAST(n AS DOUBLE) + 0.5) / (CAST(nq AS DOUBLE) + 0.5 * 5)
        |    AS share_q,
        |  (CAST(nb AS DOUBLE) + 0.5) / (CAST(nt AS DOUBLE) + 0.5 * 5)
        |    AS share_b
        | FROM cells JOIN qt ON cells.q = qt.q
        | JOIN b ON cells.priority = b.priority CROSS JOIN bt),
        |tt AS (SELECT q, priority, n, share_q, share_b,
        |  (share_q - share_b) * ln(share_q / share_b) AS psi_term
        | FROM t),
        |qp AS (SELECT q, round(sum(psi_term), 6) AS psi_quarter
        |  FROM tt GROUP BY 1)
        |SELECT tt.q AS quarter, tt.priority, tt.n,
        | round(share_q, 6) AS share_quarter,
        | round(share_b, 6) AS share_baseline,
        | round(psi_term, 6) AS psi_term, qp.psi_quarter
        |FROM tt JOIN qp ON tt.q = qp.q
        |ORDER BY quarter, priority""".stripMargin,

    "sample_split_leakage" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h,
        |  list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 AS u_text,
        |  list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(doc_id AS VARCHAR) || '#split'), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 AS u_id
        | FROM documents),
        |a AS (SELECT doc_id, h,
        |  CASE WHEN u_text < 0.8 THEN 'train' WHEN u_text < 0.9
        |    THEN 'val' ELSE 'test' END AS split_content,
        |  CASE WHEN u_id < 0.8 THEN 'train' WHEN u_id < 0.9
        |    THEN 'val' ELSE 'test' END AS split_id
        | FROM d),
        |dh AS (SELECT h FROM a GROUP BY h HAVING count(*) >= 2),
        |m AS (SELECT a.* FROM a JOIN dh ON a.h = dh.h),
        |p AS (SELECT
        |  CASE WHEN x.split_id <> y.split_id THEN 1 ELSE 0 END
        |    AS cross_id,
        |  CASE WHEN x.split_content <> y.split_content THEN 1 ELSE 0 END
        |    AS cross_content
        | FROM m x JOIN m y ON x.h = y.h AND x.doc_id < y.doc_id),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs,
        |  CAST(sum(cross_id) AS BIGINT) AS leak_id,
        |  CAST(sum(cross_content) AS BIGINT) AS leak_content
        | FROM p)
        |SELECT policy, n_dup_pairs, n_cross_split,
        | round(CASE WHEN n_dup_pairs > 0
        |   THEN CAST(n_cross_split AS DOUBLE) / n_dup_pairs
        |   ELSE 0.0 END, 6) AS leak_share
        |FROM (
        | SELECT 'id_keyed' AS policy, n_dup_pairs,
        |   leak_id AS n_cross_split FROM ag
        | UNION ALL
        | SELECT 'content_keyed' AS policy, n_dup_pairs,
        |   leak_content AS n_cross_split FROM ag) z
        |ORDER BY policy""".stripMargin,

    "retrieval_rrf_fusion" ->
      s"""WITH $ragScoredCtes,
        |db AS (SELECT i, doc_id, max(bm25) AS bm25
        |  FROM scored GROUP BY 1, 2),
        |sr AS (SELECT i, doc_id, CAST(row_number() OVER (
        |    PARTITION BY i ORDER BY bm25 DESC, doc_id) AS INT)
        |    AS rank_sparse
        |  FROM db QUALIFY rank_sparse <= 20),
        |e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM e),
        |qv AS (SELECT vec_id AS i, v AS qvec, norm AS qn FROM n
        |  WHERE vec_id < 3),
        |ds AS (SELECT qv.i, n.vec_id AS doc_id,
        |  round(list_sum(list_transform(generate_series(1, len(n.v)),
        |    k -> n.v[k] * qv.qvec[k])) / (qv.qn * n.norm), 6) AS cos
        | FROM n CROSS JOIN qv WHERE n.vec_id >= 3),
        |dr AS (SELECT i, doc_id, CAST(row_number() OVER (
        |    PARTITION BY i ORDER BY cos DESC, doc_id) AS INT)
        |    AS rank_dense
        |  FROM ds QUALIFY rank_dense <= 20),
        |f AS (SELECT coalesce(sr.i, dr.i) AS i,
        |  coalesce(sr.doc_id, dr.doc_id) AS doc_id,
        |  sr.rank_sparse, dr.rank_dense,
        |  coalesce(CAST(1 AS DOUBLE) / (60.0 + sr.rank_sparse), 0.0)
        |   + coalesce(CAST(1 AS DOUBLE) / (60.0 + dr.rank_dense), 0.0)
        |    AS rrf
        | FROM sr FULL OUTER JOIN dr
        |   ON sr.i = dr.i AND sr.doc_id = dr.doc_id)
        |SELECT i, doc_id, rank_sparse, rank_dense,
        | round(rrf, 6) AS rrf_score,
        | CAST(row_number() OVER (PARTITION BY i
        |   ORDER BY rrf DESC, doc_id) AS INT) AS rank
        |FROM f QUALIFY rank <= 5
        |ORDER BY i, rank""".stripMargin,

    "embed_cosine_histogram" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM e),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM e),
        |st AS (SELECT CAST(unnest([1, 17, 101]) AS BIGINT) AS stride),
        |pr AS (SELECT a.vec_id,
        |  (a.vec_id + stride) % n_vecs AS partner, a.v AS va,
        |  a.norm AS na
        | FROM n a CROSS JOIN st CROSS JOIN c
        | WHERE (a.vec_id + stride) % n_vecs <> a.vec_id),
        |sc AS (SELECT round(list_sum(list_transform(
        |    generate_series(1, len(pr.va)), k -> pr.va[k] * b.v[k]))
        |    / (pr.na * b.norm), 6) AS cos
        | FROM pr JOIN n b ON pr.partner = b.vec_id),
        |bk AS (SELECT least(9, greatest(0,
        |    CAST(floor((cos + 1.0) * 5) AS BIGINT))) AS bucket,
        |  CAST(round(cos * 1e6) AS BIGINT) AS c_u6
        | FROM sc),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM bk)
        |SELECT bucket,
        | round(CAST(bucket AS DOUBLE) / 5 - 1.0, 1) AS lo_edge,
        | CAST(count(*) AS BIGINT) AS n_pairs,
        | round(CAST(count(*) AS DOUBLE) / n_total, 6) AS share,
        | round(CAST(sum(c_u6) AS DOUBLE) / count(*) / 1e6, 6)
        |   AS avg_cos
        |FROM bk CROSS JOIN t GROUP BY 1, n_total
        |ORDER BY bucket""".stripMargin,

    "clean_postcode_states" ->
      """WITH shaped AS (
        | SELECT CASE WHEN c_custkey % 5 = 0 THEN '99'
        |   ELSE printf('%04d', c_nationkey * 100 + c_custkey % 100)
        |   END AS postcode,
        |  CASE WHEN c_custkey % 3 = 0 THEN 'active' ELSE 'cancelled'
        |   END AS entity_status
        | FROM customer),
        |s AS (SELECT
        |  CASE WHEN NOT regexp_matches(postcode, '^\d{4}$')
        |    THEN 'INVALID'
        |   WHEN CAST(postcode AS INT) BETWEEN 1000 AND 2599 THEN 'NSW'
        |   WHEN CAST(postcode AS INT) BETWEEN 2619 AND 2899 THEN 'NSW'
        |   WHEN CAST(postcode AS INT) BETWEEN 2921 AND 2999 THEN 'NSW'
        |   WHEN CAST(postcode AS INT) BETWEEN 200 AND 299 THEN 'ACT'
        |   WHEN CAST(postcode AS INT) BETWEEN 2600 AND 2618 THEN 'ACT'
        |   WHEN CAST(postcode AS INT) BETWEEN 2900 AND 2920 THEN 'ACT'
        |   WHEN CAST(postcode AS INT) BETWEEN 3000 AND 3999
        |     OR CAST(postcode AS INT) BETWEEN 8000 AND 8999 THEN 'VIC'
        |   WHEN CAST(postcode AS INT) BETWEEN 4000 AND 4999
        |     OR CAST(postcode AS INT) BETWEEN 9000 AND 9999 THEN 'QLD'
        |   WHEN CAST(postcode AS INT) BETWEEN 5000 AND 5999 THEN 'SA'
        |   WHEN CAST(postcode AS INT) BETWEEN 6000 AND 6999 THEN 'WA'
        |   WHEN CAST(postcode AS INT) BETWEEN 7000 AND 7999 THEN 'TAS'
        |   WHEN CAST(postcode AS INT) BETWEEN 800 AND 999 THEN 'NT'
        |   ELSE 'UNKNOWN' END AS state,
        |  CASE WHEN lower(entity_status) = 'active' THEN 1 ELSE 0 END
        |    AS is_active
        | FROM shaped),
        |cells AS (SELECT state, CAST(count(*) AS BIGINT) AS n_entities,
        |  CAST(sum(is_active) AS BIGINT) AS n_active
        | FROM s GROUP BY 1),
        |t AS (SELECT CAST(sum(n_entities) AS BIGINT) AS n_total
        |  FROM cells)
        |SELECT state, n_entities,
        | round(CAST(n_entities AS DOUBLE) / n_total, 6) AS share,
        | n_active,
        | round(CAST(n_active AS DOUBLE) / n_entities, 6)
        |   AS active_share
        |FROM cells CROSS JOIN t ORDER BY state""".stripMargin,

    "events_purchase_cadence" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |  CAST(epoch(ts) AS BIGINT) // 86400 AS day
        | FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT day - lag(day) OVER (PARTITION BY user_id
        |    ORDER BY day) AS gap
        | FROM d),
        |b AS (SELECT gap,
        |  CASE WHEN gap = 1 THEN 0 WHEN gap <= 3 THEN 1
        |    WHEN gap <= 7 THEN 2 WHEN gap <= 14 THEN 3
        |    WHEN gap <= 30 THEN 4 ELSE 5 END AS bucket_order,
        |  CASE WHEN gap = 1 THEN '1d' WHEN gap <= 3 THEN '2-3d'
        |    WHEN gap <= 7 THEN '4-7d' WHEN gap <= 14 THEN '8-14d'
        |    WHEN gap <= 30 THEN '15-30d' ELSE '31d+' END AS bucket
        | FROM g WHERE gap IS NOT NULL),
        |cells AS (SELECT CAST(bucket_order AS BIGINT) AS bucket_order,
        |  bucket, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(sum(gap) AS BIGINT) AS sum_days
        | FROM b GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_gaps) AS BIGINT) AS n_total FROM cells)
        |SELECT bucket_order, bucket, n_gaps,
        | round(CAST(n_gaps AS DOUBLE) / n_total, 6) AS share,
        | round(CAST(sum_days AS DOUBLE) / n_gaps, 6) AS avg_gap_days
        |FROM cells CROSS JOIN t ORDER BY bucket_order""".stripMargin,

    "events_weekend_effect" ->
      """WITH pr AS (SELECT DISTINCT user_id,
        |  CAST(epoch(ts) AS BIGINT) // 86400 AS day FROM events),
        |p2 AS (SELECT user_id, day,
        |  CAST(CASE WHEN (day + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END
        |    AS INT) AS is_weekend
        | FROM pr),
        |bu AS (SELECT DISTINCT user_id,
        |  CAST(epoch(ts) AS BIGINT) // 86400 AS day
        | FROM events WHERE event_type = 'purchase'),
        |fl AS (SELECT p2.is_weekend,
        |  CASE WHEN bu.user_id IS NULL THEN 0 ELSE 1 END AS b
        | FROM p2 LEFT JOIN bu ON p2.user_id = bu.user_id
        |   AND p2.day = bu.day),
        |cells AS (SELECT is_weekend,
        |  CAST(count(*) AS BIGINT) AS n_user_days,
        |  CAST(sum(b) AS BIGINT) AS n_buyer_days
        | FROM fl GROUP BY 1),
        |st AS (SELECT
        |  CAST(sum(CASE WHEN is_weekend = 1 THEN n_user_days END)
        |    AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN is_weekend = 1 THEN n_buyer_days END)
        |    AS BIGINT) AS b1,
        |  CAST(sum(CASE WHEN is_weekend = 0 THEN n_user_days END)
        |    AS BIGINT) AS n0,
        |  CAST(sum(CASE WHEN is_weekend = 0 THEN n_buyer_days END)
        |    AS BIGINT) AS b0
        | FROM cells)
        |SELECT is_weekend, n_user_days, n_buyer_days,
        | round(CAST(n_buyer_days AS DOUBLE) / n_user_days, 6)
        |   AS conv_rate,
        | round(CAST(b1 AS DOUBLE) / n1 - CAST(b0 AS DOUBLE) / n0, 6)
        |   AS weekend_lift,
        | round((CAST(b1 AS DOUBLE) / n1 - CAST(b0 AS DOUBLE) / n0)
        |   / sqrt((CAST(b1 + b0 AS DOUBLE) / (n1 + n0))
        |     * (1.0 - CAST(b1 + b0 AS DOUBLE) / (n1 + n0))
        |     * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n0)), 6)
        |   AS z_pooled
        |FROM cells CROSS JOIN st ORDER BY is_weekend""".stripMargin,

    "orders_aging" ->
      """WITH ref AS (SELECT max(o_orderdate) AS ref FROM orders),
        |aged AS (SELECT o_orderstatus AS status,
        |  CAST(datediff('day', o_orderdate, ref) AS BIGINT) AS age,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS v_c
        | FROM orders CROSS JOIN ref WHERE o_orderstatus <> 'F'),
        |b AS (SELECT status, v_c,
        |  CASE WHEN age <= 30 THEN 0 WHEN age <= 90 THEN 1
        |    WHEN age <= 180 THEN 2 WHEN age <= 365 THEN 3
        |    ELSE 4 END AS bucket_order,
        |  CASE WHEN age <= 30 THEN '0-30d' WHEN age <= 90 THEN '31-90d'
        |    WHEN age <= 180 THEN '91-180d'
        |    WHEN age <= 365 THEN '181-365d' ELSE '366d+' END AS bucket
        | FROM aged),
        |cells AS (SELECT status, CAST(bucket_order AS BIGINT)
        |    AS bucket_order, bucket,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(v_c) AS BIGINT) AS v_c
        | FROM b GROUP BY 1, 2, 3),
        |t AS (SELECT CAST(sum(v_c) AS BIGINT) AS total_c FROM cells)
        |SELECT status, bucket_order, bucket, n_orders,
        | round(CAST(v_c AS DOUBLE) / 100, 2) AS open_value,
        | round(CAST(v_c AS DOUBLE) / total_c, 6) AS value_share
        |FROM cells CROSS JOIN t
        |ORDER BY status, bucket_order""".stripMargin,

    "text_char_entropy" ->
      """WITH ch AS (SELECT source,
        |  unnest(string_split_regex(text, '')) AS ch FROM documents),
        |counts AS (SELECT source, ch, CAST(count(*) AS BIGINT) AS c
        |  FROM ch WHERE length(ch) = 1 GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_chars,
        |  CAST(count(*) AS BIGINT) AS n_distinct
        | FROM counts GROUP BY 1),
        |terms AS (SELECT counts.source, n_chars, n_distinct,
        |  CAST(round(-(CAST(c AS DOUBLE) / n_chars)
        |    * log2(CAST(c AS DOUBLE) / n_chars) * 1e9) AS BIGINT)
        |    AS t_u9
        | FROM counts JOIN tot ON counts.source = tot.source)
        |SELECT source, n_chars, n_distinct,
        | round(CAST(sum(t_u9) AS DOUBLE) / 1e9, 6) AS entropy_bits,
        | round(CAST(sum(t_u9) AS DOUBLE) / 1e9 / 8, 6)
        |   AS est_compression_ratio
        |FROM terms GROUP BY 1, 2, 3 ORDER BY source""".stripMargin,

    "events_type_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nu
        |  FROM tu GROUP BY 1),
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_both
        | FROM tu a JOIN tu b ON a.user_id = b.user_id
        |   AND a.event_type < b.event_type
        | GROUP BY 1, 2)
        |SELECT type_a, type_b, n_both, pa.nu AS n_a, pb.nu AS n_b,
        | round(CAST(n_both AS DOUBLE) / (pa.nu + pb.nu - n_both), 6)
        |   AS jaccard,
        | round(CAST(n_both AS DOUBLE) / least(pa.nu, pb.nu), 6)
        |   AS overlap_coef
        |FROM pairs JOIN per pa ON pairs.type_a = pa.event_type
        |JOIN per pb ON pairs.type_b = pb.event_type
        |ORDER BY type_a, type_b""".stripMargin,

    "text_heaps_law" ->
      """WITH tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w
        |   FROM documents) t GROUP BY 1, 2),
        |fo AS (SELECT w, min(doc_id) AS first_doc FROM tf GROUP BY 1),
        |ds AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_toks
        |  FROM tf GROUP BY 1),
        |md AS (SELECT max(doc_id) AS max_doc FROM ds),
        |cks AS (SELECT ck, CAST((ck * (max_doc + 1)) / 10 AS BIGINT)
        |    AS doc_lim
        |  FROM (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT)
        |    AS ck) x CROSS JOIN md),
        |vv AS (SELECT ck, doc_lim, CAST(count(*) AS BIGINT) AS v_types
        |  FROM fo JOIN cks ON fo.first_doc < cks.doc_lim
        |  GROUP BY 1, 2),
        |mm AS (SELECT ck, CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |  FROM ds JOIN cks ON ds.doc_id < cks.doc_lim GROUP BY 1),
        |pts AS (SELECT vv.ck, n_tokens, v_types,
        |  ln(CAST(n_tokens AS DOUBLE)) AS x,
        |  ln(CAST(v_types AS DOUBLE)) AS y
        | FROM vv JOIN mm ON vv.ck = mm.ck),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |  sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx FROM pts),
        |fit AS (SELECT
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) + 0.0 AS beta,
        |  round(exp((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n),
        |    6) AS k
        | FROM s)
        |SELECT ck, n_tokens, v_types, beta, k
        |FROM pts CROSS JOIN fit ORDER BY ck""".stripMargin,

    "lineitem_latency_trend" ->
      """WITH grid AS (SELECT
        |  CAST((year(o_orderdate) - 1992) * 4 + quarter(o_orderdate) - 1
        |    AS BIGINT) AS q,
        |  CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT)
        |    AS days,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY 1, 2),
        |cum AS (SELECT q, days, c,
        |  sum(c) OVER (PARTITION BY q ORDER BY days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM grid),
        |tot AS (SELECT q, CAST(sum(c) AS BIGINT) AS n_lines,
        |  CAST(sum(days * c) AS BIGINT) AS sd
        | FROM grid GROUP BY 1),
        |p50 AS (SELECT cum.q, min(days) AS p50_days
        |  FROM cum JOIN tot ON cum.q = tot.q
        |  WHERE cum * 2 >= n_lines GROUP BY 1),
        |p90 AS (SELECT cum.q, min(days) AS p90_days
        |  FROM cum JOIN tot ON cum.q = tot.q
        |  WHERE cum * 10 >= n_lines * 9 GROUP BY 1)
        |SELECT tot.q AS quarter, n_lines,
        | round(CAST(sd AS DOUBLE) / n_lines, 6) AS mean_days,
        | p50_days, p90_days
        |FROM tot JOIN p50 ON tot.q = p50.q JOIN p90 ON tot.q = p90.q
        |ORDER BY quarter""".stripMargin,

    "dedup_source_survival" ->
      """WITH d AS (SELECT doc_id, source, md5(text) AS h
        |  FROM documents),
        |fam AS (SELECT h, min(doc_id) AS keeper FROM d GROUP BY 1),
        |cells AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN d.doc_id <> fam.keeper THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_removed
        | FROM d JOIN fam ON d.h = fam.h GROUP BY 1)
        |SELECT source, n_docs, n_docs - n_removed AS n_kept, n_removed,
        | round(CAST(n_removed AS DOUBLE) / n_docs, 6) AS removed_share
        |FROM cells ORDER BY source""".stripMargin,

    "lineitem_discount_lift" ->
      """WITH cells AS (SELECT
        |  CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS rc
        | FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(rc) AS BIGINT) AS total_c FROM cells)
        |SELECT disc_pct, n_lines,
        | round(CAST(sq AS DOUBLE) / n_lines, 6) AS avg_qty,
        | round(CAST(rc AS DOUBLE) / 100, 2) AS revenue,
        | round(CAST(rc AS DOUBLE) / total_c, 6) AS revenue_share
        |FROM cells CROSS JOIN t ORDER BY disc_pct""".stripMargin,

    "events_conversion_pchart" ->
      """WITH pr AS (SELECT DISTINCT user_id,
        |  CAST(epoch(ts) AS BIGINT) // 86400 AS day FROM events),
        |bu AS (SELECT DISTINCT user_id,
        |  CAST(epoch(ts) AS BIGINT) // 86400 AS day
        | FROM events WHERE event_type = 'purchase'),
        |daily AS (SELECT pr.day,
        |  CAST(count(*) AS BIGINT) AS n_active,
        |  CAST(sum(CASE WHEN bu.user_id IS NULL THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_buyers
        | FROM pr LEFT JOIN bu ON pr.user_id = bu.user_id
        |   AND pr.day = bu.day
        | GROUP BY 1),
        |c AS (SELECT CAST(sum(n_buyers) AS BIGINT) AS tb,
        |  CAST(sum(n_active) AS BIGINT) AS ta FROM daily)
        |SELECT day, n_active, n_buyers,
        | round(CAST(n_buyers AS DOUBLE) / n_active, 6) AS conv_rate,
        | round(CAST(tb AS DOUBLE) / ta, 6) AS center_line,
        | round(greatest(CAST(tb AS DOUBLE) / ta
        |   - 3 * sqrt((CAST(tb AS DOUBLE) / ta)
        |     * (1.0 - CAST(tb AS DOUBLE) / ta) / n_active), 0.0), 6)
        |   AS lcl,
        | round(least(CAST(tb AS DOUBLE) / ta
        |   + 3 * sqrt((CAST(tb AS DOUBLE) / ta)
        |     * (1.0 - CAST(tb AS DOUBLE) / ta) / n_active), 1.0), 6)
        |   AS ucl,
        | CAST(CASE WHEN CAST(n_buyers AS DOUBLE) / n_active
        |     < CAST(tb AS DOUBLE) / ta - 3 * sqrt((CAST(tb AS DOUBLE) / ta)
        |       * (1.0 - CAST(tb AS DOUBLE) / ta) / n_active)
        |   OR CAST(n_buyers AS DOUBLE) / n_active
        |     > CAST(tb AS DOUBLE) / ta + 3 * sqrt((CAST(tb AS DOUBLE) / ta)
        |       * (1.0 - CAST(tb AS DOUBLE) / ta) / n_active)
        |  THEN 1 ELSE 0 END AS INT) AS out_of_control
        |FROM daily CROSS JOIN c ORDER BY day""".stripMargin,

    "events_funnel_ab" ->
      """WITH st AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup'
        |    THEN CAST(epoch(ts) AS BIGINT) END) AS ts,
        |  min(CASE WHEN event_type = 'view'
        |    THEN CAST(epoch(ts) AS BIGINT) END) AS tv,
        |  min(CASE WHEN event_type = 'purchase'
        |    THEN CAST(epoch(ts) AS BIGINT) END) AS tp
        | FROM events GROUP BY 1),
        |v AS (SELECT
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 < 0.5
        |   THEN 'A' ELSE 'B' END AS variant,
        |  CASE WHEN ts IS NOT NULL THEN 1 ELSE 0 END AS s1,
        |  CASE WHEN ts IS NOT NULL AND tv IS NOT NULL AND tv >= ts
        |   THEN 1 ELSE 0 END AS s2,
        |  CASE WHEN ts IS NOT NULL AND tv IS NOT NULL
        |    AND tp IS NOT NULL AND tv >= ts AND tp >= tv
        |   THEN 1 ELSE 0 END AS s3
        | FROM st),
        |cells AS (SELECT variant, CAST(sum(s1) AS BIGINT) AS n_signup,
        |  CAST(sum(s2) AS BIGINT) AS n_view,
        |  CAST(sum(s3) AS BIGINT) AS n_purchase
        | FROM v GROUP BY 1),
        |w AS (SELECT
        |  CAST(sum(CASE WHEN variant = 'A' THEN n_signup END) AS BIGINT) AS s1a,
        |  CAST(sum(CASE WHEN variant = 'A' THEN n_view END) AS BIGINT) AS s2a,
        |  CAST(sum(CASE WHEN variant = 'A' THEN n_purchase END) AS BIGINT) AS s3a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN n_signup END) AS BIGINT) AS s1b,
        |  CAST(sum(CASE WHEN variant = 'B' THEN n_view END) AS BIGINT) AS s2b,
        |  CAST(sum(CASE WHEN variant = 'B' THEN n_purchase END) AS BIGINT) AS s3b
        | FROM cells)
        |SELECT variant, n_signup, n_view, n_purchase,
        | round(CAST(n_view AS DOUBLE) / n_signup, 6) AS view_rate,
        | round(CAST(n_purchase AS DOUBLE) / n_view, 6)
        |   AS purchase_rate,
        | round((CAST(s2b AS DOUBLE) / s1b - CAST(s2a AS DOUBLE) / s1a)
        |   / sqrt((CAST(s2a + s2b AS DOUBLE) / (s1a + s1b))
        |     * (1.0 - CAST(s2a + s2b AS DOUBLE) / (s1a + s1b))
        |     * (CAST(1 AS DOUBLE) / s1a + CAST(1 AS DOUBLE) / s1b)), 6)
        |   AS z_view_step,
        | round((CAST(s3b AS DOUBLE) / s2b - CAST(s3a AS DOUBLE) / s2a)
        |   / sqrt((CAST(s3a + s3b AS DOUBLE) / (s2a + s2b))
        |     * (1.0 - CAST(s3a + s3b AS DOUBLE) / (s2a + s2b))
        |     * (CAST(1 AS DOUBLE) / s2a + CAST(1 AS DOUBLE) / s2b)), 6)
        |   AS z_purchase_step
        |FROM cells CROSS JOIN w ORDER BY variant""".stripMargin,

    "events_retention_halflife" ->
      """WITH pr AS (SELECT DISTINCT user_id,
        |  CAST(epoch(ts) AS BIGINT) // 86400 AS day FROM events),
        |md AS (SELECT max(day) AS max_day FROM pr),
        |co AS (SELECT user_id, min(day) AS cohort_day
        |  FROM pr GROUP BY 1),
        |el AS (SELECT user_id, cohort_day FROM co CROSS JOIN md
        |  WHERE cohort_day <= max_day - 7),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS n_cohort FROM el),
        |act AS (SELECT t, CAST(count(*) AS BIGINT) AS n_active FROM (
        |  SELECT DISTINCT pr.user_id, pr.day - el.cohort_day AS t
        |  FROM pr JOIN el ON pr.user_id = el.user_id
        |  WHERE pr.day - el.cohort_day BETWEEN 1 AND 7) x GROUP BY 1),
        |pts AS (SELECT t, n_active, n_cohort,
        |  round(CAST(n_active AS DOUBLE) / n_cohort, 6) AS retention,
        |  CAST(t AS DOUBLE) AS x,
        |  ln(CAST(n_active AS DOUBLE) / n_cohort) AS y
        | FROM act CROSS JOIN b),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |  sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx FROM pts),
        |fit AS (SELECT
        |  round(-(n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS lambda,
        |  round(CASE WHEN -(n*sxy - sx*sy) / (n*sxx - sx*sx) > 0
        |    THEN ln(2.0) / (-(n*sxy - sx*sy) / (n*sxx - sx*sx)) END, 6)
        |    AS half_life_days
        | FROM s)
        |SELECT t, n_cohort, n_active, retention, lambda, half_life_days
        |FROM pts CROSS JOIN fit ORDER BY t""".stripMargin,

    "text_dup_ngram_mass" ->
      """WITH d AS (SELECT doc_id, source,
        |  string_split_regex(text, '\s+') AS t FROM documents),
        |g AS (SELECT doc_id, source,
        |  unnest(list_transform(generate_series(1, len(t) - 4),
        |    i -> array_to_string(t[i : i + 4], ' '))) AS g
        | FROM d WHERE len(t) >= 5),
        |sg AS (SELECT source, g, CAST(count(*) AS BIGINT) AS occ
        |  FROM g GROUP BY 1, 2),
        |dg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_docs FROM (
        |  SELECT DISTINCT doc_id, g FROM g) x GROUP BY 1)
        |SELECT source,
        | CAST(sum(occ) AS BIGINT) AS n_gram_occ,
        | CAST(sum(CASE WHEN n_docs >= 2 THEN occ ELSE 0 END) AS BIGINT)
        |   AS dup_occ,
        | round(CAST(sum(CASE WHEN n_docs >= 2 THEN occ ELSE 0 END)
        |   AS DOUBLE) / sum(occ), 6) AS dup_mass,
        | CAST(count(*) AS BIGINT) AS n_distinct_grams,
        | CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_dup_grams
        |FROM sg JOIN dg ON sg.g = dg.g
        |GROUP BY 1 ORDER BY source""".stripMargin,

    "orders_revenue_bridge" ->
      """WITH cy AS (SELECT o_custkey, year(o_orderdate) AS yr,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS rev_c
        | FROM orders GROUP BY 1, 2),
        |lg AS (SELECT o_custkey, yr, rev_c,
        |  lag(yr) OVER (PARTITION BY o_custkey ORDER BY yr) AS prev_yr
        | FROM cy),
        |cells AS (SELECT yr,
        |  CAST(sum(CASE WHEN prev_yr IS NULL THEN rev_c ELSE 0 END)
        |    AS BIGINT) AS rev_new,
        |  CAST(sum(CASE WHEN prev_yr = yr - 1 THEN rev_c ELSE 0 END)
        |    AS BIGINT) AS rev_retained,
        |  CAST(sum(CASE WHEN prev_yr IS NOT NULL AND prev_yr < yr - 1
        |    THEN rev_c ELSE 0 END) AS BIGINT) AS rev_resurrected,
        |  CAST(sum(rev_c) AS BIGINT) AS rev_total_c,
        |  CAST(count(*) AS BIGINT) AS n_customers
        | FROM lg GROUP BY 1),
        |rp AS (SELECT lg.prev_yr + 1 AS yr,
        |  CAST(sum(p.rev_c) AS BIGINT) AS retained_prev_c
        | FROM lg JOIN cy p ON lg.o_custkey = p.o_custkey
        |   AND p.yr = lg.prev_yr
        | WHERE lg.prev_yr = lg.yr - 1 GROUP BY 1),
        |pt AS (SELECT yr + 1 AS yr, rev_total_c AS prev_total_c
        |  FROM cells)
        |SELECT cells.yr, n_customers,
        | round(CAST(rev_total_c AS DOUBLE) / 100, 2) AS revenue,
        | round(CAST(rev_new AS DOUBLE) / 100, 2) AS rev_new,
        | round(CAST(rev_retained AS DOUBLE) / 100, 2) AS rev_retained,
        | round(CAST(rev_resurrected AS DOUBLE) / 100, 2)
        |   AS rev_resurrected,
        | round(CAST(coalesce(prev_total_c, 0)
        |   - coalesce(retained_prev_c, 0) AS DOUBLE) / 100, 2)
        |   AS rev_churned_out
        |FROM cells LEFT JOIN rp ON cells.yr = rp.yr
        |LEFT JOIN pt ON cells.yr = pt.yr
        |ORDER BY cells.yr""".stripMargin,

    "events_forecast_des" ->
      """WITH daily AS (SELECT CAST(epoch(ts) AS BIGINT) // 86400
        |    AS day, CAST(count(*) AS BIGINT) AS y
        | FROM events GROUP BY 1),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |grid AS (SELECT unnest(generate_series(0, d1 - d0)) AS t, d0 FROM span),
        |g AS (SELECT grid.t AS t, CAST(coalesce(daily.y, 0) AS BIGINT) AS y
        |  FROM grid LEFT JOIN daily ON daily.day = grid.t + grid.d0),
        |s1p AS (SELECT gt.t,
        |  CAST(round((CASE WHEN gk.t = 0 THEN pow(0.7, gt.t)
        |    ELSE 0.3 * pow(0.7, gt.t - gk.t) END)
        |    * gk.y * 1e9) AS BIGINT) AS term_u9
        | FROM g gk JOIN g gt ON gk.t <= gt.t),
        |s1 AS (SELECT t, CAST(sum(term_u9) AS DOUBLE) / 1e9 AS s1
        |  FROM s1p GROUP BY 1),
        |s2p AS (SELECT bt.t,
        |  CAST(round((CASE WHEN bk.t = 0 THEN pow(0.7, bt.t)
        |    ELSE 0.3 * pow(0.7, bt.t - bk.t) END)
        |    * bk.s1 * 1e9) AS BIGINT) AS term_u9
        | FROM s1 bk JOIN s1 bt ON bk.t <= bt.t),
        |s2 AS (SELECT t, CAST(sum(term_u9) AS DOUBLE) / 1e9 AS s2
        |  FROM s2p GROUP BY 1)
        |SELECT g.t AS day_idx, g.y AS actual,
        | round(s1.s1, 6) AS s1, round(s2.s2, 6) AS s2,
        | round(2.0 * s1.s1 - s2.s2, 6) AS level,
        | round((0.3 / 0.7) * (s1.s1 - s2.s2), 6) AS trend,
        | round(2.0 * s1.s1 - s2.s2
        |   + 7.0 * ((0.3 / 0.7) * (s1.s1 - s2.s2)), 6) AS forecast_7d
        |FROM g JOIN s1 ON g.t = s1.t JOIN s2 ON g.t = s2.t
        |ORDER BY day_idx""".stripMargin,

    "events_freshness" ->
      """WITH e AS (SELECT event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
        |h AS (SELECT max(ts_s) AS hwm FROM e)
        |SELECT event_type,
        | max(ts_s) AS last_ts_s,
        | max(hwm) - max(ts_s) AS lag_s,
        | CAST(sum(CASE WHEN ts_s > hwm - 3600 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS events_last_hour,
        | CAST(CASE WHEN max(hwm) - max(ts_s) > 3600
        |   THEN 1 ELSE 0 END AS INT) AS stalled
        |FROM e CROSS JOIN h
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_value_icc" ->
      """WITH per AS (SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_u,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS s_u,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)
        |    * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sq_u
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |p2 AS (SELECT n_u, s_u, sq_u,
        |  CAST(round(CAST(s_u AS DOUBLE) * s_u / n_u * 1e-2)
        |    AS BIGINT) AS bt_u6
        | FROM per),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS g,
        |  CAST(sum(n_u) AS BIGINT) AS n, CAST(sum(s_u) AS BIGINT) AS s,
        |  CAST(sum(sq_u) AS BIGINT) AS sq,
        |  CAST(sum(bt_u6) AS BIGINT) AS bt
        | FROM p2)
        |SELECT g AS n_users, n AS n_purchases,
        | round((CAST(bt AS DOUBLE) * 1e2
        |   - CAST(s AS DOUBLE) * s / n) / 1e4, 2) AS ss_between,
        | round((CAST(sq AS DOUBLE) - CAST(bt AS DOUBLE) * 1e2) / 1e4, 2)
        |   AS ss_within,
        | round(((CAST(bt AS DOUBLE) * 1e2 - CAST(s AS DOUBLE) * s / n)
        |     / (g - 1)
        |   - (CAST(sq AS DOUBLE) - CAST(bt AS DOUBLE) * 1e2) / (n - g))
        |  / ((CAST(bt AS DOUBLE) * 1e2 - CAST(s AS DOUBLE) * s / n)
        |     / (g - 1)
        |   + (CAST(n AS DOUBLE) / g - 1.0)
        |     * ((CAST(sq AS DOUBLE) - CAST(bt AS DOUBLE) * 1e2)
        |       / (n - g))), 6) AS icc,
        | round(1.0 + (CAST(n AS DOUBLE) / g - 1.0)
        |  * (((CAST(bt AS DOUBLE) * 1e2 - CAST(s AS DOUBLE) * s / n)
        |      / (g - 1)
        |    - (CAST(sq AS DOUBLE) - CAST(bt AS DOUBLE) * 1e2) / (n - g))
        |   / ((CAST(bt AS DOUBLE) * 1e2 - CAST(s AS DOUBLE) * s / n)
        |      / (g - 1)
        |    + (CAST(n AS DOUBLE) / g - 1.0)
        |      * ((CAST(sq AS DOUBLE) - CAST(bt AS DOUBLE) * 1e2)
        |        / (n - g)))), 6) AS design_effect
        |FROM st ORDER BY n_users""".stripMargin,

    "knn_ivf_balance" ->
      """WITH e AS (SELECT vec_id, label,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |   sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM e),
        |px AS (SELECT label, unnest(list_transform(generate_series(1, len(v)),
        |   i -> {'pos': i, 'x': v[i]}), recursive := true) FROM n),
        |cent AS (SELECT label, list(cx ORDER BY pos) AS cv FROM (
        |   SELECT label, pos, avg(x) AS cx FROM px GROUP BY label, pos) g
        | GROUP BY label),
        |j AS (SELECT n.label,
        |  CAST(round(round(list_sum(list_transform(
        |      generate_series(1, len(cv)), i -> n.v[i] * cv[i]))
        |    / (n.norm * sqrt(list_sum(list_transform(cv, x -> x*x)))),
        |    6) * 1e6) AS BIGINT) AS c_u6
        | FROM n JOIN cent ON n.label = cent.label),
        |cells AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(c_u6) AS BIGINT) AS s_u6
        | FROM j GROUP BY 1),
        |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
        |  CAST(count(*) AS BIGINT) AS n_lists FROM cells)
        |SELECT label, n_vecs,
        | round(CAST(n_vecs AS DOUBLE) / n_total, 6) AS share,
        | round(CAST(n_vecs AS DOUBLE) * n_lists / n_total, 6)
        |   AS imbalance,
        | round(CAST(s_u6 AS DOUBLE) / n_vecs / 1e6, 6)
        |   AS avg_centroid_cos
        |FROM cells CROSS JOIN t ORDER BY label""".stripMargin,

    "text_ppl_filter_sweep" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |uni AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS cw FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cw) AS DOUBLE) AS total FROM uni),
        |d AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |   sum(cnt * ln((SELECT total FROM tot) / cw)) AS nll
        |  FROM tf JOIN uni USING (w) GROUP BY 1),
        |sc AS (SELECT doc_id, n_tokens,
        |  round(exp(round(nll/n_tokens, 6)), 6) AS ppl FROM d),
        |th AS (SELECT CAST(unnest([2, 4, 8, 16, 32, 64, 128, 256, 512])
        |  AS BIGINT) AS threshold),
        |dt AS (SELECT CAST(count(*) AS BIGINT) AS docs_total,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total FROM sc)
        |SELECT threshold,
        | CAST(sum(CASE WHEN ppl <= threshold THEN 1 ELSE 0 END)
        |   AS BIGINT) AS docs_kept,
        | docs_total,
        | round(CAST(sum(CASE WHEN ppl <= threshold THEN 1 ELSE 0 END)
        |   AS DOUBLE) / docs_total, 6) AS doc_share,
        | CAST(sum(CASE WHEN ppl <= threshold THEN n_tokens ELSE 0 END)
        |   AS BIGINT) AS tokens_kept,
        | tokens_total,
        | round(CAST(sum(CASE WHEN ppl <= threshold THEN n_tokens
        |   ELSE 0 END) AS DOUBLE) / tokens_total, 6) AS token_share
        |FROM sc CROSS JOIN th CROSS JOIN dt
        |GROUP BY threshold, docs_total, tokens_total
        |ORDER BY threshold""".stripMargin,

    "graph_triangle_estimate" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |se AS MATERIALIZED (SELECT u, v FROM e
        |  WHERE list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)
        |        || '#tri'), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 < 0.5),
        |sd AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        |   SELECT u AS node FROM se UNION ALL SELECT v AS node FROM se) nn
        |  GROUP BY 1),
        |sor AS MATERIALIZED (SELECT
        |   CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
        |     THEN u ELSE v END AS src,
        |   CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
        |     THEN v ELSE u END AS dst
        |  FROM se JOIN sd du ON se.u = du.node JOIN sd dv ON se.v = dv.node),
        |sw AS (SELECT x.src, x.dst AS n1, y.dst AS n2
        |  FROM sor x JOIN sor y ON x.src = y.src AND x.dst < y.dst),
        |sc AS (SELECT CAST(count(*) AS BIGINT) AS sampled_triangles
        |  FROM sw JOIN se ON n1 = se.u AND n2 = se.v)
        |SELECT sampled_triangles,
        | CAST(0.5 AS DOUBLE) AS p,
        | round(CAST(sampled_triangles AS DOUBLE) / 0.125, 6)
        |   AS estimate
        |FROM sc""".stripMargin,

    "orders_band_migration" ->
      """WITH cy AS (SELECT o_custkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS rev_c
        | FROM orders GROUP BY 1, 2),
        |b AS (SELECT o_custkey, yr,
        |  least(4, greatest(0, CAST(floor(log10(
        |    CAST(rev_c AS DOUBLE) / 100)) AS BIGINT))) AS band
        | FROM cy),
        |lg AS (SELECT o_custkey, yr, band,
        |  lag(band) OVER (PARTITION BY o_custkey ORDER BY yr)
        |    AS prev_band,
        |  lag(yr) OVER (PARTITION BY o_custkey ORDER BY yr) AS prev_yr
        | FROM b),
        |mig AS (SELECT prev_band AS band_from, band AS band_to,
        |  CAST(count(*) AS BIGINT) AS n_customers
        | FROM lg WHERE prev_yr = yr - 1 GROUP BY 1, 2),
        |rt AS (SELECT band_from, CAST(sum(n_customers) AS BIGINT)
        |  AS n_from FROM mig GROUP BY 1)
        |SELECT mig.band_from, band_to, n_customers,
        | round(CAST(n_customers AS DOUBLE) / n_from, 6) AS row_share
        |FROM mig JOIN rt ON mig.band_from = rt.band_from
        |ORDER BY mig.band_from, band_to""".stripMargin,

    "graph_rich_club" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |d AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        |   SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) nn
        |  GROUP BY 1),
        |ks AS (SELECT CAST(unnest([0, 8, 16, 24]) AS BIGINT) AS k),
        |cs AS (SELECT k, CAST(count(*) AS BIGINT) AS n_club
        |  FROM d CROSS JOIN ks WHERE dg > k GROUP BY 1),
        |ed AS (SELECT e.u, e.v, du.dg AS du, dv.dg AS dv
        |  FROM e JOIN d du ON e.u = du.node JOIN d dv ON e.v = dv.node),
        |ce AS (SELECT k, CAST(count(*) AS BIGINT) AS n_edges
        |  FROM ed CROSS JOIN ks WHERE du > k AND dv > k GROUP BY 1)
        |SELECT cs.k, n_club, coalesce(n_edges, 0) AS n_edges,
        | round(CASE WHEN n_club >= 2
        |   THEN CAST(coalesce(n_edges, 0) AS DOUBLE) * 2
        |     / (CAST(n_club AS DOUBLE) * (n_club - 1))
        |   ELSE 0.0 END, 6) AS phi
        |FROM cs LEFT JOIN ce ON cs.k = ce.k
        |ORDER BY cs.k""".stripMargin,

    "text_bigram_entropy" ->
      """WITH d AS (SELECT source, string_split_regex(text, '\s+') AS t
        |  FROM documents),
        |bi AS (SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM (SELECT source,
        |    unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> {'w1': t[i], 'w2': t[i+1]}), recursive := true)
        |   FROM d WHERE len(t) >= 2) x
        | GROUP BY 1, 2, 3),
        |uni AS (SELECT source, w1, CAST(sum(c12) AS BIGINT) AS c1
        |  FROM bi GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c1) AS BIGINT) AS n_bi
        |  FROM uni GROUP BY 1),
        |hc AS (SELECT bi.source,
        |  CAST(sum(CAST(round(-(CAST(c12 AS DOUBLE) / n_bi)
        |    * log2(CAST(c12 AS DOUBLE) / c1) * 1e9) AS BIGINT))
        |    AS BIGINT) AS hc_u9
        | FROM bi JOIN uni ON bi.source = uni.source AND bi.w1 = uni.w1
        | JOIN tot ON bi.source = tot.source
        | GROUP BY 1),
        |hu AS (SELECT uni.source,
        |  CAST(sum(CAST(round(-(CAST(c1 AS DOUBLE) / n_bi)
        |    * log2(CAST(c1 AS DOUBLE) / n_bi) * 1e9) AS BIGINT))
        |    AS BIGINT) AS hu_u9
        | FROM uni JOIN tot ON uni.source = tot.source GROUP BY 1)
        |SELECT hc.source, n_bi AS n_bigrams,
        | round(CAST(hc_u9 AS DOUBLE) / 1e9, 6) AS h_cond_bits,
        | round(CAST(hu_u9 AS DOUBLE) / 1e9, 6) AS h_uni_bits,
        | round(1.0 - CAST(hc_u9 AS DOUBLE) / hu_u9, 6)
        |   AS predictability
        |FROM hc JOIN hu ON hc.source = hu.source
        |JOIN tot ON hc.source = tot.source
        |ORDER BY hc.source""".stripMargin,

    "events_top_movers" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(epoch(ts) AS BIGINT) // 86400 AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |lg AS (SELECT event_type, day, n,
        |  lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n,
        |  lag(day) OVER (PARTITION BY event_type ORDER BY day)
        |    AS prev_day
        | FROM daily),
        |mv AS (SELECT event_type, day, prev_n, n,
        |  round(ln((CAST(n AS DOUBLE) + 1) / (CAST(prev_n AS DOUBLE) + 1)),
        |    6) AS log_ratio
        | FROM lg WHERE prev_day = day - 1)
        |SELECT event_type, day, prev_n, n, log_ratio,
        | round(CAST(n - prev_n AS DOUBLE) / prev_n, 6) AS pct_change
        |FROM mv
        |ORDER BY abs(log_ratio) DESC, event_type, day
        |LIMIT 20""".stripMargin,

    "text_langid_margin" ->
      (s"""WITH m(token, cand_lang) AS (VALUES ${operators.TextAnalysis
          .markers.map { case (l, t) => s"('$t','$l')" }.mkString(", ")}),
         |hits AS (SELECT doc_id, cand_lang, CAST(count(*) AS BIGINT)
         |    AS score
         |  FROM (SELECT doc_id, unnest(string_split_regex(text,'\\s+'))
         |      AS token FROM documents) t
         |  JOIN m USING (token) GROUP BY 1, 2),
         |t2 AS (SELECT doc_id,
         |  max(CASE WHEN rn = 1 THEN cand_lang END) AS pred_lang,
         |  max(CASE WHEN rn = 1 THEN score END) AS s1,
         |  coalesce(max(CASE WHEN rn = 2 THEN score END), 0) AS s2
         | FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, cand_lang) AS rn FROM hits) x
         | WHERE rn <= 2 GROUP BY 1),
         |sc AS (SELECT coalesce(pred_lang, 'und') AS pred_lang,
         |  CAST(coalesce(s1 - s2, 0) AS BIGINT) AS margin
         | FROM documents d LEFT JOIN t2 ON d.doc_id = t2.doc_id)
         |SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
         | round(CAST(sum(margin) AS DOUBLE) / count(*), 6)
         |   AS avg_margin,
         | CAST(sum(CASE WHEN margin <= 1 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_low_margin,
         | round(CAST(sum(CASE WHEN margin <= 1 THEN 1 ELSE 0 END)
         |   AS DOUBLE) / count(*), 6) AS low_margin_share
         |FROM sc GROUP BY 1 ORDER BY pred_lang""".stripMargin),

    "clean_state_type_chi2" ->
      """WITH shaped AS (
        | SELECT CASE WHEN c_custkey % 5 = 0 THEN '99'
        |   ELSE printf('%04d', c_nationkey * 100 + c_custkey % 100)
        |   END AS postcode,
        |  c_mktsegment AS entity_type
        | FROM customer),
        |s AS (SELECT
        |  CASE WHEN NOT regexp_matches(postcode, '^\d{4}$')
        |    THEN 'INVALID'
        |   WHEN CAST(postcode AS INT) BETWEEN 1000 AND 2599 THEN 'NSW'
        |   WHEN CAST(postcode AS INT) BETWEEN 2619 AND 2899 THEN 'NSW'
        |   WHEN CAST(postcode AS INT) BETWEEN 2921 AND 2999 THEN 'NSW'
        |   WHEN CAST(postcode AS INT) BETWEEN 200 AND 299 THEN 'ACT'
        |   WHEN CAST(postcode AS INT) BETWEEN 2600 AND 2618 THEN 'ACT'
        |   WHEN CAST(postcode AS INT) BETWEEN 2900 AND 2920 THEN 'ACT'
        |   WHEN CAST(postcode AS INT) BETWEEN 3000 AND 3999
        |     OR CAST(postcode AS INT) BETWEEN 8000 AND 8999 THEN 'VIC'
        |   WHEN CAST(postcode AS INT) BETWEEN 4000 AND 4999
        |     OR CAST(postcode AS INT) BETWEEN 9000 AND 9999 THEN 'QLD'
        |   WHEN CAST(postcode AS INT) BETWEEN 5000 AND 5999 THEN 'SA'
        |   WHEN CAST(postcode AS INT) BETWEEN 6000 AND 6999 THEN 'WA'
        |   WHEN CAST(postcode AS INT) BETWEEN 7000 AND 7999 THEN 'TAS'
        |   WHEN CAST(postcode AS INT) BETWEEN 800 AND 999 THEN 'NT'
        |   ELSE 'UNKNOWN' END AS state,
        |  entity_type
        | FROM shaped),
        |cells AS (SELECT state, entity_type,
        |  CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1, 2),
        |rm AS (SELECT state, CAST(sum(n) AS BIGINT) AS n_state
        |  FROM cells GROUP BY 1),
        |cm AS (SELECT entity_type, CAST(sum(n) AS BIGINT) AS n_type
        |  FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cells),
        |dims AS (SELECT CAST(count(DISTINCT state) AS BIGINT)
        |    AS n_states,
        |  CAST(count(DISTINCT entity_type) AS BIGINT) AS n_types
        | FROM cells),
        |terms AS (SELECT cells.state, cells.entity_type, n,
        |  CAST(n_state AS DOUBLE) * n_type / n_total AS expected,
        |  CAST(round((n - CAST(n_state AS DOUBLE) * n_type / n_total)
        |    * (n - CAST(n_state AS DOUBLE) * n_type / n_total)
        |    / (CAST(n_state AS DOUBLE) * n_type / n_total) * 1e6)
        |    AS BIGINT) AS chi2_u6
        | FROM cells JOIN rm ON cells.state = rm.state
        | JOIN cm ON cells.entity_type = cm.entity_type CROSS JOIN t),
        |tt AS (SELECT CAST(sum(chi2_u6) AS BIGINT) AS chi2_tot_u6
        |  FROM terms)
        |SELECT state, entity_type, n,
        | round(expected, 6) AS expected,
        | round(CAST(chi2_u6 AS DOUBLE) / 1e6, 6) AS chi2_term,
        | round(CAST(chi2_tot_u6 AS DOUBLE) / 1e6, 6) AS chi2_total,
        | (n_states - 1) * (n_types - 1) AS dof
        |FROM terms CROSS JOIN tt CROSS JOIN dims
        |ORDER BY state, entity_type""".stripMargin,

    "events_value_anova" ->
      """WITH per AS (SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_g,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS s_g,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)
        |    * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sq_g
        | FROM events GROUP BY 1),
        |p2 AS (SELECT event_type, n_g, s_g, sq_g,
        |  CAST(round(CAST(s_g AS DOUBLE) * s_g / n_g * 1e-2)
        |    AS BIGINT) AS bt_u6
        | FROM per),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS g,
        |  CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(s_g) AS BIGINT) AS s,
        |  CAST(sum(sq_g) AS BIGINT) AS sq,
        |  CAST(sum(bt_u6) AS BIGINT) AS bt
        | FROM p2)
        |SELECT event_type, n_g AS n,
        | round(CAST(s_g AS DOUBLE) / n_g / 100, 6) AS mean_value,
        | round(((CAST(bt AS DOUBLE) * 1e2 - CAST(s AS DOUBLE) * s / n)
        |    / (g - 1))
        |  / ((CAST(sq AS DOUBLE) - CAST(bt AS DOUBLE) * 1e2) / (n - g)),
        |  6) AS f_stat,
        | round((CAST(bt AS DOUBLE) * 1e2 - CAST(s AS DOUBLE) * s / n)
        |  / ((CAST(bt AS DOUBLE) * 1e2 - CAST(s AS DOUBLE) * s / n)
        |   + (CAST(sq AS DOUBLE) - CAST(bt AS DOUBLE) * 1e2)), 6)
        |   AS eta_sq,
        | g - 1 AS dof_between, n - g AS dof_within
        |FROM p2 CROSS JOIN st ORDER BY event_type""".stripMargin,

    "orders_spend_gini" ->
      """WITH spend AS (SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS spend_c
        | FROM orders GROUP BY 1),
        |vals AS (SELECT CAST(spend_c // 100 AS BIGINT) AS v, spend_c
        |  FROM spend),
        |grid AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(spend_c) AS BIGINT) AS sc
        | FROM vals GROUP BY 1),
        |rk AS (SELECT v, cnt, sc,
        |  CAST(coalesce(sum(cnt) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS c_below
        | FROM grid),
        |st AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(sum(v * cnt) AS BIGINT) AS s_d,
        |  CAST(sum(v * (cnt * c_below + cnt * (cnt + 1) // 2))
        |    AS BIGINT) AS srx,
        |  CAST(sum(sc) AS BIGINT) AS s_c
        | FROM rk)
        |SELECT n AS n_customers,
        | round(CAST(s_c AS DOUBLE) / 100, 2) AS total_spend,
        | round(CAST(s_c AS DOUBLE) / n / 100, 6) AS mean_spend,
        | round((2.0 * CAST(srx AS DOUBLE)
        |   - CAST(n + 1 AS DOUBLE) * s_d)
        |   / (CAST(n AS DOUBLE) * s_d), 6) AS gini
        |FROM st ORDER BY n_customers""".stripMargin,

    "text_term_burstiness" ->
      """WITH tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w
        |   FROM documents) t GROUP BY 1, 2),
        |uni AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS cw
        |  FROM tf GROUP BY 1),
        |dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |top AS (SELECT w, cw,
        |  CAST(row_number() OVER (ORDER BY cw DESC, w) AS INT) AS rank
        | FROM uni ORDER BY cw DESC, w LIMIT 20),
        |ex AS (SELECT rank, w, cw, df,
        |  round(CAST(nd AS DOUBLE)
        |    * (1.0 - pow(1.0 - CAST(1 AS DOUBLE) / nd,
        |        CAST(cw AS DOUBLE))), 6) AS expected_df
        | FROM top JOIN dfreq USING (w) CROSS JOIN nd)
        |SELECT rank, w AS term, cw, df, expected_df,
        | round(expected_df / df, 6) AS burstiness
        |FROM ex ORDER BY rank""".stripMargin,

    "orders_seasonality_index" ->
      """WITH cells AS (SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS v_c
        | FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS nt,
        |  CAST(sum(v_c) AS BIGINT) AS vt FROM cells)
        |SELECT m AS month, n_orders,
        | round(CAST(n_orders AS DOUBLE) * 12 / nt, 6) AS volume_index,
        | round(CAST(v_c AS DOUBLE) / 100, 2) AS value,
        | round(CAST(v_c AS DOUBLE) * 12 / vt, 6) AS value_index
        |FROM cells CROSS JOIN t ORDER BY month""".stripMargin,

    "mm_phash_top_pairs" ->
      """WITH g AS (SELECT doc_id,
        |  list_transform(generate_series(0, 63),
        |    i -> least(ascii(substr(text,
        |      CAST((i * length(text)) // 64 AS INT) + 1, 1)), 255)) AS v
        | FROM documents WHERE length(text) >= 1),
        |hs AS (SELECT doc_id, v, list_sum(v) AS sv FROM g),
        |h2 AS (SELECT doc_id,
        |  CAST(list_sum(list_transform(generate_series(1, 48),
        |    i -> CASE WHEN 64 * v[i] > sv THEN pow(2.0, i - 1)
        |      ELSE 0.0 END)) AS BIGINT) AS h48
        | FROM hs),
        |bands AS (SELECT CAST(unnest(generate_series(1, 4)) AS BIGINT)
        |  AS band),
        |bd AS (SELECT band, doc_id, h48,
        |  (h48 >> CAST((band - 1) * 12 AS INT)) & 4095 AS bkey
        | FROM h2 CROSS JOIN bands),
        |bk AS (SELECT band, bkey, CAST(count(*) AS BIGINT) AS k
        | FROM bd GROUP BY 1, 2),
        |hot AS (SELECT band, bkey, k,
        |  CAST(k * (k - 1) // 2 AS BIGINT) AS n_pairs
        | FROM bk WHERE k > 16),
        |hotham AS (SELECT a.band, a.bkey,
        |  CAST(sum(bit_count(xor(a.h48, b.h48))) AS BIGINT) AS sum_ham
        | FROM bd a JOIN bd b ON a.band = b.band AND a.bkey = b.bkey
        |   AND a.doc_id < b.doc_id
        | JOIN hot h ON h.band = a.band AND h.bkey = a.bkey
        | GROUP BY 1, 2),
        |hotrows AS (SELECT 'hot_bucket' AS kind, hot.band AS band,
        |  hot.bkey AS bkey, k AS bucket_k, n_pairs,
        |  round(CAST(sum_ham AS DOUBLE) / n_pairs, 6) AS avg_hamming,
        |  CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
        |  CAST(NULL AS BIGINT) AS hamming
        | FROM hot JOIN hotham ON hotham.band = hot.band
        |   AND hotham.bkey = hot.bkey
        | ORDER BY bucket_k DESC, hot.band, hot.bkey LIMIT 20),
        |warm AS (SELECT band, bkey FROM bk WHERE k BETWEEN 2 AND 16),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(min(bit_count(xor(a.h48, b.h48))) AS BIGINT) AS hamming
        | FROM bd a JOIN bd b ON a.band = b.band AND a.bkey = b.bkey
        |   AND a.doc_id < b.doc_id
        | JOIN warm w ON w.band = a.band AND w.bkey = a.bkey
        | GROUP BY 1, 2),
        |pairrows AS (SELECT 'pair' AS kind, CAST(NULL AS BIGINT) AS band,
        |  CAST(NULL AS BIGINT) AS bkey, CAST(NULL AS BIGINT) AS bucket_k,
        |  CAST(NULL AS BIGINT) AS n_pairs, CAST(NULL AS DOUBLE) AS avg_hamming,
        |  doc_a, doc_b, hamming
        | FROM pr ORDER BY hamming, doc_a, doc_b LIMIT 20)
        |SELECT * FROM hotrows UNION ALL SELECT * FROM pairrows
        |ORDER BY kind, bucket_k DESC NULLS LAST, band, bkey,
        |  hamming, doc_a, doc_b""".stripMargin,

    "graph_degree_gini" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |d AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        |   SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) nn
        |  GROUP BY 1),
        |grid AS (SELECT dg AS v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM d GROUP BY 1),
        |rk AS (SELECT v, cnt,
        |  CAST(coalesce(sum(cnt) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS c_below
        | FROM grid),
        |st AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(sum(v * cnt) AS BIGINT) AS s,
        |  CAST(sum(v * (cnt * c_below + cnt * (cnt + 1) // 2))
        |    AS BIGINT) AS srx
        | FROM rk)
        |SELECT n AS n_nodes,
        | round(CAST(s AS DOUBLE) / n, 6) AS mean_degree,
        | round((2.0 * CAST(srx AS DOUBLE)
        |   - CAST(n + 1 AS DOUBLE) * s) / (CAST(n AS DOUBLE) * s), 6)
        |   AS degree_gini
        |FROM st ORDER BY n_nodes""".stripMargin,

    "events_levene_variance" ->
      """WITH pur AS (SELECT
        |  CASE WHEN list_sum(list_transform(generate_series(1, 8),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
        |      * pow(16, 8-i))) / 4294967296.0 < 0.5
        |   THEN 'A' ELSE 'B' END AS variant,
        |  CAST(round(value * 100) AS BIGINT) AS v_c
        | FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_g,
        |  CAST(sum(v_c) AS BIGINT) AS s_g FROM pur GROUP BY 1),
        |dv AS (SELECT pur.variant,
        |  CAST(round(abs(CAST(v_c AS DOUBLE)
        |    - CAST(s_g AS DOUBLE) / n_g)) AS BIGINT) AS z
        | FROM pur JOIN m ON pur.variant = m.variant),
        |cells AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_g,
        |  CAST(sum(z) AS BIGINT) AS sz,
        |  CAST(sum(z * z) AS BIGINT) AS szz
        | FROM dv GROUP BY 1),
        |c2 AS (SELECT variant, n_g, sz, szz,
        |  CAST(round(CAST(sz AS DOUBLE) * sz / n_g * 1e-2) AS BIGINT)
        |    AS bt_u6
        | FROM cells),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS g,
        |  CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(sz) AS BIGINT) AS s,
        |  CAST(sum(szz) AS BIGINT) AS sq,
        |  CAST(sum(bt_u6) AS BIGINT) AS bt
        | FROM c2)
        |SELECT variant, n_g AS n,
        | round(CAST(sz AS DOUBLE) / n_g / 100, 6) AS mean_abs_dev,
        | round(((CAST(bt AS DOUBLE) * 1e2 - CAST(s AS DOUBLE) * s / n)
        |    / (g - 1))
        |  / ((CAST(sq AS DOUBLE) - CAST(bt AS DOUBLE) * 1e2) / (n - g)),
        |  6) AS levene_f,
        | g - 1 AS dof_between, n - g AS dof_within
        |FROM c2 CROSS JOIN st ORDER BY variant""".stripMargin,
  )

  /** Unrolled k-core peel oracle: round r's alive set a_r = nodes of
    * a_(r-1) whose degree within a_(r-1) is ≥ k — the same FIXED
    * rounds the engine runs, so engine and oracle agree whether or
    * not the peel has reached its fixpoint. Every CTE is AS
    * MATERIALIZED: each a_r is referenced three times (both endpoint
    * joins of the next round + its stat row), and DuckDB's default
    * inlining re-expands the whole prefix at every reference — the
    * same 2^R blowup the engine avoids with localCheckpoint (measured:
    * a disk-filling ~70 GB spill at sf0.1 inlined vs 3 s materialized).
    */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = if (r == 1) "a0" else s"a${r - 1}"
      s"""d$r AS MATERIALIZED (SELECT e.src, CAST(count(*) AS BIGINT) AS dg
         |  FROM e
         | JOIN $prev x ON e.src = x.node JOIN $prev y ON e.dst = y.node
         | GROUP BY 1),
         |a$r AS MATERIALIZED (SELECT src AS node, dg FROM d$r
         |  WHERE dg >= $k)""".stripMargin
    }.mkString(",\n")
    val statSelects = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS INT) AS round,
         | CAST(count(*) AS BIGINT) AS n_alive,
         | CAST(coalesce(min(dg), 0) AS BIGINT) AS min_deg,
         | CAST(coalesce(max(dg), 0) AS BIGINT) AS max_deg,
         | CAST(coalesce(sum(dg), 0) AS BIGINT) AS sum_deg
         |FROM a$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (
       | SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       | FROM lineitem a JOIN lineitem b
       |   ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
       |$roundCtes
       |$statSelects
       |ORDER BY round""".stripMargin
  }
}
