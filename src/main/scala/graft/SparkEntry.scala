package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.{Analytics, Dedup, Ingest, Multimodal, Quantiles, Relational, Schedule, Similarity, Skew, TextAnalysis}
import graft.streaming.EventTimeWindows

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY §2 (reference parity) and the north-star
  * extension set is registered here as a named query over the driver's
  * test tables, each with an ANSI-SQL DuckDB oracle where the semantics
  * are SQL-expressible.
  *
  * Oracle determinism rules (see SURVEY §7.4 "oracle float equality"):
  *  - every query ends in a total ORDER BY;
  *  - double sums/avgs go through Analytics.exactSum/exactAvg (exact
  *    DECIMAL accumulation, order-invariant, cast back to DOUBLE) and the
  *    oracle SQL uses the identical CAST(sum(CAST(..)) AS DOUBLE) shape;
  *  - integer-typed outputs are cast to the same width on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-Q1-shaped pricing summary = the reference's whole analytical
    * surface (A1 count + A3/A4 min-max + A7 filter) in one scan.
    */
  def entry(spark: SparkSession): DataFrame =
    Analytics.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, (SparkSession, String) => DataFrame](
    // ---- reference parity (SURVEY §2.3) ----
    "q1_pricing_summary" -> ((s, d) => Analytics.pricingSummary(s, d)),
    "a1_count"           -> ((s, d) => Analytics.countAll(s, d)),
    "a2_topk_recent"     -> ((s, d) => Analytics.topKRecent(s, d)),
    "a3_grouped_max"     -> ((s, d) => Analytics.groupedMax(s, d)),
    "a4_grouped_min"     -> ((s, d) => Analytics.groupedMin(s, d)),
    "a5_minmax_meta"     -> ((s, d) => Analytics.minMaxMeta(s, d)),
    "a7_filter_eq"       -> ((s, d) => Analytics.filterEq(s, d)),
    // ---- joins (north star; absent from reference) ----
    "j1_broadcast_segment_revenue"    -> ((s, d) => Relational.revenueBySegment(s, d)),
    "j2_shuffle_top_orders"           -> ((s, d) => Relational.topRevenueOrders(s, d)),
    "j3_multijoin_nation_revenue"     -> ((s, d) => Relational.revenueByNation(s, d)),
    "q3_shipping_priority"            -> ((s, d) => Relational.shippingPriority(s, d)),
    "q5_local_supplier_volume"        -> ((s, d) => Relational.localSupplierVolume(s, d)),
    "q10_returned_items"              -> ((s, d) => Relational.returnedItemReport(s, d)),
    "q18_large_orders"                -> ((s, d) => Relational.largeVolumeCustomers(s, d)),
    "j4_semi_customers_with_orders"   -> ((s, d) => Relational.customersWithBigOrders(s, d)),
    "j5_anti_customers_without_orders"-> ((s, d) => Relational.customersWithoutBigOrders(s, d)),
    "j6_outer_order_counts"           -> ((s, d) => Relational.orderCountPerCustomer(s, d)),
    // ---- windows / sets / grouping ----
    "w1_rank_top_orders"   -> ((s, d) => Relational.topOrdersPerCustomer(s, d)),
    "w2_running_revenue"   -> ((s, d) => Relational.runningRevenue(s, d)),
    "set1_union_nationkeys"-> ((s, d) => Relational.unionNationKeys(s, d)),
    "g1_rollup_summary"    -> ((s, d) => Relational.rollupSummary(s, d)),
    "h1_having_brand_price"-> ((s, d) => Relational.brandsAboveAvgPrice(s, d)),
    "sq1_orders_above_avg" -> ((s, d) => Relational.ordersAboveAvg(s, d)),
    "f1_scalar_expressions"-> ((s, d) => Relational.scalarExpressions(s, d)),
    "x2_distinct_users"    -> ((s, d) => Relational.distinctUsersPerType(s, d)),
    // ---- ingest / partitioned store (SURVEY §2.2 K1-K2, §2.4 D4) ----
    "k1_append_roundtrip"     -> ((s, d) => Ingest.appendRoundtrip(s, d)),
    "d4_partition_prune"      -> ((s, d) => Ingest.partitionPrunedDay(s, d)),
    "rk1_idempotent_overwrite"-> ((s, d) => Ingest.idempotentOverwrite(s, d)),
    "d5_scheduled_backfill"   -> ((s, d) => Schedule.scheduledBackfill(s, d)),
    "k2_orc_roundtrip"        -> ((s, d) => Ingest.orcRoundtrip(s, d)),
    "k16_jdbc_roundtrip"      -> ((s, d) => graft.sources.JdbcStore.jdbcRoundtripGate(s, d)),
    "rh1_run_history"         -> ((s, d) => graft.operators.RunLog.runHistoryGate(s, d)),
    "rh2_stream_run_history"  -> ((s, d) => graft.operators.RunLog.streamRunHistoryGate(s, d)),
    // ---- reactive / event-time (SURVEY §2.4 D6, §2.5) ----
    "r1_reactive_meta"   -> ((s, d) => Ingest.reactiveMeta(s, d)),
    "st1_hourly_windows" -> ((s, d) => EventTimeWindows.hourlyByType(s, d)),
    "st2_session_windows"-> ((s, d) => EventTimeWindows.userSessions(s, d)),
    // ---- text analysis (north star) ----
    "t1_token_stats"   -> ((s, d) => TextAnalysis.tokenStats(s, d)),
    "t2_quality_score" -> ((s, d) => TextAnalysis.qualityScore(s, d)),
    "t3_langid_markers"-> ((s, d) => TextAnalysis.langIdMarkers(s, d)),
    "t4_fingerprint"   -> ((s, d) => TextAnalysis.fingerprints(s, d)),
    // ---- deduplication (north star) ----
    "dd1_exact_dedup"   -> ((s, d) => Dedup.exactDedup(s, d)),
    "dd2_minhash_lsh"   -> ((s, d) => Dedup.minhashLshPairs(s, d)),
    // The GATE narrows to one deterministic 1-in-8 probe shard (r12
    // verdict #5; oracle mirrors). Library default stays probeShards=1
    // (full pair set) — the narrowing is visible here, at the gate.
    "dd3_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(s, d, probeShards = 8, shard = 0)),
    "dd4_ngram_jaccard" -> ((s, d) => Dedup.jaccardPairs(s, d)),
    "dd5_embedding_dup" -> ((s, d) => Dedup.embeddingDupPairs(s, d)),
    // ---- similarity search (north star) ----
    "ss1_knn_brute" -> ((s, d) => Similarity.knnBrute(s, d)),
    "ss2_lsh_ann"   -> ((s, d) => Similarity.lshNeighbors(s, d)),
    "xl1_margin_mining" -> ((s, d) => Similarity.marginMining(s, d)),
    "xl2_margin_mining_ann" -> ((s, d) => Similarity.marginMiningAnn(s, d)),
    // ---- in-engine model fitting (north star) ----
    // Each model is gated twice: its engine-invariant sufficient-
    // statistics frame, and the fitted model itself (`*_fit`; oracle
    // outputs BIGINT-cast — SURVEY §13 names the uncast-HUGEINT output
    // boundary that made the round-11/12 fitted gates hash-red).
    "bt1_bradley_terry"   -> ((s, d) => graft.operators.Learn.duelCounts(s, d)),
    "gb1_adaboost_stumps" -> ((s, d) => graft.operators.Learn.adaboostStumpTrace(s, d)),
    "dsk1_dawid_skene"    -> ((s, d) => graft.operators.Learn.votePatternCounts(s, d)),
    "bt1_bradley_terry_fit" -> ((s, d) => graft.operators.Learn.bradleyTerry(s, d)),
    "gb1_adaboost_fit"      -> ((s, d) => graft.operators.Learn.adaboostStumps(s, d)),
    "dsk1_dawid_skene_fit"  -> ((s, d) => graft.operators.Learn.dawidSkene(s, d)),
    // ---- multimodal / approx (north star) ----
    "m1_asset_metadata"        -> ((s, d) => Multimodal.assetMetadata(s, d)),
    "x1_approx_distinct_users" -> ((s, d) => Relational.approxDistinctUsers(s, d)),
    // ---- capstone composition + Q6-shaped pushdown ----
    "c1_curation_pipeline" -> ((s, d) => graft.operators.Curation.curate(s, d)),
    "q6_forecast_revenue"  -> ((s, d) => graft.operators.Curation.forecastRevenue(s, d)),
    // ---- round-1 widening: as-of, pivot, cube, json, tokens, quantiles ----
    "set2_intersect_nationkeys" -> ((s, d) => Relational.intersectNationKeys(s, d)),
    "set3_except_nationkeys"    -> ((s, d) => Relational.exceptNationKeys(s, d)),
    "sq2_correlated_max_order"  -> ((s, d) => Relational.correlatedMaxOrder(s, d)),
    "w3_order_gaps"             -> ((s, d) => Relational.orderGaps(s, d)),
    "f3_date_functions"         -> ((s, d) => Relational.dateFunctions(s, d)),
    "f4_string_functions"       -> ((s, d) => Relational.stringFunctions(s, d)),
    "a8_compound_filter"        -> ((s, d) => Relational.compoundFilter(s, d)),
    "g3_grouping_sets"          -> ((s, d) => Relational.groupingSets(s, d)),
    "w4_range_frame_sum"        -> ((s, d) => Relational.rangeFrameSum(s, d)),
    "t6_regex_extract"          -> ((s, d) => TextAnalysis.regexExtract(s, d)),
    "x5_price_histogram"        -> ((s, d) => Relational.priceHistogram(s, d)),
    "j7_range_join_tiers"       -> ((s, d) => Relational.eventValueTiers(s, d)),
    "st3_sliding_windows"     -> ((s, d) => EventTimeWindows.slidingByType(s, d)),
    "x4_approx_quantiles"     -> ((s, d) => Relational.approxPriceQuantiles(s, d)),
    "aj1_asof_purchase_click" -> ((s, d) => Relational.asofPurchaseClick(s, d)),
    "p1_pivot_user_type"      -> ((s, d) => Relational.pivotUserTypeTotals(s, d)),
    "g2_cube_summary"         -> ((s, d) => Relational.cubeSummary(s, d)),
    "e2_json_extract"         -> ((s, d) => Relational.jsonExtract(s, d)),
    "t5_top_tokens"           -> ((s, d) => TextAnalysis.topTokens(s, d)),
    "x3_price_quantiles"      -> ((s, d) => Quantiles.priceQuantilesScalable(s, d)),
    // ---- round-2 widening: scalable quantiles, sketches, merge, skew, IVF ----
    "x6_grouped_quantiles" -> ((s, d) => Quantiles.eventValueQuantilesByType(s, d)),
    "x7_cms_type_counts"   -> ((s, d) => Relational.cmsEventTypeCounts(s, d)),
    "up1_upsert"           -> ((s, d) => Ingest.upsertGate(s, d)),
    "sk1_salted_agg"       -> ((s, d) =>
      Skew.skewedSumCountExact(graft.Tables.events(s, d), "event_type", "value")
        .orderBy(col("event_type"))),
    "ss3_ivf_search"       -> ((s, d) => Similarity.ivfSearch(s, d)),
    "st4_watermark_late"   -> ((s, d) => EventTimeWindows.watermarkLateGate(s, d)),
    "st5_stream_join"      -> ((s, d) => graft.streaming.StreamJoins.attributionGate(s, d)),
    "t7_langid_ngram"      -> ((s, d) => TextAnalysis.langIdNgram(s, d)),
    "m2_png_header_dims"   -> ((s, d) => Multimodal.pngHeaderRoundtrip(s, d)),
    "w5_window_stats"      -> ((s, d) => Relational.windowStats(s, d)),
    "x8_price_moments"     -> ((s, d) => Relational.priceMoments(s, d)),
    "k3_csv_roundtrip"     -> ((s, d) => Ingest.csvRoundtrip(s, d)),
    "k4_json_roundtrip"    -> ((s, d) => Ingest.jsonRoundtrip(s, d)),
    "b1_bucketed_join"     -> ((s, d) => Relational.bucketedSegmentRevenue(s, d)),
    "st6_stateful_sessions"-> ((s, d) =>
      graft.streaming.StatefulSessions.sessionsGate(s, d)),
    "dd6_dup_clusters"     -> ((s, d) => Dedup.duplicateClusters(s, d)),
    "f5_array_functions"   -> ((s, d) => Relational.arrayFunctions(s, d)),
    "f6_conditionals"      -> ((s, d) => Relational.conditionals(s, d)),
    "ts1_resample_hourly"  -> ((s, d) => Relational.resampleHourly(s, d)),
    "t8_text_clean"        -> ((s, d) => TextAnalysis.cleanText(s, d)),
    "t9_pii_redact"        -> ((s, d) => TextAnalysis.redactPii(s, d)),
    "s1_hash_split"        -> ((s, d) => TextAnalysis.hashSplit(s, d)),
    "s2_group_split"       -> ((s, d) => TextAnalysis.groupSplit(s, d)),
    "s3_leakage_safe_split"-> ((s, d) => Dedup.leakageSafeSplit(s, d)),
    "zipf1_token_zipf"     -> ((s, d) => TextAnalysis.tokenZipf(s, d)),
    "kd1_split_kl"         -> ((s, d) => graft.operators.Quality.splitKlDivergence(s, d)),
    "ent1_token_entropy"   -> ((s, d) => TextAnalysis.tokenEntropy(s, d)),
    "w8_distribution_ranks"-> ((s, d) => graft.operators.Behavior.distributionRanks(s, d)),
    "att1_last_touch"      -> ((s, d) => graft.operators.Behavior.lastTouchAttribution(s, d)),
    "sky1_pareto_customers"-> ((s, d) => Relational.customerSkyline(s, d)),
    "fd1_functional_deps"  -> ((s, d) => Relational.functionalDeps(s, d)),
    "k12_cascade_delete"   -> ((s, d) => Ingest.cascadeDeleteAudit(s, d)),
    "tt1_time_travel"      -> ((s, d) => Ingest.timeTravelGate(s, d)),
    "tt2_tx_merge"         -> ((s, d) => Ingest.txMergeGate(s, d)),
    "tt3_zone_skip"        -> ((s, d) => Ingest.zoneSkipGate(s, d)),
    "cf1_changes_feed"     -> ((s, d) => Ingest.changesFeedGate(s, d)),
    "tt4_tx_delete"        -> ((s, d) => Ingest.txDeleteGate(s, d)),
    "c5_tx_incremental_dedup" -> ((s, d) => Dedup.txIncrementalDedupGate(s, d)),
    "c6_entity_resolution" -> ((s, d) => graft.operators.Curation.entityResolution(s, d)),
    "st17_space_saving_topk" -> ((s, d) => graft.streaming.SpaceSaving.topUsersGate(s, d)),
    "st18_timer_sessions" -> ((s, d) => graft.streaming.SessionTimers.timerSessionsGate(s, d)),
    "cv1_kfold_stats"      -> ((s, d) => TextAnalysis.kfoldStats(s, d)),
    "twa1_time_weighted"   -> ((s, d) => Relational.timeWeightedAverage(s, d)),
    "ts4_dow_hod_profile"  -> ((s, d) => Relational.dowHodProfile(s, d)),
    "imp1_median_impute"   -> ((s, d) => graft.operators.Quality.medianImpute(s, d)),
    "dc3_bloom_decontaminate" -> ((s, d) =>
      graft.operators.Decontamination.bloomPrefilteredOverlap(s, d)),
    "ttd1_version_diff"    -> ((s, d) => Ingest.txVersionDiffGate(s, d)),
    "vnt1_variant_extract" -> ((s, d) => Relational.variantExtract(s, d)),
    "c7_corpus_card"       -> ((s, d) => graft.operators.Curation.corpusCard(s, d)),
    "exp1_anomaly_contrib" -> ((s, d) => graft.operators.Quality.anomalyContribution(s, d)),
    "q13_order_count_dist" -> ((s, d) => Relational.orderCountDistribution(s, d)),
    "q22_idle_rich"        -> ((s, d) => Relational.idleRichCustomers(s, d)),
    "q19_disjunctive_pred" -> ((s, d) => Relational.disjunctivePredicateRevenue(s, d)),
    "tt5_bloom_skip"       -> ((s, d) => Ingest.bloomSkipGate(s, d)),
    "tt6_schema_evolution" -> ((s, d) => Ingest.schemaEvolutionGate(s, d)),
    "sh1_epoch_shuffle"    -> ((s, d) => TextAnalysis.epochShuffle(s, d)),
    "te1_target_encoding"  -> ((s, d) => Relational.targetEncoding(s, d)),
    "cuped1_cuped_readout" -> ((s, d) => graft.operators.Behavior.cupedReadout(s, d)),
    "dcg1_ndcg_at_k"       -> ((s, d) => Similarity.ndcgAtK(s, d)),
    "iaa1_labeler_kappa"   -> ((s, d) => graft.operators.Quality.labelerAgreement(s, d)),
    "cal1_calibration_ece" -> ((s, d) => graft.operators.Quality.calibrationTable(s, d)),
    "gini1_spend_gini"     -> ((s, d) => Relational.spendGini(s, d)),
    "rec1_ann_recall"      -> ((s, d) => Similarity.annRecallAtK(s, d)),
    "rec2_ann_recall_wide" -> ((s, d) =>
      Similarity.annRecallAtK(s, d, nQueries = 20, k = 10, candidates = 50)),
    "mrr1_mean_recip_rank" -> ((s, d) => Similarity.mrrAtK(s, d)),
    "tt7_optimize"         -> ((s, d) => Ingest.txOptimizeGate(s, d)),
    "tt8_optimize_zorder"  -> ((s, d) => Ingest.txOptimizeZorderGate(s, d)),
    "tt9_restore"          -> ((s, d) => Ingest.txRestoreGate(s, d)),
    "tt10_shallow_clone"   -> ((s, d) => Ingest.txCloneGate(s, d)),
    "tt11_conflict_detect" -> ((s, d) => Ingest.txConflictGate(s, d)),
    "tt12_multizone"       -> ((s, d) => Ingest.txMultiZoneGate(s, d)),
    "tt13_log_checkpoint"  -> ((s, d) => Ingest.txLogCheckpointGate(s, d)),
    "enc1_rle_runs"        -> ((s, d) => Ingest.rleRunsGate(s, d)),
    "tt14_string_zones"    -> ((s, d) => Ingest.txStringZoneGate(s, d)),
    "k15_v2_required_distribution" -> ((s, d) => Ingest.v2RequiredDistribution(s, d)),
    "tt15_partial_optimize" -> ((s, d) => Ingest.txPartialOptimizeGate(s, d)),
    "t18_gopher_rules"     -> ((s, d) => TextAnalysis.gopherRules(s, d)),
    "ridge1_ridge_fit"     -> ((s, d) => graft.operators.Stats.ridgeFit(s, d)),
    "kt1_kendall_tau"      -> ((s, d) => graft.operators.Stats.kendallTau(s, d)),
    "mod1_graph_modularity" -> ((s, d) => graft.operators.Graph.modularityGate(s, d)),
    "sprt1_sequential_test" -> ((s, d) => graft.operators.Stats.sprtGate(s, d)),
    "lof1_local_outliers"  -> ((s, d) => Similarity.lofGate(s, d)),
    "jcs1_join_card_est"   -> ((s, d) => Relational.joinCardStats(s, d)),
    "boot1_subsample_ci"   -> ((s, d) => graft.operators.Stats.subsampleCi(s, d)),
    "yw1_yule_walker"      -> ((s, d) => graft.operators.Stats.yuleWalkerGate(s, d)),
    "att3_position_touch"  -> ((s, d) => graft.operators.Behavior.positionAttribution(s, d)),
    // Cohort lattice + fitted Shapley values — see the model-fitting
    // block note above.
    "att4_shapley"         -> ((s, d) => graft.operators.Behavior.exposureCohorts(s, d)),
    "att4_shapley_fit"     -> ((s, d) => graft.operators.Behavior.shapleyAttribution(s, d)),
    "c9_curation_v5"       -> ((s, d) => TextAnalysis.curationV5(s, d)),
    "st19_stream_sprt"     -> ((s, d) => graft.streaming.StreamSprt.sprtStreamGate(s, d)),
    "hc1_harmonic_centrality" -> ((s, d) => graft.operators.Graph.harmonicCentrality(s, d)),
    "ney1_neyman_allocation" -> ((s, d) => graft.operators.Stats.neymanAllocation(s, d)),
    "wil1_wilson_ci"       -> ((s, d) => graft.operators.Stats.wilsonIntervals(s, d)),
    "cor2_partial_corr"    -> ((s, d) => graft.operators.Stats.partialCorrelation(s, d)),
    "gini2_best_split"     -> ((s, d) => graft.operators.Stats.bestGiniSplit(s, d)),
    "maha1_mahalanobis"    -> ((s, d) => graft.operators.Stats.mahalanobisOutliers(s, d)),
    "lev1_brown_forsythe"  -> ((s, d) => graft.operators.Stats.brownForsythe(s, d)),
    "an1_analyze_stats"    -> ((s, d) => graft.operators.Quality.analyzeStats(s, d)),
    "cs2_cramers_v"        -> ((s, d) => Relational.cramersV(s, d)),
    "rbo1_rank_overlap"    -> ((s, d) => graft.operators.Quality.rboGate(s, d)),
    "us1_universe_sample"  -> ((s, d) => Relational.universeSample(s, d)),
    "ks1_length_ks"        -> ((s, d) => graft.operators.Quality.ksTwoSample(s, d)),
    "st14_stream_tx_sink"  -> ((s, d) => graft.streaming.TxSink.streamTxSinkGate(s, d)),
    "st15_state_ttl_cache" -> ((s, d) => graft.streaming.StateTtlCache.ttlCacheGate(s, d)),
    "aa1_edge_strength"    -> ((s, d) => graft.operators.Graph.edgeStrength(s, d)),
    "kc1_kcore_peel"       -> ((s, d) => graft.operators.Graph.kCorePeel(s, d)),
    "cdc1_chunk_dedup"     -> ((s, d) => Dedup.chunkDedup(s, d)),
    "mi1_mutual_information" -> ((s, d) => Relational.mutualInformation(s, d)),
    "j8_nullsafe_join"     -> ((s, d) => Relational.nullSafeJoin(s, d)),
    "l1_word_positions"    -> ((s, d) => TextAnalysis.wordPositions(s, d)),
    "set4_intersect_all"   -> ((s, d) => Relational.intersectAllNationKeys(s, d)),
    "set5_except_all"      -> ((s, d) => Relational.exceptAllNationKeys(s, d)),
    "st7_transform_with_state" -> ((s, d) =>
      graft.streaming.RunningStats.runningStatsGate(s, d)),
    "e3_json_typed"        -> ((s, d) => Relational.jsonTyped(s, d)),
    "m3_wav_header_info"   -> ((s, d) => Multimodal.wavHeaderRoundtrip(s, d)),
    "m4_image_decode_stats"-> ((s, d) => Multimodal.imageDecodeStats(s, d)),
    "m8_visual_dup_groups" -> ((s, d) => Multimodal.visualDupGroups(s, d)),
    "m9_resize_stats"      -> ((s, d) => Multimodal.resizeStats(s, d)),
    "m5_audio_decode_stats"-> ((s, d) => Multimodal.audioDecodeStats(s, d)),
    "v1_vector_stats"      -> ((s, d) => graft.operators.VectorOps.vectorStats(s, d)),
    "scd1_dimension_history" -> ((s, d) => Ingest.scd2Gate(s, d)),
    "w6_mom_growth"        -> ((s, d) => Relational.momRevenueGrowth(s, d)),
    "x9_corr_exact"        -> ((s, d) => Relational.quantityPriceCorr(s, d)),
    "k5_partition_replace" -> ((s, d) => Ingest.partitionReplaceGate(s, d)),
    "k6_compaction"        -> ((s, d) => Ingest.compactionGate(s, d)),
    "z1_zorder_layout"     -> ((s, d) => Ingest.zorderLayout(s, d)),
    "k7_v2_sink_roundtrip" -> ((s, d) => Ingest.v2SinkRoundtrip(s, d)),
    "k9_v2_agg_pushdown"   -> ((s, d) => Ingest.v2AggPushdown(s, d)),
    "k10_v2_topn_pushdown" -> ((s, d) => Ingest.v2TopNPushdown(s, d)),
    "k11_v2_runtime_filter" -> ((s, d) => Ingest.v2RuntimeFilter(s, d)),
    "k13_v2_reported_partitioning" -> ((s, d) => Ingest.v2PartitionedAgg(s, d)),
    "k14_v2_spj" -> ((s, d) => Ingest.v2StoragePartitionedJoin(s, d)),
    "k8_schema_evolution"  -> ((s, d) => graft.sources.FormatIO.schemaEvolutionGate(s, d)),
    "dp1_profile_events"   -> ((s, d) => graft.operators.Quality.profileEvents(s, d)),
    "dq1_expectations"     -> ((s, d) => graft.operators.Quality.expectationsEvents(s, d)),
    "sa2_stratified_sample"-> ((s, d) => TextAnalysis.stratifiedSample(s, d)),
    "v2_quantize_int8"     -> ((s, d) => graft.operators.VectorOps.quantizeInt8(s, d)),
    "v3_cluster_centroids" -> ((s, d) => graft.operators.VectorOps.clusterCentroids(s, d)),
    "rp1_random_projection"-> ((s, d) => graft.operators.VectorOps.randomProjection(s, d)),
    "fn1_event_funnel"     -> ((s, d) => graft.operators.Behavior.eventFunnel(s, d)),
    "ct1_cohort_retention" -> ((s, d) => graft.operators.Behavior.cohortRetention(s, d)),
    "pit1_pit_features"    -> ((s, d) => graft.operators.Behavior.pointInTimeFeatures(s, d)),
    "mk1_markov_transitions"-> ((s, d) => graft.operators.Behavior.markovTransitions(s, d)),
    "aj3_asof_native"      -> ((s, d) => Relational.asofNativePurchaseClick(s, d)),
    "aj4_asof_native_fwd"  -> ((s, d) => Relational.asofNativeNextPurchase(s, d)),
    "ss6_lsh_ann_checked"  -> ((s, d) => Similarity.lshAnnChecked(s, d)),
    "ss9_tx_ann_index"     -> ((s, d) => Similarity.txAnnIndexGate(s, d)),
    "ss7_projected_ann"    -> ((s, d) => Similarity.projectedAnn(s, d)),
    "tok1_encode_roundtrip"-> ((s, d) => TextAnalysis.encodeRoundtrip(s, d)),
    "cs1_chi_square"       -> ((s, d) => Relational.chiSquareIndependence(s, d)),
    "ols1_linear_fit"      -> ((s, d) => Relational.olsPriceOnQuantity(s, d)),
    "seg1_rfm_segments"    -> ((s, d) => graft.operators.Behavior.rfmSegments(s, d)),
    "w9_group_topk"        -> ((s, d) => Relational.topOrdersPerSegment(s, d)),
    "cp1_cusum_hourly"     -> ((s, d) => graft.operators.Quality.cusumHourly(s, d)),
    "ab1_ab_readout"       -> ((s, d) => graft.operators.Behavior.abTestReadout(s, d)),
    "gc1_growth_curve"     -> ((s, d) => graft.operators.Behavior.userGrowthCurve(s, d)),
    "rs1_fixed_sample"     -> ((s, d) => TextAnalysis.fixedSizeSample(s, d)),
    "t17_blocklist"        -> ((s, d) => TextAnalysis.blocklistStats(s, d)),
    "c8_curation_v4"       -> ((s, d) => TextAnalysis.curationV4(s, d)),
    "kan1_k_anonymity"     -> ((s, d) => graft.operators.Quality.kAnonymityAudit(s, d)),
    "dq3_ref_integrity"    -> ((s, d) => graft.operators.Quality.referentialIntegrity(s, d)),
    "c4_curation_v3"       -> ((s, d) => graft.operators.Curation.curationV3(s, d)),
    "c3_curation_v2"       -> ((s, d) => graft.operators.Curation.curationV2(s, d)),
    "ts3_seasonal_profile" -> ((s, d) => graft.operators.Quality.seasonalProfile(s, d)),
    "ewm1_ewma_hourly"     -> ((s, d) => graft.operators.Quality.ewmaHourly(s, d)),
    "ts4_rolling_forecast" -> ((s, d) => graft.operators.Quality.rollingForecast(s, d)),
    "acf1_autocorrelation" -> ((s, d) => graft.operators.Quality.autocorrelation(s, d)),
    "isl1_batch_sessions"  -> ((s, d) => graft.operators.Behavior.batchSessions(s, d)),
    "rcte1_batch_packing"  -> ((s, d) => graft.operators.Packing.orderBatchPacking(s, d)),
    "hh1_top_tokens_source"-> ((s, d) => TextAnalysis.topTokensPerSource(s, d)),
    "bp2_bpe_train"        -> ((s, d) => TextAnalysis.bpeTrain(s, d)),
    "v4_matryoshka_norms"  -> ((s, d) => graft.operators.VectorOps.matryoshkaNorms(s, d)),
    "lr1_score_calibration"-> ((s, d) => graft.operators.VectorOps.linearScoreCalibration(s, d)),
    "km1_kmeans"           -> ((s, d) => graft.operators.VectorOps.kmeansGate(s, d)),
    // rows-only (no SQL eigensolver); spec replays the identical
    // two-pass computation locally and matches scores exactly
    "pca1_top_component"   -> ((s, d) => graft.operators.VectorOps.pcaCertificate(s, d)),
    "vo1_kmeans_outliers"  -> ((s, d) => graft.operators.VectorOps.kmeansOutliers(s, d)),
    "nrm1_feature_scalers" -> ((s, d) => Relational.featureScalers(s, d)),
    "mx2_temperature_mix"  -> ((s, d) => TextAnalysis.temperatureMixture(s, d)),
    "mx3_mixture_sample"   -> ((s, d) => TextAnalysis.mixtureSample(s, d)),
    "dp2_psi_drift"        -> ((s, d) => graft.operators.Quality.psiDrift(s, d)),
    "od1_mad_outliers"     -> ((s, d) => graft.operators.Quality.madOutliers(s, d)),
    "cor1_corr_matrix"     -> ((s, d) => Relational.corrMatrix(s, d)),
    "fi1_frequent_pairs"   -> ((s, d) => Relational.frequentItemPairs(s, d)),
    "fi2_frequent_triples" -> ((s, d) => Relational.frequentItemTriples(s, d)),
    "q7_nation_volume"     -> ((s, d) => Relational.nationTradeVolume(s, d)),
    "q14_promo_share"      -> ((s, d) => Relational.promoRevenueShare(s, d)),
    "fh1_feature_hashing"  -> ((s, d) => TextAnalysis.featureHashing(s, d)),
    "w7_spend_quartiles"   -> ((s, d) => graft.operators.Behavior.spendQuartiles(s, d)),
    "t12_winnowing"        -> ((s, d) => TextAnalysis.winnowingFingerprints(s, d)),
    "dd7_editdist_pairs"   -> ((s, d) => Dedup.editDistancePairs(s, d)),
    "t10_tfidf"            -> ((s, d) => TextAnalysis.tfIdf(s, d)),
    "t11_top_bigrams"      -> ((s, d) => TextAnalysis.topBigrams(s, d)),
    "lm1_bigram_ppl"       -> ((s, d) => graft.operators.LanguageModel.bigramPerplexity(s, d)),
    "pmi1_collocations"    -> ((s, d) => TextAnalysis.pmiCollocations(s, d)),
    "lm2_trigram_backoff"  -> ((s, d) => graft.operators.LanguageModel.trigramBackoffPerplexity(s, d)),
    "pr1_pagerank"         -> ((s, d) => graft.operators.Graph.pageRank(s, d)),
    "hits1_hubs_authorities" -> ((s, d) => graft.operators.Graph.hitsScores(s, d)),
    "lp1_label_propagation" -> ((s, d) => graft.operators.Graph.labelPropagation(s, d)),
    "sp1_cheapest_routes"  -> ((s, d) => graft.operators.Graph.cheapestRoutes(s, d)),
    "tr1_textrank_keywords" -> ((s, d) => graft.operators.Graph.textRankKeywords(s, d)),
    "rl1_record_linkage"   -> ((s, d) => Dedup.recordLinkage(s, d)),
    "st16_stream_outer_join" -> ((s, d) => graft.streaming.StreamJoins.attributionOuterGate(s, d)),
    "ws1_weighted_sample"  -> ((s, d) => TextAnalysis.weightedSample(s, d)),
    "div1_ngram_diversity" -> ((s, d) => TextAnalysis.ngramDiversity(s, d)),
    "dd12_ingest_dedup"    -> ((s, d) => Dedup.incrementalIngestDedup(s, d)),
    "dd16_incremental_neardup" -> ((s, d) => Dedup.incrementalNearDedup(s, d)),
    "dd13_containment"     -> ((s, d) => Dedup.containmentPairs(s, d)),
    "dd14_capped_coverage" -> ((s, d) => Dedup.containmentCoverage(s, d)),
    "dd15_cluster_canonical" -> ((s, d) => Dedup.clusterCanonical(s, d)),
    "tc1_triangle_stats"   -> ((s, d) => graft.operators.Graph.triangleStats(s, d)),
    "bfs1_seed_distances"  -> ((s, d) => graft.operators.Graph.bfsDistances(s, d)),
    "rsp1_repeated_spans"  -> ((s, d) => Dedup.repeatedSpans(s, d)),
    "ps1_phrase_search"    -> ((s, d) => TextAnalysis.phraseSearch(s, d)),
    "st11_incremental_upsert" -> ((s, d) =>
      graft.streaming.IncrementalUpsert.incrementalUpsertGate(s, d)),
    "eh1_equidepth_histogram" -> ((s, d) =>
      graft.operators.Quantiles.equiDepthHistogram(s, d)),
    "ij1_interval_join"    -> ((s, d) => Relational.intervalCountJoin(s, d)),
    "dp3_noised_counts"    -> ((s, d) => graft.operators.Quality.dpNoisedCounts(s, d)),
    "ss8_hybrid_rrf"       -> ((s, d) => Similarity.hybridRrfTopK(s, d)),
    "ns1_contrastive_sampling" -> ((s, d) => Similarity.contrastiveSampling(s, d)),
    "st10_streaming_hll"   -> ((s, d) => graft.streaming.StreamingSketch.streamingHourlyHll(s, d)),
    "wz1_winsorized_stats" -> ((s, d) => graft.operators.Quality.winsorizedStats(s, d)),
    "sa1_hash_sample"      -> ((s, d) => TextAnalysis.hashSample(s, d)),
    "sk3_aqe_skew_join"    -> ((s, d) => Skew.aqeSkewJoin(s, d)),
    "sk2_salted_join"      -> ((s, d) => {
      val e = graft.Tables.events(s, d).select(col("event_id"), col("event_type"))
      val dim = graft.Tables.events(s, d).select(col("event_type").as("t2"))
        .distinct().withColumn("code_str", org.apache.spark.sql.functions.upper(col("t2")))
      Skew.saltedJoin(e, dim, "event_type", "t2")
        .groupBy(col("code_str"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .orderBy(col("code_str"))
    }),
    "st8_stream_dedup"     -> ((s, d) =>
      graft.streaming.StreamJoins.dedupStreamGate(s, d)),
    // ---- round-4 widening: corpus curation at the span/benchmark level ----
    "dc1_decontamination"  -> ((s, d) => graft.operators.Decontamination.ngramOverlap(s, d)),
    "dd8_segment_dedup"    -> ((s, d) => Dedup.segmentDedup(s, d)),
    "t13_repetition_stats" -> ((s, d) => TextAnalysis.repetitionStats(s, d)),
    "pk1_sequence_pack"    -> ((s, d) => graft.operators.Packing.chunkedTokenStream(s, d)),
    // ---- round-4 widening: relational surface ----
    "p2_unpivot"           -> ((s, d) => Relational.unpivotPartMetrics(s, d)),
    "f7_map_functions"     -> ((s, d) => Relational.mapTypeCounts(s, d)),
    "ts2_interpolate"      -> ((s, d) => Relational.interpolateHourly(s, d)),
    "x10_mode_quantity"    -> ((s, d) => Relational.modeQuantityPerFlag(s, d)),
    "x11_hll_users"        -> ((s, d) => Relational.hllDistinctUsers(s, d)),
    "x12_hll_setops"       -> ((s, d) => Relational.hllSetOps(s, d)),
    "bl1_bloom_join"       -> ((s, d) => Relational.bloomPrunedJoin(s, d)),
    // rows-only by contract (approximate by construction; recall vs the
    // exact brute-force path is bounded in SimilaritySpec)
    "ss4_pq_search"        -> ((s, d) => Similarity.pqSearch(s, d)),
    "m6_frame_sample"      -> ((s, d) => Multimodal.frameSampleStats(s, d)),
    "mx1_source_mixture"   -> ((s, d) => TextAnalysis.sourceMixture(s, d)),
    "bp1_bpe_pairs"        -> ((s, d) => TextAnalysis.bpePairCounts(s, d)),
    "dc2_contaminated_spans" -> ((s, d) => graft.operators.Decontamination.contaminatedSpans(s, d)),
    // rows-only by contract (cluster training not SQL-expressible;
    // kept/dropped invariants checked in DedupSpec)
    "dd9_semdedup"         -> ((s, d) => Dedup.semDedup(s, d)),
    "aj2_asof_next_purchase" -> ((s, d) => Relational.asofNextPurchase(s, d)),
    "st12_stream_static_anti" -> ((s, d) =>
      graft.streaming.StreamJoins.streamStaticAntiGate(s, d)),
    "st13_v2_stream_source" -> ((s, d) =>
      graft.streaming.V2StreamSource.v2StreamGate(s, d)),
    "st9_stream_static_join" -> ((s, d) => graft.streaming.StreamJoins.streamStaticGate(s, d)),
    "dd10_jw_fuzzy_pairs"  -> ((s, d) => Dedup.jaroWinklerPairs(s, d)),
    "t14_vocab_encode"     -> ((s, d) => TextAnalysis.vocabEncode(s, d)),
    "t15_nfc_normalize"    -> ((s, d) => TextAnalysis.nfcNormalizeGate(s, d)),
    // hash-checked against a spec-pinned constant table (DuckDB has no
    // DEFLATE): expected per-lang profiles were generated ONCE by an
    // independent zlib implementation (CPython zlib, level 1, raw
    // stream — cross-checked byte-identical to the JDK Deflater the
    // kernel uses) and keyed by corpus byte totals; see oracleSql.
    "t16_compress_profile" -> ((s, d) => TextAnalysis.compressionProfile(s, d)),
    "m7_audio_windows"     -> ((s, d) => Multimodal.audioWindowStats(s, d)),
    "c2_adaptive_filter"   -> ((s, d) => graft.operators.Curation.adaptiveQualityFilter(s, d)),
    "u1_domain_stats"      -> ((s, d) => graft.operators.Curation.domainStats(s, d)),
    "u2_domain_cap"        -> ((s, d) => graft.operators.Curation.domainCap(s, d)),
    "dd11_ppjoin_jaccard"  -> ((s, d) => Dedup.ppjoinJaccardPairs(s, d)),
    "ss5_bm25_topk"        -> ((s, d) => Similarity.bm25TopK(s, d)),
    "pk2_packed_chunks"    -> ((s, d) => graft.operators.Packing.materializedChunks(s, d)),
    "ch1_doc_chunks"       -> ((s, d) => graft.operators.Packing.overlappingChunks(s, d)),
    "dq2_hourly_anomalies" -> ((s, d) => graft.operators.Quality.hourlyAnomalies(s, d)),
    "ivm1_incremental_agg" -> ((s, d) => Ingest.incrementalAggMaintenance(s, d)),
    // ---- round-8c: the 11 remaining TPC-H shapes (all 22 now gated) ----
    "q2_min_cost_supplier"  -> ((s, d) => graft.operators.Tpch.minCostSupplier(s, d)),
    "q4_priority_exists"    -> ((s, d) => graft.operators.Tpch.priorityExists(s, d)),
    "q8_market_share"       -> ((s, d) => graft.operators.Tpch.marketShare(s, d)),
    "q9_product_profit"     -> ((s, d) => graft.operators.Tpch.productProfit(s, d)),
    "q11_important_stock"   -> ((s, d) => graft.operators.Tpch.importantStock(s, d)),
    "q12_priority_lines"    -> ((s, d) => graft.operators.Tpch.priorityLines(s, d)),
    "q15_top_supplier"      -> ((s, d) => graft.operators.Tpch.topSupplier(s, d)),
    "q16_supplier_variety"  -> ((s, d) => graft.operators.Tpch.supplierVariety(s, d)),
    "q17_small_qty_revenue" -> ((s, d) => graft.operators.Tpch.smallQtyRevenue(s, d)),
    "q20_excess_stock"      -> ((s, d) => graft.operators.Tpch.excessStockSuppliers(s, d)),
    "q21_waiting_suppliers" -> ((s, d) => graft.operators.Tpch.waitingSuppliers(s, d)),
    // ---- round-8c: statistical inference / diagnostics family ----
    "wt1_welch_ttest"       -> ((s, d) => graft.operators.Stats.welchTTest(s, d)),
    "mw1_mann_whitney"      -> ((s, d) => graft.operators.Stats.mannWhitneyU(s, d)),
    "woe1_weight_of_evidence" -> ((s, d) => graft.operators.Stats.weightOfEvidence(s, d)),
    "xc1_lagged_xcorr"      -> ((s, d) => graft.operators.Stats.laggedCrossCorrelation(s, d)),
    "hw1_holt_linear"       -> ((s, d) => graft.operators.Stats.holtLinearTrend(s, d)),
    "ga1_degree_assortativity" -> ((s, d) => graft.operators.Stats.degreeAssortativity(s, d)),
    "ar1_association_rules" -> ((s, d) => graft.operators.Stats.associationRules(s, d)),
    // ---- round-8d: trend/survival/forensic diagnostics + path mining ----
    "mkt1_mann_kendall"     -> ((s, d) => graft.operators.Stats.mannKendallTrend(s, d)),
    "dv1_delete_vectors"    -> ((s, d) => graft.operators.Ingest.txDeleteVectorGate(s, d)),
    "dv2_mor_update"        -> ((s, d) => graft.operators.Ingest.txUpdateVectorGate(s, d)),
    "anova1_event_values"   -> ((s, d) => graft.operators.Stats.anovaOneWay(s, d)),
    "ben1_benford_digits"   -> ((s, d) => graft.operators.Quality.benfordDigits(s, d)),
    "sur1_kaplan_meier"     -> ((s, d) => graft.operators.Behavior.kaplanMeier(s, d)),
    "path1_session_paths"   -> ((s, d) => graft.operators.Behavior.sessionPaths(s, d)),
    "edr1_embedding_drift"  -> ((s, d) => graft.operators.VectorOps.embeddingDrift(s, d)),
    "ltv1_cohort_ltv"       -> ((s, d) => graft.operators.Behavior.cohortLtv(s, d)),
    "wfn1_windowed_conversion" -> ((s, d) => graft.operators.Behavior.windowedConversion(s, d)),
    "dd17_winnow_pairs"     -> ((s, d) => graft.operators.Dedup.winnowDupPairs(s, d)),
    "vj1_vocab_overlap"     -> ((s, d) => graft.operators.TextAnalysis.vocabOverlap(s, d)),
    "spear1_spearman_corr"  -> ((s, d) => graft.operators.Stats.spearmanCorr(s, d)),
    "cpd1_changepoint"      -> ((s, d) => graft.operators.Quality.changepointHourly(s, d)),
    "stl1_classical_decomp" -> ((s, d) => graft.operators.Quality.classicalDecomposition(s, d)),
    "nb1_naive_bayes"       -> ((s, d) => graft.operators.LanguageModel.naiveBayesConfusion(s, d)),
    // ---- round-9 late widening: data-selection / calibration ----
    "ksel1_kcenter_coreset" -> ((s, d) => Similarity.kcenterCoreset(s, d)),
    "mmr1_diversified_rerank" -> ((s, d) => Similarity.mmrRerank(s, d)),
    "dsir1_importance_weights" -> ((s, d) => TextAnalysis.dsirWeights(s, d)),
    "iso1_isotonic_calibration" -> ((s, d) => graft.operators.Stats.isotonicCalibration(s, d)),
    "rl2_multipass_linkage" -> ((s, d) => graft.operators.Dedup.recordLinkageMultiPass(s, d)),
    "ivm2_incremental_join" -> ((s, d) => Ingest.incrementalJoinView(s, d)),
    "ppr1_personalized_pagerank" -> ((s, d) => graft.operators.Graph.personalizedPageRank(s, d)),
    "gnn1_neighbor_agg" -> ((s, d) => graft.operators.Graph.gnnNeighborAgg(s, d)),
    "conf1_conformal_coverage" -> ((s, d) => graft.operators.Stats.conformalCalibration(s, d)),
    "seq1_frequent_subsequences" -> ((s, d) => graft.operators.Behavior.frequentSubsequences(s, d)),
    "vg1_vocab_growth" -> ((s, d) => TextAnalysis.vocabGrowth(s, d)),
    "ov1_max_concurrency" -> ((s, d) => Relational.maxConcurrency(s, d)),
    "att2_markov_attribution" -> ((s, d) => graft.operators.Behavior.markovAttribution(s, d)),
    "ari1_cluster_agreement" -> ((s, d) => graft.operators.Quality.adjustedRandIndex(s, d)),
  )

  // ---- oracle SQL fragments shared across queries (kept in one place
  // so Spark-side constants and SQL-side literals cannot drift) ----

  /** att2's oracle: the full journey→transition-count pipeline, then a
    * GENERATED quantized power-iteration chain (pr1's discipline:
    * contributions round(p·n/tot·1e12) summed as exact BIGINTs) for
    * the full matrix and each channel-removed variant. Channels are
    * the events taxonomy minus purchase, sorted — must match what the
    * Spark side discovers.
    */
  private def att2Oracle: String = {
    val channels = Seq("click", "error", "signup", "view")
    val k = 20
    def chain(v: String, tcRef: String): String = {
      val its = (1 to k).map { i =>
        s"""p_${v}_$i AS MATERIALIZED (SELECT t.dst AS state,
           |  CAST(sum(CAST(round(p.p * t.n / t.tot * 1000000000000.0) AS BIGINT)) AS BIGINT)
           |    / 1000000000000.0 AS p
           |  FROM p_${v}_${i - 1} p JOIN $tcRef t ON p.state = t.src GROUP BY t.dst)"""
          .stripMargin
      }
      (s"p_${v}_0 AS MATERIALIZED (SELECT 'START' AS state, 1.0 AS p)" +: its).mkString(",\n") +
        s",\ncv_$v AS MATERIALIZED (SELECT coalesce((SELECT p FROM p_${v}_$k WHERE state = 'CONV'), 0.0) AS cp)"
    }
    val removedTcs = channels.map { c =>
      s"""tc_$c AS MATERIALIZED (SELECT src, CASE WHEN dst = '$c' THEN 'NULL' ELSE dst END AS dst,
         |  CAST(sum(n) AS BIGINT) AS n, tot
         |  FROM tc WHERE src <> '$c' GROUP BY 1, 2, tot)""".stripMargin
    }
    val chains = chain("f", "tc") +: channels.map(c => chain(c, s"tc_$c"))
    val effRows = channels.map(c =>
      s"SELECT '$c' AS channel, (SELECT cp FROM cv_$c) AS cr").mkString("\n  UNION ALL ")
    s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us
       |  FROM events WHERE event_type IS NOT NULL),
       |rns AS (SELECT user_id, event_id, event_type, us,
       |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn FROM ev),
       |fp AS (SELECT user_id, min(rn) AS pr FROM rns WHERE event_type = 'purchase' GROUP BY 1),
       |cut AS (SELECT r.user_id, r.us, r.event_id,
       |    CASE WHEN r.event_type = 'purchase' THEN 'CONV' ELSE r.event_type END AS state,
       |    fp.pr
       |  FROM rns r LEFT JOIN fp USING (user_id)
       |  WHERE fp.pr IS NULL OR r.rn <= fp.pr),
       |lg AS (SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
       |  FROM cut),
       |cl AS (SELECT user_id, us, event_id, state, pr FROM lg
       |  WHERE prev IS NULL OR prev <> state),
       |cl2 AS (SELECT *, coalesce(lag(state) OVER (PARTITION BY user_id ORDER BY us, event_id),
       |    'START') AS src FROM cl),
       |term AS (SELECT state AS src, 'NULL' AS dst FROM (
       |    SELECT state, row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rr
       |    FROM cl2 WHERE pr IS NULL) WHERE rr = 1),
       |tc0 AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT src, state AS dst FROM cl2 UNION ALL SELECT src, dst FROM term)
       |  GROUP BY 1, 2),
       |tc1 AS MATERIALIZED (SELECT * FROM tc0
       |  UNION ALL SELECT 'CONV', 'CONV', CAST(1 AS BIGINT)
       |  UNION ALL SELECT 'NULL', 'NULL', CAST(1 AS BIGINT)),
       |tc AS MATERIALIZED (SELECT src, dst, n, CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS tot FROM tc1),
       |${removedTcs.mkString(",\n")},
       |${chains.mkString(",\n")},
       |eff AS MATERIALIZED (${effRows}),
       |effq AS MATERIALIZED (SELECT channel, cr,
       |    CAST(round(1.0 - cr / (SELECT cp FROM cv_f), 12) AS DECIMAL(38,12)) AS eff FROM eff),
       |tot AS MATERIALIZED (SELECT CAST(sum(eff) AS DECIMAL(38,12)) AS t FROM effq)
       |SELECT channel,
       |  round((SELECT cp FROM cv_f), 6) AS conv_full,
       |  round(cr, 6) AS conv_removed,
       |  round(CAST(eff AS DOUBLE), 6) AS removal_effect,
       |  round(CAST(eff AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
       |FROM effq, tot ORDER BY channel""".stripMargin
  }

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString(", ")

  /** Left-fold sum over a DOUBLE list — mirrors Spark's `aggregate`
    * (sequential left fold) rather than DuckDB's list_sum, whose
    * accumulation order is unspecified.
    */
  private def foldSum(l: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $l), (a, b) -> a + b)"

  private def foldDot(a: String, b: String): String =
    foldSum(s"list_transform(list_zip($a, $b), p -> p[1] * p[2])")

  private def foldCosine(a: String, b: String): String =
    s"${foldDot(a, b)} / (sqrt(${foldSum(s"list_transform($a, x -> x*x)")}) * " +
      s"sqrt(${foldSum(s"list_transform($b, x -> x*x)")}))"

  /** The quantized-Lloyd IVF replay shared by ss3 and dd9: first-nl
    * seeding (c0) where nl = greatest(16, ceil(count/4096)) — the SAME
    * corpus-derived cluster count the engine computes
    * (Similarity.derivedNLists, r12 verdict item #6; 16 at every test
    * SF, so hashes are unchanged) — TWO decimal-mean sweeps (a1/c1,
    * a2/c2 — DECIMAL(25,10) sums, km1's order-invariant trick), final
    * assignment (a3), every argmin tie-broken on the list id.
    * Distances use the same -2·v·c + ‖c‖² surrogate and left-to-right
    * folds as the Spark plan. Returned ALREADY margin-stripped (the
    * callers append their own stripMargin'd tails).
    */
  private def ivfLloydChainSql: String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |nl AS (SELECT greatest(16, (count(*) + 4095) // 4096) AS nl FROM e),
       |c0 AS (SELECT CAST(vec_id AS INT) AS i, v AS c FROM e
       |  WHERE vec_id < (SELECT nl FROM nl)),
       |a1 AS (SELECT vec_id, v, i AS list_id FROM (
       |  SELECT e.vec_id, e.v, c.i,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      (-2.0 * ${foldDot("e.v", "c.c")} + ${foldSum("list_transform(c.c, x -> x*x)")}), c.i) AS rk
       |  FROM e CROSS JOIN c0 c) WHERE rk = 1),
       |c1 AS (SELECT p.i, COALESCE(nm.nc, p.c) AS c FROM c0 p
       |  LEFT JOIN (SELECT list_id AS i, list(mv ORDER BY dim) AS nc FROM (
       |      SELECT list_id, d AS dim,
       |        CAST(sum(CAST(round(v[d+1], 10) AS DECIMAL(25,10))) AS DOUBLE)
       |          / count(*) AS mv
       |      FROM a1, unnest(range(0,64)) AS t(d) GROUP BY list_id, d) m
       |    GROUP BY list_id) nm ON nm.i = p.i),
       |a2 AS (SELECT vec_id, v, i AS list_id FROM (
       |  SELECT e.vec_id, e.v, c.i,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      (-2.0 * ${foldDot("e.v", "c.c")} + ${foldSum("list_transform(c.c, x -> x*x)")}), c.i) AS rk
       |  FROM e CROSS JOIN c1 c) WHERE rk = 1),
       |c2 AS (SELECT p.i, COALESCE(nm.nc, p.c) AS c FROM c1 p
       |  LEFT JOIN (SELECT list_id AS i, list(mv ORDER BY dim) AS nc FROM (
       |      SELECT list_id, d AS dim,
       |        CAST(sum(CAST(round(v[d+1], 10) AS DECIMAL(25,10))) AS DOUBLE)
       |          / count(*) AS mv
       |      FROM a2, unnest(range(0,64)) AS t(d) GROUP BY list_id, d) m
       |    GROUP BY list_id) nm ON nm.i = p.i),
       |a3 AS (SELECT vec_id, v, i AS list_id FROM (
       |  SELECT e.vec_id, e.v, c.i,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      (-2.0 * ${foldDot("e.v", "c.c")} + ${foldSum("list_transform(c.c, x -> x*x)")}), c.i) AS rk
       |  FROM e CROSS JOIN c2 c) WHERE rk = 1)""".stripMargin

  /** Shared by sprt1 (batch walk) and st19 (streaming-state walk):
    * the Wald SPRT restated over per-variant windows. */
  private val SprtOracleSql: String =

      """WITH e AS (SELECT user_id % 4 AS variant, ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS succ
        |  FROM events),
        |c AS (SELECT variant, event_id, succ,
        |    row_number() OVER w AS i, sum(succ) OVER w AS s
        |  FROM e WINDOW w AS (PARTITION BY variant ORDER BY ts, event_id)),
        |l AS (SELECT variant, i, s, succ,
        |    CAST(s AS DECIMAL(28,6)) * 0.510826
        |      + CAST(i - s AS DECIMAL(28,6)) * (-0.125163) AS llr
        |  FROM c),
        |x AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(succ) AS BIGINT) AS n_success,
        |    min(CASE WHEN llr >= 2.944439 OR llr <= -2.944439 THEN i END)
        |      AS cross_i
        |  FROM l GROUP BY 1)
        |SELECT x.variant, n_events, n_success,
        |  CASE WHEN cross_i IS NULL THEN 'continue'
        |       WHEN (SELECT max(llr) FROM l
        |             WHERE l.variant = x.variant AND l.i = x.cross_i)
        |            >= 2.944439 THEN 'accept_h1'
        |       ELSE 'accept_h0' END AS decision,
        |  CAST(COALESCE(cross_i, 0) AS BIGINT) AS crossed_at,
        |  round(CAST(CAST(n_success AS DECIMAL(28,6)) * 0.510826
        |    + CAST(n_events - n_success AS DECIMAL(28,6)) * (-0.125163)
        |    AS DOUBLE), 6) AS final_llr
        |FROM x ORDER BY variant""".stripMargin

  /** rbo1's oracle: weight constants generated from the SAME
    * BigDecimal math the Spark plan embeds ([[graft.operators.Quality
    * .rboWeights]]), so the two engines consume identical decimals.
    */
  private def rboOracle(k: Int = 20): String = {
    val vals = graft.operators.Quality.rboWeights(k)
      .map { case (d, w) => s"($d, CAST('${w.toPlainString}' AS DECIMAL(14,12)))" }
      .mkString(", ")
    s"""WITH o AS (SELECT o_custkey AS key,
       |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
       |g AS (SELECT key, CAST(sum(cents) AS BIGINT) AS spend,
       |    CAST(count(*) AS BIGINT) AS n FROM o GROUP BY 1),
       |ta AS (SELECT key, row_number() OVER (ORDER BY spend DESC, key) AS ra
       |  FROM g QUALIFY ra <= $k),
       |tb AS (SELECT key, row_number() OVER (ORDER BY n DESC, key) AS rb
       |  FROM g QUALIFY rb <= $k),
       |m AS (SELECT greatest(ra, rb) AS mx FROM ta JOIN tb USING (key)),
       |w(d, wt) AS (VALUES $vals),
       |ov AS (SELECT d, wt,
       |    (SELECT count(*) FROM m WHERE mx <= d) AS overlap FROM w),
       |t AS (SELECT sum(CAST(round(CAST(wt AS DOUBLE) * overlap / d, 12)
       |      AS DECIMAL(20,12))) AS s,
       |    max(CASE WHEN d = $k THEN overlap END) AS ov_k FROM ov)
       |SELECT 'spend' AS metric_a, 'order_count' AS metric_b,
       |  CAST(ov_k AS BIGINT) AS overlap_at_20,
       |  round(0.1 * CAST(s AS DOUBLE), 9) AS rbo
       |FROM t""".stripMargin
  }

  /** Full replay of the Gonzalez greedy (Similarity.kcenterCoreset):
    * the k−1 argmax/relax rounds unroll into a generated CTE chain —
    * each round picks the rounded-cosine-distance argmax (tie:
    * vec_id) and folds the min-distance column with `least`, exactly
    * the Spark loop's algebra. */
  private def kcenterOracle(k: Int, seedId: Long): String = {
    def dist(v: String, s: String) = s"round(1.0 - (${foldCosine(v, s)}), 6)"
    val ctes = collection.mutable.ListBuffer(
      "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
      s"d0 AS (SELECT e.vec_id, ${dist("e.v", "s.v")} AS md FROM e " +
        s"CROSS JOIN (SELECT v FROM e WHERE vec_id = $seedId) s)")
    val sels = collection.mutable.ListBuffer[String]()
    for (t <- 1 until k) {
      ctes += s"p$t AS (SELECT vec_id AS c, md AS r FROM d${t - 1} " +
        "ORDER BY md DESC, vec_id ASC LIMIT 1)"
      sels += s"SELECT $t AS sel_round, c AS center_id, r AS radius FROM p$t"
      ctes += s"d$t AS (SELECT e.vec_id, least(d${t - 1}.md, " +
        s"${dist("e.v", "s.v")}) AS md " +
        s"FROM e JOIN d${t - 1} ON e.vec_id = d${t - 1}.vec_id " +
        s"CROSS JOIN (SELECT e2.v FROM e e2 JOIN p$t ON e2.vec_id = p$t.c) s)"
    }
    sels += s"SELECT $k AS sel_round, CAST(-1 AS BIGINT) AS center_id, " +
      s"(SELECT max(md) FROM d${k - 1}) AS radius"
    ctes.mkString("WITH ", ",\n", "") +
      "\nSELECT CAST(sel_round AS INT) AS sel_round, " +
      "CAST(center_id AS BIGINT) AS center_id, radius FROM (" +
      sels.mkString(" UNION ALL ") + ") ORDER BY sel_round"
  }

  /** Full replay of the MMR greedy (Similarity.mmrRerank): candidate
    * top-`pool` by rounded relevance, then k−1 generated selection
    * CTEs, each re-scoring the un-selected pool by
    * round(λ·rel − (1−λ)·maxsim, 6) against the union of prior picks. */
  private def mmrOracle(nq: Int, pool: Int, k: Int, lambda: Double): String = {
    val head =
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nq),
         |s AS (SELECT query_id, e.vec_id, e.v, round(${foldCosine("qv", "e.v")}, 6) AS rel
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |cand AS (SELECT query_id, vec_id, v, rel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id ASC) AS rk FROM s)
         |  WHERE rk <= $pool),
         |sims AS (SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
         |    round(${foldCosine("a.v", "b.v")}, 6) AS sim
         |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
         |sel1 AS (SELECT query_id, vec_id, rel, CAST(1 AS INT) AS step, rel AS mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id ASC) AS rk FROM cand)
         |  WHERE rk = 1)""".stripMargin
    val parts = collection.mutable.ListBuffer(head)
    var prevUnion = "SELECT query_id, vec_id FROM sel1"
    for (t <- 2 to k) {
      parts +=
        s"""selall${t - 1} AS ($prevUnion),
           |st$t AS (SELECT c.query_id, c.vec_id, c.rel,
           |    round($lambda*c.rel - ${1.0 - lambda}*max(s.sim), 6) AS mmr
           |  FROM cand c
           |  JOIN sims s ON s.query_id = c.query_id AND s.a = c.vec_id
           |  JOIN selall${t - 1} p ON p.query_id = s.query_id AND p.vec_id = s.b
           |  WHERE NOT EXISTS (SELECT 1 FROM selall${t - 1} x
           |    WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
           |  GROUP BY 1, 2, 3),
           |sel$t AS (SELECT query_id, vec_id, rel, CAST($t AS INT) AS step, mmr FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, vec_id ASC) AS rk FROM st$t)
           |  WHERE rk = 1)""".stripMargin
      prevUnion += s" UNION ALL SELECT query_id, vec_id FROM sel$t"
    }
    parts.mkString(",\n") +
      "\nSELECT query_id, step, vec_id AS selected_id, rel, mmr FROM (" +
      (1 to k).map(t => s"SELECT * FROM sel$t").mkString(" UNION ALL ") +
      ") ORDER BY query_id, step"
  }

  /** Full replay of the two-stage projected-ANN recall pipeline
    * (Similarity.annRecallAtK): exact top-k, md5-sign 16-dim
    * projection, coarse top-`cand` by projected cosine, exact re-rank
    * to top-k, recall vs the exact set. Parameterized so rec1 (5
    * queries, k=5) and rec2 (20 queries, k=10, 50 candidates) share
    * one definition — the projection table is corpus-sized either
    * way, so the wide gate costs the oracle almost nothing extra.
    */
  private def annRecallOracle(nq: Int, cand: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |qx AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nq),
       |sx AS (SELECT query_id, e.vec_id,
       |    round(${foldCosine("qv", "e.v")}, 6) AS score
       |  FROM qx JOIN e ON e.vec_id <> qx.query_id),
       |ex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, vec_id ASC) AS rank FROM sx)
       |  WHERE rank <= $k),
       |pr AS (SELECT vec_id, list(value ORDER BY out_dim) AS p FROM (
       |  SELECT vec_id, CAST(j AS INT) AS out_dim,
       |      round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(range(0,64), d ->
       |          CAST(e.v[d+1] AS DOUBLE)
       |          * (CASE WHEN md5(j||'_'||d)[1] < '8' THEN CAST(1.0 AS DOUBLE)
       |                  ELSE CAST(-1.0 AS DOUBLE) END))),
       |        (a,b) -> a + b) / 4.0, 6) AS value
       |    FROM e, unnest(range(0,16)) AS t(j)) GROUP BY vec_id),
       |qa AS (SELECT e.vec_id AS query_id, e.v AS qv, pr.p AS qp
       |  FROM e JOIN pr USING (vec_id) WHERE vec_id < $nq),
       |c AS (SELECT query_id, e.vec_id, qv, e.v,
       |    round(${foldCosine("qp", "pr.p")}, 6) AS pscore
       |  FROM qa JOIN pr ON pr.vec_id <> qa.query_id JOIN e ON e.vec_id = pr.vec_id),
       |cr AS (SELECT query_id, vec_id, qv, v,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY pscore DESC, vec_id ASC) AS crank FROM c),
       |f AS (SELECT query_id, vec_id,
       |    round(${foldCosine("qv", "v")}, 6) AS score
       |  FROM cr WHERE crank <= $cand),
       |ra AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, vec_id ASC) AS rank FROM f)
       |  WHERE rank <= $k),
       |h AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM ex JOIN ra USING (query_id, vec_id) GROUP BY 1)
       |SELECT q.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $k, 6) AS recall
       |FROM (SELECT DISTINCT query_id FROM ex) q
       |LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin

  /** Word 3-gram shingle CTEs over documents (mirrors Dedup.shingleArray:
    * distinct shingles; docs with <3 words contribute none).
    */
  /** Exact cross-split best-match semantics shared by dd16 (monolithic)
    * and c5 (composed through the TxTable seam).
    */
  private lazy val incrementalNearDupOracle: String =
    s"""$shingleCtes,
       |j AS (SELECT doc_a, doc_b,
       |    round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jac
       |  FROM inter
       |  JOIN sz sa ON sa.doc_id = doc_a
       |  JOIN sz sb ON sb.doc_id = doc_b
       |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.7),
       |p AS (SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS d,
       |    CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS b, jac
       |  FROM j WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)),
       |m AS (SELECT d, max(jac) AS jac FROM p GROUP BY d),
       |best AS (SELECT p.d, m.jac, min(p.b) AS matched_doc
       |  FROM p JOIN m ON p.d = m.d AND p.jac = m.jac GROUP BY p.d, m.jac)
       |SELECT dd.doc_id, best.matched_doc, best.jac AS jaccard,
       |  best.d IS NULL AS novel
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) dd
       |LEFT JOIN best ON dd.doc_id = best.d
       |ORDER BY doc_id""".stripMargin

  private val shingleCtes: String =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |  unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle FROM w),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Mirror of [[graft.operators.Dedup.jaccardPairsFrom]]: postings
    * df-capped via a count window (df in [2, cap]), `common` counted
    * from the capped posting join, sizes from the FULL shingle sets.
    */
  // df-capped CANDIDATE generation + exact full-set confirm: `inter`
  // (full posting intersection counts, from shingleCtes) restricted to
  // pairs that share at least one df-in-[2,cap] shingle — the same
  // two-phase semantics as Dedup.jaccardPairsFrom.
  private def cappedJaccardOracle(threshold: Double, dfCap: Int): String =
    s"""$shingleCtes,
       |capped AS (SELECT doc_id, shingle FROM (
       |    SELECT sh.*, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df BETWEEN 2 AND $dfCap),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped a JOIN capped b
       |  ON a.shingle = b.shingle AND a.doc_id < b.doc_id)
       |SELECT i.doc_a, i.doc_b,
       |  round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
       |FROM inter i
       |JOIN cand ON cand.doc_a = i.doc_a AND cand.doc_b = i.doc_b
       |JOIN sz sa ON sa.doc_id = i.doc_a
       |JOIN sz sb ON sb.doc_id = i.doc_b
       |WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= $threshold
       |ORDER BY i.doc_a, i.doc_b""".stripMargin

  private def jaccardOracle(threshold: Double): String =
    s"""$shingleCtes
       |SELECT doc_a, doc_b,
       |  round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
       |FROM inter
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** langid CTE body with prefixed names (composable into larger
    * queries without CTE-name collisions).
    */
  private def langidCtes(prefix: String): String = {
    val scoreCols = TextAnalysis.LangMarkers.map { case (lang, ms) =>
      s"len(list_filter(ws, x -> x IN (${sqlList(ms)}))) AS s_$lang"
    }.mkString(",\n  ")
    val best = TextAnalysis.LangMarkers.map(m => s"s_${m._1}").mkString("greatest(", ", ", ")")
    val cases = TextAnalysis.LangMarkers.map { case (lang, _) =>
      s"WHEN s_$lang > 0 AND s_$lang = $best THEN '$lang'"
    }.mkString("\n    ")
    s"""${prefix}w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws FROM documents),
       |${prefix}s AS (SELECT doc_id,
       |  $scoreCols
       |FROM ${prefix}w),
       |${prefix}pred AS (SELECT doc_id,
       |  CASE $cases ELSE 'und' END AS lang_pred
       |FROM ${prefix}s)""".stripMargin
  }

  private val langidOracle: String =
    s"""WITH ${langidCtes("l")}
       |SELECT doc_id, lang_pred FROM lpred ORDER BY doc_id""".stripMargin

  /** Capstone curation oracle: quality >= 20 words, exact-dedup keeper,
    * not the larger id of any near-dup pair (J >= 0.7), predicted 'en'.
    */
  private val curationOracle: String =
    s"""$shingleCtes,
       |losers AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM inter
       |  JOIN sz sa ON sa.doc_id = doc_a
       |  JOIN sz sb ON sb.doc_id = doc_b
       |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.7),
       |keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
       |${langidCtes("l")},
       |q AS (SELECT doc_id,
       |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_words FROM documents)
       |SELECT q.doc_id, CAST(q.n_words AS BIGINT) AS n_words
       |FROM q
       |WHERE q.n_words >= 20
       |  AND q.doc_id IN (SELECT doc_id FROM keepers)
       |  AND q.doc_id NOT IN (SELECT doc_id FROM losers)
       |  AND q.doc_id IN (SELECT doc_id FROM lpred WHERE lang_pred = 'en')
       |ORDER BY q.doc_id""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_discount AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "a1_count" -> "SELECT count(*) AS n_rows FROM lineitem",
    "a2_topk_recent" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY ts DESC, event_id ASC LIMIT 5""".stripMargin,
    "a3_grouped_max" ->
      """SELECT event_type, max(value) AS max_value FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a4_grouped_min" ->
      """SELECT event_type, min(value) AS min_value FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a5_minmax_meta" ->
      """SELECT event_type, min(value) AS min_value, max(value) AS max_value,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a7_filter_eq" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "j1_broadcast_segment_revenue" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "j2_shuffle_top_orders" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "j3_multijoin_nation_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, order_date, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300)
        |SELECT c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate,
        |  o.o_totalprice, big.total_qty
        |FROM big JOIN orders o ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "j4_semi_customers_with_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "j5_anti_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "j6_outer_order_counts" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "w1_rank_top_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "w2_running_revenue" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "set1_union_nationkeys" ->
      """SELECT nationkey FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |  UNION
        |  SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,
    "g1_rollup_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "h1_having_brand_price" ->
      """SELECT p_brand,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS n_parts
        |FROM part GROUP BY p_brand
        |HAVING CAST(sum(CAST(p_retailprice AS DECIMAL(30,2))) AS DOUBLE) / count(*) >
        |  (SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(30,2))) AS DOUBLE) / count(*) FROM part)
        |ORDER BY p_brand""".stripMargin,
    "sq1_orders_above_avg" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) / count(*)
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "f1_scalar_expressions" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(month(o_orderdate) AS INT) AS order_month,
        |  upper(o_orderpriority) AS priority_uc,
        |  substring(o_orderstatus, 1, 1) AS status_c,
        |  CASE WHEN o_totalprice > 1000 THEN 'big' ELSE 'small' END AS size_class,
        |  round(o_totalprice * 1.07, 2) AS price_with_tax,
        |  CAST(length(o_orderpriority) AS INT) AS prio_len
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "x2_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // x1/x4: the sketches' VALUES are engine-specific, but their error
    // CONTRACTS are not — the gates emit exact counts plus
    // |approx − exact| ≤ bound booleans, which the oracle states
    // exactly (the boolean being TRUE is the hash-checked claim).
    "x1_approx_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
        |  TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x4_approx_quantiles" ->
      """SELECT count(*) AS n, TRUE AS p50_in_bound, TRUE AS p90_in_bound,
        |  TRUE AS p99_in_bound FROM orders""".stripMargin,
    "k1_append_roundtrip" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,
    "d4_partition_prune" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-03'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "rk1_idempotent_overwrite" ->
      "SELECT count(*) AS n_rows FROM events",
    "d5_scheduled_backfill" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y%m%d') AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "k2_orc_roundtrip" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,
    // k16: the JDBC sink/source parity slice — the round-trip through
    // embedded Derby (auto-created table, partitioned JDBC read-back)
    // must equal the slice read straight from parquet.
    "k16_jdbc_roundtrip" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id % 20 = 0 ORDER BY event_id""".stripMargin,
    // rh1: the consolidated run-history view of the simulated fleet —
    // per day: one run, plus a failed-then-retried first day and a
    // re-ticked middle day (keys[size/2], 0-based → row m//2+1); the
    // latest attempt always succeeded and wrote the day's event count.
    "rh1_run_history" ->
      """WITH days AS (SELECT strftime(CAST(ts AS DATE), '%Y%m%d') AS day,
        |    count(*) AS n FROM events GROUP BY 1),
        |ord AS (SELECT day, n, row_number() OVER (ORDER BY day) AS r,
        |    count(*) OVER () AS m FROM days)
        |SELECT day,
        |  CAST(1 + (CASE WHEN r = 1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN r = (m // 2) + 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_runs,
        |  CAST(CASE WHEN r = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_failed,
        |  'SUCCESS' AS last_status,
        |  n AS rows_ok
        |FROM ord ORDER BY day""".stripMargin,
    // rh2: the streaming run history consolidated per day — the sum
    // of a day's per-batch attempt rows is the day's event count
    // however the micro-batches fall (the batch slicing is an
    // execution detail; the log's consolidation is exact).
    "rh2_stream_run_history" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y%m%d') AS day,
        |  CAST(count(*) AS BIGINT) AS rows_ingested,
        |  'SUCCESS' AS last_status
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "r1_reactive_meta" ->
      """SELECT event_type, min(value) AS min_value, max(value) AS max_value,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "st1_hourly_windows" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "st2_session_windows" ->
      """WITH e AS (
        |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events
        |), g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS new_sess FROM e
        |), s AS (
        |  SELECT user_id, ts, sum(new_sess) OVER (
        |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM g)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  user_id, count(*) AS n_events
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, session_start""".stripMargin,
    "t1_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenPattern}')) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_measured
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t2_quality_score" ->
      s"""WITH w AS (SELECT doc_id, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(length(text) AS DOUBLE) AS n_chars,
         |    CAST(len(ws) AS DOUBLE) AS n_words,
         |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS punct,
         |    CAST(len(list_filter(ws, x -> x IN (${sqlList(TextAnalysis.Stopwords)}))) AS DOUBLE) AS stop
         |  FROM w)
         |SELECT doc_id,
         |  CAST(n_chars AS BIGINT) AS n_chars_measured,
         |  CAST(n_words AS BIGINT) AS n_words,
         |  round(n_chars / n_words, 6) AS mean_word_len,
         |  round(punct / n_chars, 6) AS punct_ratio,
         |  round(stop / n_words, 6) AS stopword_ratio,
         |  round(least(n_words / 100.0, 1.0) * 0.5
         |    + least(stop / n_words * 5.0, 1.0) * 0.5, 6) AS quality
         |FROM m ORDER BY doc_id""".stripMargin,
    "t3_langid_markers" -> langidOracle,
    "t4_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (a, b) -> (a * 131 + b) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dd1_exact_dedup" ->
      """SELECT sha256(text) AS text_sha, min(doc_id) AS keep_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY keep_doc_id""".stripMargin,
    "dd2_minhash_lsh" -> jaccardOracle(0.7),
    // Round-6 capstone replay: group split + exact cross-split
    // Jaccard decontamination + length gate, per-source keeps.
    "c4_curation_v3" ->
      s"""$shingleCtes,
         |g AS (SELECT source, CASE
         |    WHEN substring(md5(source),1,1)
         |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
         |    WHEN substring(md5(source),1,1) IN ('c','d') THEN 'val'
         |    ELSE 'test' END AS split
         |  FROM (SELECT DISTINCT source FROM documents)),
         |d AS (SELECT doc_id, d0.source, n_chars, split
         |  FROM documents d0 JOIN g USING (source)),
         |j AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE round(CAST(common AS DOUBLE)/(sa.sz + sb.sz - common), 6) >= 0.7),
         |contaminated AS (
         |  SELECT da.doc_id FROM j
         |    JOIN d da ON da.doc_id = j.doc_a JOIN d db ON db.doc_id = j.doc_b
         |  WHERE da.split = 'train' AND db.split <> 'train'
         |  UNION
         |  SELECT db.doc_id FROM j
         |    JOIN d da ON da.doc_id = j.doc_a JOIN d db ON db.doc_id = j.doc_b
         |  WHERE db.split = 'train' AND da.split <> 'train')
         |SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
         |FROM d WHERE split = 'train' AND n_chars BETWEEN 120 AND 20000
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Exact cross-split Jaccard: the LSH path must find every
    // (delta, base) pair at J >= 0.7 or the hash check fails.
    "dd16_incremental_neardup" -> incrementalNearDupOracle,
    // c5 composes the SAME computation through the TxTable commit log,
    // changes feed and a persisted band-index table — same contract,
    // same exact oracle: the composition must reproduce the monolith.
    "c5_tx_incremental_dedup" -> incrementalNearDupOracle,
    // PPJoin computes the SAME exact pair set, df-cap-free — the oracle
    // is the plain uncapped full Jaccard.
    "dd11_ppjoin_jaccard" -> jaccardOracle(0.7),
    "dd4_ngram_jaccard" -> cappedJaccardOracle(0.5, 1000),
    "dd5_embedding_dup" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${foldCosine("a.v", "b.v")}, 6) AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE round(${foldCosine("a.v", "b.v")}, 6) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
    "ss7_projected_ann" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |pr AS (SELECT vec_id, list(value ORDER BY out_dim) AS p FROM (
         |  SELECT vec_id, CAST(j AS INT) AS out_dim,
         |      round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(0,64), d ->
         |          CAST(e.v[d+1] AS DOUBLE)
         |          * (CASE WHEN md5(j||'_'||d)[1] < '8' THEN CAST(1.0 AS DOUBLE)
         |                  ELSE CAST(-1.0 AS DOUBLE) END))),
         |        (a,b) -> a + b) / 4.0, 6) AS value
         |    FROM e, unnest(range(0,16)) AS t(j)) GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS query_id, e.v AS qv, pr.p AS qp
         |  FROM e JOIN pr USING (vec_id) WHERE vec_id < 5),
         |c AS (SELECT query_id, e.vec_id, qv, e.v,
         |    round(${foldCosine("qp", "pr.p")}, 6) AS pscore
         |  FROM q JOIN pr ON pr.vec_id <> q.query_id JOIN e ON e.vec_id = pr.vec_id),
         |cr AS (SELECT query_id, vec_id, qv, v,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY pscore DESC, vec_id ASC) AS crank FROM c),
         |f AS (SELECT query_id, vec_id,
         |    round(${foldCosine("qv", "v")}, 6) AS score
         |  FROM cr WHERE crank <= 20),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM f)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "tok1_encode_roundtrip" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |toks AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws) + 1), i -> ws[i])) AS word,
        |    unnest(range(1, len(ws) + 1)) AS pos
        |  FROM w),
        |v AS (SELECT word, row_number() OVER (ORDER BY count(*) DESC, word) AS id
        |  FROM toks GROUP BY word),
        |enc AS (SELECT doc_id, pos, v.id FROM toks JOIN v USING (word)
        |  WHERE doc_id < 50),
        |dec AS (SELECT enc.doc_id, string_agg(v2.word, ' ' ORDER BY enc.pos) AS decoded
        |  FROM enc JOIN v v2 ON enc.id = v2.id GROUP BY enc.doc_id),
        |orig AS (SELECT doc_id,
        |    array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ') AS normalized
        |  FROM documents WHERE doc_id < 50)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN decoded = normalized THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok
        |FROM orig JOIN dec USING (doc_id)""".stripMargin,
    // Full PQ/ADC replay (ss4, upgraded from rows-only in round 9):
    // first-16 subvector seeding, TWO decimal-mean Lloyd sweeps per
    // subspace, encode, ADC candidate ranking with per-subspace terms
    // folded in subspace order, exact re-rank of the 30 survivors.
    // Same surrogate (‖c‖² − 2·x·c, ties on code id) and fold orders
    // as the Spark plan; fuzz-matched against a local replay.
    "ss4_pq_search" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |sub AS (SELECT vec_id, CAST(t.m AS INT) AS m,
         |    list_slice(v, t.m*8+1, t.m*8+8) AS sv
         |  FROM e, unnest(range(0,8)) AS t(m)),
         |cb0 AS (SELECT m, CAST(vec_id AS INT) AS ki, sv AS c FROM sub WHERE vec_id < 16),
         |pa1 AS (SELECT vec_id, m, sv, ki AS code FROM (
         |  SELECT s.vec_id, s.m, s.sv, c.ki,
         |    row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |      (${foldSum("list_transform(c.c, x -> x*x)")} - 2.0 * ${foldDot("s.sv", "c.c")}), c.ki) AS rk
         |  FROM sub s JOIN cb0 c ON c.m = s.m) WHERE rk = 1),
         |cb1 AS (SELECT p.m, p.ki, COALESCE(nm.nc, p.c) AS c FROM cb0 p
         |  LEFT JOIN (SELECT m, code AS ki, list(mv ORDER BY dim) AS nc FROM (
         |      SELECT m, code, d AS dim,
         |        CAST(sum(CAST(round(sv[d+1], 10) AS DECIMAL(25,10))) AS DOUBLE)
         |          / count(*) AS mv
         |      FROM pa1, unnest(range(0,8)) AS t(d) GROUP BY m, code, d) x
         |    GROUP BY m, ki) nm ON nm.m = p.m AND nm.ki = p.ki),
         |pa2 AS (SELECT vec_id, m, sv, ki AS code FROM (
         |  SELECT s.vec_id, s.m, s.sv, c.ki,
         |    row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |      (${foldSum("list_transform(c.c, x -> x*x)")} - 2.0 * ${foldDot("s.sv", "c.c")}), c.ki) AS rk
         |  FROM sub s JOIN cb1 c ON c.m = s.m) WHERE rk = 1),
         |cb2 AS (SELECT p.m, p.ki, COALESCE(nm.nc, p.c) AS c FROM cb1 p
         |  LEFT JOIN (SELECT m, code AS ki, list(mv ORDER BY dim) AS nc FROM (
         |      SELECT m, code, d AS dim,
         |        CAST(sum(CAST(round(sv[d+1], 10) AS DECIMAL(25,10))) AS DOUBLE)
         |          / count(*) AS mv
         |      FROM pa2, unnest(range(0,8)) AS t(d) GROUP BY m, code, d) x
         |    GROUP BY m, ki) nm ON nm.m = p.m AND nm.ki = p.ki),
         |pa3 AS (SELECT vec_id, m, sv, ki AS code FROM (
         |  SELECT s.vec_id, s.m, s.sv, c.ki,
         |    row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |      (${foldSum("list_transform(c.c, x -> x*x)")} - 2.0 * ${foldDot("s.sv", "c.c")}), c.ki) AS rk
         |  FROM sub s JOIN cb2 c ON c.m = s.m) WHERE rk = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv,
         |    sqrt(${foldSum("list_transform(v, x -> x*x)")}) AS qnrm
         |  FROM e WHERE vec_id < 5),
         |qsub AS (SELECT vec_id AS query_id, m, sv AS qsv FROM sub WHERE vec_id < 5),
         |terms AS (SELECT qs.query_id, f.vec_id, qs.m,
         |    (${foldSum("list_transform(c.c, x -> x*x)")} - 2.0 * ${foldDot("qs.qsv", "c.c")}) AS term
         |  FROM qsub qs JOIN pa3 f ON f.m = qs.m AND f.vec_id <> qs.query_id
         |  JOIN cb2 c ON c.m = f.m AND c.ki = f.code),
         |adist AS (SELECT query_id, vec_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(term ORDER BY m)), (x,y) -> x + y) AS a
         |  FROM terms GROUP BY query_id, vec_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY a ASC, vec_id ASC) AS rk FROM adist) WHERE rk <= 30),
         |s AS (SELECT q.query_id, e.vec_id,
         |    round(${foldDot("q.qv", "e.v")}
         |      / (q.qnrm * sqrt(${foldSum("list_transform(e.v, x -> x*x)")})), 6) AS score
         |  FROM cand JOIN q ON q.query_id = cand.query_id
         |  JOIN e ON e.vec_id = cand.vec_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // Full IVF replay (ss3, upgraded from rows-only in round 9):
    // first-16 seeding, TWO decimal-mean Lloyd sweeps (DECIMAL(25,10)
    // sums — km1's order-invariant trick), final assignment, 4-probe
    // selection and exact cosine re-rank, every argmin tie-broken on
    // the list id. Distances use the same -2·v·c + ‖c‖² surrogate and
    // left-to-right folds as the Spark plan; fuzz-matched against a
    // local replay before wiring. The seeding/sweeps/assignment chain
    // is [[ivfLloydChainSql]], shared with dd9.
    "ss3_ivf_search" ->
      (ivfLloydChainSql + s""",
         |q AS (SELECT vec_id AS query_id, v AS qv,
         |    sqrt(${foldSum("list_transform(v, x -> x*x)")}) AS qnrm
         |  FROM e WHERE vec_id < 5),
         |probe AS (SELECT query_id, i AS list_id FROM (
         |  SELECT q.query_id, c.i, row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      (-2.0 * ${foldDot("q.qv", "c.c")} + ${foldSum("list_transform(c.c, x -> x*x)")}), c.i) AS rk
         |  FROM q CROSS JOIN c2 c) WHERE rk <= 4),
         |s AS (SELECT q.query_id, f.vec_id,
         |    round(${foldDot("q.qv", "f.v")}
         |      / (q.qnrm * sqrt(${foldSum("list_transform(f.v, x -> x*x)")})), 6) AS score
         |  FROM q JOIN probe p ON p.query_id = q.query_id
         |  JOIN a3 f ON f.list_id = p.list_id AND f.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    // dd9 (hash-checked since round 11, closing the last no_oracle
    // pair): the SemDedup chain replayed end to end — the SAME
    // two-sweep quantized-Lloyd assignment ss3 hash-checks
    // ([[ivfLloydChainSql]]), then the within-cluster cosine prune
    // stated exactly as dd5's oracle states its blocked prune: a
    // vector is dropped iff a smaller-id same-cluster neighbor sits at
    // round-6 cosine >= 0.4. Same -2·v·c + ‖c‖² surrogate, same
    // left-to-right folds, same tie-breaks; validated cell-identical
    // against the Spark output before wiring.
    "dd9_semdedup" ->
      (ivfLloydChainSql + s""",
         |losers AS (SELECT DISTINCT b.vec_id FROM a3 a JOIN a3 b
         |  ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |  WHERE round(${foldDot("a.v", "b.v")}
         |    / (sqrt(${foldSum("list_transform(a.v, x -> x*x)")})
         |       * sqrt(${foldSum("list_transform(b.v, x -> x*x)")})), 6) >= 0.4)
         |SELECT vec_id, list_id FROM a3
         |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
         |ORDER BY vec_id""".stripMargin),
    // ss9's oracle is a FULL REBUILD: signatures recomputed from the
    // whole corpus (seed 'idx_'), bucket join, exact cosine re-rank —
    // the hash match proves the incrementally-maintained TxTable index
    // is row-for-row equivalent to rebuilding from scratch.
    "ss9_tx_ann_index" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |sg AS (SELECT vec_id, CAST(sum(CASE WHEN dot > 0
         |      THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
         |  FROM (SELECT e.vec_id, t.j, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(0,64), d ->
         |        CAST(e.v[d+1] AS DOUBLE)
         |        * (CASE WHEN md5('idx_'||t.j||'_'||d)[1] < '8' THEN CAST(1.0 AS DOUBLE)
         |                ELSE CAST(-1.0 AS DOUBLE) END))), (a,b) -> a + b) AS dot
         |    FROM e, unnest(range(0,6)) AS t(j)) GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS query_id, e.v AS qv, sg.sig AS qsig
         |  FROM e JOIN sg USING (vec_id) WHERE vec_id >= 10 AND vec_id < 15),
         |s AS (SELECT q.query_id, e.vec_id,
         |    round(${foldCosine("qv", "e.v")}, 6) AS score
         |  FROM q JOIN sg ON sg.sig = q.qsig AND sg.vec_id <> q.query_id
         |  JOIN e ON e.vec_id = sg.vec_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ss6_lsh_ann_checked" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |sg AS (SELECT vec_id, CAST(sum(CASE WHEN dot > 0
         |      THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
         |  FROM (SELECT e.vec_id, t.j, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(0,64), d ->
         |        CAST(e.v[d+1] AS DOUBLE)
         |        * (CASE WHEN md5('lsh_'||t.j||'_'||d)[1] < '8' THEN CAST(1.0 AS DOUBLE)
         |                ELSE CAST(-1.0 AS DOUBLE) END))), (a,b) -> a + b) AS dot
         |    FROM e, unnest(range(0,6)) AS t(j)) GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS query_id, e.v AS qv, sg.sig AS qsig
         |  FROM e JOIN sg USING (vec_id) WHERE vec_id < 5),
         |s AS (SELECT q.query_id, e.vec_id,
         |    round(${foldCosine("qv", "e.v")}, 6) AS score
         |  FROM q JOIN sg ON sg.sig = q.qsig AND sg.vec_id <> q.query_id
         |  JOIN e ON e.vec_id = sg.vec_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // pca1 (hash-checked since round 11): the eigensolver itself is not
    // SQL-expressible, so the gate emits x1's shape — EXACT spectral
    // statistics DuckDB recomputes bit-identically (decimal-exact
    // per-dim variances: trace folded in dim order, argmax dim, both
    // round-6) plus solver-invariant BOOLEANS the oracle pins TRUE
    // (unit norm, ‖Cv−λv‖₂ ≤ 1e-9 at 3000 iterations — measured
    // ≤ 7e-19 on every SF — and the λ₁ ∈ [max_ii C_ii, tr C] Rayleigh
    // bounds). A solver regression flips a boolean → loud hash fail.
    "pca1_top_component" ->
      s"""WITH x AS (SELECT CAST(t.d AS INT) AS dim,
         |    CAST(e.embedding[t.d+1] AS DOUBLE) AS x
         |  FROM embeddings e, unnest(range(0,64)) AS t(d)),
         |v AS (SELECT dim,
         |    CAST(sum(CAST(round(x, 10) AS DECIMAL(25,10))) AS DOUBLE)
         |      / count(*) AS m1,
         |    CAST(sum(CAST(round(x*x, 10) AS DECIMAL(25,10))) AS DOUBLE)
         |      / count(*) AS m2
         |  FROM x GROUP BY dim),
         |vr AS (SELECT dim, m2 - m1*m1 AS var FROM v),
         |tr AS (SELECT round(${foldSum("list(var ORDER BY dim)")}, 6) AS trace6 FROM vr),
         |mx AS (SELECT dim AS max_var_dim, round(var, 6) AS max_var6 FROM (
         |  SELECT dim, var, row_number() OVER (ORDER BY var DESC, dim ASC) AS rk
         |  FROM vr) WHERE rk = 1),
         |cnt AS (SELECT count(*) AS n FROM embeddings)
         |SELECT n, trace6, max_var_dim, max_var6,
         |  TRUE AS unit_norm_ok, TRUE AS residual_ok,
         |  TRUE AS lambda_ge_max_var, TRUE AS lambda_le_trace
         |FROM cnt, tr, mx""".stripMargin,
    "ss1_knn_brute" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |s AS (SELECT query_id, e.vec_id,
         |    round(${foldCosine("qv", "e.v")}, 6) AS score
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // xl1: the margin-mining chain replayed over ONE query batch —
    // the deterministic 1-in-16 source shard (vec_id % 32 = 0; the
    // round-11 verdict's directed bound on the by-construction
    // quadratic brute form — real deployments mine batch-by-batch,
    // and xl2 is the gated sub-quadratic path). Parity split,
    // exact bipartite cosines (rounded-6 before ranking, the ss1
    // discipline), per-side top-4 neighborhood sums as EXACT BIGINTs
    // on the 1e-6 score quanta, the all-integer margin ratio
    // 2·si·ks·kt/(Ss·kt+St·ks), and the per-source argmax with its
    // accept decision at threshold 1.05. Integer μ arithmetic is the
    // point: a rounded mean of 6-dp values ties at .5e-6 ~25% of the
    // time, where the engines' rounding of doubles disagrees.
    // The three model-fitting families: the SUFFICIENT-STATISTICS
    // frames (pure count aggregations — no iterated arithmetic, no
    // HUGEINT, no division), then the fitted models as the unrolled
    // training loops with every output column BIGINT-cast.
    "bt1_bradley_terry" -> graft.operators.Learn.duelCountsSql,
    "gb1_adaboost_stumps" -> graft.operators.Learn.adaboostStumpTraceSql(),
    "dsk1_dawid_skene" -> graft.operators.Learn.votePatternCountsSql,
    "bt1_bradley_terry_fit" -> graft.operators.Learn.bradleyTerrySql(),
    "gb1_adaboost_fit"      -> graft.operators.Learn.adaboostStumpsSql(),
    "dsk1_dawid_skene_fit"  -> graft.operators.Learn.dawidSkeneSql(),
    "xl1_margin_mining" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |src AS (SELECT vec_id AS src_id, v AS sv FROM e WHERE vec_id % 32 = 0),
         |tgt AS (SELECT vec_id AS tgt_id, v AS tv FROM e WHERE vec_id % 2 = 1),
         |p0 AS (SELECT src_id, tgt_id,
         |    round(${foldCosine("sv", "tv")}, 6) AS score
         |  FROM src CROSS JOIN tgt),
         |p AS (SELECT src_id, tgt_id, score,
         |    CAST(round(score * 1000000, 0) AS BIGINT) AS si FROM p0),
         |ms AS (SELECT src_id, CAST(sum(si) AS BIGINT) AS ss,
         |    CAST(count(*) AS BIGINT) AS ks FROM (
         |    SELECT src_id, si, row_number() OVER (PARTITION BY src_id
         |      ORDER BY score DESC, tgt_id ASC) AS rk FROM p) WHERE rk <= 4
         |  GROUP BY src_id),
         |mt AS (SELECT tgt_id, CAST(sum(si) AS BIGINT) AS st,
         |    CAST(count(*) AS BIGINT) AS kt FROM (
         |    SELECT tgt_id, si, row_number() OVER (PARTITION BY tgt_id
         |      ORDER BY score DESC, src_id ASC) AS rk FROM p) WHERE rk <= 4
         |  GROUP BY tgt_id),
         |m AS (SELECT p.src_id, p.tgt_id, p.score,
         |    round(CAST(2 * p.si * ms.ks * mt.kt AS DOUBLE)
         |      / CAST(ms.ss * mt.kt + mt.st * ms.ks AS DOUBLE), 6) AS margin
         |  FROM p JOIN ms USING (src_id) JOIN mt USING (tgt_id)
         |  WHERE ms.ss * mt.kt + mt.st * ms.ks > 0),
         |b AS (SELECT src_id, tgt_id, score, margin,
         |    row_number() OVER (PARTITION BY src_id
         |      ORDER BY margin DESC, tgt_id ASC) AS rk FROM m)
         |SELECT src_id, tgt_id, score, margin,
         |  (margin >= 1.05) AS accepted
         |FROM b WHERE rk = 1 ORDER BY src_id""".stripMargin,
    // xl2: xl1's margin replay over ss2's LSH-chain replay — the same
    // deterministic plane literals generate the candidate pairs, then
    // the identical exact-integer margin CTEs run over them. The two
    // oracles compose because both chains are stated, not sampled.
    "xl2_margin_mining_ann" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |src AS (SELECT vec_id AS src_id, v AS sv FROM e WHERE vec_id % 2 = 0),
         |tgt AS (SELECT vec_id AS tgt_id, v AS tv FROM e WHERE vec_id % 2 = 1),
         |pl AS (SELECT * FROM (VALUES
         |${graft.operators.Similarity.planesSqlValues}
         |) AS t(tbl, p, plane)),
         |sg AS MATERIALIZED (SELECT vec_id, tbl AS table_idx,
         |    CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p
         |             ELSE 0 END) AS BIGINT) AS bucket
         |  FROM (SELECT e.vec_id, pl.tbl, pl.p, ${foldDot("e.v", "pl.plane")} AS dot
         |        FROM e CROSS JOIN pl)
         |  GROUP BY vec_id, tbl),
         |cand AS (SELECT DISTINCT ss.vec_id AS src_id, ts.vec_id AS tgt_id
         |  FROM sg ss JOIN sg ts ON ts.table_idx = ss.table_idx
         |    AND ts.bucket = ss.bucket
         |  WHERE ss.vec_id % 2 = 0 AND ts.vec_id % 2 = 1),
         |p0 AS (SELECT c.src_id, c.tgt_id,
         |    round(${foldCosine("s.sv", "t.tv")}, 6) AS score
         |  FROM cand c JOIN src s USING (src_id) JOIN tgt t USING (tgt_id)),
         |p AS MATERIALIZED (SELECT src_id, tgt_id, score,
         |    CAST(round(score * 1000000, 0) AS BIGINT) AS si FROM p0),
         |ms AS (SELECT src_id, CAST(sum(si) AS BIGINT) AS ss,
         |    CAST(count(*) AS BIGINT) AS ks FROM (
         |    SELECT src_id, si, row_number() OVER (PARTITION BY src_id
         |      ORDER BY score DESC, tgt_id ASC) AS rk FROM p) WHERE rk <= 4
         |  GROUP BY src_id),
         |mt AS (SELECT tgt_id, CAST(sum(si) AS BIGINT) AS st,
         |    CAST(count(*) AS BIGINT) AS kt FROM (
         |    SELECT tgt_id, si, row_number() OVER (PARTITION BY tgt_id
         |      ORDER BY score DESC, src_id ASC) AS rk FROM p) WHERE rk <= 4
         |  GROUP BY tgt_id),
         |m AS (SELECT p.src_id, p.tgt_id, p.score,
         |    round(CAST(2 * p.si * ms.ks * mt.kt AS DOUBLE)
         |      / CAST(ms.ss * mt.kt + mt.st * ms.ks AS DOUBLE), 6) AS margin
         |  FROM p JOIN ms USING (src_id) JOIN mt USING (tgt_id)
         |  WHERE ms.ss * mt.kt + mt.st * ms.ks > 0),
         |b AS (SELECT src_id, tgt_id, score, margin,
         |    row_number() OVER (PARTITION BY src_id
         |      ORDER BY margin DESC, tgt_id ASC) AS rk FROM m)
         |SELECT src_id, tgt_id, score, margin,
         |  (margin >= 1.05) AS accepted
         |FROM b WHERE rk = 1 ORDER BY src_id""".stripMargin,
    // Full LSH-chain replay (ss2, upgraded from rows-only in round 10):
    // the SAME deterministic hyperplanes (Similarity.planesSqlValues
    // literals), 12-bit signatures per table, band-key equi-join,
    // pair dedup, exact cosine re-rank — the approximate operator's
    // ENTIRE pipeline stated in SQL and hash-matched.
    "ss2_lsh_ann" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |pl AS (SELECT * FROM (VALUES
         |${graft.operators.Similarity.planesSqlValues}
         |) AS t(tbl, p, plane)),
         |sg AS (SELECT vec_id, tbl AS table_idx,
         |    CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p
         |             ELSE 0 END) AS BIGINT) AS bucket
         |  FROM (SELECT e.vec_id, pl.tbl, pl.p, ${foldDot("e.v", "pl.plane")} AS dot
         |        FROM e CROSS JOIN pl)
         |  GROUP BY vec_id, tbl),
         |cand AS (SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id
         |  FROM sg qs JOIN sg cs ON cs.table_idx = qs.table_idx
         |    AND cs.bucket = qs.bucket AND cs.vec_id <> qs.vec_id
         |  WHERE qs.vec_id < 5),
         |q AS (SELECT vec_id AS query_id, v AS qv,
         |    sqrt(${foldSum("list_transform(v, x -> x*x)")}) AS qnrm
         |  FROM e WHERE vec_id < 5),
         |s AS (SELECT c.query_id, c.vec_id,
         |    round(${foldDot("q.qv", "f.v")}
         |      / (q.qnrm * sqrt(${foldSum("list_transform(f.v, x -> x*x)")})), 6) AS score
         |  FROM cand c JOIN q ON q.query_id = c.query_id
         |  JOIN e f ON f.vec_id = c.vec_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "m1_asset_metadata" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    // t16: DEFLATE isn't in DuckDB, so the expected per-lang profile is
    // a SPEC-PINNED constant table generated once by CPython's zlib
    // (level 1, raw stream — an INDEPENDENT implementation verified
    // byte-identical to the JDK Deflater the kernel uses, including the
    // DECIMAL(38,18) mean replay), keyed by (corpus byte total, lang,
    // live n_docs): a regenerated/changed corpus empties the join and
    // FAILS loudly instead of matching a stale pin. Pins cover
    // sf0.001 / sf0.01 / sf0.1.
    "t16_compress_profile" ->
      """WITH tot AS (SELECT CAST(sum(octet_length(encode(text))) AS BIGINT) AS bt
        |  FROM documents),
        |live AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |pin AS (SELECT * FROM (VALUES
        |(153156,'de',71,0.520266e0,0.412451e0,0.833333e0,0),
        |(153156,'en',193,0.544388e0,0.396917e0,0.981481e0,0),
        |(153156,'es',80,0.536629e0,0.412791e0,0.887097e0,0),
        |(153156,'fr',82,0.521944e0,0.404943e0,1.0e0,0),
        |(153156,'zh',74,0.533378e0,0.410985e0,0.903226e0,0),
        |(149174,'de',70,0.540438e0,0.396117e0,0.912281e0,0),
        |(149174,'en',218,0.537903e0,0.4e0,0.907407e0,0),
        |(149174,'es',73,0.53266e0,0.405458e0,0.873016e0,0),
        |(149174,'fr',64,0.521404e0,0.409186e0,0.84058e0,0),
        |(149174,'zh',75,0.52877e0,0.402439e0,0.873016e0,0),
        |(1485576,'de',702,0.534918e0,0.400366e0,0.96e0,0),
        |(1485576,'en',2059,0.537418e0,0.395918e0,1.0e0,0),
        |(1485576,'es',744,0.535233e0,0.387156e0,0.948276e0,0),
        |(1485576,'fr',742,0.534133e0,0.388007e0,0.924528e0,0),
        |(1485576,'zh',753,0.550828e0,0.395176e0,0.956522e0,0)
        |) AS t(bt, lang, n_docs, avg_ratio, min_ratio, max_ratio, n_repetitive))
        |SELECT p.lang, l.n_docs, p.avg_ratio, p.min_ratio, p.max_ratio,
        |  CAST(p.n_repetitive AS BIGINT) AS n_repetitive
        |FROM pin p JOIN tot t ON p.bt = t.bt
        |JOIN live l ON l.lang = p.lang AND l.n_docs = p.n_docs
        |ORDER BY p.lang""".stripMargin,
    // nDCG over ss1's ranking: binary label relevance, the same k-row
    // discount table for hits and ideal, DECIMAL-accumulated sums.
    "dcg1_ndcg_at_k" ->
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |s AS (SELECT query_id, e.vec_id,
         |    round(${foldCosine("qv", "e.v")}, 6) AS score
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s),
         |disc AS (SELECT CAST(i AS INT) AS i,
         |    1.0 / (ln(CAST(i AS DOUBLE) + 1.0) / ln(2.0)) AS d
         |  FROM range(1, 11) t(i)),
         |rel AS (SELECT r.query_id,
         |    CASE WHEN lq.label = lnb.label THEN 1.0 ELSE 0.0 END AS rel, disc.d
         |  FROM r JOIN e lq ON lq.vec_id = r.query_id
         |  JOIN e lnb ON lnb.vec_id = r.neighbor_id
         |  JOIN disc ON disc.i = r.rank
         |  WHERE r.rank <= 10),
         |byq AS (SELECT query_id,
         |    CAST(sum(CAST(rel * d AS DECIMAL(38,18))) AS DOUBLE) AS dcg,
         |    CAST(sum(rel) AS BIGINT) AS n_rel FROM rel GROUP BY 1),
         |f AS (SELECT b.query_id, b.dcg, b.n_rel,
         |    coalesce(CAST(sum(CAST(d.d AS DECIMAL(38,18))) AS DOUBLE), 0.0) AS idcg
         |  FROM byq b LEFT JOIN disc d ON d.i <= b.n_rel GROUP BY 1, 2, 3)
         |SELECT query_id, n_rel, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
         |  round(CASE WHEN idcg > 0.0 THEN dcg / idcg ELSE 0.0 END, 6) AS ndcg
         |FROM f ORDER BY query_id""".stripMargin,
    "c1_curation_pipeline" -> curationOracle,
    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "set2_intersect_nationkeys" ->
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |INTERSECT
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "set3_except_nationkeys" ->
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |EXCEPT
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "sq2_correlated_max_order" ->
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_price
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "w3_order_gaps" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey, 1) OVER w AS prev_orderkey,
        |  lead(o_orderkey, 1) OVER w AS next_orderkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "f3_date_functions" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(o_orderdate AS DATE) + 30 AS due_date,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS INT) AS days_to_ref,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "f4_string_functions" ->
      """SELECT p_partkey,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  lpad(p_brand, 12, '_') AS brand_padded,
        |  regexp_replace(p_type, ' ', '-', 'g') AS type_dashed,
        |  reverse(p_brand) AS brand_rev,
        |  substring(p_type, 1, 5) AS type_prefix,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  lower(p_type) AS type_lc
        |FROM part ORDER BY p_partkey""".stripMargin,
    "x5_price_histogram" -> {
      // width_bucket(x, 0, 600000, 10): DuckDB lacks it; mirror the
      // definition: 1 + floor(x / 60000), clamped to [0, 11].
      """SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
        |    WHEN o_totalprice >= 600000.0 THEN 11
        |    ELSE 1 + CAST(floor(o_totalprice / 60000.0) AS INT) END AS INT) AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "j7_range_join_tiers" -> {
      val tiers = Relational.ValueTiers
        .map { case (t, lo, hi) => s"('$t', $lo, $hi)" }.mkString(", ")
      s"""WITH tiers(tier, lo, hi) AS (VALUES $tiers)
         |SELECT tier, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
         |FROM events JOIN tiers ON value >= lo AND value < hi
         |GROUP BY tier ORDER BY tier""".stripMargin
    },
    "a8_compound_filter" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE (event_type IN ('click', 'view') OR value > 150.0)
        |  AND props NOT LIKE '%"k": 4%'
        |ORDER BY event_id""".stripMargin,
    "g3_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "w4_range_frame_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS nearby_sum
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "t6_regex_extract" ->
      """SELECT doc_id, regexp_extract(text, 'the ([a-z]+)', 1) AS after_the
        |FROM documents ORDER BY doc_id""".stripMargin,
    "st3_sliding_windows" ->
      """WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |w AS (SELECT event_type,
        |        make_timestamp((us // 1800000000 - k) * 1800000000) AS win_start
        |      FROM e, unnest([0, 1]) AS t(k))
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "mk1_markov_transitions" ->
      """WITH s AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts)//1000 AS us FROM events),
        |t AS (SELECT event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
        |  FROM s),
        |c AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
        |FROM c ORDER BY prev_type, next_type""".stripMargin,
    "pit1_pit_features" ->
      """SELECT p.event_id, p.user_id, CAST(count(c.cid) AS BIGINT) AS n_clicks_7d
        |FROM (SELECT event_id, user_id, epoch_ns(ts)//1000 AS pus FROM events
        |      WHERE event_type = 'purchase' AND user_id < 30) p
        |LEFT JOIN (SELECT user_id AS cu, epoch_ns(ts)//1000 AS cus, event_id AS cid
        |      FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.cu AND c.cus >= p.pus - 604800000000
        |  AND c.cus < p.pus
        |GROUP BY p.event_id, p.user_id
        |ORDER BY p.event_id""".stripMargin,
    "aj1_asof_purchase_click" ->
      """SELECT p.event_id, p.user_id, c.cid AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(event_id) AS cid FROM events
        |  WHERE event_type = 'click' GROUP BY user_id, ts) c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "aj4_asof_native_fwd" ->
      """SELECT c.event_id, c.user_id, p.pid AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(event_id) AS pid FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts) p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin,
    "aj3_asof_native" ->
      """SELECT p.event_id, p.user_id, c.cid AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(event_id) AS cid FROM events
        |  WHERE event_type = 'click' GROUP BY user_id, ts) c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "p1_pivot_user_type" -> {
      val cols = Relational.EventTypes.map(t =>
        s"""coalesce(CAST(sum(CAST(CASE WHEN event_type = '$t' THEN value END AS DECIMAL(30,2))) AS DOUBLE), 0.0) AS "$t"""")
        .mkString(",\n  ")
      s"""SELECT user_id,
         |  $cols
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "g2_cube_summary" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "e2_json_extract" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "t5_top_tokens" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents)
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""".stripMargin,
    "x3_price_quantiles" ->
      """SELECT round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 6) AS p99
        |FROM orders""".stripMargin,
    "x6_grouped_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x7_cms_type_counts" ->
      """SELECT event_type, count(*) AS est_n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "up1_upsert" ->
      """WITH updates AS (
        |  SELECT event_id, user_id, event_type, value + 1000.0 AS value
        |  FROM events WHERE event_id % 7 = 0
        |  UNION ALL
        |  SELECT event_id + 10000000, user_id, event_type, value
        |  FROM events WHERE event_id % 97 = 0)
        |SELECT event_id, user_id, event_type, value FROM events e
        |WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.event_id = e.event_id)
        |UNION ALL
        |SELECT event_id, user_id, event_type, value FROM updates
        |ORDER BY event_id""".stripMargin,
    "sk1_salted_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Late replays are dropped by the watermark, so the streaming result
    // equals the plain batch aggregation — that equality IS the check.
    "st4_watermark_late" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "st5_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |    make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events)
        |SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |  p.value AS amount
        |FROM e p JOIN e c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND p.user_id = c.user_id
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
        |ORDER BY purchase_id, click_id""".stripMargin,
    // Components via recursive closure (graph is tiny at oracle SF);
    // Spark computes the same labels by BSP min propagation.
    "dd6_dup_clusters" ->
      s"""${shingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |jp AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.7),
         |ed AS (SELECT doc_a AS a, doc_b AS b FROM jp
         |  UNION ALL SELECT doc_b, doc_a FROM jp),
         |reach AS (
         |  SELECT doc_id AS n, doc_id AS m FROM documents
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN ed e ON r.m = e.a)
         |SELECT n AS doc_id, min(m) AS cluster_rep
         |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin,
    // s3: dd6's connected-component chain, then the s1 md5 12/2/2
    // bucket map applied to the CLUSTER REP — the oracle hashes every
    // per-doc assignment, so one cluster straddling a split boundary
    // is a hash failure.
    "s3_leakage_safe_split" ->
      s"""${shingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |jp AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.7),
         |ed AS (SELECT doc_a AS a, doc_b AS b FROM jp
         |  UNION ALL SELECT doc_b, doc_a FROM jp),
         |reach AS (
         |  SELECT doc_id AS n, doc_id AS m FROM documents
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN ed e ON r.m = e.a),
         |cl AS (SELECT n AS doc_id, min(m) AS cluster_rep FROM reach GROUP BY n)
         |SELECT doc_id, cluster_rep, CASE
         |    WHEN substring(md5(CAST(cluster_rep AS VARCHAR)), 1, 1)
         |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
         |    WHEN substring(md5(CAST(cluster_rep AS VARCHAR)), 1, 1) IN ('c','d')
         |      THEN 'val'
         |    ELSE 'test' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin,
    "dd15_cluster_canonical" ->
      s"""${shingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |jp AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.7),
         |ed AS (SELECT doc_a AS a, doc_b AS b FROM jp
         |  UNION ALL SELECT doc_b, doc_a FROM jp),
         |reach AS (
         |  SELECT doc_id AS n, doc_id AS m FROM documents
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN ed e ON r.m = e.a),
         |cl AS (SELECT n AS doc_id, min(m) AS cluster_rep FROM reach GROUP BY n),
         |qw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |qm AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS n_words,
         |    CAST(len(list_filter(ws, x -> x IN (${sqlList(TextAnalysis.Stopwords)}))) AS DOUBLE) AS stop
         |  FROM qw),
         |q AS (SELECT doc_id, round(least(n_words/100.0,1.0)*0.5
         |    + least(stop/n_words*5.0,1.0)*0.5, 6) AS quality FROM qm),
         |j AS (SELECT cl.doc_id, cl.cluster_rep, q.quality FROM cl JOIN q USING (doc_id)),
         |best AS (SELECT cluster_rep,
         |    first(doc_id ORDER BY quality DESC, doc_id ASC) AS canonical_doc
         |  FROM j GROUP BY cluster_rep)
         |SELECT j.doc_id, j.cluster_rep, j.quality, best.canonical_doc,
         |  j.doc_id = best.canonical_doc AS keep
         |FROM j JOIN best USING (cluster_rep) ORDER BY doc_id""".stripMargin,
    "ss8_hybrid_rrf" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS ws
         |  FROM documents),
         |d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl FROM w),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM d),
         |t AS (SELECT doc_id, dl, unnest(ws) AS term FROM d),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM t
         |  WHERE term IN ('spark','join','window') GROUP BY 1,2,3),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |s AS (SELECT tf.doc_id, tf.term,
         |    ln((CAST(g.n AS DOUBLE) - df.df + 0.5)/(df.df + 0.5) + 1) *
         |    ((CAST(tf.tf AS DOUBLE)*(1.2 + 1)) /
         |     (CAST(tf.tf AS DOUBLE) + 1.2*(1 - 0.75 + 0.75*CAST(tf.dl AS DOUBLE)/g.avgdl)))
         |      AS part
         |  FROM tf JOIN df USING (term), g),
         |agg AS (SELECT doc_id,
         |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(part ORDER BY term)), (a,b) -> a + b), 6) AS score
         |  FROM s GROUP BY doc_id),
         |rt AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_text
         |  FROM agg QUALIFY rank_text <= 20),
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |sv AS (SELECT e.vec_id AS doc_id,
         |    round(${foldCosine("qv", "e.v")}, 6) AS vscore
         |  FROM e, q WHERE e.vec_id < 500 AND e.vec_id <> 0),
         |rv AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY vscore DESC, doc_id) AS INT) AS rank_vec
         |  FROM sv QUALIFY rank_vec <= 20)
         |SELECT coalesce(rt.doc_id, rv.doc_id) AS doc_id,
         |  round(coalesce(1.0/(60 + rank_text), 0.0)
         |    + coalesce(1.0/(60 + rank_vec), 0.0), 6) AS rrf
         |FROM rt FULL OUTER JOIN rv ON rt.doc_id = rv.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    // Ranks computed on round(6) scores with vid tiebreaks — identical
    // on both engines; easy negatives are an md5 lottery, same string
    // key "qid_vid" on both sides.
    "ns1_contrastive_sampling" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
         |s AS (SELECT qid, e.vec_id AS vid,
         |    round(${foldCosine("qv", "e.v")}, 6) AS score
         |  FROM q JOIN e ON e.vec_id <> q.qid),
         |r AS (SELECT qid, vid, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS rk
         |  FROM s),
         |hard AS (SELECT qid, vid, 'hard' AS role, score FROM r
         |  WHERE rk BETWEEN 11 AND 15),
         |easy AS (SELECT qid, vid, 'easy' AS role, score FROM (
         |    SELECT qid, vid, score,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY md5(qid || '_' || vid), vid) AS er
         |    FROM r WHERE rk > 30) WHERE er <= 5)
         |SELECT qid AS query_id, vid AS vec_id, role, score FROM hard
         |UNION ALL
         |SELECT qid AS query_id, vid AS vec_id, role, score FROM easy
         |ORDER BY query_id, role, vec_id""".stripMargin,
    "dp3_noised_counts" ->
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |h AS (SELECT event_type, n,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 14), i -> CAST(strpos('0123456789abcdef',
        |        md5(event_type)[i]) - 1 AS BIGINT))),
        |      (a, c) -> a * 16 + c) AS hv FROM g),
        |u AS (SELECT event_type, n, hv / 4503599627370496.0 - 0.5 AS u FROM h)
        |SELECT event_type, n,
        |  round(n + (-2.0) * sign(u) * ln(1.0 - 2.0 * abs(u)), 6) AS n_noised
        |FROM u ORDER BY event_type""".stripMargin,
    "ij1_interval_join" ->
      """WITH p AS (SELECT event_id, epoch_ns(ts)//1000 AS pus FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT epoch_ns(ts)//1000 AS cus FROM events WHERE event_type = 'click')
        |SELECT p.event_id, CAST(count(c.cus) AS BIGINT) AS n_nearby
        |FROM p LEFT JOIN c ON c.cus BETWEEN p.pus - 60000000 AND p.pus + 60000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "eh1_equidepth_histogram" ->
      """WITH t AS (SELECT round(quantile_cont(o_totalprice, 0.25), 6) AS q1,
        |    round(quantile_cont(o_totalprice, 0.50), 6) AS q2,
        |    round(quantile_cont(o_totalprice, 0.75), 6) AS q3 FROM orders),
        |b AS (SELECT CASE WHEN o_totalprice <= q1 THEN 0
        |    WHEN o_totalprice <= q2 THEN 1
        |    WHEN o_totalprice <= q3 THEN 2 ELSE 3 END AS bucket, o_totalprice
        |  FROM orders CROSS JOIN t)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  round(min(o_totalprice), 6) AS lo, round(max(o_totalprice), 6) AS hi,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS sum_price
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "st11_incremental_upsert" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 6) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "ps1_phrase_search" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |p AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS i, ws FROM w),
        |t AS (SELECT doc_id, i, ws[i] AS word FROM p)
        |SELECT a.doc_id, CAST(a.i - 1 AS BIGINT) AS start_pos
        |FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |JOIN t c ON a.doc_id = c.doc_id AND c.i = a.i + 2
        |WHERE a.word = 'part' AND b.word = 'filter' AND c.word = 'scan'
        |ORDER BY a.doc_id, start_pos""".stripMargin,
    "rsp1_repeated_spans" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |ps AS (SELECT doc_id, unnest(range(1, greatest(len(ws) - 3, 1))) AS i, ws FROM w),
        |sh AS (SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+4], ' ') AS shingle FROM ps),
        |dfs AS (SELECT shingle, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM sh GROUP BY 1),
        |rep AS (SELECT s.doc_id, s.pos FROM sh s JOIN dfs USING (shingle) WHERE df >= 2),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM rep),
        |sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |    CAST(max(pos) + 4 AS BIGINT) AS span_end,
        |    CAST(count(*) AS BIGINT) AS n_grams
        |  FROM isl GROUP BY doc_id, grp)
        |SELECT doc_id, span_start, span_end, n_grams FROM sp
        |WHERE n_grams >= 2 ORDER BY doc_id, span_start""".stripMargin,
    "bfs1_seed_distances" ->
      """WITH RECURSIVE pairs AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |ed AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM ed),
        |seeds AS (SELECT DISTINCT c_custkey*2 AS node FROM customer WHERE c_nationkey = 0),
        |walk AS (
        |  SELECT s.node, 0 AS dist FROM seeds s JOIN nodes n ON s.node = n.node
        |  UNION
        |  SELECT e.dst AS node, w.dist + 1 AS dist FROM walk w
        |  JOIN ed e ON w.node = e.src WHERE w.dist < 4),
        |md AS (SELECT node, min(dist) AS dist FROM walk GROUP BY node)
        |SELECT CAST(dist AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM md GROUP BY dist ORDER BY dist""".stripMargin,
    // Unrolled to exactly the operator's round budget — bounded-round
    // peel is the CONTRACT (see Graph.kCorePeel doc), so the CTE
    // chain and the BSP loop agree round by round. Every CTE is
    // MATERIALIZED: round r reads e(r-1) three times, so inlined CTEs
    // expand 3^r-fold (DuckDB dies on fd exhaustion before finishing)
    // — the same lineage blowup localCheckpoint cuts on the Spark side.
    "kc1_kcore_peel" -> {
      val k = 80; val rounds = 8
      val head = new StringBuilder(
        """WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          |e0 AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM it a JOIN it b
          |       ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)""".stripMargin)
      (1 to rounds).foreach { r =>
        head ++= s""",
          |kp$r AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e${r - 1}
          |    UNION ALL SELECT v AS node FROM e${r - 1})
          |  GROUP BY 1 HAVING count(*) >= $k),
          |e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1}
          |  WHERE u IN (SELECT node FROM kp$r)
          |    AND v IN (SELECT node FROM kp$r))""".stripMargin
      }
      val rows = (1 to rounds).map { r =>
        s"""SELECT CAST($r AS INT) AS round,
           |  (SELECT CAST(count(*) AS BIGINT)
           |     FROM (SELECT u FROM e$r UNION SELECT v FROM e$r)) AS n_nodes,
           |  (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"$head\n$rows\nORDER BY round"
    },
    "tc1_triangle_stats" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) GROUP BY 1),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS t
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT t FROM tri) AS n_triangles,
        |  round(3.0 * (SELECT t FROM tri) / (SELECT sum(d*(d-1)/2.0) FROM deg), 6) AS clustering""".stripMargin,
    "w5_window_stats" ->
      """SELECT o_custkey, o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "x8_price_moments" ->
      """WITH s AS (SELECT count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))
        |    * CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sx2
        |FROM orders)
        |SELECT n, round(sx / n, 6) AS mean_price,
        |  round((sx2 - sx * sx / n) / (n - 1), 6) AS var_price,
        |  round(sqrt((sx2 - sx * sx / n) / (n - 1)), 6) AS std_price
        |FROM s""".stripMargin,
    "k3_csv_roundtrip" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,
    "k4_json_roundtrip" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,
    "b1_bucketed_join" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "st6_stateful_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ms FROM events),
        |g AS (SELECT user_id, ms,
        |  CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |    OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) >= 1800000
        |  THEN 1 ELSE 0 END AS new_sess FROM e),
        |s AS (SELECT user_id, ms, sum(new_sess) OVER (
        |  PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid
        |FROM g)
        |SELECT user_id,
        |  strftime(make_timestamp(min(ms) * 1000), '%Y-%m-%d %H:%M:%S.%g') AS session_start,
        |  strftime(make_timestamp(max(ms) * 1000), '%Y-%m-%d %H:%M:%S.%g') AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "t10_tfidf" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.term,
        |  round(tf.tf * ln(CAST(nn.n AS DOUBLE) / dfq.df), 6) AS tfidf
        |FROM tf JOIN dfq USING (term) CROSS JOIN nn
        |WHERE tf.doc_id < 20 ORDER BY doc_id, term""".stripMargin,
    "nrm1_feature_scalers" -> {
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity")
      def dec(c: String) = s"CAST($c AS DECIMAL(30,2))"
      val sums = cols.flatMap { c => Seq(
        s"min($c) AS min_$c", s"max($c) AS max_$c",
        s"CAST(sum(${dec(c)}) AS DOUBLE) AS sx_$c",
        s"CAST(sum(${dec(c)} * ${dec(c)}) AS DOUBLE) AS sxx_$c")
      }.mkString(",\n  ")
      val rows = cols.map { c =>
        s"""SELECT '$c' AS feature, round(min_$c, 6) AS vmin, round(max_$c, 6) AS vmax,
           |  round(sx_$c / n, 6) AS mean,
           |  round(sqrt((sxx_$c - sx_$c * sx_$c / n) / n), 6) AS std FROM s""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH s AS (SELECT count(*) AS n,
         |  $sums
         |FROM lineitem)
         |$rows
         |ORDER BY feature""".stripMargin
    },
    "vo1_kmeans_outliers" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cid, e AS cv FROM v WHERE vec_id < 8),
        |d1 AS (SELECT v.vec_id, c0.cid,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |      i -> (v.e[i] - c0.cv[i]) * (v.e[i] - c0.cv[i]))), (a,b) -> a + b) AS d2
        |  FROM v CROSS JOIN c0),
        |a1 AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk FROM d1)
        |  WHERE rk = 1),
        |m1 AS (SELECT a1.cid, t.i AS dim,
        |    CAST(sum(CAST(round(v.e[t.i], 10) AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS mv
        |  FROM a1 JOIN v USING (vec_id) CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
        |  GROUP BY a1.cid, t.i),
        |c1 AS (SELECT cid, list(mv ORDER BY dim) AS cv FROM m1 GROUP BY cid),
        |dd AS (SELECT v.vec_id, c1.cid,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |      i -> (v.e[i] - c1.cv[i]) * (v.e[i] - c1.cv[i]))), (a,b) -> a + b) AS d2
        |  FROM v CROSS JOIN c1),
        |a2 AS (SELECT vec_id, cid, d2 FROM (
        |    SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk FROM dd)
        |  WHERE rk = 1)
        |SELECT vec_id, cid, round(d2, 6) AS d2 FROM a2
        |ORDER BY d2 DESC, vec_id LIMIT 10""".stripMargin,
    "km1_kmeans" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cid, e AS cv FROM v WHERE vec_id < 8),
        |d1 AS (SELECT v.vec_id, c0.cid,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |      i -> (v.e[i] - c0.cv[i]) * (v.e[i] - c0.cv[i]))), (a,b) -> a + b) AS d2
        |  FROM v CROSS JOIN c0),
        |a1 AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk FROM d1)
        |  WHERE rk = 1),
        |m1 AS (SELECT a1.cid, t.i AS dim,
        |    CAST(sum(CAST(round(v.e[t.i], 10) AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS mv
        |  FROM a1 JOIN v USING (vec_id) CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
        |  GROUP BY a1.cid, t.i),
        |c1 AS (SELECT cid, list(mv ORDER BY dim) AS cv FROM m1 GROUP BY cid),
        |dd AS (SELECT v.vec_id, c1.cid,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |      i -> (v.e[i] - c1.cv[i]) * (v.e[i] - c1.cv[i]))), (a,b) -> a + b) AS d2
        |  FROM v CROSS JOIN c1),
        |a2 AS (SELECT vec_id, cid, d2 FROM (
        |    SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk FROM dd)
        |  WHERE rk = 1)
        |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(CAST(sum(CAST(round(d2, 8) AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS mean_d2
        |FROM a2 GROUP BY cid ORDER BY cid""".stripMargin,
    "mx2_temperature_mix" ->
      """WITH s AS (SELECT source,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS src_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS t FROM s),
        |w AS (SELECT source, src_tokens,
        |    CAST(src_tokens AS DOUBLE) / tot.t AS share,
        |    sqrt(CAST(src_tokens AS DOUBLE) / tot.t) AS sw, tot.t AS t
        |  FROM s CROSS JOIN tot),
        |z AS (SELECT CAST(sum(CAST(round(sw, 8) AS DECIMAL(20,8))) AS DOUBLE) AS zsum FROM w)
        |SELECT source, src_tokens, round(share, 6) AS share,
        |  round(sw / z.zsum, 6) AS weight,
        |  CAST(round(sw / z.zsum * t, 0) AS BIGINT) AS eff_tokens
        |FROM w CROSS JOIN z ORDER BY source""".stripMargin,
    // mx3: same weight chain as mx2 quantized through
    // floor(round(·,8)·1e8) into BIGINT, then the Bernoulli-by-rate
    // threshold replayed with the identical parenthesization; the
    // 8-hex-digit md5 fold is dsir1's idiom.
    "mx3_mixture_sample" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words
        |  FROM documents),
        |s AS (SELECT source, CAST(sum(n_words) AS BIGINT) AS src_tokens
        |  FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS t,
        |    CAST(sum(src_tokens) AS BIGINT) // 5 AS b FROM s),
        |w AS (SELECT source, src_tokens, tot.b AS b,
        |    CAST(floor(round(sqrt(CAST(src_tokens AS DOUBLE) / tot.t), 8) * 1e8)
        |      AS BIGINT) AS wq
        |  FROM s CROSS JOIN tot),
        |z AS (SELECT CAST(sum(wq) AS BIGINT) AS z FROM w),
        |thr AS (SELECT source,
        |    CAST(floor(4294967296.0 * (CAST(w.b AS DOUBLE) * (CAST(w.wq AS DOUBLE)
        |      / (CAST(z.z AS DOUBLE) * CAST(w.src_tokens AS DOUBLE))))) AS BIGINT) AS t
        |  FROM w CROSS JOIN z)
        |SELECT d.doc_id, d.source, d.n_words
        |FROM d JOIN thr USING (source)
        |WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 9), i -> CAST(strpos('0123456789abcdef',
        |      md5(CAST(d.doc_id AS VARCHAR))[i]) - 1 AS BIGINT))),
        |    (a, c) -> a * 16 + c) < thr.t
        |ORDER BY d.doc_id""".stripMargin,
    "cor1_corr_matrix" -> {
      val cols = Seq("disc" -> "l_discount", "price" -> "l_extendedprice",
        "qty" -> "l_quantity", "tax" -> "l_tax")
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
      def dec(c: String) = s"CAST($c AS DECIMAL(30,2))"
      val sums = (
        cols.map { case (nm, c) => s"CAST(sum(${dec(c)}) AS DOUBLE) AS s_$nm" } ++
        cols.map { case (nm, c) => s"CAST(sum(${dec(c)} * ${dec(c)}) AS DOUBLE) AS ss_$nm" } ++
        pairs.map { case ((na, ca), (nb, cb)) =>
          s"CAST(sum(${dec(ca)} * ${dec(cb)}) AS DOUBLE) AS sp_${na}_$nb" }
      ).mkString(",\n  ")
      val rows = pairs.map { case ((na, _), (nb, _)) =>
        s"""SELECT '$na' AS var_x, '$nb' AS var_y,
           |  round((sp_${na}_$nb - s_$na * s_$nb / n)
           |    / (sqrt(ss_$na - s_$na * s_$na / n)
           |      * sqrt(ss_$nb - s_$nb * s_$nb / n)), 6) AS corr FROM s""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH s AS (SELECT count(*) AS n,
         |  $sums
         |FROM lineitem)
         |$rows
         |ORDER BY var_x, var_y""".stripMargin
    },
    "c3_curation_v2" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |b AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
        |  FROM w WHERE len(ws) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
        |vv AS (SELECT count(DISTINCT t.w) AS v FROM (SELECT unnest(ws) AS w FROM w) t),
        |nll AS (SELECT b.doc_id,
        |    CAST(round(-ln(CAST(c2.c12 + 1 AS DOUBLE)
        |      / CAST(c1.c1 + vv.v AS DOUBLE)), 8) AS DECIMAL(20,8)) AS nll
        |  FROM b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |  JOIN c1 ON b.w1 = c1.w1 CROSS JOIN vv),
        |ppl AS (SELECT doc_id,
        |    round(exp(CAST(sum(nll) AS DOUBLE) / count(*)), 6) AS ppl
        |  FROM nll GROUP BY doc_id),
        |q AS (SELECT doc_id, n_chars, md5(substring(text, 1, 100)) AS h
        |  FROM documents WHERE n_chars >= 200),
        |dd AS (SELECT q.doc_id, q.n_chars FROM q
        |  WHERE NOT EXISTS (SELECT 1 FROM q q2
        |    WHERE q2.h = q.h AND q2.doc_id < q.doc_id))
        |SELECT dd.doc_id, dd.n_chars, ppl.ppl,
        |  round(ln(CAST((dd.doc_id * 2654435761) % 1000003 + 1 AS DOUBLE) / 1000004.0)
        |    / CAST(dd.n_chars AS DOUBLE), 10) AS wkey
        |FROM dd JOIN ppl USING (doc_id)
        |WHERE ppl.ppl <= 30.0
        |ORDER BY wkey DESC, doc_id LIMIT 10""".stripMargin,
    "dq3_ref_integrity" ->
      """SELECT * FROM (
        |SELECT 'customer_nation' AS fk, CAST(count(*) AS BIGINT) AS n_orphans,
        |  count(*) = 0 AS passed FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        |UNION ALL
        |SELECT 'lineitem_order', CAST(count(*) AS BIGINT), count(*) = 0 FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'lineitem_part', CAST(count(*) AS BIGINT), count(*) = 0 FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        |UNION ALL
        |SELECT 'lineitem_supplier', CAST(count(*) AS BIGINT), count(*) = 0 FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        |UNION ALL
        |SELECT 'order_customer', CAST(count(*) AS BIGINT), count(*) = 0 FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |) ORDER BY fk""".stripMargin,
    "kan1_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT floor(c_acctbal / 1000)) AS BIGINT) AS l_diversity,
        |  count(*) < 10 AS k10_violation
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    // Same closed-form expressions over the same integer window sums —
    // the slope subexpression is inlined unrounded on both sides.
    "ts4_rolling_forecast" ->
      """WITH h AS (SELECT strftime(date_trunc('hour', ts),
        |    '%Y-%m-%d %H:%M:%S') AS hour_start,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |x AS (SELECT hour_start, n,
        |    CAST(row_number() OVER (ORDER BY hour_start) AS BIGINT) AS i FROM h),
        |s AS (SELECT hour_start, n, i,
        |    CAST(count(*) OVER w AS BIGINT) AS c,
        |    CAST(sum(i) OVER w AS BIGINT) AS sx, CAST(sum(n) OVER w AS BIGINT) AS sy,
        |    CAST(sum(i*i) OVER w AS BIGINT) AS sxx, CAST(sum(i*n) OVER w AS BIGINT) AS sxy
        |  FROM x WINDOW w AS (ORDER BY i ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT hour_start, n,
        |  round((CAST(c AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
        |    / (CAST(c AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx), 6) AS slope,
        |  round((CAST(sy AS DOUBLE) - (CAST(c AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
        |    / (CAST(c AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * sx) / c
        |    + (CAST(c AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
        |    / (CAST(c AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * (i+1), 6) AS forecast_next
        |FROM s WHERE c = 24 ORDER BY hour_start LIMIT 48""".stripMargin,
    // Integer sufficient statistics per lag; one double expression at
    // the end (same op order both engines).
    "acf1_autocorrelation" ->
      """WITH h AS (SELECT epoch(date_trunc('hour', ts))//3600 AS hi,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |l AS (SELECT * FROM (VALUES (1),(2),(3),(4),(6),(12),(24)) AS t(lag_hours)),
        |p AS (SELECT l.lag_hours, a.n AS x, b.n AS y
        |  FROM l JOIN h a ON true JOIN h b ON b.hi = a.hi + l.lag_hours),
        |s AS (SELECT lag_hours, CAST(count(*) AS BIGINT) AS np,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(y*y) AS BIGINT) AS syy FROM p GROUP BY 1),
        |d AS (SELECT lag_hours, np, CAST(np AS DOUBLE) AS npd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd FROM s)
        |SELECT CAST(lag_hours AS INT) AS lag_hours, np AS n_pairs,
        |  round((npd*sxyd - sxd*syd)
        |    / (sqrt(npd*sxxd - sxd*sxd) * sqrt(npd*syyd - syd*syd)), 6) AS acf
        |FROM d ORDER BY lag_hours""".stripMargin,
    // Durations sum as integer micros; ties inside a session are
    // gap-0 on any tie order, so the islands are order-ambiguity-free.
    "isl1_batch_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS us FROM events),
        |o AS (SELECT user_id, us,
        |    lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
        |m AS (SELECT user_id, us, CASE WHEN prev IS NULL
        |    OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s FROM o),
        |s AS (SELECT user_id, us, CAST(SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM m),
        |g AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(max(us)-min(us) AS BIGINT) AS dur_us FROM s GROUP BY 1,2)
        |SELECT n_events AS session_size, CAST(count(*) AS BIGINT) AS n_sessions,
        |  round(CAST(sum(dur_us) AS BIGINT)/1000000.0/count(*), 6) AS avg_duration_sec
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    // The SAME recursive CTE text the Spark side runs (integer cents
    // end-to-end — nothing to drift).
    "rcte1_batch_packing" ->
      """WITH RECURSIVE o AS (
        |  SELECT o_custkey AS cust, CAST(round(o_totalprice*100) AS BIGINT) AS cents,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
        |  FROM orders),
        |walk AS (
        |  SELECT cust, rn, cents AS acc, CAST(1 AS BIGINT) AS batch
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.cust, o.rn,
        |    CASE WHEN w.acc + o.cents > 30000000 THEN o.cents
        |         ELSE w.acc + o.cents END AS acc,
        |    CASE WHEN w.acc + o.cents > 30000000 THEN w.batch + 1
        |         ELSE w.batch END AS batch
        |  FROM walk w JOIN o ON o.cust = w.cust AND o.rn = w.rn + 1),
        |f AS (SELECT cust, max(batch) AS n_batches, max(rn) AS n_orders
        |      FROM walk GROUP BY 1)
        |SELECT CAST(n_batches AS BIGINT) AS n_batches,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(n_orders) AS BIGINT) AS total_orders
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "ewm1_ewma_hourly" -> {
      val num = graft.operators.Quality.EwmaWeights.zipWithIndex.map { case (w, k) =>
        s"(CASE WHEN lag(nd, $k) OVER w IS NOT NULL THEN $w * lag(nd, $k) OVER w ELSE 0.0 END)"
      }.mkString(" + ")
      val den = graft.operators.Quality.EwmaWeights.zipWithIndex.map { case (w, k) =>
        s"(CASE WHEN lag(nd, $k) OVER w IS NOT NULL THEN $w ELSE 0.0 END)"
      }.mkString(" + ")
      s"""WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         |    CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS DOUBLE) AS nd
         |  FROM events GROUP BY 1)
         |SELECT hour_start, n, round(($num) / ($den), 6) AS ewma
         |FROM h WINDOW w AS (ORDER BY hour_start)
         |ORDER BY hour_start LIMIT 48""".stripMargin
    },
    "ts3_seasonal_profile" ->
      """WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |    CAST(hour(ts) AS INT) AS hod, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT hod, CAST(sum(n) AS DOUBLE) / count(*) AS seasonal FROM h GROUP BY 1)
        |SELECT h.hour_start, h.n, round(s.seasonal, 6) AS seasonal_mean,
        |  round(h.n - s.seasonal, 6) AS residual
        |FROM h JOIN s USING (hod) ORDER BY hour_start LIMIT 48""".stripMargin,
    "gc1_growth_curve" ->
      """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
        |h AS (SELECT strftime(date_trunc('hour', first_ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |    CAST(count(*) AS BIGINT) AS n_new_users FROM f GROUP BY 1)
        |SELECT hour_start, n_new_users,
        |  CAST(sum(n_new_users) OVER (ORDER BY hour_start
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM h ORDER BY hour_start LIMIT 48""".stripMargin,
    "ab1_ab_readout" ->
      """WITH u AS (SELECT user_id, CASE WHEN user_id % 3 = 0 THEN 0 ELSE 1 END AS grp,
        |    max(CASE WHEN event_type = 'purchase' AND value > 200 THEN 1 ELSE 0 END) AS converted
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(converted) AS BIGINT) AS conv FROM u GROUP BY 1),
        |w AS (SELECT
        |    max(CASE WHEN grp = 0 THEN n END) AS n_a, max(CASE WHEN grp = 0 THEN conv END) AS c_a,
        |    max(CASE WHEN grp = 1 THEN n END) AS n_b, max(CASE WHEN grp = 1 THEN conv END) AS c_b
        |  FROM g)
        |SELECT n_a, c_a, n_b, c_b,
        |  round(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
        |  round(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
        |  round(CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a, 6) AS lift,
        |  round((CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a)
        |    / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        |      * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        |      * (1.0/n_a + 1.0/n_b)), 6) AS z_stat
        |FROM w""".stripMargin,
    "rs1_fixed_sample" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS priority
        |FROM documents ORDER BY priority, doc_id LIMIT 25""".stripMargin,
    // Aho-Corasick blocklist scan restated per pattern: the kernel
    // counts EVERY match position, which for the gate's border-free
    // dictionary equals the non-overlapping split count per pattern.
    "t17_blocklist" ->
      """WITH pats AS (SELECT unnest(['scan','column','order','sort','join',
        |    'merge','group','query','stream','filter','batch','vector']) AS p),
        |d AS (SELECT doc_id, source, lower(text) AS t FROM documents),
        |occ AS (SELECT d.doc_id, d.source,
        |    CAST(length(string_split(d.t, pats.p)) - 1 AS BIGINT) AS c
        |  FROM d CROSS JOIN pats),
        |per_doc AS (SELECT doc_id, source, sum(c) AS hits,
        |    sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS terms
        |  FROM occ GROUP BY 1, 2)
        |SELECT source, CAST(sum(hits) AS BIGINT) AS total_hits,
        |  CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
        |  CAST(sum(terms) AS BIGINT) AS sum_distinct_terms
        |FROM per_doc GROUP BY source ORDER BY source""".stripMargin,
    // Capstone: blocklist-clean filter (< 11 distinct dictionary
    // terms) -> ES-weighted 100-doc sample -> per-source composition.
    "c8_curation_v4" ->
      """WITH pats AS (SELECT unnest(['scan','column','order','sort','join',
        |    'merge','group','query','stream','filter','batch','vector']) AS p),
        |d AS (SELECT doc_id, source, n_chars, lower(text) AS t,
        |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents WHERE n_chars > 0),
        |terms AS (SELECT d.doc_id,
        |    sum(CASE WHEN length(string_split(d.t, pats.p)) > 1
        |      THEN 1 ELSE 0 END) AS nt
        |  FROM d CROSS JOIN pats GROUP BY 1),
        |clean AS (SELECT d.* FROM d JOIN terms USING (doc_id)
        |  WHERE terms.nt < 11),
        |k AS (SELECT doc_id, source, n_chars,
        |    ln(((strpos('0123456789abcdef', h[1])-1)*268435456.0 +
        |      (strpos('0123456789abcdef', h[2])-1)*16777216.0 +
        |      (strpos('0123456789abcdef', h[3])-1)*1048576.0 +
        |      (strpos('0123456789abcdef', h[4])-1)*65536.0 +
        |      (strpos('0123456789abcdef', h[5])-1)*4096.0 +
        |      (strpos('0123456789abcdef', h[6])-1)*256.0 +
        |      (strpos('0123456789abcdef', h[7])-1)*16.0 +
        |      (strpos('0123456789abcdef', h[8])-1)*1.0 + 0.5)
        |      / 4294967296.0) / n_chars AS k0 FROM clean),
        |sample AS (SELECT * FROM k ORDER BY k0 DESC, doc_id ASC LIMIT 100)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM sample GROUP BY source ORDER BY source""".stripMargin,
    "cp1_cusum_hourly" ->
      """WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |s AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mean FROM h)
        |SELECT hour_start, n,
        |  round(CAST(sum(CAST(round(n - s.mean, 6) AS DECIMAL(20,6)))
        |    OVER (ORDER BY hour_start ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS cusum
        |FROM h CROSS JOIN s ORDER BY hour_start""".stripMargin,
    "hh1_top_tokens_source" ->
      """WITH t AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
        |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
        |r AS (SELECT source, w, n,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n DESC, w ASC) AS INT) AS rank FROM c)
        |SELECT source, w, n, rank FROM r WHERE rank <= 3
        |ORDER BY source, rank""".stripMargin,
    "cs1_chi_square" ->
      """WITH o AS (SELECT event_type, user_id % 2 AS cohort,
        |    CAST(count(*) AS BIGINT) AS obs FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rtot FROM o GROUP BY 1),
        |ct AS (SELECT cohort, CAST(sum(obs) AS BIGINT) AS ctot FROM o GROUP BY 1),
        |n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o),
        |t AS (SELECT o.event_type, o.cohort, obs,
        |    CAST(rt.rtot AS DOUBLE) * ct.ctot / n.n AS exp
        |  FROM o JOIN rt USING (event_type) JOIN ct USING (cohort) CROSS JOIN n)
        |SELECT event_type, CAST(cohort AS BIGINT) AS cohort, obs,
        |  round(exp, 6) AS expected,
        |  round((obs - exp) * (obs - exp) / exp, 6) AS chi2_term
        |FROM t ORDER BY event_type, cohort""".stripMargin,
    "ols1_linear_fit" ->
      """WITH s AS (SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))
        |    * CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))
        |    * CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sxy
        |  FROM lineitem)
        |SELECT n, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
        |FROM s""".stripMargin,
    "seg1_rfm_segments" ->
      """WITH m AS (SELECT o_custkey AS c, max(o_orderdate) AS last_order,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY 1),
        |q AS (SELECT c, freq, monetary,
        |    ntile(4) OVER (ORDER BY last_order DESC, c) AS r_q,
        |    ntile(4) OVER (ORDER BY freq DESC, c) AS f_q,
        |    ntile(4) OVER (ORDER BY monetary DESC, c) AS m_q
        |  FROM m)
        |SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q, CAST(m_q AS INT) AS m_q,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  round(CAST(sum(CAST(round(monetary, 2) AS DECIMAL(30,2))) AS DOUBLE)
        |    / count(*), 6) AS avg_monetary
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "w9_group_topk" ->
      """WITH j AS (SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |r AS (SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank FROM j)
        |SELECT c_mktsegment, o_orderkey, o_totalprice, rank FROM r
        |WHERE rank <= 3 ORDER BY c_mktsegment, rank""".stripMargin,
    // The oracle states the NAIVE triple count; the Spark plan runs
    // the apriori-pruned enumeration — downward closure makes them
    // provably identical (the prune cuts candidates, not answers).
    "fi2_frequent_triples" ->
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |t AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc
        |  FROM i a
        |  JOIN i b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  JOIN i c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey)
        |SELECT pa AS part_a, pb AS part_b, pc AS part_c,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM t GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |ORDER BY support DESC, part_a, part_b, part_c""".stripMargin,
    "q7_nation_volume" ->
      """WITH n AS (SELECT n_nationkey, n_name FROM nation
        |  WHERE n_name IN ('NATION_1', 'NATION_2'))
        |SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN n sn ON s_nationkey = sn.n_nationkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN n cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q14_promo_share" ->
      """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
        |  round(100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(30,6))) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE), 6) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "fi1_frequent_pairs" ->
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY support DESC, part_a, part_b""".stripMargin,
    "fh1_feature_hashing" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents WHERE doc_id < 10),
        |h AS (SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 7), i -> CAST(strpos('0123456789abcdef',
        |        md5(w)[i]) - 1 AS BIGINT))), (a,c) -> a*16 + c) % 32 AS INT) AS dim
        |  FROM t)
        |SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS n
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin,
    "od1_mad_outliers" ->
      """WITH m AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, abs(e.value - m.med) AS dev
        |  FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
        |  FROM d GROUP BY 1)
        |SELECT e.event_type, m.med, md.mad,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN abs(e.value - m.med) > 3.0 * 1.4826 * md.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN m USING (event_type) JOIN md USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "dp2_psi_drift" ->
      """WITH b AS (SELECT CAST(floor(value/100) AS INT) AS bin,
        |    event_id % 2 AS half FROM events),
        |r AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_ref FROM b WHERE half = 0 GROUP BY 1),
        |c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_cur FROM b WHERE half = 1 GROUP BY 1),
        |tr AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t FROM r),
        |tc AS (SELECT CAST(sum(n_cur) AS BIGINT) AS t FROM c),
        |j AS (SELECT coalesce(r.bin, c.bin) AS bin,
        |    coalesce(r.n_ref, 0) AS n_ref, coalesce(c.n_cur, 0) AS n_cur
        |  FROM r FULL OUTER JOIN c ON r.bin = c.bin)
        |SELECT j.bin, j.n_ref, j.n_cur,
        |  round(CAST(j.n_ref AS DOUBLE)/tr.t, 6) AS p,
        |  round(CAST(j.n_cur AS DOUBLE)/tc.t, 6) AS q,
        |  (j.n_ref = 0 OR j.n_cur = 0) AS one_sided,
        |  round((greatest(CAST(j.n_cur AS DOUBLE)/tc.t, 1e-6)
        |       - greatest(CAST(j.n_ref AS DOUBLE)/tr.t, 1e-6))
        |    * ln(greatest(CAST(j.n_cur AS DOUBLE)/tc.t, 1e-6)
        |       / greatest(CAST(j.n_ref AS DOUBLE)/tr.t, 1e-6)), 6) AS psi_term
        |FROM j CROSS JOIN tr CROSS JOIN tc
        |ORDER BY bin""".stripMargin,
    "lr1_score_calibration" ->
      """WITH s AS (SELECT vec_id, label,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |    i -> CAST(embedding[i] AS DOUBLE) * ((((i-1)*37) % 21 - 10)/10.0))),
        |    (a,b) -> a + b) AS score
        |  FROM embeddings),
        |b AS (SELECT CAST(least(greatest(floor(score * 2), -4), 3) AS INT) AS bin,
        |    score, label FROM s)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(CAST(sum(CAST(round(score, 8) AS DECIMAL(20,8))) AS DOUBLE)
        |    / count(*), 6) AS mean_score,
        |  round(CAST(sum(CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS pos_rate
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "v4_matryoshka_norms" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings WHERE vec_id < 50),
        |n AS (SELECT vec_id,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x*x)),
        |      (a,b) -> a + b)) AS nf,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(e[1:16], x -> x*x)),
        |      (a,b) -> a + b)) AS nh
        |  FROM v)
        |SELECT vec_id, round(nf, 6) AS norm_full, round(nh, 6) AS norm_head,
        |  round(nh / nf, 6) AS cos_trunc
        |FROM n ORDER BY vec_id""".stripMargin,
    "bp2_bpe_train" ->
      """WITH s0 AS (SELECT doc_id,
        |    list_reduce(list_transform(regexp_split_to_array(trim(text), '\s+'),
        |      t -> chr(30) || t), (a,b) -> a || b) AS s
        |  FROM documents),
        |t1 AS (SELECT doc_id, list_filter(string_split(s, chr(30)), x -> x != '') AS ws FROM s0),
        |p1 AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS n
        |  FROM t1, unnest(range(1, len(ws))) AS r(i) GROUP BY 1, 2),
        |b1 AS (SELECT w1, w2, n FROM p1 ORDER BY n DESC, w1, w2 LIMIT 1),
        |s1 AS (SELECT doc_id, replace(s, chr(30)||b1.w1||chr(30)||b1.w2,
        |    chr(30)||b1.w1||b1.w2) AS s FROM s0 CROSS JOIN b1),
        |t2 AS (SELECT doc_id, list_filter(string_split(s, chr(30)), x -> x != '') AS ws FROM s1),
        |p2 AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS n
        |  FROM t2, unnest(range(1, len(ws))) AS r(i) GROUP BY 1, 2),
        |b2 AS (SELECT w1, w2, n FROM p2 ORDER BY n DESC, w1, w2 LIMIT 1),
        |s2 AS (SELECT doc_id, replace(s, chr(30)||b2.w1||chr(30)||b2.w2,
        |    chr(30)||b2.w1||b2.w2) AS s FROM s1 CROSS JOIN b2),
        |t3 AS (SELECT doc_id, list_filter(string_split(s, chr(30)), x -> x != '') AS ws FROM s2),
        |p3 AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS n
        |  FROM t3, unnest(range(1, len(ws))) AS r(i) GROUP BY 1, 2),
        |b3 AS (SELECT w1, w2, n FROM p3 ORDER BY n DESC, w1, w2 LIMIT 1)
        |SELECT CAST(1 AS INT) AS step, w1, w2, CAST(n AS BIGINT) AS n FROM b1
        |UNION ALL SELECT 2, w1, w2, CAST(n AS BIGINT) FROM b2
        |UNION ALL SELECT 3, w1, w2, CAST(n AS BIGINT) FROM b3
        |ORDER BY step""".stripMargin,
    "dd12_ingest_dedup" ->
      """SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 10 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents b WHERE b.doc_id % 10 != 0
        |    AND md5(substring(b.text, 1, 100)) = md5(substring(d.text, 1, 100)))
        |ORDER BY doc_id""".stripMargin,
    "wz1_winsorized_stats" ->
      """WITH q AS (SELECT round(quantile_cont(l_extendedprice, 0.01), 6) AS p01,
        |    round(quantile_cont(l_extendedprice, 0.99), 6) AS p99 FROM lineitem),
        |w AS (SELECT least(greatest(l_extendedprice, q.p01), q.p99) AS w, q.p01, q.p99
        |  FROM lineitem CROSS JOIN q)
        |SELECT count(*) AS n, any_value(p01) AS p01, any_value(p99) AS p99,
        |  round(CAST(sum(CAST(w AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6) AS avg_wins,
        |  round(min(w), 6) AS min_wins, round(max(w), 6) AS max_wins
        |FROM w""".stripMargin,
    "ws1_weighted_sample" ->
      """WITH u AS (SELECT doc_id, n_chars,
        |    CAST((doc_id * 2654435761) % 1000003 + 1 AS DOUBLE) / 1000004.0 AS u
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars, round(ln(u) / CAST(n_chars AS DOUBLE), 10) AS wkey
        |FROM u ORDER BY wkey DESC, doc_id ASC LIMIT 20""".stripMargin,
    "div1_ngram_diversity" ->
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g1 AS (SELECT unnest(list_transform(range(1, len(ws) + 1), i -> ws[i])) AS g
        |  FROM w WHERE len(ws) >= 1),
        |g2 AS (SELECT unnest(list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' '))) AS g
        |  FROM w WHERE len(ws) >= 2),
        |g3 AS (SELECT unnest(list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))) AS g
        |  FROM w WHERE len(ws) >= 3),
        |a1 AS (SELECT 1 AS n, count(*) AS n_total, count(DISTINCT g) AS n_distinct FROM g1),
        |a2 AS (SELECT 2 AS n, count(*) AS n_total, count(DISTINCT g) AS n_distinct FROM g2),
        |a3 AS (SELECT 3 AS n, count(*) AS n_total, count(DISTINCT g) AS n_distinct FROM g3)
        |SELECT n, n_total, n_distinct,
        |  round(CAST(n_distinct AS DOUBLE) / n_total, 6) AS distinct_ratio
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3)
        |ORDER BY n""".stripMargin,
    "pr1_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |edges AS (
        |  SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst FROM pairs
        |  UNION ALL
        |  SELECT 's' || CAST(s AS VARCHAR) AS src, 'c' || CAST(c AS VARCHAR) AS dst FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
        |p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
        |p1 AS (SELECT e.dst AS node,
        |    0.15 / any_value(nn.n) + 0.85 * (CAST(sum(CAST(round(p.pr / d.deg * 100000000000000.0) AS BIGINT)) AS DOUBLE) / 100000000000000.0) AS pr
        |  FROM edges e JOIN p0 p ON e.src = p.node JOIN deg d ON e.src = d.node CROSS JOIN nn
        |  GROUP BY e.dst),
        |p2 AS (SELECT e.dst AS node,
        |    0.15 / any_value(nn.n) + 0.85 * (CAST(sum(CAST(round(p.pr / d.deg * 100000000000000.0) AS BIGINT)) AS DOUBLE) / 100000000000000.0) AS pr
        |  FROM edges e JOIN p1 p ON e.src = p.node JOIN deg d ON e.src = d.node CROSS JOIN nn
        |  GROUP BY e.dst),
        |p3 AS (SELECT e.dst AS node,
        |    0.15 / any_value(nn.n) + 0.85 * (CAST(sum(CAST(round(p.pr / d.deg * 100000000000000.0) AS BIGINT)) AS DOUBLE) / 100000000000000.0) AS pr
        |  FROM edges e JOIN p2 p ON e.src = p.node JOIN deg d ON e.src = d.node CROSS JOIN nn
        |  GROUP BY e.dst)
        |SELECT node, round(pr, 12) AS pr FROM p3
        |ORDER BY pr DESC, node ASC LIMIT 25""".stripMargin,
    // Two quantized HITS mutual updates (pr1's determinism trick twice
    // over): contributions ride round(·1e14) BIGINTs, each L2 norm
    // folds round(·²·1e9) integers before one double sqrt, divisions
    // replay in the same IEEE order — fuzz-matched against a Python
    // replay before wiring.
    "hits1_hubs_authorities" ->
      """WITH pairs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |h0 AS (SELECT DISTINCT c, 1.0 AS h FROM pairs),
        |a1r AS (SELECT p.s,
        |    CAST(sum(CAST(round(h.h*1e14) AS BIGINT)) AS DOUBLE)/1e14 AS a
        |  FROM pairs p JOIN h0 h ON p.c = h.c GROUP BY p.s),
        |a1n AS (SELECT sqrt(CAST(sum(CAST(round(a*a*1e9) AS HUGEINT))
        |    AS DOUBLE)/1e9) AS nrm FROM a1r),
        |a1 AS (SELECT s, a/a1n.nrm AS a FROM a1r CROSS JOIN a1n),
        |h1r AS (SELECT p.c,
        |    CAST(sum(CAST(round(a.a*1e14) AS BIGINT)) AS DOUBLE)/1e14 AS h
        |  FROM pairs p JOIN a1 a ON p.s = a.s GROUP BY p.c),
        |h1n AS (SELECT sqrt(CAST(sum(CAST(round(h*h*1e9) AS HUGEINT))
        |    AS DOUBLE)/1e9) AS nrm FROM h1r),
        |h1 AS (SELECT c, h/h1n.nrm AS h FROM h1r CROSS JOIN h1n),
        |a2r AS (SELECT p.s,
        |    CAST(sum(CAST(round(h.h*1e14) AS BIGINT)) AS DOUBLE)/1e14 AS a
        |  FROM pairs p JOIN h1 h ON p.c = h.c GROUP BY p.s),
        |a2n AS (SELECT sqrt(CAST(sum(CAST(round(a*a*1e9) AS HUGEINT))
        |    AS DOUBLE)/1e9) AS nrm FROM a2r),
        |a2 AS (SELECT s, a/a2n.nrm AS a FROM a2r CROSS JOIN a2n),
        |h2r AS (SELECT p.c,
        |    CAST(sum(CAST(round(a.a*1e14) AS BIGINT)) AS DOUBLE)/1e14 AS h
        |  FROM pairs p JOIN a2 a ON p.s = a.s GROUP BY p.c),
        |h2n AS (SELECT sqrt(CAST(sum(CAST(round(h*h*1e9) AS HUGEINT))
        |    AS DOUBLE)/1e9) AS nrm FROM h2r),
        |h2 AS (SELECT c, h/h2n.nrm AS h FROM h2r CROSS JOIN h2n),
        |topa AS (SELECT 's' || CAST(s AS VARCHAR) AS node,
        |    round(a, 9) AS score FROM a2 ORDER BY score DESC, node ASC LIMIT 12),
        |toph AS (SELECT 'c' || CAST(c AS VARCHAR) AS node,
        |    round(h, 9) AS score FROM h2 ORDER BY score DESC, node ASC LIMIT 12)
        |SELECT node, score FROM (SELECT * FROM topa UNION ALL SELECT * FROM toph)
        |ORDER BY score DESC, node ASC""".stripMargin,
    // Fixed-round synchronous LPA; argmax by (count DESC, label ASC)
    // stated as a window here, computed as a min-struct aggregation
    // in Spark — same deterministic winner.
    "lp1_label_propagation" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |edges AS (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s, c FROM pairs),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
        |l1 AS (SELECT dst AS node, label FROM (
        |    SELECT e.dst, l.label,
        |      row_number() OVER (PARTITION BY e.dst
        |        ORDER BY count(*) DESC, l.label ASC) AS rn
        |    FROM edges e JOIN l0 l ON e.src = l.node GROUP BY e.dst, l.label)
        |  WHERE rn = 1),
        |l2 AS (SELECT dst AS node, label FROM (
        |    SELECT e.dst, l.label,
        |      row_number() OVER (PARTITION BY e.dst
        |        ORDER BY count(*) DESC, l.label ASC) AS rn
        |    FROM edges e JOIN l1 l ON e.src = l.node GROUP BY e.dst, l.label)
        |  WHERE rn = 1),
        |l3 AS (SELECT dst AS node, label FROM (
        |    SELECT e.dst, l.label,
        |      row_number() OVER (PARTITION BY e.dst
        |        ORDER BY count(*) DESC, l.label ASC) AS rn
        |    FROM edges e JOIN l2 l ON e.src = l.node GROUP BY e.dst, l.label)
        |  WHERE rn = 1)
        |SELECT label AS community, count(*) AS n_nodes FROM l3
        |GROUP BY 1 ORDER BY n_nodes DESC, community ASC LIMIT 25""".stripMargin,
    // Fixed-round Bellman-Ford; distances exact BIGINT cents.
    "sp1_cheapest_routes" ->
      """WITH wt AS (
        |  SELECT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s,
        |    min(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS w
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT c AS src, s AS dst, w FROM wt
        |  UNION ALL SELECT s, c, w FROM wt),
        |d0 AS (SELECT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS d
        |  FROM customer WHERE c_nationkey = 0
        |  AND c_custkey * 2 IN (SELECT src FROM edges)),
        |d1 AS (SELECT node, min(d) AS d FROM (
        |    SELECT node, d FROM d0 UNION ALL
        |    SELECT e.dst, p.d + e.w FROM edges e JOIN d0 p ON e.src = p.node)
        |  GROUP BY 1),
        |d2 AS (SELECT node, min(d) AS d FROM (
        |    SELECT node, d FROM d1 UNION ALL
        |    SELECT e.dst, p.d + e.w FROM edges e JOIN d1 p ON e.src = p.node)
        |  GROUP BY 1),
        |d3 AS (SELECT node, min(d) AS d FROM (
        |    SELECT node, d FROM d2 UNION ALL
        |    SELECT e.dst, p.d + e.w FROM edges e JOIN d2 p ON e.src = p.node)
        |  GROUP BY 1),
        |d4 AS (SELECT node, min(d) AS d FROM (
        |    SELECT node, d FROM d3 UNION ALL
        |    SELECT e.dst, p.d + e.w FROM edges e JOIN d3 p ON e.src = p.node)
        |  GROUP BY 1)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
        |    ELSE 's' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
        |  d AS dist_cents
        |FROM d4 WHERE d > 0 ORDER BY dist_cents, node LIMIT 25""".stripMargin,
    // Weighted PageRank over the word co-occurrence graph; same
    // integer-scaled contribution discipline as pr1.
    "tr1_textrank_keywords" ->
      """WITH ww AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |b AS (SELECT
        |    unnest(list_transform(range(1, len(ws)),
        |      i -> least(ws[i], ws[i+1]))) AS u,
        |    unnest(list_transform(range(1, len(ws)),
        |      i -> greatest(ws[i], ws[i+1]))) AS v
        |  FROM ww WHERE len(ws) >= 2),
        |und AS (SELECT u, v, count(*) AS cw FROM b GROUP BY 1, 2),
        |edges AS (SELECT u AS src, v AS dst, cw FROM und
        |  UNION ALL SELECT v, u, cw FROM und),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |wdeg AS (SELECT src AS node, CAST(sum(cw) AS BIGINT) AS wd
        |  FROM edges GROUP BY 1),
        |p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
        |p1 AS (SELECT e.dst AS node,
        |    0.15 / any_value(nn.n) + 0.85 * (CAST(sum(CAST(round(p.pr * e.cw / d.wd * 100000000000000.0) AS BIGINT)) AS DOUBLE) / 100000000000000.0) AS pr
        |  FROM edges e JOIN p0 p ON e.src = p.node JOIN wdeg d ON e.src = d.node CROSS JOIN nn
        |  GROUP BY e.dst),
        |p2 AS (SELECT e.dst AS node,
        |    0.15 / any_value(nn.n) + 0.85 * (CAST(sum(CAST(round(p.pr * e.cw / d.wd * 100000000000000.0) AS BIGINT)) AS DOUBLE) / 100000000000000.0) AS pr
        |  FROM edges e JOIN p1 p ON e.src = p.node JOIN wdeg d ON e.src = d.node CROSS JOIN nn
        |  GROUP BY e.dst),
        |p3 AS (SELECT e.dst AS node,
        |    0.15 / any_value(nn.n) + 0.85 * (CAST(sum(CAST(round(p.pr * e.cw / d.wd * 100000000000000.0) AS BIGINT)) AS DOUBLE) / 100000000000000.0) AS pr
        |  FROM edges e JOIN p2 p ON e.src = p.node JOIN wdeg d ON e.src = d.node CROSS JOIN nn
        |  GROUP BY e.dst)
        |SELECT node AS word, round(pr, 12) AS pr FROM p3
        |ORDER BY pr DESC, word ASC LIMIT 20""".stripMargin,
    // Fellegi-Sunter: nationkey blocking, three cents-band agreement
    // fields, micro-nat integer log-odds weights (same literals as
    // the Spark plan).
    "rl1_record_linkage" ->
      """WITH c AS (SELECT c_custkey, c_nationkey AS blk,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cb FROM customer),
        |s AS (SELECT s_suppkey, s_nationkey AS blk,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS sb FROM supplier),
        |p AS (SELECT c_custkey, s_suppkey,
        |    (cb >= 0) = (sb >= 0) AS a1,
        |    floor(cb / 100000.0) = floor(sb / 100000.0) AS a2,
        |    floor(cb / 1000.0) = floor(sb / 1000.0) AS a3
        |  FROM c JOIN s USING (blk)),
        |sc AS (SELECT c_custkey, s_suppkey,
        |    CAST(a1 AS INT) + CAST(a2 AS INT) + CAST(a3 AS INT) AS n_agree,
        |    (CASE WHEN a1 THEN 492476 ELSE -1504077 END
        |     + CASE WHEN a2 THEN 1763589 ELSE -1076139 END
        |     + CASE WHEN a3 THEN 3601868 ELSE -783394 END) AS su
        |  FROM p)
        |SELECT c_custkey, s_suppkey, n_agree,
        |  round(CAST(su AS DOUBLE) / 1000000.0, 6) AS score
        |FROM sc ORDER BY su DESC, c_custkey, s_suppkey LIMIT 20""".stripMargin,
    // Left-outer watermarked stream-stream join == the batch left
    // range join once sentinel rows flush all held state.
    "st16_stream_outer_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |    make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events)
        |SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |  p.value AS amount
        |FROM e p LEFT JOIN e c
        |  ON c.event_type = 'click'
        |  AND p.user_id = c.user_id
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
        |WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id, click_id""".stripMargin,
    "lm2_trigram_backoff" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |base AS (SELECT * FROM w WHERE doc_id % 10 != 0),
        |delta AS (SELECT * FROM w WHERE doc_id % 10 = 0),
        |t3 AS (SELECT ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3, count(*) AS c
        |  FROM base, unnest(range(1, len(ws) - 1)) AS r(i) WHERE len(ws) >= 3 GROUP BY 1,2,3),
        |t2 AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS c
        |  FROM base, unnest(range(1, len(ws))) AS r(i) WHERE len(ws) >= 2 GROUP BY 1,2),
        |t1 AS (SELECT t.w AS w1, count(*) AS c
        |  FROM (SELECT unnest(ws) AS w FROM base) t GROUP BY 1),
        |tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM t1),
        |pos AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
        |  FROM delta, unnest(range(1, len(ws) - 1)) AS r(i) WHERE len(ws) >= 3),
        |sc AS (SELECT pos.doc_id,
        |    CASE WHEN t3.c IS NOT NULL THEN CAST(t3.c AS DOUBLE) / b12.c
        |         WHEN b23.c IS NOT NULL THEN 0.4 * (CAST(b23.c AS DOUBLE) / u2.c)
        |         WHEN u3.c IS NOT NULL THEN 0.4 * (0.4 * (CAST(u3.c AS DOUBLE) / tt.t))
        |         ELSE 0.4 * (0.4 * (0.5 / tt.t)) END AS s
        |  FROM pos
        |  LEFT JOIN t3 ON pos.w1 = t3.w1 AND pos.w2 = t3.w2 AND pos.w3 = t3.w3
        |  LEFT JOIN t2 b12 ON pos.w1 = b12.w1 AND pos.w2 = b12.w2
        |  LEFT JOIN t2 b23 ON pos.w2 = b23.w1 AND pos.w3 = b23.w2
        |  LEFT JOIN t1 u2 ON pos.w2 = u2.w1
        |  LEFT JOIN t1 u3 ON pos.w3 = u3.w1
        |  CROSS JOIN tt),
        |agg AS (SELECT doc_id, sum(CAST(round(-ln(s), 8) AS DECIMAL(20,8))) AS nll,
        |    CAST(count(*) AS BIGINT) AS n_pos FROM sc GROUP BY 1)
        |SELECT doc_id, n_pos,
        |  round(CAST(nll AS DOUBLE) / n_pos, 6) AS avg_nll,
        |  round(exp(CAST(nll AS DOUBLE) / n_pos), 6) AS ppl
        |FROM agg ORDER BY ppl DESC, doc_id LIMIT 20""".stripMargin,
    "pmi1_collocations" ->
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
        |  FROM w WHERE len(ws) >= 2),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
        |c2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |ch AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
        |ct AS (SELECT w2, count(*) AS c2t FROM b GROUP BY 1)
        |SELECT c2.w1, c2.w2, CAST(c2.c12 AS BIGINT) AS c12,
        |  round(ln(CAST(c2.c12 AS DOUBLE) * nb.n
        |    / (CAST(ch.c1 AS DOUBLE) * ct.c2t)), 6) AS pmi
        |FROM c2 JOIN ch USING (w1) JOIN ct USING (w2) CROSS JOIN nb
        |WHERE c2.c12 >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    "lm1_bigram_ppl" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
        |  FROM w WHERE len(ws) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
        |vv AS (SELECT count(DISTINCT t.w) AS v
        |  FROM (SELECT unnest(ws) AS w FROM w) t),
        |nll AS (SELECT b.doc_id,
        |    CAST(round(-ln(CAST(c2.c12 + 1 AS DOUBLE)
        |      / CAST(c1.c1 + vv.v AS DOUBLE)), 8) AS DECIMAL(20,8)) AS nll
        |  FROM b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |  JOIN c1 ON b.w1 = c1.w1 CROSS JOIN vv),
        |agg AS (SELECT doc_id, sum(nll) AS s, count(*) AS n_bigrams
        |  FROM nll GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  round(CAST(s AS DOUBLE) / n_bigrams, 6) AS avg_nll,
        |  round(exp(CAST(s AS DOUBLE) / n_bigrams), 6) AS ppl
        |FROM agg ORDER BY ppl DESC, doc_id ASC LIMIT 20""".stripMargin,
    "t11_top_bigrams" ->
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i+1])) AS bigram
        |  FROM w WHERE len(ws) >= 2)
        |SELECT bigram, count(*) AS n FROM b
        |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,
    "sa1_hash_sample" ->
      """SELECT doc_id FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |ORDER BY doc_id""".stripMargin,
    // AQE only re-partitions — the answer is threshold-independent,
    // so the oracle is the plain join+aggregate.
    "sk3_aqe_skew_join" ->
      """WITH f AS (SELECT CASE WHEN l_orderkey % 3 <> 0 THEN 0
        |      ELSE l_orderkey END AS k, l_extendedprice FROM lineitem),
        |d AS (SELECT DISTINCT CASE WHEN o_orderkey % 3 <> 0 THEN 0
        |      ELSE o_orderkey END AS k FROM orders)
        |SELECT d.k % 7 AS bucket, count(*) AS n_rows,
        |  CAST(sum(CAST(f.l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM f JOIN d ON f.k = d.k
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sk2_salted_join" ->
      """SELECT upper(event_type) AS code_str, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "v2_quantize_int8" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |q AS (SELECT vec_id,
        |    list_transform(v, x -> CAST(floor(x * (127.0 / mx) + 0.5) AS INT)) AS qv
        |  FROM m)
        |SELECT vec_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(qv, x -> CAST(x AS BIGINT))), (a, b) -> a + b) AS q_sum,
        |  list_min(qv) AS q_min,
        |  list_max(qv) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin,
    "k5_partition_replace" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |    strftime(ts, '%Y%m%d') AS day FROM events),
        |days AS (SELECT DISTINCT day FROM e ORDER BY day LIMIT 3),
        |d AS (SELECT day, row_number() OVER (ORDER BY day) AS rn FROM days)
        |SELECT e.event_id, e.user_id, e.event_type,
        |  CASE WHEN d.rn = 2 THEN e.value + 500.0 ELSE e.value END AS value,
        |  e.day AS partition_date
        |FROM e JOIN d ON e.day = d.day
        |ORDER BY event_id""".stripMargin,
    "st8_stream_dedup" ->
      """SELECT event_id, user_id, value FROM events
        |ORDER BY event_id""".stripMargin,
    // Compaction must be a no-op on content: oracle = the source table.
    "k6_compaction" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,
    // Morton layout key: mirrored quantization doubles, then the same
    // 16-term bit-interleave sum generated into the SQL text.
    "z1_zorder_layout" -> {
      val inter = (0 until 16).map(i =>
        s"(((cx >> $i) & 1) << ${2 * i}) + (((cy >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH s AS (SELECT CAST(min(o_custkey) AS DOUBLE) AS minc,
         |    CAST(max(o_custkey) AS DOUBLE) AS maxc,
         |    min(CAST(o_totalprice AS DOUBLE)) AS minp,
         |    max(CAST(o_totalprice AS DOUBLE)) AS maxp FROM orders),
         |q AS (SELECT o_orderkey,
         |    CAST(floor((CAST(o_custkey AS DOUBLE) - minc) * 65536.0
         |      / (maxc - minc + 1.0)) AS BIGINT) AS cx,
         |    CAST(floor((CAST(o_totalprice AS DOUBLE) - minp) * 65536.0
         |      / (maxp - minp + 1.0)) AS BIGINT) AS cy
         |  FROM orders, s)
         |SELECT o_orderkey, cx, cy, CAST($inter AS BIGINT) AS zval
         |FROM q ORDER BY zval, o_orderkey""".stripMargin
    },
    // The V2 sink's commit protocol must publish exactly one copy of
    // every row: oracle = the source table.
    "k7_v2_sink_roundtrip" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,
    // The V2 connector answers these from its symbol universe (= the
    // 25 nation names) without fetching a quote; the oracle computes
    // the same three aggregates from the dim that defined the universe.
    "k9_v2_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_quotes,
        |  min(n_name) AS first_sym, max(n_name) AS last_sym
        |FROM nation""".stripMargin,
    "k10_v2_topn_pushdown" ->
      "SELECT n_name AS symbol FROM nation ORDER BY n_name LIMIT 5",
    "k11_v2_runtime_filter" ->
      "SELECT n_name AS symbol FROM nation WHERE n_regionkey = 0 ORDER BY 1",
    // One row per symbol by the source contract; generator prices are
    // strictly positive (base = 50 + u*450).
    "k13_v2_reported_partitioning" ->
      """SELECT n_name AS symbol, CAST(1 AS BIGINT) AS n_rows,
        |  true AS price_positive FROM nation ORDER BY symbol""".stripMargin,
    // Generator invariants pinned: prices strictly positive, and two
    // distinct splitmix64 streams never collide on these symbols
    // (verified against the deterministic generator at both SFs).
    "k14_v2_spj" ->
      """SELECT n_name AS symbol, true AS both_positive,
        |  true AS price_moved FROM nation ORDER BY symbol""".stripMargin,
    // mergeSchema union: even-id files predate `value`, odd-id files
    // dropped `user_id` — absent columns read as NULL per file.
    "k8_schema_evolution" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN user_id END AS user_id,
        |  event_type,
        |  CASE WHEN event_id % 2 = 1 THEN value END AS value
        |FROM events ORDER BY event_id""".stripMargin,
    "dp1_profile_events" ->
      """WITH s AS (SELECT count(*) AS n_rows,
        |  count(*) - count(event_id) AS eid_nulls, count(DISTINCT event_id) AS eid_d,
        |  CAST(min(event_id) AS DOUBLE) AS eid_min, CAST(max(event_id) AS DOUBLE) AS eid_max,
        |  count(*) - count(user_id) AS uid_nulls, count(DISTINCT user_id) AS uid_d,
        |  CAST(min(user_id) AS DOUBLE) AS uid_min, CAST(max(user_id) AS DOUBLE) AS uid_max,
        |  count(*) - count(event_type) AS et_nulls, count(DISTINCT event_type) AS et_d,
        |  min(event_type) AS et_min, max(event_type) AS et_max,
        |  count(*) - count(value) AS v_nulls, count(DISTINCT value) AS v_d,
        |  min(value) AS v_min, max(value) AS v_max
        | FROM events)
        |SELECT 'event_id' AS col_name, n_rows, eid_nulls AS n_nulls, eid_d AS n_distinct,
        |  eid_min AS min_num, eid_max AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM s
        |UNION ALL SELECT 'event_type', n_rows, et_nulls, et_d, NULL, NULL, et_min, et_max FROM s
        |UNION ALL SELECT 'user_id', n_rows, uid_nulls, uid_d, uid_min, uid_max, NULL, NULL FROM s
        |UNION ALL SELECT 'value', n_rows, v_nulls, v_d, v_min, v_max, NULL, NULL FROM s
        |ORDER BY col_name""".stripMargin,
    // Deterministic stratified sample: md5-rank within stratum is
    // engine-independent (md5 identical; hex strings sort the same).
    "sa2_stratified_sample" ->
      """WITH r AS (SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
        |  FROM documents)
        |SELECT lang, doc_id, rk FROM r WHERE rk <= 20
        |ORDER BY lang, rk""".stripMargin,
    "dq1_expectations" ->
      """WITH s AS (SELECT count(*) - count(DISTINCT event_id) AS dup_ids,
        |  count(*) - count(event_type) AS null_type,
        |  count(CASE WHEN event_type NOT IN ('click','error','purchase','signup','view')
        |    THEN 1 END) AS bad_type,
        |  count(CASE WHEN value IS NULL OR value <= 0.0 THEN 1 END) AS bad_value
        | FROM events)
        |SELECT 'event_id_unique' AS check_name, dup_ids AS n_violations, dup_ids = 0 AS passed FROM s
        |UNION ALL SELECT 'event_type_accepted', bad_type, bad_type = 0 FROM s
        |UNION ALL SELECT 'event_type_not_null', null_type, null_type = 0 FROM s
        |UNION ALL SELECT 'value_positive', bad_value, bad_value = 0 FROM s
        |ORDER BY check_name""".stripMargin,
    "w6_mom_growth" ->
      """WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |  lag(revenue) OVER (ORDER BY month) AS prev_revenue,
        |  round((revenue - lag(revenue) OVER (ORDER BY month))
        |    / lag(revenue) OVER (ORDER BY month), 6) AS growth
        |FROM m ORDER BY month""".stripMargin,
    "x9_corr_exact" ->
      """WITH s AS (SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))
        |    * CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))
        |    * CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS syy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))
        |    * CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sxy
        |FROM lineitem)
        |SELECT n, round((sxy - sx * sy / n)
        |  / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 6)
        |  AS corr_qty_price
        |FROM s""".stripMargin,
    "scd1_dimension_history" ->
      """WITH updates AS (
        |  SELECT c_custkey, 'MACHINERY' AS c_mktsegment FROM customer
        |  WHERE c_custkey % 10 = 0 AND c_mktsegment <> 'MACHINERY')
        |SELECT c.c_custkey, c.c_mktsegment, CAST(1 AS INT) AS version,
        |  CAST(CASE WHEN u.c_custkey IS NOT NULL THEN 0 ELSE 1 END AS INT) AS is_current
        |FROM customer c LEFT JOIN updates u ON c.c_custkey = u.c_custkey
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, CAST(2 AS INT), CAST(1 AS INT)
        |FROM updates
        |ORDER BY c_custkey, version""".stripMargin,
    // Funnel stage times are compared as integer micros on both sides
    // (events.ts is ns in parquet; Spark floors to us on read).
    "fn1_event_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |t1 AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN us END) AS t1
        |  FROM e GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND us >= t1.t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND us >= t2.t2 GROUP BY e.user_id),
        |u AS (SELECT t1.user_id, t1.t1, t2.t2, t3.t3 FROM t1
        |  LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id))
        |SELECT count(t1) AS n_signup, count(t2) AS n_click_after,
        |  count(t3) AS n_purchase_after,
        |  round(CAST(count(t3) AS DOUBLE) / count(t1), 6) AS conversion
        |FROM u""".stripMargin,
    "ct1_cohort_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort FROM d)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', cohort, day) AS INT) AS day_offset,
        |  count(*) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "w7_spend_quartiles" ->
      """WITH s AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey, spend,
        |  CAST(ntile(4) OVER (ORDER BY spend DESC, o_custkey) AS INT) AS quartile
        |FROM s ORDER BY o_custkey""".stripMargin,
    // Winnowing over positional 3-gram md5-60bit hashes; emitted stats
    // are order-invariant so the engines' distinct orders don't matter.
    "t12_winnowing" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, list_transform(range(1, greatest(len(ws) - 1, 1)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS grams FROM w),
        |h AS (SELECT doc_id, list_transform(grams, g ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 16),
        |        i -> CAST(strpos('0123456789abcdef', md5(g)[i]) - 1 AS BIGINT))),
        |    (a, c) -> a * 16 + c)) AS hs FROM g),
        |f AS (SELECT doc_id, CASE WHEN len(hs) >= 4
        |    THEN list_distinct(list_transform(range(1, len(hs) - 2),
        |      j -> list_min(hs[j:j+3])))
        |    ELSE list_distinct(hs) END AS fps FROM h)
        |SELECT doc_id, CAST(len(fps) AS INT) AS n_fp,
        |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
        |FROM f ORDER BY doc_id""".stripMargin,
    // Oracle confirms the PassJoin segment blocking is recall-complete
    // by brute-forcing all pairs (gate scale only).
    "dd7_editdist_pairs" ->
      """WITH p AS (SELECT doc_id, rpad(substr(text, 1, 64), 64, ' ') AS p FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.p, b.p) AS INT) AS dist
        |FROM p a JOIN p b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.p, b.p) <= 5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // The typed CentroidAggregator sums float-exact doubles whose
    // exponent span keeps every partial sum exact (spec-proved), so the
    // merge-order-free result hash-matches the posexplode+avg SQL.
    "v3_cluster_centroids" ->
      """WITH e AS (SELECT CAST(vec_id % 10 AS INT) AS cluster,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |u AS (SELECT cluster, CAST(unnest(range(len(v))) AS INT) AS dim,
        |    unnest(v) AS x FROM e)
        |SELECT cluster, dim, round(sum(x) / count(*), 6) AS mean_c
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // JL random projection with the md5-derived ±1 sign matrix; left
    // fold from +0.0 over element order, /4 = exact power-of-two scale.
    "rp1_random_projection" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |o AS (SELECT vec_id, CAST(j AS INT) AS out_dim,
        |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(0,64), d ->
        |        (CASE WHEN md5(j||'_'||d)[1] < '8' THEN CAST(1.0 AS DOUBLE)
        |              ELSE CAST(-1.0 AS DOUBLE) END)
        |        * CAST(embedding[d+1] AS DOUBLE))),
        |      (a,b) -> a + b) / 4.0, 6) AS value
        |  FROM e, unnest(range(0,16)) AS t(j))
        |SELECT vec_id, out_dim, value FROM o ORDER BY vec_id, out_dim""".stripMargin,
    // SimHash over the cross-engine md5 word hash: the oracle rebuilds
    // the 60-bit hashes (hex-char fold), takes per-bit majority votes,
    // and compares pairs by Hamming distance — equivalent to the
    // Spark side's pigeonhole chunk blocking, which is exact for
    // maxDist 7 < 8 chunks. Gated form = one deterministic 1-in-8
    // probe shard on the smaller doc_id (r13, the xl1 bound pattern):
    // mirrored here as `a.doc_id % 8 = 0`.
    "dd3_simhash_pairs" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |h AS (SELECT doc_id, list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 16),
        |        i -> CAST(strpos('0123456789abcdef', md5(w)[i]) - 1 AS BIGINT))),
        |    (a, c) -> a * 16 + c) AS h
        |  FROM w),
        |v AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) bs GROUP BY 1, 2),
        |s AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
        |  FROM v GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id AND a.doc_id % 8 = 0
        |WHERE bit_count(xor(a.sig, b.sig)) <= 7
        |ORDER BY doc_a, doc_b""".stripMargin,
    "v1_vector_stats" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
         |SELECT vec_id, CAST(len(v) AS INT) AS dim,
         |  round(sqrt(${foldSum(s"list_transform(v, x -> x*x)")}), 6) AS nrm,
         |  round(${foldSum("v")} / len(v), 6) AS mean_c,
         |  round(list_min(v), 6) AS min_c,
         |  round(list_max(v), 6) AS max_c
         |FROM e ORDER BY vec_id""".stripMargin,
    "m3_wav_header_info" ->
      """SELECT doc_id, CAST(doc_id % 2 + 1 AS INT) AS n_channels,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 44100
        |    WHEN doc_id % 3 = 1 THEN 22050 ELSE 16000 END AS INT) AS sample_rate
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The Spark side must inflate a real PNG's IDAT (javax.imageio) to
    // recover the planted two-tone pixel statistics; the oracle states
    // them as the doc_id arithmetic they were planted from.
    // NN-resize replay: na = left-tone columns among the 4 sampled
    // x' positions (src_x = (x'*w)//4), same integer arithmetic the
    // decoder-side resampler runs over the real raster.
    "m9_resize_stats" ->
      """WITH p AS (SELECT doc_id,
        |    CAST(doc_id % 16 + 4 AS BIGINT) AS width,
        |    (doc_id % 16 + 4) // 2 AS wl,
        |    doc_id % 256 AS ra, (doc_id*7) % 256 AS ga, (doc_id*13) % 256 AS ba,
        |    (doc_id*31) % 256 AS rb, (doc_id*37) % 256 AS gb, (doc_id*41) % 256 AS bb
        |  FROM documents),
        |n AS (SELECT *, CAST(len(list_filter(range(0,4),
        |    x -> (x*width)//4 < wl)) AS BIGINT) AS na FROM p)
        |SELECT doc_id,
        |  round(CAST(na*ra + (4-na)*rb AS DOUBLE)/4, 6) AS mean_r4,
        |  round(CAST(na*ga + (4-na)*gb AS DOUBLE)/4, 6) AS mean_g4,
        |  round(CAST(na*ba + (4-na)*bb AS DOUBLE)/4, 6) AS mean_b4
        |FROM n ORDER BY doc_id""".stripMargin,
    "m8_visual_dup_groups" ->
      """WITH p AS (SELECT doc_id,
        |    CAST(doc_id % 16 + 4 AS INT) AS width,
        |    CAST(doc_id % 12 + 4 AS INT) AS height,
        |    (doc_id % 16 + 4) // 2 AS wl,
        |    doc_id % 256 AS ra, (doc_id*7) % 256 AS ga, (doc_id*13) % 256 AS ba,
        |    (doc_id*31) % 256 AS rb, (doc_id*37) % 256 AS gb, (doc_id*41) % 256 AS bb
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(height*(wl*ra + (width-wl)*rb) AS DOUBLE) / (width*height) AS mr,
        |    CAST(height*(wl*ga + (width-wl)*gb) AS DOUBLE) / (width*height) AS mg,
        |    CAST(height*(wl*ba + (width-wl)*bb) AS DOUBLE) / (width*height) AS mb
        |  FROM p),
        |s AS (SELECT doc_id, CAST(floor(mr/32.0) AS INT) AS qr,
        |    CAST(floor(mg/32.0) AS INT) AS qg, CAST(floor(mb/32.0) AS INT) AS qb FROM m)
        |SELECT qr, qg, qb, count(*) AS n_images,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM s GROUP BY qr, qg, qb HAVING count(*) > 1
        |ORDER BY n_images DESC, qr, qg, qb""".stripMargin,
    "m4_image_decode_stats" ->
      """WITH p AS (SELECT doc_id,
        |    CAST(doc_id % 16 + 4 AS INT) AS width,
        |    CAST(doc_id % 12 + 4 AS INT) AS height,
        |    (doc_id % 16 + 4) // 2 AS wl,
        |    doc_id % 256 AS ra, (doc_id*7) % 256 AS ga, (doc_id*13) % 256 AS ba,
        |    (doc_id*31) % 256 AS rb, (doc_id*37) % 256 AS gb, (doc_id*41) % 256 AS bb
        |  FROM documents),
        |m AS (SELECT doc_id, width, height,
        |    CAST(height*(wl*ra + (width-wl)*rb) AS DOUBLE) / (width*height) AS mr,
        |    CAST(height*(wl*ga + (width-wl)*gb) AS DOUBLE) / (width*height) AS mg,
        |    CAST(height*(wl*ba + (width-wl)*bb) AS DOUBLE) / (width*height) AS mb
        |  FROM p)
        |SELECT doc_id, width, height, CAST(3 AS INT) AS n_channels,
        |  round(mr, 6) AS mean_r, round(mg, 6) AS mean_g, round(mb, 6) AS mean_b,
        |  round(CAST(0.299 AS DOUBLE)*mr + CAST(0.587 AS DOUBLE)*mg
        |    + CAST(0.114 AS DOUBLE)*mb, 6) AS mean_luma
        |FROM m ORDER BY doc_id""".stripMargin,
    // Likewise m5: the planted 16-bit PCM waveform lives only in the WAV
    // data chunk — the Spark side decodes real frames via javax.sound.
    "m5_audio_decode_stats" ->
      """WITH p AS (SELECT doc_id,
        |    CAST(doc_id % 50 + 10 AS INT) AS n_samples,
        |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |    list_transform(range(0, doc_id % 50 + 10),
        |      i -> abs((doc_id*31 + i*17) % 2003 - 1001)) AS sa
        |  FROM documents)
        |SELECT doc_id, n_samples, sample_rate,
        |  round(CAST(n_samples AS DOUBLE) * 1000 / sample_rate, 6) AS duration_ms,
        |  round(CAST(list_sum(sa) AS DOUBLE) / n_samples, 6) AS mean_abs,
        |  CAST(list_max(sa) AS INT) AS peak_abs
        |FROM p ORDER BY doc_id""".stripMargin,
    "e3_json_typed" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int
        |FROM events ORDER BY event_id""".stripMargin,
    "set4_intersect_all" ->
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |INTERSECT ALL
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "set5_except_all" ->
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |EXCEPT ALL
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "st7_transform_with_state" ->
      """SELECT user_id, count(*) AS n, min(value) AS min_value,
        |  max(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "t8_text_clean" ->
      """SELECT doc_id,
        |  lower(trim(regexp_replace(
        |    regexp_replace(text, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))) AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t9_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS INT) AS n_digit_runs
        |FROM documents ORDER BY doc_id""".stripMargin,
    "s1_hash_split" ->
      """SELECT CASE
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
        |    ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Group-aware split: the group→split assignment hashes SOURCE, so
    // the oracle derives the same map from the distinct sources.
    "zipf1_token_zipf" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text),'\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
        |r AS (SELECT n, CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rk
        |  FROM c QUALIFY rk <= 1000),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CAST(ln(rk) AS DECIMAL(38,18))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ln(n) AS DECIMAL(38,18))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(ln(rk)*ln(rk) AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(ln(rk)*ln(n) AS DECIMAL(38,18))) AS DOUBLE) AS sxy
        |  FROM r)
        |SELECT c AS n_tokens,
        |  round((CAST(c AS DOUBLE)*sxy - sx*sy)/(CAST(c AS DOUBLE)*sxx - sx*sx), 6) AS slope,
        |  round((sy - (CAST(c AS DOUBLE)*sxy - sx*sy)/(CAST(c AS DOUBLE)*sxx - sx*sx)*sx)/c, 6)
        |    AS intercept
        |FROM s""".stripMargin,
    "kd1_split_kl" ->
      """WITH g AS (SELECT source, CASE
        |    WHEN substring(md5(source),1,1)
        |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
        |    WHEN substring(md5(source),1,1) IN ('c','d') THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM (SELECT DISTINCT source FROM documents)),
        |d AS (SELECT lang, split FROM documents JOIN g USING (source)),
        |langs AS (SELECT DISTINCT lang FROM d),
        |tr AS (SELECT lang, count(*) AS n FROM d WHERE split = 'train' GROUP BY 1),
        |te AS (SELECT lang, count(*) AS n FROM d WHERE split <> 'train' GROUP BY 1),
        |tot AS (SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM d WHERE split = 'train') AS ntr,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d WHERE split <> 'train') AS nte,
        |  (SELECT CAST(count(*) AS BIGINT) FROM langs) AS nl),
        |sm AS (SELECT l.lang,
        |    (CAST(coalesce(tr.n,0) AS DOUBLE)+1)/(t.ntr + t.nl) AS p,
        |    (CAST(coalesce(te.n,0) AS DOUBLE)+1)/(t.nte + t.nl) AS q
        |  FROM langs l LEFT JOIN tr ON tr.lang = l.lang
        |  LEFT JOIN te ON te.lang = l.lang CROSS JOIN tot t)
        |SELECT (SELECT nl FROM tot) AS n_langs,
        |  round(CAST(sum(CAST(p*ln(p/q) AS DECIMAL(38,18))) AS DOUBLE), 6) AS kl_train_eval,
        |  round(CAST(sum(CAST(q*ln(q/p) AS DECIMAL(38,18))) AS DOUBLE), 6) AS kl_eval_train
        |FROM sm""".stripMargin,
    // Per-doc entropy: c·ln c terms DECIMAL-summed (order-invariant,
    // mi1's pattern) before the closed-form H = ln N − S/N.
    "ent1_token_entropy" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text),'\s+')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(CAST(c*ln(c) AS DECIMAL(38,18))) AS DOUBLE) AS s
        |  FROM tf GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types,
        |  round(ln(n_tokens) - s/n_tokens, 6) AS entropy,
        |  round(CASE WHEN n_types > 1
        |    THEN (ln(n_tokens) - s/n_tokens)/ln(n_types) ELSE 0.0 END, 6) AS norm_entropy
        |FROM d ORDER BY doc_id""".stripMargin,
    // Skyline: the oracle states dominance directly (NOT EXISTS);
    // the operator's window reduction must agree exactly, ties kept.
    // Spend is BIGINT integer cents on both sides — the decimal form
    // hash-diverged in the external comparator despite local bit-identity.
    "sky1_pareto_customers" ->
      """WITH m AS (SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) * 100 AS BIGINT) AS spend_cents
        |  FROM orders GROUP BY 1)
        |SELECT custkey, n_orders, spend_cents FROM m a
        |WHERE NOT EXISTS (SELECT 1 FROM m b
        |  WHERE b.n_orders <= a.n_orders AND b.spend_cents >= a.spend_cents
        |    AND (b.n_orders < a.n_orders OR b.spend_cents > a.spend_cents))
        |ORDER BY n_orders, custkey""".stripMargin,
    "fd1_functional_deps" ->
      """SELECT table_name, lhs, rhs, n_lhs, n_pairs,
        |  n_pairs = n_lhs AS holds, n_pairs - n_lhs AS n_violating_combos
        |FROM (
        |  SELECT 'nation' AS table_name, 'n_nationkey' AS lhs, 'n_regionkey' AS rhs,
        |    (SELECT CAST(count(DISTINCT n_nationkey) AS BIGINT) FROM nation) AS n_lhs,
        |    (SELECT CAST(count(*) AS BIGINT)
        |      FROM (SELECT DISTINCT n_nationkey, n_regionkey FROM nation)) AS n_pairs
        |  UNION ALL
        |  SELECT 'part', 'p_brand', 'p_type',
        |    (SELECT CAST(count(DISTINCT p_brand) AS BIGINT) FROM part),
        |    (SELECT CAST(count(*) AS BIGINT)
        |      FROM (SELECT DISTINCT p_brand, p_type FROM part))
        |  UNION ALL
        |  SELECT 'customer', 'c_nationkey', 'c_mktsegment',
        |    (SELECT CAST(count(DISTINCT c_nationkey) AS BIGINT) FROM customer),
        |    (SELECT CAST(count(*) AS BIGINT)
        |      FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer))
        |  UNION ALL
        |  SELECT 'lineitem', 'l_orderkey', 'l_returnflag',
        |    (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT)
        |      FROM (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem)))
        |ORDER BY table_name, lhs, rhs""".stripMargin,
    "k12_cascade_delete" ->
      """WITH dc AS (SELECT c_custkey FROM customer WHERE c_nationkey = 7),
        |do_ AS (SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM dc))
        |SELECT table_name, rows_total, rows_deleted,
        |  rows_total - rows_deleted AS rows_kept
        |FROM (
        |  SELECT 'customer' AS table_name,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS rows_total,
        |    (SELECT CAST(count(*) AS BIGINT) FROM dc) AS rows_deleted
        |  UNION ALL
        |  SELECT 'lineitem', (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |      WHERE l_orderkey IN (SELECT o_orderkey FROM do_))
        |  UNION ALL
        |  SELECT 'orders', (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders
        |      WHERE o_custkey IN (SELECT c_custkey FROM dc)))
        |ORDER BY table_name""".stripMargin,
    // Each TxTable snapshot version restated as a plain filter over the
    // source table: v1 = even orderkeys, v2 = all, v3 = every 100th.
    "tt1_time_travel" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(30,2)) AS p FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(p) AS DECIMAL(30,2)) AS total FROM o WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(p) AS DECIMAL(30,2)) FROM o
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(p) AS DECIMAL(30,2)) FROM o WHERE o_orderkey % 100 = 0
        |ORDER BY version""".stripMargin,
    // Merge semantics restated declaratively: v2 = update-wins over the
    // delta (x2 cents on keys ≡ 0 mod 6 or ≡ 1 mod 3), keep elsewhere.
    "tt2_tx_merge" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |v1 AS (SELECT k, cents FROM o WHERE k % 3 = 0),
        |v2 AS (SELECT k, CASE WHEN k % 6 = 0 OR k % 3 = 1
        |    THEN 2*cents ELSE cents END AS cents
        |  FROM o WHERE k % 3 = 0 OR k % 3 = 1)
        |SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM v2
        |ORDER BY version""".stripMargin,
    // Zone-map range reads restated as plain BETWEENs — skipping is an
    // optimization the residual filter makes invisible to the answer.
    "tt3_zone_skip" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(1 AS INT) AS range_id, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM o WHERE k BETWEEN 1 AND 5000
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM o WHERE k BETWEEN 30000 AND 45000
        |ORDER BY range_id""".stripMargin,
    // Serializable-commit interleave restated as the SERIAL outcome:
    // phase 1 = delete(≡0 mod 5) then merge (upsert of the mod-6/mod-1
    // delta), with refused=1 pinning that the stale commit was
    // rejected; phase 2 = that state minus ≡0 mod 7 plus the blind
    // append, refused=0 pinning that blind appends pass.
    "tt11_conflict_detect" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |base AS (SELECT k, cents FROM o WHERE k % 3 = 0),
        |delta AS (SELECT k, 2*cents AS dcents FROM o
        |  WHERE k % 6 = 0 OR k % 3 = 1),
        |after_del AS (SELECT * FROM base WHERE k % 5 <> 0),
        |merged AS (SELECT COALESCE(b.k, d.k) AS k,
        |    COALESCE(d.dcents, b.cents) AS cents
        |  FROM after_del b FULL OUTER JOIN delta d ON b.k = d.k),
        |phase2 AS (SELECT * FROM merged WHERE k % 7 <> 0
        |  UNION ALL SELECT k, cents FROM o WHERE k % 3 = 2 AND k % 11 = 0)
        |SELECT 'merge_after_conflict' AS phase, CAST(1 AS BIGINT) AS refused,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM merged
        |UNION ALL
        |SELECT 'blind_append', CAST(0 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM phase2
        |ORDER BY phase""".stripMargin,
    // Multi-column zone-pruned range reads restated as plain BETWEENs
    // (ranges 2 and 4 straddle the clustered rewrite — lossless, so
    // identical); the pruning itself is asserted in TxTableSpec.
    "tt12_multizone" ->
      """WITH o AS (SELECT o_orderkey AS k, CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(1 AS INT) AS range_id, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM o WHERE cust BETWEEN 100 AND 500
        |UNION ALL SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE k BETWEEN 5000 AND 20000
        |UNION ALL SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM o WHERE cents BETWEEN 1000000 AND 5000000
        |UNION ALL SELECT CAST(4 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE k BETWEEN 5000 AND 20000
        |ORDER BY range_id""".stripMargin,
    // Log-checkpoint boundaries restated as plain set algebra: phase 1
    // = the two pre-delete appends, 2 = minus the MoR-deleted rows,
    // 3 = plus the post-checkpoint append, 4 = that head in a k-range.
    // The O(tail)-replay property itself is spec-asserted.
    "tt13_log_checkpoint" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |pre AS (SELECT * FROM o WHERE k % 3 IN (0, 1)),
        |ck AS (SELECT * FROM pre WHERE cents <= 30000000),
        |head AS (SELECT * FROM ck
        |  UNION ALL SELECT * FROM o WHERE k % 3 = 2)
        |SELECT '1_below_ckpt' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM pre
        |UNION ALL SELECT '2_at_ckpt', CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM ck
        |UNION ALL SELECT '3_head', CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM head
        |UNION ALL SELECT '4_range', CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM head WHERE k BETWEEN 1 AND 5000
        |ORDER BY phase""".stripMargin,
    // Cramér's V: 9-dp-quantized chi-square terms, DECIMAL sum,
    // pinned sqrt — the effect size next to cs1's statistic.
    "cs2_cramers_v" ->
      """WITH o AS (SELECT event_type, user_id % 5 AS cohort,
        |    CAST(count(*) AS BIGINT) AS obs FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rtot
        |  FROM o GROUP BY 1),
        |ct AS (SELECT cohort, CAST(sum(obs) AS BIGINT) AS ctot
        |  FROM o GROUP BY 1),
        |nn AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS r,
        |    CAST(count(DISTINCT cohort) AS BIGINT) AS c FROM o),
        |t AS (SELECT CAST(round((obs - exp) * (obs - exp) / exp, 9)
        |      AS DECIMAL(28,9)) AS term
        |  FROM (SELECT o.obs,
        |      CAST(rt.rtot AS DOUBLE) * ct.ctot / nn.n AS exp
        |    FROM o JOIN rt USING (event_type) JOIN ct USING (cohort)
        |    CROSS JOIN nn))
        |SELECT nn.n AS n_rows, nn.r AS r_levels, nn.c AS c_levels,
        |  round(CAST(sum(term) AS DOUBLE), 6) AS chi2,
        |  round(sqrt(CAST(sum(term) AS DOUBLE)
        |    / (CAST(nn.n AS DOUBLE) * least(nn.r - 1, nn.c - 1))), 9)
        |    AS cramers_v
        |FROM t CROSS JOIN nn GROUP BY nn.n, nn.r, nn.c""".stripMargin,
    // ANALYZE catalog row: exact per-column stats in one pass,
    // min/max normalized to engine-stable string forms.
    "an1_analyze_stats" ->
      """WITH s AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) - count(l_orderkey) AS BIGINT) AS nn_k,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_k,
        |  CAST(min(l_orderkey) AS VARCHAR) AS mn_k,
        |  CAST(max(l_orderkey) AS VARCHAR) AS mx_k,
        |  CAST(count(*) - count(l_returnflag) AS BIGINT) AS nn_rf,
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nd_rf,
        |  min(l_returnflag) AS mn_rf, max(l_returnflag) AS mx_rf,
        |  CAST(count(*) - count(l_quantity) AS BIGINT) AS nn_q,
        |  CAST(count(DISTINCT l_quantity) AS BIGINT) AS nd_q,
        |  CAST(CAST(min(l_quantity) AS BIGINT) AS VARCHAR) AS mn_q,
        |  CAST(CAST(max(l_quantity) AS BIGINT) AS VARCHAR) AS mx_q,
        |  CAST(count(*) - count(l_shipdate) AS BIGINT) AS nn_d,
        |  CAST(count(DISTINCT l_shipdate) AS BIGINT) AS nd_d,
        |  strftime(min(l_shipdate), '%Y-%m-%d') AS mn_d,
        |  strftime(max(l_shipdate), '%Y-%m-%d') AS mx_d
        |FROM lineitem)
        |SELECT 'l_orderkey' AS column_name, n, nn_k AS n_nulls,
        |  nd_k AS n_distinct, mn_k AS min_val, mx_k AS max_val FROM s
        |UNION ALL SELECT 'l_quantity', n, nn_q, nd_q, mn_q, mx_q FROM s
        |UNION ALL SELECT 'l_returnflag', n, nn_rf, nd_rf, mn_rf, mx_rf FROM s
        |UNION ALL SELECT 'l_shipdate', n, nn_d, nd_d, mn_d, mx_d FROM s
        |ORDER BY column_name""".stripMargin,
    // Brown-Forsythe: exact per-group median order statistics, exact
    // |x-med| sums, 9-dp-quantized between/within terms.
    // Textbook (averaged-middle-pair) medians — DuckDB's own median();
    // deviations doubled on both sides to stay exact integers (an F
    // statistic is invariant under global z scaling).
    "lev1_brown_forsythe" ->
      """WITH f AS (SELECT o_orderpriority AS prio,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS v FROM orders),
        |med AS (SELECT prio, CAST(median(v) AS DOUBLE) AS median_cents,
        |    CAST(2*median(v) AS BIGINT) AS m2 FROM f GROUP BY 1),
        |z AS (SELECT f.prio AS prio, abs(2*f.v - m.m2) AS z
        |  FROM f JOIN med m ON m.prio = f.prio),
        |g AS (SELECT prio, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(z) AS BIGINT) AS sz,
        |    CAST(sum(CAST(z AS DECIMAL(38,0))*z) AS DECIMAL(38,0)) AS szz
        |  FROM z GROUP BY 1),
        |t AS (SELECT g.*, sum(n) OVER () AS tn, sum(sz) OVER () AS tg,
        |    count(*) OVER () AS kgrp FROM g),
        |u AS (SELECT *, CAST(sz AS DOUBLE)/n AS meang,
        |    CAST(tg AS DOUBLE)/tn AS grand FROM t),
        |w AS (SELECT *,
        |    CAST(round(n * ((meang - grand)*(meang - grand)), 9)
        |      AS DECIMAL(38,9)) AS ssb,
        |    CAST(round(CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)*sz/n, 9)
        |      AS DECIMAL(38,9)) AS ssw FROM u),
        |fs AS (SELECT round((CAST(sum(ssb) AS DOUBLE)/(max(kgrp)-1))
        |    / (CAST(sum(ssw) AS DOUBLE)/(max(tn)-max(kgrp))), 6) AS bf_f
        |  FROM w)
        |SELECT w.prio AS prio, w.n AS n_rows, m.median_cents,
        |  round(w.meang/2, 6) AS mean_absdev, fs.bf_f
        |FROM w JOIN med m ON m.prio = w.prio CROSS JOIN fs
        |ORDER BY prio""".stripMargin,
    // Mahalanobis top-k on the (order-count, spend) profile: exact
    // sums -> 2x2 covariance inverse in pinned double order.
    "maha1_mahalanobis" ->
      """WITH f AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS x,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x*x) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y AS DECIMAL(38,0))*y) AS DOUBLE) AS syy,
        |    CAST(sum(x*y) AS DOUBLE) AS sxy FROM f),
        |m AS (SELECT n, sx/n AS mx, sy/n AS my,
        |    (sxx - sx*sx/n) / (n - 1) AS vxx,
        |    (syy - sy*sy/n) / (n - 1) AS vyy,
        |    (sxy - sx*sy/n) / (n - 1) AS vxy FROM s),
        |d AS (SELECT f.k,
        |    round(((f.x - mx)*(f.x - mx)*vyy - 2.0*(f.x - mx)*(f.y - my)*vxy
        |      + (f.y - my)*(f.y - my)*vxx) / (vxx*vyy - vxy*vxy), 6) AS d2
        |  FROM f CROSS JOIN m)
        |SELECT k AS custkey, d2 AS mahalanobis_sq
        |FROM d ORDER BY d2 DESC, k LIMIT 10""".stripMargin,
    // Partial correlation from the three pairwise Pearson r's; all
    // ten sufficient sums DECIMAL-exact before the double assembly.
    "cor2_partial_corr" ->
      """WITH f AS (SELECT CAST(l_quantity AS DECIMAL(30,2)) AS x,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS y,
        |    CAST(round(l_discount*100) AS BIGINT) AS z FROM lineitem),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(z) AS DOUBLE) AS sz,
        |    CAST(sum(x*x) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y AS DECIMAL(38,0))*y) AS DOUBLE) AS syy,
        |    CAST(sum(z*z) AS DOUBLE) AS szz,
        |    CAST(sum(x*y) AS DOUBLE) AS sxy,
        |    CAST(sum(x*z) AS DOUBLE) AS sxz,
        |    CAST(sum(y*z) AS DOUBLE) AS syz FROM f),
        |r AS (SELECT n,
        |  (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) AS rxy,
        |  (n*sxz - sx*sz) / (sqrt(n*sxx - sx*sx) * sqrt(n*szz - sz*sz)) AS rxz,
        |  (n*syz - sy*sz) / (sqrt(n*syy - sy*sy) * sqrt(n*szz - sz*sz)) AS ryz
        |  FROM s)
        |SELECT CAST(n AS BIGINT) AS n_rows, round(rxy, 9) AS r_xy,
        |  round(rxz, 9) AS r_xz, round(ryz, 9) AS r_yz,
        |  round((rxy - rxz*ryz)
        |    / (sqrt(1.0 - rxz*rxz) * sqrt(1.0 - ryz*ryz)), 9) AS r_xy_given_z
        |FROM r""".stripMargin,
    // Optimal Gini split: cumulative class counts over the distinct-
    // value spine, 12-dp impurities, argmin with threshold tie-break.
    "gini2_best_split" ->
      """WITH f AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        |  FROM lineitem),
        |g AS (SELECT v, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(pos) AS BIGINT) AS p FROM f GROUP BY 1),
        |c AS (SELECT v, sum(n) OVER w AS cn, sum(p) OVER w AS cp,
        |    (SELECT sum(n) FROM g) AS tn, (SELECT sum(p) FROM g) AS tp
        |  FROM g WINDOW w AS (ORDER BY v)),
        |s AS (SELECT v, cn, cp, tn, tp FROM c WHERE cn < tn),
        |gini AS (SELECT v,
        |    round((CAST(cn AS DOUBLE)/tn)
        |      * (2.0*(CAST(cp AS DOUBLE)/cn)*(1.0 - CAST(cp AS DOUBLE)/cn))
        |    + (CAST(tn - cn AS DOUBLE)/tn)
        |      * (2.0*(CAST(tp - cp AS DOUBLE)/(tn - cn))
        |         *(1.0 - CAST(tp - cp AS DOUBLE)/(tn - cn))), 12) AS wg
        |  FROM s)
        |SELECT CAST(v AS BIGINT) AS split_at, wg AS weighted_gini
        |FROM gini ORDER BY wg, split_at LIMIT 1""".stripMargin,
    // Neyman allocation: exact DECIMAL sufficient sums -> quantized
    // weights -> the same Hamilton integer apportionment as c9.
    "ney1_neyman_allocation" ->
      """WITH o AS (SELECT o_orderpriority AS prio,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |s AS (SELECT prio, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sx,
        |    CAST(sum(cents*cents) AS DECIMAL(38,0)) AS sxx
        |  FROM o GROUP BY 1),
        |sd AS (SELECT prio, n,
        |    round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
        |      / (n - 1)), 6) AS sdev
        |  FROM s),
        |wq AS (SELECT prio, n, sdev,
        |    CAST(round(n * sdev, 0) AS BIGINT) AS u FROM sd),
        |h AS (SELECT prio, n, sdev, u,
        |    u * 1000 // sum(u) OVER () AS base,
        |    u * 1000 % sum(u) OVER () AS rem FROM wq),
        |h2 AS (SELECT *, row_number() OVER (ORDER BY rem DESC, prio) AS xr,
        |    1000 - sum(base) OVER () AS extras FROM h)
        |SELECT prio, n AS n_rows, sdev AS sd_cents,
        |  CAST(base + CASE WHEN xr <= extras THEN 1 ELSE 0 END AS BIGINT)
        |    AS allocated
        |FROM h2 ORDER BY prio""".stripMargin,
    // Wilson score interval: closed form over exact counts, pinned
    // double order, z constant shared verbatim.
    "wil1_wilson_ci" ->
      """WITH s AS (SELECT o_orderpriority AS prio,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nf
        |  FROM orders GROUP BY 1),
        |w AS (SELECT prio, n, nf, CAST(nf AS DOUBLE) / n AS p,
        |    1.959964 AS z FROM s)
        |SELECT prio, n, nf, round(p, 6) AS p_hat,
        |  round((p + z*z/(2*n) - z * sqrt(p*(1.0-p)/n + z*z/(4.0*n*n)))
        |    / (1.0 + z*z/n), 9) AS wilson_lo,
        |  round((p + z*z/(2*n) + z * sqrt(p*(1.0-p)/n + z*z/(4.0*n*n)))
        |    / (1.0 + z*z/n), 9) AS wilson_hi
        |FROM w ORDER BY prio""".stripMargin,
    // Harmonic centrality via per-seed BFS min-distances; 12-dp 1/d
    // weights summed as DECIMAL (the bitmask pass computes the same
    // per-(seed, dist) counts in one BSP sweep).
    "hc1_harmonic_centrality" ->
      """WITH RECURSIVE pairs AS (SELECT DISTINCT o_custkey*2 AS src,
        |    l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |ed AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |seeds AS (SELECT node FROM
        |    (SELECT DISTINCT src AS node FROM ed WHERE src % 2 = 0) t
        |  ORDER BY node LIMIT 8),
        |walk AS (
        |  SELECT s.node AS seed, s.node AS node, 0 AS dist FROM seeds s
        |  UNION
        |  SELECT w.seed, e.dst AS node, w.dist + 1 AS dist FROM walk w
        |  JOIN ed e ON w.node = e.src WHERE w.dist < 4),
        |md AS (SELECT seed, node, min(dist) AS dist FROM walk GROUP BY 1, 2)
        |SELECT CAST(seed // 2 AS BIGINT) AS seed_custkey,
        |  CAST(count(CASE WHEN dist > 0 THEN 1 END) AS BIGINT) AS n_reached,
        |  round(CAST(sum(CASE WHEN dist > 0
        |      THEN CAST(round(1.0/dist, 12) AS DECIMAL(28,12)) END)
        |    AS DOUBLE), 6) AS harmonic
        |FROM md GROUP BY 1 ORDER BY seed_custkey""".stripMargin,
    // Capstone v5: Gopher filter -> exact dedup -> largest-remainder
    // budget apportionment -> md5-ordered pick -> corpus card. All
    // integer arithmetic end to end.
    "c9_curation_v5" ->
      raw"""WITH w AS (SELECT doc_id, source, text,
        |    regexp_split_to_array(trim(text), '\s+') AS ws,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (SELECT doc_id, source, text,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS sum_wl,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
        |    CAST(length(regexp_replace(text, '[^#]', '', 'g'))
        |      + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS symbols,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, x -> regexp_matches(x, '^\s*[-*•]'))) AS BIGINT) AS bullets,
        |    CAST(len(list_filter(lines, x -> regexp_matches(x, '(\.\.\.|…)\s*$$'))) AS BIGINT) AS ell,
        |    CAST(list_contains(ws, 'the') AS INT) + CAST(list_contains(ws, 'and') AS INT)
        |      + CAST(list_contains(ws, 'of') AS INT) + CAST(list_contains(ws, 'to') AS INT)
        |      + CAST(list_contains(ws, 'a') AS INT) + CAST(list_contains(ws, 'in') AS INT)
        |      + CAST(list_contains(ws, 'is') AS INT) + CAST(list_contains(ws, 'it') AS INT)
        |      + CAST(list_contains(ws, 'for') AS INT) + CAST(list_contains(ws, 'on') AS INT) AS stop_hits
        |  FROM w),
        |kept AS (SELECT doc_id, source, text, n_words FROM m
        |  WHERE (n_words BETWEEN 50 AND 100000)
        |    AND (3*n_words <= sum_wl AND sum_wl <= 10*n_words)
        |    AND (10*symbols <= n_words)
        |    AND (10*bullets <= 9*n_lines) AND (10*ell <= 3*n_lines)
        |    AND (5*alpha_words >= 4*n_words) AND (stop_hits >= 2)),
        |dd AS (SELECT doc_id, source, n_words FROM kept
        |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
        |avail AS (SELECT source, CAST(count(*) AS BIGINT) AS available
        |  FROM dd GROUP BY 1),
        |q AS (SELECT source, available,
        |    available * 200 // sum(available) OVER () AS base,
        |    available * 200 % sum(available) OVER () AS rem
        |  FROM avail),
        |q2 AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS xr,
        |    200 - sum(base) OVER () AS extras FROM q),
        |alloc AS (SELECT source, available,
        |    base + CASE WHEN xr <= extras THEN 1 ELSE 0 END AS allocated
        |  FROM q2),
        |p AS (SELECT dd.*, row_number() OVER (PARTITION BY dd.source
        |    ORDER BY md5(CAST(dd.doc_id AS VARCHAR)), dd.doc_id) AS pr
        |  FROM dd),
        |picked AS (SELECT p.source, p.n_words, a.available, a.allocated
        |  FROM p JOIN alloc a ON a.source = p.source
        |  WHERE p.pr <= a.allocated)
        |SELECT source, max(available) AS available,
        |  CAST(max(allocated) AS BIGINT) AS allocated,
        |  CAST(count(*) AS BIGINT) AS picked_docs,
        |  CAST(sum(n_words) AS BIGINT) AS sum_words
        |FROM picked GROUP BY 1 ORDER BY source""".stripMargin,
    // att4: the exposure-cohort lattice (mask, u, c) — a pure count
    // aggregation with DIRECT timestamp comparison (no epoch_ns
    // extraction, no rhu, no bit arithmetic); the fitted Shapley frame
    // is att4_shapley_fit.
    "att4_shapley" ->
      """WITH pts AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS pts
        |  FROM events GROUP BY 1),
        |um AS (SELECT e.user_id,
        |    max(CASE WHEN e.event_type = 'click'
        |      AND (p.pts IS NULL OR e.ts < p.pts) THEN 1 ELSE 0 END)
        |  + max(CASE WHEN e.event_type = 'error'
        |      AND (p.pts IS NULL OR e.ts < p.pts) THEN 2 ELSE 0 END)
        |  + max(CASE WHEN e.event_type = 'signup'
        |      AND (p.pts IS NULL OR e.ts < p.pts) THEN 4 ELSE 0 END)
        |  + max(CASE WHEN e.event_type = 'view'
        |      AND (p.pts IS NULL OR e.ts < p.pts) THEN 8 ELSE 0 END) AS mask,
        |    max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events e LEFT JOIN pts p USING (user_id) GROUP BY 1),
        |cohorts AS (SELECT mask, count(*) AS u, sum(conv) AS c
        |  FROM um GROUP BY 1)
        |SELECT CAST(m.mask AS BIGINT) AS mask,
        |  CAST(coalesce(ch.u, 0) AS BIGINT) AS u,
        |  CAST(coalesce(ch.c, 0) AS BIGINT) AS c
        |FROM (SELECT unnest(generate_series(0, 15)) AS mask) m
        |LEFT JOIN cohorts ch ON m.mask = ch.mask
        |ORDER BY mask""".stripMargin,
    // att4_shapley_fit: the fitted Shapley frame with BIGINT-CAST
    // outputs — exact Shapley over the 2^4 exposure-set lattice —
    // cohort rates 1e9-quantized via PURE INTEGER round-half-up
    // (2·c·1e9 + u) // (2·u), never round()-on-double (the round-11
    // driver hash divergence); permutation weights {6,2,2,6}/24 as
    // exact integers; φ emitted as the integer numerator over 24e9.
    // Bit tests stated as //bit %2 arithmetic (portable across
    // engines); micros convention per the Behavior.scala header.
    "att4_shapley_fit" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch_ns(ts)//1000 AS us FROM events),
        |pts AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'purchase' THEN us END) AS pus
        |  FROM ev GROUP BY 1),
        |um AS (SELECT e.user_id,
        |    max(CASE WHEN e.event_type = 'click'
        |      AND (p.pus IS NULL OR e.us < p.pus) THEN 1 ELSE 0 END)
        |  + max(CASE WHEN e.event_type = 'error'
        |      AND (p.pus IS NULL OR e.us < p.pus) THEN 2 ELSE 0 END)
        |  + max(CASE WHEN e.event_type = 'signup'
        |      AND (p.pus IS NULL OR e.us < p.pus) THEN 4 ELSE 0 END)
        |  + max(CASE WHEN e.event_type = 'view'
        |      AND (p.pus IS NULL OR e.us < p.pus) THEN 8 ELSE 0 END) AS mask,
        |    max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM ev e LEFT JOIN pts p USING (user_id) GROUP BY 1),
        |cohorts AS (SELECT mask, count(*) AS u, sum(conv) AS c
        |  FROM um GROUP BY 1),
        |vq AS (SELECT m.mask,
        |    CASE WHEN coalesce(ch.u, 0) > 0 THEN CAST(
        |      (2 * CAST(ch.c AS HUGEINT) * 1000000000 + ch.u)
        |        // (2 * ch.u) AS BIGINT)
        |      ELSE 0 END AS vq,
        |    coalesce(ch.u, 0) AS u, coalesce(ch.c, 0) AS c
        |  FROM (SELECT unnest(generate_series(0, 15)) AS mask) m
        |  LEFT JOIN cohorts ch ON m.mask = ch.mask),
        |chn AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
        |    ('signup', 4), ('view', 8)) t(channel, bit)),
        |phis AS (SELECT chn.channel,
        |    sum((CASE ((v0.mask // 1) % 2) + ((v0.mask // 2) % 2)
        |            + ((v0.mask // 4) % 2) + ((v0.mask // 8) % 2)
        |          WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END)
        |        * (v1.vq - v0.vq)) AS phi_wnum
        |  FROM chn JOIN vq v0 ON ((v0.mask // chn.bit) % 2) = 0
        |  JOIN vq v1 ON v1.mask = v0.mask + chn.bit
        |  GROUP BY 1),
        |expo AS (SELECT chn.channel, sum(v.u) AS users_exposed,
        |    sum(v.c) AS conversions_exposed
        |  FROM chn JOIN vq v ON ((v.mask // chn.bit) % 2) = 1 GROUP BY 1)
        |SELECT p.channel, CAST(p.phi_wnum AS BIGINT) AS phi_wnum,
        |  CAST(e.users_exposed AS BIGINT) AS users_exposed,
        |  CAST(e.conversions_exposed AS BIGINT) AS conversions_exposed
        |FROM phis p JOIN expo e USING (channel)
        |ORDER BY channel""".stripMargin,
    // U-shaped multi-touch credit: per-touch credits quantized to 12
    // dp before the DECIMAL sum; empty journeys attributed to 'none'.
    "att3_position_touch" ->
      """WITH e AS (SELECT user_id, event_id, event_type, ts FROM events),
        |seg AS (SELECT *, COALESCE(sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        |  FROM e),
        |conv AS (SELECT user_id, s FROM seg WHERE event_type = 'purchase'),
        |touch AS (SELECT t.user_id, t.s, t.event_type AS touch,
        |    row_number() OVER (PARTITION BY t.user_id, t.s
        |      ORDER BY t.ts, t.event_id) AS rn,
        |    count(*) OVER (PARTITION BY t.user_id, t.s) AS k
        |  FROM seg t SEMI JOIN conv c ON c.user_id = t.user_id AND c.s = t.s
        |  WHERE t.event_type <> 'purchase'),
        |credit AS (SELECT touch,
        |    CAST(round(CASE WHEN k = 1 THEN 1.0 WHEN k = 2 THEN 0.5
        |      WHEN rn = 1 OR rn = k THEN 0.4
        |      ELSE 0.2 / (k - 2) END, 12) AS DECIMAL(28,12)) AS c
        |  FROM touch),
        |none_conv AS (SELECT count(*) AS n FROM conv c
        |  ANTI JOIN (SELECT DISTINCT user_id, s FROM touch) t
        |  ON t.user_id = c.user_id AND t.s = c.s)
        |SELECT touch, CAST(count(*) AS BIGINT) AS n_touches,
        |  round(CAST(sum(c) AS DOUBLE), 6) AS total_credit
        |FROM credit GROUP BY 1
        |UNION ALL
        |SELECT 'none', CAST(n AS BIGINT), round(CAST(n AS DOUBLE), 6)
        |FROM none_conv WHERE n > 0
        |ORDER BY touch""".stripMargin,
    // Yule-Walker AR(2): exact integer sums over the hourly spine,
    // identical pinned double assembly on both engines.
    "yw1_yule_walker" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS hr,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |o AS (SELECT x, lag(x, 1) OVER (ORDER BY hr) AS x1,
        |    lag(x, 2) OVER (ORDER BY hr) AS x2 FROM h),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(CASE WHEN x1 IS NOT NULL THEN x*x1 END) AS BIGINT) AS sxy1,
        |    CAST(sum(CASE WHEN x1 IS NOT NULL THEN x END) AS BIGINT) AS sh1,
        |    CAST(sum(x1) AS BIGINT) AS st1, CAST(count(x1) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN x2 IS NOT NULL THEN x*x2 END) AS BIGINT) AS sxy2,
        |    CAST(sum(CASE WHEN x2 IS NOT NULL THEN x END) AS BIGINT) AS sh2,
        |    CAST(sum(x2) AS BIGINT) AS st2, CAST(count(x2) AS BIGINT) AS n2
        |  FROM o),
        |g AS (SELECT n,
        |    (CAST(sxx AS DOUBLE) - 2.0 * (CAST(sx AS DOUBLE) / n) * sx
        |      + n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) / n AS g0,
        |    (CAST(sxy1 AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * (sh1 + st1)
        |      + n1 * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) / n AS g1,
        |    (CAST(sxy2 AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * (sh2 + st2)
        |      + n2 * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) / n AS g2
        |  FROM s)
        |SELECT n AS n_hours,
        |  round(g1 / g0, 9) AS r1, round(g2 / g0, 9) AS r2,
        |  round((g1 / g0) * (1.0 - g2 / g0)
        |    / (1.0 - (g1 / g0) * (g1 / g0)), 9) AS phi1,
        |  round((g2 / g0 - (g1 / g0) * (g1 / g0))
        |    / (1.0 - (g1 / g0) * (g1 / g0)), 9) AS phi2
        |FROM g""".stripMargin,
    // Rank-biased overlap between two top-20 rankings; weight
    // constants generated from the same BigDecimal math as the plan.
    "rbo1_rank_overlap" -> rboOracle(),
    // Subsample-ensemble CI: 32 md5-keyed half-rate replicas in one
    // pass; CI = order statistics of the exact replica means.
    "boot1_subsample_ci" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |reps AS (SELECT r FROM range(32) t(r)),
        |sub AS (SELECT r, cents FROM reps, o
        |  WHERE substring(md5(CAST(r AS VARCHAR) || ':'
        |    || CAST(k AS VARCHAR)), 1, 4) < '8000'),
        |m AS (SELECT r, round(CAST(sum(cents) AS DOUBLE) / count(*), 6)
        |    AS mean_cents FROM sub GROUP BY 1),
        |s AS (SELECT mean_cents,
        |    row_number() OVER (ORDER BY mean_cents) AS rn FROM m),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    round(CAST(sum(cents) AS DOUBLE) / count(*), 6) AS mean_full
        |  FROM o)
        |SELECT f.n_rows, f.mean_full,
        |  (SELECT mean_cents FROM s WHERE rn = 4) AS ci_lo_10,
        |  (SELECT mean_cents FROM s WHERE rn = 29) AS ci_hi_90
        |FROM f""".stripMargin,
    // CBO cardinality estimate (containment assumption) next to the
    // exact join size; integer division for bucket ids on both sides.
    "jcs1_join_card_est" ->
      """WITH ko AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |ke AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |exact AS (SELECT CAST(sum(ko.c * ke.c) AS BIGINT) AS exact_pairs
        |  FROM ko JOIN ke ON ko.k = ke.k),
        |mx AS (SELECT greatest((SELECT max(k) FROM ko),
        |    (SELECT max(k) FROM ke)) AS mk),
        |bo AS (SELECT k * 64 // (mk + 1) AS b, sum(c) AS n, count(*) AS d
        |  FROM ko CROSS JOIN mx GROUP BY 1),
        |be AS (SELECT k * 64 // (mk + 1) AS b, sum(c) AS n, count(*) AS d
        |  FROM ke CROSS JOIN mx GROUP BY 1),
        |est AS (SELECT CAST(round(sum(CAST(bo.n AS DOUBLE)
        |    * CAST(be.n AS DOUBLE)
        |    / CAST(greatest(bo.d, be.d) AS DOUBLE)), 0) AS BIGINT) AS est_pairs
        |  FROM bo JOIN be ON bo.b = be.b)
        |SELECT exact_pairs, est_pairs,
        |  CAST(round(10000.0 * (est_pairs - exact_pairs) / exact_pairs, 0)
        |    AS BIGINT) AS err_bp
        |FROM exact CROSS JOIN est""".stripMargin,
    // Exact LOF chain on the capped sample: 6-dp DECIMAL distances,
    // 9-dp quantized lrd, so every aggregation is order-invariant.
    "lof1_local_outliers" ->
      s"""WITH e AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |p AS (SELECT a.id AS pa, b.id AS pb,
         |    CAST(round(1.0 - (${foldCosine("a.v", "b.v")}), 6)
         |      AS DECIMAL(10,6)) AS dist
         |  FROM e a JOIN e b ON a.id <> b.id),
         |r AS (SELECT pa, pb, dist,
         |    row_number() OVER (PARTITION BY pa ORDER BY dist, pb) AS rn
         |  FROM p),
         |kd AS (SELECT pa AS id, min(CASE WHEN rn = 5 THEN dist END) AS kdist
         |  FROM r GROUP BY 1),
         |nk AS (SELECT p.pa, p.pb, p.dist FROM p JOIN kd ON kd.id = p.pa
         |  WHERE p.dist <= kd.kdist),
         |reach AS (SELECT nk.pa, nk.pb,
         |    greatest(kdo.kdist, nk.dist,
         |      CAST(0.000001 AS DECIMAL(10,6))) AS rd
         |  FROM nk JOIN kd kdo ON kdo.id = nk.pb),
         |lrd AS (SELECT pa AS id,
         |    CAST(round(CAST(count(*) AS DOUBLE) / CAST(sum(rd) AS DOUBLE), 9)
         |      AS DECIMAL(28,9)) AS lrd
         |  FROM reach GROUP BY 1),
         |lof AS (SELECT nk.pa AS id, count(*) AS nn,
         |    round(CAST(sum(lo.lrd) AS DOUBLE) / count(*)
         |      / CAST(max(lp.lrd) AS DOUBLE), 6) AS lof
         |  FROM nk JOIN lrd lo ON lo.id = nk.pb
         |  JOIN lrd lp ON lp.id = nk.pa
         |  GROUP BY 1)
         |SELECT CAST(id AS BIGINT) AS vec_id,
         |  CAST(nn AS BIGINT) AS n_neighbors, lof
         |FROM lof ORDER BY lof DESC, vec_id LIMIT 20""".stripMargin,
    // Wald SPRT with pre-rounded DECIMAL weights: the whole LLR path
    // is exact integer×decimal arithmetic — no ln at runtime. The
    // SAME oracle checks the batch walk (sprt1) and the streaming-
    // state walk (st19): batch ≡ stream is part of the hash.
    "sprt1_sequential_test" -> SprtOracleSql,
    "st19_stream_sprt" -> SprtOracleSql,
    // Modularity of the nation partition on the trade graph: pure
    // counting on the edge list, per-community contributions.
    "mod1_graph_modularity" ->
      """WITH pairs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |e AS (SELECT cu.c_nationkey AS cn, su.s_nationkey AS sn
        |  FROM pairs p JOIN customer cu ON cu.c_custkey = p.c
        |  JOIN supplier su ON su.s_suppkey = p.s),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |w AS (SELECT cn AS nation, CAST(count(*) AS BIGINT) AS within
        |  FROM e WHERE cn = sn GROUP BY 1),
        |d AS (SELECT nation, CAST(count(*) AS BIGINT) AS degree_sum
        |  FROM (SELECT cn AS nation FROM e UNION ALL SELECT sn FROM e)
        |  GROUP BY 1)
        |SELECT CAST(d.nation AS BIGINT) AS nation, d.degree_sum,
        |  CAST(COALESCE(w.within, 0) AS BIGINT) AS within_edges,
        |  round(CAST(COALESCE(w.within, 0) AS DOUBLE) / m.m
        |    - (CAST(d.degree_sum AS DOUBLE) / (2.0 * m.m))
        |      * (CAST(d.degree_sum AS DOUBLE) / (2.0 * m.m)), 12) AS contrib
        |FROM d CROSS JOIN m LEFT JOIN w ON w.nation = d.nation
        |ORDER BY nation""".stripMargin,
    // Universe sampling: the oracle filters the JOINED result by the
    // orders-side key alone — hash match proves the sampled join
    // lost nothing (join preservation).
    "us1_universe_sample" ->
      """SELECT o_orderpriority AS priority,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '4000'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Kendall tau-b by the contingency-grid closed form: dominance
    // counts as two chained exclusive prefix sums over the dense
    // grid; ties from marginals. Spec brute-forces all pairs.
    "kt1_kendall_tau" ->
      """WITH o AS (SELECT CAST(year(o_orderdate)*12 + month(o_orderdate) AS BIGINT) AS x,
        |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS y FROM orders),
        |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS nij FROM o GROUP BY 1, 2),
        |grid AS (SELECT xs.x, ys.y, COALESCE(c.nij, 0) AS nij
        |  FROM (SELECT DISTINCT x FROM cells) xs
        |  CROSS JOIN (SELECT DISTINCT y FROM cells) ys
        |  LEFT JOIN cells c USING (x, y)),
        |w1 AS (SELECT x, y, nij,
        |    COALESCE(sum(nij) OVER (PARTITION BY y ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumx
        |  FROM grid),
        |w2 AS (SELECT x, y, nij,
        |    COALESCE(sum(cumx) OVER (PARTITION BY x ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p_lt_lt,
        |    COALESCE(sum(cumx) OVER (PARTITION BY x ORDER BY y DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p_lt_gt
        |  FROM w1),
        |agg AS (SELECT
        |    CAST(sum(CAST(nij AS DECIMAL(38,0)) * p_lt_lt) AS DECIMAL(38,0)) AS c_conc,
        |    CAST(sum(CAST(nij AS DECIMAL(38,0)) * p_lt_gt) AS DECIMAL(38,0)) AS d_disc
        |  FROM w2),
        |marg AS (SELECT
        |    (SELECT CAST(sum(nij) AS BIGINT) FROM cells) AS n,
        |    (SELECT CAST(sum(CAST(t AS DECIMAL(38,0))*(t-1)/2) AS DECIMAL(38,0))
        |       FROM (SELECT sum(nij) AS t FROM cells GROUP BY x)) AS n1,
        |    (SELECT CAST(sum(CAST(t AS DECIMAL(38,0))*(t-1)/2) AS DECIMAL(38,0))
        |       FROM (SELECT sum(nij) AS t FROM cells GROUP BY y)) AS n2)
        |SELECT n AS n_rows, CAST(c_conc AS BIGINT) AS concordant,
        |  CAST(d_disc AS BIGINT) AS discordant,
        |  round((CAST(c_conc AS DOUBLE) - CAST(d_disc AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE)*(n-1)/2.0 - CAST(n1 AS DOUBLE))
        |         * (CAST(n AS DOUBLE)*(n-1)/2.0 - CAST(n2 AS DOUBLE))), 9) AS tau_b
        |FROM agg CROSS JOIN marg""".stripMargin,
    // Ridge normal equations: DECIMAL-exact sufficient statistics,
    // then the identical 3×3 adjugate solve — bit-equal doubles.
    "ridge1_ridge_fit" ->
      """WITH f AS (SELECT CAST(l_quantity AS DECIMAL(30,2)) AS x1,
        |    CAST(round(l_discount*100) AS BIGINT) AS x2,
        |    CAST(l_extendedprice AS DECIMAL(30,2)) AS y FROM lineitem),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x1) AS DOUBLE) AS sx1, CAST(sum(x2) AS DOUBLE) AS sx2,
        |    CAST(sum(x1*x1) AS DOUBLE) AS sx1x1,
        |    CAST(sum(x1*x2) AS DOUBLE) AS sx1x2,
        |    CAST(sum(x2*x2) AS DOUBLE) AS sx2x2,
        |    CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x1*y) AS DOUBLE) AS sx1y,
        |    CAST(sum(x2*y) AS DOUBLE) AS sx2y, CAST(sum(y*y) AS DOUBLE) AS syy
        |  FROM f),
        |m AS (SELECT s.*, sx1x1 + 10.0 AS a11, sx2x2 + 10.0 AS a22 FROM s),
        |c AS (SELECT m.*,
        |    (a11*a22 - sx1x2*sx1x2) AS c00,
        |    -(sx1*a22 - sx1x2*sx2) AS c01,
        |    (sx1*sx1x2 - a11*sx2) AS c02,
        |    (n*a22 - sx2*sx2) AS c11,
        |    -(n*sx1x2 - sx1*sx2) AS c12,
        |    (n*a11 - sx1*sx1) AS c22
        |  FROM m),
        |b AS (SELECT c.*,
        |    (c00*sy + c01*sx1y + c02*sx2y) / (n*c00 + sx1*c01 + sx2*c02) AS b0,
        |    (c01*sy + c11*sx1y + c12*sx2y) / (n*c00 + sx1*c01 + sx2*c02) AS b1,
        |    (c02*sy + c12*sx1y + c22*sx2y) / (n*c00 + sx1*c01 + sx2*c02) AS b2
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n_rows, round(b0, 6) AS intercept,
        |  round(b1, 6) AS coef_quantity, round(b2, 6) AS coef_discount,
        |  round(1.0 - (syy - 2.0*(b0*sy + b1*sx1y + b2*sx2y)
        |    + (b0*b0*n + b1*b1*(a11-10.0) + b2*b2*(a22-10.0)
        |       + 2.0*b0*b1*sx1 + 2.0*b0*b2*sx2 + 2.0*b1*b2*sx1x2))
        |    / (syy - sy*sy/n), 6) AS r2
        |FROM b""".stripMargin,
    // Gopher rule battery: every threshold restated in the same
    // integer arithmetic (no float boundary can disagree).
    "t18_gopher_rules" ->
      raw"""WITH w AS (SELECT doc_id, source, text,
        |    regexp_split_to_array(trim(text), '\s+') AS ws,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (SELECT doc_id, source,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS sum_wl,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
        |    CAST(length(regexp_replace(text, '[^#]', '', 'g'))
        |      + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS symbols,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, x -> regexp_matches(x, '^\s*[-*•]'))) AS BIGINT) AS bullets,
        |    CAST(len(list_filter(lines, x -> regexp_matches(x, '(\.\.\.|…)\s*$$'))) AS BIGINT) AS ell,
        |    CAST(list_contains(ws, 'the') AS INT) + CAST(list_contains(ws, 'and') AS INT)
        |      + CAST(list_contains(ws, 'of') AS INT) + CAST(list_contains(ws, 'to') AS INT)
        |      + CAST(list_contains(ws, 'a') AS INT) + CAST(list_contains(ws, 'in') AS INT)
        |      + CAST(list_contains(ws, 'is') AS INT) + CAST(list_contains(ws, 'it') AS INT)
        |      + CAST(list_contains(ws, 'for') AS INT) + CAST(list_contains(ws, 'on') AS INT) AS stop_hits
        |  FROM w),
        |r AS (SELECT source,
        |    (n_words BETWEEN 50 AND 100000) AS r_wc,
        |    (3*n_words <= sum_wl AND sum_wl <= 10*n_words) AS r_mwl,
        |    (10*symbols <= n_words) AS r_sym,
        |    (10*bullets <= 9*n_lines) AS r_bul,
        |    (10*ell <= 3*n_lines) AS r_ell,
        |    (5*alpha_words >= 4*n_words) AS r_alpha,
        |    (stop_hits >= 2) AS r_stop
        |  FROM m)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN r_wc AND r_mwl AND r_sym AND r_bul AND r_ell
        |    AND r_alpha AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS f_wordcount,
        |  CAST(sum(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS f_meanwordlen,
        |  CAST(sum(CASE WHEN NOT r_sym THEN 1 ELSE 0 END) AS BIGINT) AS f_symbol,
        |  CAST(sum(CASE WHEN NOT r_bul THEN 1 ELSE 0 END) AS BIGINT) AS f_bullet,
        |  CAST(sum(CASE WHEN NOT r_ell THEN 1 ELSE 0 END) AS BIGINT) AS f_ellipsis,
        |  CAST(sum(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS f_alpha,
        |  CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS f_stopword
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // Partial OPTIMIZE: physical claim (6 dirs -> 4) as literals next
    // to logical reads that must be unchanged by the rewrite.
    "tt15_partial_optimize" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |p AS (SELECT (SELECT max(k) FROM o) // 6 + 1 AS w,
        |    (SELECT max(k) FROM o) AS mk),
        |live AS (SELECT * FROM o WHERE cents <= 40000000)
        |SELECT '1_full' AS phase, CAST(6 AS BIGINT) AS dirs_before,
        |  CAST(4 AS BIGINT) AS dirs_after, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM live
        |UNION ALL SELECT '2_low_range', CAST(6 AS BIGINT), CAST(4 AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM live, p WHERE k BETWEEN 1 AND 2*w
        |UNION ALL SELECT '3_high_range', CAST(6 AS BIGINT), CAST(4 AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM live, p WHERE k BETWEEN 4*w AND mk
        |ORDER BY phase""".stripMargin,
    // The layout CONTRACT as literals: one file per cluster key, zero
    // in-file inversions, row counts from the source table.
    "k15_v2_required_distribution" ->
      """SELECT o_orderpriority AS prio, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_files, CAST(0 AS BIGINT) AS inversions
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // String zone maps restated as plain VARCHAR BETWEENs (binary
    // collation both engines); the pruning is spec-asserted.
    "tt14_string_zones" ->
      """WITH o AS (SELECT o_orderpriority AS prio,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(1 AS INT) AS range_id, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM o WHERE prio BETWEEN '1' AND '2~'
        |UNION ALL SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM o WHERE prio BETWEEN '4' AND '9'
        |UNION ALL SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM o WHERE prio = '3-MEDIUM'
        |ORDER BY range_id""".stripMargin,
    // Exact RLE run counts per (sort order, column): lag over the
    // total order, a run starts where the previous value differs.
    "enc1_rle_runs" ->
      """WITH l AS (SELECT l_shipdate, l_returnflag, l_linestatus,
        |    l_suppkey, l_orderkey, l_linenumber FROM lineitem),
        |a AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
        |    l_suppkey AS sk, l_shipdate AS sd,
        |    lag(l_returnflag) OVER w AS p_rf, lag(l_linestatus) OVER w AS p_ls,
        |    lag(l_suppkey) OVER w AS p_sk, lag(l_shipdate) OVER w AS p_sd
        |  FROM l WINDOW w AS (ORDER BY l_shipdate, l_orderkey, l_linenumber)),
        |b AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
        |    l_suppkey AS sk, l_shipdate AS sd,
        |    lag(l_returnflag) OVER w AS p_rf, lag(l_linestatus) OVER w AS p_ls,
        |    lag(l_suppkey) OVER w AS p_sk, lag(l_shipdate) OVER w AS p_sd
        |  FROM l WINDOW w AS (ORDER BY l_orderkey, l_linenumber)),
        |runs_a AS (SELECT
        |    CAST(sum(CASE WHEN p_rf IS NULL OR p_rf <> rf THEN 1 ELSE 0 END) AS BIGINT) AS r_rf,
        |    CAST(sum(CASE WHEN p_ls IS NULL OR p_ls <> ls THEN 1 ELSE 0 END) AS BIGINT) AS r_ls,
        |    CAST(sum(CASE WHEN p_sk IS NULL OR p_sk <> sk THEN 1 ELSE 0 END) AS BIGINT) AS r_sk,
        |    CAST(sum(CASE WHEN p_sd IS NULL OR p_sd <> sd THEN 1 ELSE 0 END) AS BIGINT) AS r_sd
        |  FROM a),
        |runs_b AS (SELECT
        |    CAST(sum(CASE WHEN p_rf IS NULL OR p_rf <> rf THEN 1 ELSE 0 END) AS BIGINT) AS r_rf,
        |    CAST(sum(CASE WHEN p_ls IS NULL OR p_ls <> ls THEN 1 ELSE 0 END) AS BIGINT) AS r_ls,
        |    CAST(sum(CASE WHEN p_sk IS NULL OR p_sk <> sk THEN 1 ELSE 0 END) AS BIGINT) AS r_sk,
        |    CAST(sum(CASE WHEN p_sd IS NULL OR p_sd <> sd THEN 1 ELSE 0 END) AS BIGINT) AS r_sd
        |  FROM b)
        |SELECT 'ship_date' AS sort_order, 'l_returnflag' AS column_name, r_rf AS n_runs FROM runs_a
        |UNION ALL SELECT 'ship_date', 'l_linestatus', r_ls FROM runs_a
        |UNION ALL SELECT 'ship_date', 'l_suppkey', r_sk FROM runs_a
        |UNION ALL SELECT 'ship_date', 'l_shipdate', r_sd FROM runs_a
        |UNION ALL SELECT 'order_key', 'l_returnflag', r_rf FROM runs_b
        |UNION ALL SELECT 'order_key', 'l_linestatus', r_ls FROM runs_b
        |UNION ALL SELECT 'order_key', 'l_suppkey', r_sk FROM runs_b
        |UNION ALL SELECT 'order_key', 'l_shipdate', r_sd FROM runs_b
        |ORDER BY sort_order, column_name""".stripMargin,
    // Exact two-sample KS over the distinct-length spine: cumulative
    // per-source counts, D = max ecdf gap.
    "ks1_length_ks" ->
      """WITH d AS (SELECT source, n_chars FROM documents
        |  WHERE source IN ('src0', 'src1')),
        |n AS (SELECT
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM d),
        |c AS (SELECT n_chars AS v,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM d GROUP BY 1),
        |e AS (SELECT v, CAST(sum(ca) OVER (ORDER BY v) AS DOUBLE) AS cuma,
        |    CAST(sum(cb) OVER (ORDER BY v) AS DOUBLE) AS cumb FROM c),
        |x AS (SELECT e.v, e.cuma, e.cumb, n.na, n.nb FROM e CROSS JOIN n)
        |SELECT max(na) AS n_a, max(nb) AS n_b,
        |  round(max(abs(cuma / CAST(na AS DOUBLE)
        |    - cumb / CAST(nb AS DOUBLE))), 6) AS ks_d
        |FROM x""".stripMargin,
    // Lossless rewrite: pre- and post-optimize snapshots are both the
    // whole table — two identical aggregates, distinct phase labels.
    "tt7_optimize" ->
      """WITH o AS (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(1 AS INT) AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o
        |ORDER BY phase""".stripMargin,
    // Phases: 1 = pre-optimize head, 2 = post-z-order rewrite
    // (lossless ⇒ identical), 3 = zone-pruned custkey range read.
    "tt8_optimize_zorder" ->
      """WITH o AS (SELECT o_custkey AS cust,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(1 AS INT) AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o
        |UNION ALL
        |SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE cust BETWEEN 100 AND 200
        |ORDER BY phase""".stripMargin,
    // ER capstone: blocked FS scoring -> n_agree>=2 match edges ->
    // recursive-closure components (Spark: min-label BSP) -> golden
    // record summary per cluster.
    "c6_entity_resolution" ->
      """WITH RECURSIVE c AS (SELECT c_custkey * 2 AS id, c_nationkey AS blk,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        |s AS (SELECT s_suppkey * 2 + 1 AS id, s_nationkey AS blk,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS cents FROM supplier),
        |e AS (SELECT c.id AS a, s.id AS b FROM c JOIN s USING (blk)
        |  WHERE CAST((c.cents >= 0) = (s.cents >= 0) AS INT)
        |    + CAST(floor(c.cents / 100000.0) = floor(s.cents / 100000.0) AS INT)
        |    + CAST(floor(c.cents / 1000.0) = floor(s.cents / 1000.0) AS INT) >= 2),
        |ed AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |nodes AS (SELECT id FROM c UNION ALL SELECT id FROM s),
        |reach AS (SELECT id AS n, id AS m FROM nodes
        |  UNION
        |  SELECT r.n, ed.b FROM reach r JOIN ed ON r.m = ed.a),
        |lab AS (SELECT n AS id, min(m) AS rep FROM reach GROUP BY 1),
        |bal AS (SELECT id, cents FROM c UNION ALL SELECT id, cents FROM s)
        |SELECT l.rep AS cluster_rep, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(CASE WHEN l.id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
        |  CAST(sum(CASE WHEN l.id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers,
        |  CAST(max(b.cents) AS BIGINT) AS max_bal_cents
        |FROM lab l JOIN bal b USING (id)
        |GROUP BY 1 ORDER BY n_members DESC, cluster_rep ASC LIMIT 20""".stripMargin,
    // Exact-by-capacity space-saving: cap 2048 >= distinct users at
    // every gated SF, so the sketch equals the batch top-k and
    // max_err is 0 (the eviction path is spec-driven at cap 2).
    "st17_space_saving_topk" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, n,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, user_id ASC) AS rank
        |  FROM c)
        |SELECT event_type, CAST(rank AS INT) AS rank, user_id,
        |  CAST(n AS BIGINT) AS est_count, CAST(0 AS BIGINT) AS max_err
        |FROM r WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,
    // Timer-emitted sessions: batch gaps-and-islands (in MICROSECONDS,
    // strict > gap like the processor) restricted to sessions whose
    // gap-timer expiry (end ms + 30 min) is at or before the final
    // watermark (max ts ms − 10 min) — the <= boundary is the
    // spec-pinned Spark timer-firing semantic, not an assumption.
    "st18_timer_sessions" ->
      """WITH e AS (SELECT user_id, ts FROM events),
        |wm AS (SELECT epoch_ns(max(ts)) // 1000000 - 600000 AS wm_ms FROM e),
        |marks AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    OR epoch_ns(ts) - epoch_ns(lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts)) > 1800000000000 THEN 1 ELSE 0 END AS ns
        |  FROM e),
        |sess AS (SELECT user_id, ts,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM marks),
        |agg AS (SELECT user_id, sid,
        |  epoch_ns(min(ts)) // 1000 AS start_us,
        |  epoch_ns(max(ts)) // 1000 AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events FROM sess GROUP BY 1, 2)
        |SELECT user_id, start_us, end_us, n_events
        |FROM agg CROSS JOIN wm
        |WHERE end_us // 1000 + 1800000 <= wm.wm_ms
        |ORDER BY user_id, start_us""".stripMargin,
    // Fold = first md5 byte of doc_id mod 5 (hex-fold via strpos —
    // DuckDB has no conv()); train(fold) = global − fold.
    "cv1_kfold_stats" ->
      """WITH folds AS (
        |  SELECT doc_id, n_chars,
        |    ((strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[1]) - 1) * 16
        |     + strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[2]) - 1) % 5 AS fold
        |  FROM documents
        |), agg AS (
        |  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS fold_chars
        |  FROM folds GROUP BY fold
        |), tot AS (SELECT SUM(n_docs) AS n_all, SUM(fold_chars) AS chars_all FROM agg)
        |SELECT CAST(fold AS BIGINT) AS fold, n_docs, fold_chars,
        |  CAST(n_all - n_docs AS BIGINT) AS train_docs,
        |  CAST(chars_all - fold_chars AS BIGINT) AS train_chars,
        |  round(CAST(chars_all - fold_chars AS DOUBLE)
        |    / CAST(n_all - n_docs AS DOUBLE), 6) AS train_mean_chars
        |FROM agg, tot ORDER BY fold""".stripMargin,
    // Interval weight = ms to the user's next event capped at 1 h;
    // open tails dropped; weighted sum exact in DECIMAL(20,6)×ms.
    "twa1_time_weighted" ->
      """WITH d AS (
        |  SELECT user_id, ts, date_trunc('hour', ts) AS hr,
        |    CAST(value AS DECIMAL(20,6)) AS v,
        |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events
        |), w AS (
        |  SELECT user_id, hr, v,
        |    LEAST(date_diff('millisecond', ts, nxt), 3600000) AS dur_ms
        |  FROM d WHERE nxt IS NOT NULL
        |), f AS (SELECT * FROM w WHERE dur_ms > 0)
        |SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  CAST(SUM(dur_ms) AS BIGINT) AS total_ms,
        |  round(CAST(SUM(v * dur_ms) AS DOUBLE)
        |    / CAST(SUM(dur_ms) AS DOUBLE), 6) AS twa_value
        |FROM f GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY user_id, hour_start""".stripMargin,
    // DuckDB dayofweek is 0=Sunday; Spark side emits dayofweek()-1.
    // Sums of v and v*v exact in DECIMAL(18,6)/(36,12).
    "ts4_dow_hod_profile" ->
      """WITH e AS (
        |  SELECT dayofweek(ts) AS dow, hour(ts) AS hod,
        |    CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events
        |)
        |SELECT CAST(dow AS INT) AS dow, CAST(hod AS INT) AS hod,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_value,
        |  round((CAST(sum(v*v) AS DOUBLE)
        |    - CAST(sum(v) AS DOUBLE) * CAST(sum(v) AS DOUBLE) / count(*))
        |    / count(*), 6) AS var_value
        |FROM e GROUP BY 1,2 HAVING count(*) >= 5 ORDER BY 1,2""".stripMargin,
    // Lower median by exact integer rank (no interpolation): both
    // engines pick row ⌊(n+1)/2⌋ of (bal, custkey) order.
    "imp1_median_impute" ->
      """WITH masked AS (
        |  SELECT c_custkey, c_nationkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
        |  FROM customer
        |), obs AS (
        |  SELECT c_nationkey, bal,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY bal, c_custkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY c_nationkey) AS n_obs
        |  FROM masked WHERE bal IS NOT NULL
        |), med AS (
        |  SELECT c_nationkey, bal AS grp_median FROM obs
        |  WHERE rn = CAST(floor((n_obs + 1) / 2.0) AS BIGINT)
        |)
        |SELECT m.c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN m.bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
        |  round(g.grp_median, 6) AS grp_median,
        |  CAST(sum(CAST(COALESCE(m.bal, 0) AS DECIMAL(30,2))) AS DOUBLE) AS observed_total
        |FROM masked m JOIN med g USING (c_nationkey)
        |GROUP BY 1, g.grp_median ORDER BY 1""".stripMargin,
    // The Bloom prefilter is a bandwidth valve only (no false
    // negatives; FPs removed by the exact confirm join), so the
    // oracle is the plain exact 7-gram overlap with no sketch.
    "dc3_bloom_decontaminate" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-5),
        |        i -> array_to_string(ws[i:i+6], ' '))) AS grams
        |      FROM w WHERE len(ws) >= 7),
        |tr AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 10 != 7),
        |ev AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 10 = 7),
        |hits AS (
        |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
        |  FROM ev e JOIN tr t ON e.gram = t.gram GROUP BY 1
        |), per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        |  FROM ev GROUP BY 1)
        |SELECT p.doc_id, p.n_grams, h.n_contaminated
        |FROM per p JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin,
    // The non-urgent condition rides the OUTER JOIN (zero-order
    // customers stay); count(o_orderkey) counts matches only.
    "q13_order_count_dist" ->
      """WITH co AS (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority != '1-URGENT'
        |  GROUP BY 1
        |)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // Threshold = exactAvg (DECIMAL sum, one double division) so the
    // boundary comparison is bit-identical; NOT EXISTS == left anti.
    "q22_idle_rich" ->
      """WITH ab AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE)
        |    / count(*) AS ab
        |  FROM customer WHERE c_acctbal > 0.0
        |)
        |SELECT CAST(c_nationkey AS INT) AS cntry,
        |  CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS totacctbal
        |FROM customer, ab
        |WHERE c_acctbal > ab.ab
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Peak hour by (total DESC, hour ASC); contribution = peak count
    // minus the type's mean hourly count (exact-integer division).
    "exp1_anomaly_contrib" ->
      """WITH h AS (SELECT strftime(date_trunc('hour', ts),
        |    '%Y-%m-%d %H:%M:%S') AS hr, event_type, count(*) AS n
        |  FROM events GROUP BY 1,2),
        |tot AS (SELECT hr, sum(n) AS tn FROM h GROUP BY 1),
        |peak AS (SELECT hr FROM tot ORDER BY tn DESC, hr ASC LIMIT 1),
        |nh AS (SELECT CAST(count(DISTINCT hr) AS BIGINT) AS nh FROM h),
        |base AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS bn
        |  FROM h GROUP BY 1),
        |px AS (SELECT h.event_type, CAST(h.n AS BIGINT) AS pn
        |  FROM h JOIN peak USING (hr))
        |SELECT b.event_type,
        |  CAST(coalesce(px.pn, 0) AS BIGINT) AS peak_n,
        |  round(CAST(b.bn AS DOUBLE) / nh.nh, 6) AS mean_hourly_n,
        |  round(coalesce(px.pn, 0) - CAST(b.bn AS DOUBLE) / nh.nh, 6) AS excess,
        |  (SELECT hr FROM peak) AS peak_hour
        |FROM base b CROSS JOIN nh LEFT JOIN px USING (event_type)
        |ORDER BY excess DESC, b.event_type""".stripMargin,
    // Dominant language via row_number mirrors the Spark side's
    // min(struct(-n, lang)) argmax: count DESC, lang ASC.
    "c7_corpus_card" ->
      """WITH d AS (
        |  SELECT source, lang, n_chars,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_words
        |  FROM documents
        |), toks AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents
        |), tk AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS n_types
        |  FROM toks GROUP BY 1
        |), base AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    round(CAST(sum(n_words) AS DOUBLE) / count(*), 6) AS mean_words,
        |    round(CAST(sum(CASE WHEN n_words < 20 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*), 6) AS short_frac
        |  FROM d GROUP BY 1
        |), langs AS (
        |  SELECT source, lang, count(*) AS nl,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY count(*) DESC, lang ASC) AS r
        |  FROM d GROUP BY 1, 2
        |), top AS (SELECT source, lang AS top_lang, nl FROM langs WHERE r = 1)
        |SELECT b.source, b.n_docs, b.total_chars, b.mean_words,
        |  round(CAST(tk.n_types AS DOUBLE) / tk.n_tokens, 6) AS type_token_ratio,
        |  b.short_frac, t.top_lang,
        |  round(CAST(t.nl AS DOUBLE) / b.n_docs, 6) AS top_lang_share
        |FROM base b JOIN top t USING (source) JOIN tk USING (source)
        |ORDER BY b.source""".stripMargin,
    // Oracle sees extracted VALUES (json_extract), not the variant
    // encoding; k is non-negative so // matches Spark's div.
    "vnt1_variant_extract" ->
      """WITH v AS (SELECT event_type,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, CAST(k // 25 AS BIGINT) AS k_bucket,
        |  CAST(count(*) AS BIGINT) AS n, CAST(min(k) AS BIGINT) AS k_min,
        |  CAST(max(k) AS BIGINT) AS k_max
        |FROM v GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q19_disjunctive_pred" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 15 AND 40)""".stripMargin,
    // v_a = orders sans every 4th key; v_b = orders sans every 5th
    // with F-status prices +1000 cents; diff classes from the same
    // derivation — all-BIGINT arithmetic.
    "ttd1_version_diff" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |a AS (SELECT * FROM o WHERE k % 4 != 0),
        |b AS (SELECT k, status,
        |    CASE WHEN status = 'F' THEN cents + 1000 ELSE cents END AS cents
        |  FROM o WHERE k % 5 != 0),
        |d AS (SELECT COALESCE(a.k, b.k) AS k, a.cents AS ca, b.cents AS cb,
        |    a.status AS sa, b.status AS sb
        |  FROM a FULL OUTER JOIN b ON a.k = b.k)
        |SELECT CASE WHEN ca IS NULL THEN 'added' WHEN cb IS NULL THEN 'removed'
        |    WHEN ca != cb OR sa != sb THEN 'changed'
        |    ELSE 'unchanged' END AS change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(COALESCE(ca, 0)) AS BIGINT) AS cents_before,
        |  CAST(sum(COALESCE(cb, 0)) AS BIGINT) AS cents_after
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // Phases: 1 = v1 full table, 2 = the half-deleting incident
    // overwrite, 3 = restored head (== phase 1, zero data movement).
    "tt9_restore" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(1 AS INT) AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE k % 2 = 0
        |UNION ALL
        |SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o
        |ORDER BY phase""".stripMargin,
    // Phases: 1 source, 2 clone == source, 3 range read via the
    // clone's inherited zones, 4 clone after re-ingesting nation-3
    // customers' orders, 5 source unchanged (independence).
    "tt10_shallow_clone" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |n3 AS (SELECT c_custkey FROM customer WHERE c_nationkey = 3),
        |extra AS (SELECT o.* FROM o SEMI JOIN n3 ON o.cust = n3.c_custkey)
        |SELECT CAST(1 AS INT) AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o
        |UNION ALL
        |SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE cust BETWEEN 100 AND 200
        |UNION ALL
        |SELECT CAST(4 AS INT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM o) + (SELECT count(*) FROM extra),
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM o)
        |    + (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM extra)
        |UNION ALL
        |SELECT CAST(5 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o
        |ORDER BY phase""".stripMargin,
    // RR per query from the first label match in the exact top-10; the
    // corpus MRR (DECIMAL-summed fold) rides every row.
    "mrr1_mean_recip_rank" ->
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv, label AS ql
         |  FROM e WHERE vec_id < 5),
         |s AS (SELECT query_id, ql, e.vec_id, e.label AS nl,
         |    round(${foldCosine("qv", "e.v")}, 6) AS score
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |r AS (SELECT query_id, ql, nl,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s),
         |fh AS (SELECT query_id, CAST(min(rank) AS INT) AS first_rel
         |  FROM r WHERE rank <= 10 AND ql = nl GROUP BY 1),
         |pq AS (SELECT q.query_id, fh.first_rel,
         |    coalesce(1.0 / CAST(fh.first_rel AS DOUBLE), 0.0) AS rr
         |  FROM (SELECT DISTINCT query_id FROM r) q
         |  LEFT JOIN fh USING (query_id)),
         |m AS (SELECT CAST(sum(CAST(rr AS DECIMAL(38,18))) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS m FROM pq)
         |SELECT query_id, first_rel, round(rr, 6) AS rr, round(m.m, 6) AS mrr
         |FROM pq CROSS JOIN m ORDER BY query_id""".stripMargin,
    // Gini from the rank-ordered closed form, both sums DECIMAL-summed.
    "gini1_spend_gini" ->
      """WITH s AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS rn FROM s),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(CAST(rn AS DOUBLE) * x AS DECIMAL(38,6))) AS DOUBLE) AS six,
        |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx FROM r)
        |SELECT n AS n_customers,
        |  round((2.0 * six - (CAST(n AS DOUBLE) + 1.0) * sx)
        |    / (CAST(n AS DOUBLE) * sx), 6) AS gini FROM a""".stripMargin,
    // Recall@5 of the ss7 two-stage index against the ss1 exact top-5:
    // both deterministic chains replayed, intersected per query.
    "rec1_ann_recall" -> annRecallOracle(nq = 5, cand = 20, k = 5),
    "rec2_ann_recall_wide" -> annRecallOracle(nq = 20, cand = 50, k = 10),
    // Cohen's kappa from the 2x2 contingency, products double-first.
    "iaa1_labeler_kappa" ->
      """WITH d AS (SELECT (n_chars > 500) AS a, (lang = 'en') AS b FROM documents),
        |c AS (SELECT
        |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM d),
        |m AS (SELECT n11, n10, n01, n00,
        |    CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS n FROM c),
        |k AS (SELECT n11, n10, n01, n00,
        |    CAST(n11 + n00 AS DOUBLE) / n AS po,
        |    (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
        |      + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
        |      / (n * n) AS pe
        |  FROM m)
        |SELECT n11, n10, n01, n00, round(po, 6) AS po, round(pe, 6) AS pe,
        |  round((po - pe) / (1.0 - pe), 6) AS kappa FROM k""".stripMargin,
    // Reliability table + ECE: DECIMAL-accumulated confidence sums,
    // per-bin gap terms DECIMAL-summed for the order-invariant fold.
    "cal1_calibration_ece" ->
      """WITH e AS (SELECT greatest(least(value, 500.0), 0.0) / 500.0 AS p,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events),
        |b AS (SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin, p, y FROM e),
        |per AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS sp,
        |    CAST(sum(y) AS BIGINT) AS sy FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS nt,
        |    CAST(sum(CAST(abs(CAST(sy AS DOUBLE) / CAST(n_events AS DOUBLE)
        |      - sp / CAST(n_events AS DOUBLE)) * CAST(n_events AS DOUBLE)
        |      AS DECIMAL(38,18))) AS DOUBLE) AS gapsum FROM per)
        |SELECT bin, n_events,
        |  round(sp / CAST(n_events AS DOUBLE) + 1e-12, 6) AS confidence,
        |  round(CAST(sy AS DOUBLE) / CAST(n_events AS DOUBLE) + 1e-12, 6) AS accuracy,
        |  round(abs(CAST(sy AS DOUBLE) / CAST(n_events AS DOUBLE)
        |    - sp / CAST(n_events AS DOUBLE)) + 1e-12, 6) AS gap,
        |  round(gapsum / CAST(nt AS DOUBLE) + 1e-12, 6) AS ece
        |FROM per CROSS JOIN t ORDER BY bin""".stripMargin,
    // Leave-fold-out by subtraction: enc(cat, f) = mean over cat minus
    // fold f; guard NULLs a category living entirely in one fold.
    "te1_target_encoding" ->
      """WITH r AS (SELECT o_orderpriority AS cat, o_orderkey % 5 AS fold,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |ct AS (SELECT cat, CAST(sum(cents) AS BIGINT) AS sc,
        |    CAST(count(*) AS BIGINT) AS nc FROM r GROUP BY 1),
        |cf AS (SELECT cat, fold, CAST(sum(cents) AS BIGINT) AS sf,
        |    CAST(count(*) AS BIGINT) AS nf FROM r GROUP BY 1, 2)
        |SELECT cat, CAST(fold AS BIGINT) AS fold, nf AS n_rows,
        |  round(CASE WHEN nc > nf
        |    THEN CAST(sc - sf AS DOUBLE) / (nc - nf) END, 6) AS target_enc
        |FROM cf JOIN ct USING (cat) ORDER BY cat, fold""".stripMargin,
    // CUPED: theta and the adjusted means from DECIMAL-summed
    // sufficient statistics, every product double-first (acf1 rule).
    "cuped1_cuped_readout" ->
      """WITH u AS (SELECT user_id,
        |    CASE WHEN user_id % 3 = 0 THEN 0 ELSE 1 END AS grp,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(30,6))
        |      ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(30,6))
        |      ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x*y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x*x AS DECIMAL(38,6))) AS DOUBLE) AS sxx FROM u),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS gx,
        |    CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS gy FROM u GROUP BY 1),
        |t AS (SELECT (CAST(n AS DOUBLE)*sxy - sx*sy)
        |      / (CAST(n AS DOUBLE)*sxx - sx*sx) AS theta,
        |    sx / CAST(n AS DOUBLE) AS mean_x FROM s)
        |SELECT CAST(grp AS INT) AS grp, ng AS n_users,
        |  round(gy / CAST(ng AS DOUBLE), 6) AS mean_y,
        |  round((gy - theta * (gx - CAST(ng AS DOUBLE) * mean_x))
        |    / CAST(ng AS DOUBLE), 6) AS mean_y_adj,
        |  round(theta, 6) AS theta
        |FROM g CROSS JOIN t ORDER BY grp""".stripMargin,
    // The permutation restated as a rank window over the same md5 sort
    // key — any divergence in epoch order or tiebreak hash-fails.
    "sh1_epoch_shuffle" ->
      """WITH e AS (SELECT 1 AS epoch UNION ALL SELECT 2),
        |h AS (SELECT e.epoch, d.doc_id,
        |    md5(e.epoch || ':' || d.doc_id) AS h
        |  FROM documents d CROSS JOIN e),
        |r AS (SELECT epoch, doc_id,
        |    row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS rk
        |  FROM h)
        |SELECT CAST(epoch AS INT) AS epoch, CAST(rk AS BIGINT) AS rk, doc_id
        |FROM r WHERE rk <= 10 ORDER BY epoch, rk""".stripMargin,
    // Point lookups restated as plain equality filters; a lookup on an
    // absent key is a 0-row/NULL-sum row on both engines.
    "tt5_bloom_skip" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(1 AS INT) AS probe_id, CAST(7 AS BIGINT) AS key,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE k = 7
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(68 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE k = 68
        |UNION ALL
        |SELECT CAST(3 AS INT), CAST(999999999 AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM o WHERE k = 999999999
        |ORDER BY probe_id""".stripMargin,
    // The union-schema read bucketed by the evolved column, nulls
    // (pre-evolution rows) as 'legacy'.
    "tt6_schema_evolution" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CASE WHEN k % 2 = 0 THEN 'legacy'
        |    WHEN k % 4 = 1 THEN 'web' ELSE 'store' END AS channel,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM o GROUP BY 1 ORDER BY channel""".stripMargin,
    // v1 = all orders; v2 = the erasure's complement, stated as NOT IN.
    "tt4_tx_delete" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |d AS (SELECT c_custkey FROM customer WHERE c_nationkey = 7)
        |SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM o WHERE cust NOT IN (SELECT c_custkey FROM d)
        |ORDER BY version""".stripMargin,
    // The changes feed after v1 is exactly commits 2 and 3 — restated
    // as the residue-class filters those commits were built from.
    "cf1_changes_feed" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(2 AS BIGINT) AS commit_version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE k % 3 = 1
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE k % 3 = 2
        |ORDER BY commit_version""".stripMargin,
    // Exactly-once proof: despite the forced full re-delivery, the
    // table equals ONE copy of the upstream — the plain batch GROUP BY.
    "st14_stream_tx_sink" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // LRU+TTL cache closed form (validated against an online
    // simulation): final cache = the cap most-recently-seen types
    // among those within TTL of the user's last event. Recency is the
    // (last_us, last_event_id) total order the operator folds in.
    "st15_state_ttl_cache" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    event_type, value FROM events),
        |le AS (SELECT user_id, event_type, us, event_id, value,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY us DESC, event_id DESC) AS rn FROM ev),
        |lastx AS (SELECT user_id, event_type, us AS last_us,
        |    event_id AS last_eid, value AS last_value FROM le WHERE rn = 1),
        |um AS (SELECT user_id, max(us) AS uus FROM ev GROUP BY 1),
        |alive AS (SELECT l.user_id, l.event_type, l.last_us, l.last_value,
        |  row_number() OVER (PARTITION BY l.user_id
        |    ORDER BY l.last_us DESC, l.last_eid DESC) AS rk
        |  FROM lastx l JOIN um ON l.user_id = um.user_id
        |  WHERE l.last_us >= um.uus - 21600000000)
        |SELECT user_id, event_type,
        |  strftime(make_timestamp((last_us // 1000) * 1000),
        |    '%Y-%m-%d %H:%M:%S.%g') AS last_seen,
        |  last_value
        |FROM alive WHERE rk <= 3 ORDER BY user_id, event_type""".stripMargin,
    "w8_distribution_ranks" ->
      """WITH s AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1),
        |j AS (SELECT o_custkey, c_mktsegment, spend
        |  FROM s JOIN customer ON o_custkey = c_custkey)
        |SELECT o_custkey, c_mktsegment, spend,
        |  round(percent_rank() OVER
        |    (PARTITION BY c_mktsegment ORDER BY spend, o_custkey), 6) AS seg_pct_rank,
        |  round(cume_dist() OVER
        |    (PARTITION BY c_mktsegment ORDER BY spend, o_custkey), 6) AS seg_cume_dist,
        |  CAST(ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS INT) AS spend_decile
        |FROM j ORDER BY o_custkey""".stripMargin,
    // Last-touch attribution: the sortable-string running max (ts ‖
    // event id ‖ type, zero-padded) makes "latest prior event" a
    // bytewise comparison both engines evaluate identically; the NULL
    // branch is explicit because DuckDB's split_part maps NULL to ''.
    "att1_last_touch" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |t AS (SELECT event_type, max(CASE WHEN event_type <> 'purchase' THEN
        |      lpad(CAST(us AS VARCHAR),20,'0') || '|' ||
        |      lpad(CAST(event_id AS VARCHAR),12,'0') || '|' || event_type END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
        |  FROM ev),
        |p AS (SELECT CASE WHEN prev IS NULL THEN 'none'
        |    ELSE split_part(prev,'|',3) END AS touch
        |  FROM t WHERE event_type = 'purchase')
        |SELECT touch, CAST(count(*) AS BIGINT) AS n_purchases,
        |  round(CAST(count(*) AS DOUBLE)/(SELECT count(*) FROM p), 6) AS share
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // CDC chunk dedup: the oracle recomputes the kernel's window-bag
    // boundary rule by exploding chars through a windowed SUM — same
    // mix, same mod-64 coin, same substring character indexing.
    "cdc1_chunk_dedup" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text,'')) AS c,
        |         generate_subscripts(string_split(text,''), 1) AS i
        |  FROM documents),
        |g AS (SELECT doc_id, i,
        |    (unicode(c) * 2654435761) % 2147483647 AS gv FROM ch),
        |h AS (SELECT doc_id, i,
        |    CAST(sum(gv) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS BIGINT) AS wh,
        |    CAST(count(*) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS BIGINT) AS wn
        |  FROM g),
        |b AS (SELECT doc_id, CAST(i AS BIGINT) AS pos FROM h
        |  WHERE wn = 16 AND wh % 64 = 0),
        |bl AS (SELECT doc_id, list_sort(list(pos)) AS bounds FROM b GROUP BY 1),
        |d AS (SELECT d0.doc_id, d0.text,
        |    coalesce(bl.bounds, []) AS bounds, length(d0.text) AS n
        |  FROM documents d0 LEFT JOIN bl ON d0.doc_id = bl.doc_id),
        |ck AS (SELECT doc_id, unnest(list_transform(
        |    list_zip(list_prepend(CAST(0 AS BIGINT), bounds),
        |             list_append(bounds, CAST(n AS BIGINT))),
        |    p -> substring(text, CAST(p[1] AS INT) + 1,
        |      CAST(p[2] - p[1] AS INT)))) AS chunk
        |  FROM d),
        |cf AS (SELECT doc_id, chunk FROM ck WHERE length(chunk) >= 32)
        |SELECT md5(chunk) AS chunk_md5,
        |  CAST(length(chunk) AS BIGINT) AS chunk_len,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM cf GROUP BY chunk
        |HAVING count(*) > 1
        |ORDER BY n_occurrences DESC, chunk_md5 LIMIT 20""".stripMargin,
    // Adamic–Adar edge strength: the oracle materializes the wedge
    // join the operator's kernel avoids; both rank on the EXACT
    // scaled-long sum, so the top-k sets agree bit-for-bit. Nodes of
    // degree 1 can never be common neighbors — their weight is pinned
    // to 0 so neither engine divides by ln(1).
    "aa1_edge_strength" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM it a
        |  JOIN it b ON a.o = b.o AND a.p < b.p),
        |und AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
        |deg AS (SELECT b AS node, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
        |w AS (SELECT node, CASE WHEN d >= 2
        |    THEN CAST(round(1e12/ln(d)) AS BIGINT) ELSE 0 END AS wt FROM deg),
        |sc AS (SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(w.wt) AS BIGINT) AS s
        |  FROM e JOIN und n1 ON n1.a = e.u
        |  JOIN und n2 ON n2.a = e.v AND n2.b = n1.b
        |  JOIN w ON w.node = n1.b
        |  GROUP BY e.u, e.v)
        |SELECT u, v, n_common, round(CAST(s AS DOUBLE)/1e12, 6) AS aa_score
        |FROM sc ORDER BY s DESC, u, v LIMIT 25""".stripMargin,
    "s2_group_split" ->
      """WITH g AS (SELECT source, CASE
        |    WHEN substring(md5(source),1,1)
        |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
        |    WHEN substring(md5(source),1,1) IN ('c','d') THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM (SELECT DISTINCT source FROM documents))
        |SELECT split, CAST(count(DISTINCT d.source) AS BIGINT) AS n_groups,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents d JOIN g USING (source)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Identical operation order to the Spark side — (nxy/n) *
    // ln((nxy*n)/(nx*ny)) per cell, DECIMAL(38,18)-summed — so the
    // doubles match bit-for-bit before the round(6).
    "mi1_mutual_information" ->
      """WITH c AS (SELECT event_type AS x, user_id % 4 AS y,
        |    CAST(count(*) AS BIGINT) AS nxy FROM events GROUP BY 1,2),
        |tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM c),
        |mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM c GROUP BY 1),
        |my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM c GROUP BY 1),
        |terms AS (SELECT
        |    CAST(c.nxy AS DOUBLE)/t.n
        |      * ln(CAST(c.nxy AS DOUBLE)*t.n/(CAST(mx.nx AS DOUBLE)*my.ny)) AS mi_t,
        |    t.n AS n
        |  FROM c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot t),
        |hx AS (SELECT sum(CAST(-(CAST(nx AS DOUBLE)/t.n)*ln(CAST(nx AS DOUBLE)/t.n)
        |    AS DECIMAL(38,18))) AS v FROM mx CROSS JOIN tot t),
        |hy AS (SELECT sum(CAST(-(CAST(ny AS DOUBLE)/t.n)*ln(CAST(ny AS DOUBLE)/t.n)
        |    AS DECIMAL(38,18))) AS v FROM my CROSS JOIN tot t)
        |SELECT any_value(n) AS n,
        |  round(CAST(sum(CAST(mi_t AS DECIMAL(38,18))) AS DOUBLE), 6) AS mi_nats,
        |  round(CAST((SELECT v FROM hx) AS DOUBLE), 6) AS h_x,
        |  round(CAST((SELECT v FROM hy) AS DOUBLE), 6) AS h_y
        |FROM terms""".stripMargin,
    "j8_nullsafe_join" ->
      """WITH e AS (SELECT event_id, nullif(event_type, 'error') AS k FROM events),
        |dim(k2, code) AS (VALUES ('click', 1), ('view', 2), (NULL, 99))
        |SELECT CAST(code AS BIGINT) AS code, count(*) AS n
        |FROM e JOIN dim ON e.k IS NOT DISTINCT FROM dim.k2
        |GROUP BY code ORDER BY code""".stripMargin,
    "l1_word_positions" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents WHERE doc_id < 50)
        |SELECT doc_id, CAST(i AS INT) AS pos, ws[i] AS word
        |FROM w, unnest(range(1, len(ws) + 1)) AS t(i)
        |ORDER BY doc_id, pos""".stripMargin,
    "f5_array_functions" ->
      """SELECT p_partkey,
        |  CAST(len(string_split(p_type, ' ')) AS INT) AS n_words,
        |  array_to_string(list_sort(string_split(p_type, ' ')), '-') AS sorted_join,
        |  list_sort(string_split(p_type, ' '))[1] AS first_word,
        |  CAST(list_reduce(list_prepend(0,
        |    list_transform(string_split(p_type, ' '), x -> CAST(length(x) AS INT))),
        |    (a, b) -> a + b) AS INT) AS total_len
        |FROM part ORDER BY p_partkey""".stripMargin,
    "f6_conditionals" ->
      """SELECT o_orderkey,
        |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
        |  CASE WHEN o_totalprice > 300000 THEN 'hi'
        |    WHEN o_totalprice > 100000 THEN 'mid' ELSE 'lo' END AS band,
        |  least(o_totalprice, 150000.0) AS capped,
        |  greatest(o_totalprice, 1000.0) AS floored
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "ts1_resample_hourly" ->
      """WITH h AS (SELECT unnest(generate_series(
        |    date_trunc('hour', (SELECT min(ts) FROM events)),
        |    date_trunc('hour', (SELECT max(ts) FROM events)),
        |    INTERVAL 1 HOUR)) AS hr),
        |t AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT strftime(h.hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  t.event_type, coalesce(c.cnt, 0) AS n
        |FROM h CROSS JOIN t
        |LEFT JOIN c ON c.hr = h.hr AND c.event_type = t.event_type
        |ORDER BY 1, 2""".stripMargin,
    // The planted dims are doc_id arithmetic; the Spark side must
    // recover them from the constructed PNG bytes, so equality checks
    // the build->parse round-trip.
    "m2_png_header_dims" ->
      """SELECT doc_id, CAST(doc_id % 1920 + 1 AS INT) AS width,
        |  CAST(doc_id % 1080 + 1 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t7_langid_ngram" -> {
      val profiles = TextAnalysis.DefaultTrigramProfiles.toSeq.sortBy(_._1)
      val scoreCols = profiles.map { case (lang, tris) =>
        s"len(list_filter(grams, x -> list_contains([${sqlList(tris)}], x))) AS s_$lang"
      }.mkString(",\n  ")
      val best = profiles.map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
      val cases = profiles.map { case (lang, _) =>
        s"WHEN s_$lang > 0 AND s_$lang = $best THEN '$lang'"
      }.mkString("\n    ")
      s"""WITH g AS (SELECT doc_id,
         |  CASE WHEN length(lower(text)) >= 3 THEN
         |    list_distinct(list_transform(range(1, length(lower(text)) - 1),
         |      i -> substr(lower(text), i, 3)))
         |  ELSE CAST([] AS VARCHAR[]) END AS grams FROM documents),
         |s AS (SELECT doc_id,
         |  $scoreCols
         |FROM g)
         |SELECT doc_id, CASE
         |    $cases
         |  ELSE 'und' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin
    },
    // Decontamination: held-out docs (md5 bucket e-f) probed against the
    // distinct 8-gram set of the training split (buckets 0-b); gram key =
    // 16-hex md5 prefix on both engines.
    "dc1_decontamination" ->
      """WITH w AS (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)),1,1) AS h1,
        |    regexp_split_to_array(trim(text),'\s+') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, h1,
        |    substr(md5(array_to_string(ws[i:i+7],' ')),1,16) AS g
        |  FROM w, unnest(range(1, greatest(len(ws)-6,1))) AS t(i)),
        |tg AS (SELECT DISTINCT g FROM g WHERE h1 NOT IN ('c','d','e','f')),
        |te AS (SELECT doc_id, g.g, tg.g AS hit FROM g LEFT JOIN tg USING(g)
        |  WHERE h1 IN ('e','f')),
        |a AS (SELECT doc_id, count(*) AS n_grams, count(hit) AS n_contaminated
        |  FROM te GROUP BY doc_id),
        |he AS (SELECT doc_id FROM w WHERE h1 IN ('e','f'))
        |SELECT he.doc_id, CAST(COALESCE(n_grams,0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(n_contaminated,0) AS BIGINT) AS n_contaminated,
        |  CASE WHEN COALESCE(n_grams,0) > 0 THEN
        |    round(CAST(n_contaminated AS DOUBLE)/CAST(n_grams AS DOUBLE),6)
        |  END AS contaminated_frac
        |FROM he LEFT JOIN a USING(doc_id) ORDER BY doc_id""".stripMargin,
    // Aligned 8-token segment dedup, keep-first by (doc_id, seg_idx).
    "dd8_segment_dedup" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, i AS seg_idx, array_to_string(ws[1+8*i:8+8*i],' ') AS seg
        |  FROM w, unnest(range(0, len(ws)//8)) AS t(i)),
        |k AS (SELECT *, row_number() OVER (PARTITION BY seg
        |    ORDER BY doc_id, seg_idx) AS rn FROM s),
        |kept AS (SELECT doc_id, seg_idx, seg FROM k WHERE rn = 1),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY seg_idx) AS cleaned FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_segs FROM s GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(tot.n_segs,0) AS BIGINT) AS n_segs,
        |  CAST(coalesce(agg.n_kept,0) AS BIGINT) AS n_kept,
        |  coalesce(agg.cleaned,'') AS cleaned_text
        |FROM documents d LEFT JOIN tot USING(doc_id) LEFT JOIN agg USING(doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // Gopher-style repetition signals; top bigram tiebreaks (count desc,
    // gram asc) identically on both engines.
    "t13_repetition_stats" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |uni AS (SELECT doc_id, 1 AS kind, unnest(ws) AS gram FROM w),
        |bi AS (SELECT doc_id, 2 AS kind, array_to_string(ws[i:i+1],' ') AS gram
        |  FROM w, unnest(range(1, greatest(len(ws),1))) AS t(i)),
        |cnt AS (SELECT doc_id, kind, gram, count(*) AS c
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) GROUP BY 1,2,3),
        |agg AS (SELECT doc_id,
        |    sum(CASE WHEN kind=1 THEN c END) AS n_words,
        |    count(CASE WHEN kind=1 THEN 1 END) AS n_distinct_words,
        |    sum(CASE WHEN kind=2 THEN c END) AS n_bi,
        |    count(CASE WHEN kind=2 THEN 1 END) AS n_distinct_bi
        |  FROM cnt GROUP BY doc_id),
        |top AS (SELECT doc_id, gram AS top_bigram, c AS top_n,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
        |  FROM cnt WHERE kind=2)
        |SELECT a.doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  round(CAST(n_distinct_words AS DOUBLE)/CAST(n_words AS DOUBLE),6) AS ttr,
        |  round(CAST(n_bi - n_distinct_bi AS DOUBLE)/CAST(n_bi AS DOUBLE),6)
        |    AS dup_bigram_frac,
        |  t.top_bigram,
        |  round(CAST(t.top_n AS DOUBLE)/CAST(n_bi AS DOUBLE),6) AS top_bigram_frac
        |FROM agg a JOIN top t ON a.doc_id = t.doc_id AND t.rn = 1
        |ORDER BY a.doc_id""".stripMargin,
    // Concat-and-chunk packing: global token prefix sum in pack order
    // (doc_id), 256-token context windows.
    "pk1_sequence_pack" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  CAST(floor(start_offset/256.0) AS BIGINT) AS start_chunk,
        |  CAST(floor((start_offset+n_tokens-1)/256.0) AS BIGINT) AS end_chunk
        |FROM c ORDER BY doc_id""".stripMargin,
    // Unpivot = UNION ALL of one SELECT per metric (engine-neutral melt).
    "p2_unpivot" ->
      """SELECT p_partkey, metric, value FROM (
        |  SELECT p_partkey, 'p_retailprice' AS metric,
        |    CAST(p_retailprice AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
        |) ORDER BY p_partkey, metric""".stripMargin,
    // The map round-trip (map_from_entries -> explode) is lossless, so
    // the oracle is the plain group count.
    "f7_map_functions" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events WHERE user_id < 20
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    "ts2_interpolate" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS hr,
        |    CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS v
        |  FROM events GROUP BY 1),
        |b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM h),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
        |j AS (SELECT spine.hr, h.v FROM spine LEFT JOIN h USING (hr)),
        |f AS (SELECT hr, v,
        |    last_value(v IGNORE NULLS) OVER (ORDER BY hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER (
        |      ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |    first_value(v IGNORE NULLS) OVER (ORDER BY hr
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER (
        |      ORDER BY hr ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |  FROM j)
        |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS interpolated,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NULL THEN nv
        |    WHEN nv IS NULL THEN pv
        |    ELSE pv + (nv - pv) *
        |      (CAST(CAST(epoch(hr) AS BIGINT) - CAST(epoch(ph) AS BIGINT) AS DOUBLE) /
        |       CAST(CAST(epoch(nh) AS BIGINT) - CAST(epoch(ph) AS BIGINT) AS DOUBLE))
        |    END, 6) AS value
        |FROM f ORDER BY hour_start""".stripMargin,
    "x10_mode_quantity" ->
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY n DESC, l_quantity ASC) AS rn FROM c)
        |SELECT l_returnflag, l_quantity AS mode_quantity, CAST(n AS BIGINT) AS n
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    // Runtime-bloom-pruned shuffle join: the filter is a pruning aid
    // only, so the result is exactly the plain join.
    "bl1_bloom_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Deterministic HLL: 60-bit md5 hashes (hex-fold, no conv() in
    // DuckDB), rank via bin() length, harmonic sum kept as the exact
    // integer sum of 2^(55-M); the only doubles are one division and
    // the ln() correction, both mirrored op-for-op.
    "dd13_containment" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 3),
        |    i -> array_to_string(ws[i:i+4], ' '))) AS sset
        |  FROM w WHERE len(ws) >= 5),
        |sh AS (SELECT doc_id, unnest(sset) AS shingle FROM sets),
        |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |cap AS (SELECT doc_id, shingle FROM sh JOIN dfs USING (shingle)
        |  WHERE df BETWEEN 2 AND 1000),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM cap a JOIN cap b ON a.shingle = b.shingle AND a.doc_id != b.doc_id),
        |sc AS (SELECT doc_a, doc_b,
        |    round(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
        |      / len(sa.sset), 6) AS containment
        |  FROM cand JOIN sets sa ON doc_a = sa.doc_id JOIN sets sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, containment FROM sc
        |WHERE containment >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "dd14_capped_coverage" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 3),
        |    i -> array_to_string(ws[i:i+4], ' '))) AS sset
        |  FROM w WHERE len(ws) >= 5),
        |sh AS (SELECT doc_id, unnest(sset) AS shingle FROM sets),
        |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz,
        |    CAST(sum(CASE WHEN df BETWEEN 2 AND 1000 THEN 1 ELSE 0 END) AS BIGINT) AS capped_sz,
        |    CAST(sum(CASE WHEN df > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS hot_sz
        |  FROM sh JOIN dfs USING (shingle) GROUP BY 1)
        |SELECT d.doc_id, coalesce(st.sz, 0) AS sz,
        |  coalesce(st.capped_sz, 0) AS capped_sz,
        |  coalesce(st.hot_sz, 0) AS hot_sz,
        |  coalesce(st.capped_sz, 0) > 0 AS covered
        |FROM documents d LEFT JOIN st USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "st10_streaming_hll" ->
      """WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1,16), i -> CAST(strpos('0123456789abcdef',
        |        md5(CAST(user_id AS VARCHAR))[i]) - 1 AS BIGINT))),
        |      (a,c) -> a*16 + c) AS h FROM events),
        |b AS (SELECT hour_start, h // 18014398509481984 AS bucket,
        |        h % 18014398509481984 AS rem FROM h),
        |r AS (SELECT hour_start, bucket, max(CASE WHEN rem = 0 THEN 55
        |        ELSE 55 - length(bin(rem)) END) AS reg FROM b GROUP BY 1, 2),
        |s AS (SELECT hour_start, CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS isp,
        |        CAST(count(*) AS BIGINT) AS obs FROM r GROUP BY 1),
        |x AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |        CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events GROUP BY 1),
        |g AS (SELECT hour_start, 64 - obs AS v_empty,
        |        (0.7213/(1 + 1.079/64)) * 64 * 64
        |          * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
        |          / CAST(isp + (64 - obs) * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS raw
        |      FROM s)
        |SELECT g.hour_start, CAST(v_empty AS BIGINT) AS v_empty,
        |  CASE WHEN raw <= 160 AND v_empty > 0
        |    THEN round(64 * ln(64/CAST(v_empty AS DOUBLE)), 6)
        |    ELSE round(raw, 6) END AS est_hll,
        |  x.n_exact
        |FROM g JOIN x USING (hour_start)
        |ORDER BY hour_start""".stripMargin,
    "x12_hll_setops" ->
      """WITH e AS (SELECT event_type AS t, user_id FROM events
        |  WHERE value > 100 AND event_type IN ('click','purchase')),
        |h AS (SELECT t, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1,16), i -> CAST(strpos('0123456789abcdef',
        |        md5(CAST(user_id AS VARCHAR))[i]) - 1 AS BIGINT))),
        |      (a,c) -> a*16 + c) AS h FROM e),
        |b AS (SELECT t, h // 18014398509481984 AS bucket,
        |        h % 18014398509481984 AS rem FROM h),
        |r AS (SELECT t, bucket, max(CASE WHEN rem = 0 THEN 55
        |        ELSE 55 - length(bin(rem)) END) AS reg FROM b GROUP BY 1, 2),
        |ru AS (SELECT bucket, max(reg) AS reg FROM r GROUP BY 1),
        |sa AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS isp,
        |        CAST(count(*) AS BIGINT) AS obs FROM r WHERE t = 'purchase'),
        |sb AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS isp,
        |        CAST(count(*) AS BIGINT) AS obs FROM r WHERE t = 'click'),
        |su AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS isp,
        |        CAST(count(*) AS BIGINT) AS obs FROM ru),
        |ea AS (SELECT CASE WHEN raw <= 160 AND v_empty > 0
        |    THEN round(64 * ln(64/CAST(v_empty AS DOUBLE)), 6)
        |    ELSE round(raw, 6) END AS est_a FROM (
        |  SELECT 64 - obs AS v_empty, (0.7213/(1 + 1.079/64)) * 64 * 64
        |    * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
        |    / CAST(isp + (64 - obs) * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS raw FROM sa)),
        |eb AS (SELECT CASE WHEN raw <= 160 AND v_empty > 0
        |    THEN round(64 * ln(64/CAST(v_empty AS DOUBLE)), 6)
        |    ELSE round(raw, 6) END AS est_b FROM (
        |  SELECT 64 - obs AS v_empty, (0.7213/(1 + 1.079/64)) * 64 * 64
        |    * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
        |    / CAST(isp + (64 - obs) * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS raw FROM sb)),
        |eu AS (SELECT CASE WHEN raw <= 160 AND v_empty > 0
        |    THEN round(64 * ln(64/CAST(v_empty AS DOUBLE)), 6)
        |    ELSE round(raw, 6) END AS est_union FROM (
        |  SELECT 64 - obs AS v_empty, (0.7213/(1 + 1.079/64)) * 64 * 64
        |    * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
        |    / CAST(isp + (64 - obs) * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS raw FROM su)),
        |fl AS (SELECT user_id, max(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS a,
        |        max(CASE WHEN t = 'click' THEN 1 ELSE 0 END) AS b FROM e GROUP BY 1),
        |ex AS (SELECT CAST(sum(a) AS BIGINT) AS exact_a, CAST(sum(b) AS BIGINT) AS exact_b,
        |        CAST(count(*) AS BIGINT) AS exact_union,
        |        CAST(sum(a*b) AS BIGINT) AS exact_intersect FROM fl)
        |SELECT est_a, est_b, est_union,
        |  round(est_a + est_b - est_union, 6) AS est_intersect,
        |  exact_a, exact_b, exact_union, exact_intersect
        |FROM ea, eb, eu, ex""".stripMargin,
    "x11_hll_users" ->
      """WITH h AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1,16), i -> CAST(strpos('0123456789abcdef',
        |        md5(CAST(user_id AS VARCHAR))[i]) - 1 AS BIGINT))),
        |      (a,c) -> a*16 + c) AS h FROM events),
        |b AS (SELECT h // 18014398509481984 AS bucket,
        |        h % 18014398509481984 AS rem FROM h),
        |r AS (SELECT bucket, max(CASE WHEN rem = 0 THEN 55
        |        ELSE 55 - length(bin(rem)) END) AS reg FROM b GROUP BY bucket),
        |s AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS isp,
        |        CAST(count(*) AS BIGINT) AS obs FROM r),
        |x AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events),
        |f AS (SELECT 64 - obs AS v_empty,
        |        isp + (64 - obs) * (CAST(1 AS BIGINT) << 55) AS isum, n_exact
        |      FROM s, x),
        |g AS (SELECT v_empty, isum, n_exact,
        |        (0.7213/(1 + 1.079/64)) * 64 * 64
        |          * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
        |          / CAST(isum AS DOUBLE) AS raw FROM f)
        |SELECT CAST(64 AS INT) AS m, v_empty, isum, round(raw, 6) AS est_raw,
        |  CASE WHEN raw <= 160 AND v_empty > 0
        |    THEN round(64 * ln(64/CAST(v_empty AS DOUBLE)), 6)
        |    ELSE round(raw, 6) END AS est_hll,
        |  n_exact
        |FROM g""".stripMargin,
    // Frame sampling over planted multi-frame assets: every 2nd frame of
    // n_frames = doc_id%6+2 PNGs seeded doc_id*131+f; the same
    // two-tone-image arithmetic as m4, summed over the sampled frames
    // (exact integer sums, one division at the end).
    "m6_frame_sample" ->
      """WITH d AS (SELECT doc_id, doc_id % 6 + 2 AS n_frames FROM documents),
        |f AS (SELECT doc_id, n_frames, unnest(range(0, n_frames)) AS fi FROM d),
        |s AS (SELECT doc_id, n_frames, doc_id*131 + fi AS sd FROM f WHERE fi % 2 = 0),
        |p AS (SELECT doc_id, n_frames,
        |    sd % 16 + 4 AS w, sd % 12 + 4 AS h, (sd % 16 + 4) // 2 AS wl,
        |    sd % 256 AS ra, (sd*7) % 256 AS ga, (sd*13) % 256 AS ba,
        |    (sd*31) % 256 AS rb, (sd*37) % 256 AS gb, (sd*41) % 256 AS bb
        |  FROM s),
        |a AS (SELECT doc_id, n_frames, count(*) AS n_sampled,
        |    CAST(sum(w*h) AS BIGINT) AS np,
        |    CAST(sum(h*(wl*ra + (w-wl)*rb)) AS BIGINT) AS sr,
        |    CAST(sum(h*(wl*ga + (w-wl)*gb)) AS BIGINT) AS sg,
        |    CAST(sum(h*(wl*ba + (w-wl)*bb)) AS BIGINT) AS sb
        |  FROM p GROUP BY 1, 2)
        |SELECT doc_id, CAST(n_frames AS INT) AS n_frames,
        |  CAST(n_sampled AS BIGINT) AS n_sampled,
        |  round(CAST(sr AS DOUBLE)/CAST(np AS DOUBLE), 6) AS mean_r,
        |  round(CAST(sg AS DOUBLE)/CAST(np AS DOUBLE), 6) AS mean_g,
        |  round(CAST(sb AS DOUBLE)/CAST(np AS DOUBLE), 6) AS mean_b
        |FROM a ORDER BY doc_id""".stripMargin,
    // Balanced source mixture: budget = smallest source's token mass,
    // per-source md5-threshold sampling ('zzzz' sentinel keeps rate=1
    // sources whole).
    "mx1_source_mixture" ->
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) AS n_tokens,
        |    substr(md5(CAST(doc_id AS VARCHAR)),1,4) AS h4
        |  FROM documents),
        |s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM t GROUP BY source),
        |b AS (SELECT min(src_tokens) AS budget FROM s),
        |r AS (SELECT source, src_tokens,
        |    least(CAST(budget AS DOUBLE)/CAST(src_tokens AS DOUBLE), 1.0) AS rate
        |  FROM s, b),
        |r2 AS (SELECT source, src_tokens, rate,
        |    CASE WHEN rate >= 1.0 THEN 'zzzz'
        |         ELSE printf('%04x', CAST(floor(rate*65536) AS INT)) END AS thr
        |  FROM r),
        |keep AS (SELECT t.source, t.doc_id, t.n_tokens
        |  FROM t JOIN r2 USING (source) WHERE t.h4 < r2.thr)
        |SELECT r2.source, r2.src_tokens, round(r2.rate,6) AS rate,
        |  CAST(coalesce(count(keep.doc_id),0) AS BIGINT) AS n_docs_sampled,
        |  CAST(coalesce(sum(keep.n_tokens),0) AS BIGINT) AS n_tokens_sampled
        |FROM r2 LEFT JOIN keep ON keep.source = r2.source
        |GROUP BY r2.source, r2.src_tokens, r2.rate
        |ORDER BY r2.source""".stripMargin,
    // BPE first-merge candidates: char bigrams inside words, weighted
    // by occurrences; v[a:b] slicing is 1-based inclusive.
    "bp1_bpe_pairs" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(trim(text),'\s+')) AS word
        |  FROM documents),
        |p AS (SELECT word[i:i+1] AS pair
        |  FROM w, unnest(range(1, greatest(length(word),1))) AS t(i))
        |SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,
    // Contamination span localization: gaps-and-islands over hit
    // positions (pos - row_number constant within a run).
    "dc2_contaminated_spans" ->
      """WITH w AS (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)),1,1) AS h1,
        |    regexp_split_to_array(trim(text),'\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, h1, i - 1 AS pos,
        |    substr(md5(array_to_string(ws[i:i+7],' ')),1,16) AS g
        |  FROM w, unnest(range(1, greatest(len(ws)-6,1))) AS t(i)),
        |tg AS (SELECT DISTINCT g FROM g WHERE h1 NOT IN ('c','d','e','f')),
        |hit AS (SELECT g.doc_id, g.pos FROM g JOIN tg USING (g)
        |  WHERE h1 IN ('e','f')),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM hit)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated,
        |  CAST(min(pos) AS BIGINT) AS first_pos,
        |  CAST(max(pos) AS BIGINT) AS last_pos,
        |  CAST(count(DISTINCT grp) AS BIGINT) AS n_spans
        |FROM isl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Forward as-of: DuckDB native ASOF with c.ts <= p.ts; purchases
    // pre-aggregated per (user, ts) for an explicit exact-ts tiebreak.
    "aj2_asof_next_purchase" ->
      """SELECT c.event_id, c.user_id, p.pid AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(event_id) AS pid FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts) p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin,
    // z-scores from exact integer power sums; identical op sequence on
    // both engines.
    "dq2_hourly_anomalies" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS hr,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS nh, CAST(sum(n) AS BIGINT) AS s1,
        |    CAST(sum(n*n) AS BIGINT) AS s2 FROM h),
        |z AS (SELECT hr, n,
        |    CASE WHEN CAST(s2 AS DOUBLE)/CAST(nh AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE)/CAST(nh AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE)/CAST(nh AS DOUBLE)) > 0 THEN
        |    (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE)/CAST(nh AS DOUBLE)) /
        |    sqrt(CAST(s2 AS DOUBLE)/CAST(nh AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE)/CAST(nh AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE)/CAST(nh AS DOUBLE))) END AS zz
        |  FROM h, s)
        |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_start, n,
        |  round(zz, 6) AS z
        |FROM z WHERE abs(zz) >= 2.0 ORDER BY hour_start""".stripMargin,
    // The oracle is the FULL recompute; the Spark side merges base +
    // last-day delta aggregates — hash equality proves the IVM merge.
    "ivm1_incremental_agg" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Stateless enrichment: streaming result == batch join.
    "st9_stream_static_join" ->
      """SELECT event_id, upper(substr(event_type, 1, 2)) AS type_code, value
        |FROM events ORDER BY event_id""".stripMargin,
    // Exactly-once poll-loop semantics: 3 rounds x symbol universe.
    "st13_v2_stream_source" ->
      """SELECT n_name AS symbol, CAST(3 AS BIGINT) AS n_polls
        |FROM nation ORDER BY 1""".stripMargin,
    // Stateless per-batch anti join: streaming result == batch filter.
    "st12_stream_static_anti" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id % 3 <> 0 ORDER BY event_id""".stripMargin,
    // DuckDB's jaro_winkler_similarity is the independent oracle for
    // the native kernel (fuzz-verified bit-exact).
    "dd10_jw_fuzzy_pairs" ->
      """WITH p AS (SELECT doc_id, substr(text, 1, 32) AS s FROM documents
        |  WHERE doc_id < 40)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(jaro_winkler_similarity(a.s, b.s), 6) AS jw
        |FROM p a JOIN p b ON a.doc_id < b.doc_id
        |WHERE round(jaro_winkler_similarity(a.s, b.s), 6) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Vocabulary from the FULL corpus (count desc, word asc); encode a
    // bounded doc range; 0 = OOV.
    "t14_vocab_encode" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, i AS pos, ws[i] AS word
        |  FROM w, unnest(range(1, len(ws)+1)) AS t(i)),
        |cnt AS (SELECT word, count(*) AS n FROM tok GROUP BY 1),
        |v AS (SELECT word, CAST(row_number() OVER (ORDER BY n DESC, word ASC) AS INT) AS id
        |  FROM cnt ORDER BY n DESC, word ASC LIMIT 25)
        |SELECT t.doc_id, CAST(t.pos AS INT) AS pos, t.word,
        |  CAST(coalesce(v.id, 0) AS INT) AS token_id
        |FROM tok t LEFT JOIN v USING (word)
        |WHERE t.doc_id < 50 ORDER BY t.doc_id, t.pos""".stripMargin,
    // Native NFC kernel vs DuckDB nfc_normalize on an identically
    // planted decomposed suffix (e + U+0301 + f -> é + f).
    "t15_nfc_normalize" ->
      """WITH r AS (SELECT doc_id,
        |    substr(text,1,12) || 'e' || chr(769) || 'f' AS raw FROM documents)
        |SELECT doc_id, CAST(length(raw) AS INT) AS len_raw,
        |  nfc_normalize(raw) AS normalized,
        |  CAST(length(nfc_normalize(raw)) AS INT) AS len_norm
        |FROM r ORDER BY doc_id""".stripMargin,
    // Windowed PCM features from the planted waveform formula
    // (sample i = (id*31 + i*17) % 2003 - 1001), 16-sample windows.
    "m7_audio_windows" ->
      """WITH d AS (SELECT doc_id, doc_id % 50 + 10 AS n FROM documents),
        |w AS (SELECT doc_id, n, unnest(range(0, (n + 15) // 16)) AS win FROM d),
        |s AS (SELECT doc_id, win,
        |    unnest(range(win*16, least((win+1)*16, n))) AS i FROM w),
        |v AS (SELECT doc_id, win,
        |    abs((doc_id*31 + i*17) % 2003 - 1001) AS a FROM s),
        |g AS (SELECT doc_id, win, count(*) AS ns,
        |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(a*a) AS BIGINT) AS sq,
        |    max(a) AS pk FROM v GROUP BY 1, 2)
        |SELECT doc_id, CAST(win AS INT) AS win_idx, CAST(ns AS BIGINT) AS n_samples,
        |  sa AS sum_abs, CAST(pk AS INT) AS peak_abs,
        |  round(sqrt(CAST(sq AS DOUBLE)/CAST(ns AS DOUBLE)), 6) AS rms
        |FROM g ORDER BY doc_id, win_idx""".stripMargin,
    // Materialized 256-token context windows from the packed stream.
    "pk2_packed_chunks" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |c AS (SELECT doc_id, ws,
        |    CAST(coalesce(sum(len(ws)) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM t),
        |tok AS (SELECT doc_id, start_offset + i - 1 AS gpos, ws[i] AS tok
        |  FROM c, unnest(range(1, len(ws)+1)) AS u(i)),
        |k AS (SELECT gpos // 256 AS chunk_id, gpos, tok FROM tok
        |  WHERE gpos // 256 < 20)
        |SELECT chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  string_agg(tok, ' ' ORDER BY gpos) AS chunk_text
        |FROM k GROUP BY chunk_id ORDER BY chunk_id""".stripMargin,
    // Per-doc overlapping chunks: starts at stride multiples, last start
    // clamped to n-size (full-size final chunk); 1-based inclusive list
    // slice ws[a:b] mirrors Spark's slice(ws, a, b-a+1).
    "ch1_doc_chunks" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |c AS (SELECT doc_id, ws, len(ws) AS n,
        |    1 + (greatest(len(ws)-64,0) + 47) // 48 AS nch FROM w),
        |e AS (SELECT doc_id, ws, n, CAST(i AS INT) AS chunk_idx,
        |    least(i*48, greatest(n-64,0)) AS start_pos
        |  FROM c, unnest(range(0, nch)) AS t(i))
        |SELECT doc_id, chunk_idx, CAST(start_pos AS BIGINT) AS start_pos,
        |  CAST(least(start_pos+64, n) - start_pos AS BIGINT) AS n_tokens,
        |  array_to_string(ws[start_pos+1:least(start_pos+64, n)], ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    // Okapi BM25 (k1=1.2, b=0.75, Lucene idf); per-doc score folds over
    // term-sorted partials on both engines; ln() + round(6) per the
    // determinism contract.
    "ss5_bm25_topk" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl FROM w),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM d),
        |t AS (SELECT doc_id, dl, unnest(ws) AS term FROM d),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM t
        |  WHERE term IN ('spark','join','window') GROUP BY 1,2,3),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id, tf.term,
        |    ln((CAST(g.n AS DOUBLE) - df.df + 0.5)/(df.df + 0.5) + 1) *
        |    ((CAST(tf.tf AS DOUBLE)*(1.2 + 1)) /
        |     (CAST(tf.tf AS DOUBLE) + 1.2*(1 - 0.75 + 0.75*CAST(tf.dl AS DOUBLE)/g.avgdl)))
        |      AS part
        |  FROM tf JOIN df USING (term), g),
        |agg AS (SELECT doc_id,
        |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(part ORDER BY term)), (a,b) -> a + b), 6) AS score
        |  FROM s GROUP BY doc_id)
        |SELECT doc_id, score FROM agg ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // Data-derived cutoff: keep docs at/above the ceil(0.1N)-th
    // smallest token count (exact integer order statistic).
    "c2_adaptive_filter" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) AS n_words
        |  FROM documents),
        |h AS (SELECT n_words, count(*) AS c FROM t GROUP BY 1),
        |cc AS (SELECT n_words,
        |    CAST(sum(c) OVER (ORDER BY n_words) AS BIGINT) AS cum FROM h),
        |thr AS (SELECT min(n_words) AS v FROM cc
        |  WHERE cum >= CAST(ceil(0.1 * (SELECT count(*) FROM t)) AS BIGINT))
        |SELECT t.doc_id, t.n_words FROM t, thr
        |WHERE t.n_words >= thr.v ORDER BY t.doc_id""".stripMargin,
    // Planted URL host = www.<source>-<doc_id%7>.example.com; DuckDB has
    // no parse_url, the regexp extracts the identical host string.
    "u1_domain_stats" ->
      """WITH u AS (SELECT doc_id,
        |    'https://www.' || source || '-' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
        |    CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |h AS (SELECT doc_id, regexp_extract(url, 'https?://([^/]+)/', 1) AS host,
        |    n_tokens FROM u)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM h GROUP BY host ORDER BY host""".stripMargin,
    "u2_domain_cap" ->
      """WITH u AS (SELECT doc_id,
        |    regexp_extract('https://www.' || source || '-'
        |      || CAST(doc_id % 7 AS VARCHAR) || '.example.com/page/'
        |      || CAST(doc_id AS VARCHAR), 'https?://([^/]+)/', 1) AS host
        |  FROM documents),
        |r AS (SELECT doc_id, host, CAST(row_number() OVER (PARTITION BY host
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk FROM u)
        |SELECT doc_id, host, rk FROM r WHERE rk <= 3 ORDER BY doc_id""".stripMargin,
    // ---- round-8c: the 11 remaining TPC-H shapes. The five
    // partsupp-based oracles prepend the identical derived-partsupp CTE
    // (graft.operators.Tpch.partsuppSql) the engine computes. ----
    "q2_min_cost_supplier" ->
      s"""WITH ${graft.operators.Tpch.partsuppSql},
        |eligible AS (
        |  SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
        |    s.s_acctbal, n.n_name, ps.ps_cost_cents
        |  FROM ps JOIN part p ON p.p_partkey = ps.p_partkey
        |  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'EUROPE' AND p.p_type = 'SMALL' AND p.p_size <= 15),
        |mc AS (SELECT p_partkey, min(ps_cost_cents) AS min_cents
        |  FROM eligible GROUP BY 1)
        |SELECT e.s_acctbal, e.s_name, e.n_name, e.p_partkey, e.p_name,
        |  e.s_suppkey, CAST(e.ps_cost_cents AS BIGINT) AS cost_cents
        |FROM eligible e JOIN mc ON e.p_partkey = mc.p_partkey
        |  AND e.ps_cost_cents = mc.min_cents
        |ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, e.p_partkey,
        |  e.s_suppkey
        |LIMIT 100""".stripMargin,
    "q4_priority_exists" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 75 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q8_market_share" ->
      """WITH v AS (
        |  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
        |    CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6)) AS volume,
        |    sn.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN region r ON cn.n_regionkey = r.r_regionkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        |    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume
        |      ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE)
        |    / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_product_profit" ->
      """SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |    - (1 + (l.l_partkey * 31 + l.l_suppkey * 17) % 10000) / 100.0
        |      * l.l_quantity AS DECIMAL(30,6))) AS DOUBLE), 4) AS sum_profit
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE p.p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q11_important_stock" ->
      s"""WITH ${graft.operators.Tpch.partsuppSql},
        |val AS (
        |  SELECT ps.p_partkey,
        |    CAST(sum(ps.ps_cost_cents * ps.ps_availqty) AS BIGINT) AS v
        |  FROM ps JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = 2 GROUP BY 1),
        |tot AS (SELECT CAST(sum(v) AS BIGINT) AS t FROM val)
        |SELECT v.p_partkey, v.v AS value_cents
        |FROM val v, tot WHERE v.v * 1000 > tot.t
        |ORDER BY value_cents DESC, p_partkey""".stripMargin,
    "q12_priority_lines" ->
      """SELECT l.l_returnflag AS rflag,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1),
        |m AS (SELECT max(total_revenue) AS mr FROM rev)
        |SELECT s.s_suppkey, s.s_name,
        |  round(CAST(r.total_revenue AS DOUBLE), 4) AS total_revenue
        |FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no, m
        |WHERE r.total_revenue = m.mr
        |ORDER BY s.s_suppkey""".stripMargin,
    "q16_supplier_variety" ->
      s"""WITH ${graft.operators.Tpch.partsuppSql}
        |SELECT p.p_brand, p.p_type, p.p_size,
        |  CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part p ON p.p_partkey = ps.p_partkey
        |WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |  AND ps.ps_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH agg AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
        |      / count(*) AS aq
        |  FROM lineitem GROUP BY 1)
        |SELECT round(coalesce(
        |    CAST(sum(CAST(l.l_extendedprice AS DECIMAL(30,2))) AS DOUBLE),
        |    0.0) / 7.0, 4) AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN agg a ON a.l_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#23' AND p.p_size < 10
        |  AND l.l_quantity < 0.2 * a.aq""".stripMargin,
    "q20_excess_stock" ->
      s"""WITH ${graft.operators.Tpch.partsuppSql},
        |sh AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |q AS (
        |  SELECT DISTINCT ps.ps_suppkey
        |  FROM ps JOIN part p ON ps.p_partkey = p.p_partkey
        |  LEFT JOIN sh ON sh.l_partkey = ps.p_partkey
        |    AND sh.l_suppkey = ps.ps_suppkey
        |  WHERE p.p_name LIKE 'small%'
        |    AND ps.ps_availqty > 0.5 * coalesce(sh.qty, 0))
        |SELECT s.s_name, s.s_suppkey
        |FROM supplier s
        |WHERE s.s_nationkey IN
        |    (SELECT n_nationkey FROM nation WHERE n_regionkey = 3)
        |  AND s.s_suppkey IN (SELECT ps_suppkey FROM q)
        |ORDER BY s.s_suppkey""".stripMargin,
    "q21_waiting_suppliers" ->
      """WITH late AS (
        |  SELECT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late l1
        |JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE n.n_regionkey = 1
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 100""".stripMargin,
    // ---- round-8c: statistical inference / diagnostics family.
    // Sufficient statistics accumulate exactly (BIGINT/DECIMAL); every
    // double expression mirrors the Scala operation order term-for-term
    // (chained CTEs bind the same intermediates the Scala code reuses).
    "wt1_welch_ttest" ->
      """WITH a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    sum(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(30,6))
        |      ELSE CAST(0 AS DECIMAL(30,6)) END) AS sa,
        |    sum(CASE WHEN event_type='purchase' THEN CAST(value*value AS DECIMAL(38,6))
        |      ELSE CAST(0 AS DECIMAL(38,6)) END) AS qa,
        |    CAST(sum(CASE WHEN event_type='purchase' THEN 0 ELSE 1 END) AS BIGINT) AS nb,
        |    sum(CASE WHEN event_type='purchase' THEN CAST(0 AS DECIMAL(30,6))
        |      ELSE CAST(value AS DECIMAL(30,6)) END) AS sb,
        |    sum(CASE WHEN event_type='purchase' THEN CAST(0 AS DECIMAL(38,6))
        |      ELSE CAST(value*value AS DECIMAL(38,6)) END) AS qb
        |  FROM events WHERE event_type IN ('purchase','click')),
        |d AS (SELECT na, nb, CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
        |  CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
        |  CAST(qa AS DOUBLE) AS qad, CAST(qb AS DOUBLE) AS qbd FROM a),
        |m AS (SELECT *, sad/nad AS ma, sbd/nbd AS mb FROM d),
        |v AS (SELECT *, (qad - nad*ma*ma)/(nad - 1) AS va,
        |  (qbd - nbd*mb*mb)/(nbd - 1) AS vb FROM m),
        |s AS (SELECT *, va/nad AS sea, vb/nbd AS seb FROM v)
        |SELECT na AS n_a, nb AS n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round(va, 6) AS var_a, round(vb, 6) AS var_b,
        |  round((ma - mb)/sqrt(sea + seb), 6) AS t_stat,
        |  round((sea + seb)*(sea + seb)
        |    / (sea*sea/(nad - 1) + seb*seb/(nbd - 1)), 6) AS dof
        |FROM s""".stripMargin,
    // Half-rank sum stays in exact integers (DECIMAL(38,0)); the window
    // runs over the DISTINCT-VALUE table, never per row.
    "mw1_mann_whitney" ->
      """WITH ev AS (SELECT value, event_type='purchase' AS isa FROM events
        |  WHERE event_type IN ('purchase','click')),
        |g AS (SELECT value,
        |  CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS cb
        | FROM ev GROUP BY 1),
        |c AS (SELECT ca, cb, CAST(coalesce(sum(ca+cb) OVER (ORDER BY value
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM g),
        |agg AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
        |  sum(CAST(ca*(cum_before*2 + ca + cb + 1) AS DECIMAL(38,0))) AS r2,
        |  sum(CAST((ca+cb)*(ca+cb)*(ca+cb) - (ca+cb) AS DECIMAL(38,0))) AS ties FROM c),
        |d AS (SELECT na, nb, CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
        |  CAST(r2 AS DOUBLE) AS r2d, CAST(ties AS DOUBLE) AS tiesd FROM agg),
        |u AS (SELECT *, nad + nbd AS n, r2d/2 - nad*(nad + 1)/2 AS ustat FROM d)
        |SELECT na AS n_a, nb AS n_b, round(ustat, 6) AS u_stat,
        |  round((ustat - nad*nbd/2)
        |    / sqrt(nad*nbd/12 * ((n + 1) - tiesd/(n*(n - 1)))), 6) AS z_score
        |FROM u""".stripMargin,
    "woe1_weight_of_evidence" ->
      """WITH b AS (SELECT CAST(floor(o_totalprice/50000.0) AS INT) AS bin,
        |  o_orderstatus = 'F' AS pos FROM orders),
        |g AS (SELECT bin,
        |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        | FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
        |  CAST(sum(n_neg) AS BIGINT) AS tn FROM g),
        |p AS (SELECT bin, n_pos, n_neg,
        |  (CAST(n_pos AS DOUBLE) + 0.5)/CAST(tp AS DOUBLE) AS pp,
        |  (CAST(n_neg AS DOUBLE) + 0.5)/CAST(tn AS DOUBLE) AS pn FROM g, t)
        |SELECT bin, n_pos, n_neg, round(ln(pp) - ln(pn), 6) AS woe,
        |  round((pp - pn)*(ln(pp) - ln(pn)), 6) AS iv_term
        |FROM p ORDER BY bin""".stripMargin,
    // Same sufficient-statistic discipline as acf1, across two series.
    "xc1_lagged_xcorr" ->
      """WITH h AS (SELECT epoch(date_trunc('hour', ts))//3600 AS hi, event_type,
        |    CAST(count(*) AS BIGINT) AS n FROM events
        |  WHERE event_type IN ('click','purchase') GROUP BY 1, 2),
        |x AS (SELECT hi, n AS x FROM h WHERE event_type = 'click'),
        |y AS (SELECT hi AS hiy, n AS y FROM h WHERE event_type = 'purchase'),
        |l AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6)) AS t(lag_hours)),
        |p AS (SELECT l.lag_hours, x.x, y.y
        |  FROM l JOIN x ON true JOIN y ON y.hiy = x.hi + l.lag_hours),
        |s AS (SELECT lag_hours, CAST(count(*) AS BIGINT) AS np,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(y*y) AS BIGINT) AS syy FROM p GROUP BY 1),
        |d AS (SELECT lag_hours, np, CAST(np AS DOUBLE) AS npd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd FROM s)
        |SELECT CAST(lag_hours AS INT) AS lag_hours, np AS n_pairs,
        |  round((npd*sxyd - sxd*syd)
        |    / (sqrt(npd*sxxd - sxd*sxd) * sqrt(npd*syyd - syd*syd)), 6) AS xcorr
        |FROM d ORDER BY lag_hours""".stripMargin,
    // The recursion replays the engine's aggregate() fold step-for-step
    // (complement-free update forms: no 1-α/1-β literals to drift).
    "hw1_holt_linear" ->
      """WITH RECURSIVE
        |hh AS (SELECT event_type, epoch(date_trunc('hour', ts))//3600 AS hi,
        |  CAST(count(*) AS DOUBLE) AS x FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, CAST(row_number() OVER (PARTITION BY event_type
        |  ORDER BY hi) AS BIGINT) AS rn, x FROM hh),
        |nper AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
        |r AS (
        |  SELECT s1.event_type AS event_type, CAST(1 AS BIGINT) AS t,
        |    s1.x AS l, s2.x - s1.x AS b
        |  FROM s s1 JOIN s s2 ON s1.event_type = s2.event_type
        |    AND s1.rn = 1 AND s2.rn = 2
        |  UNION ALL
        |  SELECT r.event_type AS event_type, r.t + 1,
        |    (r.l + r.b) + 0.5 * (s.x - (r.l + r.b)),
        |    r.b + 0.3 * ((((r.l + r.b) + 0.5 * (s.x - (r.l + r.b))) - r.l) - r.b)
        |  FROM r JOIN s ON s.event_type = r.event_type AND s.rn = r.t + 1)
        |SELECT r.event_type, n.n AS n_hours, round(r.l, 6) AS level,
        |  round(r.b, 6) AS trend, round(r.l + r.b, 6) AS forecast_next
        |FROM r JOIN nper n ON r.event_type = n.event_type AND r.t = n.n
        |WHERE n.n >= 2 ORDER BY r.event_type""".stripMargin,
    "ga1_degree_assortativity" ->
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |d2 AS (SELECT u AS src, v AS dst FROM e
        |  UNION ALL SELECT v AS src, u AS dst FROM e),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM d2 GROUP BY 1),
        |p AS (SELECT du.d AS du, dv.d AS dv FROM d2
        |  JOIN deg du ON d2.src = du.src JOIN deg dv ON d2.dst = dv.src),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS np, CAST(sum(du) AS BIGINT) AS sx,
        |  CAST(sum(dv) AS BIGINT) AS sy, CAST(sum(du*dv) AS BIGINT) AS sxy,
        |  CAST(sum(du*du) AS BIGINT) AS sxx, CAST(sum(dv*dv) AS BIGINT) AS syy FROM p),
        |d AS (SELECT np, CAST(np AS DOUBLE) AS npd, CAST(sx AS DOUBLE) AS sxd,
        |  CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
        |  CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd FROM a)
        |SELECT np AS n_directed_edges,
        |  round((npd*sxyd - sxd*syd)
        |    / (sqrt(npd*sxxd - sxd*sxd) * sqrt(npd*syyd - syd*syd)), 6) AS assortativity
        |FROM d""".stripMargin,
    "ar1_association_rules" ->
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM lineitem),
        |isup AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS supp FROM i GROUP BY 1),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(count(*) AS BIGINT) AS supp_ab
        |  FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |bt AS (SELECT pa AS ante, pb AS cons, supp_ab FROM p
        |  UNION ALL SELECT pb AS ante, pa AS cons, supp_ab FROM p)
        |SELECT b.ante, b.cons, b.supp_ab,
        |  round(CAST(b.supp_ab AS DOUBLE)/CAST(sa.supp AS DOUBLE), 6) AS confidence,
        |  round(CAST(b.supp_ab AS DOUBLE)*nb.n
        |    /(CAST(sa.supp AS DOUBLE)*CAST(sc.supp AS DOUBLE)), 6) AS lift
        |FROM bt b JOIN isup sa ON b.ante = sa.l_partkey
        |JOIN isup sc ON b.cons = sc.l_partkey, nb
        |ORDER BY supp_ab DESC, ante, cons""".stripMargin,
    // Phase rows carry manifest state (dir/dv counts) as literals: the
    // identical data-dir count across MoR phases IS the merge-on-read
    // property; row counts/sums derive from orders with the same
    // predicates the engine's deleteWhere applied.
    "dv1_delete_vectors" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s FROM o),
        |m1 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
        |  FROM o WHERE k % 3 <> 0),
        |m2 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
        |  FROM o WHERE k % 3 <> 0 AND cust % 7 <> 0)
        |SELECT '1_full' AS phase, 2 AS n_data_dirs, 0 AS n_dv_dirs,
        |  n AS n_rows, s AS total_cents FROM f
        |UNION ALL SELECT '2_mor_k3', 2, 1, n, s FROM m1
        |UNION ALL SELECT '3_mor_both', 2, 2, n, s FROM m2
        |UNION ALL SELECT '4_optimized', 1, 0, n, s FROM m2
        |ORDER BY phase""".stripMargin,
    // Reuses t12's winnowing CTE chain verbatim; docs meet only through
    // shared fingerprints, and fingerprints in > 16 docs are dropped
    // before the join (the df-cap lever, mirrored on both engines).
    "dd17_winnow_pairs" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, list_transform(range(1, greatest(len(ws) - 1, 1)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS grams FROM w),
        |h AS (SELECT doc_id, list_transform(grams, g ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 16),
        |        i -> CAST(strpos('0123456789abcdef', md5(g)[i]) - 1 AS BIGINT))),
        |    (a, c) -> a * 16 + c)) AS hs FROM g),
        |f AS (SELECT doc_id, CASE WHEN len(hs) >= 4
        |    THEN list_distinct(list_transform(range(1, len(hs) - 2),
        |      j -> list_min(hs[j:j+3])))
        |    ELSE list_distinct(hs) END AS fps FROM h),
        |e AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, unnest(fps) AS fp FROM f),
        |rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 16),
        |ec AS (SELECT e.doc_id, e.n_fp, e.fp FROM e JOIN rare USING (fp)),
        |p AS (SELECT a.doc_id AS a, b.doc_id AS b, a.n_fp AS na, b.n_fp AS nb,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM ec a JOIN ec b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
        |SELECT a, b, n_shared, na AS n_a, nb AS n_b,
        |  round(CAST(n_shared AS DOUBLE) / CAST(least(na, nb) AS DOUBLE), 6)
        |    AS containment
        |FROM p ORDER BY n_shared DESC, a, b""".stripMargin,
    // Doubled average ranks (2·#smaller + #equal + 1) stay BIGINT;
    // all five Pearson-over-ranks sums are DECIMAL-exact, double math
    // only in the final 1-row formula — mirrored token-for-token.
    "spear1_spearman_corr" ->
      """WITH x AS (SELECT l_extendedprice AS xv, l_quantity AS yv FROM lineitem),
        |gx AS (SELECT xv, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY xv),
        |rx AS (SELECT xv, 2 * (CAST(sum(cnt) OVER (ORDER BY xv ROWS UNBOUNDED PRECEDING) AS BIGINT) - cnt)
        |    + cnt + 1 AS a FROM gx),
        |gy AS (SELECT yv, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY yv),
        |ry AS (SELECT yv, 2 * (CAST(sum(cnt) OVER (ORDER BY yv ROWS UNBOUNDED PRECEDING) AS BIGINT) - cnt)
        |    + cnt + 1 AS b FROM gy),
        |j AS (SELECT a, b FROM x JOIN rx USING (xv) JOIN ry USING (yv)),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(a AS DECIMAL(38,0))) AS DOUBLE) AS sa,
        |    CAST(sum(CAST(b AS DECIMAL(38,0))) AS DOUBLE) AS sb,
        |    CAST(sum(CAST(a AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0))) AS DOUBLE) AS sab,
        |    CAST(sum(CAST(a AS DECIMAL(38,0)) * CAST(a AS DECIMAL(38,0))) AS DOUBLE) AS saa,
        |    CAST(sum(CAST(b AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0))) AS DOUBLE) AS sbb
        |  FROM j)
        |SELECT round((n * sab - sa * sb)
        |    / (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb)), 9) AS spearman_rho,
        |  CAST(n AS BIGINT) AS n FROM s""".stripMargin,
    // All running/total sums are BIGINT (counts and their squares);
    // the SSE expression is the only double math, spelled identically
    // on both engines; argmin tie-break (sse, hour) matches the
    // engine's min-struct aggregation.
    "cpd1_changepoint" ->
      """WITH hourly AS (SELECT event_type,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, h,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS i,
        |    CAST(sum(y) OVER (PARTITION BY event_type ORDER BY h ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs,
        |    CAST(sum(y*y) OVER (PARTITION BY event_type ORDER BY h ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs2,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nh,
        |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS st,
        |    CAST(sum(y*y) OVER (PARTITION BY event_type) AS BIGINT) AS st2
        |  FROM hourly),
        |cand AS (SELECT event_type, h,
        |    (CAST(cs2 AS DOUBLE) - CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE) / CAST(i AS DOUBLE))
        |      + ((CAST(st2 AS DOUBLE) - CAST(cs2 AS DOUBLE))
        |        - (CAST(st AS DOUBLE) - CAST(cs AS DOUBLE)) * (CAST(st AS DOUBLE) - CAST(cs AS DOUBLE))
        |          / (CAST(nh AS DOUBLE) - CAST(i AS DOUBLE))) AS sse,
        |    CAST(st2 AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nh AS DOUBLE) AS sse0
        |  FROM idx WHERE i < nh),
        |best AS (SELECT event_type, h AS change_hour, round(sse0 - sse, 6) AS sse_drop,
        |    row_number() OVER (PARTITION BY event_type ORDER BY sse ASC, h ASC) AS rk FROM cand)
        |SELECT event_type, change_hour, sse_drop FROM best WHERE rk = 1
        |ORDER BY event_type""".stripMargin,
    // 48·y − (two off-by-one 24-window sums) keeps the detrended
    // series integer; per-hod means quantize to DECIMAL(20,8) before
    // the (order-invariant) centering sum.
    "stl1_classical_decomp" ->
      """WITH hourly AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |idx AS (SELECT h, y, CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS nh,
        |    CAST(sum(y) OVER (ORDER BY h ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS BIGINT)
        |      + CAST(sum(y) OVER (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS BIGINT) AS t48
        |  FROM hourly),
        |interior AS (SELECT CAST(substr(h, 12, 2) AS BIGINT) AS hod, y * 48 - t48 AS d48
        |  FROM idx WHERE i > 12 AND i <= nh - 12),
        |perhod AS (SELECT hod,
        |    CAST(round(CAST(sum(d48) AS DOUBLE) / CAST(count(*) * 48 AS DOUBLE), 8) AS DECIMAL(20,8)) AS s8,
        |    CAST(count(*) AS BIGINT) AS n_hours FROM interior GROUP BY hod),
        |c AS (SELECT CAST(sum(s8) AS DOUBLE) AS tot, CAST(count(*) AS DOUBLE) AS k FROM perhod)
        |SELECT hod, round(CAST(s8 AS DOUBLE) - c.tot / c.k, 6) AS seasonal, n_hours
        |FROM perhod CROSS JOIN c ORDER BY hod""".stripMargin,
    // Per-term round(tf·ln p, 8) DECIMAL sums (lm1 discipline) make
    // the per-class posterior order-invariant and libm-drift-proof;
    // argmax tie-break (post DESC, cand ASC) matches the engine's
    // min-struct aggregation.
    "nb1_naive_bayes" ->
      """WITH docs AS (SELECT doc_id, lang,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws,
        |    md5(CAST(doc_id AS VARCHAR)) < 'cccccccc' AS is_train FROM documents),
        |tok AS (SELECT doc_id, lang, is_train, unnest(ws) AS w FROM docs),
        |cls AS (SELECT lang AS cand, CAST(count(*) AS BIGINT) AS n_tok
        |  FROM tok WHERE is_train GROUP BY 1),
        |vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tok WHERE is_train),
        |cnt AS (SELECT lang AS cand, w, CAST(count(*) AS BIGINT) AS c
        |  FROM tok WHERE is_train GROUP BY 1, 2),
        |prior AS (SELECT lang AS cand, CAST(count(*) AS BIGINT) AS nd
        |  FROM docs WHERE is_train GROUP BY 1),
        |ptot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM docs WHERE is_train),
        |ttf AS (SELECT doc_id, lang AS true_lang, w, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok WHERE NOT is_train GROUP BY 1, 2, 3),
        |terms AS (SELECT t.doc_id, t.true_lang, cls.cand,
        |    CAST(round(CAST(t.tf AS DOUBLE)
        |      * ln((CAST(COALESCE(cnt.c, 0) AS DOUBLE) + 1.0)
        |        / CAST(cls.n_tok + vocab.v AS DOUBLE)), 8) AS DECIMAL(20,8)) AS term
        |  FROM ttf t CROSS JOIN cls CROSS JOIN vocab
        |  LEFT JOIN cnt ON cnt.cand = cls.cand AND cnt.w = t.w),
        |post AS (SELECT s.doc_id, s.true_lang, s.cand,
        |    sum(s.term) + any_value(CAST(round(ln(CAST(p.nd AS DOUBLE)
        |      / CAST(ptot.t AS DOUBLE)), 8) AS DECIMAL(20,8))) AS post
        |  FROM terms s JOIN prior p ON p.cand = s.cand CROSS JOIN ptot
        |  GROUP BY 1, 2, 3),
        |pred AS (SELECT doc_id, true_lang, cand AS pred_lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY post DESC, cand ASC) AS rk
        |  FROM post)
        |SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        |FROM pred WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Latency micros sum in DECIMAL (order-invariant); purchases
    // strictly before the first click never qualify.
    "wfn1_windowed_conversion" ->
      """WITH u AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'click' THEN epoch_ns(ts)//1000 END) AS c0
        |  FROM events GROUP BY 1),
        |clicked AS (SELECT user_id, c0 FROM u WHERE c0 IS NOT NULL),
        |q AS (SELECT e.user_id, min(epoch_ns(e.ts)//1000 - c.c0) AS lat_us
        |  FROM events e JOIN clicked c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts)//1000 >= c.c0
        |  GROUP BY 1 HAVING min(epoch_ns(e.ts)//1000 - c.c0) <= 172800000000),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_clicked FROM clicked),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |    sum(CAST(lat_us AS DECIMAL(30,0))) AS lat_sum FROM q)
        |SELECT n_clicked, n_converted,
        |  round(CAST(n_converted AS DOUBLE) / CAST(n_clicked AS DOUBLE), 6)
        |    AS conversion_rate,
        |  round(CAST(lat_sum AS DOUBLE) / CAST(n_converted AS DOUBLE)
        |    / 60000000.0, 6) AS mean_minutes_to_convert
        |FROM n, v""".stripMargin,
    // Revenue stays DECIMAL through the per-cohort cumulative window;
    // one double division at the end, mirrored term-for-term.
    "ltv1_cohort_ltv" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS rev
        |  FROM events),
        |j AS (SELECT user_id, day, rev,
        |    min(day) OVER (PARTITION BY user_id) AS cohort FROM e),
        |sizes AS (SELECT cohort, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM j GROUP BY 1),
        |d AS (SELECT cohort, date_diff('day', cohort, day) AS day_offset,
        |    sum(CAST(rev AS DECIMAL(30,6))) AS r FROM j GROUP BY 1, 2),
        |cum AS (SELECT cohort, day_offset,
        |    CAST(sum(r) OVER (PARTITION BY cohort ORDER BY day_offset
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(30,6)) AS cr
        |  FROM d)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |  CAST(day_offset AS INT) AS day_offset, n_users,
        |  round(CAST(cr AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS ltv_per_user
        |FROM cum JOIN sizes USING (cohort)
        |WHERE day_offset <= 7 ORDER BY 1, 2""".stripMargin,
    // The corpus collapses to the distinct (source, word) vocabulary
    // before any join; ratios divide exact BIGINT counts.
    "vj1_vocab_overlap" ->
      """WITH v AS (SELECT DISTINCT source, word FROM (
        |    SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |p AS (SELECT a.source AS sa, b.source AS sb,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM v a JOIN v b ON a.word = b.word AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa, sb, na.n AS n_a, nb.n AS n_b, n_common,
        |  round(CAST(n_common AS DOUBLE)
        |    / CAST(na.n + nb.n - n_common AS DOUBLE), 6) AS jaccard,
        |  round(CAST(n_common AS DOUBLE)
        |    / CAST(least(na.n, nb.n) AS DOUBLE), 6) AS containment
        |FROM p JOIN s na ON p.sa = na.source JOIN s nb ON p.sb = nb.source
        |ORDER BY sa, sb""".stripMargin,
    // Centroid slices replay as exact per-dim mean lists (dim-ordered);
    // cos/norm/l2 mirror the engine's left-fold accumulation.
    "edr1_embedding_drift" ->
      s"""WITH u AS (SELECT label, vec_id % 2 = 0 AS ref,
        |    CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |m AS (SELECT label, ref, dim, sum(x) / count(*) AS mu
        |  FROM u GROUP BY 1, 2, 3),
        |vr AS (SELECT label, list(mu ORDER BY dim) AS v FROM m WHERE ref GROUP BY 1),
        |vc AS (SELECT label, list(mu ORDER BY dim) AS v FROM m WHERE NOT ref GROUP BY 1),
        |n AS (SELECT label,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_cand
        |  FROM embeddings GROUP BY 1)
        |SELECT n.label, n_ref, n_cand,
        |  round(${foldCosine("vr.v", "vc.v")}, 6) AS centroid_cos,
        |  round(sqrt(${foldSum("list_transform(vr.v, x -> x*x)")}), 6) AS norm_ref,
        |  round(sqrt(${foldSum("list_transform(vc.v, x -> x*x)")}), 6) AS norm_cand,
        |  round(sqrt(${foldSum("list_transform(list_zip(vr.v, vc.v), p -> (p[1] - p[2]) * (p[1] - p[2]))")}), 6) AS centroid_l2
        |FROM n JOIN vr ON n.label = vr.label JOIN vc ON n.label = vc.label
        |ORDER BY 1""".stripMargin,
    // Group sums fold through DECIMAL(38,18) on both engines so the
    // k-row reduction is order-invariant; doubles mirror term-for-term.
    "anova1_event_values" ->
      """WITH g AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS ng,
        |    sum(CAST(value AS DECIMAL(30,6))) AS sg,
        |    sum(CAST(value*value AS DECIMAL(38,6))) AS qg
        |  FROM events GROUP BY 1),
        |d AS (SELECT ng, CAST(ng AS DOUBLE) AS ngd, CAST(sg AS DOUBLE) AS sgd,
        |  CAST(qg AS DOUBLE) AS qgd FROM g),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |  CAST(sum(CAST(sgd AS DECIMAL(38,18))) AS DOUBLE) AS s_tot,
        |  CAST(sum(CAST(sgd*sgd/ngd AS DECIMAL(38,18))) AS DOUBLE) AS ssq_over_n,
        |  CAST(sum(CAST(qgd - sgd*sgd/ngd AS DECIMAL(38,18))) AS DOUBLE) AS ssw
        | FROM d),
        |c AS (SELECT k, n, CAST(k AS DOUBLE) AS kd, CAST(n AS DOUBLE) AS nd,
        |  ssq_over_n - s_tot*s_tot/CAST(n AS DOUBLE) AS ssb, ssw FROM a)
        |SELECT k AS k_groups, n AS n_rows,
        |  round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
        |  round((ssb/(kd - 1))/(ssw/(nd - kd)), 6) AS f_stat,
        |  k - 1 AS df1, n - k AS df2
        |FROM c""".stripMargin,
    // Row count unchanged + one extra data/DV dir = the atomic
    // replace-not-duplicate property, provable in the hash.
    "dv2_mor_update" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s FROM o),
        |u AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN status = 'F' THEN cents + cents // 10
        |      ELSE cents END) AS BIGINT) AS s FROM o)
        |SELECT '1_full' AS phase, 2 AS n_data_dirs, 0 AS n_dv_dirs,
        |  n AS n_rows, s AS total_cents FROM f
        |UNION ALL SELECT '2_mor_update', 3, 1, n, s FROM u
        |ORDER BY phase""".stripMargin,
    // Pair stage runs on the calendar-bounded day spine; revenue is exact
    // BIGINT cents so every sign() and tie group is integer-decided.
    "mkt1_mann_kendall" ->
      """WITH s AS (SELECT
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
        |    CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |p AS (SELECT a.di AS i, a.rev AS ri, b.di AS j, b.rev AS rj
        |  FROM s a JOIN s b ON a.di < b.di),
        |pa AS (SELECT
        |    CAST(sum(CASE WHEN rj > ri THEN 1 WHEN rj < ri THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
        |    quantile_cont((CAST(rj - ri AS DOUBLE) / 100.0) / CAST(j - i AS DOUBLE), 0.5) AS ts_slope
        |  FROM p),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM s),
        |t AS (SELECT CAST(coalesce(sum(t*(t-1)*(2*t+5)), 0) AS BIGINT) AS tie_sum
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY rev HAVING count(*) > 1)),
        |d AS (SELECT s_stat, ts_slope, n_days,
        |  CAST(n_days AS DOUBLE) AS nd, CAST(tie_sum AS DOUBLE) AS td FROM pa, n, t),
        |v AS (SELECT *, (nd*(nd - 1)*(2*nd + 5) - td)/18.0 AS var_s FROM d)
        |SELECT n_days, s_stat, round(var_s, 6) AS var_s,
        |  round(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1)/sqrt(var_s)
        |    WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1)/sqrt(var_s)
        |    ELSE 0.0 END, 6) AS z_score,
        |  round(ts_slope, 6) AS theil_sen_slope
        |FROM v""".stripMargin,
    // Leading digit by pure-integer range dispatch on BIGINT cents; the
    // only transcendental is log10(1+1/d) of the nine constant digits,
    // spelled ln/ln(10) on both engines.
    "ben1_benford_digits" ->
      ("""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |dd AS (SELECT CASE """.stripMargin
        + (0 to 17).map { k =>
            val p = math.pow(10, k).toLong
            s"WHEN c < ${BigInt(p) * 10} THEN c // $p"
          }.mkString(" ")
        + """ ELSE NULL END AS digit FROM c),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM dd GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM g)
        |SELECT digit, n_obs,
        |  round(CAST(n_obs AS DOUBLE)/CAST(n_total AS DOUBLE), 6) AS obs_share,
        |  round(ln(1.0 + 1.0/CAST(digit AS DOUBLE))/ln(10.0), 6) AS exp_share,
        |  round(CAST(n_obs AS DOUBLE)/CAST(n_total AS DOUBLE)
        |    - ln(1.0 + 1.0/CAST(digit AS DOUBLE))/ln(10.0), 6) AS excess
        |FROM g, t ORDER BY digit""".stripMargin),
    // Life table over hour-grain durations (observation-window bounded);
    // d and n_risk are exact integers so both engines ln/exp the same
    // IEEE doubles; a d = n tail folds to -infinity -> survival 0.
    "sur1_kaplan_meier" ->
      """WITH pu AS (SELECT user_id, min(epoch_ns(ts)//1000) AS t0,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts)//1000 END) AS tp,
        |    max(epoch_ns(ts)//1000) AS tl
        |  FROM events GROUP BY 1),
        |du AS (SELECT CASE WHEN tp IS NOT NULL
        |      THEN CAST(floor(CAST(tp - t0 AS DOUBLE) / 3600000000) AS BIGINT)
        |      ELSE CAST(floor(CAST(tl - t0 AS DOUBLE) / 3600000000) AS BIGINT) END AS dur_h,
        |    tp IS NOT NULL AS ev FROM pu),
        |life AS (SELECT dur_h,
        |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d_events,
        |    CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS c_censored
        |  FROM du GROUP BY 1),
        |c AS (SELECT *, CAST(coalesce(sum(d_events + c_censored) OVER (ORDER BY dur_h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS left_before
        |  FROM life),
        |t AS (SELECT CAST(sum(d_events + c_censored) AS BIGINT) AS n_total FROM life),
        |r AS (SELECT dur_h, d_events, c_censored, n_total - left_before AS n_risk FROM c, t),
        |l AS (SELECT *, CASE
        |    WHEN 1.0 - CAST(d_events AS DOUBLE)/CAST(n_risk AS DOUBLE) > 0
        |    THEN ln(1.0 - CAST(d_events AS DOUBLE)/CAST(n_risk AS DOUBLE))
        |    ELSE CAST('-infinity' AS DOUBLE) END AS lnf FROM r)
        |SELECT dur_h, n_risk, d_events, c_censored,
        |  round(exp(sum(lnf) OVER (ORDER BY dur_h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS survival
        |FROM l ORDER BY dur_h""".stripMargin,
    // Per-user windows only (scales with users); boundary ties in the
    // top-k break on the path string for a deterministic set.
    "path1_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS us, event_type
        |  FROM events WHERE event_type IS NOT NULL),
        |s AS (SELECT event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS e3
        |  FROM e)
        |SELECT e1 || '>' || e2 || '>' || e3 AS path, CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 25""".stripMargin,
    // Greedy k-center coreset: generated CTE chain replays all k-1
    // argmax/relax rounds (see kcenterOracle).
    "ksel1_kcenter_coreset" -> kcenterOracle(k = 8, seedId = 0L),
    // MMR diversified re-rank: generated CTE chain replays the k-step
    // greedy against the union of prior picks (see mmrOracle).
    "mmr1_diversified_rerank" -> mmrOracle(nq = 5, pool = 10, k = 5, lambda = 0.7),
    "dsir1_importance_weights" ->
      """WITH t AS (SELECT doc_id, source, lang,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |h AS (SELECT doc_id, source, lang,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 7), i -> CAST(strpos('0123456789abcdef',
        |        md5(w)[i]) - 1 AS BIGINT))), (a,c) -> a*16 + c) % 64 AS INT) AS b
        |  FROM t),
        |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM h WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM h GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM tc) AS nt,
        |               (SELECT CAST(sum(cr) AS BIGINT) FROM rc) AS nr),
        |w AS (SELECT rc.b,
        |    CAST(round(ln( (CAST(coalesce(tc.ct,0)+1 AS DOUBLE) * CAST(tot.nr+64 AS DOUBLE))
        |              / (CAST(rc.cr+1 AS DOUBLE) * CAST(tot.nt+64 AS DOUBLE)) ), 6)
        |      AS DECIMAL(38,6)) AS lw
        |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot),
        |d AS (SELECT h.doc_id, h.source, CAST(sum(w.lw) AS DECIMAL(38,6)) AS dlw
        |  FROM h JOIN w USING (b) GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(dlw) AS DOUBLE), 6) AS sum_lw,
        |  CAST(sum(CASE WHEN dlw > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "iso1_isotonic_calibration" ->
      """WITH b AS (
        |  SELECT CAST(least(floor(value/50), 9) AS INT) AS bin,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
        |      FROM b GROUP BY 1),
        |c AS (SELECT bin, n, s,
        |        CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
        |        CAST(sum(s) OVER (ORDER BY bin) AS BIGINT) AS cs
        |      FROM g),
        |p AS (SELECT ck.bin AS k, cj.bin AS j,
        |        CAST(cj.cs - (ck.cs - ck.s) AS DOUBLE) / CAST(cj.cn - (ck.cn - ck.n) AS DOUBLE) AS m
        |      FROM c ck JOIN c cj ON ck.bin <= cj.bin),
        |inn AS (SELECT g.bin AS i, p.k, min(p.m) AS mn
        |        FROM g JOIN p ON p.k <= g.bin AND p.j >= g.bin
        |        GROUP BY 1, 2),
        |f AS (SELECT i AS bin, max(mn) AS fit FROM inn GROUP BY 1)
        |SELECT g.bin, g.n,
        |  round(CAST(g.s AS DOUBLE)/CAST(g.n AS DOUBLE), 6) AS raw_rate,
        |  round(f.fit, 6) AS fitted_rate
        |FROM g JOIN f USING (bin) ORDER BY bin""".stripMargin,
    "rl2_multipass_linkage" ->
      """WITH c AS (SELECT c_custkey, c_nationkey AS nat,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cb FROM customer),
        |s AS (SELECT s_suppkey, s_nationkey AS nat,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS sb FROM supplier),
        |candA AS (SELECT c_custkey, s_suppkey, cb, sb FROM c JOIN s USING (nat)),
        |candB AS (SELECT c_custkey, s_suppkey, cb, sb
        |  FROM c JOIN s ON floor(c.cb / 1000.0) = floor(s.sb / 1000.0)),
        |cand AS (SELECT DISTINCT c_custkey, s_suppkey, cb, sb
        |  FROM (SELECT * FROM candA UNION ALL SELECT * FROM candB)),
        |scored AS (SELECT c_custkey, s_suppkey,
        |    CAST((cb >= 0) = (sb >= 0) AS INT) AS a1,
        |    CAST(floor(cb/100000.0) = floor(sb/100000.0) AS INT) AS a2,
        |    CAST(floor(cb/1000.0) = floor(sb/1000.0) AS INT) AS a3
        |  FROM cand),
        |w AS (SELECT c_custkey, s_suppkey, a1+a2+a3 AS n_agree,
        |    (CASE WHEN a1=1 THEN 492476 ELSE -1504077 END
        |     + CASE WHEN a2=1 THEN 1763589 ELSE -1076139 END
        |     + CASE WHEN a3=1 THEN 3601868 ELSE -783394 END) AS su
        |  FROM scored)
        |SELECT c_custkey, s_suppkey, CAST(n_agree AS INT) AS n_agree,
        |  round(CAST(su AS DOUBLE)/1e6, 6) AS score
        |FROM w ORDER BY su DESC, c_custkey, s_suppkey LIMIT 20""".stripMargin,
    // Full recompute of the maintained join view: the hash match IS
    // the incremental-maintenance ≡ rebuilt proof (ss9 pattern).
    "ivm2_incremental_join" ->
      """SELECT CAST(c_nationkey AS INT) AS nation,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // pr1's quantized-contribution replay with seed teleport: the rank
    // update LEFT-joins from nodes so teleport-only rows survive.
    "ppr1_personalized_pagerank" -> {
      val it = (t: Int) =>
        s"""p$t AS (SELECT n.node,
           |    tel.b * CASE WHEN se.node IS NOT NULL THEN 1 ELSE 0 END
           |      + 0.85 * (CAST(coalesce(c.s, 0) AS DOUBLE) / 100000000000000.0) AS pr
           |  FROM nodes n
           |  LEFT JOIN seeds se ON se.node = n.node
           |  LEFT JOIN (SELECT e.dst AS node,
           |      sum(CAST(round(p.pr / d.deg * 100000000000000.0) AS BIGINT)) AS s
           |    FROM edges e JOIN p${t - 1} p ON e.src = p.node JOIN deg d ON e.src = d.node
           |    GROUP BY e.dst) c ON c.node = n.node
           |  CROSS JOIN tel)""".stripMargin
      s"""WITH pairs AS (
         |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |edges AS (
         |  SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst FROM pairs
         |  UNION ALL
         |  SELECT 's' || CAST(s AS VARCHAR) AS src, 'c' || CAST(c AS VARCHAR) AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
         |seeds AS (SELECT node FROM nodes
         |  WHERE node LIKE 'c%' AND CAST(substring(node, 2) AS BIGINT) < 10),
         |tel AS (SELECT 0.15 / CAST(count(*) AS DOUBLE) AS b FROM seeds),
         |p0 AS (SELECT n.node,
         |    CASE WHEN se.node IS NOT NULL
         |      THEN 1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM seeds)
         |      ELSE 0.0 END AS pr
         |  FROM nodes n LEFT JOIN seeds se ON se.node = n.node),
         |${it(1)},
         |${it(2)},
         |${it(3)}
         |SELECT node, round(pr, 12) AS pr FROM p3
         |ORDER BY pr DESC, node ASC LIMIT 25""".stripMargin
    },
    "gnn1_neighbor_agg" ->
      """WITH pairs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |feat AS (SELECT c_custkey AS c, CAST(round(c_acctbal*100) AS BIGINT) AS cb FROM customer),
        |h1 AS (SELECT p.s,
        |    CAST(round(CAST(sum(f.cb) AS DOUBLE) / count(*), 6) AS DECIMAL(38,6)) AS h1
        |  FROM pairs p JOIN feat f ON p.c = f.c GROUP BY p.s),
        |h2 AS (SELECT p.c,
        |    round(CAST(sum(h.h1) AS DOUBLE) / count(*), 6) AS h2
        |  FROM pairs p JOIN h1 h ON p.s = h.s GROUP BY p.c)
        |SELECT CAST(c_nationkey AS INT) AS nation, CAST(count(*) AS BIGINT) AS n_cust,
        |  round(CAST(sum(CAST(h2.h2 AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS avg_h2
        |FROM h2 JOIN customer ON c_custkey = h2.c GROUP BY 1 ORDER BY 1""".stripMargin,
    "conf1_conformal_coverage" ->
      """WITH s AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS vc,
        |    event_id % 2 AS half FROM events),
        |med AS (SELECT event_type, round(quantile_cont(vc, 0.5), 6) AS med
        |  FROM s WHERE half = 0 GROUP BY 1),
        |cal AS (SELECT s.event_type, CAST(round(abs(s.vc - med.med)) AS BIGINT) AS sc
        |  FROM s JOIN med USING (event_type) WHERE half = 0),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ncal FROM cal GROUP BY 1),
        |k AS (SELECT event_type, ncal, CAST(ceil((ncal+1) * 0.9) AS BIGINT) AS kk FROM n),
        |rk AS (SELECT event_type, sc,
        |    row_number() OVER (PARTITION BY event_type ORDER BY sc) AS r FROM cal),
        |q AS (SELECT rk.event_type, min(sc) AS qhat
        |  FROM rk JOIN k USING (event_type) WHERE rk.r = k.kk GROUP BY 1),
        |tst AS (SELECT s.event_type,
        |    CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN CAST(round(abs(s.vc - med.med)) AS BIGINT) <= q.qhat
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
        |  FROM s JOIN med USING (event_type) JOIN q USING (event_type)
        |  WHERE half = 1 GROUP BY 1)
        |SELECT t.event_type, k.ncal, CAST(q.qhat AS BIGINT) AS qhat_cents,
        |  t.n_test, round(CAST(t.n_cov AS DOUBLE)/t.n_test, 6) AS coverage
        |FROM tst t JOIN q USING (event_type) JOIN k USING (event_type)
        |ORDER BY 1""".stripMargin,
    // seq1's oracle restates the closed forms (⟨a,b⟩ ⟺ min_a < max_b;
    // ⟨a,b,c⟩ ⟺ min-b-after-first-a < max_c) over the same 30-min
    // sessionization — strict comparisons on integer micros both sides.
    "seq1_frequent_subsequences" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us
        |  FROM events WHERE event_type IS NOT NULL),
        |l AS (SELECT user_id, event_id, event_type, us,
        |    lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM ev),
        |s AS (SELECT user_id, event_type, us,
        |    sum(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sid FROM l),
        |pst AS (SELECT user_id, sid, event_type, min(us) AS mn, max(us) AS mx
        |  FROM s GROUP BY 1, 2, 3),
        |p2 AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS support
        |  FROM pst a JOIN pst b ON a.user_id = b.user_id AND a.sid = b.sid
        |    AND a.mn < b.mx GROUP BY 1, 2),
        |eab AS (SELECT e.user_id, e.sid, a.event_type AS ta, e.event_type AS tb,
        |    min(e.us) AS eab
        |  FROM s e JOIN pst a ON e.user_id = a.user_id AND e.sid = a.sid
        |    AND e.us > a.mn GROUP BY 1, 2, 3, 4),
        |p3 AS (SELECT eab.ta, eab.tb, c.event_type AS tc, count(*) AS support
        |  FROM eab JOIN pst c ON eab.user_id = c.user_id AND eab.sid = c.sid
        |    AND eab.eab < c.mx GROUP BY 1, 2, 3)
        |SELECT pattern, len, support FROM (
        |  SELECT ta || '>' || tb AS pattern, 2 AS len,
        |    CAST(support AS BIGINT) AS support FROM p2 WHERE support >= 20
        |  UNION ALL
        |  SELECT ta || '>' || tb || '>' || tc AS pattern, 3 AS len,
        |    CAST(support AS BIGINT) AS support FROM p3 WHERE support >= 20)
        |ORDER BY len, support DESC, pattern""".stripMargin,
    // vg1's oracle uses plain global windows for the prefix sums — the
    // single-partition plan the Spark side specifically avoids.
    "vg1_vocab_growth" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents),
        |dt AS (SELECT doc_id, len(ws) AS n_tok FROM w),
        |tok AS (SELECT doc_id, unnest(ws) AS tok FROM w),
        |fr AS (SELECT min(doc_id) AS fdoc FROM tok GROUP BY tok),
        |nf AS (SELECT fdoc, count(*) AS new_toks FROM fr GROUP BY 1),
        |sp AS (SELECT dt.doc_id, dt.n_tok, coalesce(nf.new_toks, 0) AS new_toks,
        |    row_number() OVER (ORDER BY dt.doc_id) AS rnk
        |  FROM dt LEFT JOIN nf ON dt.doc_id = nf.fdoc),
        |cum AS (SELECT rnk,
        |    sum(n_tok) OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS cum_tokens,
        |    sum(new_toks) OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS vocab
        |  FROM sp),
        |n AS (SELECT count(*) AS nd FROM sp)
        |SELECT CAST(rnk AS BIGINT) AS n_docs, CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  CAST(vocab AS BIGINT) AS vocab
        |FROM cum, n WHERE rnk % greatest(nd // 10, 1) = 0 OR rnk = nd
        |ORDER BY n_docs""".stripMargin,
    // ov1's oracle runs the sweep as a per-priority window; the Spark
    // side's single global prefix sum agrees because each priority's
    // deltas sum to zero (see Relational.maxConcurrency).
    "ov1_max_concurrency" ->
      """WITH iv AS (SELECT o_orderpriority AS prio,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      + o_orderkey % 60 + 1 AS e,
        |    o_orderkey AS k FROM orders),
        |d AS (SELECT prio, s AS day, 1 AS delta, k FROM iv
        |  UNION ALL SELECT prio, e AS day, -1 AS delta, k FROM iv),
        |r AS (SELECT prio, day, delta,
        |    sum(delta) OVER (PARTITION BY prio ORDER BY day, delta, k
        |                     ROWS UNBOUNDED PRECEDING) AS run FROM d),
        |m AS (SELECT prio, max(run) AS peak FROM r GROUP BY 1)
        |SELECT m.prio, CAST(m.peak AS BIGINT) AS peak,
        |  DATE '1970-01-01' + CAST(min(r.day) AS INT) AS peak_day
        |FROM r JOIN m ON r.prio = m.prio AND r.run = m.peak
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "att2_markov_attribution" -> att2Oracle,
    // ari1: ntile(4) over a total order is exactly Ranks.ntileOfRank's
    // closed form; pair counts stay integral (HUGEINT sums halved
    // exactly — n·(n−1) is always even) until the final double ratio,
    // whose op order mirrors Quality.adjustedRandIndex verbatim.
    "ari1_cluster_agreement" ->
      """WITH r AS (SELECT c_custkey, c_nationkey,
        |    ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS q FROM customer),
        |cells AS (SELECT c_nationkey, q, CAST(count(*) AS BIGINT) AS nij
        |  FROM r GROUP BY 1, 2),
        |sc AS (SELECT sum(nij * (nij - 1)) // 2 AS v FROM cells),
        |sa AS (SELECT sum(a * (a - 1)) // 2 AS v FROM (
        |    SELECT CAST(sum(nij) AS BIGINT) AS a FROM cells GROUP BY c_nationkey)),
        |sb AS (SELECT sum(b * (b - 1)) // 2 AS v FROM (
        |    SELECT CAST(sum(nij) AS BIGINT) AS b FROM cells GROUP BY q)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer)
        |SELECT nn.n AS n, CAST(sc.v AS BIGINT) AS sum_comb_cells,
        |  CAST(sa.v AS BIGINT) AS sum_comb_rows, CAST(sb.v AS BIGINT) AS sum_comb_cols,
        |  round((CAST(sc.v AS DOUBLE) - CAST(sa.v AS DOUBLE) * CAST(sb.v AS DOUBLE)
        |      / (CAST(nn.n AS DOUBLE) * CAST(nn.n - 1 AS DOUBLE) / 2.0))
        |    / ((CAST(sa.v AS DOUBLE) + CAST(sb.v AS DOUBLE)) / 2.0
        |      - CAST(sa.v AS DOUBLE) * CAST(sb.v AS DOUBLE)
        |      / (CAST(nn.n AS DOUBLE) * CAST(nn.n - 1 AS DOUBLE) / 2.0)), 6) AS ari
        |FROM nn, sc, sa, sb""".stripMargin,
  )
}
