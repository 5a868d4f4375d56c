package graft

import graft.operators.{Analytics, Behavior, Dedup, Dsir, EventsCdc, Multimodal, RandomProjection, Sampling, Similarity, Skew, Temporal, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a matching ANSI-SQL oracle in
  * [[oracleSql]] (DuckDB-runnable over the same parquet tables) unless
  * the operator is not SQL-expressible. Column names and types are
  * aligned pairwise; floating aggregates use exact DECIMAL arithmetic
  * cast back to DOUBLE on both sides so hashes match bit-for-bit.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the CDC FINAL view over the events change log.
    */
  def entry(spark: SparkSession): DataFrame =
    EventsCdc.latestEvents(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  /** Bench-only rows — run by `graft.Bench` alongside [[queries]] but
    * NOT part of the driver correctness surface: the sketch-only
    * production forms of the two approx operators, whose engine-
    * specific sketch values carry no DuckDB oracle (their error
    * contracts are certified by the `q_approx_*` rows in [[queries]]).
    * Benching them separately keeps the sketches' cost profile visible
    * instead of burying it under the certification's exact-answer
    * recomputation (VERDICT r1 #4 / r4 #7).
    */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_approx_distinct_sketch" -> (Analytics.approxUserCountsSketch _),
    "q_approx_percentiles_sketch" -> (Analytics.approxOrderPercentilesSketch _),
    // packed-LUT ADC vs its SQL join-form baseline, both at K=256 over
    // the SAME quarter-size query sample (Pq.pqBenchSampleSize — both
    // forms are linear in the query count, so the per-query delta is
    // unchanged and the comparison costs a quarter): same shortlist
    // rows (parity spec-pinned), so the delta is purely the scan form
    // — table lookups over packed bytes vs an equi-join
    "ann_pq_adc_packed" -> ((s, d) => operators.Pq.pqAdcPacked(s, d)),
    "ann_pq_adc_join" -> ((s, d) => operators.Pq.pqAdcJoin(s, d)),
    // production IVF training (plain-avg mean updates, no per-member
    // collect_list) + final assignment — un-memoized so the full
    // index-build cost stays bench-visible; equivalence to the
    // certified ordered-fold path is spec-pinned
    "ann_ivf_assign_prod" -> (operators.Similarity.ivfAssignProd _),
    // production PQ index build: scalar mapPartitions encode (broadcast
    // codebook, one narrow corpus pass, no K-fold join fan-out) +
    // plain-avg codebook training at K=256 + byte-pack — the complete
    // index-build pipeline with no per-member collect_list anywhere;
    // bit-identical assignment and near-identical means vs the
    // certified ordered-fold trainer are spec-pinned (PqSpec)
    "ann_pq_build_prod" -> ((s, d) => operators.Pq.pqBuildProd(s, d)),
    // two-level IVF build+search: level-2 centroids stay a DISTRIBUTED
    // table (equi-joined on the coarse cell, never collected or
    // broadcast) — the cap-free architecture past 65536 flat cells;
    // float-reassociation in the distributed avg makes it bench+spec
    // covered rather than hash-oracled
    "ann_ivf2_search" -> (operators.IvfTwoLevel.search _),
    // COLD builds of the `Memo`-served artifacts whose construction
    // cost Bench's min-of-2 warm passes would otherwise hide: each row
    // calls the un-memoized builder its memo wraps, so every pass
    // rebuilds from the parquet inputs (no memo read, no memo write)
    // and renders like its warm twin; the memoized declared rows stay
    // the oracle surface. Memos already covered by an existing cold
    // row: IVF centroids -> ann_ivf_assign_prod, PQ codebook/index ->
    // ann_pq_build_prod.
    "fuzzy_candidates_build" ->
      ((s: SparkSession, d: String) => operators.Fuzzy.candidates2Raw(s, d)),
    "dedup_truth_build" -> (Dedup.computePrefixJaccardJoin _),
    "text_winnow_build" -> (TextAnalysis.computeWinnowPairs _),
    "text_bpe_train" -> ((s: SparkSession, d: String) =>
      operators.BpeTrainer.mergeRows(s, operators.BpeTrainer.trainMerges(s, d))),
    "text_quality_train" -> ((s: SparkSession, d: String) =>
      operators.Perceptron.weightRows(s, operators.Perceptron.trainWeights(s, d))),
    "ann_opq_build" -> ((s: SparkSession, d: String) =>
      operators.Opq.rotationRows(s, operators.Opq.trainRotation(s, d))))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — CDC operator family over the events change log (SURVEY §2.1-2.4)
    "cdc_final" -> (EventsCdc.latestEvents _),
    "cdc_final_agg" -> (EventsCdc.latestEventsAgg _),
    "cdc_mv_projection" -> (EventsCdc.mvProjection _),
    "cdc_changelog_scan" -> (EventsCdc.changelogScan _),
    "cdc_backfill_union" -> (EventsCdc.backfillUnion _),
    "cdc_count_parity" -> (EventsCdc.finalCount _),
    "cdc_hourly_stats" -> (EventsCdc.hourlyEventStats _),
    "cdc_compact" -> (EventsCdc.compactedLog _),
    // — temporal views derived from the versioned log (SCD2 / time
    //   travel / snapshot changefeed)
    "cdc_scd2" -> (operators.CdcHistory.scd2History _),
    "cdc_asof_final" -> (operators.CdcHistory.asOfFinal _),
    "cdc_snapshot_diff" -> (operators.CdcHistory.snapshotDiff _),
    "cdc_merge_apply" -> (operators.MergeInto.mergeApply _),
    "q_partition_pruned_scan" ->
      ((s: SparkSession, d: String) => operators.Bucketing.partitionPrunedDay(s, d)),
    // — generic analytics surface (SURVEY §2.5)
    "q1_pricing_summary" -> (Analytics.pricingSummary _),
    "q3_top_revenue_orders" -> (Analytics.topRevenueOrders _),
    "q5_nation_revenue" -> (Analytics.nationRevenue _),
    "q_topk_orders" -> (Analytics.topKOrders _),
    "q_window_topn_per_customer" -> (Analytics.topOrdersPerCustomer _),
    "q_intersect_customers" -> (Analytics.intersectCustomers _),
    "q_except_customers" -> (Analytics.exceptCustomers _),
    "q_semijoin_big_spenders" -> (Analytics.bigSpenders _),
    "q_antijoin_never_shipped" -> (Analytics.neverShippedParts _),
    "q_distinct_flag_status" -> (Analytics.distinctFlagStatus _),
    "q_rollup_orders" -> (Analytics.orderRollup _),
    "q_cube_orders" -> (Analytics.orderCube _),
    "q_grouping_sets" -> (Analytics.orderGroupingSets _),
    "q_rank_stats" -> (Analytics.orderRankStats _),
    "q_monthly_orders" -> (Analytics.monthlyOrders _),
    "q_json_props" -> (Analytics.eventPropsAgg _),
    "q_corr_above_avg" -> (Analytics.aboveAvgOrders _),
    "q_percentiles" -> (Analytics.orderPercentiles _),
    "q_stats_orders" -> (Analytics.orderStats _),
    "q_spend_gini" -> (Analytics.spendGini _),
    "q_spearman" -> (Analytics.spearmanOrdersSpend _),
    "q_series_correlation" -> (Analytics.seriesCorrelation _),
    "q_chi_square" -> (operators.Stats.chiSquare _),
    "q_ks_test" -> (operators.Stats.ksTest _),
    "q_cusum_changepoint" -> (operators.Stats.cusumChangepoint _),
    "q_welch_ttest" -> (operators.Stats.welchTTest _),
    "q_benford_digits" -> (operators.Stats.benfordDigits _),
    "q_mann_kendall" -> (operators.Stats.mannKendall _),
    "q_theil_sen" -> (operators.Stats.theilSen _),
    "q_acf_daily" -> (operators.Stats.acfDaily _),
    "q_order_gaps" -> (Analytics.orderGaps _),
    "q_column_profile" -> (operators.Profiling.columnProfile _),
    "q_profile_incremental" -> (operators.Profiling.profileIncremental _),
    "q_rolling_revenue" -> (operators.Intervals.rollingRevenue _),
    "q_ewma_revenue" -> (operators.Intervals.ewmaRevenue _),
    "q_interval_overlap" -> (operators.Intervals.anomalyOverlap _),
    "q_fuzzy_names" -> (operators.Fuzzy.nameJoin _),
    "q_fuzzy_names2" -> (operators.Fuzzy.nameJoin2 _),
    "q_fuzzy_names_incr" ->
      ((s, d) => operators.Fuzzy.nameJoinIncremental(s, d)),
    "fuzzy_blocking_eval" -> (operators.Fuzzy.blockingEval _),
    "q_market_basket" -> (operators.Associations.marketBasket _),
    "q_basket_triples" -> (operators.Associations.basketTriples _),
    "q_daily_reconciliation" -> (Analytics.dailyReconciliation _),
    "q_range_join_tiers" -> (Analytics.priceTierSummary _),
    "q_order_timeline" -> (Analytics.orderTimeline _),
    "q_approx_distinct" -> (Analytics.approxUserCounts _),
    "q_approx_percentiles" -> (Analytics.approxOrderPercentiles _),
    "q_pivot_status" -> (Analytics.statusPivot _),
    "q_unpivot_status" -> (Analytics.statusUnpivot _),
    // — temporal operators over events (as-of join, sessionization)
    "q_asof_attribution" -> (Temporal.lastTouchAttribution _),
    "q_multi_touch" -> ((s: SparkSession, d: String) => Temporal.multiTouchAttribution(s, d)),
    "q_sessionize" -> ((s: SparkSession, d: String) => Temporal.sessionize(s, d)),
    "q_session_stats" -> (Temporal.sessionStats _),
    "q_top_paths" -> ((s: SparkSession, d: String) => Temporal.topPaths(s, d)),
    "q_concurrent_sessions" -> (operators.Intervals.concurrentSessions _),
    "q_funnel_conversion" -> (Behavior.funnelConversion _),
    "q_cuped_ab" -> (Behavior.cupedAb _),
    "q_funnel_latency" -> (Behavior.funnelLatency _),
    "q_retention_cohorts" -> (Behavior.retentionCohorts _),
    "q_ltv_triangle" -> (Behavior.ltvTriangle _),
    "q_event_transitions" -> (Behavior.eventTransitions _),
    "q_hourly_anomalies" -> (Behavior.hourlyAnomalies _),
    "q_robust_anomalies" -> (Behavior.robustAnomalies _),
    "q_salted_join" -> (Skew.saltedSupplierRevenue _),
    "q_join_skew" -> ((s: SparkSession, d: String) => Skew.joinKeySkew(s, d)),
    // — dedup family over documents (north-star extensions)
    "dedup_exact" -> (Dedup.exact _),
    "dedup_minhash_signatures" -> (Dedup.minhashSignatures _),
    "dedup_minhash_wide" -> (Dedup.minhashWide _),
    "dedup_minhash_w128" -> (Dedup.minhashWide128 _),
    "dedup_lsh_pairs" -> (Dedup.lshCandidatePairs _),
    "dedup_edit_verify" -> (Dedup.editDistancePairs _),
    "dedup_containment" -> (Dedup.containmentPairs _),
    "dedup_lsh_pairs_wide" -> (Dedup.lshWideCandidatePairs _),
    "dedup_lsh_incremental" -> (Dedup.lshIncrementalPairs _),
    "dedup_bloom" -> (Dedup.bloomIncremental _),
    "dedup_dup_spans" -> ((s: SparkSession, d: String) =>
      Dedup.dupSpans(s, d).orderBy("doc_id", "span_start")),
    "dedup_span_clean" -> ((s: SparkSession, d: String) =>
      Dedup.spanClean(s, d).orderBy("doc_id")),
    "dedup_clusters" -> (Dedup.clustersQuery _),
    "dedup_clusters_dist" -> (Dedup.clustersDistQuery _),
    "dedup_survivors" -> (Dedup.survivors _),
    "dedup_impact" -> (Dedup.dedupImpact _),
    "dedup_simhash" -> (Dedup.simhash _),
    "dedup_simhash_pairs" -> (Dedup.simhashPairs _),
    "dedup_ngram_jaccard" -> (Dedup.ngramJaccardPairs _),
    "dedup_prefix_join" -> (Dedup.prefixJaccardJoin _),
    "dedup_blocking_eval" -> (Dedup.blockingEval _),
    "dedup_blocking_sweep" -> (Dedup.blockingEvalSweep _),
    "dedup_minhash_est" -> (Dedup.minhashEstimatorAudit _),
    "dedup_cc_incremental" -> (Dedup.ccIncremental _),
    "q_contamination" -> (Dedup.contamination _),
    // — similarity search over embeddings
    "ann_brute_force" -> (Similarity.bruteForceTopK _),
    "ann_bucketed" -> (Similarity.bucketedTopK _),
    "ann_ivf" -> ((s, d) => Similarity.ivfTopK(s, d)),
    "emb_cluster_sample" -> ((s, d) => Similarity.clusterSample(s, d)),
    "ann_recall" -> (Similarity.bucketedRecall _),
    "ann_ivf_recall" -> ((s, d) => Similarity.ivfRecall(s, d)),
    "ann_ivf_recall_np1" -> ((s, d) => Similarity.ivfRecall(s, d, nprobe = 1)),
    "ann_pq_codes" -> (operators.Pq.pqCodes _),
    "ann_pq_codes_k256" -> ((s, d) => operators.Pq.pqCodesPacked(s, d)),
    "ann_pq_recall" -> (operators.Pq.pqRecall _),
    "ann_pq_recall_k256" -> ((s, d) =>
      operators.Pq.pqRecallAtK(s, d, operators.Pq.productionCodebookSize)),
    "ann_ivfpq_recall" -> (operators.IvfPq.ivfPqRecall _),
    "opq_rotation" -> ((s, d) =>
      operators.Opq.rotationRows(s, operators.Opq.trainedRotation(s, d))),
    "ann_opq_recall" -> ((s, d) => operators.Opq.opqRecall(s, d)),
    "emb_near_dup_pairs" -> (Similarity.nearDupPairs _),
    "emb_norm_outliers" -> (Similarity.normOutliers _),
    "emb_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(s, d)),
    "emb_int8_quant" -> (operators.Quantize.int8Audit _),
    "emb_mrl_topk" -> ((s, d) => operators.Quantize.mrlTopK(s, d)),
    "emb_dim_variance" -> (operators.Quantize.dimVariance _),
    "emb_whiten" -> (operators.Quantize.whitenAudit _),
    "emb_top_pc" -> (operators.Quantize.topPrincipalComponent _),
    "emb_abtt_residual" -> (operators.Quantize.abttResiduals _),
    "emb_centroid_drift" -> (operators.Quantize.centroidDrift _),
    "emb_label_separation" -> (operators.Quantize.labelSeparation _),
    "emb_hard_negatives" -> (operators.Quantize.hardNegatives _),
    "emb_mutual_knn" -> (Similarity.mutualKnnPairs _),
    "emb_knn_accuracy" -> (Similarity.knnLabelAccuracy _),
    "text_novelty" -> (TextAnalysis.noveltyScores _),
    "text_line_dedup" -> ((s, d) => TextAnalysis.lineDedup(s, d)),
    "text_line_dedup_incr" -> ((s, d) => TextAnalysis.lineDedupIncremental(s, d)),
    "text_normalize" -> (TextAnalysis.normalizeText _),
    "text_normalize_unicode" -> (TextAnalysis.normalizeTextUnicode _),
    "text_bigram_entropy" -> (TextAnalysis.bigramEntropy _),
    "emb_mrl_overlap" -> (operators.Quantize.mrlOverlap _),
    "emb_srp_signatures" -> (RandomProjection.signatures _),
    "emb_srp_pairs" -> (RandomProjection.pairs _),
    "emb_srp_degree" -> (RandomProjection.srpDegreeHistogram _),
    "emb_srp_recall" -> (RandomProjection.recall _),
    "emb_srp_incremental" -> (RandomProjection.incremental _),
    "emb_jl_topk" -> ((s, d) => RandomProjection.jlTopK(s, d)),
    "emb_jl_recall" -> (RandomProjection.jlRecall _),
    // — text analysis over documents
    "text_token_stats" -> (TextAnalysis.tokenStats _),
    "text_quality" -> (TextAnalysis.qualityScores _),
    "text_zipf_coverage" -> (TextAnalysis.zipfCoverage _),
    "text_gopher_rules" -> (TextAnalysis.gopherRules _),
    "text_blocklist_filter" -> (TextAnalysis.blocklistFilter _),
    "text_langid_confusion" -> (TextAnalysis.langIdConfusion _),
    "text_fingerprints" -> (TextAnalysis.fingerprints _),
    "text_subword_stats" -> (TextAnalysis.subwordStats _),
    "text_rolling_hash" -> (TextAnalysis.rollingHashes _),
    "text_quality_filter" -> (Sampling.qualityFilter _),
    "text_quality_calibrated" -> (TextAnalysis.qualityCalibrated _),
    "text_pii_signals" -> (TextAnalysis.piiSignals _),
    "text_pii_redact" -> (TextAnalysis.piiRedact _),
    "text_greedy_chunks" -> (TextAnalysis.greedyChunks _),
    "text_heavy_hitters" -> (TextAnalysis.heavyHitters _),
    "text_unigram_nll" -> (TextAnalysis.unigramNll _),
    "text_bigram_nll" -> (TextAnalysis.bigramNll _),
    "text_quality_classifier" -> (operators.Perceptron.classifier _),
    "q_classifier_auc" -> (operators.Evaluation.auc _),
    "q_classifier_eval" -> (operators.Evaluation.confusion _),
    "q_lift_chart" -> (operators.Evaluation.liftChart _),
    "text_heaps_law" -> (TextAnalysis.heapsLaw _),
    "text_repetition" -> (TextAnalysis.repetitionSignals _),
    "text_winnow_pairs" -> (TextAnalysis.winnowPassagePairs _),
    "q_pagerank_dupgraph" -> (operators.GraphRank.pagerankDupGraph _),
    "q_triangle_count" -> (operators.GraphRank.triangleStats _),
    // — lexical retrieval over documents
    "text_tfidf_keywords" ->
      ((s: SparkSession, d: String) => operators.Retrieval.tfidfKeywords(s, d)),
    "text_bm25" -> (operators.Retrieval.bm25Scores _),
    "text_rrf_fusion" -> (operators.Retrieval.rrfFusion _),
    "text_ndcg" -> (operators.Retrieval.ndcgQuality _),
    "text_dsir_weights" -> (Dsir.weights _),
    "text_dsir_resample" -> (Dsir.resample _),
    "text_cms_counts" -> (operators.Sketches.cmsTokenCounts _),
    "text_cms_incremental" -> (operators.Sketches.cmsTokenCountsIncremental _),
    "text_lz_complexity" -> (TextAnalysis.lzComplexity _),
    "text_length_histogram" -> (TextAnalysis.lengthHistogram _),
    "text_pmi_pairs" -> ((s, d) => TextAnalysis.pmiPairs(s, d)),
    "q_rfm_segments" -> (Analytics.rfmSegments _),
    "text_split_kl" -> (Sampling.splitKlDrift _),
    "text_source_kl" -> (Sampling.sourceKlDrift _),
    "q_weighted_sample" -> ((s, d) => Sampling.weightedSample(s, d)),
    "q_hll_registers" -> (operators.Sketches.hllRegistersQuery _),
    "q_hll_daily" -> (operators.Sketches.hllDailyUsers _),
    "q_hll_incremental" -> (operators.Sketches.hllDailyIncremental _),
    "q_hll_running" -> (operators.Sketches.hllRunningUsers _),
    "q_histogram_quantiles" -> (operators.Sketches.histogramQuantiles _),
    "q_hdr_quantiles" -> (operators.Sketches.hdrQuantiles _),
    "q_hdr_incremental" -> (operators.Sketches.hdrQuantilesIncremental _),
    "q_hdr_by_segment" -> (operators.Sketches.hdrQuantilesBySegment _),
    "q_dataset_manifest" -> (operators.Manifest.datasetManifest _),
    "q_forecast_baseline" -> (Behavior.forecastBaseline _),
    "q_weekly_profile" -> (Behavior.weeklyProfile _),
    "q_hll_distinct" -> (operators.Sketches.hllDistinct _),
    "q_hll_overlap" -> (operators.Sketches.hllCohortOverlap _),
    "q_theta_overlap" -> (operators.Sketches.thetaOverlap _),
    "q_theta_diff" -> (operators.Sketches.thetaDiff _),
    "q_theta_frame" -> (operators.Sketches.thetaFrameQuery _),
    "text_bpe_merges" ->
      ((s: SparkSession, d: String) => operators.BpeTrainer.train(s, d)),
    "text_bpe_fertility" ->
      ((s: SparkSession, d: String) => operators.BpeTrainer.fertility(s, d)),
    "text_bpe_encode" ->
      ((s: SparkSession, d: String) => operators.BpeTrainer.encode(s, d)),
    "text_bpe_vocab" ->
      ((s: SparkSession, d: String) => operators.BpeTrainer.vocab(s, d)),
    "q_train_split" -> (Sampling.splitSummary _),
    "q_stratified_sample" ->
      ((s: SparkSession, d: String) => Sampling.stratifiedSample(s, d)),
    "q_source_cap" ->
      ((s: SparkSession, d: String) => Sampling.sourceCap(s, d)),
    "q_pack_sequences" -> (Sampling.packSequences _),
    "q_padding_waste" -> (Sampling.paddingWaste _),
    "q_padding_waste_bpe" -> (Sampling.paddingWasteBpe _),
    "q_pack_sequences_bpe" -> (Sampling.packSequencesBpe _),
    "q_token_budget_bpe" -> (Sampling.tokenBudgetBpe _),
    "text_pareto_frontier" -> (Sampling.paretoFrontier _),
    "text_chunk_windows" -> (Sampling.chunkWindows _),
    "q_shuffle_order" -> (Sampling.shuffleOrder _),
    "q_curriculum" -> (Sampling.curriculumSchedule _),
    "q_token_budget_mix" -> (Sampling.tokenBudgetMix _),
    "q_temperature_mix" -> (Sampling.temperatureMix _),
    // — multimodal binary-column plumbing
    "mm_media_meta" -> (Multimodal.mediaMeta _),
    "mm_frame_index" -> (Multimodal.frameIndex _),
    "mm_video_frames" -> (Multimodal.videoFrameIndex _),
    "mm_dhash" -> (Multimodal.dhashIndex _),
    "mm_dhash_pairs" -> (Multimodal.dhashPairs _),
    "mm_audio_features" -> (Multimodal.audioFeatureIndex _),
    "mm_dhash_incremental" -> (Multimodal.dhashIncremental _),
    "mm_dhash_clusters" -> (Multimodal.dhashClusters _),
    "mm_dhash_survivors" -> (Multimodal.dhashSurvivors _),
  )

  /** DuckDB shingle CTE shared by the minhash oracles: char 8-grams. */
  private val gramsCte =
    """g AS (
      |  SELECT doc_id, substr(text, CAST(i AS INTEGER), 8) AS g
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(1, greatest(len(text) - 7, 0))) AS i
      |        FROM documents WHERE len(text) >= 8))""".stripMargin

  /** k=16 MinHash slices: hash j = slice j%4 of seeded digest
    * md5(g || seed) with seed j/4 ('' for 0) — mirrors
    * [[graft.functions.MinHashUtil.ngramMinHashMd5]] exactly.
    */
  private val minhashCols = (0 until operators.Dedup.numHashes).map { j =>
    val seed = j / 4
    val dig = if (seed == 0) "md5(g)" else s"md5(g || '$seed')"
    s"min(substr($dig, ${(j % 4) * 8 + 1}, 8)) AS h$j"
  }

  private val sigsCte =
    s"""WITH $gramsCte,
       |sigs AS (
       |  SELECT doc_id,
       |    ${minhashCols.mkString(",\n    ")}
       |  FROM g GROUP BY doc_id)""".stripMargin

  private val hashColList = (0 until operators.Dedup.numHashes)
    .map(j => s"h$j").mkString(", ")

  /** b×r LSH bands over the 16 slices (4 bands × 4 rows). */
  private val lshBandsCte = (0 until operators.Dedup.numBands).map { b =>
    val slices = (b * operators.Dedup.rowsPerBand until
      (b + 1) * operators.Dedup.rowsPerBand).map(j => s"h$j").mkString(" || ")
    s"SELECT doc_id, $b AS band, md5($slices) AS key FROM sigs"
  }.mkString("\n  UNION ALL\n  ")

  /** dHash pixel-row digests: row r = md5 of the concatenated MinHash
    * slice pair (h(2r), h(2r+1)) — mirrors
    * [[graft.operators.Multimodal.imagesFromSignatures]].
    */
  private val dhashRowDigestCols = (0 until operators.Multimodal.dhashH)
    .map(r => s"md5(h${2 * r} || h${2 * r + 1}) AS d$r")

  /** One 32-bit dHash half as a sum of bit weights. Bit (r,c) compares
    * adjacent pixel BYTES, i.e. adjacent lowercase-hex PAIRS
    * lexicographically — hex encoding is order-preserving, so no
    * hex→int conversion is needed on the oracle side.
    */
  /** Render a Scala string as a DuckDB expression of ASCII literal
    * runs and chr(codepoint) calls — planted Unicode probe text must
    * reach the oracle as CODEPOINTS (a raw literal could be
    * renormalized or re-encoded anywhere between source and parser,
    * silently turning a decomposed probe into its composed twin).
    */
  private def chrSql(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val run = new StringBuilder
    def flush(): Unit = if (run.nonEmpty) {
      parts += "'" + run.toString.replace("'", "''") + "'"; run.clear()
    }
    s.codePoints().forEach { cp =>
      if (cp >= 0x20 && cp < 0x7F) run.append(cp.toChar)
      else { flush(); parts += s"chr($cp)" }
    }
    flush()
    if (parts.isEmpty) "''" else parts.mkString(" || ")
  }

  private def dhashHalfExpr(rows: Range, base: Int): String =
    rows.flatMap { r =>
      (0 until 8).map { c =>
        val weight = 1L << ((r - base) * 8 + c)
        s"(CASE WHEN substr(d$r, ${2 * c + 1}, 2) < substr(d$r, ${2 * c + 3}, 2) THEN $weight ELSE 0 END)"
      }
    }.mkString(" + ")

  /** Multi-index bands over the 64-bit dHash: 4 × 16-bit substrings
    * (bands 0–1 from `lo`, 2–3 from `hi`) — mirrors
    * [[graft.operators.Multimodal.dhashPairs]].
    */
  private val dhashBandsCte = (0 until operators.Multimodal.dhashBands).map { b =>
    val half = if (b < 2) "lo" else "hi"
    s"SELECT doc_id, hi, lo, $b AS band, ($half >> ${(b % 2) * 16}) & 65535 AS key FROM hsh"
  }.mkString("\n  UNION ALL\n  ")

  private val pcLast = operators.Quantize.powerIters

  /** Centered power iteration unrolled (the ivfTrainCtes discipline),
    * ending in the fitted direction `v$pcLast(dim, v)` plus `mu`,
    * `c` (centered corpus), `nrow`, and `n$pcLast` — mirrors
    * [[graft.operators.Quantize.pcFit]]: means, per-row scores, and
    * the re-normalized direction all round at 6 before reuse.
    */
  private val pcFitCtes: String = {
    val iters = (1 to pcLast).map { t =>
      val pv = if (t == 1) "v0" else s"v${t - 1}"
      s"""s$t AS (
         |  SELECT c.vec_id, round(sum(c.x * p.v), 6) AS s
         |  FROM c JOIN $pv p USING (dim) GROUP BY c.vec_id),
         |u$t AS (
         |  SELECT c.dim, round(sum(c.x * s$t.s), 6) AS u
         |  FROM c JOIN s$t USING (vec_id) GROUP BY c.dim),
         |n$t AS (SELECT sqrt(round(sum(u * u), 6)) AS nrm FROM u$t),
         |v$t AS (
         |  SELECT dim, CASE WHEN n$t.nrm > 0 THEN round(u / n$t.nrm, 6)
         |              ELSE 0.0 END AS v
         |  FROM u$t CROSS JOIN n$t)""".stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN
       |    generate_series(1, ${operators.Quantize.embeddingDim}) t(i)
       |  WHERE i <= len(embedding)),
       |mu AS (SELECT dim, round(sum(x) / count(*), 6) AS mu FROM e GROUP BY dim),
       |c AS (SELECT e.vec_id, e.dim, e.x - mu.mu AS x FROM e JOIN mu USING (dim)),
       |nrow AS (SELECT count(DISTINCT vec_id) AS n FROM c),
       |v0 AS (SELECT dim, 0.125 AS v FROM mu),
       |$iters""".stripMargin
  }

  /** OPQ rotation training replayed end-to-end (mirrors
    * [[graft.operators.Opq.trainedRotation]] step for step): centered
    * cells → per-dim means (round 6) → the d×d population covariance,
    * each cell rounded ONCE from the raw noisy sum into exact integer
    * MICROS (`ocov0`, value×10⁶ as BIGINT) → [[operators.Opq.rotationDims]]
    * generated deflation rounds in SCALED-INTEGER arithmetic — two
    * power-iteration matvecs from the constant 1/8 seed, Gram–Schmidt
    * against the accumulated basis (`obas$k`), normalization, Rayleigh
    * eigenvalue, rank-1 deflation — where every step back to the micro
    * grid is the SAME half-away-from-zero integer division both
    * engines state (`(|x| + q/2) div q`), so no float-path rounding
    * can ever disagree on a tie (chained float round(_, 6) over
    * grid-aligned values makes true ties reachable — the round-15
    * lesson). Doubles appear only at bit-reproducible spots: sqrt of
    * an exact integer and a division of exact ints before a single
    * round(_, 0). Then snake eigenvalue allocation (rank r = p·M + q →
    * subspace q on even passes, M−1−q on odd; out_dim = subspace·subDim
    * + p — exact BIGINT ranking) → `orot` (out_dim, in_dim, w, lam as
    * micros/10⁶ doubles) and the rotated corpus `rembeddings`
    * (y = R(x−μ), per-coordinate round 6 of a generic sum, list
    * ordered by out_dim).
    */
  private val opqTrainCtes: String = {
    val dd = operators.Opq.rotationDims
    val m0 = operators.Pq.numSubspaces
    val subDim = dd / m0
    val seedMicros = (operators.Opq.rotationSeed * 1e6).toLong
    // half-away-from-zero integer division back to the micro grid —
    // the one tie rule, stated identically to Opq.divRound
    def dr(x: String, q: Long): String =
      s"(CASE WHEN ($x) >= 0 THEN (($x) + ${q / 2}) // $q" +
        s" ELSE -(((-($x)) + ${q / 2}) // $q) END)"
    // normalization: ‖u‖² is an exact integer; sqrt and the division
    // are single IEEE ops on identical operands in both engines
    def normCte(name: String, src: String, c: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT dim, CASE WHEN nq.nrm > 0
         |    THEN CAST(round(CAST($c AS DOUBLE) / nq.nrm * 1000000, 0) AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS v
         |  FROM $src CROSS JOIN
         |    (SELECT sqrt(CAST(sum($c * $c) AS DOUBLE)) AS nrm FROM $src) nq)""".stripMargin
    // one Gram–Schmidt pass of `src`(dim, v) against the accumulated
    // basis obas$k — quantized coefficients at unit micro scale; run
    // twice (tags "b" then "c"), the second pass removing what the
    // first pass's grid rounding left behind
    def gsCtes(k: Int, tag: String, src: String): String =
      s"""occ$tag$k AS MATERIALIZED (
         |  SELECT b.bk, CAST(${dr("sum(u.v * b.v)", 1000000L)} AS BIGINT) AS cf
         |  FROM $src u JOIN obas$k b ON b.dim = u.dim GROUP BY b.bk),
         |og$tag$k AS MATERIALIZED (
         |  SELECT u.dim,
         |    u.v - CAST(${dr("coalesce(s.adj, 0)", 1000000L)} AS BIGINT) AS g
         |  FROM $src u LEFT JOIN (
         |    SELECT b.dim, sum(c.cf * b.v) AS adj
         |    FROM obas$k b JOIN occ$tag$k c USING (bk) GROUP BY b.dim) s USING (dim))""".stripMargin
    val rounds = (0 until dd).map { k =>
      val deflate =
        if (k < dd - 1)
          s""",
             |ocov${k + 1} AS MATERIALIZED (
             |  SELECT c.i, c.j,
             |    c.c - CAST(${dr("l.lam * a.v * b.v", 1000000000000L)} AS BIGINT) AS c
             |  FROM ocov$k c
             |  JOIN ov$k a ON a.dim = c.i
             |  JOIN ov$k b ON b.dim = c.j
             |  CROSS JOIN olam$k l)""".stripMargin
        else ""
      s"""oua$k AS MATERIALIZED (
         |  SELECT i AS dim, CAST(${dr(s"sum(c * $seedMicros)", 1000000L)} AS BIGINT) AS u
         |  FROM ocov$k GROUP BY i),
         |${normCte(s"ova$k", s"oua$k", "u")},
         |oub$k AS MATERIALIZED (
         |  SELECT c.i AS dim, CAST(${dr("sum(c.c * v.v)", 1000000L)} AS BIGINT) AS u
         |  FROM ocov$k c JOIN ova$k v ON v.dim = c.j GROUP BY c.i),
         |${normCte(s"ovb$k", s"oub$k", "u")},
         |${gsCtes(k, "b", s"ovb$k")},
         |${normCte(s"ovc$k", s"ogb$k", "g")},
         |${gsCtes(k, "c", s"ovc$k")},
         |${normCte(s"ov$k", s"ogc$k", "g")},
         |olam$k AS MATERIALIZED (
         |  SELECT CAST(${dr("sum(v.v * w.w)", 1000000L)} AS BIGINT) AS lam
         |  FROM ov$k v JOIN (
         |    SELECT c.i AS dim, CAST(${dr("sum(c.c * v2.v)", 1000000L)} AS BIGINT) AS w
         |    FROM ocov$k c JOIN ov$k v2 ON v2.dim = c.j GROUP BY c.i) w USING (dim)),
         |obas${k + 1} AS MATERIALIZED (
         |  SELECT * FROM obas$k
         |  UNION ALL SELECT CAST($k AS BIGINT) AS bk, dim, v FROM ov$k)$deflate""".stripMargin
    }.mkString(",\n")
    val lamUnion = (0 until dd)
      .map(k => s"SELECT CAST($k AS BIGINT) AS k, lam FROM olam$k")
      .mkString("\n  UNION ALL ")
    s"""oe AS MATERIALIZED (
       |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN generate_series(1, $dd) t(i)
       |  WHERE i <= len(embedding)),
       |omu AS MATERIALIZED (SELECT dim, round(sum(x) / count(*), 6) AS mu FROM oe GROUP BY dim),
       |oc AS MATERIALIZED (SELECT e.vec_id, e.dim, e.x - mu.mu AS x FROM oe e JOIN omu mu USING (dim)),
       |ocnt AS MATERIALIZED (SELECT count(DISTINCT vec_id) AS n FROM oc),
       |ocov0 AS MATERIALIZED (
       |  SELECT a.dim AS i, b.dim AS j,
       |    CAST(round(sum(a.x * b.x) / (SELECT n FROM ocnt) * 1000000, 0) AS BIGINT) AS c
       |  FROM oc a JOIN oc b USING (vec_id) GROUP BY a.dim, b.dim),
       |obas0 AS MATERIALIZED (
       |  SELECT CAST(NULL AS BIGINT) AS bk, CAST(NULL AS BIGINT) AS dim,
       |    CAST(NULL AS BIGINT) AS v WHERE 1 = 0),
       |$rounds,
       |olams AS MATERIALIZED (
       |  $lamUnion),
       |odia AS MATERIALIZED (
       |  SELECT coalesce(sum(CASE WHEN i = j THEN c * c END), 0) AS dsq,
       |         coalesce(sum(CASE WHEN i <> j THEN c * c END), 0) AS osq
       |  FROM ocov0),
       |ochoose AS MATERIALIZED (SELECT (osq < dsq) AS diagdom FROM odia),
       |opdiag AS MATERIALIZED (SELECT i AS dim, c AS var FROM ocov0 WHERE i = j),
       |omat AS MATERIALIZED (
       |  SELECT coalesce(32 * (max(sv) - min(sv)) > sum(sv), FALSE) AS material
       |  FROM (SELECT sum(var) AS sv FROM (
       |          SELECT var, (row_number() OVER (ORDER BY dim) - 1) // $subDim AS m
       |          FROM opdiag) GROUP BY m)),
       |oprank AS MATERIALIZED (
       |  SELECT dim, var, row_number() OVER (ORDER BY var DESC, dim) - 1 AS bk
       |  FROM opdiag),
       |oidrank AS MATERIALIZED (
       |  SELECT dim, var, row_number() OVER (ORDER BY dim) - 1 AS bk
       |  FROM opdiag),
       |opbas AS MATERIALIZED (
       |  SELECT b.bk, d.dim,
       |    CASE WHEN r.dim = d.dim THEN CAST(1000000 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS v,
       |    coalesce(r.var, 0) AS lam
       |  FROM (SELECT unnest(range($dd)) AS bk) b
       |  CROSS JOIN opdiag d
       |  LEFT JOIN oprank r ON r.bk = b.bk),
       |oibas AS MATERIALIZED (
       |  SELECT b.bk, d.dim,
       |    CASE WHEN r.dim = d.dim THEN CAST(1000000 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS v,
       |    coalesce(r.var, 0) AS lam
       |  FROM (SELECT unnest(range($dd)) AS bk) b
       |  CROSS JOIN opdiag d
       |  LEFT JOIN oidrank r ON r.bk = b.bk),
       |obasf AS MATERIALIZED (
       |  SELECT bk, dim, v FROM opbas
       |  WHERE (SELECT diagdom FROM ochoose) AND (SELECT material FROM omat)
       |  UNION ALL
       |  SELECT bk, dim, v FROM obas$dd WHERE NOT (SELECT diagdom FROM ochoose)),
       |olamsf AS MATERIALIZED (
       |  SELECT DISTINCT bk AS k, lam FROM opbas
       |  WHERE (SELECT diagdom FROM ochoose) AND (SELECT material FROM omat)
       |  UNION ALL
       |  SELECT k, lam FROM olams WHERE NOT (SELECT diagdom FROM ochoose)),
       |orank AS MATERIALIZED (
       |  SELECT k, lam, row_number() OVER (ORDER BY lam DESC, k) - 1 AS r FROM olamsf),
       |oalloc AS MATERIALIZED (
       |  SELECT k, lam,
       |    CAST((CASE WHEN ((r // $m0) % 2) = 0 THEN r % $m0
       |               ELSE ${m0 - 1} - (r % $m0) END) * $subDim + (r // $m0)
       |      AS BIGINT) AS o
       |  FROM orank),
       |orot AS MATERIALIZED (
       |  SELECT al.o AS out_dim, b.dim AS in_dim,
       |    CAST(b.v AS DOUBLE) / 1000000 AS w,
       |    CAST(al.lam AS DOUBLE) / 1000000 AS lam
       |  FROM oalloc al JOIN obasf b ON b.bk = al.k
       |  UNION ALL
       |  SELECT CAST(bk AS BIGINT) AS out_dim, dim AS in_dim,
       |    CAST(v AS DOUBLE) / 1000000 AS w,
       |    CAST(lam AS DOUBLE) / 1000000 AS lam
       |  FROM oibas
       |  WHERE (SELECT diagdom FROM ochoose) AND NOT (SELECT material FROM omat)),
       |remb0 AS MATERIALIZED (
       |  SELECT c.vec_id, r.out_dim,
       |    CASE WHEN (SELECT diagdom FROM ochoose)
       |         THEN sum(r.w * c.x)
       |         ELSE round(sum(r.w * c.x), 6) END AS y
       |  FROM oe c JOIN orot r ON r.in_dim = c.dim
       |  GROUP BY c.vec_id, r.out_dim),
       |rembeddings AS MATERIALIZED (
       |  SELECT vec_id, list(y ORDER BY out_dim) AS embedding
       |  FROM remb0 GROUP BY vec_id)""".stripMargin
  }

  /** Wide (production-width) MinHash oracle chain ending in
    * `sigs(doc_id, h0..h63)`: one md5 per gram → 32-bit base hash hm
    * (first 8 hex chars, mod P=2³¹−1) → k=64 affine permutations
    * (aⱼ·hm + bⱼ) mod P with the exact constants of
    * [[graft.functions.MinHashUtil.affineA]]/[[graft.functions.MinHashUtil.affineB]],
    * minima per doc — mirrors `MinHashUtil.ngramMinHashAffine`.
    */
  private val wideP = graft.functions.MinHashUtil.AffineP
  private def affineSigsCte(k: Int): String = {
    val hex8 = (0 until 8).map(o =>
      s"(strpos('0123456789abcdef', substr(d, ${1 + o}, 1)) - 1) * " +
        s"CAST(${1L << (4 * (7 - o))} AS BIGINT)").mkString(" + ")
    val cols = (0 until k).map { j =>
      val a = graft.functions.MinHashUtil.affineA(j)
      val b = graft.functions.MinHashUtil.affineB(j)
      s"min(($a * hm + $b) % $wideP) AS h$j"
    }
    s"""WITH $gramsCte,
       |h AS (SELECT doc_id, ($hex8) % $wideP AS hm
       |      FROM (SELECT doc_id, md5(g) AS d FROM g)),
       |sigs AS (
       |  SELECT doc_id,
       |    ${cols.mkString(",\n    ")}
       |  FROM h GROUP BY doc_id)""".stripMargin
  }
  private val wideSigsCte = affineSigsCte(operators.Dedup.wideNumHashes)

  private val wideHashColList = (0 until operators.Dedup.wideNumHashes)
    .map(j => s"h$j").mkString(", ")

  /** 16 bands × 4 rows over the wide signature; band key = md5 of the
    * '_'-joined band values (mirrors `Dedup.lshWideCandidatePairs`).
    */
  private val wideBandsCte = (0 until operators.Dedup.wideNumBands).map { b =>
    val slices = (b * operators.Dedup.wideRowsPerBand until
      (b + 1) * operators.Dedup.wideRowsPerBand)
      .map(j => s"CAST(h$j AS VARCHAR)").mkString(" || '_' || ")
    s"SELECT doc_id, $b AS band, md5($slices) AS key FROM sigs"
  }.mkString("\n  UNION ALL\n  ")

  /** k=16 LSH candidate pairs as a reusable CTE chain ending in
    * `pairs(a_id, b_id)` — the input graph for the clusters/survivors
    * oracles (RECURSIVE because the downstream connected-components CTE
    * needs it; DuckDB allows non-recursive members in the list).
    */
  private val lshPairsCte =
    s"""WITH RECURSIVE ${sigsCte.stripPrefix("WITH ")},
       |bands AS (
       |  $lshBandsCte),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  /** Min-label connected components over `pairs` as a recursive
    * reachability CTE ending in `labels(id, cluster)` — the same
    * fixpoint `Dedup.clusters` converges to by label propagation.
    */
  private val clusterLabelsCte =
    s"""$lshPairsCte,
       |e AS (SELECT a_id AS u, b_id AS v FROM pairs
       |      UNION SELECT b_id, a_id FROM pairs),
       |r(id, m) AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.id, e.v FROM r JOIN e ON r.m = e.u),
       |labels AS (
       |  SELECT id, least(id, min(m)) AS cluster FROM r GROUP BY id)""".stripMargin

  /** First 7 hex chars of md5(`e`) → bigint (mirrors Sampling.pctBucket
    * / the 28-bit content-hash uniforms).
    */
  private def hex7Of(e: String): String = (1 to 7).map(p =>
    s"(strpos('0123456789abcdef', substr(md5($e), $p, 1)) - 1) * ${1L << (4 * (7 - p))}")
    .mkString(" + ")

  private val hex7 = hex7Of("text")

  /** HLL register table over orders.o_custkey as a CTE chain ending in
    * `regs(reg, max_rho)` — mirrors `Sketches.hllRegistersOf`: 32-bit
    * md5 slice, top 6 bits the register, ρ = generated trailing-zero
    * CASE chain, 64-row spine keeping empty registers.
    */
  private val hllRegsCte = {
    val hex8 = (0 until 8).map(o =>
      s"(strpos('0123456789abcdef', substr(d, ${1 + o}, 1)) - 1) * " +
        s"CAST(${1L << (4 * (7 - o))} AS BIGINT)").mkString(" + ")
    val wordMod = 1L << operators.Sketches.hllWordBits
    s"""WITH hh AS (
       |  SELECT ($hex8) AS h
       |  FROM (SELECT md5(CAST(o_custkey AS VARCHAR)) AS d FROM orders)),
       |rr AS (
       |  SELECT h // $wordMod AS reg,
       |    ${operators.Sketches.rhoSql(s"(h % $wordMod)")} AS rho
       |  FROM hh),
       |mx AS (SELECT reg, max(rho) AS max_rho FROM rr GROUP BY reg),
       |spine AS (
       |  SELECT CAST(i AS BIGINT) AS reg
       |  FROM generate_series(0, ${operators.Sketches.hllRegisters - 1}) t(i)),
       |regs AS (
       |  SELECT spine.reg, CAST(coalesce(mx.max_rho, 0) AS BIGINT) AS max_rho
       |  FROM spine LEFT JOIN mx ON mx.reg = spine.reg)""".stripMargin
  }

  /** Shared simhash CTE chain ending in `sh(doc_id, simhash)` — 64-bit
    * fingerprint from the two 32-bit halves of md5's first 16 hex chars
    * (mirrors `Dedup.simhashUnsorted`).
    */
  private val simhashCte = {
    def hex8(start: Int) = (0 until 8).map(o =>
      s"(strpos('0123456789abcdef', substr(d, ${start + o}, 1)) - 1) * " +
        s"CAST(${1L << (4 * (7 - o))} AS BIGINT)").mkString(" + ")
    val sBits = (0 until 64).map { j =>
      val h = if (j < 32) "hlo" else "hhi"
      s"CAST(sum(CASE WHEN ($h >> ${j % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$j"
    }.mkString(", ")
    val compose = (0 until 64).map(j =>
      s"(CASE WHEN s$j >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents),
       |h AS (SELECT doc_id, ${hex8(1)} AS hlo, ${hex8(9)} AS hhi
       |      FROM (SELECT doc_id, md5(w) AS d FROM tok)),
       |s AS (SELECT doc_id, $sBits FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, $compose AS simhash FROM s)""".stripMargin
  }

  /** CMS full-recompute replay — shared by the whole-corpus row and
    * the incremental (merged base+delta) row: cell linearity makes
    * the merged read-off bit-identical, so the SAME oracle certifies
    * merge == recompute (the hdrOracleSql discipline).
    */
  private lazy val cmsOracleSql: String = {
    // first 32 bits of the md5 hex via the shared strpos trick
    val hex8 = (0 until 8).map(o =>
      s"(strpos('0123456789abcdef', substr(d, ${1 + o}, 1)) - 1) * " +
        s"CAST(${1L << (4 * (7 - o))} AS BIGINT)").mkString(" + ")
    val js = (0 until operators.Sketches.cmsDepth).mkString(", ")
    s"""WITH tok AS (
       |  SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents),
       |v AS (SELECT token, count(*) AS exact_n FROM tok GROUP BY 1),
       |h AS (
       |  SELECT token, exact_n, j,
       |    ($hex8) % ${operators.Sketches.cmsWidth} AS bucket
       |  FROM (SELECT token, exact_n, j,
       |          md5(token || '#' || CAST(j AS VARCHAR)) AS d
       |        FROM v, unnest([$js]) t(j))),
       |cells AS (SELECT j, bucket, sum(exact_n) AS cnt FROM h GROUP BY 1, 2)
       |SELECT h.token, CAST(h.exact_n AS BIGINT) AS exact_n,
       |  CAST(min(cells.cnt) AS BIGINT) AS cms_est
       |FROM h JOIN cells ON h.j = cells.j AND h.bucket = cells.bucket
       |GROUP BY 1, 2 ORDER BY token""".stripMargin
  }

  /** HLL daily full-recompute replay — shared by the whole-corpus row
    * and the incremental (MAX-merged base+delta) row: register-wise
    * MAX is the HLL union, so the SAME oracle certifies
    * merge == recompute.
    */
  private lazy val hllDailyOracleSql: String = {
    val hex8 = (0 until 8).map(o =>
      s"(strpos('0123456789abcdef', substr(d, ${1 + o}, 1)) - 1) * " +
        s"CAST(${1L << (4 * (7 - o))} AS BIGINT)").mkString(" + ")
    val wordMod = 1L << operators.Sketches.hllWordBits
    val m = operators.Sketches.hllRegisters
    val a = operators.Sketches.hllAlpha
    val raw = s"$a * $m.0 * $m.0 / " +
      s"(harm_present + ($m.0 - CAST(n_present AS DOUBLE)))"
    s"""WITH hh AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day, ($hex8) AS h
       |  FROM (SELECT ts, md5(CAST(user_id AS VARCHAR)) AS d FROM events)),
       |rr AS (
       |  SELECT day, h // $wordMod AS reg,
       |    ${operators.Sketches.rhoSql(s"(h % $wordMod)")} AS rho
       |  FROM hh),
       |mx AS (SELECT day, reg, max(rho) AS max_rho FROM rr GROUP BY 1, 2),
       |sk AS (
       |  SELECT day, CAST(count(*) AS BIGINT) AS n_present,
       |    sum(power(2, -max_rho)) AS harm_present
       |  FROM mx GROUP BY 1),
       |ex AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
       |  FROM events GROUP BY 1),
       |es AS (
       |  SELECT sk.day, ex.n_exact,
       |    CAST($m - sk.n_present AS BIGINT) AS n_zero_regs,
       |    round(CASE WHEN $raw <= 2.5 * $m.0 AND $m - n_present > 0
       |      THEN $m.0 * ln($m.0 / CAST($m - n_present AS DOUBLE))
       |      ELSE $raw END, 4) AS est_distinct
       |  FROM sk JOIN ex ON ex.day = sk.day)
       |SELECT day, n_exact, n_zero_regs, est_distinct,
       |  CASE WHEN n_exact > 0 THEN
       |    round(abs(est_distinct - CAST(n_exact AS DOUBLE)) /
       |          CAST(n_exact AS DOUBLE), 4) END AS rel_err
       |FROM es ORDER BY day""".stripMargin
  }

  private lazy val hdrOracleSql: String = {
      val targets = operators.Sketches.hqTargets
        .map { case (n, d) => s"(CAST($n AS BIGINT), CAST($d AS BIGINT))" }
        .mkString(", ")
      val w = 1L << operators.Sketches.hdrSubBits
      val s = operators.Sketches.hdrSubBits
      s"""WITH vals AS (
         |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
         |  FROM orders
         |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= 1),
         |c0 AS (
         |  SELECT v, CAST(length(bin(v)) - 1 AS BIGINT) AS e FROM vals),
         |cells AS (
         |  SELECT e,
         |    (v // CAST(power(2, greatest(e - $s, 0)) AS BIGINT)) -
         |      CAST(power(2, e - greatest(e - $s, 0)) AS BIGINT) AS sub,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM c0 GROUP BY 1, 2),
         |k AS (SELECT e, sub, n, e * $w + sub AS key FROM cells),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM k),
         |cum AS (SELECT a.key, CAST(sum(b.n) AS BIGINT) AS cum_le
         |        FROM k a JOIN k b ON b.key <= a.key GROUP BY 1),
         |tg(q_num, q_den) AS (VALUES $targets),
         |sel AS (
         |  SELECT q_num, q_den, t_rank, n_total, min(key) AS key
         |  FROM (SELECT k.key, cum.cum_le, tg.q_num, tg.q_den,
         |          tot.n_total,
         |          (tg.q_num * tot.n_total + tg.q_den - 1) // tg.q_den
         |            AS t_rank
         |        FROM k JOIN cum USING (key)
         |             CROSS JOIN tot CROSS JOIN tg) x
         |  WHERE cum_le >= t_rank
         |  GROUP BY 1, 2, 3, 4)
         |SELECT sel.q_num, sel.q_den, sel.n_total, sel.t_rank,
         |  k.e AS bucket_e, k.sub AS bucket_sub,
         |  (CAST(power(2, k.e - greatest(k.e - $s, 0)) AS BIGINT) + k.sub) *
         |    CAST(power(2, greatest(k.e - $s, 0)) AS BIGINT) AS lo_cents,
         |  (CAST(power(2, k.e - greatest(k.e - $s, 0)) AS BIGINT) + k.sub
         |     + 1) *
         |    CAST(power(2, greatest(k.e - $s, 0)) AS BIGINT) - 1 AS hi_cents,
         |  k.n AS bucket_n, cum.cum_le
         |FROM sel JOIN k ON k.key = sel.key
         |         JOIN cum ON cum.key = sel.key
         |ORDER BY q_den, q_num""".stripMargin
    }

  /** The exact τ-Jaccard prefix-filter pipeline as a reusable CTE
    * chain (w → tok → sz → df → pf → cand → ver) — shared by the
    * dedup_prefix_join oracle and the blocking-quality eval, which
    * certifies the LSH blocker against this truth set.
    */
  private lazy val prefixJoinCtes: String = {
    val tn = operators.Dedup.prefixTauNum
    val td = operators.Dedup.prefixTauDen
    // 60-bit md5-slice shingle fingerprint (first 15 lowercase-hex
    // chars as a positive BIGINT), digit-for-digit the value
    // Dedup.trigramArrays computes — see its hashing rationale
    val hex15 = (1 to 15).map(pp =>
      s"(strpos('0123456789abcdef', substr(d, $pp, 1)) - 1) * " +
        s"CAST(${1L << (4 * (15 - pp))} AS BIGINT)").mkString(" + ")
    s"""w AS (
         |  SELECT doc_id, string_split(trim(text), ' ') AS ws
         |  FROM documents),
         |tok0 AS (
         |  SELECT DISTINCT doc_id,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tk
         |  FROM (SELECT doc_id, ws,
         |          unnest(generate_series(1, len(ws) - 2)) AS i FROM w)),
         |tok AS (
         |  SELECT DISTINCT doc_id, $hex15 AS tk
         |  FROM (SELECT doc_id, md5(tk) AS d FROM tok0)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS s
         |       FROM tok GROUP BY 1),
         |df AS (SELECT tk, count(*) AS df FROM tok GROUP BY 1),
         |pf AS (
         |  SELECT doc_id, tk, s, pos FROM (
         |    SELECT t.doc_id, t.tk, sz.s,
         |      row_number() OVER (PARTITION BY t.doc_id
         |                         ORDER BY df.df, t.tk) AS pos
         |    FROM tok t JOIN df USING (tk) JOIN sz USING (doc_id))
         |  WHERE pos <= s - ($tn * s + ${td - 1}) // $td + 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |    a.s AS sa, b.s AS sb
         |  FROM pf a JOIN pf b
         |    ON a.tk = b.tk AND a.doc_id < b.doc_id
         |  WHERE $td * b.s >= $tn * a.s AND $td * a.s >= $tn * b.s
         |    AND ${td + tn} * (1 + least(a.s - a.pos, b.s - b.pos))
         |          >= $tn * (a.s + b.s)),
         |ver AS (
         |  SELECT c.a_id, c.b_id, c.sa, c.sb,
         |    CAST(count(*) AS BIGINT) AS i
         |  FROM cand c
         |  JOIN tok ta ON ta.doc_id = c.a_id
         |  JOIN tok tb ON tb.doc_id = c.b_id AND tb.tk = ta.tk
         |  GROUP BY 1, 2, 3, 4)""".stripMargin
  }

  private lazy val prefixTauPred: String =
    s"${operators.Dedup.prefixTauDen} * i >= " +
      s"${operators.Dedup.prefixTauNum} * (sa + sb - i)"

  private val simhashOracle =
    s"$simhashCte\nSELECT doc_id, simhash FROM sh ORDER BY doc_id"

  /** cosine(a,b) fragment over DuckDB lists (exact float→double
    * products; rounded to 4 decimals before ranking, as in Spark).
    */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"""(SELECT sum(CAST($x[CAST(i AS INTEGER)] AS DOUBLE) *
         |            CAST($y[CAST(i AS INTEGER)] AS DOUBLE))
         | FROM unnest(generate_series(1, len($a))) t(i))""".stripMargin
    s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 4)"
  }

  /** cosine over only the first `dim` coordinates (the matryoshka
    * prefix cut) — [[cosSql]] with fixed bounds instead of `len`.
    */
  private def cosPrefixSql(a: String, b: String, dim: Int): String = {
    def dot(x: String, y: String) =
      s"""(SELECT sum(CAST($x[CAST(i AS INTEGER)] AS DOUBLE) *
         |            CAST($y[CAST(i AS INTEGER)] AS DOUBLE))
         | FROM unnest(generate_series(1, $dim)) t(i))""".stripMargin
    s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 4)"
  }

  /** SRP / JL projection matrices ([[operators.RandomProjection]]'s
    * LCG weights) inlined as integer list literals — exact in double
    * on both engines, so no cross-engine RNG exists to disagree.
    */
  private def planeRowsSql(n: Int, row: Int => Array[Double]): String =
    (0 until n).map { j =>
      s"($j, [${row(j).map(_.toLong).mkString(", ")}])"
    }.mkString(",\n  ")

  /** Ordered fold Σ w[d]·emb[d] in double — the dotFD kernel of
    * [[graft.functions.VectorKernel]] stated in SQL (acc starts at
    * 0.0, index ascending).
    */
  private def planeDotSql(wv: String, e: String, dim: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, $dim),
       |        d -> CAST($wv[CAST(d AS INTEGER)] AS DOUBLE)
       |             * CAST($e[CAST(d AS INTEGER)] AS DOUBLE))),
       |      (acc, x) -> acc + x)""".stripMargin

  /** Σ a[d]·b[d] over two DOUBLE lists (the dotDD kernel). */
  private def projDotSql(a: String, b: String, dim: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, $dim),
       |        d -> $a[CAST(d AS INTEGER)] * $b[CAST(d AS INTEGER)])),
       |      (acc, x) -> acc + x)""".stripMargin

  /** First 4 hex chars of an md5 digest (`dg`) as an integer — the
    * oracle side of [[operators.Dsir]]'s token bucket hash.
    */
  private val dsirHex4 = (0 until 4).map(o =>
    s"(strpos('0123456789abcdef', substr(dg, ${1 + o}, 1)) - 1) * " +
      s"${1L << (4 * (3 - o))}").mkString(" + ")

  private val dsirTargetIn = operators.Dsir.targetSources
    .map(x => s"'$x'").mkString("(", ", ", ")")

  private val srpBandMod = 1L << operators.RandomProjection.srpBandBits

  /** `srp_sigs(vec_id, sig)`: the 32-bit SRP signature — bit b = sign
    * of the plane-b fold, packed via BIGINT shifts (sum of the 32 bit
    * rows per vector; DuckDB's integer `sum` widens to HUGEINT, cast
    * back).
    */
  private val srpSigCtes =
    s"""srp_w(b, wv) AS (VALUES
       |  ${planeRowsSql(operators.RandomProjection.srpBits,
            operators.RandomProjection.srpPlane)}),
       |srp_sigs AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN ${planeDotSql("wv", "embedding",
              operators.RandomProjection.dim)} > 0
       |      THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END)
       |      AS BIGINT) AS sig
       |  FROM embeddings CROSS JOIN srp_w GROUP BY vec_id)""".stripMargin

  /** `jl_n(vec_id, proj, pnrm)`: the 16-wide JL projection (one fold
    * per output coordinate, assembled in j order) and its norm.
    */
  private val jlProjCtes =
    s"""jl_w(j, wv) AS (VALUES
       |  ${planeRowsSql(operators.RandomProjection.jlDim,
            operators.RandomProjection.jlRow)}),
       |jl_proj AS (
       |  SELECT vec_id,
       |    list(${planeDotSql("wv", "embedding",
              operators.RandomProjection.dim)} ORDER BY j) AS proj
       |  FROM embeddings CROSS JOIN jl_w GROUP BY vec_id),
       |jl_n AS (
       |  SELECT vec_id, proj,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(proj, x -> x * x)), (acc, x) -> acc + x)) AS pnrm
       |  FROM jl_proj)""".stripMargin

  private val bucketSql = (0 until 6).map(j =>
    s"(CASE WHEN embedding[${j + 1}] > 0 THEN ${1 << j} ELSE 0 END)")
    .mkString(" + ")

  /** cosine between a FLOAT[] (`e`, widened exactly per element) and a
    * DOUBLE[] (`c`, a trained centroid) — mirrors
    * [[graft.functions.VectorKernel.dotFD]] / dotFF / dotDD with the
    * same ascending fold order.
    */
  private def cosMixedSql(e: String, c: String): String = {
    val dotEC =
      s"""(SELECT sum(CAST($e[CAST(i AS INTEGER)] AS DOUBLE) * $c[CAST(i AS INTEGER)])
         | FROM unnest(generate_series(1, len($e))) t(i))""".stripMargin
    val dotEE =
      s"""(SELECT sum(CAST($e[CAST(i AS INTEGER)] AS DOUBLE) *
         |            CAST($e[CAST(i AS INTEGER)] AS DOUBLE))
         | FROM unnest(generate_series(1, len($e))) t(i))""".stripMargin
    val dotCC =
      s"""(SELECT sum($c[CAST(i AS INTEGER)] * $c[CAST(i AS INTEGER)])
         | FROM unnest(generate_series(1, len($c))) t(i))""".stripMargin
    s"round($dotEC / (sqrt($dotEE) * sqrt($dotCC)), 4)"
  }

  /** One Lloyd assignment: every vector to its nearest `cent$i` centroid
    * by rounded cosine, ties to the smallest c_id (mirrors
    * `Similarity.assignCells`).
    */
  private def ivfAssignCte(i: Int): String =
    s"""sc$i AS (
       |  SELECT e.vec_id, e.embedding, c.c_id,
       |    ${cosMixedSql("e.embedding", "c.c_emb")} AS c_cos
       |  FROM embeddings e, cent$i c),
       |asg$i AS (
       |  SELECT vec_id, embedding, c_id AS cell FROM (
       |    SELECT vec_id, embedding, c_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS rn
       |    FROM sc$i) t
       |  WHERE rn = 1)""".stripMargin

  /** One Lloyd update: element-wise mean per cell via an ordered fold
    * over (vec_id, value) — deterministic double arithmetic, mirrors
    * `Similarity.cellMeans`.
    */
  private def ivfMeansCte(i: Int): String =
    s"""comp$i AS (
       |  SELECT cell, pos,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(v ORDER BY vec_id)),
       |                (acc, x) -> acc + x) / count(*) AS m
       |  FROM (SELECT cell, vec_id, i AS pos,
       |          CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS v
       |        FROM asg$i, unnest(generate_series(1, len(embedding))) t(i))
       |  GROUP BY cell, pos),
       |cent${i + 1} AS (
       |  SELECT cell AS c_id, list(m ORDER BY pos) AS c_emb FROM comp$i GROUP BY cell)""".stripMargin

  /** Shared IVF training prefix: k = min(⌈√N⌉, 65536) seed centroids
    * (first k vectors), two Lloyd iterations, final assignment —
    * mirrors `Similarity.trainedCentroids` + `assignCells`.
    */
  private def ivfTrainCtes: String =
    s"""cent0 AS (
       |  SELECT vec_id AS c_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb
       |  FROM (SELECT vec_id, embedding,
       |          row_number() OVER (ORDER BY vec_id) AS seed_rn
       |        FROM embeddings)
       |  WHERE seed_rn <= (SELECT least(CAST(ceil(sqrt(count(*))) AS BIGINT), 65536)
       |                    FROM embeddings)),
       |${ivfAssignCte(0)},
       |${ivfMeansCte(0)},
       |${ivfAssignCte(1)},
       |${ivfMeansCte(1)},
       |${ivfAssignCte(2)}""".stripMargin

  /** The fixed-size ANN audit query sample as an IN-subquery: the
    * `Similarity.annQuerySampleSize` smallest vec_ids satisfying the
    * modulo predicate — mirrors `Similarity.sampleQueries` /
    * `Pq.pqSampleQueries` (TakeOrdered on the Spark side).
    */
  private def annSampleIds(modulo: Int): String =
    s"(SELECT vec_id FROM embeddings WHERE vec_id % $modulo = 3" +
      s" ORDER BY vec_id LIMIT ${operators.Similarity.annQuerySampleSize})"

  /** Top-nprobe probe cells per sampled query (the fixed-size 1-in-5
    * sample, ties to the smallest c_id) + cell-restricted candidate
    * pairs — mirrors `Similarity.queryProbes` + `ivfSearch`.
    */
  private def ivfProbeCtes(nprobe: Int): String =
    s"""probes AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, c_id AS q_cell FROM (
       |    SELECT vec_id, embedding, c_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS rn
       |    FROM sc2 WHERE vec_id IN ${annSampleIds(5)}) t
       |  WHERE rn <= $nprobe),
       |iv_pairs AS (
       |  SELECT q_id, a.vec_id, ${cosSql("q_emb", "a.embedding")} AS cos
       |  FROM probes p JOIN asg2 a ON a.cell = p.q_cell AND a.vec_id <> p.q_id)""".stripMargin

  /** Rank-1 recall of the trained-IVF search vs exact brute force over
    * the same query sample, at a given nprobe (mirrors
    * `Similarity.ivfRecall`).
    */
  private def ivfRecallSql(nprobe: Int, label: String): String =
    s"""WITH $ivfTrainCtes,
       |${ivfProbeCtes(nprobe)},
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb
       |  FROM embeddings WHERE vec_id IN ${annSampleIds(5)}),
       |bf AS (
       |  SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos
       |  FROM q, embeddings e WHERE e.vec_id <> q.q_id),
       |truth AS (
       |  SELECT q_id, vec_id AS true_nn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
       |    FROM bf) t WHERE rn = 1),
       |iv AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
       |    FROM iv_pairs) t WHERE rn <= 3),
       |hits AS (
       |  SELECT truth.q_id,
       |    max(CASE WHEN iv.vec_id = truth.true_nn THEN 1 ELSE 0 END) AS hit
       |  FROM truth LEFT JOIN iv ON iv.q_id = truth.q_id
       |  GROUP BY truth.q_id)
       |SELECT '$label' AS method, count(*) AS n_queries,
       |  CAST(sum(hit) AS DOUBLE) / count(*) AS recall
       |FROM hits""".stripMargin

  /** Rounded squared-L2 between two DOUBLE[] lists from three ordered
    * ascending-index sums — mirrors `Pq.dist2` (‖a‖² − 2a·b + ‖b‖²,
    * each term an ordered fold, rounded to 4 decimals).
    */
  private def pqD2Sql(a: String, b: String): String = {
    def s(x: String, y: String) =
      s"""(SELECT sum($x[CAST(i AS INTEGER)] * $y[CAST(i AS INTEGER)])
         | FROM unnest(generate_series(1, len($a))) t(i))""".stripMargin
    s"round(${s(a, a)} - 2 * ${s(a, b)} + ${s(b, b)}, 4)"
  }

  /** PQ subspace rows + seed codebook: each embedding split into
    * [[operators.Pq.numSubspaces]] contiguous DOUBLE[] subvectors;
    * seeds = the subvectors of the K smallest vec_ids (c_id = vec_id) —
    * mirrors `Pq.subspaceRows` / `Pq.trainCodebook`.
    */
  private def pqPrefixCtes(k: Int, src: String = "embeddings"): String = {
    val m = operators.Pq.numSubspaces
    // `ss` = each subvector's self-dot, computed ONCE here instead of
    // once per (subvector, codebook entry) pair in the assignment CTEs
    // — same ascending sum, ~3× less replay work at K=256 (the cross
    // term is the only per-pair subquery left). Seeds reuse ss as cc.
    s"""psub AS (
       |  SELECT vec_id, m, sub,
       |    (SELECT sum(sub[CAST(i AS INTEGER)] * sub[CAST(i AS INTEGER)])
       |     FROM unnest(generate_series(1, len(sub))) t(i)) AS ss
       |  FROM (
       |    SELECT vec_id, CAST(ms.m AS INTEGER) AS m,
       |      list_transform(
       |        list_slice(embedding, ms.m * (len(embedding) // $m) + 1,
       |                   (ms.m + 1) * (len(embedding) // $m)),
       |        x -> CAST(x AS DOUBLE)) AS sub
       |    FROM $src, (SELECT unnest(range($m)) AS m) ms)),
       |pcb0 AS (
       |  SELECT m, vec_id AS c_id, sub AS c_emb, ss AS cc FROM psub
       |  WHERE vec_id IN (SELECT vec_id FROM $src ORDER BY vec_id LIMIT $k))""".stripMargin
  }

  /** One PQ Lloyd assignment against codebook `pcb$i`: nearest entry by
    * rounded squared-L2, ties to the smallest c_id (mirrors
    * `Pq.assign`). d2 = ss − 2·(a·b) + cc with the self-dots
    * precomputed — term-for-term the same doubles as `Pq.dist2`.
    */
  private def pqAssignCte(i: Int): String =
    s"""pd$i AS (
       |  SELECT s.vec_id, s.m, c.c_id,
       |    round(s.ss - 2 * (
       |      SELECT sum(s.sub[CAST(i AS INTEGER)] * c.c_emb[CAST(i AS INTEGER)])
       |      FROM unnest(generate_series(1, len(s.sub))) t(i)) + c.cc, 4) AS d2
       |  FROM psub s JOIN pcb$i c ON c.m = s.m),
       |pasg$i AS (
       |  SELECT vec_id, m, c_id AS code, d2 AS qerr FROM (
       |    SELECT vec_id, m, c_id, d2,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c_id) AS rn
       |    FROM pd$i) t WHERE rn = 1)""".stripMargin

  /** One PQ Lloyd update: per-(subspace, cell, dim) mean via the
    * ordered (vec_id, value) fold — mirrors `Pq.means`.
    */
  private def pqMeansCte(i: Int): String =
    s"""pmean$i AS (
       |  SELECT m, code AS c_id, pos,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(v ORDER BY vec_id)),
       |                (acc, x) -> acc + x) / count(*) AS mean
       |  FROM (SELECT a.m, a.code, a.vec_id, i AS pos,
       |          s.sub[CAST(i AS INTEGER)] AS v
       |        FROM pasg$i a
       |        JOIN psub s ON s.vec_id = a.vec_id AND s.m = a.m,
       |             unnest(generate_series(1, len(s.sub))) t(i))
       |  GROUP BY m, code, pos),
       |pcb${i + 1} AS (
       |  SELECT m, c_id, c_emb,
       |    (SELECT sum(c_emb[CAST(i AS INTEGER)] * c_emb[CAST(i AS INTEGER)])
       |     FROM unnest(generate_series(1, len(c_emb))) t(i)) AS cc
       |  FROM (SELECT m, c_id, list(mean ORDER BY pos) AS c_emb
       |        FROM pmean$i GROUP BY m, c_id))""".stripMargin

  /** Full PQ training replay: seeds, two Lloyd rounds, final encode.
    * `src` points the chain at any (vec_id, embedding) relation — the
    * OPQ oracle aims it at the rotated corpus CTE.
    */
  private def pqTrainCtes(k: Int = operators.Pq.codebookSize,
      src: String = "embeddings"): String =
    s"""${pqPrefixCtes(k, src)},
       |${pqAssignCte(0)},
       |${pqMeansCte(0)},
       |${pqAssignCte(1)},
       |${pqMeansCte(1)},
       |${pqAssignCte(2)}""".stripMargin

  private def pqCodesSql: String =
    s"""WITH ${pqTrainCtes()}
       |SELECT vec_id, m, code, qerr FROM pasg2 ORDER BY vec_id, m""".stripMargin

  /** Byte-packed production-width encode (mirrors `Pq.pqCodesPacked`):
    * K=256 training replayed, surviving codebook entries dense-ranked
    * to [0, K) per subspace, each vector's M codes packed into an
    * M-byte lowercase hex word in subspace order.
    */
  private def pqCodesPackedSql(k: Int): String =
    s"""WITH ${pqTrainCtes(k)},
       |pdense AS (
       |  SELECT m, c_id,
       |    CAST(row_number() OVER (PARTITION BY m ORDER BY c_id) - 1 AS INTEGER)
       |      AS dense
       |  FROM pcb2)
       |SELECT a.vec_id,
       |  string_agg(printf('%02x', d.dense), '' ORDER BY a.m) AS code_packed
       |FROM pasg2 a JOIN pdense d ON d.m = a.m AND d.c_id = a.code
       |GROUP BY a.vec_id ORDER BY a.vec_id""".stripMargin

  /** Two-stage PQ recall replay. `src` aims the TRAINED/ADC side at
    * any (vec_id, embedding) relation (the OPQ oracle: the rotated
    * corpus, prepended via `preCtes`); the query/truth/re-rank sides
    * always read the ORIGINAL embeddings — recall is judged in the
    * original space whatever space the index quantizes.
    */
  private def pqRecallSql(k: Int = operators.Pq.codebookSize,
      label: String = "pq", src: String = "embeddings",
      preCtes: String = ""): String =
    s"""WITH $preCtes${pqTrainCtes(k, src)},
       |plut AS (
       |  SELECT s.vec_id AS q_id, s.m, c.c_id,
       |    ${pqD2Sql("s.sub", "c.c_emb")} AS term
       |  FROM psub s JOIN pcb2 c ON c.m = s.m
       |  WHERE s.vec_id IN ${annSampleIds(25)}),
       |padc AS (
       |  SELECT l.q_id, a.vec_id,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |                                   list(l.term ORDER BY a.m)),
       |                      (acc, x) -> acc + x), 4) AS adc
       |  FROM pasg2 a JOIN plut l ON l.m = a.m AND l.c_id = a.code
       |  WHERE a.vec_id <> l.q_id
       |  GROUP BY l.q_id, a.vec_id),
       |pshort AS (
       |  SELECT q_id, vec_id, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rn
       |    FROM padc) t WHERE rn <= ${operators.Pq.pqShortlist}),
       |pquery AS (
       |  SELECT vec_id AS q_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
       |  FROM embeddings WHERE vec_id IN ${annSampleIds(25)}),
       |prerank AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT s.q_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.q_id
       |                         ORDER BY ${pqD2Sql("e.ee", "q.q_emb")}, s.vec_id) AS rrn
       |    FROM pshort s
       |    JOIN (SELECT vec_id,
       |            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
       |          FROM embeddings) e ON e.vec_id = s.vec_id
       |    JOIN pquery q ON q.q_id = s.q_id) t WHERE rrn <= 3),
       |pbf AS (
       |  SELECT q.q_id, e.vec_id,
       |    ${pqD2Sql("e.ee", "q.q_emb")} AS d2
       |  FROM pquery q, (SELECT vec_id,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
       |      FROM embeddings) e
       |  WHERE e.vec_id <> q.q_id),
       |ptruth AS (
       |  SELECT q_id, vec_id AS true_nn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rn
       |    FROM pbf) t WHERE rn = 1),
       |phits AS (
       |  SELECT ptruth.q_id,
       |    max(CASE WHEN ps.vec_id = ptruth.true_nn AND ps.rn <= 3
       |             THEN 1 ELSE 0 END) AS hit_adc,
       |    max(CASE WHEN pr.vec_id = ptruth.true_nn THEN 1 ELSE 0 END) AS hit_rr
       |  FROM ptruth
       |  LEFT JOIN pshort ps ON ps.q_id = ptruth.q_id
       |  LEFT JOIN prerank pr ON pr.q_id = ptruth.q_id
       |  GROUP BY ptruth.q_id)
       |SELECT '$label' AS method, count(*) AS n_queries,
       |  CAST(sum(hit_adc) AS DOUBLE) / count(*) AS recall_adc,
       |  CAST(sum(hit_rr) AS DOUBLE) / count(*) AS recall
       |FROM phits""".stripMargin

  /** IVF-PQ composition oracle: IVF cell training + PQ codebook
    * training (both CTE chains above, disjoint names), top-2-cell
    * probing over the 1-in-5 query sample, ADC scoring of the
    * cell-restricted candidates, exact re-rank of the top-10
    * shortlist, truth = exact squared-L2 argmin — mirrors
    * `operators.IvfPq.ivfPqRecall` stage for stage.
    */
  private def ivfPqRecallSql: String =
    s"""WITH $ivfTrainCtes,
       |${pqTrainCtes()},
       |cprobes AS (
       |  SELECT vec_id AS q_id, c_id AS q_cell FROM (
       |    SELECT vec_id, c_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS rn
       |    FROM sc2 WHERE vec_id IN ${annSampleIds(5)}) t
       |  WHERE rn <= 2),
       |ccand AS (
       |  SELECT p.q_id, a.vec_id FROM cprobes p
       |  JOIN asg2 a ON a.cell = p.q_cell AND a.vec_id <> p.q_id),
       |cqlut AS (
       |  SELECT s.vec_id AS q_id, s.m, c.c_id,
       |    ${pqD2Sql("s.sub", "c.c_emb")} AS term
       |  FROM psub s JOIN pcb2 c ON c.m = s.m
       |  WHERE s.vec_id IN ${annSampleIds(5)}),
       |cadc AS (
       |  SELECT cd.q_id, cd.vec_id,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |                                   list(l.term ORDER BY a.m)),
       |                      (acc, x) -> acc + x), 4) AS adc
       |  FROM ccand cd
       |  JOIN pasg2 a ON a.vec_id = cd.vec_id
       |  JOIN cqlut l ON l.q_id = cd.q_id AND l.m = a.m AND l.c_id = a.code
       |  GROUP BY cd.q_id, cd.vec_id),
       |cshort AS (
       |  SELECT q_id, vec_id, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rn
       |    FROM cadc) t WHERE rn <= ${operators.Pq.pqShortlist}),
       |cemb AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
       |  FROM embeddings),
       |cquery AS (
       |  SELECT vec_id AS q_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
       |  FROM embeddings WHERE vec_id IN ${annSampleIds(5)}),
       |crerank AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT s.q_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.q_id
       |                         ORDER BY ${pqD2Sql("e.ee", "q.q_emb")}, s.vec_id) AS rrn
       |    FROM cshort s
       |    JOIN cemb e ON e.vec_id = s.vec_id
       |    JOIN cquery q ON q.q_id = s.q_id) t WHERE rrn <= 3),
       |cbf AS (
       |  SELECT q.q_id, e.vec_id, ${pqD2Sql("e.ee", "q.q_emb")} AS d2
       |  FROM cquery q, cemb e WHERE e.vec_id <> q.q_id),
       |ctruth AS (
       |  SELECT q_id, vec_id AS true_nn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rn
       |    FROM cbf) t WHERE rn = 1),
       |chits AS (
       |  SELECT ctruth.q_id,
       |    max(CASE WHEN cs.vec_id = ctruth.true_nn AND cs.rn <= 3
       |             THEN 1 ELSE 0 END) AS hit_adc,
       |    max(CASE WHEN cr.vec_id = ctruth.true_nn THEN 1 ELSE 0 END) AS hit_rr
       |  FROM ctruth
       |  LEFT JOIN cshort cs ON cs.q_id = ctruth.q_id
       |  LEFT JOIN crerank cr ON cr.q_id = ctruth.q_id
       |  GROUP BY ctruth.q_id)
       |SELECT 'ivfpq' AS method, count(*) AS n_queries,
       |  CAST(sum(hit_adc) AS DOUBLE) / count(*) AS recall_adc,
       |  CAST(sum(hit_rr) AS DOUBLE) / count(*) AS recall
       |FROM chits""".stripMargin

  /** Serial BPE training as a DuckDB recursive CTE — the oracle for the
    * last two formerly rows-only queries. The working table carries one
    * row per word type (original word, current tokenization as a
    * space-joined string, corpus count); each recursion step computes
    * the global argmax pair (max count, ties to the lexicographically
    * smallest (left, right) — the trainer's determinism contract) via a
    * derived table over the working rows, and applies it with a greedy
    * left-to-right non-overlapping fold (`list_reduce` with the
    * accumulator string-encoded as `done ␁ pending` — the same scan
    * `BpeTrainer.applyMergeBatch` runs). Recursion stops when no pair
    * repeats or the merge budget is hit. Mirrors
    * `BpeTrainer.train`/`trainDriver` exactly — verified merge-for-merge
    * and bit-for-bit on fertility doubles at sf0.001/0.01/0.1.
    */
  private def bpeApplyFold: String =
    """list_reduce(list_prepend(chr(1), string_split(word, ' ')),
      |      (acc, x) -> CASE
      |        WHEN split_part(acc, chr(1), 2) = ''
      |          THEN split_part(acc, chr(1), 1) || chr(1) || x
      |        WHEN split_part(acc, chr(1), 2) = best.l AND x = best.r
      |          THEN (split_part(acc, chr(1), 1) || ' ' || best.l || best.r) || chr(1)
      |        ELSE (split_part(acc, chr(1), 1) || ' ' ||
      |              split_part(acc, chr(1), 2)) || chr(1) || x
      |      END)""".stripMargin

  private def bpeRecursionCte: String =
    s"""WITH RECURSIVE it(iter, w0, word, n) AS (
       |  SELECT 0, w,
       |    array_to_string(list_append(string_split(w, ''), '</w>'), ' '),
       |    CAST(n AS BIGINT)
       |  FROM (SELECT w, count(*) n FROM (
       |          SELECT unnest(string_split(trim(text), ' ')) w FROM documents)
       |        GROUP BY w)
       |  UNION ALL
       |  SELECT iter + 1, w0,
       |    (SELECT ltrim(CASE WHEN split_part(s, chr(1), 2) = ''
       |                       THEN split_part(s, chr(1), 1)
       |                       ELSE replace(s, chr(1), ' ') END)
       |     FROM (SELECT $bpeApplyFold AS s)),
       |    n
       |  FROM it, (
       |    SELECT lst[i] AS l, lst[i+1] AS r, sum(n) AS c
       |    FROM (SELECT n, string_split(word, ' ') AS lst FROM it) t,
       |         unnest(generate_series(1, len(lst) - 1)) s(i)
       |    GROUP BY 1, 2 ORDER BY c DESC, l, r LIMIT 1
       |  ) best
       |  WHERE best.c >= 2 AND iter < ${operators.BpeTrainer.defaultMerges}
       |)""".stripMargin

  private def bpeMergesOracle: String =
    s"""$bpeRecursionCte,
       |pairs AS (
       |  SELECT iter, lst[i] AS l, lst[i+1] AS r, sum(n) AS c
       |  FROM (SELECT iter, n, string_split(word, ' ') AS lst FROM it) t,
       |       unnest(generate_series(1, len(lst) - 1)) s(i)
       |  GROUP BY 1, 2, 3
       |),
       |ranked AS (
       |  SELECT iter, l, r, c,
       |    row_number() OVER (PARTITION BY iter ORDER BY c DESC, l, r) AS rn
       |  FROM pairs
       |)
       |SELECT CAST(iter + 1 AS BIGINT) AS rank, l AS "left", r AS "right",
       |       l || r AS merged, CAST(c AS BIGINT) AS n
       |FROM ranked
       |WHERE rn = 1 AND c >= 2 AND iter < (SELECT max(iter) FROM it)
       |ORDER BY rank""".stripMargin

  private def bpeFertilityOracle: String =
    s"""$bpeRecursionCte,
       |final AS (
       |  SELECT w0 AS w,
       |    CAST(len(string_split(word, ' ')) AS BIGINT) AS n_subwords
       |  FROM it WHERE iter = (SELECT max(iter) FROM it)
       |),
       |corpus AS (
       |  SELECT lang, unnest(string_split(trim(text), ' ')) AS w FROM documents
       |)
       |SELECT lang, count(*) AS n_words,
       |  CAST(sum(n_subwords) AS DOUBLE) / count(*) AS bpe_fertility,
       |  CAST(sum(len(w) + 1) AS DOUBLE) / count(*) AS char_fertility
       |FROM corpus JOIN final USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Corpus-encoding oracle: the recursion's final iteration already
    * carries each word type's segmentation (`word` = space-joined
    * subwords), so encoding is a positional word join + an ordered
    * string_agg — mirroring `BpeTrainer.encode`'s posexplode +
    * broadcast-join + array_sort reassembly.
    */
  private def bpeEncodeOracle: String =
    s"""$bpeRecursionCte,
       |final AS (
       |  SELECT w0 AS w, word AS seg,
       |    CAST(len(string_split(word, ' ')) AS BIGINT) AS ns
       |  FROM it WHERE iter = (SELECT max(iter) FROM it)
       |),
       |corpus AS (
       |  SELECT doc_id, lst[i] AS w, i
       |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS lst
       |        FROM documents) t,
       |       unnest(generate_series(1, len(lst))) s(i)
       |)
       |SELECT doc_id, CAST(sum(ns) AS BIGINT) AS n_tokens,
       |       string_agg(seg, ' ' ORDER BY i) AS tokens
       |FROM corpus JOIN final USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Shared CTE chain for the duplicate-span rows: per-window
    * Rabin-Karp hashes by direct fold (the rolled Spark kernel is
    * arithmetic-identical — the roll commutes with the modulus), one
    * count-over-hash duplication mark, and gaps-and-islands span
    * assembly per document. Ends with a `spans(doc_id, span_start,
    * span_end, span_len, n_windows)` CTE.
    */
  private def dupSpansCtes: String = {
    val k = operators.Dedup.dupSpanK
    s"""WITH hs AS (
       |  SELECT doc_id, CAST(s AS BIGINT) AS pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(s, s + $k - 1),
       |        i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 2147483647) AS h
       |  FROM documents,
       |       unnest(generate_series(1, len(text) - $k + 1)) t(s)
       |),
       |flagged AS (
       |  SELECT doc_id, pos
       |  FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c FROM hs)
       |  WHERE c >= 2
       |),
       |lagged AS (
       |  SELECT doc_id, pos,
       |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |  FROM flagged
       |),
       |grp AS (
       |  SELECT doc_id, pos,
       |    sum(CASE WHEN prev IS NULL OR pos - prev <= $k
       |             THEN 0 ELSE 1 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS g
       |  FROM lagged
       |),
       |spans AS (
       |  SELECT doc_id, min(pos) AS span_start,
       |    max(pos) + $k - 1 AS span_end,
       |    max(pos) + $k - min(pos) AS span_len,
       |    CAST(count(*) AS BIGINT) AS n_windows
       |  FROM grp GROUP BY doc_id, g
       |)""".stripMargin
  }

  /** Vocabulary-export oracle: base alphabet (distinct characters of
    * distinct words + the end-of-word marker, lexicographic ids from 1)
    * followed by the recursion's merges at offset |alphabet|.
    */
  private def bpeVocabOracle: String =
    s"""$bpeRecursionCte,
       |pairs AS (
       |  SELECT iter, lst[i] AS l, lst[i+1] AS r, sum(n) AS c
       |  FROM (SELECT iter, n, string_split(word, ' ') AS lst FROM it) t,
       |       unnest(generate_series(1, len(lst) - 1)) s(i)
       |  GROUP BY 1, 2, 3
       |),
       |ranked AS (
       |  SELECT iter, l, r, c,
       |    row_number() OVER (PARTITION BY iter ORDER BY c DESC, l, r) AS rn
       |  FROM pairs
       |),
       |alpha AS (
       |  SELECT DISTINCT token FROM (
       |    SELECT unnest(list_append(string_split(w, ''), '</w>')) AS token
       |    FROM (SELECT DISTINCT unnest(string_split(trim(text), ' ')) AS w
       |          FROM documents))
       |),
       |base AS (
       |  SELECT CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS token_id,
       |         token, 'base' AS kind
       |  FROM alpha
       |)
       |SELECT token_id, token, kind FROM base
       |UNION ALL
       |SELECT (SELECT count(*) FROM alpha) + CAST(iter + 1 AS BIGINT) AS token_id,
       |       l || r AS token, 'merged' AS kind
       |FROM ranked
       |WHERE rn = 1 AND c >= 2 AND iter < (SELECT max(iter) FROM it)
       |ORDER BY token_id""".stripMargin

  /** DuckDB-runnable oracle per query (driver compares hashes at sf0.01). */
  /** Batch-perceptron oracle, generated for [[operators.Perceptron.epochs]]
    * epochs: e1 = full-set sums (w=0 margins are all 0 ≤ 0), then per
    * epoch a misclassified-set delta (u_e) and the weight update (e_e).
    * Pure integer arithmetic start to finish.
    */
  private def perceptronOracle: String =
    s"""WITH $perceptronScoredCtes
       |SELECT doc_id, score, pred_en, is_en
       |FROM scored ORDER BY doc_id""".stripMargin

  /** The training-replay CTE chain ending in
    * `scored(doc_id, score, pred_en, is_en)` — shared by the
    * classifier row and the evaluation rows ([[operators.Evaluation]]),
    * so all three certify the SAME unrolled training.
    */
  private def perceptronScoredCtes: String = {
    val dims = 0 until 6
    def sums(f: Int => String) = dims.map(f).mkString(", ")
    def marginOf(e: String) = dims.map(i => s"$e.w$i*x$i").mkString(" + ")
    val featCte =
      """f AS (
        |  SELECT doc_id, (lang = 'en') AS is_en,
        |    CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
        |         ELSE CAST(-1 AS BIGINT) END AS y,
        |    CAST(1 AS BIGINT) AS x0,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS x1,
        |    CAST(len(text) AS BIGINT) AS x2,
        |    CAST(len(list_filter(string_split(trim(text), ' '),
        |      t -> list_contains(['the','a','of','and','in','to','is'], t)))
        |      AS BIGINT) AS x3,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS x4,
        |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS x5
        |  FROM documents)""".stripMargin
    val epochCtes = (2 to operators.Perceptron.epochs).map { e =>
      val p = s"e${e - 1}"
      s"""u$e AS (
         |  SELECT ${sums(i => s"coalesce(sum(y*x$i), 0) AS d$i")}
         |  FROM f, $p
         |  WHERE y*(${marginOf(p)}) <= 0),
         |e$e AS (
         |  SELECT ${sums(i => s"$p.w$i+u$e.d$i AS w$i")}
         |  FROM $p, u$e)""".stripMargin
    }.mkString(",\n")
    val last = s"e${operators.Perceptron.epochs}"
    s"""$featCte,
       |e1 AS (
       |  SELECT ${sums(i => s"sum(y*x$i) AS w$i")}
       |  FROM f),
       |$epochCtes,
       |scored AS (
       |  SELECT f.doc_id,
       |    CAST(${marginOf(last)} AS BIGINT) AS score,
       |    (${marginOf(last)}) > 0 AS pred_en,
       |    f.is_en
       |  FROM f, $last)""".stripMargin
  }

  /** DSIR oracle CTE chain ending in `s(doc_id, n_tokens, sc)` —
    * shared by the weights row and the resampling row.
    */
  private val dsirCtes =
    s"""tok AS (
         |  SELECT doc_id, source,
         |    unnest(string_split(trim(text), ' ')) AS token
         |  FROM documents),
         |tb AS (
         |  SELECT doc_id, source, ($dsirHex4) % ${operators.Dsir.numBuckets}
         |    AS bucket
         |  FROM (SELECT doc_id, source, substr(md5(token), 1, 4) AS dg
         |        FROM tok)),
         |cnt AS (
         |  SELECT doc_id, source, bucket, count(*) AS c
         |  FROM tb GROUP BY 1, 2, 3),
         |r AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS r_cnt
         |      FROM cnt GROUP BY 1),
         |t AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS t_cnt
         |      FROM cnt WHERE source IN $dsirTargetIn GROUP BY 1),
         |g AS (SELECT CAST(sum(c) AS BIGINT) AS n_r,
         |        CAST(sum(CASE WHEN source IN $dsirTargetIn THEN c ELSE 0 END)
         |          AS BIGINT) AS n_t
         |      FROM cnt),
         |lw AS (
         |  SELECT r.bucket,
         |    CAST(round(round(
         |      ln((coalesce(t.t_cnt, 0) + 1.0)
         |         / (g.n_t + ${operators.Dsir.numBuckets}.0)) -
         |      ln((r.r_cnt + 1.0)
         |         / (g.n_r + ${operators.Dsir.numBuckets}.0)), 4) * 10000)
         |      AS BIGINT) AS lwi
         |  FROM r LEFT JOIN t USING (bucket) CROSS JOIN g),
         |s AS (
         |  SELECT c.doc_id, CAST(sum(c.c) AS BIGINT) AS n_tokens,
         |         CAST(sum(c.c * lw.lwi) AS BIGINT) AS sc
         |  FROM cnt c JOIN lw USING (bucket) GROUP BY 1)""".stripMargin

  /** Winnowed passage-overlap oracle CTE chain ending in
    * `wp(a_id, b_id, n_shared)` — shared by the pairs row and the
    * duplication-graph PageRank.
    */
  private val winnowPairsCtes = {
    import operators.TextAnalysis.{winnowK, winnowMaxDf, winnowMinShared, winnowW}
    s"""d AS (SELECT doc_id, text FROM documents WHERE len(text) >= $winnowK),
         |hs AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, len(text) - ${winnowK - 1}),
         |      s -> list_reduce(
         |             list_prepend(CAST(0 AS BIGINT),
         |               list_transform(generate_series(s, s + ${winnowK - 1}),
         |                 i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
         |             (acc, x) -> (acc * 31 + x) % 2147483647)) AS h
         |  FROM d),
         |sel AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |           range(0, greatest(len(h) - $winnowW, 0) + 1),
         |           i -> list_min(h[CAST(i + 1 AS INTEGER):CAST(i + $winnowW AS INTEGER)]))))
         |    AS fp
         |  FROM hs),
         |keepfp AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= $winnowMaxDf),
         |kept AS (SELECT sel.doc_id, sel.fp FROM sel JOIN keepfp USING (fp)),
       |wp AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
       |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $winnowMinShared)""".stripMargin
  }

  /** BM25 oracle CTE chain ending in `p(doc_id, c0, c1, c2)` — shared
    * by the `text_bm25` row and the RRF fusion's sparse side.
    */
  private val bm25Ctes =
    s"""dl AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS dl
         |  FROM documents),
         |g AS (
         |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         |    count(*) AS n_docs FROM dl),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
         |    FROM documents) x
         |  WHERE token IN ('dup', 'customer', 'vector')
         |  GROUP BY 1, 2),
         |d AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |c AS (
         |  SELECT tf.doc_id, tf.token,
         |    ln(1.0 + (g.n_docs - d.df + 0.5) / (d.df + 0.5)) *
         |      (tf.tf * (${operators.Retrieval.bm25K1} + 1.0)) /
         |      (tf.tf + ${operators.Retrieval.bm25K1} *
         |        (1.0 - ${operators.Retrieval.bm25B} +
         |         ${operators.Retrieval.bm25B} * dl.dl / g.avgdl)) AS c
         |  FROM tf JOIN d USING (token) JOIN dl USING (doc_id), g),
         |p AS (
         |  SELECT doc_id,
         |    max(CASE WHEN token = 'dup' THEN c END) AS c0,
         |    max(CASE WHEN token = 'customer' THEN c END) AS c1,
         |    max(CASE WHEN token = 'vector' THEN c END) AS c2
         |  FROM c GROUP BY 1)""".stripMargin

  private val blocklistLits: String =
    operators.TextAnalysis.blocklistTerms.map(t => s"'$t'").mkString(", ")

  def oracleSql: Map[String, String] = Map(
    "cdc_final" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,
    "cdc_final_agg" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,
    "cdc_mv_projection" ->
      """SELECT event_id AS version, user_id AS key,
        |  CASE WHEN event_type = 'signup' THEN 'c'
        |       WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
        |  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_deleted,
        |  ts, value
        |FROM events
        |WHERE event_type IN ('signup','click','view','purchase','error')
        |ORDER BY version""".stripMargin,
    "cdc_changelog_scan" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type IN ('click','purchase') AND value > 150
        |ORDER BY event_id""".stripMargin,
    "cdc_backfill_union" ->
      """WITH snapshot AS (
        |  SELECT DISTINCT user_id, CAST(0 AS BIGINT) AS event_id,
        |         'snapshot' AS event_type
        |  FROM events WHERE event_id < 1000),
        |live AS (
        |  SELECT user_id, event_id, event_type FROM events WHERE event_id >= 1000),
        |unioned AS (SELECT * FROM snapshot UNION ALL SELECT * FROM live)
        |SELECT user_id, event_id, event_type FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM unioned) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "cdc_count_parity" ->
      """SELECT count(*) AS n FROM (
        |  SELECT user_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn,
        |         event_type
        |  FROM events) t
        |WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    "cdc_hourly_stats" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "cdc_compact" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "cdc_scd2" ->
      """SELECT user_id, event_id AS valid_from,
        |  lead(event_id) OVER w AS valid_to,
        |  (lead(event_id) OVER w IS NULL) AS is_current,
        |  event_type, value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, valid_from""".stripMargin,
    "cdc_asof_final" ->
      """WITH cut AS (
        |  SELECT CAST(floor(max(event_id) / 2.0) AS BIGINT) AS cut FROM events)
        |SELECT user_id, event_id, event_type, value FROM (
        |  SELECT e.user_id, e.event_id, e.event_type, e.value,
        |         row_number() OVER (PARTITION BY e.user_id
        |                            ORDER BY e.event_id DESC) AS rn
        |  FROM events e, cut WHERE e.event_id <= cut.cut) t
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,
    "cdc_snapshot_diff" ->
      """WITH mx AS (
        |  SELECT CAST(floor(max(event_id) / 3.0) AS BIGINT) AS v1,
        |         CAST(floor(max(event_id) * 2 / 3.0) AS BIGINT) AS v2
        |  FROM events),
        |o AS (SELECT user_id, event_id, event_type FROM (
        |    SELECT e.user_id, e.event_id, e.event_type,
        |           row_number() OVER (PARTITION BY e.user_id
        |                              ORDER BY e.event_id DESC) AS rn
        |    FROM events e, mx WHERE e.event_id <= mx.v1) t WHERE rn = 1),
        |n AS (SELECT user_id, event_id, event_type FROM (
        |    SELECT e.user_id, e.event_id, e.event_type,
        |           row_number() OVER (PARTITION BY e.user_id
        |                              ORDER BY e.event_id DESC) AS rn
        |    FROM events e, mx WHERE e.event_id <= mx.v2) t WHERE rn = 1),
        |j AS (
        |  SELECT n.user_id,
        |    (o.user_id IS NOT NULL AND o.event_type <> 'error') AS op_,
        |    (n.event_type <> 'error') AS np_,
        |    o.event_id AS old_version, n.event_id AS new_version
        |  FROM n LEFT JOIN o ON n.user_id = o.user_id)
        |SELECT user_id,
        |  CASE WHEN NOT op_ AND np_ THEN 'insert'
        |       WHEN op_ AND NOT np_ THEN 'delete'
        |       WHEN op_ AND np_ AND old_version <> new_version THEN 'update'
        |  END AS change,
        |  old_version, new_version
        |FROM j
        |WHERE (NOT op_ AND np_) OR (op_ AND NOT np_)
        |   OR (op_ AND np_ AND old_version <> new_version)
        |ORDER BY user_id""".stripMargin,
    // MERGE correctness contract: applying the (v1, v2] change slice to
    // FINAL@v1 must land exactly on FINAL@v2 — so the oracle IS the
    // time-travel read at v2, computed directly
    "cdc_merge_apply" ->
      """WITH mx AS (
        |  SELECT CAST(floor(max(event_id) * 2 / 3.0) AS BIGINT) AS v2
        |  FROM events)
        |SELECT user_id, event_id, event_type, value FROM (
        |  SELECT e.user_id, e.event_id, e.event_type, e.value,
        |         row_number() OVER (PARTITION BY e.user_id
        |                            ORDER BY e.event_id DESC) AS rn
        |  FROM events e, mx WHERE e.event_id <= mx.v2) t
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,
    "q_partition_pruned_scan" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_disc_price,
        |  count(*) AS count_order,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_revenue_orders" ->
      """SELECT o_orderkey, o_orderdate,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > TIMESTAMP '1999-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q5_nation_revenue" ->
      """SELECT n_name,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_window_topn_per_customer" ->
      """SELECT o_custkey, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_intersect_customers" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q_except_customers" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 0
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY c_custkey""".stripMargin,
    "q_semijoin_big_spenders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q_antijoin_never_shipped" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey
        |    AND l_shipdate >= TIMESTAMP '2001-01-01')
        |ORDER BY p_partkey""".stripMargin,
    "q_distinct_flag_status" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_rollup_orders" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS turnover
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
        |    AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS turnover
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY status, priority, gid""".stripMargin,
    "q_rank_stats" ->
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cum_dist
        |FROM orders WHERE o_orderkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "q_monthly_orders" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS turnover
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cube_orders" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS turnover
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q_corr_above_avg" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, cust_avg FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |           OVER (PARTITION BY o_custkey) AS DOUBLE)
        |      / count(*) OVER (PARTITION BY o_custkey) AS cust_avg
        |  FROM orders) t
        |WHERE o_totalprice > cust_avg ORDER BY o_orderkey""".stripMargin,
    // Sketch values (HLL, percentile histogram) are engine-specific, so
    // the approx queries certify their error contract instead: the
    // Spark side emits the exact aggregate plus a bound-check boolean,
    // and the oracle replays the exact side with TRUE — a hash-green
    // per-group bound check rather than a rows-only row.
    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_rsd
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_approx_percentiles" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  TRUE AS med_ok, TRUE AS p95_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_order_timeline" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  lag(o_orderdate) OVER w AS prev_date,
        |  lead(o_orderdate) OVER w AS next_date,
        |  first_value(o_orderdate) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS first_date
        |FROM orders
        |WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q_range_join_tiers" ->
      """WITH tiers(lo, hi, tier) AS (VALUES
        |  (0, 100000, 'low'), (100000, 300000, 'mid'),
        |  (300000, 1000000000, 'high'))
        |SELECT tier, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS turnover
        |FROM orders JOIN tiers
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY tier ORDER BY tier""".stripMargin,
    "q_pivot_status" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_unpivot_status" ->
      """WITH a AS (
        |  SELECT o_orderstatus,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS turnover,
        |    CAST(count(*) AS DOUBLE) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM a
        |UNION ALL
        |SELECT o_orderstatus, 'turnover' AS metric, turnover AS value FROM a
        |ORDER BY o_orderstatus, metric""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS med,
        |  quantile_cont(o_totalprice, 0.95) AS p95
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stats_orders" ->
      """WITH s AS (
        |  SELECT o_orderstatus, count(*) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(19,4)) *
        |             CAST(o_totalprice AS DECIMAL(19,4))) AS DOUBLE) AS s2
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, n, round(s1 / n, 4) AS mean_price,
        |  round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) AS stddev_price
        |FROM s ORDER BY o_orderstatus""".stripMargin,
    "q_daily_reconciliation" ->
      """WITH o AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_ordered
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day, count(*) AS n_shipped
        |  FROM lineitem GROUP BY 1)
        |SELECT coalesce(o.day, s.day) AS day,
        |  coalesce(n_ordered, 0) AS n_ordered,
        |  coalesce(n_shipped, 0) AS n_shipped
        |FROM o FULL OUTER JOIN s ON o.day = s.day
        |ORDER BY day""".stripMargin,
    "q_series_correlation" ->
      """WITH h AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS v
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT a.event_type AS et_a, b.event_type AS et_b, count(*) AS n,
        |    CAST(sum(a.v) AS DOUBLE) AS sx, CAST(sum(b.v) AS DOUBLE) AS sy,
        |    CAST(sum(a.v * b.v) AS DOUBLE) AS sxy,
        |    CAST(sum(a.v * a.v) AS DOUBLE) AS sxx,
        |    CAST(sum(b.v * b.v) AS DOUBLE) AS syy
        |  FROM h a JOIN h b ON a.hour = b.hour AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT et_a, et_b, n,
        |  round((n * sxy - sx * sy) /
        |        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4) AS pearson
        |FROM s ORDER BY et_a, et_b""".stripMargin,
    "q_asof_attribution" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT purchase_id, p.user_id, purchase_ts, click_id, click_ts,
        |  epoch_us(purchase_ts) - epoch_us(click_ts) AS gap_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
        |ORDER BY purchase_id""".stripMargin,
    // linear multi-touch: every click inside the 7-day lookback
    // shares the purchase value equally, allocated in integer 1e-8
    // units with floor division (float round(value/n, 4) ties at the
    // rounding digit and the engines break ties differently)
    "q_multi_touch" ->
      s"""WITH p AS (
         |  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, value
         |  FROM events WHERE event_type = 'purchase'),
         |c AS (
         |  SELECT user_id, event_id AS click_id, ts AS click_ts
         |  FROM events WHERE event_type = 'click'),
         |j AS (
         |  SELECT p.purchase_id, p.user_id, p.purchase_ts, p.value, c.click_id
         |  FROM p LEFT JOIN c ON p.user_id = c.user_id
         |    AND epoch_us(p.purchase_ts) - epoch_us(c.click_ts)
         |        BETWEEN 0 AND ${operators.Temporal.attributionLookbackUs})
         |SELECT purchase_id, user_id, purchase_ts,
         |  CAST(count(click_id) AS BIGINT) AS n_touches,
         |  CASE WHEN count(click_id) > 0
         |    THEN (CAST(round(value * 10000) AS BIGINT) * 10000)
         |         // count(click_id) END AS credit_e8
         |FROM j GROUP BY purchase_id, user_id, purchase_ts, value
         |ORDER BY purchase_id""".stripMargin,
    "q_sessionize" ->
      """WITH l AS (
        |  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 21600000000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM l),
        |s AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM f)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // session product metrics: bounce rate + LOWER-median session
    // length via cumulative counts over the size histogram (integer
    // rank pick, no interpolation, no global window)
    "q_session_stats" ->
      """WITH l AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 21600000000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM l),
        |s AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM f),
        |sess AS (
        |  SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events
        |  FROM s GROUP BY 1, 2),
        |hist AS (
        |  SELECT n_events, CAST(count(*) AS BIGINT) AS cnt
        |  FROM sess GROUP BY 1),
        |cum AS (
        |  SELECT h.n_events, sum(h2.cnt) AS cum
        |  FROM hist h JOIN hist h2 ON h2.n_events <= h.n_events
        |  GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_sessions,
        |    CAST(sum(CASE WHEN n_events = 1 THEN cnt ELSE 0 END) AS BIGINT)
        |      AS n_bounce
        |  FROM hist),
        |med AS (
        |  SELECT CAST(min(cum.n_events) AS BIGINT) AS med_events
        |  FROM cum CROSS JOIN tot WHERE cum.cum * 2 >= tot.n_sessions)
        |SELECT n_sessions, n_bounce,
        |  round(CAST(n_bounce AS DOUBLE) / n_sessions, 4) AS bounce_rate,
        |  med_events
        |FROM tot CROSS JOIN med""".stripMargin,
    // distributed sweep-line replayed exactly: per-hour boundary
    // running sums (starts before ends at one instant — inclusive
    // interval ends) plus triangular prefix carry-in over the
    // calendar-bounded hour histograms; all integers
    "q_concurrent_sessions" ->
      """WITH l AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 21600000000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM l),
        |sq AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM f),
        |s AS (SELECT min(us) AS s_us, max(us) AS e_us
        |      FROM sq GROUP BY user_id, session_seq),
        |sh AS (SELECT s_us // 3600000000 AS h, CAST(count(*) AS BIGINT) AS n_start
        |       FROM s GROUP BY 1),
        |eh AS (SELECT e_us // 3600000000 AS h, CAST(count(*) AS BIGINT) AS n_end
        |       FROM s GROUP BY 1),
        |bounds AS (SELECT min(s_us // 3600000000) AS h0,
        |                  max(e_us // 3600000000) AS h1 FROM s),
        |spine AS (SELECT unnest(generate_series(h0, h1)) AS h FROM bounds),
        |sb AS (SELECT spine.h, CAST(sum(sh.n_start) AS BIGINT) AS sb
        |       FROM spine JOIN sh ON sh.h < spine.h GROUP BY 1),
        |eb AS (SELECT spine.h, CAST(sum(eh.n_end) AS BIGINT) AS eb
        |       FROM spine JOIN eh ON eh.h < spine.h GROUP BY 1),
        |d AS (SELECT s_us // 3600000000 AS h, s_us AS us,
        |             CAST(1 AS BIGINT) AS delta FROM s
        |      UNION ALL
        |      SELECT e_us // 3600000000, e_us, CAST(-1 AS BIGINT) FROM s),
        |runs AS (SELECT h, sum(delta) OVER (PARTITION BY h
        |           ORDER BY us, delta DESC ROWS UNBOUNDED PRECEDING) AS run
        |         FROM d),
        |mx AS (SELECT h, CAST(max(run) AS BIGINT) AS max_run FROM runs GROUP BY h),
        |peak AS (SELECT spine.h,
        |    coalesce(sb.sb, 0) - coalesce(eb.eb, 0) +
        |      greatest(coalesce(mx.max_run, 0), 0) AS peak
        |  FROM spine LEFT JOIN sb ON sb.h = spine.h
        |             LEFT JOIN eb ON eb.h = spine.h
        |             LEFT JOIN mx ON mx.h = spine.h),
        |st AS (SELECT s_us // 86400000000 AS day,
        |              CAST(count(*) AS BIGINT) AS n_started
        |       FROM s GROUP BY 1),
        |pd AS (SELECT h // 24 AS day, CAST(max(peak) AS BIGINT) AS peak_concurrent
        |       FROM peak GROUP BY 1)
        |SELECT pd.day, CAST(coalesce(st.n_started, 0) AS BIGINT) AS n_started,
        |  pd.peak_concurrent
        |FROM pd LEFT JOIN st ON st.day = pd.day ORDER BY pd.day""".stripMargin,
    // interval×interval overlap via hour banding: sessions replayed as
    // in q_concurrent_sessions, anomalous hours as in
    // q_hourly_anomalies; per-(session, hour) overlap micros are exact
    // integers (inclusive-end arithmetic), so every output is integer
    "q_interval_overlap" ->
      """WITH l AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 21600000000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM l),
        |sq AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM f),
        |s AS (SELECT user_id, session_seq, min(us) AS s_us, max(us) AS e_us
        |      FROM sq GROUP BY user_id, session_seq),
        |hh AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |hs AS (
        |  SELECT event_type, hour_idx, n,
        |    CAST(count(n) OVER wf AS BIGINT) AS b_cnt,
        |    CAST(sum(n) OVER wf AS BIGINT) AS b_sum,
        |    CAST(sum(n * n) OVER wf AS BIGINT) AS b_ss
        |  FROM hh
        |  WINDOW wf AS (PARTITION BY event_type ORDER BY hour_idx
        |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |zz AS (
        |  SELECT hour_idx,
        |    CASE WHEN b_cnt = 24 AND b_ss * b_cnt > b_sum * b_sum THEN
        |      round((CAST(n AS DOUBLE) -
        |             CAST(b_sum AS DOUBLE) / CAST(b_cnt AS DOUBLE)) /
        |            sqrt((CAST(b_ss AS DOUBLE) -
        |                  CAST(b_sum AS DOUBLE) *
        |                  (CAST(b_sum AS DOUBLE) / CAST(b_cnt AS DOUBLE))) /
        |                 (CAST(b_cnt AS DOUBLE) - 1)), 4)
        |    END AS z
        |  FROM hs),
        |anom AS (SELECT DISTINCT hour_idx AS h FROM zz
        |         WHERE z IS NOT NULL AND abs(z) > 3),
        |cov AS (
        |  SELECT s.user_id, s.session_seq, s.s_us, s.e_us,
        |    unnest(generate_series(s.s_us // 3600000000,
        |                           s.e_us // 3600000000)) AS h
        |  FROM s),
        |per AS (
        |  SELECT user_id, session_seq, s_us,
        |    CAST(count(*) AS BIGINT) AS n_hours,
        |    CAST(sum(least(e_us, (h + 1) * 3600000000 - 1) -
        |             greatest(s_us, h * 3600000000) + 1) AS BIGINT) AS ov_us
        |  FROM cov JOIN anom USING (h)
        |  GROUP BY 1, 2, 3)
        |SELECT s_us // 86400000000 AS day,
        |  CAST(count(*) AS BIGINT) AS n_affected_sessions,
        |  CAST(sum(n_hours) AS BIGINT) AS n_session_hours,
        |  CAST(sum(ov_us) AS BIGINT) AS total_overlap_us
        |FROM per GROUP BY 1 ORDER BY day""".stripMargin,
    // exact integer micros throughout; conv_pct is one rounded division
    // of two exact counts
    // CUPED A/B: decimal power sums narrowed to (18,4) before any
    // product (seriesCorrelation rule), md5 content-hash coin,
    // integer-midpoint pivot; every emitted float is the same
    // fixed-order double chain over identical operands, round 4
    "q_cuped_ab" ->
      s"""WITH d AS (
         |  SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS day,
         |    CAST(o_totalprice AS DECIMAL(18,4)) AS p
         |  FROM orders),
         |pv AS (SELECT (min(day) + max(day) + 1) // 2 AS pdy FROM d),
         |cust AS (
         |  SELECT o_custkey,
         |    CAST(sum(CASE WHEN day < pdy THEN p
         |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(18,4)) AS x,
         |    CAST(sum(CASE WHEN day >= pdy THEN p
         |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(18,4)) AS y
         |  FROM d CROSS JOIN pv GROUP BY 1),
         |g AS (
         |  SELECT x, y,
         |    CASE WHEN ((strpos('0123456789abcdef', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5(CAST(o_custkey AS VARCHAR)), 2, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5(CAST(o_custkey AS VARCHAR)), 3, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5(CAST(o_custkey AS VARCHAR)), 4, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5(CAST(o_custkey AS VARCHAR)), 5, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5(CAST(o_custkey AS VARCHAR)), 6, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(o_custkey AS VARCHAR)), 7, 1)) - 1) * 1) % 100 < 50
         |      THEN 'A' ELSE 'B' END AS grp
         |  FROM cust),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(x AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4)))
         |      AS DOUBLE) AS sxy,
         |    CAST(sum(CAST(x AS DECIMAL(19,4)) * CAST(x AS DECIMAL(19,4)))
         |      AS DOUBLE) AS sxx,
         |    CAST(sum(CAST(y AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4)))
         |      AS DOUBLE) AS syy,
         |    CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(sum(CASE WHEN grp = 'A' THEN x
         |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS sx_a,
         |    CAST(sum(CASE WHEN grp = 'A' THEN y
         |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS sy_a,
         |    CAST(sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b,
         |    CAST(sum(CASE WHEN grp = 'B' THEN x
         |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS sx_b,
         |    CAST(sum(CASE WHEN grp = 'B' THEN y
         |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS sy_b
         |  FROM g)
         |SELECT n AS n_customers, n_a, n_b,
         |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
         |    round((CAST(n AS DOUBLE) * sxy - sx * sy) /
         |          (CAST(n AS DOUBLE) * sxx - sx * sx), 4) END AS theta,
         |  CASE WHEN n_a > 0 AND n_b > 0 THEN
         |    round(sy_a / CAST(n_a AS DOUBLE) - sy_b / CAST(n_b AS DOUBLE),
         |      4) END AS diff_raw,
         |  CASE WHEN n_a > 0 AND n_b > 0
         |       AND CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
         |    round((sy_a / CAST(n_a AS DOUBLE) - sy_b / CAST(n_b AS DOUBLE))
         |      - ((CAST(n AS DOUBLE) * sxy - sx * sy) /
         |         (CAST(n AS DOUBLE) * sxx - sx * sx)) *
         |        (sx_a / CAST(n_a AS DOUBLE) - sx_b / CAST(n_b AS DOUBLE)),
         |      4) END AS diff_cuped,
         |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
         |       AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
         |    round((CAST(n AS DOUBLE) * sxy - sx * sy) *
         |          (CAST(n AS DOUBLE) * sxy - sx * sy) /
         |          ((CAST(n AS DOUBLE) * sxx - sx * sx) *
         |           (CAST(n AS DOUBLE) * syy - sy * sy)), 4)
         |  END AS var_reduction
         |FROM s""".stripMargin,
    "q_funnel_conversion" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
         |v AS (
         |  SELECT user_id, min(us) AS v_us FROM e
         |  WHERE event_type = 'view' GROUP BY 1),
         |c AS (
         |  SELECT e.user_id, min(e.us) AS c_us, min(v.v_us) AS v_us
         |  FROM e JOIN v ON e.user_id = v.user_id
         |  WHERE e.event_type = 'click' AND e.us > v.v_us
         |    AND e.us <= v.v_us + ${operators.Behavior.funnelWindowUs}
         |  GROUP BY 1),
         |p AS (
         |  SELECT e.user_id, min(e.us) AS p_us
         |  FROM e JOIN c ON e.user_id = c.user_id
         |  WHERE e.event_type = 'purchase' AND e.us > c.c_us
         |    AND e.us <= c.v_us + ${operators.Behavior.funnelWindowUs}
         |  GROUP BY 1),
         |s AS (
         |  SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS users FROM v
         |  UNION ALL SELECT 2, 'click', count(*) FROM c
         |  UNION ALL SELECT 3, 'purchase', count(*) FROM p)
         |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage, users,
         |  CASE WHEN (SELECT users FROM s WHERE stage_idx = 1) > 0 THEN
         |    round(CAST(users AS DOUBLE) /
         |      (SELECT CAST(users AS DOUBLE) FROM s WHERE stage_idx = 1), 6)
         |  END AS conv_pct
         |FROM s ORDER BY stage_idx""".stripMargin,
    // same funnel frames as q_funnel_conversion (c/p additionally carry
    // the prior stage time); quantiles picked by INTEGER rank over
    // (delta, user_id) — lower median at ⌈n/2⌉, p90 at ⌈9n/10⌉, never
    // interpolated; all values exact integer micros
    "q_funnel_latency" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
         |v AS (
         |  SELECT user_id, min(us) AS v_us FROM e
         |  WHERE event_type = 'view' GROUP BY 1),
         |c AS (
         |  SELECT e.user_id, min(e.us) AS c_us, min(v.v_us) AS v_us
         |  FROM e JOIN v ON e.user_id = v.user_id
         |  WHERE e.event_type = 'click' AND e.us > v.v_us
         |    AND e.us <= v.v_us + ${operators.Behavior.funnelWindowUs}
         |  GROUP BY 1),
         |p AS (
         |  SELECT e.user_id, min(e.us) AS p_us, min(c.c_us) AS c_us
         |  FROM e JOIN c ON e.user_id = c.user_id
         |  WHERE e.event_type = 'purchase' AND e.us > c.c_us
         |    AND e.us <= c.v_us + ${operators.Behavior.funnelWindowUs}
         |  GROUP BY 1),
         |d AS (
         |  SELECT '1_view_click' AS transition, c_us - v_us AS delta,
         |    user_id FROM c
         |  UNION ALL
         |  SELECT '2_click_purchase', p_us - c_us, user_id FROM p),
         |r AS (
         |  SELECT transition, delta,
         |    row_number() OVER (PARTITION BY transition
         |                       ORDER BY delta, user_id) AS rk
         |  FROM d),
         |st AS (
         |  SELECT transition, CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(min(delta) AS BIGINT) AS min_us,
         |    CAST(max(delta) AS BIGINT) AS max_us
         |  FROM d GROUP BY 1)
         |SELECT st.transition, st.n_users, st.min_us,
         |  CAST(med.delta AS BIGINT) AS med_us,
         |  CAST(p90.delta AS BIGINT) AS p90_us, st.max_us
         |FROM st
         |JOIN r med ON med.transition = st.transition
         |  AND med.rk = (st.n_users + 1) // 2
         |JOIN r p90 ON p90.transition = st.transition
         |  AND p90.rk = (9 * st.n_users + 9) // 10
         |ORDER BY st.transition""".stripMargin,
    // integer epoch-week arithmetic; retained_pct one rounded division
    "q_ltv_triangle" ->
      s"""WITH ew AS (
         |  SELECT user_id, value,
         |    (epoch_us(ts) // ${operators.Behavior.dayUs}) // 7 AS week
         |  FROM events),
         |f AS (SELECT user_id, min(week) AS cohort_week FROM ew GROUP BY 1),
         |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
         |       FROM f GROUP BY 1),
         |cells AS (
         |  SELECT f.cohort_week, ew.week - f.cohort_week AS week_offset,
         |    sum(CAST(ew.value AS DECIMAL(18,4))) AS v
         |  FROM ew JOIN f ON ew.user_id = f.user_id
         |  GROUP BY 1, 2),
         |cum AS (
         |  SELECT a.cohort_week, a.week_offset, a.v, sum(b.v) AS cum
         |  FROM cells a JOIN cells b
         |    ON b.cohort_week = a.cohort_week
         |   AND b.week_offset <= a.week_offset
         |  GROUP BY 1, 2, 3)
         |SELECT c.cohort_week, c.week_offset, s.cohort_size,
         |  CAST(c.v AS DOUBLE) AS period_value,
         |  CAST(c.cum AS DOUBLE) AS cum_value,
         |  round(CAST(c.cum AS DOUBLE) / s.cohort_size, 4) AS ltv_per_user
         |FROM cum c JOIN sz s ON s.cohort_week = c.cohort_week
         |ORDER BY 1, 2""".stripMargin,
    "q_retention_cohorts" ->
      s"""WITH ew AS (
         |  SELECT user_id,
         |    (epoch_us(ts) // ${operators.Behavior.dayUs}) // 7 AS week
         |  FROM events),
         |f AS (SELECT user_id, min(week) AS cohort_week FROM ew GROUP BY 1),
         |a AS (SELECT DISTINCT user_id, week FROM ew),
         |cells AS (
         |  SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
         |    count(*) AS active_users
         |  FROM a JOIN f ON a.user_id = f.user_id
         |  GROUP BY 1, 2),
         |sizes AS (
         |  SELECT cohort_week, active_users AS cohort_size FROM cells
         |  WHERE week_offset = 0)
         |SELECT c.cohort_week, c.week_offset, c.active_users, s.cohort_size,
         |  round(CAST(c.active_users AS DOUBLE) /
         |        CAST(s.cohort_size AS DOUBLE), 6) AS retained_pct
         |FROM cells c JOIN sizes s ON c.cohort_week = s.cohort_week
         |ORDER BY 1, 2""".stripMargin,
    "q_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type
        |  FROM events),
        |p AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY us, event_id) AS prev_type
        |  FROM e),
        |m AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS transitions
        |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (
        |  SELECT prev_type, CAST(sum(transitions) AS BIGINT) AS row_total
        |  FROM m GROUP BY 1)
        |SELECT m.prev_type, m.next_type, m.transitions,
        |  round(CAST(m.transitions AS DOUBLE) /
        |        CAST(t.row_total AS DOUBLE), 6) AS p_next
        |FROM m JOIN t ON m.prev_type = t.prev_type
        |ORDER BY 1, 2""".stripMargin,
    "q_hourly_anomalies" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, hour_idx, n,
        |    CAST(count(n) OVER wf AS BIGINT) AS b_cnt,
        |    CAST(sum(n) OVER wf AS BIGINT) AS b_sum,
        |    CAST(sum(n * n) OVER wf AS BIGINT) AS b_ss
        |  FROM h
        |  WINDOW wf AS (PARTITION BY event_type ORDER BY hour_idx
        |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |zz AS (
        |  SELECT event_type, hour_idx, n, b_cnt, b_sum,
        |    CASE WHEN b_cnt = 24 AND b_ss * b_cnt > b_sum * b_sum THEN
        |      round((CAST(n AS DOUBLE) -
        |             CAST(b_sum AS DOUBLE) / CAST(b_cnt AS DOUBLE)) /
        |            sqrt((CAST(b_ss AS DOUBLE) -
        |                  CAST(b_sum AS DOUBLE) *
        |                  (CAST(b_sum AS DOUBLE) / CAST(b_cnt AS DOUBLE))) /
        |                 (CAST(b_cnt AS DOUBLE) - 1)), 4)
        |    END AS z
        |  FROM s)
        |SELECT event_type, hour_idx, n, b_cnt, b_sum, z,
        |  (z IS NOT NULL AND abs(z) > 3) AS is_anomaly
        |FROM zz ORDER BY 1, 2""".stripMargin,
    // robust twin: LOWER-median/MAD picked by integer rank from the
    // sorted 24-element baseline (never interpolated); modified z =
    // 0.6745·(n − med)/MAD; zero MAD → NULL, not an ANSI 0-division
    "q_robust_anomalies" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, hour_idx, n,
        |    list_sort(list(n) OVER wf) AS b
        |  FROM h
        |  WINDOW wf AS (PARTITION BY event_type ORDER BY hour_idx
        |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |m AS (
        |  SELECT event_type, hour_idx, n,
        |    CAST(b[12] AS BIGINT) AS med,
        |    CAST(list_sort(list_transform(b, x -> abs(x - b[12])))[12]
        |         AS BIGINT) AS mad
        |  FROM s WHERE len(b) = 24),
        |zz AS (
        |  SELECT event_type, hour_idx, n, med, mad,
        |    CASE WHEN mad > 0 THEN
        |      round(0.6745 * CAST(n - med AS DOUBLE) / CAST(mad AS DOUBLE), 4)
        |    END AS robust_z
        |  FROM m)
        |SELECT event_type, hour_idx, n, med, mad, robust_z,
        |  (robust_z IS NOT NULL AND abs(robust_z) > 3.5) AS is_anomaly
        |FROM zz ORDER BY 1, 2""".stripMargin,
    "q_json_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_salted_join" ->
      """SELECT s_name, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |           CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,
    // the salting decision input: top-5 heaviest join keys, row share,
    // and count ÷ mean-count skew ratio — exact integer counts, one
    // rounded division each
    "q_join_skew" ->
      s"""WITH c AS (
        |  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys FROM c),
        |top AS (
        |  SELECT l_suppkey, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, l_suppkey) AS BIGINT) AS rk
        |  FROM c)
        |SELECT rk, l_suppkey, cnt,
        |  round(CAST(cnt AS DOUBLE) / n_rows, 6) AS share,
        |  round(CAST(cnt AS DOUBLE) * n_keys / n_rows, 4) AS skew_ratio,
        |  CASE WHEN CAST(cnt AS HUGEINT) * n_keys >=
        |      ${operators.Skew.hotKeyRatio} * CAST(n_rows AS HUGEINT)
        |    THEN 'aqe-skew-join; salt only if one key exceeds an executor'
        |    ELSE 'none: balanced, remedies only add shuffle width'
        |  END AS remedy
        |FROM top CROSS JOIN t
        |WHERE rk <= 5 ORDER BY rk""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY lower(trim(text)) ORDER BY doc_id""".stripMargin,
    "dedup_minhash_signatures" ->
      s"""$sigsCte
         |SELECT doc_id, $hashColList FROM sigs ORDER BY doc_id""".stripMargin,
    "dedup_lsh_pairs" ->
      s"""$sigsCte,
         |bands AS (
         |  $lshBandsCte)
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_edit_verify" ->
      s"""$lshPairsCte,
         |pf AS (
         |  SELECT doc_id, substr(lower(text), 1, ${operators.Dedup.editPrefixLen})
         |    AS pfx
         |  FROM documents)
         |SELECT p.a_id, p.b_id,
         |  levenshtein(a.pfx, b.pfx) AS edit_dist,
         |  levenshtein(a.pfx, b.pfx) <= ${operators.Dedup.editMaxDist} AS is_dup
         |FROM pairs p JOIN pf a ON a.doc_id = p.a_id
         |             JOIN pf b ON b.doc_id = p.b_id
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_minhash_wide" ->
      s"""$wideSigsCte
         |SELECT doc_id, $wideHashColList FROM sigs ORDER BY doc_id""".stripMargin,
    "dedup_minhash_w128" ->
      s"""${affineSigsCte(128)}
         |SELECT doc_id, ${(0 until 128).map(j => s"h$j").mkString(", ")}
         |FROM sigs ORDER BY doc_id""".stripMargin,
    "dedup_lsh_pairs_wide" ->
      s"""$wideSigsCte,
         |bands AS (
         |  $wideBandsCte)
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_lsh_incremental" ->
      s"""$sigsCte,
         |bands AS (
         |  $lshBandsCte)
         |SELECT DISTINCT n.doc_id AS new_id, e.doc_id AS existing_id
         |FROM bands n JOIN bands e
         |  ON n.band = e.band AND n.key = e.key
         |WHERE n.doc_id % 10 = 0 AND e.doc_id % 10 <> 0
         |ORDER BY new_id, existing_id""".stripMargin,
    "dedup_bloom" ->
      """WITH fp AS (SELECT doc_id, md5(text) AS f FROM documents),
        |mp AS (
        |  SELECT coalesce(min(CASE WHEN (CAST(1 AS BIGINT) << p) >= 16 * n
        |                       THEN (CAST(1 AS BIGINT) << p) END), 65536) AS m
        |  FROM (SELECT count(*) AS n FROM fp WHERE doc_id % 10 <> 0),
        |       (SELECT unnest(range(1, 17)) AS p)),
        |pos AS (
        |  SELECT doc_id, f,
        |    ((strpos('0123456789abcdef', substr(f, 8*j + 1, 1)) - 1) * 4096 +
        |     (strpos('0123456789abcdef', substr(f, 8*j + 2, 1)) - 1) * 256 +
        |     (strpos('0123456789abcdef', substr(f, 8*j + 3, 1)) - 1) * 16 +
        |     (strpos('0123456789abcdef', substr(f, 8*j + 4, 1)) - 1)) % mp.m AS bit
        |  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS j) probes, mp),
        |corpus_bits AS (SELECT DISTINCT bit FROM pos WHERE doc_id % 10 <> 0),
        |corpus_fp AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 <> 0),
        |batch AS (
        |  SELECT p.doc_id, p.f, bool_and(cb.bit IS NOT NULL) AS maybe_dup
        |  FROM pos p LEFT JOIN corpus_bits cb ON p.bit = cb.bit
        |  WHERE p.doc_id % 10 = 0 GROUP BY p.doc_id, p.f)
        |SELECT b.doc_id, b.maybe_dup, (cf.f IS NOT NULL) AS is_dup
        |FROM batch b LEFT JOIN corpus_fp cf ON b.f = cf.f
        |ORDER BY b.doc_id""".stripMargin,
    // per-window Rabin-Karp hashes replayed by direct fold (the rolled
    // Spark kernel is arithmetic-identical: the roll commutes with the
    // modulus), then one count-over-hash + gaps-and-islands per doc
    "dedup_dup_spans" ->
      s"""$dupSpansCtes
         |SELECT doc_id, span_start, span_end, span_len, n_windows
         |FROM spans ORDER BY doc_id, span_start""".stripMargin,
    // the cut list applied: the kept text is the ordered concatenation
    // of the complement segments (before each span via lag, plus the
    // per-doc tail) — same string the Spark side's ordered span fold
    // stitches
    "dedup_span_clean" ->
      s"""$dupSpansCtes,
         |pre AS (
         |  SELECT doc_id,
         |    coalesce(lag(span_end)
         |      OVER (PARTITION BY doc_id ORDER BY span_start), 0) + 1 AS st,
         |    span_start - 1 AS en
         |  FROM spans
         |),
         |tails AS (
         |  SELECT s.doc_id, max(s.span_end) + 1 AS st, len(d.text) AS en
         |  FROM spans s JOIN documents d USING (doc_id)
         |  GROUP BY s.doc_id, len(d.text)
         |),
         |segs AS (SELECT * FROM pre UNION ALL SELECT * FROM tails),
         |stitched AS (
         |  SELECT g.doc_id,
         |    string_agg(substr(d.text, CAST(g.st AS INTEGER),
         |        greatest(CAST(g.en - g.st + 1 AS INTEGER), 0)),
         |      '' ORDER BY g.st) AS clean_text
         |  FROM segs g JOIN documents d USING (doc_id)
         |  GROUP BY g.doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(s.clean_text, d.text) AS clean_text,
         |  CAST(len(d.text) - len(coalesce(s.clean_text, d.text)) AS BIGINT)
         |    AS n_chars_removed
         |FROM documents d LEFT JOIN stitched s USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_clusters" ->
      s"""$clusterLabelsCte
         |SELECT id, cluster FROM labels ORDER BY id""".stripMargin,
    // identical fixpoint to dedup_clusters — the Spark side runs the
    // distributed propagation loop instead of the union-find fast path
    "dedup_clusters_dist" ->
      s"""$clusterLabelsCte
         |SELECT id, cluster FROM labels ORDER BY id""".stripMargin,
    // identical fixpoint again — the Spark side runs the INCREMENTAL
    // merge (frozen base components + delta-edge label graph), and
    // equality with this full-recompute oracle IS the incremental-
    // correctness certification
    "dedup_cc_incremental" ->
      s"""$clusterLabelsCte
         |SELECT id, cluster FROM labels ORDER BY id""".stripMargin,
    "dedup_survivors" ->
      s"""$clusterLabelsCte,
         |qual AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(trim(text), ' ')) AS DOUBLE) *
         |    (CASE WHEN CAST(len(list_filter(string_split(trim(text), ' '),
         |            t -> list_contains(['the','a','of','and','in','to','is'], t))) AS DOUBLE)
         |          / len(string_split(trim(text), ' ')) >= 0.05
         |     THEN 1.0 ELSE 0.5 END) AS quality
         |  FROM documents),
         |member AS (
         |  SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster,
         |         coalesce(q.quality, 0.0) AS quality
         |  FROM documents d
         |  LEFT JOIN labels l ON d.doc_id = l.id
         |  LEFT JOIN qual q ON d.doc_id = q.doc_id)
         |SELECT doc_id FROM (
         |  SELECT doc_id,
         |    row_number() OVER (PARTITION BY cluster
         |                       ORDER BY quality DESC, doc_id) AS rn
         |  FROM member) t
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // rollout impact: per cluster-size bucket (4 = "4+"), clusters /
    // docs / removed docs / removed TOKENS, with the survivor's tokens
    // kept — survivor pick identical to dedup_survivors
    "dedup_impact" ->
      s"""$clusterLabelsCte,
         |qual AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok,
         |    CAST(len(string_split(trim(text), ' ')) AS DOUBLE) *
         |    (CASE WHEN CAST(len(list_filter(string_split(trim(text), ' '),
         |            t -> list_contains(['the','a','of','and','in','to','is'], t))) AS DOUBLE)
         |          / len(string_split(trim(text), ' ')) >= 0.05
         |     THEN 1.0 ELSE 0.5 END) AS quality
         |  FROM documents),
         |member AS (
         |  SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster,
         |         q.n_tok, q.quality
         |  FROM documents d
         |  LEFT JOIN labels l ON d.doc_id = l.id
         |  JOIN qual q ON d.doc_id = q.doc_id),
         |srv AS (
         |  SELECT cluster, n_tok AS kept_tok FROM (
         |    SELECT cluster, n_tok,
         |      row_number() OVER (PARTITION BY cluster
         |                         ORDER BY quality DESC, doc_id) AS rn
         |    FROM member) t WHERE rn = 1),
         |per AS (
         |  SELECT cluster, CAST(count(*) AS BIGINT) AS sz,
         |    CAST(sum(n_tok) AS BIGINT) AS toks
         |  FROM member GROUP BY cluster)
         |SELECT CAST(least(sz, 4) AS BIGINT) AS size_bucket,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs,
         |  CAST(sum(sz - 1) AS BIGINT) AS n_docs_removed,
         |  CAST(sum(toks - kept_tok) AS BIGINT) AS tokens_removed
         |FROM per JOIN srv USING (cluster)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_simhash" -> simhashOracle,
    "dedup_simhash_pairs" ->
      s"""$simhashCte,
         |bands AS (
         |  ${(0 until 4).map(b =>
              s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 16}) & 65535 AS key FROM sh")
              .mkString("\n  UNION ALL\n  ")})
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH s AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id % 10 = 0 AND len(text) >= 8),
        |g0 AS (
        |  SELECT DISTINCT doc_id, lang, substr(text, CAST(i AS INTEGER), 8) AS g
        |  FROM (SELECT doc_id, lang, text,
        |          unnest(generate_series(1, len(text) - 7)) AS i FROM s)),
        |keep AS (SELECT lang, g FROM g0 GROUP BY lang, g
        |         HAVING count(*) <= ${operators.Dedup.maxShingleDf}),
        |g AS (SELECT g0.* FROM g0 JOIN keep USING (lang, g)),
        |sizes AS (SELECT doc_id, count(*) AS c FROM g GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM g a JOIN g b
        |    ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, i / (ca.c + cb.c - i) AS jaccard
        |FROM inter
        |JOIN sizes ca ON a_id = ca.doc_id
        |JOIN sizes cb ON b_id = cb.doc_id
        |WHERE i / (ca.c + cb.c - i) >= 0.1
        |ORDER BY a_id, b_id""".stripMargin,
    // prefix-filtered exact Jaccard join replay: word-trigram sets,
    // per-doc rarity order (df asc, tk asc), prefix = rarest
    // s − ⌈τs⌉ + 1 shingles, τ cuts as integer cross-multiplications;
    // the only float is the display Jaccard (one division, round 6)
    "dedup_prefix_join" ->
      s"""WITH $prefixJoinCtes
         |SELECT a_id, b_id, sa, sb, i,
         |  round(CAST(i AS DOUBLE) / CAST(sa + sb - i AS DOUBLE), 6)
         |    AS jaccard
         |FROM ver WHERE $prefixTauPred
         |ORDER BY a_id, b_id""".stripMargin,
    // Christen blocking-quality report: the production wide-LSH
    // blocker graded against the exact τ-Jaccard truth set — both CTE
    // chains composed verbatim from their certified oracles
    "dedup_blocking_eval" ->
      s"""$wideSigsCte,
         |bands AS (
         |  $wideBandsCte),
         |lsh AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key
         |      AND a.doc_id < b.doc_id),
         |$prefixJoinCtes,
         |truth AS (SELECT a_id, b_id FROM ver WHERE $prefixTauPred),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |m AS (SELECT
         |    CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
         |    CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_candidates,
         |    CAST((SELECT count(*) FROM truth t
         |          JOIN lsh USING (a_id, b_id)) AS BIGINT) AS n_caught)
         |SELECT n_docs, n_truth, n_candidates, n_caught,
         |  CASE WHEN n_truth > 0 THEN
         |    round(CAST(n_caught AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
         |  END AS pairs_completeness,
         |  CASE WHEN n_docs > 1 THEN
         |    round(1.0 - 2.0 * CAST(n_candidates AS DOUBLE) /
         |      (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1.0)), 6)
         |  END AS reduction_ratio
         |FROM m CROSS JOIN nd""".stripMargin,
    // band-geometry sweep: the same wide sigs banded per geometry, the
    // same memoized truth; thresholds are the Scala-computed literals
    "dedup_blocking_sweep" -> {
      def bandCte(b: Int, r: Int): String =
        (0 until b).map { i =>
          val slices = (i * r until (i + 1) * r)
            .map(j => s"CAST(h$j AS VARCHAR)").mkString(" || '_' || ")
          s"SELECT doc_id, $i AS band, md5($slices) AS key FROM sigs"
        }.mkString("\n  UNION ALL\n  ")
      val geoms = operators.Dedup.blockingSweepGeometries
      val perGeom = geoms.map { case (b, r) =>
        s"""bands_$b AS (
           |  ${bandCte(b, r)}),
           |lsh_$b AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands_$b a JOIN bands_$b b
           |    ON a.band = b.band AND a.key = b.key
           |      AND a.doc_id < b.doc_id),
           |m_$b AS (SELECT
           |    CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           |    CAST((SELECT count(*) FROM lsh_$b) AS BIGINT) AS n_candidates,
           |    CAST((SELECT count(*) FROM truth t
           |          JOIN lsh_$b USING (a_id, b_id)) AS BIGINT) AS n_caught)"""
          .stripMargin
      }.mkString(",\n")
      val rows = geoms.map { case (b, r) =>
        s"""SELECT CAST($b AS BIGINT) AS n_bands,
           |  CAST($r AS BIGINT) AS rows_per_band,
           |  CAST(${operators.Dedup.bandThreshold(b, r)} AS DOUBLE)
           |    AS t_threshold,
           |  n_docs, n_truth, n_candidates, n_caught,
           |  CASE WHEN n_truth > 0 THEN
           |    round(CAST(n_caught AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
           |  END AS pairs_completeness,
           |  CASE WHEN n_docs > 1 THEN
           |    round(1.0 - 2.0 * CAST(n_candidates AS DOUBLE) /
           |      (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1.0)), 6)
           |  END AS reduction_ratio
           |FROM m_$b CROSS JOIN nd""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$wideSigsCte,
         |$prefixJoinCtes,
         |truth AS (SELECT a_id, b_id FROM ver WHERE $prefixTauPred),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |$perGeom
         |$rows
         |ORDER BY n_bands""".stripMargin
    },
    // estimator honesty: agreement/k vs exact distinct-shingle
    // Jaccard per candidate pair; one division each side, round 6,
    // error = |difference of the rounded values| round 6
    "dedup_minhash_est" -> {
      val k = operators.Dedup.wideNumHashes
      val agreeSum = (0 until k)
        .map(j => s"CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""$wideSigsCte,
         |bands AS (
         |  $wideBandsCte),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key
         |      AND a.doc_id < b.doc_id),
         |agree AS (
         |  SELECT c.a_id, c.b_id, CAST($agreeSum AS BIGINT) AS n_agree
         |  FROM cand c JOIN sigs sa ON sa.doc_id = c.a_id
         |              JOIN sigs sb ON sb.doc_id = c.b_id),
         |docs AS (SELECT DISTINCT doc_id FROM (
         |  SELECT a_id AS doc_id FROM cand
         |  UNION ALL SELECT b_id FROM cand) u),
         |dg AS (SELECT DISTINCT g.doc_id, g.g FROM g JOIN docs USING (doc_id)),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c
         |          FROM dg GROUP BY 1),
         |inter AS (
         |  SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS i
         |  FROM cand c JOIN dg da ON da.doc_id = c.a_id
         |              JOIN dg db ON db.doc_id = c.b_id AND db.g = da.g
         |  GROUP BY 1, 2)
         |SELECT ag.a_id, ag.b_id, ag.n_agree,
         |  round(CAST(ag.n_agree AS DOUBLE) / $k.0, 6) AS est_jaccard,
         |  round(CAST(coalesce(i.i, 0) AS DOUBLE) /
         |    CAST(sa.c + sb.c - coalesce(i.i, 0) AS DOUBLE), 6)
         |    AS exact_jaccard,
         |  round(abs(round(CAST(ag.n_agree AS DOUBLE) / $k.0, 6) -
         |    round(CAST(coalesce(i.i, 0) AS DOUBLE) /
         |      CAST(sa.c + sb.c - coalesce(i.i, 0) AS DOUBLE), 6)), 6)
         |    AS abs_err
         |FROM agree ag
         |LEFT JOIN inter i ON i.a_id = ag.a_id AND i.b_id = ag.b_id
         |JOIN sizes sa ON sa.doc_id = ag.a_id
         |JOIN sizes sb ON sb.doc_id = ag.b_id
         |ORDER BY ag.a_id, ag.b_id""".stripMargin
    },
    "dedup_containment" ->
      s"""WITH s AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id % 10 = 0 AND len(text) >= 8),
        |g0 AS (
        |  SELECT DISTINCT doc_id, lang, substr(text, CAST(i AS INTEGER), 8) AS g
        |  FROM (SELECT doc_id, lang, text,
        |          unnest(generate_series(1, len(text) - 7)) AS i FROM s)),
        |keep AS (SELECT lang, g FROM g0 GROUP BY lang, g
        |         HAVING count(*) <= ${operators.Dedup.maxShingleDf}),
        |g AS (SELECT g0.* FROM g0 JOIN keep USING (lang, g)),
        |sizes AS (SELECT doc_id, count(*) AS c FROM g GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM g a JOIN g b
        |    ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cc AS (
        |  SELECT a_id, b_id,
        |    round(CAST(i AS DOUBLE) / ca.c, 6) AS c_ab,
        |    round(CAST(i AS DOUBLE) / cb.c, 6) AS c_ba
        |  FROM inter
        |  JOIN sizes ca ON a_id = ca.doc_id
        |  JOIN sizes cb ON b_id = cb.doc_id)
        |SELECT a_id, b_id, c_ab, c_ba FROM cc
        |WHERE c_ab >= ${operators.Dedup.containmentThreshold}
        |   OR c_ba >= ${operators.Dedup.containmentThreshold}
        |ORDER BY a_id, b_id""".stripMargin,
    "q_contamination" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang, text,
         |    CASE WHEN ($hex7) % 100 < 90 THEN 'train'
         |         WHEN ($hex7) % 100 < 95 THEN 'val' ELSE 'test' END AS split
         |  FROM documents WHERE doc_id % 10 = 0 AND len(text) >= 8),
         |g0 AS (
         |  SELECT DISTINCT doc_id, lang, split, substr(text, CAST(i AS INTEGER), 8) AS g
         |  FROM (SELECT doc_id, lang, split, text,
         |          unnest(generate_series(1, len(text) - 7)) AS i FROM s)),
         |keep AS (SELECT lang, g FROM g0 GROUP BY lang, g
         |         HAVING count(*) <= ${operators.Dedup.maxShingleDf}),
         |g AS (SELECT g0.* FROM g0 JOIN keep USING (lang, g)),
         |pairs AS (
         |  SELECT t.doc_id AS test_id, tr.doc_id AS train_id, count(*) AS shared
         |  FROM g t JOIN g tr ON t.g = tr.g AND t.lang = tr.lang
         |  WHERE t.split = 'test' AND tr.split = 'train'
         |  GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT test_id, count(*) AS n_train_matches, max(shared) AS max_shared
         |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin,
    "ann_brute_force" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |pairs AS (
         |  SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos
         |  FROM q, embeddings e WHERE e.vec_id <> q.q_id)
         |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM pairs) t
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "ann_bucketed" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
         |  FROM e WHERE vec_id < 8),
         |pairs AS (
         |  SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos
         |  FROM q JOIN e ON e.bucket = q.q_bucket AND e.vec_id <> q.q_id)
         |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM pairs) t
         |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    // k-means training (seed = first ⌈√N⌉ vectors, 2 Lloyd iterations)
    // replayed exactly, then top-2-cell probed search — mirrors
    // Similarity.ivfTopK with lloydIters=2, nprobe=2.
    "ann_ivf" ->
      s"""WITH $ivfTrainCtes,
         |${ivfProbeCtes(2)}
         |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM iv_pairs) t
         |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    // cluster-balanced sample: final trained assignment (asg2), then a
    // per-cell quota picked by the deterministic md5(vec_id) order
    "emb_cluster_sample" ->
      s"""WITH $ivfTrainCtes,
         |smp AS (
         |  SELECT cell, vec_id,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS sample_rank
         |  FROM asg2)
         |SELECT cell, CAST(sample_rank AS BIGINT) AS sample_rank, vec_id
         |FROM smp WHERE sample_rank <= ${operators.Similarity.clusterSampleK}
         |ORDER BY cell, sample_rank""".stripMargin,
    "ann_recall" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |bf AS (
         |  SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos
         |  FROM q, embeddings e WHERE e.vec_id <> q.q_id),
         |truth AS (
         |  SELECT q_id, vec_id AS true_nn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |    FROM bf) t WHERE rn = 1),
         |eb AS (
         |  SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |qb AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
         |  FROM eb WHERE vec_id < 8),
         |bk_pairs AS (
         |  SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos
         |  FROM qb JOIN eb e ON e.bucket = qb.q_bucket AND e.vec_id <> qb.q_id),
         |bk AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |    FROM bk_pairs) t WHERE rn <= 3),
         |hits AS (
         |  SELECT truth.q_id,
         |    max(CASE WHEN bk.vec_id = truth.true_nn THEN 1 ELSE 0 END) AS hit
         |  FROM truth LEFT JOIN bk ON bk.q_id = truth.q_id
         |  GROUP BY truth.q_id)
         |SELECT 'bucketed' AS method, count(*) AS n_queries,
         |  CAST(sum(hit) AS DOUBLE) / count(*) AS recall
         |FROM hits""".stripMargin,
    "ann_ivf_recall" -> ivfRecallSql(2, "ivf"),
    "ann_pq_codes" -> pqCodesSql,
    "ann_pq_codes_k256" ->
      pqCodesPackedSql(operators.Pq.productionCodebookSize),
    "ann_pq_recall" -> pqRecallSql(),
    "ann_pq_recall_k256" ->
      pqRecallSql(operators.Pq.productionCodebookSize,
        s"pq_k${operators.Pq.productionCodebookSize}"),
    "ann_ivfpq_recall" -> ivfPqRecallSql,
    // OPQ: rotation training replayed (covariance → 64 GS-deflation
    // rounds → snake eigenvalue allocation), then the UNCHANGED PQ
    // K=256 chain aimed at the rotated corpus; truth/re-rank stay in
    // the original space (pqRecallSql src/preCtes parameters).
    "opq_rotation" ->
      s"""WITH $opqTrainCtes
         |SELECT out_dim, in_dim, w, lam FROM orot
         |ORDER BY out_dim, in_dim""".stripMargin,
    "ann_opq_recall" ->
      pqRecallSql(operators.Pq.productionCodebookSize,
        s"opq_k${operators.Pq.productionCodebookSize}",
        src = "rembeddings", preCtes = s"$opqTrainCtes,\n"),
    "ann_ivf_recall_np1" -> ivfRecallSql(1, "ivf_np1"),
    // SemDeDup replayed: the same k-means training CTEs end in asg2
    // (the final cell assignment); within-cell pairs above tau mark
    // each victim with its smallest earlier near-duplicate.
    "emb_semantic_dedup" ->
      s"""WITH $ivfTrainCtes,
         |sd_pairs AS (
         |  SELECT b.vec_id, a.vec_id AS a_id,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM asg2 a JOIN asg2 b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |sd_dups AS (
         |  SELECT vec_id, min(a_id) AS dup_of FROM sd_pairs
         |  WHERE cos >= ${operators.Similarity.semanticDupTau}
         |  GROUP BY vec_id)
         |SELECT g.vec_id, g.cell, d.dup_of,
         |  d.dup_of IS NOT NULL AS is_semantic_dup
         |FROM asg2 g LEFT JOIN sd_dups d ON g.vec_id = d.vec_id
         |ORDER BY g.vec_id""".stripMargin,
    "emb_norm_outliers" ->
      """WITH n AS (
        |  SELECT vec_id,
        |    round(sqrt((SELECT sum(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) *
        |                           CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE))
        |                FROM unnest(generate_series(1, len(embedding))) t(i))), 4)
        |      AS nrm
        |  FROM embeddings),
        |b AS (SELECT round(quantile_cont(nrm, 0.01), 4) AS lo,
        |             round(quantile_cont(nrm, 0.99), 4) AS hi FROM n)
        |SELECT vec_id, nrm AS l2_norm, (nrm < lo OR nrm > hi) AS is_outlier
        |FROM n, b ORDER BY vec_id""".stripMargin,
    // codes are trunc(x·127/maxabs) — both engines truncate toward
    // zero — so every integer output is exact; the reconstruction
    // error's dot products are rounded at 6, nine orders above the
    // double-reorder noise (the cosSql discipline)
    "emb_int8_quant" ->
      """WITH b AS (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
        |    list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))))
        |      AS maxabs
        |  FROM embeddings),
        |qq AS (
        |  SELECT vec_id, x, maxabs,
        |    CASE WHEN maxabs = 0
        |      THEN list_transform(x, v -> CAST(0 AS BIGINT))
        |      ELSE list_transform(x,
        |        v -> CAST(trunc((v * 127.0) / maxabs) AS BIGINT)) END AS q
        |  FROM b),
        |qd AS (
        |  SELECT vec_id, x, maxabs, q,
        |    list_transform(q, v -> CAST(v AS DOUBLE)) AS qd
        |  FROM qq)
        |SELECT vec_id, maxabs,
        |  CAST(list_sum(q) AS BIGINT) AS sum_q,
        |  CAST(list_min(q) AS BIGINT) AS min_q,
        |  CAST(list_max(q) AS BIGINT) AS max_q,
        |  round(
        |    (SELECT sum(x[CAST(i AS INTEGER)] * x[CAST(i AS INTEGER)])
        |     FROM unnest(generate_series(1, len(x))) t(i))
        |    - 2.0 * (maxabs / 127.0) *
        |      (SELECT sum(x[CAST(i AS INTEGER)] * qd[CAST(i AS INTEGER)])
        |       FROM unnest(generate_series(1, len(x))) t(i))
        |    + (maxabs / 127.0) * (maxabs / 127.0) *
        |      (SELECT sum(qd[CAST(i AS INTEGER)] * qd[CAST(i AS INTEGER)])
        |       FROM unnest(generate_series(1, len(x))) t(i)), 6)
        |    AS recon_err
        |FROM qd ORDER BY vec_id""".stripMargin,
    "emb_label_separation" ->
      s"""WITH dims AS (
         |  SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
         |  FROM embeddings CROSS JOIN
         |    generate_series(1, ${operators.Quantize.embeddingDim}) t(i)
         |  WHERE i <= len(embedding)),
         |means AS (
         |  SELECT label, dim, round(sum(x) / count(*), 6) AS m
         |  FROM dims GROUP BY 1, 2),
         |memb AS (
         |  SELECT d.vec_id, d.label,
         |    round(sqrt(sum((d.x - m.m) * (d.x - m.m))), 4) AS dd
         |  FROM dims d JOIN means m ON m.label = d.label AND m.dim = d.dim
         |  GROUP BY 1, 2),
         |intra AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS n,
         |    round(avg(dd), 4) AS mean_intra
         |  FROM memb GROUP BY 1),
         |pairs AS (
         |  SELECT a.label AS label_a, b.label AS label_b,
         |    round(sqrt(sum((a.m - b.m) * (a.m - b.m))), 4) AS centroid_dist
         |  FROM means a JOIN means b ON a.dim = b.dim AND a.label < b.label
         |  GROUP BY 1, 2)
         |SELECT p.label_a, p.label_b, ia.n AS n_a, ib.n AS n_b,
         |  p.centroid_dist, ia.mean_intra AS intra_a,
         |  ib.mean_intra AS intra_b,
         |  CASE WHEN ia.mean_intra + ib.mean_intra > 0 THEN
         |    round(p.centroid_dist / ((ia.mean_intra + ib.mean_intra) / 2), 4)
         |  END AS separation
         |FROM pairs p JOIN intra ia ON ia.label = p.label_a
         |             JOIN intra ib ON ib.label = p.label_b
         |ORDER BY 1, 2""".stripMargin,
    // the labelSeparation distance convention (round-6 centroids,
    // round-4 Euclidean); nearest-other is the min-probe + smallest
    // clabel read-off, mirrored — see Quantize.hardNegatives
    "emb_hard_negatives" ->
      s"""WITH dims AS (
         |  SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
         |  FROM embeddings CROSS JOIN
         |    generate_series(1, ${operators.Quantize.embeddingDim}) t(i)
         |  WHERE i <= len(embedding)),
         |means AS (
         |  SELECT label AS clabel, dim, round(sum(x) / count(*), 6) AS m
         |  FROM dims GROUP BY 1, 2),
         |dist AS (
         |  SELECT d.vec_id, d.label, m.clabel,
         |    round(sqrt(sum((d.x - m.m) * (d.x - m.m))), 4) AS dd
         |  FROM dims d JOIN means m ON m.dim = d.dim
         |  GROUP BY 1, 2, 3),
         |own AS (
         |  SELECT vec_id, label, dd AS d_own FROM dist
         |  WHERE label = clabel),
         |mo AS (
         |  SELECT vec_id, min(dd) AS d_other FROM dist
         |  WHERE label <> clabel GROUP BY 1),
         |ne AS (
         |  SELECT t.vec_id, t.dd AS d_other,
         |    CAST(min(t.clabel) AS INTEGER) AS other_label
         |  FROM dist t JOIN mo ON mo.vec_id = t.vec_id
         |    AND t.dd = mo.d_other
         |  WHERE t.label <> t.clabel
         |  GROUP BY 1, 2)
         |SELECT o.vec_id, o.label, o.d_own, ne.other_label, ne.d_other,
         |  round(ne.d_other - o.d_own, 4) AS margin,
         |  (ne.d_other - o.d_own <
         |    ${operators.Quantize.hardNegativeMargin}) AS is_hard
         |FROM own o JOIN ne ON ne.vec_id = o.vec_id
         |ORDER BY o.vec_id""".stripMargin,
    // bucketedTopK's determinism contract (round-4 cosine, rank by
    // cos desc then vec_id) both directions, then the reciprocal
    // equi-join — see Similarity.mutualKnnPairs
    "emb_mutual_knn" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM e a JOIN e b
         |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |tk AS (
         |  SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |    FROM pairs) t
         |  WHERE rn <= ${Similarity.mutualK})
         |SELECT x.q_id AS vec_a, x.vec_id AS vec_b, x.cos AS cos,
         |  x.rn AS rank_ab, y.rn AS rank_ba
         |FROM tk x JOIN tk y
         |  ON x.q_id = y.vec_id AND x.vec_id = y.q_id
         |  AND x.q_id < x.vec_id
         |ORDER BY 1, 2""".stripMargin,
    // majority vote over the same bucket-local top-k; ties break to
    // the smallest label via the max-count probe + min read-off — see
    // Similarity.knnLabelAccuracy
    "emb_knn_accuracy" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, label, $bucketSql AS bucket
         |  FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
         |    b.label AS v_label,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM e a JOIN e b
         |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |tk AS (
         |  SELECT q_id, v_label FROM (
         |    SELECT q_id, v_label, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |    FROM pairs) t
         |  WHERE rn <= ${Similarity.mutualK}),
         |votes AS (
         |  SELECT q_id, v_label, CAST(count(*) AS BIGINT) AS n_votes
         |  FROM tk GROUP BY 1, 2),
         |tp AS (SELECT q_id, max(n_votes) AS n_top FROM votes GROUP BY 1),
         |pred AS (
         |  SELECT v.q_id, CAST(min(v.v_label) AS INTEGER) AS pred_label
         |  FROM votes v JOIN tp ON tp.q_id = v.q_id
         |    AND v.n_votes = tp.n_top
         |  GROUP BY 1),
         |sc AS (
         |  SELECT e.label, CAST(count(*) AS BIGINT) AS n_scored,
         |    CAST(sum(CASE WHEN pred_label = e.label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_correct
         |  FROM pred JOIN e ON e.vec_id = pred.q_id
         |  GROUP BY 1)
         |SELECT label, n_scored, n_correct,
         |  round(CAST(n_correct AS DOUBLE) / CAST(n_scored AS DOUBLE), 6)
         |    AS accuracy
         |FROM sc ORDER BY 1""".stripMargin,
    "text_bigram_entropy" ->
      """WITH b AS (
        |  SELECT doc_id, substr(text, CAST(i AS INTEGER), 2) AS bg
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, len(text) - 1)) AS i
        |        FROM documents WHERE len(text) >= 2)),
        |c AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
        |ag AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_distinct
        |  FROM c GROUP BY 1),
        |ts AS (
        |  SELECT c.doc_id, ag.n, ag.n_distinct,
        |    list((CAST(c.c AS DOUBLE) / CAST(ag.n AS DOUBLE)) *
        |         ln(CAST(c.c AS DOUBLE) / CAST(ag.n AS DOUBLE))
        |         ORDER BY c.bg) AS terms
        |  FROM c JOIN ag ON ag.doc_id = c.doc_id
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, n AS n_bigrams, n_distinct,
        |  round(-list_reduce(list_prepend(CAST(0 AS DOUBLE), terms),
        |        (acc, x) -> acc + x), 4) AS entropy
        |FROM ts ORDER BY doc_id""".stripMargin,
    "text_novelty" ->
      """WITH gt AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 8) AS g
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, len(text) - 7)) AS i
        |        FROM documents WHERE len(text) >= 8)),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM gt GROUP BY 1)
        |SELECT gt.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN f.first_doc = gt.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN f.first_doc = gt.doc_id THEN 1 ELSE 0 END)
        |          AS DOUBLE) / count(*), 6) AS novelty
        |FROM gt JOIN f USING (g) GROUP BY 1 ORDER BY 1""".stripMargin,
    // C4 line dedup: 5-word-window lineation (corpus has no newlines —
    // a newline corpus would split on '\n' through the same pipeline),
    // corpus-wide exact-line count, first occurrence = min scaled key
    // doc_id*100000+line_no, ordered reassembly of kept lines
    "text_line_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS ws
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS line_no,
        |    array_to_string(ws[CAST(i*5+1 AS INT):CAST(i*5+5 AS INT)], ' ')
        |      AS line
        |  FROM (SELECT doc_id, ws,
        |          unnest(range(0, (len(ws)+4)//5)) AS i FROM w) t),
        |g AS (
        |  SELECT line, count(*) AS c,
        |    min(doc_id*100000+line_no) AS fk
        |  FROM l GROUP BY 1),
        |f AS (
        |  SELECT l.doc_id, l.line_no, l.line,
        |    (g.c = 1 OR l.doc_id*100000+l.line_no = g.fk) AS keep
        |  FROM l JOIN g USING (line))
        |SELECT doc_id,
        |  coalesce(string_agg(line, ' ' ORDER BY line_no)
        |    FILTER (WHERE keep), '') AS clean_text,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT)
        |    AS kept_lines,
        |  CAST(coalesce(sum(CASE WHEN NOT keep THEN 1 END), 0) AS BIGINT)
        |    AS removed_lines,
        |  CAST(coalesce(sum(CASE WHEN NOT keep THEN length(line) END), 0)
        |    AS BIGINT) AS removed_chars
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // incremental line dedup: the oracle IS the full recompute
    // restricted to the delta batch (doc_id % 10 = 0) — hash equality
    // against it is the driver-level merge == recompute certificate
    // for the mergeable line census (c sums, fk min-merges)
    "text_line_dedup_incr" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS ws
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS line_no,
        |    array_to_string(ws[CAST(i*5+1 AS INT):CAST(i*5+5 AS INT)], ' ')
        |      AS line
        |  FROM (SELECT doc_id, ws,
        |          unnest(range(0, (len(ws)+4)//5)) AS i FROM w) t),
        |g AS (
        |  SELECT line, count(*) AS c,
        |    min(doc_id*100000+line_no) AS fk
        |  FROM l GROUP BY 1),
        |f AS (
        |  SELECT l.doc_id, l.line_no, l.line,
        |    (g.c = 1 OR l.doc_id*100000+l.line_no = g.fk) AS keep
        |  FROM l JOIN g USING (line))
        |SELECT doc_id,
        |  coalesce(string_agg(line, ' ' ORDER BY line_no)
        |    FILTER (WHERE keep), '') AS clean_text,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT)
        |    AS kept_lines,
        |  CAST(coalesce(sum(CASE WHEN NOT keep THEN 1 END), 0) AS BIGINT)
        |    AS removed_lines,
        |  CAST(coalesce(sum(CASE WHEN NOT keep THEN length(line) END), 0)
        |    AS BIGINT) AS removed_chars
        |FROM f WHERE doc_id % 10 = 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Unicode normalization pre-pass: strip Cc minus tab/newline/CR
    // (explicit RE2 ranges — the engine compares the same hex ranges),
    // NFC after the strip (both engines implement the stabilized
    // Unicode NFC), mojibake = U+FFFD count in the original
    "text_normalize" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g') AS st
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(st) AS norm_text,
        |  CAST(length(text) - length(st) AS BIGINT) AS n_ctrl_stripped,
        |  CAST(length(text) - length(replace(text, chr(65533), ''))
        |    AS BIGINT) AS n_mojibake,
        |  CAST(CASE WHEN nfc_normalize(st) = text THEN 0 ELSE 1 END
        |    AS BIGINT) AS changed
        |FROM s ORDER BY doc_id""".stripMargin,
    // normalization over corpus + planted Unicode probes: the corpus
    // is pure ASCII (text_normalize certifies the identity there), so
    // this row is the DRIVER-level certificate of the non-trivial
    // transform — decomposed→NFC, C0/C1 control strip, mojibake
    // count, astral passthrough, strip-before-NFC ordering. The
    // probe strings reach DuckDB as chr(codepoint) expressions
    // GENERATED from TextAnalysis.unicodeProbes, so both engines
    // consume the identical codepoint sequences by construction (a
    // raw literal could be renormalized in transport).
    "text_normalize_unicode" -> {
      val probeRows = operators.TextAnalysis.unicodeProbes.map {
        case (id, text) => s"(CAST($id AS BIGINT), ${chrSql(text)})"
      }.mkString(",\n      ")
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    $probeRows) v(doc_id, text)),
         |s AS (
         |  SELECT doc_id, text,
         |    regexp_replace(text,
         |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]', '', 'g')
         |      AS st
         |  FROM docs)
         |SELECT doc_id, nfc_normalize(st) AS norm_text,
         |  CAST(length(text) - length(st) AS BIGINT) AS n_ctrl_stripped,
         |  CAST(length(text) - length(replace(text, chr(65533), ''))
         |    AS BIGINT) AS n_mojibake,
         |  CAST(CASE WHEN nfc_normalize(st) = text THEN 0 ELSE 1 END
         |    AS BIGINT) AS changed
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "emb_centroid_drift" ->
      s"""WITH dims AS (
         |  SELECT (vec_id % 2 = 0) AS old_half, CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
         |  FROM embeddings CROSS JOIN
         |    generate_series(1, ${operators.Quantize.embeddingDim}) t(i)
         |  WHERE i <= len(embedding)),
         |means AS (
         |  SELECT old_half, dim, CAST(count(*) AS BIGINT) AS n,
         |    round(sum(x) / count(*), 6) AS m
         |  FROM dims GROUP BY 1, 2),
         |o AS (SELECT dim, n AS n_old_dims, m AS m_old
         |      FROM means WHERE old_half),
         |w AS (SELECT dim, n AS n_new_dims, m AS m_new
         |      FROM means WHERE NOT old_half)
         |SELECT CAST(min(n_old_dims) AS BIGINT) AS n_old,
         |  CAST(min(n_new_dims) AS BIGINT) AS n_new,
         |  round(sqrt(sum((m_old - m_new) * (m_old - m_new))), 4)
         |    AS centroid_dist,
         |  round(max(abs(m_old - m_new)), 6) AS max_dim_drift
         |FROM o JOIN w USING (dim)""".stripMargin,
    // centered power iteration unrolled (the ivfTrainCtes discipline):
    // per-dim means, per-row scores, and the re-normalized direction
    // are all rounded at 6 before reuse, so three matvecs replay
    // bit-stable across engines
    "emb_top_pc" ->
      s"""WITH $pcFitCtes
         |SELECT v$pcLast.dim, mu.mu AS mean, v$pcLast.v AS loading,
         |  CASE WHEN nrow.n > 1 THEN round(n$pcLast.nrm / (nrow.n - 1), 6)
         |  ELSE 0.0 END AS pc_var
         |FROM v$pcLast JOIN mu USING (dim) CROSS JOIN n$pcLast CROSS JOIN nrow
         |ORDER BY dim""".stripMargin,
    // the transform applied: projection coefficient onto the fitted
    // top PC and the Pythagorean residual √max(‖c‖² − coef², 0) —
    // the identity IS the definition (v is round-6, not perfectly
    // unit), stated identically on both sides
    "emb_abtt_residual" ->
      s"""WITH $pcFitCtes,
         |proj AS (
         |  SELECT c.vec_id, round(sum(c.x * p.v), 6) AS coef,
         |    round(sum(c.x * c.x), 6) AS ss
         |  FROM c JOIN v$pcLast p USING (dim) GROUP BY c.vec_id)
         |SELECT vec_id, coef,
         |  round(sqrt(greatest(ss - coef * coef, 0.0)), 6) AS residual_norm
         |FROM proj ORDER BY vec_id""".stripMargin,
    "emb_dim_variance" ->
      s"""WITH e AS (
        |  SELECT CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN
        |    generate_series(1, ${operators.Quantize.embeddingDim}) t(i)
        |  WHERE i <= len(embedding)),
        |agg AS (
        |  SELECT dim, count(*) AS n, sum(x) AS s, sum(x * x) AS ss
        |  FROM e GROUP BY 1),
        |cells AS (
        |  SELECT dim, round(s / n, 6) AS mean,
        |    CASE WHEN n > 1
        |      THEN round((ss - s * (s / n)) / (n - 1), 6) END AS variance
        |  FROM agg),
        |tot AS (SELECT sum(variance) AS total_var FROM cells),
        |cum AS (
        |  SELECT c.dim, c.mean, c.variance, t.total_var,
        |    sum(c2.variance) AS cum_var
        |  FROM cells c CROSS JOIN tot t
        |       JOIN cells c2 ON c2.dim <= c.dim
        |  GROUP BY 1, 2, 3, 4)
        |SELECT dim, mean, variance,
        |  CASE WHEN total_var > 0 THEN round(variance / total_var, 6)
        |  END AS var_share,
        |  CASE WHEN total_var > 0 THEN round(cum_var / total_var, 6)
        |  END AS cum_share
        |FROM cum ORDER BY dim""".stripMargin,
    // whitening applied: same power-sum moments as emb_dim_variance,
    // σ = round-6 sqrt, each z round-6 before reuse; Σz² rounds at 6
    // before the sqrt (pcFit discipline) and z_max stays at scale 6
    // (coarser re-rounds of round-6 values are true-tie coin flips);
    // σ = 0 dims whiten to exactly 0 on both engines
    "emb_whiten" ->
      s"""WITH e AS (
        |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN
        |    generate_series(1, ${operators.Quantize.embeddingDim}) t(i)
        |  WHERE i <= len(embedding)),
        |st AS (
        |  SELECT dim, count(*) AS n, sum(x) AS s, sum(x * x) AS ss
        |  FROM e GROUP BY 1),
        |mo AS (
        |  SELECT dim, round(s / n, 6) AS mean,
        |    CASE WHEN n > 1
        |      THEN round((ss - s * (s / n)) / (n - 1), 6) END AS variance
        |  FROM st),
        |md AS (
        |  SELECT dim, mean,
        |    CASE WHEN variance > 0
        |      THEN round(sqrt(greatest(variance, 0.0)), 6)
        |      ELSE 0.0 END AS sigma
        |  FROM mo),
        |z AS (
        |  SELECT e.vec_id,
        |    CASE WHEN md.sigma > 0
        |      THEN round((e.x - md.mean) / md.sigma, 6)
        |      ELSE 0.0 END AS z
        |  FROM e JOIN md ON md.dim = e.dim)
        |SELECT vec_id, round(sqrt(round(sum(z * z), 6)), 4) AS z_norm,
        |  round(max(abs(z)), 6) AS z_max,
        |  CAST(sum(CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_extreme_dims
        |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "emb_mrl_topk" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb
         |  FROM embeddings WHERE vec_id IN ${annSampleIds(5)}),
         |scored AS (
         |  SELECT q_id, e.vec_id,
         |    ${cosPrefixSql("q_emb", "e.embedding", operators.Quantize.mrlDim)}
         |      AS cos
         |  FROM q, embeddings e WHERE e.vec_id <> q.q_id)
         |SELECT q_id, rn, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |                               ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored) t WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    "emb_mrl_overlap" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb
         |  FROM embeddings WHERE vec_id IN ${annSampleIds(5)}),
         |bf AS (
         |  SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos
         |  FROM q, embeddings e WHERE e.vec_id <> q.q_id),
         |truth AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |                                 ORDER BY cos DESC, vec_id) AS rn
         |    FROM bf) t WHERE rn <= ${operators.Quantize.mrlOverlapK}),
         |ts AS (
         |  SELECT q_id, e.vec_id,
         |    ${cosPrefixSql("q_emb", "e.embedding", operators.Quantize.mrlDim)}
         |      AS cos
         |  FROM q, embeddings e WHERE e.vec_id <> q.q_id),
         |got AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |                                 ORDER BY cos DESC, vec_id) AS rn
         |    FROM ts) t WHERE rn <= ${operators.Quantize.mrlOverlapK}),
         |hits AS (
         |  SELECT truth.q_id, count(got.vec_id) AS hits
         |  FROM truth LEFT JOIN got
         |    ON got.q_id = truth.q_id AND got.vec_id = truth.vec_id
         |  GROUP BY truth.q_id)
         |SELECT 'mrl${operators.Quantize.mrlDim}' AS method,
         |  count(*) AS n_queries,
         |  round(CAST(sum(hits) AS DOUBLE) /
         |        (count(*) * ${operators.Quantize.mrlOverlapK}), 4)
         |    AS mean_overlap
         |FROM hits""".stripMargin,
    "emb_near_dup_pairs" ->
      s"""WITH a AS (
         |  SELECT vec_id AS a_id, label, embedding AS a_emb
         |  FROM embeddings WHERE vec_id % 7 = 0),
         |b AS (
         |  SELECT vec_id AS b_id, label AS b_label, embedding AS b_emb
         |  FROM embeddings WHERE vec_id % 7 = 1),
         |p AS (
         |  SELECT a_id, b_id, label, ${cosSql("a_emb", "b_emb")} AS cos
         |  FROM a JOIN b ON label = b_label AND a_id < b_id)
         |SELECT a_id, b_id, label, cos FROM p WHERE cos >= 0.25
         |ORDER BY a_id, b_id""".stripMargin,
    "emb_srp_signatures" ->
      s"""WITH $srpSigCtes
         |SELECT vec_id, sig AS srp_sig, sig % $srpBandMod AS band_lo,
         |  sig // $srpBandMod AS band_hi
         |FROM srp_sigs ORDER BY vec_id""".stripMargin,
    "emb_srp_degree" ->
      s"""WITH $srpSigCtes,
         |bands AS (
         |  SELECT vec_id, 0 AS band, sig % $srpBandMod AS key FROM srp_sigs
         |  UNION ALL
         |  SELECT vec_id, 1 AS band, sig // $srpBandMod AS key FROM srp_sigs),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
         |pp AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, ${cosSql("ea.embedding", "eb.embedding")}
         |      AS cos
         |    FROM cand JOIN embeddings ea ON ea.vec_id = cand.a_id
         |              JOIN embeddings eb ON eb.vec_id = cand.b_id) s
         |  WHERE cos >= ${operators.RandomProjection.srpTau}),
         |deg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS degree
         |  FROM (SELECT a_id AS id FROM pp UNION ALL SELECT b_id FROM pp)
         |  GROUP BY 1),
         |hist AS (
         |  SELECT degree, CAST(count(*) AS BIGINT) AS n_vecs
         |  FROM deg GROUP BY 1),
         |z AS (
         |  SELECT CAST(0 AS BIGINT) AS degree,
         |    (SELECT CAST(count(*) AS BIGINT) FROM embeddings) -
         |    (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_vecs)
         |SELECT degree, n_vecs FROM z WHERE n_vecs > 0
         |UNION ALL
         |SELECT degree, n_vecs FROM hist
         |ORDER BY degree""".stripMargin,
    "emb_srp_pairs" ->
      s"""WITH $srpSigCtes,
         |bands AS (
         |  SELECT vec_id, 0 AS band, sig % $srpBandMod AS key FROM srp_sigs
         |  UNION ALL
         |  SELECT vec_id, 1 AS band, sig // $srpBandMod AS key FROM srp_sigs),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT a_id, b_id, ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |  FROM cand JOIN embeddings ea ON ea.vec_id = cand.a_id
         |            JOIN embeddings eb ON eb.vec_id = cand.b_id)
         |SELECT a_id, b_id, cos FROM scored
         |WHERE cos >= ${operators.RandomProjection.srpTau}
         |ORDER BY a_id, b_id""".stripMargin,
    "emb_srp_recall" ->
      s"""WITH $srpSigCtes,
         |ta AS (
         |  SELECT vec_id AS a_id, label, embedding AS a_emb
         |  FROM embeddings WHERE vec_id % 7 = 0),
         |tb AS (
         |  SELECT vec_id AS b_id, label AS b_label, embedding AS b_emb
         |  FROM embeddings WHERE vec_id % 7 = 1),
         |truth AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, ${cosSql("a_emb", "b_emb")} AS cos
         |    FROM ta JOIN tb ON label = b_label AND a_id < b_id) p
         |  WHERE cos >= ${operators.RandomProjection.srpTau}),
         |hits AS (
         |  SELECT (sa.sig % $srpBandMod = sb.sig % $srpBandMod OR
         |          sa.sig // $srpBandMod = sb.sig // $srpBandMod) AS hit
         |  FROM truth JOIN srp_sigs sa ON sa.vec_id = truth.a_id
         |             JOIN srp_sigs sb ON sb.vec_id = truth.b_id)
         |SELECT 'srp${operators.RandomProjection.srpBits}x2' AS method,
         |  count(*) AS n_true,
         |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
         |  CASE WHEN count(*) = 0 THEN NULL
         |       ELSE round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)
         |                  / count(*), 4) END AS recall
         |FROM hits""".stripMargin,
    "emb_srp_incremental" ->
      s"""WITH $srpSigCtes,
         |bands AS (
         |  SELECT vec_id, 0 AS band, sig % $srpBandMod AS key FROM srp_sigs
         |  UNION ALL
         |  SELECT vec_id, 1 AS band, sig // $srpBandMod AS key FROM srp_sigs),
         |cand AS (
         |  SELECT DISTINCT n.vec_id AS new_id, e.vec_id AS ex_id
         |  FROM bands n JOIN bands e
         |    ON n.band = e.band AND n.key = e.key
         |  WHERE n.vec_id % 11 = 5 AND e.vec_id % 11 <> 5),
         |verified AS (
         |  SELECT new_id, ex_id FROM (
         |    SELECT new_id, ex_id,
         |      ${cosSql("en.embedding", "ee.embedding")} AS cos
         |    FROM cand JOIN embeddings en ON en.vec_id = cand.new_id
         |              JOIN embeddings ee ON ee.vec_id = cand.ex_id) t
         |  WHERE cos >= ${operators.RandomProjection.srpTau}),
         |dups AS (
         |  SELECT new_id AS vec_id, min(ex_id) AS dup_of
         |  FROM verified GROUP BY 1)
         |SELECT e.vec_id, d.dup_of, d.dup_of IS NOT NULL AS is_dup
         |FROM embeddings e LEFT JOIN dups d ON d.vec_id = e.vec_id
         |WHERE e.vec_id % 11 = 5
         |ORDER BY e.vec_id""".stripMargin,
    "emb_jl_topk" ->
      s"""WITH $jlProjCtes,
         |q AS (
         |  SELECT vec_id AS q_id, proj AS q_proj, pnrm AS q_pnrm
         |  FROM jl_n WHERE vec_id IN ${annSampleIds(5)}),
         |scored AS (
         |  SELECT q_id, e.vec_id,
         |    round(${projDotSql("q_proj", "e.proj",
                operators.RandomProjection.jlDim)}
         |      / (q_pnrm * e.pnrm), 4) AS cos
         |  FROM q, jl_n e WHERE e.vec_id <> q.q_id),
         |jshort AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |                                 ORDER BY cos DESC, vec_id) AS rn
         |    FROM scored) t
         |  WHERE rn <= ${operators.RandomProjection.jlShortlist}),
         |qf AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb
         |  FROM embeddings WHERE vec_id IN ${annSampleIds(5)}),
         |jre AS (
         |  SELECT s.q_id, s.vec_id, ${cosSql("qf.q_emb", "e.embedding")} AS cos
         |  FROM jshort s JOIN embeddings e ON e.vec_id = s.vec_id
         |                JOIN qf ON qf.q_id = s.q_id)
         |SELECT q_id, rn, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |                               ORDER BY cos DESC, vec_id) AS rn
         |  FROM jre) t WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    "emb_jl_recall" ->
      s"""WITH $jlProjCtes,
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb
         |  FROM embeddings WHERE vec_id IN ${annSampleIds(5)}),
         |bf AS (
         |  SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos
         |  FROM q, embeddings e WHERE e.vec_id <> q.q_id),
         |truth AS (
         |  SELECT q_id, vec_id AS true_nn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |                                 ORDER BY cos DESC, vec_id) AS rn
         |    FROM bf) t WHERE rn = 1),
         |jq AS (
         |  SELECT vec_id AS q_id, proj AS q_proj, pnrm AS q_pnrm
         |  FROM jl_n WHERE vec_id IN ${annSampleIds(5)}),
         |js AS (
         |  SELECT q_id, e.vec_id,
         |    round(${projDotSql("q_proj", "e.proj",
                operators.RandomProjection.jlDim)}
         |      / (q_pnrm * e.pnrm), 4) AS cos
         |  FROM jq, jl_n e WHERE e.vec_id <> jq.q_id),
         |jshort AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |                                 ORDER BY cos DESC, vec_id) AS rn
         |    FROM js) t
         |  WHERE rn <= ${operators.RandomProjection.jlShortlist}),
         |jre AS (
         |  SELECT s.q_id, s.vec_id, ${cosSql("qf.q_emb", "e.embedding")} AS cos
         |  FROM jshort s JOIN embeddings e ON e.vec_id = s.vec_id
         |                JOIN (SELECT vec_id AS q_id, embedding AS q_emb
         |                      FROM embeddings
         |                      WHERE vec_id IN ${annSampleIds(5)}) qf
         |                  ON qf.q_id = s.q_id),
         |jt AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |                                 ORDER BY cos DESC, vec_id) AS rn
         |    FROM jre) t WHERE rn <= 3),
         |hits AS (
         |  SELECT truth.q_id,
         |    max(CASE WHEN jt.vec_id = truth.true_nn THEN 1 ELSE 0 END) AS hit
         |  FROM truth LEFT JOIN jt ON jt.q_id = truth.q_id
         |  GROUP BY truth.q_id)
         |SELECT 'jl${operators.RandomProjection.jlDim}' AS method,
         |  count(*) AS n_queries,
         |  round(CAST(sum(hit) AS DOUBLE) / count(*), 4) AS recall
         |FROM hits""".stripMargin,
    "text_dsir_weights" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_tokens, sc / 10000.0 AS dsir_logw, sc > 0 AS selected
         |FROM s ORDER BY doc_id""".stripMargin,
    "text_dsir_resample" ->
      s"""WITH $dsirCtes,
         |u AS (
         |  SELECT doc_id, sc,
         |    ${hex7Of("CAST(doc_id AS VARCHAR) || '#dsir-u'")} AS u28,
         |    CAST(round(exp(least(sc, 0) / 10000.0) * 1000000) AS BIGINT)
         |      AS p_scaled
         |  FROM s)
         |SELECT doc_id, sc / 10000.0 AS dsir_logw,
         |  p_scaled / 1000000.0 AS p_accept, u28,
         |  u28 * 1000000 < p_scaled * 268435456 AS accepted
         |FROM u ORDER BY doc_id""".stripMargin,

    "text_rrf_fusion" ->
      s"""WITH $bm25Ctes,
         |bm AS (
         |  SELECT doc_id,
         |    round(coalesce(c0, 0.0) + coalesce(c1, 0.0) + coalesce(c2, 0.0), 4)
         |      AS bm25
         |  FROM p),
         |sparse AS (
         |  SELECT id, r_sparse FROM (
         |    SELECT doc_id AS id,
         |      row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_sparse
         |    FROM bm) t
         |  WHERE r_sparse <= ${operators.Retrieval.rrfDepth}),
         |qv AS (SELECT embedding AS q_emb FROM embeddings
         |       WHERE vec_id = ${operators.Retrieval.rrfQueryVec}),
         |dcos AS (
         |  SELECT e.vec_id AS id, ${cosSql("qv.q_emb", "e.embedding")} AS cos
         |  FROM embeddings e CROSS JOIN qv
         |  WHERE e.vec_id <> ${operators.Retrieval.rrfQueryVec}),
         |dense AS (
         |  SELECT id, r_dense FROM (
         |    SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS r_dense
         |    FROM dcos) t
         |  WHERE r_dense <= ${operators.Retrieval.rrfDepth}),
         |fused AS (
         |  SELECT coalesce(d.id, sp.id) AS id, d.r_dense, sp.r_sparse,
         |    round(coalesce(1.0 / (${operators.Retrieval.rrfK} + d.r_dense), 0.0)
         |      + coalesce(1.0 / (${operators.Retrieval.rrfK} + sp.r_sparse), 0.0),
         |      6) AS rrf
         |  FROM dense d FULL OUTER JOIN sparse sp ON d.id = sp.id)
         |SELECT rank, id, r_dense, r_sparse, rrf FROM (
         |  SELECT *, row_number() OVER (ORDER BY rrf DESC, id) AS rank
         |  FROM fused) t
         |WHERE rank <= ${operators.Retrieval.rrfTop} ORDER BY rank""".stripMargin,
    "text_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
        |  CAST(sum(len(text)) AS BIGINT) AS total_chars,
        |  CAST(CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS DOUBLE)
        |    / count(*) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // counts/ranks exact integers; one division rounded at 6
    "text_zipf_coverage" ->
      s"""WITH w AS (
         |  SELECT t.w AS w FROM documents,
         |    unnest(string_split(trim(text), ' ')) t(w)),
         |c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY w),
         |r AS (
         |  SELECT w, c,
         |    CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rank
         |  FROM c),
         |ks AS (SELECT CAST(k AS BIGINT) AS k
         |       FROM (VALUES ${operators.TextAnalysis.zipfCutoffs
                        .map(k => s"($k)").mkString(", ")}) v(k)),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_occurrences FROM c)
         |SELECT k, CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(c) AS BIGINT) AS covered, total_occurrences,
         |  round(CAST(sum(c) AS DOUBLE) / total_occurrences, 6) AS coverage
         |FROM r, ks, tot WHERE rank <= k
         |GROUP BY k, total_occurrences ORDER BY k""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(replace(text, ' ', '')) AS DOUBLE)
        |    / len(string_split(trim(text), ' ')) AS avg_token_len,
        |  CAST(len(list_filter(string_split(trim(text), ' '),
        |         t -> list_contains(['the','a','of','and','in','to','is'], t))) AS DOUBLE)
        |    / len(string_split(trim(text), ' ')) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    // every Gopher threshold restated in integer arithmetic on both
    // sides (mean word length in [3,10] ⇔ 3·words ≤ chars ≤ 10·words),
    // so the row carries no floats at all
    // blocklist gate: fixed literal terms, broadcast-join semantics,
    // integer 5% density cut (20*hits <= tokens)
    "text_blocklist_filter" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |btoks AS (
         |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
         |  FROM documents),
         |bl AS (SELECT unnest([$blocklistLits]) AS tok),
         |bhits AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         |    list_sort(list(DISTINCT tok)) AS terms
         |  FROM btoks JOIN bl USING (tok) GROUP BY doc_id)
         |SELECT b.doc_id, b.n_tok,
         |  coalesce(h.n_hits, 0) AS n_hits,
         |  CAST(coalesce(len(h.terms), 0) AS BIGINT) AS n_terms,
         |  coalesce(array_to_string(h.terms, ','), '') AS hit_terms,
         |  CASE WHEN b.n_tok > 0
         |    THEN round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / b.n_tok, 6)
         |  END AS density,
         |  coalesce(h.n_hits, 0) * ${operators.TextAnalysis.blocklistMaxDensityDen}
         |    <= b.n_tok * ${operators.TextAnalysis.blocklistMaxDensityNum} AS keep
         |FROM base b LEFT JOIN bhits h USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "text_gopher_rules" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_words,
        |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |    CAST(len(trim(text))
        |      - (len(string_split(trim(text), ' ')) - 1) AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(string_split(trim(text), ' '),
        |        w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(list_intersect(
        |        list_distinct(list_transform(string_split(trim(text), ' '),
        |          w -> lower(regexp_replace(w, '[^A-Za-z]', '', 'g')))),
        |        ['the','a','of','and','in','to','is'])) AS BIGINT)
        |      AS n_stop,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |        l -> regexp_matches(l, '^[-*•] '))) AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |        l -> regexp_matches(l, '\.\.\.$'))) AS BIGINT) AS n_ell_lines,
        |    CAST(len(regexp_extract_all(text, '#'))
        |      + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS n_symbols
        |  FROM documents),
        |checks AS (
        |  SELECT doc_id, n_words,
        |    (n_words >= 50 AND n_words <= 100000) AS wordcount_ok,
        |    (sum_len >= n_words * 3 AND sum_len <= n_words * 10) AS mean_wl_ok,
        |    (n_symbols * 10 < n_words) AS symbol_ok,
        |    (n_bullet * 10 < n_lines * 9) AS bullet_ok,
        |    (n_ell_lines * 10 < n_lines * 3) AS ellipsis_ok,
        |    (n_alpha * 5 >= n_words * 4) AS alpha_ok,
        |    (n_stop >= 2) AS stop_ok
        |  FROM f)
        |SELECT doc_id, n_words, wordcount_ok, mean_wl_ok, symbol_ok,
        |  bullet_ok, ellipsis_ok, alpha_ok, stop_ok,
        |  (wordcount_ok AND mean_wl_ok AND symbol_ok AND bullet_ok
        |   AND ellipsis_ok AND alpha_ok AND stop_ok) AS gopher_pass
        |FROM checks ORDER BY doc_id""".stripMargin,
    "text_langid_confusion" ->
      """WITH scored AS (
        |  SELECT lang,
        |    len(list_filter(string_split(trim(text), ' '),
        |      t -> list_contains(['the','and','of','is'], t))) AS en,
        |    len(list_filter(string_split(trim(text), ' '),
        |      t -> list_contains(['der','die','das','und'], t))) AS de,
        |    len(list_filter(string_split(trim(text), ' '),
        |      t -> list_contains(['le','la','et','les'], t))) AS fr,
        |    len(list_filter(string_split(trim(text), ' '),
        |      t -> list_contains(['el','los','las','y'], t))) AS es
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |       WHEN fr >= es AND fr > 0 THEN 'fr'
        |       WHEN es > 0 THEN 'es'
        |       ELSE 'und' END AS predicted,
        |  count(*) AS n
        |FROM scored GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    "text_bpe_merges" -> bpeMergesOracle,
    "text_bpe_fertility" -> bpeFertilityOracle,
    "text_bpe_encode" -> bpeEncodeOracle,
    "text_bpe_vocab" -> bpeVocabOracle,
    "text_fingerprints" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality_filter" ->
      """SELECT doc_id, lang FROM documents
        |WHERE len(string_split(trim(text), ' ')) >= 5
        |  AND CAST(len(replace(text, ' ', '')) AS DOUBLE)
        |        / len(string_split(trim(text), ' ')) BETWEEN 2.0 AND 12.0
        |  AND CAST(len(list_filter(string_split(trim(text), ' '),
        |        t -> list_contains(['the','a','of','and','in','to','is'], t))) AS DOUBLE)
        |        / len(string_split(trim(text), ' ')) >= 0.05
        |ORDER BY doc_id""".stripMargin,
    "q_train_split" ->
      s"""WITH b AS (
         |  SELECT lang, text,
         |    CASE WHEN ($hex7) % 100 < 90 THEN 'train'
         |         WHEN ($hex7) % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT split, lang, count(*) AS n_docs,
         |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS n_tokens
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_split_kl" ->
      s"""WITH b AS (
         |  SELECT text,
         |    CASE WHEN ($hex7) % 100 < 90 THEN 'train'
         |         WHEN ($hex7) % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |tok AS (
         |  SELECT split, unnest(string_split(trim(text), ' ')) AS token
         |  FROM b WHERE split IN ('train', 'val')),
         |c AS (
         |  SELECT token,
         |    sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct,
         |    sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS cv
         |  FROM tok GROUP BY 1),
         |t AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
         |             CAST(sum(cv) AS BIGINT) AS tv,
         |             CAST(count(*) AS BIGINT) AS v FROM c),
         |terms AS (
         |  SELECT token, tt, tv, v,
         |    (CAST(ct + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE)) *
         |      ln((CAST(ct + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE)) /
         |         (CAST(cv + 1 AS DOUBLE) / CAST(tv + v AS DOUBLE))) AS t_tv,
         |    (CAST(cv + 1 AS DOUBLE) / CAST(tv + v AS DOUBLE)) *
         |      ln((CAST(cv + 1 AS DOUBLE) / CAST(tv + v AS DOUBLE)) /
         |         (CAST(ct + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE))) AS t_vt
         |  FROM c CROSS JOIN t)
         |SELECT max(tt) AS n_train_tokens, max(tv) AS n_val_tokens,
         |  max(v) AS vocab_size,
         |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list(t_tv ORDER BY token)), (acc, x) -> acc + x), 6)
         |    AS kl_train_val,
         |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list(t_vt ORDER BY token)), (acc, x) -> acc + x), 6)
         |    AS kl_val_train
         |FROM terms""".stripMargin,
    // full source×vocab cross with add-1 smoothing; the per-source
    // sum is the same token-ordered fold as text_split_kl — see
    // Sampling.sourceKlDrift
    "text_source_kl" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(trim(text), ' ')) AS token
        |  FROM documents),
        |st AS (
        |  SELECT source, token, CAST(count(*) AS BIGINT) AS cs
        |  FROM tok GROUP BY 1, 2),
        |c AS (SELECT token, CAST(sum(cs) AS BIGINT) AS cc
        |      FROM st GROUP BY 1),
        |srct AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ts
        |         FROM st GROUP BY 1),
        |t AS (SELECT CAST(sum(cc) AS BIGINT) AS tc,
        |             CAST(count(*) AS BIGINT) AS v FROM c),
        |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM documents GROUP BY 1),
        |x AS (
        |  SELECT s.source, s.ts, c.token,
        |    (CAST(coalesce(st.cs, 0) + 1 AS DOUBLE) /
        |       CAST(s.ts + t.v AS DOUBLE)) *
        |    ln((CAST(coalesce(st.cs, 0) + 1 AS DOUBLE) /
        |        CAST(s.ts + t.v AS DOUBLE)) /
        |       (CAST(c.cc + 1 AS DOUBLE) / CAST(t.tc + t.v AS DOUBLE)))
        |      AS term
        |  FROM c CROSS JOIN srct s
        |  LEFT JOIN st ON st.source = s.source AND st.token = c.token
        |  CROSS JOIN t)
        |SELECT x.source, nd.n_docs, max(x.ts) AS n_tokens,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(term ORDER BY token)), (acc, y) -> acc + y), 6)
        |    AS kl_source_corpus
        |FROM x JOIN nd ON nd.source = x.source
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "text_pmi_pairs" -> {
      val leads = (1 to operators.TextAnalysis.pmiWindow)
        .map(d => s"lead(tok, $d) OVER w AS l$d").mkString(",\n  |    ")
      val prs = (1 to operators.TextAnalysis.pmiWindow)
        .map(d => s"SELECT least(tok, l$d) AS x, greatest(tok, l$d) AS y " +
          s"FROM ld WHERE l$d IS NOT NULL")
        .mkString("\n  |  UNION ALL\n  |  ")
      s"""WITH dd AS (
         |  SELECT doc_id, string_split(trim(text), ' ') AS toks
         |  FROM documents),
         |p0 AS (
         |  SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks
         |  FROM dd),
         |tok0 AS (
         |  SELECT doc_id, i AS pos, toks[CAST(i AS INTEGER)] AS tok FROM p0),
         |ld AS (
         |  SELECT doc_id, tok,
         |    $leads
         |  FROM tok0
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |pr AS (
         |  $prs),
         |c AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
         |      FROM pr GROUP BY 1, 2),
         |m AS (
         |  SELECT t, CAST(sum(c_xy) AS BIGINT) AS c_t
         |  FROM (SELECT x AS t, c_xy FROM c
         |        UNION ALL SELECT y AS t, c_xy FROM c)
         |  GROUP BY 1),
         |n AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_pairs FROM c)
         |SELECT c.x, c.y, c.c_xy,
         |  round(ln(CAST(n_pairs AS DOUBLE) * CAST(c.c_xy AS DOUBLE) /
         |        (CAST(mx.c_t AS DOUBLE) * CAST(my.c_t AS DOUBLE))), 4)
         |    AS pmi
         |FROM c JOIN m mx ON mx.t = c.x
         |       JOIN m my ON my.t = c.y
         |       CROSS JOIN n
         |WHERE c.c_xy >= ${operators.TextAnalysis.pmiMinCount}
         |ORDER BY pmi DESC, x, y
         |LIMIT ${operators.TextAnalysis.pmiTopK}""".stripMargin
    },
    "text_length_histogram" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n
        |  FROM documents),
        |h AS (
        |  SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
        |             CAST(sum(n_tokens) AS BIGINT) AS tt FROM h)
        |SELECT bucket, CAST(power(2, bucket) AS BIGINT) AS bucket_lo,
        |  CAST(power(2, bucket + 1) AS BIGINT) - 1 AS bucket_hi,
        |  n_docs, n_tokens,
        |  round(CAST(n_docs AS DOUBLE) / td, 6) AS doc_share,
        |  round(CAST(n_tokens AS DOUBLE) / tt, 6) AS token_share
        |FROM h CROSS JOIN t ORDER BY bucket""".stripMargin,
    "q_spend_gini" ->
      """WITH per AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS s
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT s, CAST(row_number() OVER (ORDER BY s, o_custkey)
        |    AS BIGINT) AS i
        |  FROM per),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_customers,
        |    CAST(sum(s) AS DOUBLE) AS total_spend,
        |    CAST(sum(CAST(i AS DECIMAL(20,0)) * s) AS DOUBLE)
        |      AS rank_weighted
        |  FROM r)
        |SELECT n_customers, round(total_spend, 4) AS total_spend,
        |  CASE WHEN n_customers > 0 AND total_spend <> 0 THEN
        |    round(2.0 * rank_weighted /
        |          (CAST(n_customers AS DOUBLE) * total_spend) -
        |          CAST(n_customers + 1 AS DOUBLE) /
        |          CAST(n_customers AS DOUBLE), 6)
        |  END AS gini
        |FROM a""".stripMargin,
    // id-tiebroken Spearman: both row_number orders are total (metric,
    // custkey), so every intermediate is an exact integer; the single
    // float is the final ρ expression, stated in the same op order
    "q_spearman" ->
      """WITH cust AS (
        |  SELECT o_custkey AS custkey, CAST(count(*) AS DOUBLE) AS m_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS m_spend
        |  FROM orders GROUP BY 1),
        |r1 AS (SELECT custkey,
        |  CAST(row_number() OVER (ORDER BY m_orders, custkey) AS BIGINT) AS r1
        |  FROM cust),
        |r2 AS (SELECT custkey,
        |  CAST(row_number() OVER (ORDER BY m_spend, custkey) AS BIGINT) AS r2
        |  FROM cust),
        |j AS (SELECT r1.custkey, r1.r1, r2.r2
        |      FROM r1 JOIN r2 ON r2.custkey = r1.custkey),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_customers,
        |    CAST(CAST(sum(CAST((r1 - r2) * (r1 - r2) AS HUGEINT))
        |      AS DECIMAL(38,0)) AS BIGINT) AS sum_d2 FROM j)
        |SELECT n_customers, sum_d2,
        |  CASE WHEN n_customers > 1 THEN
        |    round(1.0 - 6.0 * CAST(sum_d2 AS DOUBLE) /
        |      (CAST(n_customers AS DOUBLE) *
        |       (CAST(n_customers AS DOUBLE) * CAST(n_customers AS DOUBLE)
        |        - 1.0)), 6)
        |  END AS rho
        |FROM agg""".stripMargin,
    // trailing frame as a range self-join over the calendar-bounded
    // daily reduction; revenue stays DECIMAL end to end, cast to
    // double only in the final projection (exact below 2^53 scaled)
    "q_rolling_revenue" ->
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT d.day, d.rev, sum(d2.rev) AS rev_7d,
        |    CAST(count(*) AS BIGINT) AS n_active_days
        |  FROM daily d JOIN daily d2
        |    ON d2.day >= d.day - 6 AND d2.day <= d.day
        |  GROUP BY d.day, d.rev)
        |SELECT day, CAST(rev AS DOUBLE) AS rev,
        |  CAST(rev_7d AS DOUBLE) AS rev_7d, n_active_days,
        |  round(CAST(rev_7d AS DOUBLE) / n_active_days, 4)
        |    AS rev_per_active_day
        |FROM j ORDER BY day""".stripMargin,
    // same daily frame as q_rolling_revenue; the exact-int64 weights
    // 3^d·4^(13−d) regenerate from pow() (every factor and product is
    // < 2^27, exactly representable in double before the BIGINT cast);
    // the numerator accumulates in HUGEINT (weight×micros products
    // overflow int64 past ~1.4·10⁷ revenue units/day) and the half-up
    // round-4 is the INTEGER form (2·10⁴·num+den)//(2·den) — mirrors
    // Intervals.ewmaRevenue's DECIMAL(38,0) discipline bit for bit
    "q_ewma_revenue" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
         |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
         |  FROM orders GROUP BY 1),
         |w AS (
         |  SELECT d, CAST(pow(3, d) AS BIGINT) *
         |    CAST(pow(4, ${operators.Intervals.ewmaDays - 1} - d) AS BIGINT)
         |    AS w
         |  FROM generate_series(0, ${operators.Intervals.ewmaDays - 1}) t(d)),
         |cum AS (SELECT d, CAST(sum(w) OVER (ORDER BY d) AS BIGINT) AS cw
         |        FROM w),
         |d0 AS (SELECT min(day) AS d0 FROM daily),
         |num AS (
         |  SELECT d.day, d.rev,
         |    sum(CAST(w.w AS HUGEINT) * CAST(d2.rev * 10000 AS HUGEINT))
         |      AS num
         |  FROM daily d
         |  JOIN daily d2 ON d2.day >= d.day - ${operators.Intervals.ewmaDays - 1}
         |    AND d2.day <= d.day
         |  JOIN w ON w.d = d.day - d2.day
         |  GROUP BY d.day, d.rev),
         |fin AS (
         |  SELECT n.day, n.rev, n.num,
         |    CAST(c.cw AS HUGEINT) * 10000 AS den
         |  FROM num n, d0, cum c
         |  WHERE c.d = least(${operators.Intervals.ewmaDays - 1},
         |                    n.day - d0.d0))
         |SELECT day, CAST(rev AS DOUBLE) AS rev,
         |  CAST((num * 10000 * 2 + den) // (den * 2) AS DOUBLE) / 10000
         |    AS ewma_rev
         |FROM fin ORDER BY day""".stripMargin,
    // each cell's χ² contribution is floored to exact integer ppm
    // BEFORE the sum via the staged identity 10⁶·a² div den =
    // 10⁶·(a² div den) + 10⁶·(a² mod den) div den (the engine's
    // Stats.chiSquare discipline — never forms the 10⁶·a² product), so
    // the only doubles are the final /1e6 and the round-6 sqrt
    "q_chi_square" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS seg, o_orderpriority AS prio,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT seg, CAST(sum(n_obs) AS BIGINT) AS r_i
        |      FROM cells GROUP BY 1),
        |c AS (SELECT prio, CAST(sum(n_obs) AS BIGINT) AS c_j
        |      FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n,
        |        CAST(count(DISTINCT seg) AS BIGINT) AS nr,
        |        CAST(count(DISTINCT prio) AS BIGINT) AS nc
        |      FROM cells),
        |stage AS (
        |  SELECT n, nr, nc,
        |    (CAST(n AS HUGEINT) * n_obs - CAST(r_i AS HUGEINT) * c_j) *
        |    (CAST(n AS HUGEINT) * n_obs - CAST(r_i AS HUGEINT) * c_j)
        |      AS a2,
        |    CAST(n AS HUGEINT) * r_i * c_j AS den
        |  FROM cells JOIN r USING (seg) JOIN c USING (prio) CROSS JOIN t),
        |p AS (
        |  SELECT n, nr, nc,
        |    CAST(sum(1000000 * (a2 // den) +
        |      (1000000 * (a2 - (a2 // den) * den)) // den) AS BIGINT)
        |      AS ppm
        |  FROM stage GROUP BY 1, 2, 3)
        |SELECT n AS n_total, (nr - 1) * (nc - 1) AS dof,
        |  CAST(ppm AS DOUBLE) / 1e6 AS chi2,
        |  CASE WHEN n > 0 AND least(nr, nc) > 1 THEN
        |    round(sqrt(CAST(ppm AS DOUBLE) / 1e6 /
        |      CAST(n * (least(nr, nc) - 1) AS DOUBLE)), 6) END AS cramers_v
        |FROM p""".stripMargin,
    // inclusive prefix of the per-distinct-price integer n2*c1 - n1*c2
    // IS n1*n2*(F1-F2); max |.| and the min-price argmax read-off
    "q_ks_test" ->
      s"""WITH seg AS (
         |  SELECT c_custkey, c_mktsegment FROM customer
         |  WHERE c_mktsegment IN ('${operators.Stats.ksSegments._1}',
         |                         '${operators.Stats.ksSegments._2}')),
         |hist AS (
         |  SELECT o_totalprice AS price,
         |    CAST(sum(CASE WHEN c_mktsegment =
         |        '${operators.Stats.ksSegments._1}' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN c_mktsegment =
         |        '${operators.Stats.ksSegments._2}' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c2
         |  FROM orders JOIN seg ON c_custkey = o_custkey GROUP BY 1),
         |sz AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
         |         CAST(sum(c2) AS BIGINT) AS n2 FROM hist),
         |cum AS (
         |  SELECT price, n1, n2,
         |    CAST(abs(sum(CAST(n2 AS HUGEINT) * c1 -
         |                 CAST(n1 AS HUGEINT) * c2)
         |               OVER (ORDER BY price))
         |      AS DECIMAL(38,0)) AS gap
         |  FROM hist CROSS JOIN sz),
         |pk AS (SELECT n1, n2, max(gap) AS d_num FROM cum GROUP BY 1, 2)
         |SELECT c.n1, c.n2, CAST(p.d_num AS BIGINT) AS d_num,
         |  CASE WHEN c.n1 > 0 AND c.n2 > 0 THEN
         |    round(CAST(p.d_num AS DOUBLE) /
         |      CAST(CAST(c.n1 AS HUGEINT) * c.n2 AS DOUBLE), 6) END AS d,
         |  CAST(min(price) AS DOUBLE) AS ks_at
         |FROM cum c JOIN pk p
         |  ON c.n1 = p.n1 AND c.n2 = p.n2 AND c.gap = p.d_num
         |GROUP BY c.n1, c.n2, p.d_num""".stripMargin,
    // n·S_t = n·P_t - t·T in exact 1e-4 revenue units (HUGEINT); every
    // mean read-off is the half-up (2·num+den)//(2·den) fixed point
    "q_cusum_changepoint" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(o_orderdate) // ${operators.Behavior.dayUs} AS day,
         |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000
         |      AS HUGEINT) AS x
         |  FROM orders GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS t
         |        FROM daily),
         |s AS (
         |  SELECT day, n, t,
         |    abs(CAST(n AS HUGEINT) * sum(x) OVER (ORDER BY day) -
         |      CAST(row_number() OVER (ORDER BY day) AS HUGEINT) * t)
         |      AS ns
         |  FROM daily CROSS JOIN tot),
         |pk AS (SELECT n, t, max(ns) AS ns_max FROM s GROUP BY 1, 2),
         |cp AS (SELECT s.n, s.t, p.ns_max, min(s.day) AS cp_day
         |       FROM s JOIN pk p ON s.ns = p.ns_max GROUP BY 1, 2, 3),
         |b AS (SELECT CAST(count(*) AS BIGINT) AS n_b, sum(x) AS s_b
         |      FROM daily, cp WHERE day <= cp_day),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_a, sum(x) AS s_a
         |      FROM daily, cp WHERE day > cp_day)
         |SELECT n AS n_days, cp_day,
         |  CASE WHEN n > 0 THEN
         |    CAST((ns_max * 2 + n) // (n * 2) AS DOUBLE) / 1e4
         |    END AS cusum_peak,
         |  CASE WHEN n_b > 0 THEN
         |    CAST((s_b * 2 + n_b) // (n_b * 2) AS DOUBLE) / 1e4
         |    END AS mean_before,
         |  CASE WHEN n_a > 0 THEN
         |    CAST((s_a * 2 + n_a) // (n_a * 2) AS DOUBLE) / 1e4
         |    END AS mean_after
         |FROM cp CROSS JOIN b CROSS JOIN a""".stripMargin,
    // exact two-pass anchored moments (n, Σx, then Σ(x−m)² against the
    // integer floor-mean anchor m = Σx div n) reduce to the same
    // sub-2⁵³ fixed-point mean/variance integers as the engine via the
    // staged floor q − [n·r < 2·u]; t and df are then identical IEEE
    // chains — see Stats.welchTTest for the exactness proof
    "q_welch_ttest" ->
      s"""WITH xs AS (
         |  SELECT o_orderstatus AS grp,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000
         |      AS HUGEINT) AS x
         |  FROM orders
         |  WHERE o_orderstatus IN ('${operators.Stats.welchGroups._1}',
         |    '${operators.Stats.welchGroups._2}')),
         |base AS (
         |  SELECT grp, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS s
         |  FROM xs GROUP BY 1),
         |anch AS (SELECT grp, n, s, s // n AS m FROM base),
         |dev AS (
         |  SELECT grp, CAST(sum((x - m) * (x - m)) AS HUGEINT) AS s2
         |  FROM xs JOIN anch USING (grp) GROUP BY 1),
         |stage AS (
         |  SELECT grp, n, s, s2, s - n * m AS s1
         |  FROM anch JOIN dev USING (grp)),
         |stage2 AS (
         |  SELECT grp, n, s, s1, u, xx, yy, xx // yy AS qq
         |  FROM (SELECT grp, n, s, s1,
         |          s1 * s1 - n * ((s1 * s1) // n) AS u,
         |          2 * (s2 - (s1 * s1) // n) + 10000 * (n - 1) AS xx,
         |          2 * 10000 * (n - 1) AS yy
         |        FROM stage)),
         |fx AS (
         |  SELECT grp, CAST(n AS BIGINT) AS n,
         |    CAST((2 * s + n) // (2 * n) AS DOUBLE) AS m4,
         |    CASE WHEN n > 1 THEN
         |      CAST(qq - CASE WHEN n * (xx - qq * yy) < 2 * u
         |        THEN 1 ELSE 0 END AS DOUBLE) END AS v4
         |  FROM stage2),
         |a AS (SELECT n AS n1, m4 AS ma, v4 AS va FROM fx
         |      WHERE grp = '${operators.Stats.welchGroups._1}'),
         |b AS (SELECT n AS n2, m4 AS mb, v4 AS vb FROM fx
         |      WHERE grp = '${operators.Stats.welchGroups._2}'),
         |j AS (
         |  SELECT n1, n2, ma, mb, va, vb,
         |    va / 1e4 / CAST(n1 AS DOUBLE) + vb / 1e4 / CAST(n2 AS DOUBLE)
         |      AS se2
         |  FROM a CROSS JOIN b)
         |SELECT n1, n2,
         |  ma / 1e4 AS mean_f, mb / 1e4 AS mean_o,
         |  va / 1e4 AS var_f, vb / 1e4 AS var_o,
         |  CASE WHEN n1 > 1 AND n2 > 1 AND se2 > 0 THEN
         |    round((ma / 1e4 - mb / 1e4) / sqrt(se2), 6) END AS t,
         |  CASE WHEN n1 > 1 AND n2 > 1 AND se2 > 0 THEN
         |    round(se2 * se2 /
         |      ((va / 1e4 / CAST(n1 AS DOUBLE)) *
         |        (va / 1e4 / CAST(n1 AS DOUBLE)) /
         |        CAST(n1 - 1 AS DOUBLE) +
         |       (vb / 1e4 / CAST(n2 AS DOUBLE)) *
         |        (vb / 1e4 / CAST(n2 AS DOUBLE)) /
         |        CAST(n2 - 1 AS DOUBLE)), 6) END AS welch_df
         |FROM j""".stripMargin,
    // digit from the DECIMAL's string form (never log10 on data); the
    // nine expected-ppm constants sit far from rounding boundaries, so
    // a 1-ulp libm disagreement cannot flip them — see
    // Stats.benfordDigits
    "q_benford_digits" ->
      """WITH d AS (
        |  SELECT CAST(substring(CAST(o_totalprice AS VARCHAR), 1, 1)
        |      AS INT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM orders WHERE o_totalprice >= 1
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM d),
        |e AS (
        |  SELECT digit, n_obs, n,
        |    (1000000 * n_obs) // n AS obs_ppm,
        |    CAST(round(log10(1 + 1.0 / digit) * 1e6, 0) AS BIGINT)
        |      AS exp_ppm
        |  FROM d CROSS JOIN t)
        |SELECT digit, n_obs, obs_ppm, exp_ppm,
        |  obs_ppm - exp_ppm AS dev_ppm,
        |  CAST((CAST(1000000 * n_obs - n * exp_ppm AS HUGEINT) *
        |   CAST(1000000 * n_obs - n * exp_ppm AS HUGEINT)) //
        |    (CAST(n AS HUGEINT) * exp_ppm) AS BIGINT) AS chi2_ppm
        |FROM e ORDER BY digit""".stripMargin,
    // S and the tie-corrected variance are pure integers over exact
    // DECIMAL revenue comparisons; z and τ_a are one IEEE division +
    // sqrt each — see Stats.mannKendall
    "q_mann_kendall" ->
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS x
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(CASE WHEN a.x > b.x THEN 1
        |    WHEN a.x < b.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON b.day < a.day),
        |ties AS (
        |  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
        |    AS BIGINT) AS tie_term
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t
        |        FROM daily GROUP BY x HAVING count(*) > 1)),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        |v AS (
        |  SELECT n, s_stat,
        |    n * (n - 1) * (2 * n + 5) - tie_term AS var18
        |  FROM s CROSS JOIN n CROSS JOIN ties)
        |SELECT n AS n_days, s_stat, var18,
        |  CASE WHEN n > 1 THEN
        |    round(CAST(s_stat AS DOUBLE) /
        |      CAST(n * (n - 1) // 2 AS DOUBLE), 6) END AS tau_a,
        |  CASE WHEN var18 > 0 THEN
        |    round(CAST(CASE WHEN s_stat > 0 THEN s_stat - 1
        |      WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END AS DOUBLE) /
        |      sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) END AS z
        |FROM v""".stripMargin,
    // each slope is ONE IEEE division of the exact decimal delta by
    // the integer day gap; the Sen slope is the LOWER median order
    // statistic over (slope, day_i, day_j) — see Stats.theilSen
    "q_theil_sen" ->
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS x
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT b.day AS d1, a.day AS dd,
        |    CAST(a.x - b.x AS DOUBLE) / CAST(a.day - b.day AS DOUBLE)
        |      AS slope
        |  FROM daily a JOIN daily b ON b.day < a.day),
        |r AS (
        |  SELECT slope,
        |    CAST(row_number() OVER (ORDER BY slope, d1, dd) AS BIGINT)
        |      AS rk
        |  FROM p),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM p),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
        |SELECT n_days, n_pairs, round(slope, 6) AS sen_slope
        |FROM r CROSS JOIN m CROSS JOIN nd
        |WHERE rk = (n_pairs + 1) // 2""".stripMargin,
    // deviations from the half-up scale-4 fixed-point mean; every
    // product/sum exact HUGEINT, one round-4 double division at the
    // end — see Stats.acfDaily
    "q_acf_daily" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
         |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000
         |      AS HUGEINT) AS x
         |  FROM orders GROUP BY 1),
         |tot AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS t
         |  FROM daily),
         |dev AS (
         |  SELECT day, x - (2 * t + n) // (2 * n) AS e
         |  FROM daily CROSS JOIN tot),
         |dn AS (SELECT CAST(sum(e * e) AS HUGEINT) AS den FROM dev),
         |nm AS (
         |  SELECT b.day - a.day AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(a.e * b.e) AS HUGEINT) AS num
         |  FROM dev a JOIN dev b
         |    ON b.day > a.day AND b.day <= a.day + ${operators.Stats.acfMaxLag}
         |  GROUP BY 1)
         |SELECT lag, n_pairs,
         |  CASE WHEN den > 0 THEN
         |    round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4)
         |  END AS acf
         |FROM nm CROSS JOIN dn ORDER BY lag""".stripMargin,
    // gaps from the (day, orderkey) total order; median is the LOWER
    // order statistic at integer rank — see Analytics.orderGaps
    "q_order_gaps" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    epoch_us(o_orderdate) // 86400000000 AS day
        |  FROM orders),
        |g AS (
        |  SELECT o_custkey, o_orderkey,
        |    day - lag(day) OVER (PARTITION BY o_custkey
        |      ORDER BY day, o_orderkey) AS gap
        |  FROM o),
        |g2 AS (SELECT * FROM g WHERE gap IS NOT NULL),
        |r AS (
        |  SELECT o_custkey, gap,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY gap, o_orderkey) AS BIGINT) AS rk
        |  FROM g2),
        |st AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(min(gap) AS BIGINT) AS min_gap,
        |    CAST(max(gap) AS BIGINT) AS max_gap,
        |    CAST(sum(gap) AS BIGINT) AS gap_sum
        |  FROM g2 GROUP BY 1)
        |SELECT st.o_custkey, n_gaps + 1 AS n_orders, n_gaps, min_gap,
        |  max_gap, CAST(r.gap AS BIGINT) AS median_gap,
        |  round(CAST(gap_sum AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6)
        |    AS mean_gap
        |FROM st JOIN r ON r.o_custkey = st.o_custkey
        |  AND r.rk = (n_gaps + 1) // 2
        |ORDER BY 1""".stripMargin,
    // per-session (us, event_id)-ordered type path, truncated at the
    // documented cap with the truncation count carried — see
    // Temporal.topPaths
    "q_top_paths" ->
      s"""WITH l AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev
         |  FROM events),
         |f AS (
         |  SELECT *, CASE WHEN prev IS NULL OR us - prev > 21600000000
         |    THEN 1 ELSE 0 END AS is_new
         |  FROM l),
         |sq AS (
         |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
         |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM f),
         |r AS (
         |  SELECT user_id, sid, event_type,
         |    row_number() OVER (PARTITION BY user_id, sid
         |      ORDER BY us, event_id) AS rn,
         |    count(*) OVER (PARTITION BY user_id, sid) AS n_ev
         |  FROM sq),
         |p AS (
         |  SELECT user_id, sid,
         |    string_agg(event_type, '>' ORDER BY rn) AS path,
         |    max(n_ev) AS n_ev
         |  FROM r WHERE rn <= ${Temporal.pathMaxLen}
         |  GROUP BY 1, 2)
         |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(CASE WHEN n_ev > ${Temporal.pathMaxLen}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated
         |FROM p GROUP BY 1
         |HAVING count(*) >= ${Temporal.pathFloor}
         |ORDER BY n_sessions DESC, path""".stripMargin,
    // every column profiled in its canonical string form; min/max are
    // LEXICOGRAPHIC on that form by contract — see
    // Profiling.columnProfile
    "q_column_profile" ->
      """WITH s AS (
        |  SELECT 'o_orderkey' AS col_name,
        |    CAST(o_orderkey AS VARCHAR) AS val FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', o_orderstatus FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate',
        |    CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority FROM orders)
        |SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null,
        |  CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
        |  min(val) AS min_val, max(val) AS max_val
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // the oracle profiles the WHOLE table directly: the engine's
    // base+delta merge (sum / least / greatest / register-wise max)
    // equals it by slice-invariance — that equality IS the theorem
    // this row certifies. See Profiling.profileIncremental
    "q_profile_incremental" -> {
      val wordMod = 1L << operators.Sketches.hllWordBits
      val m = operators.Sketches.hllRegisters
      val a = operators.Sketches.hllAlpha
      val hex8 = (0 until 8).map(o =>
        s"(strpos('0123456789abcdef', substr(d, ${1 + o}, 1)) - 1) * " +
          s"CAST(${1L << (4 * (7 - o))} AS BIGINT)").mkString(" + ")
      val raw = s"$a * $m.0 * $m.0 / " +
        s"(harm_present + ($m.0 - CAST(n_present AS DOUBLE)))"
      s"""WITH st AS (
         |  SELECT 'o_orderkey' AS col_name,
         |    CAST(o_orderkey AS VARCHAR) AS val FROM orders
         |  UNION ALL
         |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
         |  UNION ALL
         |  SELECT 'o_orderstatus', o_orderstatus FROM orders
         |  UNION ALL
         |  SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM orders
         |  UNION ALL
         |  SELECT 'o_orderdate',
         |    CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders
         |  UNION ALL
         |  SELECT 'o_orderpriority', o_orderpriority FROM orders),
         |sc AS (
         |  SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_null,
         |    min(val) AS min_val, max(val) AS max_val
         |  FROM st GROUP BY 1),
         |hh AS (
         |  SELECT col_name, ($hex8) AS h
         |  FROM (SELECT col_name, md5(val) AS d FROM st
         |        WHERE val IS NOT NULL)),
         |rr AS (
         |  SELECT col_name, h // $wordMod AS reg,
         |    ${operators.Sketches.rhoSql(s"(h % $wordMod)")} AS rho
         |  FROM hh),
         |mx AS (SELECT col_name, reg, max(rho) AS max_rho
         |       FROM rr GROUP BY 1, 2),
         |sk AS (
         |  SELECT col_name, CAST(count(*) AS BIGINT) AS n_present,
         |    sum(power(2, -max_rho)) AS harm_present
         |  FROM mx GROUP BY 1),
         |es AS (
         |  SELECT col_name, $m - n_present AS zeros,
         |    round(CASE WHEN ($raw) <= 2.5 * $m AND $m - n_present > 0
         |      THEN $m.0 * ln($m.0 / CAST($m - n_present AS DOUBLE))
         |      ELSE ($raw) END, 4) AS distinct_est
         |  FROM sk),
         |ex AS (
         |  SELECT col_name, CAST(count(DISTINCT val) AS BIGINT) AS n_exact
         |  FROM st WHERE val IS NOT NULL GROUP BY 1)
         |SELECT sc.col_name, n_rows, n_null, min_val, max_val,
         |  distinct_est, n_exact,
         |  CASE WHEN n_exact > 0 THEN
         |    round(abs(distinct_est - CAST(n_exact AS DOUBLE)) /
         |      CAST(n_exact AS DOUBLE), 4) END AS rel_err
         |FROM sc JOIN es ON es.col_name = sc.col_name
         |        JOIN ex ON ex.col_name = sc.col_name
         |ORDER BY 1""".stripMargin
    },
    // the a-priori prune is plan-only (downward closure: it cannot
    // change which pairs clear the floor), so the oracle skips it;
    // all metrics are fixed double expressions over exact int64 counts
    "q_market_basket" ->
      s"""WITH i AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS nb FROM i),
         |ic AS (SELECT p, CAST(count(*) AS BIGINT) AS n_item
         |       FROM i GROUP BY 1),
         |pr AS (
         |  SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS n_both
         |  FROM i a JOIN i b ON a.o = b.o AND a.p < b.p
         |  GROUP BY 1, 2
         |  HAVING count(*) >= ${operators.Associations.pairSupportFloor})
         |SELECT p1, p2, n_both, c1.n_item AS n_p1, c2.n_item AS n_p2,
         |  round(CAST(n_both AS DOUBLE) / nb, 6) AS support,
         |  round(CAST(n_both AS DOUBLE) / CAST(c1.n_item AS DOUBLE), 6)
         |    AS confidence,
         |  round(CAST(n_both AS DOUBLE) * nb /
         |    (CAST(c1.n_item AS DOUBLE) * CAST(c2.n_item AS DOUBLE)), 6)
         |    AS lift
         |FROM pr JOIN ic c1 ON c1.p = pr.p1 JOIN ic c2 ON c2.p = pr.p2
         |CROSS JOIN n
         |ORDER BY p1, p2""".stripMargin,
    // the oracle states the triple census directly; the engine's
    // two-level A-priori prunes cannot change the floor-cut result
    // (downward closure), only the work
    "q_basket_triples" ->
      s"""WITH i AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS nb FROM i),
         |pr AS (
         |  SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS n_p12
         |  FROM i a JOIN i b ON a.o = b.o AND a.p < b.p
         |  GROUP BY 1, 2
         |  HAVING count(*) >= ${operators.Associations.pairSupportFloor}),
         |tr AS (
         |  SELECT a.p AS p1, b.p AS p2, c.p AS p3,
         |    CAST(count(*) AS BIGINT) AS n_all
         |  FROM i a
         |  JOIN i b ON a.o = b.o AND a.p < b.p
         |  JOIN i c ON b.o = c.o AND b.p < c.p
         |  GROUP BY 1, 2, 3
         |  HAVING count(*) >= ${operators.Associations.pairSupportFloor})
         |SELECT tr.p1, tr.p2, tr.p3, tr.n_all, pr.n_p12,
         |  round(CAST(n_all AS DOUBLE) / nb, 6) AS support,
         |  round(CAST(n_all AS DOUBLE) / CAST(n_p12 AS DOUBLE), 6)
         |    AS confidence
         |FROM tr JOIN pr ON pr.p1 = tr.p1 AND pr.p2 = tr.p2
         |CROSS JOIN n
         |ORDER BY 1, 2, 3""".stripMargin,
    // the deletion-neighborhood theorem, same as the engine:
    // ed(a,b) ≤ 1 implies a and b share a form in {identity} ∪
    // {delete one char} (substitution: delete the differing position
    // from both; ins/del: the longer string's deletion IS the shorter;
    // equality: identity) — then the same levenshtein verification
    "q_fuzzy_names" ->
      """WITH nm AS (
        |  SELECT c_custkey AS id, c_name AS name FROM customer
        |  WHERE length(c_name) >= 2),
        |f AS (
        |  SELECT id, name, name AS form FROM nm
        |  UNION
        |  SELECT DISTINCT id, name,
        |    substr(name, 1, CAST(i AS INT) - 1) ||
        |      substr(name, CAST(i AS INT) + 1) AS form
        |  FROM (SELECT id, name, unnest(range(1, length(name) + 1)) AS i
        |        FROM nm) u),
        |cand AS (
        |  SELECT DISTINCT least(a.id, b.id) AS id1,
        |    greatest(a.id, b.id) AS id2,
        |    CASE WHEN a.id < b.id THEN a.name ELSE b.name END AS n1,
        |    CASE WHEN a.id < b.id THEN b.name ELSE a.name END AS n2
        |  FROM f a JOIN f b ON a.form = b.form AND a.id <> b.id)
        |SELECT id1 AS a_custkey, id2 AS b_custkey,
        |  CAST(levenshtein(n1, n2) AS BIGINT) AS dist
        |FROM cand
        |WHERE levenshtein(n1, n2) <= 1
        |ORDER BY 1, 2""".stripMargin,
    // τ=2 twin: the ≤2-deletion neighborhood (identity + delete-one +
    // delete-two at original positions i<j), same theorem replayed
    // declaratively; shared signature only bounds lev ≤ 4, so the
    // levenshtein verify is load-bearing on both engines
    "q_fuzzy_names2" ->
      """WITH nm AS (
        |  SELECT c_custkey AS id, c_name AS name FROM customer
        |  WHERE length(c_name) >= 2),
        |f AS (
        |  SELECT id, name, name AS form FROM nm
        |  UNION
        |  SELECT DISTINCT id, name,
        |    substr(name, 1, CAST(i AS INT) - 1) ||
        |      substr(name, CAST(i AS INT) + 1) AS form
        |  FROM (SELECT id, name, unnest(range(1, length(name) + 1)) AS i
        |        FROM nm) u
        |  UNION
        |  SELECT DISTINCT id, name,
        |    substr(name, 1, CAST(i AS INT) - 1) ||
        |      substr(name, CAST(i AS INT) + 1, CAST(j - i - 1 AS INT)) ||
        |      substr(name, CAST(j AS INT) + 1) AS form
        |  FROM (SELECT id, name, i,
        |          unnest(range(i + 1, length(name) + 1)) AS j
        |        FROM (SELECT id, name, unnest(range(1, length(name))) AS i
        |              FROM nm) a) b),
        |cand AS (
        |  SELECT DISTINCT least(a.id, b.id) AS id1,
        |    greatest(a.id, b.id) AS id2,
        |    CASE WHEN a.id < b.id THEN a.name ELSE b.name END AS n1,
        |    CASE WHEN a.id < b.id THEN b.name ELSE a.name END AS n2
        |  FROM f a JOIN f b ON a.form = b.form AND a.id <> b.id)
        |SELECT id1 AS a_custkey, id2 AS b_custkey,
        |  CAST(levenshtein(n1, n2) AS BIGINT) AS dist
        |FROM cand
        |WHERE levenshtein(n1, n2) <= 2
        |ORDER BY 1, 2""".stripMargin,
    // incremental τ=2: ONLY new-batch (id % 10 = 0) × base pairs —
    // the same neighborhood theorem restricted across the delta split
    "q_fuzzy_names_incr" ->
      """WITH nm AS (
        |  SELECT c_custkey AS id, c_name AS name FROM customer
        |  WHERE length(c_name) >= 2),
        |f AS (
        |  SELECT id, name, name AS form FROM nm
        |  UNION
        |  SELECT DISTINCT id, name,
        |    substr(name, 1, CAST(i AS INT) - 1) ||
        |      substr(name, CAST(i AS INT) + 1) AS form
        |  FROM (SELECT id, name, unnest(range(1, length(name) + 1)) AS i
        |        FROM nm) u
        |  UNION
        |  SELECT DISTINCT id, name,
        |    substr(name, 1, CAST(i AS INT) - 1) ||
        |      substr(name, CAST(i AS INT) + 1, CAST(j - i - 1 AS INT)) ||
        |      substr(name, CAST(j AS INT) + 1) AS form
        |  FROM (SELECT id, name, i,
        |          unnest(range(i + 1, length(name) + 1)) AS j
        |        FROM (SELECT id, name, unnest(range(1, length(name))) AS i
        |              FROM nm) a) b),
        |cand AS (
        |  SELECT DISTINCT d.id AS new_id, e.id AS existing_id,
        |    d.name AS n1, e.name AS n2
        |  FROM f d JOIN f e ON d.form = e.form
        |  WHERE d.id % 10 = 0 AND e.id % 10 <> 0)
        |SELECT new_id AS new_custkey, existing_id AS existing_custkey,
        |  CAST(levenshtein(n1, n2) AS BIGINT) AS dist
        |FROM cand
        |WHERE levenshtein(n1, n2) <= 2
        |ORDER BY 1, 2""".stripMargin,
    // blocking-quality report: replay the per-position variant
    // enumeration WITH deletion gaps (1-based i ⇒ gap i−1; pair (i,j)
    // ⇒ gaps (i−1, j−2)) and the exact gap-join structure the shipped
    // blocker uses — (2,2) joins on gap equality, ≤1-deletion side
    // joins with the gap predicate — then count candidates, verified
    // matches, precision, and the all-pairs reduction ratio
    "fuzzy_blocking_eval" ->
      """WITH nm AS (
        |  SELECT c_custkey AS id, c_name AS name FROM customer
        |  WHERE length(c_name) >= 2),
        |f AS (
        |  SELECT id, name AS form, -1 AS g1, -1 AS g2, 0 AS nd FROM nm
        |  UNION ALL
        |  SELECT id,
        |    substr(name, 1, CAST(i AS INT) - 1) ||
        |      substr(name, CAST(i AS INT) + 1) AS form,
        |    CAST(i - 1 AS INT) AS g1, -1 AS g2, 1 AS nd
        |  FROM (SELECT id, name, unnest(range(1, length(name) + 1)) AS i
        |        FROM nm) u
        |  UNION ALL
        |  SELECT id,
        |    substr(name, 1, CAST(i AS INT) - 1) ||
        |      substr(name, CAST(i AS INT) + 1, CAST(j - i - 1 AS INT)) ||
        |      substr(name, CAST(j AS INT) + 1) AS form,
        |    CAST(i - 1 AS INT) AS g1, CAST(j - 2 AS INT) AS g2, 2 AS nd
        |  FROM (SELECT id, name, i,
        |          unnest(range(i + 1, length(name) + 1)) AS j
        |        FROM (SELECT id, name, unnest(range(1, length(name))) AS i
        |              FROM nm) a) b),
        |c22 AS (
        |  SELECT DISTINCT a.id AS id1, b.id AS id2
        |  FROM f a JOIN f b
        |    ON a.form = b.form AND a.g1 = b.g1 AND a.g2 = b.g2
        |  WHERE a.nd = 2 AND b.nd = 2 AND a.id < b.id),
        |cle1 AS (
        |  SELECT DISTINCT least(a.id, b.id) AS id1,
        |    greatest(a.id, b.id) AS id2
        |  FROM f a JOIN f b ON a.form = b.form
        |  WHERE a.nd <= 1 AND a.id <> b.id
        |    AND (a.nd + b.nd <= 2 OR (a.nd = 1 AND b.nd = 2
        |      AND (a.g1 = b.g1 OR a.g1 = b.g2)))),
        |cand AS (SELECT * FROM c22 UNION SELECT * FROM cle1),
        |v AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_candidate_pairs,
        |    CAST(coalesce(sum(CASE WHEN levenshtein(n1.name, n2.name) <= 2
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_matched_pairs
        |  FROM cand
        |  JOIN nm n1 ON n1.id = cand.id1
        |  JOIN nm n2 ON n2.id = cand.id2),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_strings FROM nm)
        |SELECT n_strings, n_candidate_pairs, n_matched_pairs,
        |  CASE WHEN n_candidate_pairs > 0 THEN
        |    round(CAST(n_matched_pairs AS DOUBLE) / n_candidate_pairs, 6)
        |  END AS match_precision,
        |  CASE WHEN n_strings > 1 THEN
        |    round(1.0 - CAST(n_candidate_pairs AS DOUBLE) /
        |      CAST(n_strings * (n_strings - 1) / 2 AS DOUBLE), 6)
        |  END AS reduction_ratio
        |FROM n CROSS JOIN v""".stripMargin,
    "q_rfm_segments" ->
      """WITH per AS (
        |  SELECT o_custkey, max(epoch_us(o_orderdate)) AS last_us,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |      AS monetary
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM per),
        |r AS (
        |  SELECT per.*,
        |    CAST(row_number() OVER (ORDER BY last_us DESC, o_custkey)
        |      AS BIGINT) AS r_rank,
        |    CAST(row_number() OVER (ORDER BY freq DESC, o_custkey)
        |      AS BIGINT) AS f_rank,
        |    CAST(row_number() OVER (ORDER BY monetary DESC, o_custkey)
        |      AS BIGINT) AS m_rank
        |  FROM per),
        |d AS (
        |  SELECT o_custkey, last_us, freq, monetary,
        |    (r_rank - 1) * 10 // n_cust + 1 AS r_decile,
        |    (f_rank - 1) * 10 // n_cust + 1 AS f_decile,
        |    (m_rank - 1) * 10 // n_cust + 1 AS m_decile
        |  FROM r CROSS JOIN n)
        |SELECT o_custkey, last_us, freq, monetary,
        |  r_decile, f_decile, m_decile,
        |  r_decile * 100 + f_decile * 10 + m_decile AS rfm_code
        |FROM d ORDER BY o_custkey""".stripMargin,
    "q_weighted_sample" -> {
      val u28 = hex7Of("CAST(doc_id AS VARCHAR) || '#wsample'")
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
         |    CAST($u28 AS BIGINT) AS u28
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, n_tokens, u28,
         |    round(ln(CAST(u28 + 1 AS DOUBLE) / 268435456.0) / n_tokens, 9)
         |      AS wkey
         |  FROM d WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens, u28, wkey FROM s
         |ORDER BY wkey DESC, doc_id
         |LIMIT ${operators.Sampling.weightedSampleK}""".stripMargin
    },
    "text_pii_signals" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_idlike,
        |  (len(regexp_extract_all(text,
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |   + len(regexp_extract_all(text, 'https?://[^ ]+'))
        |   + len(regexp_extract_all(text, '[0-9]{6,}'))) > 0 AS has_pii
        |FROM documents ORDER BY doc_id""".stripMargin,
    // per-source percentile calibration: integer prose-floor score,
    // row_number rank per source, one rounded division; the same
    // quantile cut everywhere keeps the per-source mix intact
    "text_quality_calibrated" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(trim(text), ' ')) *
         |      (CASE WHEN 20 * len(list_filter(string_split(trim(text), ' '),
         |              t -> list_contains(['the','a','of','and','in','to','is'], t)))
         |            >= len(string_split(trim(text), ' '))
         |       THEN 2 ELSE 1 END) AS BIGINT) AS score
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, source, score,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS src_rank,
         |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
         |  FROM d)
         |SELECT doc_id, source, score, src_rank,
         |  round(CAST(src_rank AS DOUBLE) / n_src, 6) AS cal
         |FROM r
         |WHERE round(CAST(src_rank AS DOUBLE) / n_src, 6)
         |      <= ${operators.TextAnalysis.calibratedKeepShare}
         |ORDER BY doc_id""".stripMargin,
    // word-boundary chunking replayed: unit rule + the greedy pack as
    // a per-unit recursive CTE (the BPE recursion discipline); md5 of
    // each chunk substring certifies the bytes
    "text_greedy_chunks" -> {
      val mx = operators.TextAnalysis.greedyChunkMax
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n
         |  FROM documents WHERE len(text) > 0),
         |bnd AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS i
         |  FROM d, unnest(generate_series(1, n)) t(i)
         |  WHERE substr(text, CAST(i AS INTEGER), 1) = ' ' OR i = n),
         |ends AS (
         |  SELECT doc_id, i,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS k
         |  FROM bnd),
         |nk AS (SELECT doc_id, max(k) AS mk FROM ends GROUP BY doc_id),
         |walk(doc_id, k, s, last, c_start, c_end) AS (
         |  SELECT doc_id, CAST(0 AS BIGINT), CAST(1 AS BIGINT),
         |         CAST(0 AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
         |  FROM nk
         |  UNION ALL
         |  SELECT w.doc_id, w.k + 1,
         |    CASE WHEN w.last = 0 THEN w.s
         |         WHEN e.i - w.s + 1 <= $mx THEN w.s
         |         ELSE w.last + 1 END,
         |    e.i,
         |    CASE WHEN w.last <> 0 AND e.i - w.s + 1 > $mx THEN w.s END,
         |    CASE WHEN w.last <> 0 AND e.i - w.s + 1 > $mx THEN w.last END
         |  FROM walk w JOIN ends e ON e.doc_id = w.doc_id AND e.k = w.k + 1),
         |chunks AS (
         |  SELECT doc_id, c_start AS chunk_start, c_end AS chunk_end
         |  FROM walk WHERE c_start IS NOT NULL
         |  UNION ALL
         |  SELECT w.doc_id, w.s, w.last
         |  FROM walk w JOIN nk ON nk.doc_id = w.doc_id AND w.k = nk.mk
         |  WHERE w.last > 0),
         |idx AS (
         |  SELECT doc_id, chunk_start, chunk_end,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY chunk_start)
         |         AS BIGINT) AS chunk_idx
         |  FROM chunks)
         |SELECT x.doc_id, chunk_idx, chunk_start, chunk_end,
         |  chunk_end - chunk_start + 1 AS chunk_len,
         |  md5(substr(d2.text, CAST(chunk_start AS INTEGER),
         |      CAST(chunk_end - chunk_start + 1 AS INTEGER))) AS chunk_md5
         |FROM idx x JOIN documents d2 ON d2.doc_id = x.doc_id
         |ORDER BY x.doc_id, chunk_idx""".stripMargin
    },
    // redaction transform: counts are replacements actually made
    // (email → URL → id-like on the progressively-redacted text), and
    // md5(redacted) certifies the rewritten bytes
    "text_pii_redact" ->
      """WITH r AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS after_email
        |  FROM documents),
        |r2 AS (
        |  SELECT doc_id, text, after_email,
        |    regexp_replace(after_email, 'https?://[^ ]+', '<URL>', 'g') AS after_url
        |  FROM r)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(after_email, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(after_url, '[0-9]{6,}')) AS BIGINT) AS n_idlike,
        |  CAST(len(regexp_replace(after_url, '[0-9]{6,}', '<ID>', 'g')) AS BIGINT)
        |    AS redacted_len,
        |  md5(regexp_replace(after_url, '[0-9]{6,}', '<ID>', 'g')) AS redacted_md5
        |FROM r2 ORDER BY doc_id""".stripMargin,
    // Batch-perceptron training unrolled: epoch 1 from w=0 updates on
    // every row (margin 0 ≤ 0); each later epoch adds the
    // misclassified-set sums (empty set → coalesce'd zero delta, the
    // SQL image of the trainer's converged no-op epoch). All-integer
    // arithmetic — the trained model is replayed exactly, not
    // approximately (mirrors operators.Perceptron.train).
    "text_quality_classifier" -> perceptronOracle,
    // same training replay as text_quality_classifier (shared CTE
    // chain), then the Mann–Whitney histogram form: per distinct score
    // the (n_pos, n_neg) counts, exclusive running negatives over
    // score order, numerator kept as the INTEGER 2·wins + ties — one
    // double division, round 6, NULL on a one-class corpus
    "q_classifier_auc" ->
      s"""WITH $perceptronScoredCtes,
         |g AS (
         |  SELECT score,
         |    CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_pos,
         |    CAST(sum(CASE WHEN is_en THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_neg
         |  FROM scored GROUP BY 1),
         |wc AS (
         |  SELECT n_pos, n_neg,
         |    CAST(coalesce(sum(n_neg) OVER (ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS neg_below
         |  FROM g),
         |a AS (
         |  SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
         |    CAST(sum(n_neg) AS BIGINT) AS n_neg,
         |    CAST(sum(CAST(n_pos AS HUGEINT) * neg_below)
         |      AS DECIMAL(38,0)) AS pairs_won,
         |    CAST(sum(CAST(n_pos AS HUGEINT) * n_neg)
         |      AS DECIMAL(38,0)) AS pairs_tied
         |  FROM wc)
         |SELECT n_pos, n_neg,
         |  CAST(pairs_won AS BIGINT) AS pairs_won,
         |  CAST(pairs_tied AS BIGINT) AS pairs_tied,
         |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |    round(CAST(2 * pairs_won + pairs_tied AS DOUBLE) /
         |      CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE), 6)
         |  END AS auc
         |FROM a""".stripMargin,
    // confusion counts in one pass over the same scored frame; κ in
    // the n²-scaled integer form so every metric is a single division
    // of exact int64s; zero denominators → NULL, never 0/0
    "q_classifier_eval" ->
      s"""WITH $perceptronScoredCtes,
         |c AS (
         |  SELECT
         |    CAST(sum(CASE WHEN pred_en AND is_en THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN pred_en AND NOT is_en THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN NOT pred_en AND is_en THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN NOT pred_en AND NOT is_en THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tn
         |  FROM scored),
         |m AS (
         |  SELECT tp, fp, fn, tn, tp + fp + fn + tn AS n,
         |    (tp + fp) * (tp + fn) + (fn + tn) * (fp + tn) AS e
         |  FROM c)
         |SELECT tp, fp, fn, tn,
         |  CASE WHEN n > 0 THEN
         |    round(CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |  END AS accuracy,
         |  CASE WHEN tp + fp > 0 THEN
         |    round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
         |  END AS "precision",
         |  CASE WHEN tp + fn > 0 THEN
         |    round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
         |  END AS recall,
         |  CASE WHEN 2 * tp + fp + fn > 0 THEN
         |    round(CAST(2 * tp AS DOUBLE) /
         |      CAST(2 * tp + fp + fn AS DOUBLE), 6)
         |  END AS f1,
         |  CASE WHEN n * n - e <> 0 THEN
         |    round(CAST(n * (tp + tn) - e AS DOUBLE) /
         |      CAST(n * n - e AS DOUBLE), 6)
         |  END AS kappa
         |FROM m""".stripMargin,
    // same replayed training; decile = the integer grid
    // (rank−1)·10 div n + 1 over (score desc, doc_id), cumulated over
    // the ≤10-row grid — all exact-int64 products, round-6 divisions
    "q_lift_chart" ->
      s"""WITH $perceptronScoredCtes,
         |r AS (
         |  SELECT doc_id, is_en,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |      AS BIGINT) AS rk
         |  FROM scored),
         |t AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT)
         |      AS total_pos
         |  FROM scored),
         |d AS (
         |  SELECT (rk - 1) * 10 // n + 1 AS decile,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_pos
         |  FROM r CROSS JOIN t GROUP BY 1),
         |cum AS (
         |  SELECT d.decile, d.n_docs, d.n_pos,
         |    CAST(sum(d2.n_docs) AS BIGINT) AS cum_docs,
         |    CAST(sum(d2.n_pos) AS BIGINT) AS cum_pos
         |  FROM d JOIN d d2 ON d2.decile <= d.decile
         |  GROUP BY 1, 2, 3)
         |SELECT decile, n_docs, n_pos, cum_docs, cum_pos,
         |  CASE WHEN total_pos > 0 THEN
         |    round(CAST(cum_pos AS DOUBLE) / CAST(total_pos AS DOUBLE), 6)
         |  END AS capture,
         |  CASE WHEN total_pos > 0 AND cum_docs > 0 THEN
         |    round(CAST(cum_pos * n AS DOUBLE) /
         |      CAST(cum_docs * total_pos AS DOUBLE), 6)
         |  END AS lift
         |FROM cum CROSS JOIN t ORDER BY decile""".stripMargin,
    "q_stratified_sample" ->
      """SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,
    "q_source_cap" ->
      """SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_tokens FROM (
        |  SELECT source, doc_id, n_tokens,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_tokens DESC, doc_id) AS rk
        |  FROM (SELECT source, doc_id,
        |          CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
        |        FROM documents) d) t
        |WHERE rk <= 25 ORDER BY source, rk""".stripMargin,
    // INDEPENDENT dominance formulation (NOT EXISTS over the bounded
    // ppm grid) vs the engine's triangular-join reduction — both axes
    // are exact integers, so membership is bit-identical
    "text_pareto_frontier" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS t,
        |    CAST(len(list_filter(string_split(trim(text), ' '),
        |      x -> x IN ('the','a','of','and','in','to','is'))) AS BIGINT)
        |      AS ns
        |  FROM documents),
        |p AS (SELECT doc_id, t, (1000000 * ns) // t AS q
        |      FROM d WHERE t > 0),
        |g AS (SELECT q, max(t) AS tm FROM p GROUP BY 1),
        |f AS (SELECT a.q, a.tm FROM g a
        |      WHERE NOT EXISTS (SELECT 1 FROM g b
        |                        WHERE b.q > a.q AND b.tm >= a.tm))
        |SELECT p.doc_id, p.t AS n_tokens, p.q AS stop_ppm
        |FROM p JOIN f ON p.q = f.q AND p.t = f.tm
        |ORDER BY doc_id""".stripMargin,
    // padding waste: arrival vs length-sorted batching, exact integer
    // token grids, one rounded division at the edge
    "q_padding_waste" ->
      s"""WITH pd AS (
         |  SELECT lang, doc_id,
         |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS len
         |  FROM documents),
         |pa AS (
         |  SELECT lang, len,
         |    (row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1)
         |      // ${operators.Sampling.paddingBatchSize} AS batch
         |  FROM pd),
         |ps AS (
         |  SELECT lang, len,
         |    (row_number() OVER (PARTITION BY lang ORDER BY len, doc_id) - 1)
         |      // ${operators.Sampling.paddingBatchSize} AS batch
         |  FROM pd),
         |pab AS (SELECT lang, batch, count(*) AS members, sum(len) AS toks,
         |          max(len) AS max_len FROM pa GROUP BY 1, 2),
         |psb AS (SELECT lang, batch, count(*) AS members, sum(len) AS toks,
         |          max(len) AS max_len FROM ps GROUP BY 1, 2),
         |pag AS (
         |  SELECT 'arrival' AS method, lang,
         |    CAST(sum(members) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_batches,
         |    CAST(sum(toks) AS BIGINT) AS tokens,
         |    CAST(sum(members * max_len) AS BIGINT) AS padded_tokens
         |  FROM pab GROUP BY 2),
         |psg AS (
         |  SELECT 'length_sorted' AS method, lang,
         |    CAST(sum(members) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_batches,
         |    CAST(sum(toks) AS BIGINT) AS tokens,
         |    CAST(sum(members * max_len) AS BIGINT) AS padded_tokens
         |  FROM psb GROUP BY 2)
         |SELECT method, lang, n_docs, n_batches, tokens, padded_tokens,
         |  CASE WHEN padded_tokens > 0
         |    THEN round(CAST(padded_tokens - tokens AS DOUBLE) / padded_tokens, 6)
         |  END AS waste_share
         |FROM (SELECT * FROM pag UNION ALL SELECT * FROM psg)
         |ORDER BY method, lang""".stripMargin,
    // tokenizer-TRUE padding twin: member cost = trained-BPE token
    // count (the recursion's final segmentation), same batch policies
    "q_padding_waste_bpe" ->
      s"""$bpeRecursionCte,
         |final AS (
         |  SELECT w0 AS w,
         |    CAST(len(string_split(word, ' ')) AS BIGINT) AS ns
         |  FROM it WHERE iter = (SELECT max(iter) FROM it)
         |),
         |corpus AS (
         |  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS w
         |  FROM documents
         |),
         |pd AS (
         |  SELECT lang, doc_id, CAST(sum(ns) AS BIGINT) AS len
         |  FROM corpus JOIN final USING (w) GROUP BY lang, doc_id
         |),
         |pa AS (
         |  SELECT lang, len,
         |    (row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1)
         |      // ${operators.Sampling.paddingBatchSize} AS batch
         |  FROM pd),
         |ps AS (
         |  SELECT lang, len,
         |    (row_number() OVER (PARTITION BY lang ORDER BY len, doc_id) - 1)
         |      // ${operators.Sampling.paddingBatchSize} AS batch
         |  FROM pd),
         |pab AS (SELECT lang, batch, count(*) AS members, sum(len) AS toks,
         |          max(len) AS max_len FROM pa GROUP BY 1, 2),
         |psb AS (SELECT lang, batch, count(*) AS members, sum(len) AS toks,
         |          max(len) AS max_len FROM ps GROUP BY 1, 2),
         |pag AS (
         |  SELECT 'arrival' AS method, lang,
         |    CAST(sum(members) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_batches,
         |    CAST(sum(toks) AS BIGINT) AS tokens,
         |    CAST(sum(members * max_len) AS BIGINT) AS padded_tokens
         |  FROM pab GROUP BY 2),
         |psg AS (
         |  SELECT 'length_sorted' AS method, lang,
         |    CAST(sum(members) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_batches,
         |    CAST(sum(toks) AS BIGINT) AS tokens,
         |    CAST(sum(members * max_len) AS BIGINT) AS padded_tokens
         |  FROM psb GROUP BY 2)
         |SELECT method, lang, n_docs, n_batches, tokens, padded_tokens,
         |  CASE WHEN padded_tokens > 0
         |    THEN round(CAST(padded_tokens - tokens AS DOUBLE) / padded_tokens, 6)
         |  END AS waste_share
         |FROM (SELECT * FROM pag UNION ALL SELECT * FROM psg)
         |ORDER BY method, lang""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH d AS (
         |  SELECT lang, doc_id,
         |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |r AS (
         |  SELECT lang, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |                     ROWS UNBOUNDED PRECEDING) - n_tok AS pre
         |  FROM d)
         |SELECT lang, CAST(floor(pre / ${operators.Sampling.packContextLen}) AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM r GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin,
    // tokenizer-TRUE packing twin: the budget unit is the trained
    // BPE's token count (the recursion's final segmentation replayed,
    // exactly the text_bpe_encode chain), not whitespace words
    "q_pack_sequences_bpe" ->
      s"""$bpeRecursionCte,
         |final AS (
         |  SELECT w0 AS w,
         |    CAST(len(string_split(word, ' ')) AS BIGINT) AS ns
         |  FROM it WHERE iter = (SELECT max(iter) FROM it)
         |),
         |corpus AS (
         |  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS w
         |  FROM documents
         |),
         |d AS (
         |  SELECT lang, doc_id, CAST(sum(ns) AS BIGINT) AS n_tok
         |  FROM corpus JOIN final USING (w) GROUP BY lang, doc_id
         |),
         |r AS (
         |  SELECT lang, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |                     ROWS UNBOUNDED PRECEDING) - n_tok AS pre
         |  FROM d)
         |SELECT lang,
         |  CAST(floor(pre / ${operators.Sampling.bpePackContextLen}) AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM r GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin,
    // tokenizer-TRUE budget twin: quality ORDER unchanged (the
    // whitespace-feature score), the budget fills by BPE token counts
    "q_token_budget_bpe" ->
      s"""$bpeRecursionCte,
         |final AS (
         |  SELECT w0 AS w,
         |    CAST(len(string_split(word, ' ')) AS BIGINT) AS ns
         |  FROM it WHERE iter = (SELECT max(iter) FROM it)
         |),
         |corpus AS (
         |  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS w
         |  FROM documents
         |),
         |d AS (
         |  SELECT lang, doc_id, CAST(sum(ns) AS BIGINT) AS n_tok
         |  FROM corpus JOIN final USING (w) GROUP BY lang, doc_id
         |),
         |q AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(trim(text), ' ')) AS DOUBLE) *
         |    (CASE WHEN CAST(len(list_filter(string_split(trim(text), ' '),
         |            t -> list_contains(['the','a','of','and','in','to','is'], t))) AS DOUBLE)
         |          / len(string_split(trim(text), ' ')) >= 0.05
         |     THEN 1.0 ELSE 0.5 END) AS quality
         |  FROM documents),
         |r AS (
         |  SELECT d.lang, d.doc_id, d.n_tok, q.quality,
         |    sum(d.n_tok) OVER (PARTITION BY d.lang
         |                       ORDER BY q.quality DESC, d.doc_id
         |                       ROWS UNBOUNDED PRECEDING) - d.n_tok AS pre
         |  FROM d JOIN q USING (doc_id))
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  round(min(quality), 4) AS min_quality
         |FROM r WHERE pre < ${operators.Sampling.bpeMixBudgetTokens}
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_heavy_hitters" ->
      """SELECT lang, CAST(rk AS BIGINT) AS rk, token, n FROM (
        |  SELECT lang, token, count(*) AS n,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY count(*) DESC, token) AS rk
        |  FROM (SELECT lang, unnest(string_split(trim(text), ' ')) AS token
        |        FROM documents)
        |  GROUP BY lang, token) t
        |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,
    // CCNet unigram-LM quality: per-token log-likelihoods summed by an
    // ordered fold (token asc); buckets by RANK (ntile over a total
    // order), never by interpolated-threshold comparison — engines
    // interpolate percentiles with different FP shapes and a one-ULP
    // cutoff difference flips boundary docs (observed at sf0.1)
    "text_unigram_nll" ->
      """WITH utf AS (
        |  SELECT doc_id, lang, token, count(*) AS tf
        |  FROM (SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS token
        |        FROM documents)
        |  GROUP BY doc_id, lang, token),
        |lm AS (SELECT lang, token, sum(tf) AS cnt FROM utf GROUP BY lang, token),
        |tot AS (SELECT lang, sum(cnt) AS total FROM lm GROUP BY lang),
        |term AS (
        |  SELECT utf.doc_id, utf.lang, utf.token, utf.tf,
        |    CAST(utf.tf AS DOUBLE) *
        |      ln(CAST(lm.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)) AS ll
        |  FROM utf JOIN lm ON utf.lang = lm.lang AND utf.token = lm.token
        |  JOIN tot ON utf.lang = tot.lang),
        |scored AS (
        |  SELECT doc_id, lang, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    round(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list(ll ORDER BY token)), (acc, x) -> acc + x)
        |      / sum(tf), 4) AS nll
        |  FROM term GROUP BY doc_id, lang)
        |SELECT doc_id, lang, n_tokens, nll,
        |  CASE ntile(3) OVER (PARTITION BY lang ORDER BY nll, doc_id)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
        |  END AS bucket
        |FROM scored
        |ORDER BY doc_id""".stripMargin,
    // stupid-backoff bigram LM (Brants et al. 2007): trained on the
    // even-doc_id half, scores the odd half — unseen bigrams take the
    // add-one-floored backoff α·(uni+1)/(N+V+1); counts all derive
    // from the one bigram reduction; ordered fold (prev, tok) asc
    "text_bigram_nll" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, string_split(trim(text), ' ') AS t
         |  FROM documents WHERE len(string_split(trim(text), ' ')) >= 2),
         |bi AS (
         |  SELECT doc_id, lang, t[CAST(i AS INTEGER)] AS prev,
         |         t[CAST(i AS INTEGER) + 1] AS tok
         |  FROM toks, unnest(generate_series(1, len(t) - 1)) s(i)),
         |tf AS (
         |  SELECT doc_id, lang, prev, tok, count(*) AS tf
         |  FROM bi GROUP BY doc_id, lang, prev, tok),
         |lm2 AS (
         |  SELECT lang, prev, tok, sum(tf) AS cnt2
         |  FROM tf WHERE doc_id % 2 = 0 GROUP BY lang, prev, tok),
         |ctx AS (SELECT lang, prev, sum(cnt2) AS c_ctx FROM lm2 GROUP BY lang, prev),
         |uni AS (SELECT lang, tok, sum(cnt2) AS c_uni FROM lm2 GROUP BY lang, tok),
         |tot AS (SELECT lang, sum(cnt2) AS n_total,
         |               count(DISTINCT tok) AS vocab FROM lm2 GROUP BY lang),
         |term AS (
         |  SELECT f.doc_id, f.lang, f.prev, f.tok, f.tf,
         |    CASE WHEN lm2.cnt2 IS NOT NULL
         |      THEN CAST(f.tf AS DOUBLE) *
         |        ln(CAST(lm2.cnt2 AS DOUBLE) / CAST(ctx.c_ctx AS DOUBLE))
         |      ELSE CAST(f.tf AS DOUBLE) * ln(
         |        ${operators.TextAnalysis.backoffAlpha} *
         |          (CAST(COALESCE(uni.c_uni, 0) AS DOUBLE) + 1.0) /
         |          (CAST(COALESCE(tot.n_total, 0) AS DOUBLE) +
         |           CAST(COALESCE(tot.vocab, 0) AS DOUBLE) + 1.0))
         |    END AS ll,
         |    CASE WHEN lm2.cnt2 IS NULL THEN f.tf ELSE 0 END AS bk
         |  FROM tf f
         |  LEFT JOIN lm2 ON f.lang = lm2.lang AND f.prev = lm2.prev AND f.tok = lm2.tok
         |  LEFT JOIN ctx ON f.lang = ctx.lang AND f.prev = ctx.prev
         |  LEFT JOIN uni ON f.lang = uni.lang AND f.tok = uni.tok
         |  LEFT JOIN tot ON f.lang = tot.lang
         |  WHERE f.doc_id % 2 = 1)
         |SELECT doc_id, lang, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |  CAST(sum(bk) AS BIGINT) AS n_backoff,
         |  round(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(ll ORDER BY prev, tok)), (acc, x) -> acc + x)
         |    / sum(tf), 4) AS nll
         |FROM term GROUP BY doc_id, lang
         |ORDER BY doc_id""".stripMargin,
    "q_token_budget_mix" ->
      s"""WITH d AS (
         |  SELECT lang, doc_id,
         |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok,
         |    CAST(len(string_split(trim(text), ' ')) AS DOUBLE) *
         |    (CASE WHEN CAST(len(list_filter(string_split(trim(text), ' '),
         |            t -> list_contains(['the','a','of','and','in','to','is'], t))) AS DOUBLE)
         |          / len(string_split(trim(text), ' ')) >= 0.05
         |     THEN 1.0 ELSE 0.5 END) AS quality
         |  FROM documents),
         |r AS (
         |  SELECT lang, doc_id, n_tok, quality,
         |    sum(n_tok) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
         |                     ROWS UNBOUNDED PRECEDING) - n_tok AS pre
         |  FROM d)
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  round(min(quality), 4) AS min_quality
         |FROM r WHERE pre < ${operators.Sampling.mixBudgetTokens}
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // same two bounded histograms (per-word first doc_id, per-doc
    // token count) probed by the 10-row decile spine; every count an
    // exact integer, TTR the single round-6 division
    "text_heaps_law" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS toks
        |  FROM documents),
        |sp AS (
        |  SELECT g.d AS decile, (g.d * m.idmax) // 10 AS thr
        |  FROM generate_series(1, 10) g(d),
        |    (SELECT max(doc_id) AS idmax FROM t) m),
        |nw AS (
        |  SELECT first_doc, CAST(count(*) AS BIGINT) AS n_new FROM (
        |    SELECT w, min(doc_id) AS first_doc
        |    FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY w)
        |  GROUP BY 1),
        |va AS (
        |  SELECT sp.decile, sp.thr, CAST(sum(nw.n_new) AS BIGINT) AS n_vocab
        |  FROM sp JOIN nw ON nw.first_doc <= sp.thr GROUP BY 1, 2),
        |ta AS (
        |  SELECT sp.decile, sp.thr, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(toks)) AS BIGINT) AS n_tokens
        |  FROM sp JOIN t ON t.doc_id <= sp.thr GROUP BY 1, 2)
        |SELECT ta.decile, ta.thr, ta.n_docs, ta.n_tokens, va.n_vocab,
        |  CASE WHEN ta.n_tokens > 0 THEN
        |    round(CAST(va.n_vocab AS DOUBLE) /
        |      CAST(ta.n_tokens AS DOUBLE), 6)
        |  END AS ttr
        |FROM ta JOIN va ON ta.decile = va.decile AND ta.thr = va.thr
        |ORDER BY ta.decile""".stripMargin,
    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
        |  WHERE len(string_split(trim(text), ' ')) >= 2),
        |b AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    len(list_distinct(toks)) AS n_distinct,
        |    unnest(list_transform(range(1, len(toks)),
        |                          i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM t),
        |c AS (
        |  SELECT doc_id, n_tokens, n_distinct, bg, count(*) AS n
        |  FROM b GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_distinct AS DOUBLE) / n_tokens AS type_token_ratio,
        |  1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS dup_bigram_frac,
        |  CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS top_bigram_frac
        |FROM c GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
    "text_tfidf_keywords" ->
      """WITH tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |d AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |r AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, d.df, n.n_docs,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, d.df ASC, tf.token ASC) AS rk
        |  FROM tf JOIN d USING (token), n)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, token, CAST(tf AS BIGINT) AS tf,
        |  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "text_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id,
         |  (CASE WHEN c0 IS NOT NULL THEN 1 ELSE 0 END +
         |   CASE WHEN c1 IS NOT NULL THEN 1 ELSE 0 END +
         |   CASE WHEN c2 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_terms,
         |  round(coalesce(c0, 0.0) + coalesce(c1, 0.0) + coalesce(c2, 0.0), 4)
         |    AS bm25
         |FROM p ORDER BY doc_id""".stripMargin,
    // nDCG@k over the BM25 ranking: rel = distinct-term coverage,
    // gain (1<<rel)-1 exact integer, discounts are the SAME double
    // literals Retrieval.ndcgDiscounts computed (Double.toString
    // round-trips -- no libm call meets the hash), DCG as the fixed
    // declaration-order pivoted sum, single round-6 read-offs
    "text_ndcg" -> {
      val k = operators.Retrieval.ndcgK
      val dcgSql: String =
        (1 to k).map(r =>
          s"coalesce(max(CASE WHEN rnk = $r THEN " +
            s"CAST((1 << rel) - 1 AS DOUBLE) END), 0.0) * " +
            s"${operators.Retrieval.ndcgDiscounts(r - 1)}")
          .mkString(" + ")
      s"""WITH $bm25Ctes,
         |sc AS (
         |  SELECT doc_id,
         |    (CASE WHEN c0 IS NOT NULL THEN 1 ELSE 0 END +
         |     CASE WHEN c1 IS NOT NULL THEN 1 ELSE 0 END +
         |     CASE WHEN c2 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS rel,
         |    round(coalesce(c0, 0.0) + coalesce(c1, 0.0) +
         |      coalesce(c2, 0.0), 4) AS bm25
         |  FROM p),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM sc),
         |sys AS (SELECT * FROM (
         |  SELECT rel, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
         |    AS BIGINT) AS rnk FROM sc) x WHERE rnk <= $k),
         |idl AS (SELECT * FROM (
         |  SELECT rel, CAST(row_number() OVER (ORDER BY rel DESC, doc_id)
         |    AS BIGINT) AS rnk FROM sc) x WHERE rnk <= $k),
         |sd AS (SELECT $dcgSql AS dcg FROM sys),
         |sid AS (SELECT $dcgSql AS idcg FROM idl)
         |SELECT CAST($k AS BIGINT) AS k, n.n_candidates,
         |  round(sd.dcg, 6) AS dcg, round(sid.idcg, 6) AS idcg,
         |  CASE WHEN sid.idcg > 0 THEN round(sd.dcg / sid.idcg, 6) END AS ndcg
         |FROM sd, sid, n""".stripMargin
    },
    "text_chunk_windows" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(trim(text), ' ') AS toks,
         |    len(string_split(trim(text), ' ')) AS nt
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, toks,
         |    unnest(range(0, 1 + CASE WHEN nt > ${operators.Sampling.chunkSize}
         |      THEN CAST((nt - ${operators.Sampling.chunkSize}
         |                 + ${operators.Sampling.chunkStride - 1})
         |                // ${operators.Sampling.chunkStride} AS INT)
         |      ELSE 0 END)) AS k
         |  FROM d)
         |SELECT doc_id, k AS chunk_id,
         |  k * ${operators.Sampling.chunkStride} AS start_tok,
         |  CAST(len(toks[CAST(k * ${operators.Sampling.chunkStride} + 1 AS INT)
         |    : CAST(k * ${operators.Sampling.chunkStride}
         |           + ${operators.Sampling.chunkSize} AS INT)]) AS BIGINT)
         |    AS n_tok,
         |  array_to_string(
         |    toks[CAST(k * ${operators.Sampling.chunkStride} + 1 AS INT)
         |      : CAST(k * ${operators.Sampling.chunkStride}
         |             + ${operators.Sampling.chunkSize} AS INT)], ' ')
         |    AS chunk_text
         |FROM k ORDER BY doc_id, chunk_id""".stripMargin,
    "q_shuffle_order" ->
      """SELECT row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '#graft-shuffle-1'),
        |             doc_id) AS position,
        |  doc_id
        |FROM documents ORDER BY position""".stripMargin,
    // integer score (1000·stopwords + tokens) → global rank → integer
    // phase cut ((rank−1)·K div N): no float exists anywhere in the row
    "q_curriculum" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(trim(text), ' '),
         |      t -> list_contains(['the','a','of','and','in','to','is'], t)))
         |      AS BIGINT) * 1000
         |    + CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS score
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, score,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         |      AS rank
         |  FROM s)
         |SELECT rank, doc_id, score,
         |  CAST(((rank - 1) * ${operators.Sampling.curriculumPhaseCount})
         |    // (SELECT count(*) FROM s) + 1 AS BIGINT) AS phase
         |FROM r ORDER BY rank""".stripMargin,
    "q_temperature_mix" ->
      s"""WITH c AS (
         |  SELECT lang,
         |    CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |w AS (
         |  SELECT lang, n_tokens,
         |    CAST(round(pow(CAST(n_tokens AS DOUBLE), ${operators.Sampling.mixTau}), 6)
         |      AS DECIMAL(28, 6)) AS w
         |  FROM c),
         |s AS (
         |  SELECT lang, n_tokens,
         |    CAST(w AS DOUBLE) / CAST(sum(w) OVER () AS DOUBLE) AS p,
         |    CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS nat
         |  FROM w)
         |SELECT lang, n_tokens,
         |  round(nat, 4) AS natural_share,
         |  round(p, 4) AS temp_share,
         |  CAST(round(p * ${operators.Sampling.tempBudgetTokens}, 0) AS BIGINT)
         |    AS target_tokens
         |FROM s ORDER BY lang""".stripMargin,
    "text_cms_counts" -> cmsOracleSql,
    // same full-recompute oracle: the merged base+delta read-off must
    // hash-equal the whole-corpus sketch (cell linearity,
    // driver-certified)
    "text_cms_incremental" -> cmsOracleSql,
    "q_dataset_manifest" -> {
      def fieldSql(n: String, k: String): String = k match {
        case "i" | "s" => s"COALESCE(CAST($n AS VARCHAR), '')"
        case "ts" => s"COALESCE(CAST(epoch_us($n) AS VARCHAR), '')"
        case "m" =>
          s"COALESCE(CAST(CAST(round(CAST($n AS DOUBLE) * 10000) AS BIGINT)" +
            " AS VARCHAR), '')"
        case "emb" =>
          s"""COALESCE(CAST((SELECT sum(CAST(i AS BIGINT) *
             |      CAST(round(CAST($n[CAST(i AS INTEGER)] AS DOUBLE) * 10000)
             |           AS BIGINT))
             |    FROM unnest(generate_series(1, len($n))) t(i))
             |  AS VARCHAR), '')""".stripMargin
      }
      val hex7dg = (1 to 7).map(p =>
        s"(strpos('0123456789abcdef', substr(dg, $p, 1)) - 1) * " +
          s"${1L << (4 * (7 - p))}").mkString(" + ")
      val unions = operators.Manifest.spec.map { case (t, fs) =>
        val joined = fs.map { case (n, k) => fieldSql(n, k) }
          .mkString(" || chr(1) || ")
        s"""SELECT '$t' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(COALESCE(sum($hex7dg), 0) AS BIGINT) AS checksum
           |FROM (SELECT md5($joined) AS dg FROM $t)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"$unions\nORDER BY table_name"
    },
    "q_histogram_quantiles" -> {
      val targets = operators.Sketches.hqTargets
        .map { case (n, d) => s"(CAST($n AS BIGINT), CAST($d AS BIGINT))" }
        .mkString(", ")
      s"""WITH h AS (
         |  SELECT CAST(length(bin(CAST(round(o_totalprice * 100) AS BIGINT)))
         |           - 1 AS BIGINT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM orders GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM h),
         |cum AS (
         |  SELECT a.bucket, CAST(sum(b.n) AS BIGINT) AS cum_le
         |  FROM h a JOIN h b ON b.bucket <= a.bucket GROUP BY 1),
         |tg(q_num, q_den) AS (VALUES $targets),
         |sel AS (
         |  SELECT q_num, q_den, t_rank, n_total, min(bucket) AS bucket
         |  FROM (SELECT h.bucket, cum.cum_le, tg.q_num, tg.q_den,
         |          tot.n_total,
         |          (tg.q_num * tot.n_total + tg.q_den - 1) // tg.q_den
         |            AS t_rank
         |        FROM h JOIN cum USING (bucket)
         |             CROSS JOIN tot CROSS JOIN tg) x
         |  WHERE cum_le >= t_rank
         |  GROUP BY 1, 2, 3, 4)
         |SELECT sel.q_num, sel.q_den, sel.n_total, sel.t_rank, sel.bucket,
         |  CAST(power(2, sel.bucket) AS BIGINT) AS lo_cents,
         |  CAST(power(2, sel.bucket + 1) AS BIGINT) - 1 AS hi_cents,
         |  h.n AS bucket_n, cum.cum_le
         |FROM sel JOIN h ON h.bucket = sel.bucket
         |         JOIN cum ON cum.bucket = sel.bucket
         |ORDER BY q_den, q_num""".stripMargin
    },
    // HDR log-linear sketch: e from the binary-string-length identity,
    // sub-bucket by integer shift — the cell table is LINEAR (bucket-
    // wise sum == sketch of the union), every column exact integer;
    // see Sketches.hdrQuantiles for the t-digest adjudication
    "q_hdr_quantiles" -> hdrOracleSql,
    // same full-recompute oracle: the merged base+delta read-off must
    // hash-equal the whole-corpus sketch (linearity, driver-certified)
    "q_hdr_incremental" -> hdrOracleSql,
    // the grouped read-off: same cell rule and exact-rank arithmetic,
    // keyed by customer segment throughout
    "q_hdr_by_segment" -> {
      val targets = operators.Sketches.hqTargets
        .map { case (n, d) => s"(CAST($n AS BIGINT), CAST($d AS BIGINT))" }
        .mkString(", ")
      val w = 1L << operators.Sketches.hdrSubBits
      val sb = operators.Sketches.hdrSubBits
      s"""WITH vals AS (
         |  SELECT c.c_mktsegment AS segment,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
         |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
         |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= 1),
         |c0 AS (
         |  SELECT segment, v, CAST(length(bin(v)) - 1 AS BIGINT) AS e
         |  FROM vals),
         |cells AS (
         |  SELECT segment, e,
         |    (v // CAST(power(2, greatest(e - $sb, 0)) AS BIGINT)) -
         |      CAST(power(2, e - greatest(e - $sb, 0)) AS BIGINT) AS sub,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM c0 GROUP BY 1, 2, 3),
         |k AS (SELECT segment, e, sub, n, e * $w + sub AS key FROM cells),
         |tot AS (SELECT segment, CAST(sum(n) AS BIGINT) AS n_total
         |        FROM k GROUP BY 1),
         |cum AS (SELECT a.segment, a.key, CAST(sum(b.n) AS BIGINT) AS cum_le
         |        FROM k a JOIN k b
         |          ON b.segment = a.segment AND b.key <= a.key
         |        GROUP BY 1, 2),
         |tg(q_num, q_den) AS (VALUES $targets),
         |sel AS (
         |  SELECT segment, q_num, q_den, t_rank, n_total, min(key) AS key
         |  FROM (SELECT k.segment, k.key, cum.cum_le, tg.q_num, tg.q_den,
         |          tot.n_total,
         |          (tg.q_num * tot.n_total + tg.q_den - 1) // tg.q_den
         |            AS t_rank
         |        FROM k JOIN cum ON cum.segment = k.segment
         |                       AND cum.key = k.key
         |             JOIN tot ON tot.segment = k.segment
         |             CROSS JOIN tg) x
         |  WHERE cum_le >= t_rank
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT sel.segment, sel.q_num, sel.q_den, sel.n_total, sel.t_rank,
         |  k.e AS bucket_e, k.sub AS bucket_sub,
         |  (CAST(power(2, k.e - greatest(k.e - $sb, 0)) AS BIGINT) + k.sub) *
         |    CAST(power(2, greatest(k.e - $sb, 0)) AS BIGINT) AS lo_cents,
         |  (CAST(power(2, k.e - greatest(k.e - $sb, 0)) AS BIGINT) + k.sub
         |     + 1) *
         |    CAST(power(2, greatest(k.e - $sb, 0)) AS BIGINT) - 1 AS hi_cents,
         |  k.n AS bucket_n, cum.cum_le
         |FROM sel JOIN k ON k.segment = sel.segment AND k.key = sel.key
         |         JOIN cum ON cum.segment = sel.segment AND cum.key = sel.key
         |ORDER BY sel.segment, q_den, q_num""".stripMargin
    },
    "q_weekly_profile" ->
      """WITH c AS (
        |  SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
        |    (epoch_us(ts) // 3600000000) % 24 AS hour,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c)
        |SELECT dow, hour, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / n_total, 6) AS share
        |FROM c CROSS JOIN t ORDER BY 1, 2""".stripMargin,
    "q_forecast_baseline" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT h.event_type, h.n, f.n AS forecast
        |  FROM h LEFT JOIN h f
        |    ON f.event_type = h.event_type AND f.hour_idx = h.hour_idx - 24)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(count(forecast) AS BIGINT) AS n_scored,
        |  round(CAST(sum(abs(n - forecast)) AS DOUBLE) / count(forecast), 4)
        |    AS mae,
        |  round(avg(CASE WHEN forecast IS NOT NULL AND n > 0
        |    THEN CAST(abs(n - forecast) AS DOUBLE) / CAST(n AS DOUBLE) END),
        |    6) AS mape
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_hll_daily" -> hllDailyOracleSql,
    // same full-recompute oracle: the MAX-merged base+delta read-off
    // must hash-equal the whole-corpus sketch (HLL union property,
    // driver-certified)
    "q_hll_incremental" -> hllDailyOracleSql,
    // cumulative uniques-to-date: register-wise MAX over the day
    // prefix (sketch-union as a triangular join over the D×m frame);
    // exact side prefix-sums first-seen-day counts the same way
    "q_hll_running" -> {
      val hex8 = (0 until 8).map(o =>
        s"(strpos('0123456789abcdef', substr(d, ${1 + o}, 1)) - 1) * " +
          s"CAST(${1L << (4 * (7 - o))} AS BIGINT)").mkString(" + ")
      val wordMod = 1L << operators.Sketches.hllWordBits
      val m = operators.Sketches.hllRegisters
      val a = operators.Sketches.hllAlpha
      val raw = s"$a * $m.0 * $m.0 / " +
        s"(harm_present + ($m.0 - CAST(n_present AS DOUBLE)))"
      s"""WITH ev AS (
         |  SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
         |hh AS (
         |  SELECT day, ($hex8) AS h
         |  FROM (SELECT day, md5(CAST(user_id AS VARCHAR)) AS d FROM ev)),
         |rr AS (
         |  SELECT day, h // $wordMod AS reg,
         |    ${operators.Sketches.rhoSql(s"(h % $wordMod)")} AS rho
         |  FROM hh),
         |mx AS (SELECT day, reg, max(rho) AS max_rho FROM rr GROUP BY 1, 2),
         |days AS (SELECT DISTINCT day AS d FROM mx),
         |cum AS (
         |  SELECT days.d, mx.reg, max(mx.max_rho) AS cum_rho
         |  FROM days JOIN mx ON mx.day <= days.d GROUP BY 1, 2),
         |sk AS (
         |  SELECT d, CAST(count(*) AS BIGINT) AS n_present,
         |    sum(power(2, -cum_rho)) AS harm_present
         |  FROM cum GROUP BY 1),
         |nn AS (
         |  SELECT f, CAST(count(*) AS BIGINT) AS n_new FROM (
         |    SELECT user_id, min(day) AS f FROM ev GROUP BY user_id)
         |  GROUP BY f),
         |ex AS (
         |  SELECT days.d, CAST(sum(nn.n_new) AS BIGINT) AS n_exact
         |  FROM days JOIN nn ON nn.f <= days.d GROUP BY 1),
         |es AS (
         |  SELECT sk.d, ex.n_exact,
         |    CAST($m - sk.n_present AS BIGINT) AS n_zero_regs,
         |    round(CASE WHEN $raw <= 2.5 * $m.0 AND $m - n_present > 0
         |      THEN $m.0 * ln($m.0 / CAST($m - n_present AS DOUBLE))
         |      ELSE $raw END, 4) AS est_distinct
         |  FROM sk JOIN ex ON ex.d = sk.d)
         |SELECT d AS day, n_exact, n_zero_regs, est_distinct,
         |  CASE WHEN n_exact > 0 THEN
         |    round(abs(est_distinct - CAST(n_exact AS DOUBLE)) /
         |          CAST(n_exact AS DOUBLE), 4) END AS rel_err
         |FROM es ORDER BY day""".stripMargin
    },
    "q_hll_registers" -> s"""$hllRegsCte
        |SELECT reg, max_rho FROM regs ORDER BY reg""".stripMargin,
    // HLL set algebra replay (Sketches.hllCohortOverlap): two filtered
    // register builds (same md5/ρ chain as q_hll_registers), union =
    // register-wise MAX, three round-4 estimator read-offs, round-4
    // inclusion–exclusion floored at 0; the exact side is one INTERSECT
    "q_hll_overlap" -> {
      val m = operators.Sketches.hllRegisters
      val a = operators.Sketches.hllAlpha
      val wordMod = 1L << operators.Sketches.hllWordBits
      val hex8 = (0 until 8).map(o =>
        s"(strpos('0123456789abcdef', substr(d, ${1 + o}, 1)) - 1) * " +
          s"CAST(${1L << (4 * (7 - o))} AS BIGINT)").mkString(" + ")
      // register chain for one priority cohort: hh/mx/regs suffixed
      def chain(sfx: String, prio: String) =
        s"""hh$sfx AS (
           |  SELECT ($hex8) AS h
           |  FROM (SELECT md5(CAST(o_custkey AS VARCHAR)) AS d
           |        FROM orders WHERE o_orderpriority = '$prio')),
           |mx$sfx AS (
           |  SELECT h // $wordMod AS reg,
           |    max(${operators.Sketches.rhoSql(s"(h % $wordMod)")}) AS max_rho
           |  FROM hh$sfx GROUP BY 1),
           |regs$sfx AS (
           |  SELECT spine.reg,
           |    CAST(coalesce(mx$sfx.max_rho, 0) AS BIGINT) AS max_rho
           |  FROM spine LEFT JOIN mx$sfx ON mx$sfx.reg = spine.reg)"""
          .stripMargin
      // one-row (est) read-off per register frame — estimateOf replay
      def est(sfx: String, out: String) =
        s"""sk$sfx AS (
           |  SELECT sum(power(2, -max_rho)) AS harm,
           |    CAST(sum(CASE WHEN max_rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS zeros
           |  FROM regs$sfx),
           |es$sfx AS (
           |  SELECT round(CASE WHEN $a * $m.0 * $m.0 / harm <= 2.5 * $m.0
           |                         AND zeros > 0
           |    THEN $m.0 * ln($m.0 / CAST(zeros AS DOUBLE))
           |    ELSE $a * $m.0 * $m.0 / harm END, 4) AS $out
           |  FROM sk$sfx)""".stripMargin
      val estBoth = "greatest(est_a + est_b - est_union, 0.0)"
      s"""WITH spine AS (
         |  SELECT CAST(i AS BIGINT) AS reg
         |  FROM generate_series(0, ${m - 1}) t(i)),
         |${chain("a", "1-URGENT")},
         |${chain("b", "5-LOW")},
         |regsu AS (
         |  SELECT ra.reg, greatest(ra.max_rho, rb.max_rho) AS max_rho
         |  FROM regsa ra JOIN regsb rb ON rb.reg = ra.reg),
         |${est("a", "est_a")},
         |${est("b", "est_b")},
         |${est("u", "est_union")},
         |ex AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_exact_both FROM (
         |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         |    INTERSECT
         |    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'))
         |SELECT est_a, est_b, est_union,
         |  round($estBoth, 4) AS est_both, n_exact_both,
         |  CASE WHEN n_exact_both > 0 THEN
         |    round(abs(round($estBoth, 4) - CAST(n_exact_both AS DOUBLE)) /
         |          CAST(n_exact_both AS DOUBLE), 4) END AS rel_err
         |FROM esa, esb, esu, ex""".stripMargin
    },
    // Theta/KMV set algebra replay (Sketches.thetaOverlap): the k=256
    // smallest 60-bit md5 hashes per cohort ARE the sketch state —
    // order statistics of exact integers, replayed verbatim; union =
    // re-min of the merged frames; intersection = common hashes under
    // θ = min(θ_A, θ_B); every estimate is one round-4 division of
    // exact integers cast to double
    "q_theta_overlap" -> {
      val k = operators.Sketches.thetaK
      val bigM = 1L << operators.Sketches.thetaHashBits
      val hex15 = (0 until 15).map(o =>
        s"(strpos('0123456789abcdef', substr(d, ${1 + o}, 1)) - 1) * " +
          s"CAST(${BigInt(16).pow(14 - o)} AS BIGINT)").mkString(" + ")
      def kmv(sfx: String, prio: String) =
        s"""hh$sfx AS (
           |  SELECT DISTINCT ($hex15) AS h
           |  FROM (SELECT md5(CAST(o_custkey AS VARCHAR)) AS d
           |        FROM orders WHERE o_orderpriority = '$prio')),
           |kmv$sfx AS (SELECT h FROM hh$sfx ORDER BY h LIMIT $k),
           |t$sfx AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n$sfx,
           |    CASE WHEN count(*) < $k THEN CAST($bigM AS BIGINT)
           |         ELSE max(h) END AS t$sfx
           |  FROM kmv$sfx)""".stripMargin
      def est(cnt: String, theta: String) =
        s"round(CAST($cnt AS DOUBLE) * $bigM.0 / CAST($theta AS DOUBLE), 4)"
      s"""WITH ${kmv("a", "1-URGENT")},
         |${kmv("b", "5-LOW")},
         |kmvu AS (
         |  SELECT h FROM (SELECT h FROM kmva UNION SELECT h FROM kmvb)
         |  ORDER BY h LIMIT $k),
         |tu AS (
         |  SELECT CASE WHEN count(*) < $k THEN CAST($bigM AS BIGINT)
         |         ELSE max(h) END AS tu
         |  FROM kmvu),
         |cu AS (SELECT CAST(count(*) AS BIGINT) AS cu
         |       FROM kmvu, tu WHERE h < tu),
         |ci AS (SELECT CAST(count(*) AS BIGINT) AS ci
         |       FROM kmva JOIN kmvb USING (h), ta, tb
         |       WHERE h < least(ta, tb)),
         |ca AS (SELECT CAST(count(*) AS BIGINT) AS ca
         |       FROM kmva, ta WHERE h < ta),
         |cb AS (SELECT CAST(count(*) AS BIGINT) AS cb
         |       FROM kmvb, tb WHERE h < tb),
         |ex AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_exact_both FROM (
         |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         |    INTERSECT
         |    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'))
         |SELECT CAST($k AS BIGINT) AS k, least(ta, tb) AS theta,
         |  ${est("ca", "ta")} AS est_a,
         |  ${est("cb", "tb")} AS est_b,
         |  ${est("cu", "tu")} AS est_union,
         |  ${est("ci", "least(ta, tb)")} AS est_both, n_exact_both,
         |  CASE WHEN n_exact_both > 0 THEN
         |    round(abs(${est("ci", "least(ta, tb)")} -
         |              CAST(n_exact_both AS DOUBLE)) /
         |          CAST(n_exact_both AS DOUBLE), 4) END AS rel_err
         |FROM ta, tb, tu, cu, ci, ca, cb, ex""".stripMargin
    },
    // Theta set difference replay: below theta = min(theta_a, theta_b)
    // both sketches are complete, so an anti-join of the frames IS a
    // rate-theta/M sample of A-minus-B; exact EXCEPT counts alongside
    "q_theta_diff" -> {
      val k = operators.Sketches.thetaK
      val bigM = 1L << operators.Sketches.thetaHashBits
      val hex15 = (0 until 15).map(o =>
        s"(strpos('0123456789abcdef', substr(d, ${1 + o}, 1)) - 1) * " +
          s"CAST(${BigInt(16).pow(14 - o)} AS BIGINT)").mkString(" + ")
      def kmv(sfx: String, prio: String) =
        s"""hh$sfx AS (
           |  SELECT DISTINCT ($hex15) AS h
           |  FROM (SELECT md5(CAST(o_custkey AS VARCHAR)) AS d
           |        FROM orders WHERE o_orderpriority = '$prio')),
           |kmv$sfx AS (SELECT h FROM hh$sfx ORDER BY h LIMIT $k),
           |t$sfx AS (
           |  SELECT CASE WHEN count(*) < $k THEN CAST($bigM AS BIGINT)
           |         ELSE max(h) END AS t$sfx
           |  FROM kmv$sfx)""".stripMargin
      def est(cnt: String) =
        s"round(CAST($cnt AS DOUBLE) * $bigM.0 / " +
          "CAST(least(ta, tb) AS DOUBLE), 4)"
      s"""WITH ${kmv("a", "1-URGENT")},
         |${kmv("b", "5-LOW")},
         |coa AS (SELECT CAST(count(*) AS BIGINT) AS c_only_a
         |        FROM kmva, ta, tb WHERE h < least(ta, tb)
         |          AND h NOT IN (SELECT h FROM kmvb)),
         |cob AS (SELECT CAST(count(*) AS BIGINT) AS c_only_b
         |        FROM kmvb, ta, tb WHERE h < least(ta, tb)
         |          AND h NOT IN (SELECT h FROM kmva)),
         |exa AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_exact_only_a FROM (
         |    SELECT DISTINCT o_custkey FROM orders
         |    WHERE o_orderpriority = '1-URGENT'
         |    EXCEPT
         |    SELECT DISTINCT o_custkey FROM orders
         |    WHERE o_orderpriority = '5-LOW')),
         |exb AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_exact_only_b FROM (
         |    SELECT DISTINCT o_custkey FROM orders
         |    WHERE o_orderpriority = '5-LOW'
         |    EXCEPT
         |    SELECT DISTINCT o_custkey FROM orders
         |    WHERE o_orderpriority = '1-URGENT'))
         |SELECT CAST($k AS BIGINT) AS k, least(ta, tb) AS theta,
         |  ${est("c_only_a")} AS est_only_a,
         |  ${est("c_only_b")} AS est_only_b,
         |  n_exact_only_a, n_exact_only_b,
         |  CASE WHEN n_exact_only_a > 0 THEN
         |    round(abs(${est("c_only_a")} - CAST(n_exact_only_a AS DOUBLE)) /
         |          CAST(n_exact_only_a AS DOUBLE), 4) END AS rel_err_a,
         |  CASE WHEN n_exact_only_b > 0 THEN
         |    round(abs(${est("c_only_b")} - CAST(n_exact_only_b AS DOUBLE)) /
         |          CAST(n_exact_only_b AS DOUBLE), 4) END AS rel_err_b
         |FROM ta, tb, coa, cob, exa, exb""".stripMargin
    },
    // the sketch STATE certified as data (the q_hll_registers
    // discipline): the k smallest 60-bit hashes of the urgent cohort
    "q_theta_frame" -> {
      val k = operators.Sketches.thetaK
      val hex15 = (0 until 15).map(o =>
        s"(strpos('0123456789abcdef', substr(d, ${1 + o}, 1)) - 1) * " +
          s"CAST(${BigInt(16).pow(14 - o)} AS BIGINT)").mkString(" + ")
      s"""WITH hh AS (
         |  SELECT DISTINCT ($hex15) AS h
         |  FROM (SELECT md5(CAST(o_custkey AS VARCHAR)) AS d
         |        FROM orders WHERE o_orderpriority = '1-URGENT'))
         |SELECT h FROM hh ORDER BY h LIMIT $k""".stripMargin
    },
    "q_hll_distinct" -> {
      val m = operators.Sketches.hllRegisters
      s"""$hllRegsCte,
         |sk AS (
         |  SELECT sum(power(2, -max_rho)) AS harm,
         |    CAST(sum(CASE WHEN max_rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS zeros
         |  FROM regs),
         |ex AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
         |       FROM orders),
         |es AS (
         |  SELECT zeros, n_exact,
         |    round(CASE WHEN ${operators.Sketches.hllAlpha} * $m.0 * $m.0 / harm
         |                    <= 2.5 * $m.0 AND zeros > 0
         |      THEN $m.0 * ln($m.0 / CAST(zeros AS DOUBLE))
         |      ELSE ${operators.Sketches.hllAlpha} * $m.0 * $m.0 / harm END, 4)
         |      AS est_distinct
         |  FROM sk, ex)
         |SELECT CAST($m AS BIGINT) AS m, n_exact, zeros AS n_zero_regs,
         |  est_distinct,
         |  CASE WHEN n_exact > 0 THEN
         |    round(abs(est_distinct - CAST(n_exact AS DOUBLE)) /
         |          CAST(n_exact AS DOUBLE), 4) END AS rel_err
         |FROM es""".stripMargin
    },
    // LZ78 parse replayed character-by-character: each doc steps one
    // char per recursion level carrying (current phrase, dictionary
    // list, count) — the exact spec of functions.Lz78Kernel
    "text_lz_complexity" ->
      """WITH RECURSIVE step(doc_id, pos, cur, dict, cnt, n) AS (
        |  SELECT doc_id, 1, '', []::VARCHAR[], 0, length(text)
        |  FROM documents
        |  UNION ALL
        |  SELECT s.doc_id, s.pos + 1,
        |    CASE WHEN list_contains(s.dict, s.cur || substr(d.text, s.pos, 1))
        |         THEN s.cur || substr(d.text, s.pos, 1) ELSE '' END,
        |    CASE WHEN list_contains(s.dict, s.cur || substr(d.text, s.pos, 1))
        |         THEN s.dict
        |         ELSE list_append(s.dict, s.cur || substr(d.text, s.pos, 1))
        |         END,
        |    CASE WHEN list_contains(s.dict, s.cur || substr(d.text, s.pos, 1))
        |         THEN s.cnt ELSE s.cnt + 1 END,
        |    s.n
        |  FROM step s JOIN documents d USING (doc_id)
        |  WHERE s.pos <= s.n),
        |fin AS (
        |  SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        |    CAST(cnt + CASE WHEN cur <> '' THEN 1 ELSE 0 END AS BIGINT)
        |      AS lz_phrases
        |  FROM step WHERE pos = n + 1)
        |SELECT doc_id, n_chars, lz_phrases,
        |  CASE WHEN n_chars > 0 THEN
        |    round(CAST(lz_phrases AS DOUBLE) / n_chars, 6) END AS lz_ratio
        |FROM fin ORDER BY doc_id""".stripMargin,
    "text_subword_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS BIGINT)
        |    AS n_subwords,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS DOUBLE)
        |    / len(string_split(trim(text), ' ')) AS fertility
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_triangle_count" ->
      s"""WITH $winnowPairsCtes,
         |e AS (SELECT DISTINCT a_id, b_id FROM wp),
         |nodes AS (SELECT a_id AS id FROM e UNION SELECT b_id FROM e),
         |deg AS (
         |  SELECT id, count(*) AS d
         |  FROM (SELECT a_id AS id FROM e UNION ALL SELECT b_id FROM e)
         |  GROUP BY 1),
         |w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges
         |      FROM deg),
         |tri AS (
         |  SELECT CAST(count(*) AS BIGINT) AS triangles
         |  FROM e e1 JOIN e e2 ON e2.a_id = e1.b_id
         |       JOIN e e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
         |SELECT n_nodes, n_edges, triangles, wedges,
         |  CASE WHEN wedges > 0 THEN round(3.0 * triangles / wedges, 6) END
         |    AS clustering
         |FROM nn CROSS JOIN ne CROSS JOIN tri CROSS JOIN w""".stripMargin,
    "q_pagerank_dupgraph" ->
      s"""WITH $winnowPairsCtes,
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM wp
         |  UNION ALL
         |  SELECT b_id AS src, a_id AS dst FROM wp),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT src AS id, CAST(${operators.GraphRank.prScale} AS BIGINT) AS r
         |       FROM deg),
         |c1 AS (
         |  SELECT e.dst, CAST(sum(r.r // d.deg) AS BIGINT) AS s
         |  FROM edges e JOIN r0 r ON r.id = e.src
         |               JOIN deg d ON d.src = e.src
         |  GROUP BY 1),
         |r1 AS (
         |  SELECT n.src AS id,
         |    ${operators.GraphRank.teleport} + (${operators.GraphRank.dampNum} * coalesce(c1.s, 0))
         |      // ${operators.GraphRank.dampDen} AS r
         |  FROM deg n LEFT JOIN c1 ON c1.dst = n.src),
         |c2 AS (
         |  SELECT e.dst, CAST(sum(r.r // d.deg) AS BIGINT) AS s
         |  FROM edges e JOIN r1 r ON r.id = e.src
         |               JOIN deg d ON d.src = e.src
         |  GROUP BY 1),
         |r2 AS (
         |  SELECT n.src AS id,
         |    ${operators.GraphRank.teleport} + (${operators.GraphRank.dampNum} * coalesce(c2.s, 0))
         |      // ${operators.GraphRank.dampDen} AS r
         |  FROM deg n LEFT JOIN c2 ON c2.dst = n.src),
         |c3 AS (
         |  SELECT e.dst, CAST(sum(r.r // d.deg) AS BIGINT) AS s
         |  FROM edges e JOIN r2 r ON r.id = e.src
         |               JOIN deg d ON d.src = e.src
         |  GROUP BY 1),
         |r3 AS (
         |  SELECT n.src AS id,
         |    ${operators.GraphRank.teleport} + (${operators.GraphRank.dampNum} * coalesce(c3.s, 0))
         |      // ${operators.GraphRank.dampDen} AS r
         |  FROM deg n LEFT JOIN c3 ON c3.dst = n.src)
         |SELECT row_number() OVER (ORDER BY r3.r DESC, r3.id) AS rank,
         |  r3.id AS doc_id, d.deg, r3.r AS pr_scaled
         |FROM r3 JOIN deg d ON d.src = r3.id
         |ORDER BY rank""".stripMargin,
    "text_winnow_pairs" ->
      s"""WITH $winnowPairsCtes
         |SELECT a_id, b_id, n_shared FROM wp
         |ORDER BY a_id, b_id""".stripMargin,
    "text_rolling_hash" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(text, ''),
        |                     c -> CAST(ord(c) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) AS content_hash,
        |  list_min(list_transform(
        |    generate_series(1, greatest(len(text) - 15, 1)),
        |    s -> list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(generate_series(s, least(s + 15, len(text))),
        |                       i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 2147483647))) AS winnow_min
        |FROM documents ORDER BY doc_id""".stripMargin,
    // stub frame sampler replayed byte-exactly: the payload window is
    // compared as hex (DuckDB slices in hex space — 2 chars per byte —
    // since BLOB slicing isn't available)
    "mm_frame_index" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS content_hex,
        |         octet_length(encode(text)) AS len
        |  FROM documents)
        |SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
        |  CAST(i * 1000 AS BIGINT) AS ts_ms,
        |  substr(content_hex,
        |    CAST((i * 1000) % greatest(1, len) AS INTEGER) * 2 + 1, 32) AS frame_hex
        |FROM m, unnest(generate_series(0,
        |  CAST(least(8, len // 1000 + 1) AS BIGINT) - 1)) t(i)
        |ORDER BY media_id, frame_idx""".stripMargin,
    // REAL RIFF/AVI demux replayed: the Spark side wraps md5(text#i)
    // frame chunks into a real AVI container (4 fps) and demuxes it
    // back with the byte-walking parser; the oracle regenerates the
    // same content and cadence arithmetic directly.
    "mm_video_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text, 1 + doc_id % 5 AS n
        |  FROM documents)
        |SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
        |  CAST(i * 250 AS BIGINT) AS ts_ms,
        |  md5(text || '#' || CAST(i AS VARCHAR)) AS frame_md5
        |FROM m, unnest(generate_series(0, n - 1)) t(i)
        |ORDER BY media_id, frame_idx""".stripMargin,
    "mm_media_meta" ->
      """SELECT doc_id AS media_id, 'image' AS kind,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  CAST(octet_length(CAST(text AS BLOB)) % 640 + 1 AS INTEGER) AS width,
        |  CAST(octet_length(CAST(text AS BLOB)) % 480 + 1 AS INTEGER) AS height
        |FROM documents ORDER BY media_id""".stripMargin,
    // dHash replayed arithmetically: pixel row r of the synthesized
    // 9×8 grayscale PNG is md5(h(2r) || h(2r+1)) over the MinHash
    // slices; a dHash bit compares adjacent BYTES, which equals
    // comparing adjacent lowercase-HEX PAIRS lexicographically (hex
    // encoding is order-preserving), so the oracle never needs a
    // hex→int conversion. PNG is lossless, so the Spark side's real
    // ImageIO encode→decode must reproduce exactly these bits.
    "mm_dhash" ->
      s"""$sigsCte,
         |px AS (
         |  SELECT doc_id, ${dhashRowDigestCols.mkString(", ")}
         |  FROM sigs)
         |SELECT doc_id AS media_id,
         |  CAST(${dhashHalfExpr(4 until 8, 4)} AS BIGINT) AS dhash_hi,
         |  CAST(${dhashHalfExpr(0 until 4, 0)} AS BIGINT) AS dhash_lo
         |FROM px ORDER BY media_id""".stripMargin,
    "mm_dhash_pairs" ->
      s"""$sigsCte,
         |px AS (
         |  SELECT doc_id, ${dhashRowDigestCols.mkString(", ")}
         |  FROM sigs),
         |hsh AS (
         |  SELECT doc_id,
         |    CAST(${dhashHalfExpr(4 until 8, 4)} AS BIGINT) AS hi,
         |    CAST(${dhashHalfExpr(0 until 4, 0)} AS BIGINT) AS lo
         |  FROM px),
         |bands AS (
         |  $dhashBandsCte),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
         |         AS INTEGER) AS hamming
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id, hamming FROM cand
         |WHERE hamming <= ${operators.Multimodal.dhashHammingMax}
         |ORDER BY a_id, b_id""".stripMargin,
    // incremental ingest: only the odd-id delta probes the even-id
    // base band index — the daily-ingest shape of the image dedup
    "mm_dhash_incremental" ->
      s"""$sigsCte,
         |px AS (
         |  SELECT doc_id, ${dhashRowDigestCols.mkString(", ")}
         |  FROM sigs),
         |hsh AS (
         |  SELECT doc_id,
         |    CAST(${dhashHalfExpr(4 until 8, 4)} AS BIGINT) AS hi,
         |    CAST(${dhashHalfExpr(0 until 4, 0)} AS BIGINT) AS lo
         |  FROM px),
         |bands AS (
         |  $dhashBandsCte),
         |cand AS (
         |  SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id,
         |    CAST(bit_count(xor(d.hi, b.hi)) + bit_count(xor(d.lo, b.lo))
         |         AS INTEGER) AS hamming
         |  FROM bands d JOIN bands b
         |    ON d.band = b.band AND d.key = b.key
         |   AND d.doc_id % 2 = 1 AND b.doc_id % 2 = 0)
         |SELECT delta_id, base_id, hamming FROM cand
         |WHERE hamming <= ${operators.Multimodal.dhashHammingMax}
         |ORDER BY delta_id, base_id""".stripMargin,
    // image clusters: connected components over the verified dHash
    // pair graph — same recursive-reachability fixpoint as the text
    // dedup_clusters, cluster = smallest member id
    "mm_dhash_clusters" ->
      s"""WITH RECURSIVE ${sigsCte.stripPrefix("WITH ")},
         |px AS (
         |  SELECT doc_id, ${dhashRowDigestCols.mkString(", ")}
         |  FROM sigs),
         |hsh AS (
         |  SELECT doc_id,
         |    CAST(${dhashHalfExpr(4 until 8, 4)} AS BIGINT) AS hi,
         |    CAST(${dhashHalfExpr(0 until 4, 0)} AS BIGINT) AS lo
         |  FROM px),
         |bands AS (
         |  $dhashBandsCte),
         |pr AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |      bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
         |    FROM bands a JOIN bands b
         |      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id) t
         |  WHERE hamming <= ${operators.Multimodal.dhashHammingMax}),
         |de AS (SELECT a_id AS u, b_id AS v FROM pr
         |       UNION SELECT b_id, a_id FROM pr),
         |dr(id, m) AS (
         |  SELECT u, v FROM de
         |  UNION
         |  SELECT dr.id, de.v FROM dr JOIN de ON dr.m = de.u),
         |dlabels AS (
         |  SELECT id, least(id, min(m)) AS cluster FROM dr GROUP BY id)
         |SELECT id, cluster FROM dlabels ORDER BY id""".stripMargin,
    // image survivors: one representative per cluster (the smallest
    // member id = the label itself) plus every singleton
    "mm_dhash_survivors" ->
      s"""WITH RECURSIVE ${sigsCte.stripPrefix("WITH ")},
         |px AS (
         |  SELECT doc_id, ${dhashRowDigestCols.mkString(", ")}
         |  FROM sigs),
         |hsh AS (
         |  SELECT doc_id,
         |    CAST(${dhashHalfExpr(4 until 8, 4)} AS BIGINT) AS hi,
         |    CAST(${dhashHalfExpr(0 until 4, 0)} AS BIGINT) AS lo
         |  FROM px),
         |bands AS (
         |  $dhashBandsCte),
         |pr AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |      bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
         |    FROM bands a JOIN bands b
         |      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id) t
         |  WHERE hamming <= ${operators.Multimodal.dhashHammingMax}),
         |de AS (SELECT a_id AS u, b_id AS v FROM pr
         |       UNION SELECT b_id, a_id FROM pr),
         |dr(id, m) AS (
         |  SELECT u, v FROM de
         |  UNION
         |  SELECT dr.id, de.v FROM dr JOIN de ON dr.m = de.u),
         |dlabels AS (
         |  SELECT id, least(id, min(m)) AS cluster FROM dr GROUP BY id)
         |SELECT h.doc_id AS media_id FROM hsh h
         |LEFT JOIN dlabels l ON l.id = h.doc_id AND l.id <> l.cluster
         |WHERE l.id IS NULL
         |ORDER BY media_id""".stripMargin,
    // REAL WAV codec replayed: the Spark side synthesizes PCM16 WAVs
    // (block j's samples = md5(text@j) bytes as LE int16), decodes
    // them with the true javax.sound parser, and accumulates ONLY
    // integer state; the oracle re-derives every sample from the md5
    // hex digits. PCM16-in-WAV is lossless, so a hash match certifies
    // the writer's header arithmetic and the reader's sample walk.
    "mm_audio_features" -> {
      def hx(pos: String) =
        s"(strpos('0123456789abcdef', substr(d, CAST($pos AS INTEGER), 1)) - 1)"
      val lo = s"(${hx("4*i+1")} * 16 + ${hx("4*i+2")})"
      val hi = s"(${hx("4*i+3")} * 16 + ${hx("4*i+4")})"
      s"""WITH blocks AS (
         |  SELECT doc_id, CAST(j AS INTEGER) AS j,
         |         md5(text || '@' || CAST(j AS VARCHAR)) AS d
         |  FROM documents,
         |       unnest(generate_series(0, 8 + doc_id % 5 - 1)) t(j)),
         |samp AS (
         |  SELECT doc_id, j, CAST(i AS INTEGER) AS i,
         |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
         |  FROM (SELECT doc_id, j, i, $lo + 256 * $hi AS raw
         |        FROM blocks, unnest(generate_series(0, 7)) s(i))),
         |ord AS (
         |  SELECT doc_id, v,
         |    lag(v) OVER (PARTITION BY doc_id ORDER BY j, i) AS pv
         |  FROM samp)
         |SELECT doc_id AS media_id,
         |  ${operators.Multimodal.audioRateHz} AS sample_rate,
         |  count(*) AS n_samples,
         |  count(*) * 1000 // ${operators.Multimodal.audioRateHz} AS duration_ms,
         |  CAST(max(abs(v)) AS INTEGER) AS peak,
         |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
         |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
         |  round(sqrt(CAST(sum(CAST(v AS BIGINT) * v) AS DOUBLE) / count(*))
         |        / 32768.0, 6) AS rms
         |FROM ord GROUP BY doc_id
         |ORDER BY media_id""".stripMargin
    },
  )
}
