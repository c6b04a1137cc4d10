package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every implemented capability has a `queries` entry; those with an
  * ANSI-SQL-expressible semantics also carry a DuckDB oracle in
  * `oracleSql` (same column names, same ordering, deterministic
  * numerics — see Relational.dsum).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TickerAnomaly.report(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_lag_diff"       -> TickerAnomaly.q01LagDiff _,
    "q02_rolling_avg"    -> TickerAnomaly.q02RollingAvg _,
    "q03_topn_per_key"   -> TickerAnomaly.q03TopnPerKey _,
    "q04_min_history_filter" -> TickerAnomaly.q04MinHistoryFilter _,
    "q05_window_stats"   -> TickerAnomaly.q05WindowStats _,
    "q06_zscore"         -> TickerAnomaly.q06Zscore _,
    "q07_islands_repetition" -> TickerAnomaly.q07IslandsRepetition _,
    "q08_staleness"      -> TickerAnomaly.q08Staleness _,
    "q09_anomaly_flags"  -> TickerAnomaly.q09AnomalyFlags _,
    "q10_anomaly_report" -> TickerAnomaly.q10AnomalyReport _,
    "q11_stl_decompose"  -> Decompose.q11StlDecompose _,
    "q12_iqr_anomalize"  -> Decompose.q12IqrAnomalize _,
    "q13_anomaly_summary" -> Decompose.q13AnomalySummary _,
    "q14_seasonal_esd"   -> ((s, d) => Decompose.q14SeasonalEsd(s, d)),
    "q15_fault_inject"   -> Decompose.q15FaultInject _,
    "q16_loess_decompose" -> Decompose.q16LoessDecompose _,
    "q17_twitter_decompose" -> Decompose.q17TwitterDecompose _,
    "q18_robust_loess"   -> Decompose.q18RobustLoess _,
    "q19_cusum_changepoint" -> SignalOps.q19Cusum _,
    "q53_hampel_filter"  -> ((s, d) => SignalOps.q53Hampel(s, d)),
    "q55_cross_sectional" -> ((s, d) => SignalOps.q55CrossSectional(s, d)),
    "q57_gap_fill"       -> ((s, d) => SignalOps.q57GapFill(s, d)),
    "q59_peer_correlation" -> ((s, d) => SignalOps.q59PeerCorrelation(s, d)),
    "q60_dominant_period" -> ((s, d) => SignalOps.q60DominantPeriod(s, d)),
    "q61_drift_psi"      -> ((s, d) => SignalOps.q61DriftPsi(s, d)),
    "q62_kalman_level"   -> ((s, d) => SignalOps.q62Kalman(s, d)),
    "q63_matrix_discord" -> ((s, d) => SignalOps.q63Discord(s, d)),
    "q64_trend_mk"       -> ((s, d) => SignalOps.q64TrendMk(s, d)),
    "q65_pettitt_cp"     -> ((s, d) => SignalOps.q65Pettitt(s, d)),
    "q66_benford"        -> ((s, d) => SignalOps.q66Benford(s, d)),
    "q69_ks_drift"       -> ((s, d) => SignalOps.q69KsDrift(s, d)),
    "q70_page_hinkley"   -> ((s, d) => SignalOps.q70PageHinkley(s, d)),
    "q74_spc_rules"      -> ((s, d) => SignalOps.q74SpcRules(s, d)),
    "q75_runs_test"      -> ((s, d) => SignalOps.q75RunsTest(s, d)),
    "q77_lead_lag"       -> ((s, d) => SignalOps.q77LeadLag(s, d)),
    "q78_ljung_box"      -> ((s, d) => SignalOps.q78LjungBox(s, d)),
    "q79_variance_drift" -> ((s, d) => SignalOps.q79VarianceDrift(s, d)),
    "q80_spearman_peer"  -> ((s, d) => SignalOps.q80SpearmanPeer(s, d)),
    "q82_ols_trend"      -> ((s, d) => SignalOps.q82OlsTrend(s, d)),
    "q84_mann_whitney"   -> ((s, d) => SignalOps.q84MannWhitney(s, d)),
    "q85_weekday_anova"  -> ((s, d) => SignalOps.q85WeekdayAnova(s, d)),
    "q88_acf_table"      -> ((s, d) => SignalOps.q88AcfTable(s, d)),
    "q89_drawdown"       -> ((s, d) => SignalOps.q89Drawdown(s, d)),
    "q90_theil_sen"      -> ((s, d) => SignalOps.q90TheilSen(s, d)),
    "q91_variance_ratio" -> ((s, d) => SignalOps.q91VarianceRatio(s, d)),
    "q93_hurst"          -> ((s, d) => SignalOps.q93Hurst(s, d)),
    "q94_corr_matrix"    -> ((s, d) => SignalOps.q94CorrMatrix(s, d)),
    "s14_factor_residual" -> ((s, d) => SignalOps.s14FactorResidual(s, d)),
    "q95_ensemble_vote"  -> ((s, d) => SignalOps.q95EnsembleVote(s, d)),
    "q96_twap"           -> ((s, d) => SignalOps.q96Twap(s, d)),
    "q98_macd"           -> ((s, d) => SignalOps.q98Macd(s, d)),
    "q99_bollinger"      -> ((s, d) => SignalOps.q99Bollinger(s, d)),
    "q100_rolling_corr"  -> ((s, d) => SignalOps.q100RollingCorr(s, d)),
    "q101_riskmetrics_vol" -> ((s, d) => SignalOps.q101RiskmetricsVol(s, d)),
    "q102_arch_test"     -> ((s, d) => SignalOps.q102ArchTest(s, d)),
    "q104_seasonal_profile" ->
      ((s, d) => SignalOps.q104SeasonalProfile(s, d)),
    "q105_ar1_half_life" -> ((s, d) => SignalOps.q105Ar1HalfLife(s, d)),
    "q106_burstiness"    -> ((s, d) => SignalOps.q106Burstiness(s, d)),
    "q107_markov_transitions" ->
      ((s, d) => SignalOps.q107MarkovTransitions(s, d)),
    "q108_cross_correlation" ->
      ((s, d) => SignalOps.q108CrossCorrelation(s, d)),
    "q109_percentile_envelope" ->
      ((s, d) => SignalOps.q109PercentileEnvelope(s, d)),
    "q110_modified_zscore" ->
      ((s, d) => SignalOps.q110ModifiedZscore(s, d)),
    "q111_granger" ->
      ((s, d) => SignalOps.q111Granger(s, d)),
    "q112_cointegration" ->
      ((s, d) => SignalOps.q112Cointegration(s, d)),
    "q113_adf_unit_root" ->
      ((s, d) => SignalOps.q113AdfUnitRoot(s, d)),
    "q114_kpss" ->
      ((s, d) => SignalOps.q114Kpss(s, d)),
    "q115_chow_break" ->
      ((s, d) => SignalOps.q115ChowBreak(s, d)),
    "p13_regime_panel" ->
      ((s, d) => SignalOps.p13RegimePanel(s, d)),
    "q116_jarque_bera" ->
      ((s, d) => SignalOps.q116JarqueBera(s, d)),
    "q117_durbin_watson" ->
      ((s, d) => SignalOps.q117DurbinWatson(s, d)),
    "q118_sup_f" ->
      ((s, d) => SignalOps.q118SupF(s, d)),
    "q119_grubbs" ->
      ((s, d) => SignalOps.q119Grubbs(s, d)),
    "q120_cvm_drift" ->
      ((s, d) => SignalOps.q120CvmDrift(s, d)),
    "q121_kruskal_wallis" ->
      ((s, d) => SignalOps.q121KruskalWallis(s, d)),
    "q122_turning_points" ->
      ((s, d) => SignalOps.q122TurningPoints(s, d)),
    "q123_bartlett" ->
      ((s, d) => SignalOps.q123Bartlett(s, d)),
    "q124_cusum_squares" ->
      ((s, d) => SignalOps.q124CusumSquares(s, d)),
    "p14_residual_panel" ->
      ((s, d) => SignalOps.p14ResidualPanel(s, d)),
    "p16_changepoint_panel" ->
      ((s, d) => SignalOps.p16ChangepointPanel(s, d)),
    "q125_sample_entropy" ->
      ((s, d) => SignalOps.q125SampleEntropy(s, d)),
    "q126_flap_detection" ->
      ((s, d) => graft.operators.TickerAnomaly.q126FlapDetection(s, d)),
    "q127_forecast_backtest" ->
      ((s, d) => SignalOps.q127ForecastBacktest(s, d)),
    "q128_binary_segmentation" ->
      ((s, d) => SignalOps.q128BinarySegmentation(s, d)),
    "q129_kendall_tau" ->
      ((s, d) => SignalOps.q129KendallTau(s, d)),
    "q130_friedman" ->
      ((s, d) => SignalOps.q130Friedman(s, d)),
    "q131_adf_trend" ->
      ((s, d) => SignalOps.q131AdfTrend(s, d)),
    "q132_kpss_trend" ->
      ((s, d) => SignalOps.q132KpssTrend(s, d)),
    "q133_adf_lag" ->
      ((s, d) => SignalOps.q133AdfLag(s, d)),
    "q134_adf_level_lag" ->
      ((s, d) => SignalOps.q134AdfLevelLag(s, d)),
    "s12_knn_pagerank" ->
      ((s, d) => graft.similarity.Ann.s12KnnPagerank(s, d)),
    "p15_embedding_card" ->
      ((s, d) => CorpusPipeline.p15EmbeddingCard(s, d)),
    "t22_pmi_collocations" ->
      ((s, d) => graft.text.TextFns.t22PmiCollocations(s, d)),
    "t23_textrank_keywords" ->
      ((s, d) => graft.text.TextFns.t23TextrankKeywords(s, d)),
    "s11_lof"            -> ((s, d) =>
      graft.similarity.Ann.s11Lof(s, d)),
    "d21_bloom_admission" -> ((s, d) =>
      graft.dedup.BloomAdmission.d21BloomAdmission(s, d)),
    "q103_incident_report" ->
      ((s, d) => TickerAnomaly.q103IncidentReport(s, d)),
    "s10_filtered_ann"   -> ((s, d) =>
      graft.similarity.Ann.filteredTopK(s, d)),
    "d20_source_overlap" -> ((s, d) =>
      graft.dedup.Dedup.d20SourceOverlap(s, d)),
    "t21_blocklist"      -> ((s, d) =>
      graft.text.TextFns.t21Blocklist(s, d)),
    "p09_drift_panel"    -> ((s, d) => SignalOps.p09DriftPanel(s, d)),
    "q83_seasonal_strength" ->
      ((s, d) => Decompose.q83SeasonalStrength(s, d)),
    "q68_seasonal_mk"    -> ((s, d) => SignalOps.q68SeasonalMk(s, d)),
    "q54_holt_forecast"  -> SignalOps.q54Holt _,
    "q67_holt_winters"   -> ((s, d) => SignalOps.q67HoltWinters(s, d)),
    "t08_bigram_perplexity" ->
      ((s, d) => graft.text.TextFns.bigramPerplexity(s, d)),
    "q48_interval_join"  -> ScaleOps.intervalJoin _,
    "q49_ewma_smooth"    -> SignalOps.q49Ewma _,
    "t06_tfidf"          -> ((s, d) => graft.text.TextFns.tfidf(s, d)),
    "t07_bm25_search"    -> ((s, d) => graft.text.TextFns.bm25Search(s, d)),
    "s04_knn_classify"   -> ((s, d) => graft.similarity.Ann.knnClassify(s, d)),
    "q20_agg_groupby"    -> Relational.aggGroupBy _,
    "q21_join_agg"       -> Relational.joinAgg _,
    "q22_broadcast_dim"  -> Relational.broadcastDim _,
    "q23_topk_order"     -> Relational.topkOrder _,
    "q24_filter_pushdown" -> Relational.filterPushdown _,
    "q25_distinct_count" -> Relational.distinctCount _,
    "q26_window_rank"    -> Relational.windowRank _,
    "q27_semi_anti_join" -> Relational.semiAntiJoin _,
    "q28_conditional_agg" -> Relational.conditionalAgg _,
    "q29_rollup"         -> Relational.rollupAgg _,
    "q30_union_dedup"    -> Relational.unionDedup _,
    "q31_running_total"  -> Relational.runningTotal _,
    "q32_sessionize"     -> Relational.sessionize _,
    "q33_asof_join"      -> ScaleOps.asofJoin _,
    "q34_salted_agg"     -> ((s, d) => ScaleOps.saltedAgg(s, d)),
    "q35_bucketed_join"  -> ScaleOps.bucketedJoin _,
    "q36_partitioned_scan" -> ScaleOps.partitionedScan _,
    "q37_approx_distinct" -> ((s, d) => ScaleOps.approxDistinct(s, d)),
    "q38_csv_roundtrip"  -> graft.sources.Sources.csvRoundtrip _,
    "q40_topk_aggregate" -> ((s, d) => ScaleOps.topkAggregate(s, d)),
    "q41_cube"           -> Relational.cubeAgg _,
    "q42_median_groups"  -> Relational.medianGroups _,
    "q43_string_agg"     -> Relational.stringAgg _,
    "q44_correlated_subquery" -> Relational.correlatedAboveAvg _,
    "q45_window_distribution" -> Relational.windowDistribution _,
    "q46_pivot"          -> Relational.pivotSegments _,
    "q50_monthly_revenue" -> Relational.monthlyRevenue _,
    "q51_upsert_merge"   -> Relational.upsertMerge _,
    "q71_grouping_sets"  -> Relational.groupingSetsAgg _,
    "q72_range_window"   -> Relational.rangeWindow _,
    "q73_funnel"         -> Relational.funnel _,
    "q76_scd2"           -> Relational.q76Scd2 _,
    "q81_set_ops"        -> Relational.q81SetOps _,
    "q86_ohlc_bars"      -> ((s, d) => SignalOps.q86OhlcBars(s, d)),
    "q87_json_extract"   -> Relational.q87JsonExtract _,
    "p08_dq_audit"       -> Relational.p08DqAudit _,
    "q52_stratified_sample" -> Sampling.stratifiedSample _,
    "q56_group_quantiles" -> ScaleOps.groupQuantiles _,
    "q58_winsorize"      -> ScaleOps.winsorize _,
    "d12_domain_cap"     -> ((s, d) => Sampling.domainCap(s, d)),
    "d16_mixture_sample" -> ((s, d) => Sampling.mixtureSample(s, d)),
    "d18_token_budget"   -> ((s, d) => Sampling.d18TokenBudget(s, d)),
    "d19_semantic_clusters" ->
      ((s, d) => graft.dedup.Dedup.semanticClusters(s, d)),
    "p10_quality_mix"    -> ((s, d) => Sampling.p10QualityMix(s, d)),
    "p11_dedup_funnel"   -> ((s, d) =>
      graft.operators.CorpusPipeline.p11DedupFunnel(s, d)),
    "p12_media_card"     -> ((s, d) =>
      graft.operators.CorpusPipeline.p12MediaCard(s, d)),
    "q97_business_staleness" ->
      ((s, d) => SignalOps.q97BusinessStaleness(s, d)),
    "d17_edit_distance_dedup" -> ((s, d) =>
      graft.dedup.Dedup.editDistanceDedup(s, d)),
    "d07_train_split"    -> Sampling.trainSplit _,
    "t05_entropy_score"  -> graft.text.TextFns.entropyScore _,
    "p01_corpus_pipeline" -> ((s, d) => CorpusPipeline.prepare(s, d)),
    "p02_curation_pipeline" -> ((s, d) => CorpusPipeline.curate(s, d)),
    "p03_ingest_pipeline" -> ((s, d) => CorpusPipeline.ingest(s, d)),
    "p04_data_card"      -> ((s, d) => CorpusPipeline.p04DataCard(s, d)),
    "p05_monitor_report" -> ((s, d) => SignalOps.p05MonitorReport(s, d)),
    "p06_corpus_diff"    -> ((s, d) => CorpusPipeline.p06CorpusDiff(s, d)),
    "p07_release_manifest" -> ((s, d) =>
      CorpusPipeline.p07ReleaseManifest(s, d)),
    "q39_json_roundtrip" -> graft.sources.Sources.jsonRoundtrip _,
    "d01_dedup_exact"    -> graft.dedup.Dedup.exactDedup _,
    "d02_dedup_minhash_lsh" -> ((s, d) => graft.dedup.MinHashLSH.q(s, d)),
    "d03_dedup_simhash"  -> ((s, d) => graft.dedup.SimHash.q(s, d)),
    "d04_ngram_jaccard"  -> ((s, d) => graft.dedup.Dedup.ngramJaccard(s, d)),
    "d05_dedup_embedding" -> ((s, d) => graft.dedup.Dedup.embeddingDedup(s, d)),
    "d06_dedup_clusters" -> ((s, d) => graft.dedup.Dedup.dedupClusters(s, d)),
    "s01_ann_bruteforce" -> ((s, d) => graft.similarity.Ann.bruteForceTopK(s, d)),
    "s02_ann_lsh"        -> ((s, d) => graft.similarity.Ann.lshTopK(s, d)),
    "s03_ann_ivf"        -> ((s, d) => graft.similarity.Ann.ivfTopK(s, d)),
    "s05_ann_pq"         -> ((s, d) => graft.similarity.Ann.pqTopK(s, d)),
    "s13_ann_ivfpq"      -> ((s, d) => graft.similarity.Ann.ivfPqTopK(s, d)),
    "s06_hybrid_rrf"     -> ((s, d) => graft.similarity.Ann.hybridRrf(s, d)),
    "s07_mmr_diverse"    -> ((s, d) => graft.similarity.Ann.mmrDiverse(s, d)),
    "s08_knn_graph"      -> ((s, d) => graft.similarity.Ann.knnGraph(s, d)),
    "s09_range_search"   -> ((s, d) => graft.similarity.Ann.rangeSearch(s, d)),
    "d14_semdedup"       -> ((s, d) => graft.similarity.Ann.semDedup(s, d)),
    "t01_langid"         -> graft.text.TextFns.langId _,
    "t02_quality_score"  -> graft.text.TextFns.qualityScore _,
    "t03_token_count"    -> graft.text.TextFns.tokenCount _,
    "t04_fingerprint"    -> graft.text.TextFns.fingerprint _,
    "t09_pii_redact"     -> graft.text.TextFns.piiRedact _,
    "t10_ngram_repetition" -> graft.text.TextFns.ngramRepetition _,
    "t11_gopher_quality" -> graft.text.TextFns.gopherQuality _,
    "t12_source_kl"      -> ((s, d) => graft.text.TextFns.sourceKl(s, d)),
    "t13_readability"    -> ((s, d) => graft.text.TextFns.readability(s, d)),
    "t14_zipf_fit"       -> ((s, d) => graft.text.TextFns.zipfFit(s, d)),
    "t15_lexical_diversity" -> ((s, d) =>
      graft.text.TextFns.lexicalDiversity(s, d)),
    "t16_markup_density" -> ((s, d) =>
      graft.text.TextFns.markupDensity(s, d)),
    "t17_oov_rate"       -> ((s, d) =>
      graft.text.TextFns.t17OovRate(s, d)),
    "t18_rag_chunk"      -> ((s, d) =>
      graft.text.TextFns.t18RagChunk(s, d)),
    "t19_ngram_novelty"  -> ((s, d) =>
      graft.text.TextFns.t19NgramNovelty(s, d)),
    "t20_kneser_ney"     -> ((s, d) =>
      graft.text.TextFns.t20KneserNey(s, d)),
    "d08_decontaminate"  -> ((s, d) =>
      graft.dedup.Decontaminate.contaminated(s, d)),
    "d08_clean_corpus"   -> ((s, d) =>
      graft.dedup.Decontaminate.clean(s, d)
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))),
    "d09_importance_sample" -> ((s, d) =>
      graft.operators.Sampling.importanceSample(s, d)),
    "d10_ngram_containment" -> ((s, d) =>
      graft.dedup.Dedup.ngramContainment(s, d)),
    "d11_substring_dedup" -> ((s, d) =>
      graft.dedup.Dedup.substringDedup(s, d)),
    "d11_clean_corpus" -> ((s, d) =>
      graft.dedup.Dedup.substringClean(s, d)),
    "d22_span_catalog" -> ((s, d) =>
      graft.dedup.Dedup.spanCatalog(s, d)),
    "d13_sequence_pack"  -> ((s, d) =>
      graft.operators.Sampling.sequencePack(s, d)),
    "d15_incremental_dedup" -> ((s, d) =>
      graft.dedup.Incremental.incrementalDedup(s, d)),
    "m01_multimodal_meta" -> ((s, d) => graft.multimodal.Multimodal.q(s, d)),
    "m02_audio_features" -> ((s, d) => graft.multimodal.Audio.q(s, d)),
    "m03_video_frames" -> ((s, d) => graft.multimodal.Video.q(s, d)),
    "m04_image_resize" -> ((s, d) => graft.multimodal.Multimodal.qResize(s, d)),
    "m05_scene_change" -> ((s, d) => graft.multimodal.Video.qScenes(s, d)),
    "m06_phash_dedup"  -> ((s, d) => graft.multimodal.Multimodal.phashDedup(s, d)),
    "m11_dhash_dedup"  -> ((s, d) => graft.multimodal.Multimodal.dhashDedup(s, d)),
    "m10_image_exposure" -> ((s, d) => graft.multimodal.Multimodal.qExposure(s, d)),
    "m07_audio_segment" -> ((s, d) => graft.multimodal.Audio.qSegment(s, d)),
    "m09_audio_near_dup" -> ((s, d) =>
      graft.multimodal.Audio.audioNearDup(s, d)),
    "m08_video_near_dup" -> ((s, d) =>
      graft.multimodal.Video.videoNearDup(s, d)),
    "st01_stream_window_agg" -> graft.streaming.StreamingAnomaly.st01WindowAgg _,
    // dataPeriods = 28 matches the oracle's ROWS BETWEEN 27 PRECEDING
    // AND CURRENT ROW rolling frame (r2 hash-fail was this mismatch:
    // the default 10-diff state window vs the 28-row SQL frame)
    "st02_stream_anomaly" -> ((s, d) =>
      graft.streaming.StreamingAnomaly.st02StatefulFlags(s, d,
        AnomalyConfig(dataPeriods = 28))),
    // st30 rides st02's 28-diff oracle frame; the incident tracker
    // runs a LOWER per-event bar (2.5 sigma, 2-run) than st02's pager
    // — run-compression is what makes a sensitive bar tolerable, and
    // the 4.5/3 bar never fires on this feed (zero incidents = a
    // vacuous operator)
    "st30_stream_incidents" -> ((s, d) =>
      graft.streaming.StreamingAnomaly.st30StreamIncidents(s, d,
        AnomalyConfig(dataPeriods = 28, stddevLim = 2.5, repLim = 2))),
    "st03_stream_dedup" -> graft.streaming.StreamingAnomaly.st03StreamDedup _,
    "q47_orc_roundtrip"  -> graft.sources.Sources.orcRoundtrip _,
    "q92_partitioned_write" ->
      graft.sources.Sources.q92PartitionedWrite _,
    "st05_stream_static_join" ->
      graft.streaming.StreamingAnomaly.st05StreamStaticJoin _,
    "st04_stream_stream_join" ->
      graft.streaming.StreamingAnomaly.st04StreamStreamJoin _,
    "st06_stream_session_window" ->
      graft.streaming.StreamingAnomaly.st06SessionWindow _,
    "st07_stream_corpus" ->
      graft.streaming.StreamingCorpus.st07StreamCorpus _,
    "st12_stream_admission" ->
      graft.streaming.StreamingCorpus.st12StreamAdmission _,
    "st13_stream_drift" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st13StreamDrift(s, d)),
    "st16_stream_benford" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st16StreamBenford(s, d)),
    "st17_stream_holt_winters" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st17StreamHoltWinters(s, d)),
    "st18_stream_gap" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st18StreamGap(s, d)),
    "st19_stream_page_hinkley" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st19StreamPageHinkley(s, d)),
    "st21_stream_spc" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st21StreamSpc(s, d)),
    "st22_stream_ewma" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st22StreamEwma(s, d)),
    "st24_stream_scd2" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st24StreamScd2(s, d)),
    "st25_stream_vr" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st25StreamVr(s, d)),
    "st31_stream_adf" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st31StreamAdf(s, d)),
    "st32_stream_turning_points" ->
      ((s, d) =>
        graft.streaming.StreamingAnomaly.st32StreamTurningPoints(s, d)),
    "st33_stream_drawdown" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st33StreamDrawdown(s, d)),
    "st34_stream_burstiness" ->
      ((s, d) =>
        graft.streaming.StreamingAnomaly.st34StreamBurstiness(s, d)),
    "st35_stream_flap" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st35StreamFlap(s, d)),
    "st36_stream_extremes" ->
      ((s, d) =>
        graft.streaming.StreamingAnomaly.st36StreamExtremes(s, d)),
    "st37_stream_mase" ->
      ((s, d) =>
        graft.streaming.StreamingAnomaly.st37StreamMase(s, d)),
    "st38_stream_psi" ->
      ((s, d) =>
        graft.streaming.StreamingAnomaly.st38StreamPsi(s, d)),
    "st39_stream_spearman" ->
      ((s, d) =>
        graft.streaming.StreamingAnomaly.st39StreamSpearman(s, d)),
    "st40_stream_vector_admit" ->
      ((s, d) =>
        graft.streaming.StreamingCorpus.st40StreamVectorAdmit(s, d)),
    "st26_stream_twap" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st26StreamTwap(s, d)),
    "st27_stream_ensemble" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st27StreamEnsemble(s, d)),
    "st28_stream_macd" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st28StreamMacd(s, d)),
    "st29_stream_rare_transition" ->
      ((s, d) =>
        graft.streaming.StreamingAnomaly.st29StreamRareTransition(s, d)),
    "st23_stream_bars" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st23StreamBars(s, d)),
    "st20_stream_funnel" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st20StreamFunnel(s, d)),
    "st08_stream_cusum" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st08StreamCusum(s, d)),
    "st10_stream_heavy_hitters" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st10HeavyHitters(s, d)),
    "st11_stream_quantiles" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st11StreamQuantiles(s, d)),
    "st09_stream_holt" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st09StreamHolt(s, d)),
    "st14_stream_kalman" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st14StreamKalman(s, d)),
    "st15_stream_trend" ->
      ((s, d) => graft.streaming.StreamingAnomaly.st15StreamTrend(s, d))
  )

  def oracleSql: Map[String, String] = Map(
    "q01_lag_diff"       -> AnomalyOracle.q01,
    "q02_rolling_avg"    -> AnomalyOracle.q02,
    "q03_topn_per_key"   -> AnomalyOracle.q03,
    "q04_min_history_filter" -> AnomalyOracle.q04,
    "q05_window_stats"   -> AnomalyOracle.q05,
    "q06_zscore"         -> AnomalyOracle.q06,
    "q07_islands_repetition" -> AnomalyOracle.q07,
    "q08_staleness"      -> AnomalyOracle.q08,
    "q09_anomaly_flags"  -> AnomalyOracle.q09,
    "q10_anomaly_report" -> AnomalyOracle.q10,
    "q11_stl_decompose"  -> DecomposeOracle.q11,
    "q12_iqr_anomalize"  -> DecomposeOracle.q12,
    "q13_anomaly_summary" -> DecomposeOracle.q13,
    "q14_seasonal_esd"   -> DecomposeOracle.q14,
    "q15_fault_inject"   -> DecomposeOracle.q15,
    "q16_loess_decompose" -> DecomposeOracle.q16,
    "q17_twitter_decompose" -> DecomposeOracle.q17,
    "q18_robust_loess"   -> DecomposeOracle.q18,
    "st07_stream_corpus" -> LlmOracle.st07,
    "st12_stream_admission" -> LlmOracle.st12,
    "st40_stream_vector_admit" -> LlmOracle.st40,
    "q19_cusum_changepoint" -> SignalOracle.q19,
    "st08_stream_cusum"  -> SignalOracle.st08,
    "st09_stream_holt"   -> SignalOracle.st09,
    "st14_stream_kalman" -> SignalOracle.st14,
    "st15_stream_trend"  -> SignalOracle.st15,
    "st11_stream_quantiles" -> SignalOracle.st11,
    "st13_stream_drift"  -> SignalOracle.st13,
    "st30_stream_incidents" -> SignalOracle.st30,
    "st16_stream_benford" -> SignalOracle.st16,
    "st17_stream_holt_winters" -> SignalOracle.st17,
    "st18_stream_gap"    -> SignalOracle.st18,
    "st19_stream_page_hinkley" -> SignalOracle.st19,
    "st21_stream_spc"    -> SignalOracle.st21,
    "st22_stream_ewma"   -> SignalOracle.st22,
    "st23_stream_bars"   -> SignalOracle.st23,
    "st24_stream_scd2"   -> SignalOracle.st24,
    "st20_stream_funnel" -> SignalOracle.st20,
    "q53_hampel_filter"  -> SignalOracle.q53,
    "q55_cross_sectional" -> SignalOracle.q55,
    "q57_gap_fill"       -> SignalOracle.q57,
    "q59_peer_correlation" -> SignalOracle.q59,
    "q60_dominant_period" -> SignalOracle.q60,
    "q61_drift_psi"      -> SignalOracle.q61,
    "q62_kalman_level"   -> SignalOracle.q62,
    "q63_matrix_discord" -> SignalOracle.q63,
    "q64_trend_mk"       -> SignalOracle.q64,
    "q65_pettitt_cp"     -> SignalOracle.q65,
    "q66_benford"        -> SignalOracle.q66,
    "q69_ks_drift"       -> SignalOracle.q69,
    "q70_page_hinkley"   -> SignalOracle.q70,
    "q74_spc_rules"      -> SignalOracle.q74,
    "q75_runs_test"      -> SignalOracle.q75,
    "q77_lead_lag"       -> SignalOracle.q77,
    "q78_ljung_box"      -> SignalOracle.q78,
    "q79_variance_drift" -> SignalOracle.q79,
    "q80_spearman_peer"  -> SignalOracle.q80,
    "q82_ols_trend"      -> SignalOracle.q82,
    "q84_mann_whitney"   -> SignalOracle.q84,
    "q85_weekday_anova"  -> SignalOracle.q85,
    "q88_acf_table"      -> SignalOracle.q88,
    "q89_drawdown"       -> SignalOracle.q89,
    "q90_theil_sen"      -> SignalOracle.q90,
    "q91_variance_ratio" -> SignalOracle.q91,
    "q93_hurst"          -> SignalOracle.q93,
    "q94_corr_matrix"    -> SignalOracle.q94,
    "s14_factor_residual" -> SignalOracle.s14,
    "q95_ensemble_vote"  -> SignalOracle.q95,
    "q96_twap"           -> SignalOracle.q96,
    "q98_macd"           -> SignalOracle.q98,
    "q99_bollinger"      -> SignalOracle.q99,
    "q100_rolling_corr"  -> SignalOracle.q100,
    "q101_riskmetrics_vol" -> SignalOracle.q101,
    "q102_arch_test"     -> SignalOracle.q102,
    "q104_seasonal_profile" -> SignalOracle.q104,
    "q105_ar1_half_life" -> SignalOracle.q105,
    "q106_burstiness"    -> SignalOracle.q106,
    "q107_markov_transitions" -> SignalOracle.q107,
    "q108_cross_correlation" -> SignalOracle.q108,
    "q109_percentile_envelope" -> SignalOracle.q109,
    "q110_modified_zscore" -> SignalOracle.q110,
    "q111_granger"       -> SignalOracle.q111,
    "q112_cointegration" -> SignalOracle.q112,
    "q113_adf_unit_root" -> SignalOracle.q113,
    "q114_kpss"          -> SignalOracle.q114,
    "q115_chow_break"    -> SignalOracle.q115,
    "p13_regime_panel"   -> SignalOracle.p13,
    "q116_jarque_bera"   -> SignalOracle.q116,
    "q117_durbin_watson" -> SignalOracle.q117,
    "q118_sup_f"         -> SignalOracle.q118,
    "q119_grubbs"        -> SignalOracle.q119,
    "q120_cvm_drift"     -> SignalOracle.q120,
    "q121_kruskal_wallis" -> SignalOracle.q121,
    "q122_turning_points" -> SignalOracle.q122,
    "q123_bartlett"      -> SignalOracle.q123,
    "q124_cusum_squares" -> SignalOracle.q124,
    "p14_residual_panel" -> SignalOracle.p14,
    "p16_changepoint_panel" -> SignalOracle.p16,
    "q125_sample_entropy" -> SignalOracle.q125,
    "q126_flap_detection" -> AnomalyOracle.q126,
    "q127_forecast_backtest" -> SignalOracle.q127,
    "q128_binary_segmentation" -> SignalOracle.q128,
    "q129_kendall_tau" -> SignalOracle.q129,
    "q130_friedman" -> SignalOracle.q130,
    "q131_adf_trend" -> SignalOracle.q131,
    "q132_kpss_trend" -> SignalOracle.q132,
    "q133_adf_lag" -> SignalOracle.q133,
    "q134_adf_level_lag" -> SignalOracle.q134,
    "s12_knn_pagerank"   -> LlmOracle.s12,
    "p15_embedding_card" -> LlmOracle.p15,
    "t22_pmi_collocations" -> LlmOracle.t22,
    "t23_textrank_keywords" -> LlmOracle.t23,
    "s03_ann_ivf" -> LlmOracle.s03,
    "d14_semdedup" -> LlmOracle.d14,
    "s05_ann_pq" -> LlmOracle.s05,
    "s13_ann_ivfpq" -> LlmOracle.s13,
    "st10_stream_heavy_hitters" -> SignalOracle.st10,
    "s10_filtered_ann"   -> LlmOracle.s10,
    "s11_lof"            -> LlmOracle.s11,
    "d21_bloom_admission" -> LlmOracle.d21,
    "q103_incident_report" -> AnomalyOracle.q103,
    "st25_stream_vr"     -> SignalOracle.st25,
    "st31_stream_adf"    -> SignalOracle.st31,
    "st32_stream_turning_points" -> SignalOracle.st32,
    "st33_stream_drawdown" -> SignalOracle.st33,
    "st34_stream_burstiness" -> SignalOracle.st34,
    "st35_stream_flap"   -> SignalOracle.st35,
    "st36_stream_extremes" -> SignalOracle.st36,
    "st37_stream_mase" -> SignalOracle.st37,
    "st38_stream_psi" -> SignalOracle.st38,
    "st39_stream_spearman" -> SignalOracle.st39,
    "st26_stream_twap"   -> SignalOracle.st26,
    "st27_stream_ensemble" -> SignalOracle.st27,
    "st28_stream_macd"   -> SignalOracle.st28,
    "st29_stream_rare_transition" -> SignalOracle.st29,
    "d20_source_overlap" -> LlmOracle.d20,
    "t21_blocklist"      -> LlmOracle.t21,
    "q92_partitioned_write" ->
      """SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
             AS BIGINT) AS sum_v4
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q86_ohlc_bars"      -> SignalOracle.q86,
    "q87_json_extract" ->
      """WITH e AS (
           SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
           FROM events
         ), kk AS (
           SELECT event_type, k, count(*) AS c FROM e GROUP BY 1, 2
         ), agg AS (
           SELECT event_type,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN k IS NOT NULL THEN c ELSE 0 END)
               AS BIGINT) AS n_with_k,
             CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS k_distinct,
             min(k) AS k_min, max(k) AS k_max,
             CAST(sum(k * c) AS BIGINT) AS k_sum
           FROM kk GROUP BY event_type
         )
         SELECT event_type, n_events, n_with_k, k_distinct, k_min, k_max,
           k_sum,
           CASE WHEN n_with_k > 0 THEN k_sum * 1000000 // n_with_k END
             AS k_avg6
         FROM agg ORDER BY event_type""",
    "p09_drift_panel"    -> SignalOracle.p09,
    "q83_seasonal_strength" -> DecomposeOracle.q83,
    "q68_seasonal_mk"    -> SignalOracle.q68,
    "q54_holt_forecast"  -> SignalOracle.q54,
    "q67_holt_winters"   -> SignalOracle.q67,
    "t08_bigram_perplexity" -> LlmOracle.t08,
    "q49_ewma_smooth"    -> SignalOracle.q49,
    "t06_tfidf"          -> LlmOracle.t06,
    "t07_bm25_search"    -> LlmOracle.t07,
    "t09_pii_redact"     -> LlmOracle.t09,
    "t10_ngram_repetition" -> LlmOracle.t10,
    "t11_gopher_quality" -> LlmOracle.t11,
    "t12_source_kl"      -> LlmOracle.t12,
    "t13_readability"    -> LlmOracle.t13,
    "t14_zipf_fit"       -> LlmOracle.t14,
    "t15_lexical_diversity" -> LlmOracle.t15,
    "t16_markup_density" -> LlmOracle.t16,
    "t17_oov_rate"       -> LlmOracle.t17,
    "t18_rag_chunk"      -> LlmOracle.t18,
    "t19_ngram_novelty"  -> LlmOracle.t19,
    "t20_kneser_ney"     -> LlmOracle.t20,
    "d08_decontaminate"  -> LlmOracle.d08,
    "d08_clean_corpus"   -> LlmOracle.d08Clean,
    "d09_importance_sample" -> LlmOracle.d09,
    "d11_substring_dedup" -> LlmOracle.d11,
    "d11_clean_corpus" -> LlmOracle.d11Clean,
    "d22_span_catalog" -> LlmOracle.d22,
    "d13_sequence_pack"  -> LlmOracle.d13,
    "d15_incremental_dedup" -> LlmOracle.d15,
    "d16_mixture_sample" -> LlmOracle.d16,
    "d18_token_budget"   -> LlmOracle.d18,
    "d19_semantic_clusters" -> LlmOracle.d19,
    "p10_quality_mix"    -> LlmOracle.p10,
    "p11_dedup_funnel"   -> LlmOracle.p11,
    "p12_media_card"     -> LlmOracle.p12,
    "q97_business_staleness" -> SignalOracle.q97,
    "d17_edit_distance_dedup" -> LlmOracle.d17,
    "d10_ngram_containment" -> LlmOracle.d10,
    "s04_knn_classify"   -> LlmOracle.s04,
    "q48_interval_join" ->
      """WITH e AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             event_type
           FROM events
         ), c AS (
           SELECT * FROM e WHERE event_type = 'click'
         ), p AS (
           SELECT * FROM e WHERE event_type = 'purchase'
         )
         SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           COUNT(*) AS n_clicks,
           CAST(SUM(CAST(c.value AS DECIMAL(28,6))) AS DOUBLE) AS click_value,
           MAX(c.ts) AS last_click_ts
         FROM p JOIN c ON c.user_id = p.user_id
           AND epoch_us(c.ts) >= epoch_us(p.ts) - 21600000000
           AND epoch_us(c.ts) <= epoch_us(p.ts)
         GROUP BY 1, 2, 3 ORDER BY purchase_id""",
    "q20_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q21_join_agg" ->
      """SELECT r_name, n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q22_broadcast_dim" ->
      """SELECT p_brand,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS brand_revenue,
           COUNT(*) AS n_lines
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_size <= 20
         JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY p_brand ORDER BY p_brand""",
    "q23_topk_order" ->
      """SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_spent,
           COUNT(*) AS n_orders
         FROM orders GROUP BY o_custkey
         ORDER BY total_spent DESC, o_custkey LIMIT 10""",
    "q24_filter_pushdown" ->
      """SELECT l_orderkey, l_shipdate,
           ROUND(l_extendedprice * l_discount, 4) AS disc_amount
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1996-01-01'
           AND l_discount >= 0.05 AND l_quantity < 24
         ORDER BY l_orderkey, l_shipdate, disc_amount""",
    "q25_distinct_count" ->
      """SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS distinct_orders,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q26_window_rank" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders)
         WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "q27_semi_anti_join" ->
      """SELECT c_custkey, 'has_open' AS status FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
         UNION ALL
         SELECT c_custkey, 'no_open' AS status FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
         ORDER BY c_custkey, status""",
    "q28_conditional_agg" ->
      """SELECT user_id,
           CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS DECIMAL(28,6))) AS DOUBLE) AS purchase_value,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
           COUNT(*) AS n_events
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q29_rollup" ->
      """SELECT r_name, n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""",
    "q30_union_dedup" ->
      """SELECT DISTINCT o_custkey FROM (
           SELECT o_custkey FROM orders WHERE o_totalprice > 100000
           UNION ALL
           SELECT c_custkey AS o_custkey FROM customer WHERE c_acctbal > 5000)
         ORDER BY o_custkey""",
    "q31_running_total" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue
         FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""",
    "q32_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), sessions AS (
           SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged
         )
         SELECT user_id, session_id, COUNT(*) AS n_events,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS session_value
         FROM sessions GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "q33_asof_join" ->
      """WITH o AS (
           SELECT o_custkey AS user_id, o_orderdate AS ots, o_orderkey,
             o_totalprice,
             row_number() OVER (PARTITION BY o_custkey, o_orderdate
               ORDER BY o_orderkey DESC) AS rn
           FROM orders
         ), od AS (
           SELECT user_id, ots, o_orderkey, o_totalprice FROM o WHERE rn = 1
         ), e AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events
         )
         SELECT e.event_id, e.user_id, e.ts, e.value, od.o_orderkey,
           od.o_totalprice
         FROM e ASOF LEFT JOIN od
           ON e.user_id = od.user_id AND e.ts >= od.ots
         ORDER BY e.event_id""",
    "q34_salted_agg" ->
      """SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
           COUNT(*) AS n_events
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q35_bucketed_join" ->
      """SELECT c_mktsegment,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q36_partitioned_scan" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           event_type
         FROM events WHERE event_type = 'purchase' ORDER BY event_id""",
    // q37: the explicit HLL register bank replayed — md5 digest₆₀
    // hash, 512 registers via exact div/mod, rho from bin() length
    // (rhoCap = 52), one exact integer S, then the mirrored IEEE
    // estimate chain (alpha·m² = 188686.82445861166, 2^52 =
    // 4503599627370496, linear-counting branch at E <= 2.5m = 1280
    // with V empty registers)
    "q37_approx_distinct" ->
      """WITH base AS (
           SELECT event_type, user_id,
             CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)
               || 'q37'), 1, 15)) AS BIGINT) AS h
           FROM events
         ), rr AS (
           SELECT event_type, h % 512 AS j,
             CASE WHEN h // 512 = 0 THEN 52
                  ELSE 52 - length(bin(h // 512)) END AS rho
           FROM base
         ), reg AS (
           SELECT event_type, j, max(rho) AS mj FROM rr GROUP BY 1, 2
         ), agg AS (
           SELECT event_type,
             sum((CAST(1 AS BIGINT) << (52 - mj))) AS s_present,
             count(*) AS n_regs
           FROM reg GROUP BY 1
         ), est AS (
           SELECT event_type,
             CAST(188686.82445861166 AS DOUBLE)
               * CAST(4503599627370496 AS DOUBLE)
               / CAST(s_present + (512 - n_regs) * (CAST(1 AS BIGINT) << 52)
                 AS DOUBLE) AS e_raw,
             512 - n_regs AS v
           FROM agg
         )
         SELECT e.event_type,
           CAST(floor(CASE WHEN e_raw <= CAST(1280.0 AS DOUBLE) AND v > 0
             THEN CAST(512.0 AS DOUBLE) * ln(CAST(512.0 AS DOUBLE)
               / CAST(v AS DOUBLE))
             ELSE e_raw END + CAST(0.5 AS DOUBLE)) AS BIGINT) AS approx_users,
           x.exact_users, x.n_events
         FROM est e
         JOIN (SELECT event_type, count(DISTINCT user_id) AS exact_users,
                 count(*) AS n_events FROM events GROUP BY 1) x
           USING (event_type)
         ORDER BY event_type""",
    "q40_topk_aggregate" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders)
         WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "q38_csv_roundtrip" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS total_balance
         FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q39_json_roundtrip" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
         FROM customer WHERE c_acctbal > 0 ORDER BY c_custkey""",
    "q41_cube" ->
      """SELECT c_mktsegment, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY CUBE (c_mktsegment, o_orderpriority)
         ORDER BY c_mktsegment ASC NULLS FIRST,
           o_orderpriority ASC NULLS FIRST""",
    "q42_median_groups" ->
      """WITH r AS (
           SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events)
         SELECT event_type, value AS median_value, n AS n_rows
         FROM r WHERE rn = (n + 1) // 2 ORDER BY event_type""",
    // q56: selection quantiles — rank ceil(p·n) in integer arithmetic
    // ((num·n+den−1) // den); both engines pick identical input values
    "q56_group_quantiles" ->
      """WITH base AS (
           SELECT event_type, event_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
           FROM events
         ), r AS (
           SELECT *,
             row_number() OVER (PARTITION BY event_type
               ORDER BY v4l, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM base)
         SELECT event_type, max(n) AS n_rows,
           max(CASE WHEN rn = 1 THEN v4l END) / 10000.0 AS min_v,
           max(CASE WHEN rn = (n + 1) // 2 THEN v4l END) / 10000.0 AS p50,
           max(CASE WHEN rn = (9 * n + 9) // 10 THEN v4l END) / 10000.0 AS p90,
           max(CASE WHEN rn = (99 * n + 99) // 100 THEN v4l END) / 10000.0 AS p99,
           max(CASE WHEN rn = n THEN v4l END) / 10000.0 AS max_v
         FROM r GROUP BY event_type ORDER BY event_type""",
    "q58_winsorize" ->
      """WITH base AS (
           SELECT event_type, event_id, user_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
           FROM events
         ), r AS (
           SELECT *,
             row_number() OVER (PARTITION BY event_type
               ORDER BY v4l, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM base
         ), b AS (
           SELECT event_type,
             max(CASE WHEN rn = (1 * n + 19) // 20 THEN v4l END) AS lo4,
             max(CASE WHEN rn = (19 * n + 19) // 20 THEN v4l END) AS hi4
           FROM r GROUP BY event_type)
         SELECT r.event_id, r.user_id, r.event_type,
           r.v4l / 10000.0 AS value,
           b.lo4 / 10000.0 AS lo, b.hi4 / 10000.0 AS hi,
           least(greatest(r.v4l, b.lo4), b.hi4) / 10000.0 AS value_w,
           CASE WHEN r.v4l < b.lo4 THEN 1 ELSE 0 END AS clip_lo,
           CASE WHEN r.v4l > b.hi4 THEN 1 ELSE 0 END AS clip_hi
         FROM r JOIN b USING (event_type)
         ORDER BY event_id""",
    "q43_string_agg" ->
      """SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           count(*) AS n_nations
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "q44_correlated_subquery" ->
      """WITH stats AS (
           SELECT o_custkey AS k,
             SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS s,
             count(*) AS n
           FROM orders GROUP BY 1)
         SELECT o_orderkey, o_custkey, o_totalprice, n AS n_orders
         FROM orders JOIN stats ON o_custkey = k
         WHERE CAST(o_totalprice AS DECIMAL(28,6)) * n > s
         ORDER BY o_orderkey""",
    "q45_window_distribution" ->
      """SELECT event_id, event_type, value,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
         ORDER BY event_type, value, event_id""",
    "q46_pivot" ->
      """SELECT o_orderpriority,
           CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS "AUTOMOBILE",
           CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS "BUILDING",
           CAST(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS "FURNITURE",
           CAST(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS "HOUSEHOLD",
           CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS "MACHINERY"
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q50_monthly_revenue" ->
      """SELECT date_trunc('month', o_orderdate) AS month,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q51_upsert_merge" ->
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_totalprice, 0 AS version
           FROM orders
         ), upd AS (
           SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice,
             1 AS version
           FROM orders WHERE o_orderkey % 7 = 0
         ), u AS (
           SELECT * FROM base UNION ALL SELECT * FROM upd
         ), r AS (
           SELECT *, row_number() OVER (PARTITION BY o_orderkey
             ORDER BY version DESC) AS rn
           FROM u
         )
         SELECT o_orderkey, o_custkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c,
           CAST(version AS INT) AS version
         FROM r WHERE rn = 1 ORDER BY o_orderkey""",
    "q71_grouping_sets" ->
      """SELECT CAST(GROUPING(r_name, n_name, c_mktsegment) AS INT) AS gid,
           r_name, n_name, c_mktsegment,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY GROUPING SETS ((r_name, n_name),
           (r_name, c_mktsegment), (c_mktsegment))
         ORDER BY gid, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST,
           c_mktsegment ASC NULLS FIRST""",
    "q72_range_window" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE)
             AS win7_revenue,
           COUNT(*) OVER w AS win7_orders
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
           ORDER BY (CAST(o_orderdate AS DATE) - DATE '1992-01-01')
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, o_orderdate, o_orderkey""",
    "q73_funnel" ->
      """WITH det AS (
           SELECT DISTINCT event_type FROM events
         ), stg AS (
           SELECT event_type, row_number() OVER (ORDER BY event_type) AS rk
           FROM det
         ), t1 AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = (SELECT event_type FROM stg WHERE rk = 1)
           GROUP BY user_id
         ), t2 AS (
           SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN t1 ON t1.user_id = e.user_id
           WHERE e.event_type = (SELECT event_type FROM stg WHERE rk = 2)
             AND e.ts > t1.t1
           GROUP BY e.user_id
         ), t3 AS (
           SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN t2 ON t2.user_id = e.user_id
           WHERE e.event_type = (SELECT event_type FROM stg WHERE rk = 3)
             AND e.ts > t2.t2
           GROUP BY e.user_id
         ), u AS (
           SELECT DISTINCT user_id FROM events
         )
         SELECT u.user_id, t1.t1 AS stage1_ts, t2.t2 AS stage2_ts,
           t3.t3 AS stage3_ts,
           CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
                WHEN t2.t2 IS NOT NULL THEN 2
                WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS reached
         FROM u
         LEFT JOIN t1 ON t1.user_id = u.user_id
         LEFT JOIN t2 ON t2.user_id = u.user_id
         LEFT JOIN t3 ON t3.user_id = u.user_id
         ORDER BY u.user_id""",
    "q76_scd2" ->
      """WITH b AS (
           SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
             o_orderpriority,
             lag(o_orderstatus) OVER w AS p_status,
             lag(o_orderpriority) OVER w AS p_prio
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey)
         ), ch AS (
           SELECT * FROM b
           WHERE p_status IS NULL OR p_status <> o_orderstatus
              OR p_prio <> o_orderpriority
         ), v AS (
           SELECT *, CAST(row_number() OVER w2 AS INT) AS version,
             lead(o_orderdate) OVER w2 AS valid_to
           FROM ch
           WINDOW w2 AS (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey)
         )
         SELECT o_custkey, version, o_orderstatus AS status,
           o_orderpriority AS priority, o_orderdate AS valid_from, valid_to,
           CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT)
             AS is_current
         FROM v ORDER BY o_custkey, version""",
    "q81_set_ops" ->
      """WITH span AS (
           SELECT min(CAST(o_orderdate AS DATE)) +
             CAST((max(CAST(o_orderdate AS DATE)) -
                   min(CAST(o_orderdate AS DATE))) // 2 AS INT) AS pivot
           FROM orders
         ), a AS (
           SELECT DISTINCT o_custkey FROM orders, span s
           WHERE CAST(o_orderdate AS DATE) <= s.pivot
         ), b AS (
           SELECT DISTINCT o_custkey FROM orders, span s
           WHERE CAST(o_orderdate AS DATE) > s.pivot
         )
         SELECT 'lapsed' AS status, o_custkey
         FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
         UNION ALL
         SELECT 'new' AS status, o_custkey
         FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
         UNION ALL
         SELECT 'retained' AS status, o_custkey
         FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
         ORDER BY status, o_custkey""",
    "p08_dq_audit" ->
      """WITH fk1 AS (
           SELECT 'fk_orders_customer' AS check_name,
             CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS violations,
             count(*) AS total
           FROM orders o
           LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON o.o_custkey = c.c_custkey
         ), fk2 AS (
           SELECT 'fk_lineitem_orders',
             CAST(sum(CASE WHEN k.o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             count(*)
           FROM lineitem l
           LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) k
             ON l.l_orderkey = k.o_orderkey
         ), fk3 AS (
           SELECT 'fk_lineitem_part',
             CAST(sum(CASE WHEN k.p_partkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             count(*)
           FROM lineitem l
           LEFT JOIN (SELECT DISTINCT p_partkey FROM part) k
             ON l.l_partkey = k.p_partkey
         ), fk4 AS (
           SELECT 'fk_lineitem_supplier',
             CAST(sum(CASE WHEN k.s_suppkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             count(*)
           FROM lineitem l
           LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) k
             ON l.l_suppkey = k.s_suppkey
         ), pk1 AS (
           SELECT 'pk_orders_unique',
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
             count(*)
           FROM orders
         ), pk2 AS (
           SELECT 'pk_lineitem_unique',
             CAST(count(*) -
               (SELECT count(*) FROM
                 (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
               AS BIGINT),
             count(*)
           FROM lineitem
         ), n1 AS (
           SELECT 'null_events_value',
             CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(*)
           FROM events
         ), r1 AS (
           SELECT 'range_lineitem_quantity',
             CAST(sum(CASE WHEN l_quantity <= 0 OR l_quantity > 10000
               THEN 1 ELSE 0 END) AS BIGINT),
             count(*)
           FROM lineitem
         ), r2 AS (
           SELECT 'range_lineitem_discount',
             CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
               THEN 1 ELSE 0 END) AS BIGINT),
             count(*)
           FROM lineitem
         ), u AS (
           SELECT * FROM fk1 UNION ALL SELECT * FROM fk2
           UNION ALL SELECT * FROM fk3 UNION ALL SELECT * FROM fk4
           UNION ALL SELECT * FROM pk1 UNION ALL SELECT * FROM pk2
           UNION ALL SELECT * FROM n1 UNION ALL SELECT * FROM r1
           UNION ALL SELECT * FROM r2
         )
         SELECT check_name, violations, total,
           violations * 1000000 // total AS ratio6
         FROM u ORDER BY check_name""",
    // d07/q52: content-addressed (md5 + salt) selection — both engines
    // render md5 as lowercase hex, so the threshold compare is exact
    "d07_train_split" ->
      """SELECT doc_id,
           CASE WHEN md5(CAST(doc_id AS VARCHAR) || 'd07') < 'cccccccc'
                THEN 'train'
                WHEN md5(CAST(doc_id AS VARCHAR) || 'd07') < 'e6666666'
                THEN 'val'
                ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",
    "q52_stratified_sample" ->
      """SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
           value
         FROM events
         WHERE md5(CAST(event_id AS VARCHAR) || 'q52') <
           CASE event_type WHEN 'purchase' THEN 'g'
             WHEN 'error' THEN '80000000'
             WHEN 'click' THEN '33333333'
             WHEN 'signup' THEN '19999999'
             ELSE '0ccccccc' END
         ORDER BY event_id""",
    // d12: per-domain cap — salted-hash priority rank within source
    "d12_domain_cap" ->
      """WITH r AS (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 'd12'), doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
           FROM documents)
         SELECT source, doc_id, CAST(rn AS INT) AS rk, n AS n_source
         FROM r WHERE rn <= 10 ORDER BY source, rk""",
    "t05_entropy_score"  -> LlmOracle.t05,
    "d01_dedup_exact"    -> LlmOracle.d01,
    "d02_dedup_minhash_lsh" -> LlmOracle.d02,
    "d03_dedup_simhash"  -> LlmOracle.d03,
    "d04_ngram_jaccard"  -> LlmOracle.d04,
    "d05_dedup_embedding" -> LlmOracle.d05,
    "d06_dedup_clusters" -> LlmOracle.d06,
    "s01_ann_bruteforce" -> LlmOracle.s01,
    "s02_ann_lsh"        -> LlmOracle.s02,
    "s06_hybrid_rrf"     -> LlmOracle.s06,
    "s07_mmr_diverse"    -> LlmOracle.s07,
    "s08_knn_graph"      -> LlmOracle.s08,
    "s09_range_search"   -> LlmOracle.s09,
    "t01_langid"         -> LlmOracle.t01,
    "t02_quality_score"  -> LlmOracle.t02,
    "t03_token_count"    -> LlmOracle.t03,
    "t04_fingerprint"    -> LlmOracle.t04,
    "p01_corpus_pipeline" -> LlmOracle.p01,
    "p02_curation_pipeline" -> LlmOracle.p02,
    "p03_ingest_pipeline" -> LlmOracle.p03,
    "p04_data_card"      -> LlmOracle.p04,
    "p05_monitor_report" -> SignalOracle.p05,
    "p06_corpus_diff"    -> LlmOracle.p06,
    "p07_release_manifest" -> LlmOracle.p07,
    "m01_multimodal_meta" -> LlmOracle.m01,
    "m02_audio_features" -> LlmOracle.m02,
    "m03_video_frames" -> LlmOracle.m03,
    "m05_scene_change" -> LlmOracle.m05,
    "m06_phash_dedup"  -> LlmOracle.m06,
    "m11_dhash_dedup"  -> LlmOracle.m11,
    "m10_image_exposure" -> LlmOracle.m10,
    "m08_video_near_dup" -> LlmOracle.m08,
    "m07_audio_segment" -> LlmOracle.m07,
    "m09_audio_near_dup" -> LlmOracle.m09,
    "m04_image_resize" -> LlmOracle.m04,
    "q47_orc_roundtrip" ->
      """SELECT c_nationkey, count(*) AS n_negative,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS neg_balance
         FROM customer WHERE c_acctbal < 0
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "st05_stream_static_join" ->
      """SELECT c_mktsegment, event_type, count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // st01: each event lands in exactly two 6h/3h sliding windows,
    // aligned to the epoch exactly as Spark's window() aligns them.
    "st01_stream_window_agg" ->
      """WITH e AS (
           SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
         ), w AS (
           SELECT make_timestamp((CAST(floor(epoch(ts)) AS BIGINT) // 10800)
                    * 10800 * 1000000) AS win_start, event_type, value
           FROM e
           UNION ALL
           SELECT make_timestamp(((CAST(floor(epoch(ts)) AS BIGINT) // 10800)
                    * 10800 - 10800) * 1000000), event_type, value
           FROM e
         )
         SELECT win_start, event_type, count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
         FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    // st02: the stateful flags recomputed as windowed SQL — fixed-point
    // scaled-long diffs make mean/variance exact-integer sums, so the
    // z ratio is bit-identical (the 1e-4 scale cancels). Staleness
    // semantics mirror the EventTimeTimeout: a gap > 8 days (µs) splits
    // a ticker into segments (fresh baseline), every non-final segment
    // emits one staleness row, and the final segment emits one iff the
    // final watermark (ms-floor(max ts) − 1 h, strict <) outlives
    // lastTs + 8 d — the exact firing rule of the streaming timeout.
    "st02_stream_anomaly" ->
      """WITH b AS (
           SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
             value, CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vl
           FROM events
         ), sgap AS (
           SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
           FROM b
           WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
         ), seg AS (
           SELECT *,
             SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
                 THEN 1 ELSE 0 END) OVER
               (PARTITION BY user_id, event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
           FROM sgap
         ), d AS (
           SELECT user_id, event_type, event_id, ts, value, seg_id,
             abs(vl - lag(vl) OVER w) AS dl
           FROM seg
           WINDOW w AS (PARTITION BY user_id, event_type, seg_id
                        ORDER BY ts, event_id)
         ), g AS (
           SELECT *,
             SUM(CASE WHEN dl = 0 THEN 0 ELSE 1 END) OVER
               (PARTITION BY user_id, event_type, seg_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp,
             CAST(SUM(dl) OVER f AS DOUBLE) AS sumd,
             CAST(SUM(CAST(dl AS HUGEINT) * dl) OVER f AS DOUBLE) AS sumsq,
             COUNT(dl) OVER f AS n
           FROM d
           WINDOW f AS (PARTITION BY user_id, event_type, seg_id
                        ORDER BY ts, event_id
                        ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
         ), r AS (
           SELECT *, COUNT(*) OVER
               (PARTITION BY user_id, event_type, seg_id, grp
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
           FROM g
         ), z AS (
           SELECT user_id, event_type, event_id, ts, value, dl,
             CASE WHEN dl IS NULL THEN 0.0
                  WHEN n >= 2 AND (sumsq - sumd * sumd / n) > 0
                  THEN abs(CAST(dl AS DOUBLE) - sumd / n)
                       / sqrt((sumsq - sumd * sumd / n) / (n - 1))
                  ELSE 0.0 END AS zscore,
             run
           FROM r
         ), ev AS (
           SELECT user_id, event_type, event_id, ts, value, zscore,
             CASE WHEN zscore >= 4.5 THEN 1 ELSE 0 END AS stddev_flag,
             CASE WHEN dl IS NOT NULL AND run >= 3 THEN 1 ELSE 0 END
               AS repetition_flag,
             0 AS staleness_flag,
             CASE WHEN zscore >= 4.5 OR (dl IS NOT NULL AND run >= 3)
                  THEN 1 ELSE 0 END AS anomaly
           FROM z
         ), ends AS (
           SELECT user_id, event_type, seg_id, ts, value,
             row_number() OVER (PARTITION BY user_id, event_type, seg_id
               ORDER BY ts DESC, event_id DESC) AS rn,
             max(seg_id) OVER (PARTITION BY user_id, event_type) AS max_seg
           FROM seg
         ), stale AS (
           SELECT user_id, event_type, CAST(-1 AS BIGINT) AS event_id, ts,
             value, 0.0 AS zscore, 0 AS stddev_flag, 0 AS repetition_flag,
             1 AS staleness_flag, 1 AS anomaly
           FROM ends
           WHERE rn = 1 AND (seg_id < max_seg
             OR epoch_ms(ts) + 691200000 <
                (SELECT epoch_ms(max(ts)) FROM b) - 3600000)
         )
         SELECT * FROM ev UNION ALL SELECT * FROM stale
         ORDER BY user_id, event_type, ts, event_id""",
    // st03: the surviving key set of watermark-bounded streaming dedup
    // is exactly the distinct keys (single source, no late arrivals).
    "st03_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type, value FROM events
         ORDER BY user_id, event_type, value""",
    "st04_stream_stream_join" ->
      """WITH p AS (
           SELECT event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
             user_id, value AS purchase_value
           FROM events WHERE event_type = 'purchase'
         ), c AS (
           SELECT event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts,
             user_id AS click_user
           FROM events WHERE event_type = 'click'
         )
         SELECT purchase_id, user_id, purchase_ts, purchase_value, click_id,
           click_ts
         FROM p JOIN c ON user_id = click_user
           AND click_ts <= purchase_ts
           AND click_ts >= purchase_ts - INTERVAL 1 HOUR
         ORDER BY purchase_id, click_id""",
    // st06: session_window semantics — merge while the gap to the
    // previous event is < 30 min; session end = last event + gap.
    "st06_stream_session_window" ->
      """WITH e AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
           FROM events
         ), flagged AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microsecond', lag(ts) OVER w, ts)
                       >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), sess AS (
           SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged
         )
         SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS session_value
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, session_start"""
    // As of round 12 EVERY registered entry carries an oracle: the
    // last holdout, st10's SpaceSaving k-counter state machine,
    // replays as a recursive CTE whose counter bank rides three LIST
    // columns (SignalOracle.st10); d14/s03/s05 replay their whole
    // k-means/PQ training chains off md5-ranked seeds; q37 replays
    // its explicit HLL register bank.
  )
}
