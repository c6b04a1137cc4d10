package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe: validates the 100 TB story with a measured datapoint
  * instead of plan-shape arguments alone — runs the headline query
  * families at sf0.1 and at a synthesized 10× ("sf1") and reports the
  * scaling ratio per query. A plan that holds should scale ≈ linearly
  * (ratio ≲ 12× for 10× data once fixed costs amortize); a hidden
  * all-pairs join or driver loop shows up as a super-linear blow-up.
  *
  * sf1 synthesis (10 key-shifted copies of sf0.1, staged once to
  * /tmp/graft_sf1):
  *  - events: user_id/event_id offset per copy → 10× tickers with the
  *    same per-key series length — the scale-out shape of a ticker
  *    feed (more keys, same history), which is exactly what the
  *    window/stateful operators shard on.
  *  - documents: doc_id offset per copy AND the text run through a
  *    per-copy alphabet rotation (translate a→b→c…, digits too):
  *    every copy keeps the ORIGINAL corpus's internal duplicate/
  *    near-duplicate structure bit-for-bit, while sharing zero tokens
  *    across copies — so dup pairs, LSH buckets and the term
  *    dictionary all scale ~10× like a genuinely larger corpus, not
  *    the ~100× pair blow-up naive replication would plant.
  *  - customer: c_custkey offset per copy so q10's broadcast dim join
  *    keeps its hit rate.
  */
object BenchScale {

  /** Copy count: 10 = the standard sf1 (10×) probe; 100 = the sf10
    * (100×) tier (SPARK_GRAFT_COPIES). Collision-free transform
    * budgets per axis (round-15: the 100× tier now covers the text and
    * embedding axes too — the round-14 decade probed events only):
    * text composes the 26 alphabet rotations with 11 affine letter
    * banks (312 pairwise-distinct substitution maps), embeddings
    * compose the 64 dimension rotations with a sign-flip bank (128
    * signed permutations), so documents/embeddings stage up to
    * [[NonEventsMaxCopies]] = 128 copies. Media payload staging (a
    * PNG encode per doc) stays capped at [[MediaMaxCopies]] = 26 for
    * staging cost — past it the m* families keep their 10× datapoint.
    * Probes beyond an axis cap are filtered out of an argless run
    * (with a printed note) and rejected loudly when named explicitly
    * (ADVICE r14: the argless 100× run used to crash mid-probe on the
    * unstaged parquet).
    */
  val Copies: Int = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt
  val NonEventsMaxCopies = 128
  val MediaMaxCopies = 26
  private val UserOff = 1000000000L
  private val DocOff = 1000000000L
  private val EventOff = 1000000000000L

  private val Az = "abcdefghijklmnopqrstuvwxyz"
  private val Dg = "0123456789"
  private def rotated(s: String, i: Int): String =
    s.substring(i % s.length) + s.substring(0, i % s.length)

  /** Multipliers coprime to 26 (1 excluded — the rotation bank): each
    * (a, b) pair is a distinct affine substitution x → a·x + b mod 26.
    * Agreement class (round-15 ADVICE: the old "at most ONE letter"
    * claim was wrong for an even modulus): every unit of Z/26 is odd,
    * so two DISTINCT affine maps differ by an even multiplier Δa and
    * agree where Δa·x + Δb ≡ 0 (mod 26) — zero letters, or exactly
    * TWO letters 13 apart ({x, x+13}), never one and never more
    * (Δa·13 ≡ 0 kills the odd-gap solutions; gcd(Δa, 26) ∈ {2, 26}
    * caps the solution count at 2). Affine maps over Z/26 cannot do
    * better. Residual planted-collision class for copies ≥ 26: only a
    * token/shingle whose DISTINCT letters all lie inside one such
    * {x, x+13} pair (e.g. "bob" = {b,o}, "ana" = {a,n}) collides
    * across exactly the copy pairs that agree there — with digits
    * also rotating per copy, the corpus frequency of ≥3-gram shingles
    * built from a single 13-apart letter pair is ~0 (no English
    * 3-gram over {x, x+13} × {x, x+13} × {x, x+13} is common text),
    * so the text decade's "no cross-copy duplicates" read is
    * unaffected at measurement precision; a collision-FREE extension
    * would need non-affine permutation banks.
    */
  private val AffineA = Array(3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  private def affine(alpha: String, a: Int, b: Int): String = {
    val n = alpha.length
    (0 until n).map(x => alpha((a * x + b) % n)).mkString
  }

  /** Letter substitution for copy i: the plain rotation for i < 26
    * (bit-identical to the pre-round-15 staging, so ≤ 26-copy /tmp
    * caches stay valid), the affine banks past it.
    */
  private[graft] def letterMap(i: Int): String =
    if (i < 26) rotated(Az, i)
    else affine(Az, AffineA((i - 26) / 26 % AffineA.length), i % 26)

  private def rotText(c: org.apache.spark.sql.Column, i: Int) =
    translate(c,
      Az + Az.toUpperCase + Dg,
      letterMap(i) + letterMap(i).toUpperCase + rotated(Dg, i))

  /** Every family with distinctive scale behavior: the windowed
    * pipeline (q06/q10), banded LSH dedup (d02), connected components
    * (d06), inverted-index scoring (t06), stateful streaming (st02),
    * broadcast decontamination (d08), and — round 7 — the three
    * families that had no measured datapoint: per-key flatMapGroups
    * recursion (q54), the PPJoin prefix-filtered pair join (d04), and
    * bucket-probed LSH ANN (s02).
    *
    * st02 runs FIRST: the sf1 run holds 10× ticker state on the heap,
    * and a heap already dirtied by the batch probes adds multi-second
    * GC to its batch that isolation never reproduces (in-suite 5.1×
    * vs isolated 2.3× on identical code) — probing it on a clean heap
    * measures the operator, not the suite's garbage.
    */
  val ProbeQueries: Seq[String] = Seq(
    "st02_stream_anomaly", "q06_zscore", "q10_anomaly_report",
    "d02_dedup_minhash_lsh", "d06_dedup_clusters", "t06_tfidf",
    "d08_decontaminate", "q54_holt_forecast", "d04_ngram_jaccard",
    "s02_ann_lsh", "d09_importance_sample", "q55_cross_sectional",
    "d10_ngram_containment", "d11_substring_dedup",
    // round 8: group-rank selection, domain-cap window, banded image
    // dedup over 10× media, PQ codebook train + ADC scan
    "q56_group_quantiles", "d12_domain_cap", "m06_phash_dedup",
    "s05_ann_pq",
    // round 8b: calendar-grid join, clip-band window, composed
    // curation chain, windowed SpaceSaving state
    "q57_gap_fill", "q58_winsorize", "p02_curation_pipeline",
    "st10_stream_heavy_hitters",
    // round 8c: rolling-correlation windows, fixed-histogram state
    "q59_peer_correlation", "st11_stream_quantiles",
    // round 8d: batch-vs-index admission (prefix-filter candidate join),
    // lag-autocorrelation periods, PSI drift deciles, mixture quotas
    "d15_incremental_dedup", "q60_dominant_period", "q61_drift_psi",
    "d16_mixture_sample",
    // round 8e: frame-hash video dedup (output-driven, read with
    // rows_ratio like m06), ingest chain, streaming drift state
    "m08_video_near_dup", "p03_ingest_pipeline", "st13_stream_drift",
    // round 9: per-key Kalman recursion (batch + stateful stream),
    // dual-modality broadcast retrieval, per-source stat card windows
    "q62_kalman_level", "st14_stream_kalman", "s06_hybrid_rrf",
    "p04_data_card", "t12_source_kl", "q63_matrix_discord",
    "q64_trend_mk", "st15_stream_trend", "m09_audio_near_dup",
    "p05_monitor_report",
    // round 9b: rank-statistic changepoints (O(n²) in-task), digit
    // grids, seasonal-ring recursions (batch + stateful stream + the
    // windowed digit state), MMR pool self-join, row-local
    // readability, cross-era diff (two scans + union-vocab KL)
    "q65_pettitt_cp", "q66_benford", "q67_holt_winters",
    "q68_seasonal_mk", "s07_mmr_diverse", "t13_readability",
    "st16_stream_benford", "st17_stream_holt_winters",
    "p06_corpus_diff",
    // round 9c: distinct-value CDF windows (KS), running-mean drift
    // windows (batch + five-long stream state), single-long heartbeat
    // state, banded-Levenshtein pair join, two combiner aggregations
    // (t15), one-scan shard manifest
    "q69_ks_drift", "q70_page_hinkley", "st18_stream_gap",
    "st19_stream_page_hinkley", "d17_edit_distance_dedup",
    "t15_lexical_diversity", "p07_release_manifest",
    // round 9d: row-local regex triage, one-pass grouped funnel walk
    // (batch + the per-user stream state). q71/q72 ride the TPC-H
    // tables the sf1 stage doesn't synthesize (like q20-q51); s08 is
    // the exact n² tier by semantics — its scale path IS s02/s03.
    "t16_markup_density", "q73_funnel", "st20_stream_funnel",
    // round 9e: trailing-zone-frame windows (batch + the ring-state
    // stream), lag-window portmanteau moments, (type, era) median
    // exchanges, twin rank windows over the daily peer grid, weighted
    // radix boundary (collect-driven, no window), cross-doc gram-df
    // join, banded dHash over 10× media (output-driven like m06).
    // q81 rides the TPC-H tables the sf1 stage doesn't synthesize;
    // t18 is a pure row-local scan (t16's class).
    "q74_spc_rules", "st21_stream_spc", "q78_ljung_box",
    "q79_variance_drift", "q80_spearman_peer", "d18_token_budget",
    "t19_ngram_novelty", "m11_dhash_dedup",
    // round 9f: EWMA/bar state classes, midrank distinct-value
    // windows, ticker-day bar windows, ticker moment groupBys, the
    // shared component solver over embedding pairs, the five-monitor
    // panel, broadcast range scan, quality-mix cells. q81/q87 ride
    // tables the sf1 stage doesn't synthesize (orders / unmodified
    // props); t18 is row-local (t16's class).
    "st22_stream_ewma", "st23_stream_bars", "q84_mann_whitney",
    "q85_weekday_anova", "q86_ohlc_bars", "q82_ols_trend",
    "q83_seasonal_strength", "d19_semantic_clusters", "p09_drift_panel",
    "s09_range_search", "p10_quality_mix",
    // round 9 third continuation: running-max/island windows, pair
    // joins over daily closes (Theil-Sen, corr matrix), dual-lag
    // moment groupBys (batch + the ring-state stream), per-(size,
    // block) R/S windows, STOMP in-task profile rides q63's probe,
    // type-table KN model, source-pair gram join (fixed 190-row
    // spine), three-stage flag-set algebra, filtered broadcast ANN,
    // partitioned sink write, µs-weight windows (batch + day-close
    // state), detector-ensemble co-keyed joins. t21 is row-local
    // (t16's class); q97 one light groupBy; st24 rides orders (not
    // synthesized, q81's class); p12 aggregates m01/m02's probes;
    // q94's output is tickers² BY SEMANTICS — the synth's 10×
    // tickers means a 100× pair matrix no real corpus growth
    // produces (volume grows prints, not the catalog), so its probe
    // ratio would read output growth, not plan health (m06's class,
    // but ×100 — excluded rather than footnoted).
    "q89_drawdown", "q90_theil_sen", "q91_variance_ratio",
    "q92_partitioned_write", "q93_hurst",
    "q95_ensemble_vote", "q96_twap", "t20_kneser_ney",
    "d20_source_overlap", "p11_dedup_funnel", "s10_filtered_ann",
    "st25_stream_vr", "st26_stream_twap",
    // round 9 fourth continuation: three lag-kernel windows over one
    // series sort (MACD) and O(W)/row rolling-moment frames
    // (Bollinger) — both ride the series-key exchange. q100 rolling
    // corr is q94's pair join plus a pair-key window: pair-days
    // output, catalog-quadratic BY SEMANTICS — excluded for q94's
    // reason. q101 vol kernel + q102 squared-diff portmanteau ride
    // the same series exchange; st27 is the three-detector state
    // class (st21/st22's probe shape).
    "q98_macd", "q99_bollinger", "q101_riskmetrics_vol",
    "q102_arch_test", "st27_stream_ensemble",
    // d21 = digest scan + m-bounded distinct + broadcast probe;
    // q103 rides the q10 chain's ticker exchange. s11 composes s08's
    // exact n² graph tier — excluded for s08's reason (its scale
    // path is s02/s03 candidate edges into the same join chain).
    "d21_bloom_admission", "q103_incident_report",
    // q104 = one calendar-cell groupBy; q105 = q78's moment class on
    // levels; t22 = dictionary-sized bigram groupBys (t06's class).
    "q104_seasonal_profile", "q105_ar1_half_life",
    "t22_pmi_collocations",
    // st28 = 5-long dyadic state (st22's class); q106 rides the
    // series lag + groupBy; q107 is one user exchange into a
    // catalog^2-bounded groupBy.
    "st28_stream_macd", "q106_burstiness", "q107_markov_transitions",
    // q109 rides the series rank windows; st29 = 1-string state +
    // catalog^2 broadcast map. q108 is q94's pair join x7 lags —
    // catalog-quadratic output BY SEMANTICS, excluded for q94's
    // reason.
    "q109_percentile_envelope", "st29_stream_rare_transition",
    // q110 = two rank windows + two co-partitioned joins on one
    // series exchange (q109's class).
    "q110_modified_zscore",
    // round 10: st30 is st02's state class (same baseline, incident
    // accumulator is 6 scalars); q113/q114/q115 are q105's
    // series-moment class; st31 is st25's 12-long prefix-moment
    // state class. q111/q112 are q94's pair join shape —
    // catalog-quadratic output BY SEMANTICS (10× tickers ⇒ 100×
    // pairs no real corpus growth produces), excluded for q94's
    // reason; p13 composes series-moment components on a catalog
    // spine (its cost IS the probed components') — excluded as a
    // composition, like p12.
    "st30_stream_incidents",
    "q113_adf_unit_root", "st31_stream_adf", "q114_kpss",
    "q115_chow_break",
    // d22: doc-local run mining + exact-text groupBy — r10 probed it
    // in a separate pass (2.49× at 10× rows); in-list now that the
    // memory-sink sweep lets the full suite finish in one JVM.
    "d22_span_catalog",
    // round 11: q116 = five-power-sum groupBy; q117 = q82's moment
    // windows + one lag; q118 = prefix-window sup scan (O(n)/series);
    // q121 = q84's distinct-value midrank class; q122 = one lag/lead
    // window + count; q123 = seven-column conditional-moment groupBy;
    // q124 = prefix/total squared-diff windows + exact argmax; st32 =
    // 3-long turn state; st33 = 3-long peak state. q119/q120 ride
    // probed classes (q109's full-key windows / q69's distinct-value
    // CDF); p14 is a composition (p13's exclusion reason).
    "q116_jarque_bera", "q117_durbin_watson", "q118_sup_f",
    "q121_kruskal_wallis", "q122_turning_points", "q123_bartlett",
    "q124_cusum_squares", "st32_stream_turning_points",
    "st33_stream_drawdown",
    // round 11 continuation: st34 = 5-long gap-moment state (st22's
    // class); q125 = key-local template pair join (q90's class);
    // q126 rides q10's chain exchange; st35 = st02's verdict state +
    // 4 scalars. s12/p15 compose s08's exact n² tier — excluded for
    // s08's reason (their scale path is s02/s03 candidate edges).
    "st34_stream_burstiness", "q125_sample_entropy",
    "q126_flap_detection", "st35_stream_flap",
    // q127 composes q54's probed recursion + one lag/groupBy
    "q127_forecast_backtest",
    // st36 = 6-long envelope state (st22's class)
    "st36_stream_extremes",
    // round 12: q128 = two prefix-window sup scans (q118's class ×2
    // exchanges); q130 = close-collapse + (key, week) rank windows
    // (q121's midrank class); st37 = 7-long Holt+backtest state
    // (st09/st22's class). q129 is q94's pair join shape —
    // catalog-quadratic output BY SEMANTICS, excluded for q94's
    // reason; q37's register bank is a fixed-width groupBy (q20's
    // class); p16 is a composition (p13/p14's exclusion reason).
    "q128_binary_segmentation", "q130_friedman", "st37_stream_mase",
    // t23 = row-local tokenize + vocab-sized edge groupBys + five
    // integer-PageRank join rounds (t06's dictionary class + s12's
    // iteration class); q131 = q113's probed ten-sum series-moment
    // class; q132 = q114's prefix-window class
    "t23_textrank_keywords", "q131_adf_trend", "q132_kpss_trend",
    // round 13: q129 probed DESPITE being catalog-quadratic BY
    // SEMANTICS (q94's exclusion class) — the round-12 verdict asked
    // for the datapoint; read its time ratio against rows_ratio
    // (10× tickers ⇒ ~100× pairs, the output axis, while the
    // per-pair in-task census is calendar-bounded). q133 = q131's
    // fifteen-sum series-moment class; s13 composes s03's probed
    // coarse chain + s05's probed residual-PQ rounds; st38 = 10-long
    // histogram state (st13's class, per-print emission); st39 =
    // st15's 16-obs ring class with the rank pass per print.
    "q129_kendall_tau", "q133_adf_lag", "s13_ann_ivfpq",
    "st38_stream_psi", "st39_stream_spearman",
    // q134 = q133's ten-sum sibling on the level design
    "q134_adf_level_lag",
    // round 14: the four broadcast-array pair plans probed DESPITE
    // being catalog-quadratic BY SEMANTICS (q129's round-13
    // precedent — the round-13 verdict asked for the datapoint; read
    // time ratios against rows_ratio: 10× tickers ⇒ ~100× pairs, the
    // output axis, while the per-pair compiled pass is
    // calendar-bounded). s14 = the linear-panel power iteration
    // (two panel joins + catalog-sized state per round); st40 = the
    // stateless row-local admission encode over 10× arrivals.
    "q94_corr_matrix", "q108_cross_correlation", "q111_granger",
    "q112_cointegration", "s14_factor_residual",
    "st40_stream_vector_admit")

  /** Whether a probe's tables are staged at `copies` (ADVICE r14: this
    * was scaladoc prose only, and an argless SPARK_GRAFT_COPIES=100
    * run crashed mid-probe on the unstaged parquet). Past
    * [[MediaMaxCopies]] the m* payload tables aren't staged; past
    * [[NonEventsMaxCopies]] only the events axis is — the q- and
    * st-prefixed ticker analytics + streaming entries (st40 excluded:
    * the vector-admission stream reads embeddings), the SignalOps
    * event panels p05/p09, and the s14 panel iteration.
    */
  private val EventsAxisExtras =
    Set("s14_factor_residual", "p05_monitor_report", "p09_drift_panel")
  private[graft] def stageableAt(copies: Int)(q: String): Boolean =
    if (copies <= MediaMaxCopies) true
    else if (copies <= NonEventsMaxCopies) !q.startsWith("m")
    else ((q.startsWith("q") || q.startsWith("st")) &&
      q != "st40_stream_vector_admit") || EventsAxisExtras(q)

  /** Staging-layout version (bump when a table or its synthesis
    * changes, so a /tmp cache from an older round rebuilds): v2 adds
    * embeddings (dimension-rotated per copy); v3 de-aliases the
    * per-copy doc_id offset (DocOff ≡ 0 mod 25·256 made the derived
    * media content identical across copies); v4 stages documents/
    * embeddings past 26 copies (the r14 v3_c100 cache carries a
    * _STAGED marker with no documents — it must rebuild).
    */
  private val StageVersion = 4

  def stageSf1(s: SparkSession, srcDir: String): String = {
    val root = new java.io.File(
      if (Copies == 10) s"/tmp/graft_sf1/v$StageVersion"
      else s"/tmp/graft_scale/v${StageVersion}_c$Copies")
    val done = new java.io.File(root, "_STAGED")
    if (!done.exists()) {
      val ev = Tables.events(s, srcDir)
      (0 until Copies).map { i =>
        ev.select(
          (col("event_id") + lit(i * EventOff)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(i * UserOff)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$root/events.parquet")

      // customer is a pure key offset — collision-free at any copy
      // count, and q10's dim join needs it on every tier
      val cust = Tables.customer(s, srcDir)
      (0 until Copies).map { i =>
        cust.withColumn("c_custkey", col("c_custkey") + lit(i * UserOff))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$root/customer.parquet")

      // documents/embeddings stage up to the composed-transform caps
      // (312 text / 128 embedding copies — see Copies scaladoc)
      if (Copies <= NonEventsMaxCopies) stageNonEvents(s, srcDir, root)
      done.createNewFile()
    }
    root.getAbsolutePath
  }

  private def stageNonEvents(s: SparkSession, srcDir: String,
      root: java.io.File): Unit = {
      // doc offset carries an extra i·7919 (prime, not ≡0 mod 25 or
      // 256): DocOff alone is divisible by both, so the id-derived
      // media content (dims mod 25, pixels mod 256) would be
      // BIT-IDENTICAL across copies — planting 10-way exact-dup image
      // clusters and a ~100× pair blow-up no real 10× corpus has. The
      // shifted offset rotates image geometry/content per copy, the
      // same "no cross-copy collisions" rule as the text rotation.
      val docs = Tables.documents(s, srcDir)
      (0 until Copies).map { i =>
        docs.select(
          (col("doc_id") + lit(i * DocOff + i * 7919L)).as("doc_id"),
          rotText(col("text"), i).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$root/documents.parquet")

      // embeddings: vec_id offset per copy + a per-copy SIGNED circular
      // dimension permutation — rotation r = i mod 64, composed past 64
      // copies with an odd-dimension sign flip (i ≥ 64). Both are
      // orthogonal maps applied uniformly to a copy, so intra-copy
      // geometry (norms, dot products, near-neighbor structure) is
      // preserved exactly, while cross-copy vectors land in unrelated
      // LSH buckets (a rotated copy and its flipped twin differ on
      // every odd dimension; random-ish cross-copy cosines ≈ 0) — the
      // same "10× corpus, no planted cross-copy collisions" story as
      // the text rotation, good for 128 copies.
      val emb = Tables.embeddings(s, srcDir)
      (0 until Copies).map { i =>
        val r = i % 64
        val rot =
          if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, 64 - r),
            slice(col("embedding"), 1, r))
        val signed =
          if (i < 64) rot
          else zip_with(rot, sequence(lit(0), lit(63)),
            (x, d) => when(d % 2 === 1, -x).otherwise(x))
        emb.select((col("vec_id") + lit(i * DocOff)).as("vec_id"),
          signed.as("embedding"), col("label"))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$root/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // streaming memory sinks collect each probe's full output to the
      // driver; at the 100-copy tier st02's ~6M-row output serializes
      // past the 1 GiB default maxResultSize (the 24 GiB heap holds it
      // comfortably — the per-probe sweep drops it right after count)
      .config("spark.driver.maxResultSize", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sf1Dir = stageSf1(spark, sfDir)
    graft.streaming.StreamingAnomaly.ensureStaged(spark, sfDir)
    graft.streaming.StreamingAnomaly.ensureStaged(spark, sf1Dir)
    graft.streaming.StreamingCorpus.ensureStaged(spark, sfDir)
    // m06 decodes STORED payloads: stage both media tables up front so
    // its first sf1 sample times the decode path, not a one-time 10×
    // PNG-encode write. Axis caps: corpus streams ride the staged
    // documents/embeddings (≤ NonEventsMaxCopies); media payloads stay
    // ≤ MediaMaxCopies (see Copies scaladoc)
    graft.multimodal.Multimodal.ensureStaged(spark, sfDir)
    if (Copies <= NonEventsMaxCopies)
      graft.streaming.StreamingCorpus.ensureStaged(spark, sf1Dir)
    if (Copies <= MediaMaxCopies)
      graft.multimodal.Multimodal.ensureStaged(spark, sf1Dir)

    def sweep(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      // drop streaming memory-sink temp views (stXX_out_N): at sf1
      // they hold 10× output rows each and accumulating them across
      // the suite exhausted a 24g driver heap in the round-10 pass
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.contains("_out_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
    }
    // double GC with a settle pause: one System.gc() leaves reference
    // processing / concurrent cleanup racing the next sample — the
    // residue of the 10×-state suite heap that made in-suite ratios
    // disagree with fresh-JVM isolation (d08 3.63 vs 2.47 in round 7)
    def settle(): Unit = {
      System.gc(); Thread.sleep(100L); System.gc()
    }
    def timeOnce(name: String, dir: String): (Double, Long) = {
      settle() // every sample starts from a clean, settled heap
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      sweep()
      (dt, n)
    }
    // best-of-2 for EVERY sample: the probe's quantity is a RATIO of
    // two 1-8 s runs, and a single GC pause of the 10×-state suite
    // heap triples whichever entry it lands on (observed: st02 7.3×,
    // then d02 4.7× and d08 5.6× on identical code, each isolating
    // back to ~2×). Additive noise → min is the honest estimator.
    // Row counts ride along: output growth is the denominator a time
    // ratio must be read against (m06's pair set grows ~100× on the
    // low-diversity synthetic images — its 5× time is SUB-linear in
    // output), so the artifact carries rows_ratio per entry.
    def time(name: String, dir: String): (Double, Long) = {
      val (a, b) = (timeOnce(name, dir), timeOnce(name, dir))
      if (a._1 <= b._1) a else b
    }
    def probePair(q: String): ((Double, Long), (Double, Long)) = {
      settle()
      (time(q, sfDir), time(q, sf1Dir))
    }
    val probes =
      if (args.nonEmpty) {
        // explicit args past an axis cap fail FAST with the cap named,
        // not mid-probe on a missing parquet path (ADVICE r14)
        val bad = args.filterNot(stageableAt(Copies))
        require(bad.isEmpty,
          s"probes not stageable at Copies=$Copies (axis caps: media <= " +
            s"$MediaMaxCopies, documents/embeddings <= $NonEventsMaxCopies " +
            s"copies): ${bad.mkString(", ")}")
        args.toSeq
      } else {
        val (in, out) = ProbeQueries.partition(stageableAt(Copies))
        if (out.nonEmpty)
          println(s"BenchScale: Copies=$Copies exceeds an axis cap - " +
            s"excluding ${out.size} probes: ${out.mkString(", ")}")
        in
      }
    // warm pass at sf0.1 (JIT), then the measured pair per query
    probes.foreach(q => time(q, sfDir))
    val firstPass = probes.map(q => (q, probePair(q)))
    // second, ISOLATED pass for any entry whose in-suite ratio looks
    // super-linear: re-probe it at the end on a settled heap and
    // publish BOTH numbers — "ratio" (and worst_ratio) carry the min,
    // the defensible estimate; "alt_pass_ratio" documents the other
    // pass so the artifact and the survey narrative can't diverge
    val rows = firstPass.map { case (q, ((b1, nb), (s1, ns))) =>
      val r1 = s1 / b1
      if (r1 <= 2.0) (q, b1, s1, r1, None, nb, ns)
      else {
        val ((b2, _), (s2, _)) = probePair(q)
        val r2 = s2 / b2
        if (r2 < r1) (q, b2, s2, r2, Some(r1), nb, ns)
        else (q, b1, s1, r1, Some(r2), nb, ns)
      }
    }
    val qs = rows.map { case (q, b, sc, r, alt, nb, ns) =>
      val extra = alt.map(v => f""","alt_pass_ratio":$v%.2f""").getOrElse("")
      val rowsRatio =
        if (nb > 0) f""","rows_ratio":${ns.toDouble / nb}%.2f""" else ""
      f"""\"$q\":{\"sf01_sec\":$b%.3f,\"sf1_sec\":$sc%.3f,\"ratio\":$r%.2f""" +
        f"""$extra,\"sf01_rows\":$nb,\"sf1_rows\":$ns$rowsRatio}"""
    }.mkString("{", ",", "}")
    val worst = rows.map(_._4).max
    val label = if (Copies == 10) "sf1" else s"sf${Copies / 10}"
    val line = s"""{"metric":"${label}_scale_probe","copies":$Copies,""" +
      s""""worst_ratio":${f"$worst%.2f"},"queries":$qs}"""
    println(line)
    // argless (full ProbeQueries) runs own the round artifact; a
    // named-subset run is a local iteration probe and must not
    // overwrite the committed full record (round 16: a single-entry
    // d08 probe did exactly that — recovered from git)
    if (args.isEmpty) {
      val out = new java.io.PrintWriter(s"BENCH_$label.json")
      try out.println(line) finally out.close()
    }
    spark.stop()
  }
}
