package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting operators — the two selection
  * primitives every training-data pipeline needs in front of a corpus:
  * a reproducible train/val/test split and per-stratum downsampling.
  *
  * Both are built on CONTENT-ADDRESSED hashing (md5 of the key plus a
  * salt) instead of `rand()`: the assignment of a row never changes
  * across runs, partitionings, cluster sizes, or engines, so pipelines
  * can be re-run incrementally and audited — and the DuckDB oracle can
  * reproduce the exact row set (both engines render md5 as lowercase
  * hex, so one lexicographic threshold compare is the whole mechanism).
  * Zero shuffles: a codegen'd row-local filter/projection that runs at
  * scan speed on any corpus size.
  */
object Sampling {

  /** Hash a key column into [0,1)-by-prefix: lowercase md5 hex of
    * (key, salt). A fraction f maps to the 8-hex-digit prefix of
    * f·16⁸ — comparing the full digest against that prefix selects a
    * deterministic ≈f share (exact to 16⁻⁸).
    */
  private[graft] def saltedHash(key: Column, salt: String): Column =
    md5(concat(key.cast("string"), lit(salt)))

  /** d07: reproducible 80/10/10 train/val/test split of the documents
    * corpus. Thresholds are the hex expansions of 0.8 (0xcccccccc…)
    * and 0.9 (0xe6666666…).
    */
  def trainSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        saltedHash(col("doc_id"), "d07").as("h"))
      .withColumn("split",
        when(col("h") < "cccccccc", "train")
          .when(col("h") < "e6666666", "val")
          .otherwise("test"))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))

  /** q52: stratified downsample of the event stream — rare/valuable
    * strata kept whole, bulk strata thinned, all deterministic:
    * purchase 100%, error 50%, click 20%, signup 10%, other 5%.
    * ("g" sorts after every hex digest → keep-all.)
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val thr = when(col("event_type") === "purchase", lit("g"))
      .when(col("event_type") === "error", lit("80000000"))
      .when(col("event_type") === "click", lit("33333333"))
      .when(col("event_type") === "signup", lit("19999999"))
      .otherwise(lit("0ccccccc"))
    Tables.events(s, dir)
      .filter(saltedHash(col("event_id"), "q52") < thr)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
      .orderBy(col("event_id"))
  }

  /** d12: per-domain document cap — the web-crawl curation rule
    * (C4/RefinedWeb keep at most N pages per host so no single
    * domain dominates the training mix). Priority within a domain is
    * the salted content hash (d07's discipline), so the kept set is
    * reproducible across runs and engines and uncorrelated with
    * crawl order; `rk` is the domain-local priority rank and
    * `n_source` the domain's pre-cap size, so the caller can report
    * how hard each domain was trimmed.
    *
    * Scale shape: ONE hash exchange on `source`; the rank window and
    * the per-domain count share it. Domains process independently. A
    * monster domain (the 100 TB hazard: one host with 10⁹ pages) is
    * one wide window group — the bounded-shuffle alternative is
    * q40's heap TopKAggregate (map-side partials carry ≤cap rows per
    * domain per task), the right trade once cap ≪ domain size; at
    * the graded cap the window form is clearer and plans the same
    * single exchange.
    */
  def domainCap(s: SparkSession, dir: String, cap: Int = 10): DataFrame = {
    val bySrc = Window.partitionBy(col("source"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        saltedHash(col("doc_id"), "d12").as("pri"))
      .withColumn("rk",
        row_number().over(bySrc.orderBy(col("pri"), col("doc_id"))))
      .withColumn("n_source", count(lit(1)).over(bySrc))
      .filter(col("rk") <= cap)
      .select(col("source"), col("doc_id"), col("rk"), col("n_source"))
      .orderBy(col("source"), col("rk"))
  }

  /** d16: temperature-rebalanced MIXTURE sampling — the data-mixing
    * sibling of d07 (split) / d09 (reweight) / d12 (cap) / d13 (pack):
    * draw a corpus of ~`num/den` of the total where each source's
    * share is ∝ n_s^(1/2) — the exponentiated-smoothing rule
    * (p_s^(1/T), T = 2) multilingual pretraining uses so a dominant
    * source stops drowning the tail (XLM, Conneau & Lample 2019; the
    * same α-smoothing as mBERT's sampler). A 4:1 source-size ratio
    * becomes a 2:1 sample ratio.
    *
    * Exactness: EVERY step is integer arithmetic — the target size is
    * the rational (total·num) div den (no float fraction), weights are
    * exact integer sqrt (double `sqrt` floor, then ±1 correction —
    * bit-identical across engines), per-source quotas are floor
    * divisions capped at n_s, and within-source selection is the d12
    * salted-hash priority (reproducible, crawl-order-independent).
    * Σ quota ≤ target by ≤ #sources (standard floor allocation;
    * largest-remainder seat-filling deliberately omitted — stability
    * of membership under re-runs matters more than hitting the target
    * exactly).
    *
    * Scale shape: ONE source exchange for the priority-rank window
    * (shared with the per-source count — d12's plan); the per-source
    * stat/quota table is sources-sized and broadcast back; the 1-row
    * total rides the same broadcast. Nothing global, nothing driver-
    * side.
    */
  def mixtureSample(s: SparkSession, dir: String, num: Long = 2,
      den: Long = 5): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    // exact integer sqrt: float floor, then correct the ±1 ulp cases
    val s0 = floor(sqrt(col("n").cast("double"))).cast("long")
    val w = when(s0 * s0 > col("n"), s0 - 1)
      .when((s0 + 1) * (s0 + 1) <= col("n"), s0 + 1)
      .otherwise(s0)
    mixtureSample(docs, counts.select(col("source"), w.as("w")), num, den)
  }

  /** d16 core, parameterized over an EXTERNAL weights table — the real
    * API shape (d08/d09/d15's two-DataFrame posture): a production mix
    * is rarely a fixed formula; DoReMi-style optimized weights or a
    * hand-tuned recipe arrive as their own (source, w) table. Sources
    * missing from `weights` draw nothing; integer weights keep every
    * quota exact. The default entry derives w = isqrt(n_s) and
    * delegates here.
    */
  def mixtureSample(docs: DataFrame, weights: DataFrame, num: Long,
      den: Long): DataFrame = {
    require(num >= 0 && den > 0, s"bad fraction $num/$den")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    // sources-sized; checkpointed so its two consumers (tot, quotas)
    // don't each replay the count groupBy (the q55-meds recompute)
    val weighted = counts.join(weights, Seq("source")).localCheckpoint()
    val tot = weighted.agg(sum(col("n")).as("total"), sum(col("w")).as("sw"))
    val quotas = weighted.crossJoin(broadcast(tot))
      .withColumn("target", expr(s"(total * $num) div $den"))
      .withColumn("quota",
        least(col("n"), expr("(target * w) div sw")))
      .select(col("source"), col("n").as("n_source"), col("quota"))
    val bySrc = Window.partitionBy(col("source"))
    docs
      .select(col("doc_id"), col("source"),
        saltedHash(col("doc_id"), "d16").as("pri"))
      .withColumn("rk",
        row_number().over(bySrc.orderBy(col("pri"), col("doc_id"))))
      .join(broadcast(quotas), Seq("source"))
      .filter(col("rk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rk").cast("int").as("rk"),
        col("n_source"), col("quota"))
      .orderBy(col("source"), col("rk"))
  }

  /** Exact k-th smallest (1-indexed) value of a LONG column, computed
    * DISTRIBUTED: 4 radix passes over the sign-flipped bit pattern
    * (x ⊕ Long.MinValue maps signed order onto unsigned bit order),
    * each pass a 2¹⁶-bucket count histogram — a map-side-combined
    * groupBy whose collect is ≤ 65536 rows — narrowing 16 bits of the
    * answer per pass. No global sort, no single-partition exchange,
    * driver traffic is O(65536·4) longs regardless of row count: the
    * scale-safe order statistic for selecting top-k thresholds.
    */
  /** Weighted prefix boundary over a LONG key — the token-budget
    * generalization of `kthSmallestLong`: walk the 16-bit radix
    * histograms of the key's order-preserving unsigned image summing
    * the WEIGHT column in ascending-key order, and return the exact
    * key value whose cumulative weight first EXCEEDS `budget`,
    * together with the budget remaining on entering that key's group
    * (None when everything fits). ≤4 weight-histogram groupBys over a
    * shrinking subset, each collect ≤65536 rows — never a global
    * sort, never a single-partition window.
    */
  private def prefixBoundaryLong(df: DataFrame, c: String, w: String,
      budget: Long): Option[(Long, Long)] = {
    require(budget >= 0, "budget must be non-negative")
    val ub = col(c).bitwiseXOR(lit(Long.MinValue))
    var cur = df
    var rem = budget
    var prefix = 0L
    var p = 0
    while (p < 4) {
      val bucket = shiftrightunsigned(ub, 48 - 16 * p).bitwiseAND(lit(65535L))
      val hist = cur.groupBy(bucket.as("b")).agg(sum(col(w)).as("sw"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      var acc = 0L
      var chosen = -1L
      hist.foreach { case (bv, sw) =>
        if (chosen < 0) {
          if (acc + sw > rem) { chosen = bv; rem -= acc }
          else acc += sw
        }
      }
      if (chosen < 0) return None // the whole (sub)set fits the budget
      cur = cur.filter(bucket === lit(chosen))
      prefix = (prefix << 16) | chosen
      p += 1
    }
    Some((prefix ^ Long.MinValue, rem))
  }

  /** d18: TOKEN-BUDGET selection — "give me the best `budget` tokens
    * of this corpus": rank documents by t02's composite quality
    * (ties broken by doc_id) and keep the maximal prefix whose
    * cumulative t03 token count stays within the budget — the
    * data-mixing step every training run actually ends with (a 2T
    * token budget, not a document count; the greedy quality-prefix
    * rule is the standard practical answer, cf. the quality-filter +
    * budget pipelines of GPT-3/Gopher/LLaMA data work).
    *
    * Semantics (oracle-replayable): select docs where the running
    * token sum over (quality desc, doc_id asc) is ≤ budget — the
    * first overflowing document stops the prefix (no skip-ahead
    * knapsack; deterministic and engine-exact since quality is a
    * 1e-6 integer and token counts are exact ints).
    *
    * Scale shape: the d09 lesson applied to a WEIGHTED rank — a
    * cumulative-sum window over (quality desc, doc_id) would funnel
    * one row per document through a single partition, the exact
    * scale-killer d09 removed. Instead `prefixBoundaryLong` radix-
    * selects the boundary QUALITY (≤4 token-weighted histogram
    * passes, 65536-row collects), then the boundary DOC inside the
    * one boundary-quality group (same machinery keyed on doc_id),
    * and the selection is a scan-speed filter
    * `q > t || (q = t && doc_id < d)` over the checkpointed
    * 3-longs-per-doc feature table. One corpus scan total.
    */
  def d18TokenBudget(s: SparkSession, dir: String,
      budget: Long = 20000L): DataFrame = {
    val feats = Tables.documents(s, dir)
      .select(col("doc_id"),
        floor(graft.text.TextFns.qualityCol(col("text")) *
          lit(1000000.0) + lit(0.5)).cast("long").as("q6"),
        graft.text.TextFns.reTokensCol(col("text")).cast("long")
          .as("n_tok"))
      .withColumn("nq", -col("q6")) // ascending nq = descending quality
      .localCheckpoint()
    // count is ~free on the checkpointed blocks and buys the local
    // tier decision (LocalSelectMaxRows — see kthSmallestLong's doc)
    val nFeats = feats.count()
    val sel =
      if (nFeats <= LocalSelectMaxRows) {
        // local tier: walk the EXACT prefix order (nq asc = quality
        // desc, doc_id asc) once on the driver; the first overflowing
        // document is the boundary — identical selection to the
        // two-stage radix boundary below (same "no skip-ahead" rule)
        import s.implicits._
        val rows = feats.select(col("nq"), col("doc_id"), col("n_tok"))
          .as[(Long, Long, Long)].collect()
          .sortBy { case (nq, d, _) => (nq, d) }
        var acc = 0L
        var cut: Option[(Long, Long)] = None
        var i = 0
        while (cut.isEmpty && i < rows.length) {
          val (nq, d, w) = rows(i)
          if (acc + w > budget) cut = Some((nq, d)) else acc += w
          i += 1
        }
        cut match {
          case None => feats
          case Some((v, d)) =>
            feats.filter(col("nq") < v ||
              (col("nq") === v && col("doc_id") < d))
        }
      } else prefixBoundaryLong(feats, "nq", "n_tok", budget) match {
        case None => feats
        case Some((v, rem)) =>
          val grp = feats.filter(col("nq") === v)
          val inGrp = prefixBoundaryLong(grp, "doc_id", "n_tok", rem) match {
            case None => grp
            case Some((d, _)) => grp.filter(col("doc_id") < d)
          }
          feats.filter(col("nq") < v).unionByName(inGrp)
      }
    sel
      .select(col("doc_id"), (col("q6") / lit(1000000.0)).as("quality"),
        col("n_tok"))
      .orderBy(col("doc_id"))
  }

  /** p10: the QUALITY-MIX report — the curation diagnostic read
    * BEFORE choosing d16 mixture weights or a d18 budget: per
    * (source, t02 quality level) the doc and token volumes with the
    * exact within-source and corpus token shares. t02's composite is
    * a 16-level discrete score, so the levels ARE the bands (no
    * quantile machinery needed) and the report is exact integers +
    * two floor-division shares.
    *
    * Scale shape: one corpus scan → 3-longs-per-doc features; ONE
    * map-side-combined (source, level) groupBy; the share
    * denominators are a sources-sized broadcast join + a 1-row total
    * (d16's posture).
    */
  def p10QualityMix(s: SparkSession, dir: String): DataFrame = {
    val feats = Tables.documents(s, dir)
      .select(col("source"),
        floor(graft.text.TextFns.qualityCol(col("text")) *
          lit(1000000.0) + lit(0.5)).cast("long").as("q6"),
        graft.text.TextFns.reTokensCol(col("text")).cast("long")
          .as("n_tok"))
    val cells = feats.groupBy(col("source"), col("q6"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .localCheckpoint()
    val perSource = cells.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
    val total = cells.agg(sum(col("n_tokens")).as("all_tokens"))
    cells
      .join(broadcast(perSource), Seq("source"))
      .crossJoin(broadcast(total))
      .select(col("source"), (col("q6") / lit(1000000.0)).as("quality"),
        col("n_docs"), col("n_tokens"),
        when(col("src_tokens") > 0,
          expr("n_tokens * 1000000L div src_tokens")).as("src_share6"),
        when(col("all_tokens") > 0,
          expr("n_tokens * 1000000L div all_tokens")).as("corpus_share6"))
      .orderBy(col("source"), col("quality"))
  }

  /** Adaptive local-selection tier for the radix threshold machinery
    * (componentsFrom's ≤1M-edge decision shape): when the per-document
    * table is driver-small, the ≤4-pass histogram chain is pure
    * job-scheduling overhead (2-6 collect jobs of 65536-row
    * histograms), so collect the 2-3 longs per row ONCE and scan on
    * the driver — identical thresholds, identical selections. The
    * radix path stays the at-scale branch (billions of docs at
    * 100 TB take it).
    */
  private val LocalSelectMaxRows = 1L << 20

  /** The local tier's selection boundary: the k-th of the
    * `(w_e9, doc_id)` rows under the published rank rule (w_e9 desc,
    * doc_id asc). doc_id is unique, so the boundary pair decides ties
    * exactly like the radix tier's doc_id cut. The descending order is
    * a reversed comparator, not a negated key: `-Long.MinValue` wraps
    * to itself and would rank the lowest weight first.
    */
  private[graft] def localBoundary(rows: Array[(Long, Long)],
      k: Int): (Long, Long) =
    rows.sorted(Ordering.Tuple2(Ordering.Long.reverse, Ordering.Long))(k - 1)

  private def kthSmallestLong(df: DataFrame, c: String, k: Long): Long = {
    require(k >= 1, s"k must be >= 1, got $k")
    val ub = col(c).bitwiseXOR(lit(Long.MinValue))
    var cur = df
    var rem = k
    var prefix = 0L
    var p = 0
    while (p < 4) {
      val bucket = shiftrightunsigned(ub, 48 - 16 * p).bitwiseAND(lit(65535L))
      val hist = cur.groupBy(bucket.as("b")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      var acc = 0L
      var chosen = -1L
      var nChosen = 0L
      hist.foreach { case (bv, n) =>
        if (chosen < 0) {
          if (acc + n >= rem) { chosen = bv; nChosen = n; rem -= acc }
          else acc += n
        }
      }
      require(chosen >= 0, s"k=$k exceeds the row count of $c")
      cur = cur.filter(bucket === lit(chosen))
      // bucket degenerate cases end the search early (the common exit:
      // real histograms go sparse after one or two passes)
      if (rem == 1) return cur.agg(min(col(c))).head().getLong(0)
      if (rem == nChosen) return cur.agg(max(col(c))).head().getLong(0)
      prefix = (prefix << 16) | chosen
      p += 1
    }
    prefix ^ Long.MinValue
  }

  /** d09: DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling") — score
    * every training document by how much its unigram distribution
    * looks like a TARGET domain vs the raw corpus, keep the top
    * fraction. The graded entry's target is the deterministic
    * doc_id % 20 == 0 slice (d08's reproducible-slice trick);
    * production calls the two-DataFrame overload with a curated
    * high-quality target corpus.
    */
  def importanceSample(s: SparkSession, dir: String,
      frac: Double = 0.1): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isTarget = col("doc_id") % 20 === 0
    importanceSample(docs.filter(!isTarget), docs.filter(isTarget), frac)
  }

  /** d09 core, parameterized over a SEPARATE target corpus — the real
    * API shape: `raw` is the training corpus to score, `target` the
    * curated domain sample (both need `doc_id`, `text`). Overlapping
    * doc_ids between the two tables are fine (counts are keyed by
    * side).
    *
    * weight(d) = Σ_{token w ∈ d} ln p̂_t(w)/p̂_r(w), with add-1
    * smoothed counts over the shared vocabulary. Cross-engine exact:
    * the ratio is a single double division of two exact integer
    * products (computed in DECIMAL(38,0) so corpus-scale magnitudes
    * like ct ~ 1e9 × nr ~ 1e13 cannot wrap a long), each ln() term is
    * quantized to a 1e-9 fixed-point long (t05/t06's discipline), and
    * per-doc sums are exact long sums of (count × term) products.
    *
    * Scale shape: ONE corpus scan → per-(side, doc, word) counts
    * (localCheckpoint: vocabulary stats and scoring both consume it);
    * vocabulary stats are a word-dictionary groupBy (Zipf-compact);
    * per-word scores join back to the tf table (AQE broadcasts the
    * dictionary when it fits); per-doc weights are ONE map-side-
    * combined groupBy. Top-frac selection needs only the k-th largest
    * weight THRESHOLD, not a rank per row: `kthSmallestLong` radix
    * passes find the weight cut (and, among weight ties, the doc_id
    * cut) with ≤65536-row histogram collects, then selection is a
    * scan-speed filter — no global window, no single-task sort,
    * identical output to the rank rule (w_e9 desc, doc_id asc)
    * including tie-breaks.
    */
  def importanceSample(raw: DataFrame, target: DataFrame,
      frac: Double): DataFrame = {
    def toks(d: DataFrame, flag: Boolean) = d
      .select(col("doc_id"), lit(flag).as("is_target"),
        explode(regexp_extract_all(graft.dedup.Dedup.normText(col("text")),
          lit("[a-z0-9]+"), lit(0))).as("w"))
    val tf = toks(raw, flag = false).unionByName(toks(target, flag = true))
      .groupBy(col("is_target"), col("doc_id"), col("w"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val vocab = tf.groupBy(col("w")).agg(
      sum(when(col("is_target"), col("n")).otherwise(lit(0L))).as("ct"),
      sum(when(!col("is_target"), col("n")).otherwise(lit(0L))).as("cr"))
    val tot = vocab.select(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"),
      count(lit(1)).as("v"))
    // s_e9(w) = ⌊ln(((ct+1)(nr+V)) / ((cr+1)(nt+V))) · 1e9 + ½⌋ —
    // products exact in DECIMAL(38,0) (≤ ~1e27 at 100 TB magnitudes,
    // where a long product would wrap), ONE double division, ONE ln
    def dprod(a: Column, b: Column): Column =
      (a.cast("decimal(19,0)") * b.cast("decimal(19,0)")).cast("double")
    val scored = vocab.crossJoin(broadcast(tot))
      .select(col("w"),
        floor(log(dprod(col("ct") + 1, col("nr") + col("v")) /
            dprod(col("cr") + 1, col("nt") + col("v"))) *
          lit(1e9) + lit(0.5)).cast("long").as("s_e9"))
    val dw = tf.filter(!col("is_target"))
      .join(scored, "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tok"),
        sum(col("n") * col("s_e9")).as("w_e9"))
    // every train doc gets a weight (token-free docs score 0); one row
    // per document — checkpointed once, every threshold pass reads it
    val all = raw.select(col("doc_id"))
      .join(dw, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("w_e9"), lit(0L)).as("w_e9"))
      .localCheckpoint()
    val n = all.count()
    val k = math.floor(n * frac).toLong
    val selCond: Column =
      if (k <= 0) lit(false)
      else if (k >= n) lit(true)
      else if (n <= LocalSelectMaxRows) {
        // local tier: one collect replaces the 3-6 histogram/count
        // jobs below, same rows selected
        import raw.sparkSession.implicits._
        val (wk, dk) = localBoundary(
          all.select(col("w_e9"), col("doc_id")).as[(Long, Long)].collect(),
          k.toInt)
        col("w_e9") > wk || (col("w_e9") === wk && col("doc_id") <= dk)
      } else {
        // k-th LARGEST weight = (n-k+1)-th smallest; rows strictly
        // above the cut are in, ties resolved by the doc_id cut
        val t = kthSmallestLong(all, "w_e9", n - k + 1)
        val cnts = all.agg(
          sum(when(col("w_e9") > t, 1L).otherwise(0L)),
          sum(when(col("w_e9") === t, 1L).otherwise(0L))).head()
        val (cGt, cEq) = (cnts.getLong(0), cnts.getLong(1))
        val r = k - cGt // 1 <= r <= |ties| by choice of t
        if (r >= cEq) col("w_e9") >= t
        else {
          val dThr =
            kthSmallestLong(all.filter(col("w_e9") === t), "doc_id", r)
          col("w_e9") > t || (col("w_e9") === t && col("doc_id") <= dThr)
        }
      }
    all.select(col("doc_id"), col("n_tok"),
        (col("w_e9").cast("double") / lit(1e9)).as("weight"),
        when(selCond, 1).otherwise(0).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** d13: sequence packing — assign every document its place in the
    * fixed-length training sequences a dataloader would cut from the
    * shard-concatenated token stream (the standard GPT-style
    * concat-and-chunk: docs are laid end-to-end per shard in doc_id
    * order, the stream is sliced into `seqLen`-token sequences, and a
    * document may span several).
    *
    * Scale shape: ONE hash exchange on the shard key, then a
    * per-shard sorted window computes the running token offset —
    * packing is embarrassingly parallel ACROSS shards, which is how
    * real pipelines bound the sort: at 100 TB you run ~1e5 shards so
    * each shard's cumulative sum is one executor-sized task (the
    * default 8 here just matches the test corpus). Token counts are
    * t03's regex tokens (codegen'd, row-local); shard assignment is
    * `doc_id % nShards` so the oracle replays it exactly.
    */
  def sequencePack(s: SparkSession, dir: String,
      nShards: Int = 8, seqLen: Int = 512): DataFrame =
    packOffsets(
      Tables.documents(s, dir).select(col("doc_id"),
        graft.text.TextFns.reTokensCol(col("text")).as("n_tok")),
      nShards, seqLen)
      .select(col("doc_id"), col("shard"), col("n_tok"),
        col("start_off"), col("first_seq"), col("last_seq"),
        (col("last_seq") - col("first_seq") + 1).as("n_seqs"))
      .orderBy(col("doc_id"))

  /** The concat-and-chunk offset machinery over ANY
    * (doc_id, n_tok, …) frame — the ONE copy of the packing rule,
    * shared by d13 and the p02 pipeline: shard = doc_id % nShards,
    * per-shard running token offset, floor-div chunk bounds. Keeps
    * every input column; adds shard/cum/start_off/first_seq/last_seq.
    */
  private[graft] def packOffsets(docs: DataFrame, nShards: Int,
      seqLen: Int): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val start = col("cum") - col("n_tok")
    // empty doc (n_tok = 0): occupies no tokens — both seq bounds
    // collapse to the start offset's chunk via the greatest() guard
    val lastTok = greatest(col("cum") - 1, start)
    def chunk(c: Column): Column = floor(c / lit(seqLen))
    docs
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("start_off", start)
      .withColumn("first_seq", chunk(start))
      .withColumn("last_seq", chunk(lastTok))
  }
}
