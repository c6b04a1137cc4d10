package graft.operators

import graft.FixedPoint.usOf
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequential change detectors over the ticker series — the two
  * classic control-chart companions to the reference's threshold
  * z-score (anomaly_proj_query.sql:108-150): CUSUM for persistent
  * mean shifts the per-point z-score misses, and an EWMA control band
  * for drift. Both are pure window chains over the same
  * (user_id, event_type) ticker key as TickerAnomaly, so Catalyst
  * plans ONE hash exchange per query; no UDFs, no driver loops.
  *
  * Cross-engine determinism: the recursive CUSUM state is re-expressed
  * as a closed form over running sums of FIXED-POINT longs (exact in
  * any accumulation order), and the EWMA is a truncated finite kernel
  * whose weights are embedded as identical double literals in both the
  * Spark plan and the DuckDB oracle.
  *
  * Parameter/oracle contract: knobs like `minObs`/`minPerDay` are real
  * library parameters, but each paired DuckDB oracle hardcodes the
  * DEFAULT values — the driver-verified hash parity therefore covers
  * exactly the registry's default invocation. Non-default calls are
  * just as deterministic (all arithmetic is the same fixed-point
  * chain), they are simply not oracle-checked.
  */
object SignalOps {

  private val keyCols = Seq(col("user_id"), col("event_type"))
  private def wAsc =
    Window.partitionBy(keyCols: _*).orderBy(col("ts"), col("event_id"))
  private def wRun = wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
  private def wKey = Window.partitionBy(keyCols: _*)

  /** q19: CUSUM change-point detection (Page 1954). The textbook
    * recursion S+_t = max(0, S+_{t-1} + z_t - k) cannot be windowed
    * directly, but has the closed form
    * S+_t = R_t - min(0, min_{j<=t} R_j) with R_t = sum_{i<=t}(z_i - k)
    * — two running windows over the SAME sort, no recursion. z is
    * quantized to 1e-6 fixed-point longs first so both engines
    * accumulate exactly (integer sums are order-independent; the
    * reference-style rounded mean/stddev feed the z).
    *
    * Slack k = 0.5 sigma, decision threshold h = 5 sigma — the
    * standard (k, h) for detecting ~1-sigma mean shifts.
    */
  def q19Cusum(s: SparkSession, dir: String): DataFrame = {
    val k = 500000L // 0.5 sigma in 1e6 fixed point
    val h = 5000000L // 5 sigma
    // z from EXACT integer sums — double avg/stddev accumulate in
    // engine-specific orders, so the standardization is done on 1e-4
    // fixed-point longs: with a = n*v - S1 and c = n*S2 - S1^2 (both
    // exact), z = a / sqrt(c * n / (n - 1)); the only doubles are the
    // final correctly-rounded decimal->double conversions.
    val df = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("s1", sum(col("v4l")).over(wKey))
      .withColumn("s2",
        sum((col("v4l").cast("decimal(19,0)") *
          col("v4l").cast("decimal(19,0)")).cast("decimal(38,0)")).over(wKey))
      .withColumn("a", col("n") * col("v4l") - col("s1"))
      .withColumn("c",
        (col("n").cast("decimal(38,0)") * col("s2") -
          col("s1").cast("decimal(19,0)") * col("s1").cast("decimal(19,0)"))
          .cast("decimal(38,0)"))
      .withColumn("zf",
        when(col("n") > 1 && col("c") > 0,
          floor(col("a").cast("double") /
            sqrt(col("c").cast("double") * col("n") / (col("n") - 1)) *
            lit(1000000.0) + lit(0.5)).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("value", col("v4l") / lit(10000.0))
      .withColumn("r_pos", sum(col("zf") - lit(k)).over(wRun))
      .withColumn("r_neg", sum(-col("zf") - lit(k)).over(wRun))
      .withColumn("s_pos", col("r_pos") - least(lit(0L), min(col("r_pos")).over(wRun)))
      .withColumn("s_neg", col("r_neg") - least(lit(0L), min(col("r_neg")).over(wRun)))
    df.select(
      col("user_id"), col("event_type"), col("event_id"),
      col("ts").as("date_recorded"), col("value"),
      (col("zf") / lit(1000000.0)).as("zscore6"),
      (col("s_pos") / lit(1000000.0)).as("cusum_pos"),
      (col("s_neg") / lit(1000000.0)).as("cusum_neg"),
      when(col("s_pos") > h || col("s_neg") > h, 1).otherwise(0)
        .as("changepoint_flag"))
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }

  /** EWMA kernel truncated at `taps` lags; alpha's normalizer cancels,
    * leaving weights (1-alpha)^j. Computed once here and embedded as
    * the SAME double literals in the Spark plan and the oracle SQL
    * (Double round-trips exactly through its shortest decimal form).
    */
  private[operators] val Alpha = 0.3
  private[operators] val Taps = 10
  private[operators] val Weights: Seq[Double] =
    (0 until Taps).map(j => math.pow(1.0 - Alpha, j))

  /** q49: EWMA control band (Roberts 1959, truncated kernel). The
    * geometric recursion is unrolled to `Taps` explicit lag terms —
    * at (1-a)^10 ≈ 0.028 the truncation error is < 3% of the oldest
    * weight, and the finite kernel windows in one pass where the
    * recursion would need an iterative job. Head-of-series rows
    * renormalize over the lags that exist (null-aware weight sum).
    * Flag when the residual exceeds 3x the per-ticker residual stddev.
    */
  def q49Ewma(s: SparkSession, dir: String): DataFrame = {
    // §8 fixed-point discipline (q19/q53 pattern): quantize the input
    // to 1e-4 longs — round(value, 4) has engine-specific semantics
    // (Spark HALF_UP on the shortest decimal repr vs DuckDB's scaled
    // double), while floor(x·1e4 + 0.5) is one deterministic double
    // expression on both
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"),
        (floor(col("value") * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("value"))
    // left-assoc chains of + keep double addition order identical to
    // the oracle's (t0 + t1 + ...) parse
    val lags = Weights.zipWithIndex.map { case (w, j) =>
      (lag(col("value"), j).over(wAsc), lit(w))
    }
    val num = lags.map { case (lv, w) =>
      when(lv.isNotNull, w * lv).otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    val den = lags.map { case (lv, w) =>
      when(lv.isNotNull, w).otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    // residual stddev from EXACT integer moments of the 1e-6 resid
    // longs (q19's standardization pattern) — stddev_samp over doubles
    // accumulates in engine- and partition-order-dependent sequence
    val df = base
      .withColumn("ewma6",
        floor(num / den * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
      .withColumn("resid6l",
        floor((col("value") - col("ewma6")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .withColumn("resid6", col("resid6l") / lit(1000000.0))
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("rs1", sum(col("resid6l")).over(wKey))
      .withColumn("rs2",
        sum((col("resid6l").cast("decimal(19,0)") *
          col("resid6l").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .over(wKey))
      .withColumn("rc",
        (col("n").cast("decimal(38,0)") * col("rs2") -
          col("rs1").cast("decimal(19,0)") * col("rs1").cast("decimal(19,0)"))
          .cast("decimal(38,0)"))
      .withColumn("resid_sd4",
        when(col("n") > 1,
          // sd in value units = sqrt(rc / (n(n-1))) · 1e-6; quantized
          // to 4 dp that is floor(sqrt(·)/100 + 0.5)/1e4. rc ≥ 0 by
          // Cauchy–Schwarz on exact integers; greatest() guards the
          // all-equal case against any representational surprise.
          floor(sqrt(greatest(col("rc"), lit(0)).cast("double") /
            (col("n") * (col("n") - 1))) / lit(100.0) + lit(0.5)) /
            lit(10000.0))
          .otherwise(lit(null).cast("double")))
    df.select(
      col("user_id"), col("event_type"), col("event_id"),
      col("ts").as("date_recorded"), col("value"),
      col("ewma6"), col("resid6"), col("resid_sd4"),
      when(col("resid_sd4") =!= 0 &&
        abs(col("resid6")) > lit(3.0) * col("resid_sd4"), 1).otherwise(0)
        .as("ewma_flag"))
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }
  /** q54: Holt forecast anomaly — double exponential smoothing (Holt
    * 1957, level + trend) with the one-step forecast error as the
    * anomaly statistic: the forecast-based companion to the family
    * (q19 catches persistent shifts, q49 drift, q53 spikes; q54
    * catches points that break the EXTRAPOLATED local trend, which a
    * trailing mean misses on sloping series).
    *
    *   forecast_t = l_{t−1} + b_{t−1}
    *   l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *
    * The recursion is NOT windowable (each state feeds the next), so
    * it runs per key in one `flatMapGroups` pass — the q14 ESD shape:
    * ONE groupByKey exchange, O(per-key history) in the handler, keys
    * process independently at any corpus width.
    *
    * Cross-engine determinism: α = 1/2 and β = 1/4 are DYADIC, and
    * every smoothing step floors back to a 1e-4 fixed-point long —
    * l' = ⌊(y + l + b)/2⌋, b' = ⌊(l' − l + 3b)/4⌋ — so the state
    * recursion is exact integer arithmetic a DuckDB recursive CTE
    * replays bit-for-bit. Residuals are standardized with q19's
    * whole-series exact-moment z (one double conversion at the end).
    */
  def q54Holt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .as[(Long, String, Long, java.sql.Timestamp, Long)]
    rows
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, String),
          it: Iterator[(Long, String, Long, java.sql.Timestamp, Long)]) =>
        val evs = it.toVector.sortBy(r => (usOf(r._4), r._3))
        // pass 1: the exact fixed-point recursion → per-row forecast
        // error (None for the first row, which has no forecast)
        var l = 0L
        var b = 0L
        val resid = evs.zipWithIndex.map { case (r, i) =>
          if (i == 0) { l = r._5; b = 0L; None }
          else {
            val pred = l + b
            val e = r._5 - pred
            val l2 = math.floor((r._5 + l + b) / 2.0).toLong
            b = math.floor((l2 - l + 3.0 * b) / 4.0).toLong
            l = l2
            Some((pred, e))
          }
        }
        // pass 2: q19's whole-series exact moments over the errors
        val es = resid.flatten.map(_._2)
        val n = es.size.toLong
        val s1 = es.sum
        val s2 = es.foldLeft(BigInt(0))((acc, e) => acc + BigInt(e) * BigInt(e))
        val c = BigInt(n) * s2 - BigInt(s1) * BigInt(s1)
        evs.zip(resid).map { case (r, pr) =>
          val (z6, flag) = pr match {
            case Some((_, e)) if n > 1 && c > 0 =>
              // BigInt like c: plain Long wraps silently at extreme
              // magnitudes where the BIGINT oracle raises instead
              val a = (BigInt(n) * BigInt(e) - BigInt(s1)).toDouble
              val z = math.floor(a / math.sqrt(c.toDouble * n / (n - 1)) *
                1000000.0 + 0.5).toLong
              (Some(z / 1000000.0), if (math.abs(z) >= 3000000L) 1 else 0)
            case Some(_) => (Some(0.0), 0)
            case None    => (None, 0)
          }
          (r._1, r._2, r._3, r._4, r._5 / 10000.0,
            pr.map(_._1 / 10000.0), pr.map(_._2 / 10000.0), z6, flag)
        }
      }
      .toDF("user_id", "event_type", "event_id", "date_recorded", "value",
        "forecast", "resid", "holt_z6", "holt_flag")
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }

  /** q67: HOLT-WINTERS triple exponential smoothing (Winters 1960) —
    * the SEASONAL member of the forecast family: q54's Holt tracks
    * level + trend, so a weekly-periodic feed leaves a periodic
    * residual that inflates the error variance and hides true
    * anomalies; Holt-Winters carries an additive per-phase seasonal
    * component (period 7, Decompose's `seq % 7` phase convention)
    * and forecasts ŷ = l + b + s_phase.
    *
    * DYADIC gains keep the recursion exact in fixed point (q54's
    * discipline): α = ½, β = ¼, γ = ¼ —
    *   l' = ⌊(y − s + l + b)/2⌋,  b' = ⌊(l' − l + 3b)/4⌋,
    *   s' = ⌊(y − l' + 3s)/4⌋
    * Warm-up: the first occurrence of each phase has no seasonal yet —
    * the level updates by q54's non-seasonal form, the phase is seeded
    * s = y − l', and NO forecast is emitted (pred needs s_{t−m}).
    * Errors are standardized with q54's whole-series exact-moment z.
    *
    * Scale shape: q14/q54's ONE groupByKey exchange; O(1) recursion
    * state (two longs + a 7-long ring) per key, replayed bit-for-bit
    * by a recursive CTE carrying the seasonal ring as a LIST column.
    */
  def q67HoltWinters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .as[(Long, String, Long, java.sql.Timestamp, Long)]
    rows
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, String),
          it: Iterator[(Long, String, Long, java.sql.Timestamp, Long)]) =>
        val evs = it.toVector.sortBy(r => (usOf(r._4), r._3))
        var l = 0L
        var b = 0L
        val season = new Array[Long](7)
        val seen = new Array[Boolean](7)
        // pass 1: (pred, e, seasonal-used) per row; None while warming
        val resid = evs.zipWithIndex.map { case (r, i) =>
          val ph = i % 7
          if (i == 0) {
            l = r._5; b = 0L
            season(ph) = 0L; seen(ph) = true // s = y − l' = 0
            None
          } else if (!seen(ph)) {
            val l2 = math.floor((r._5 + l + b) / 2.0).toLong
            b = math.floor((l2 - l + 3.0 * b) / 4.0).toLong
            season(ph) = r._5 - l2; seen(ph) = true
            l = l2
            None
          } else {
            val sp = season(ph)
            val pred = l + b + sp
            val e = r._5 - pred
            val l2 = math.floor((r._5 - sp + l + b) / 2.0).toLong
            b = math.floor((l2 - l + 3.0 * b) / 4.0).toLong
            season(ph) = math.floor((r._5 - l2 + 3.0 * sp) / 4.0).toLong
            l = l2
            Some((pred, e, sp))
          }
        }
        // pass 2: q54's whole-series exact moments over the errors
        val es = resid.flatten.map(_._2)
        val n = es.size.toLong
        val s1 = es.sum
        val s2 = es.foldLeft(BigInt(0))((acc, e) => acc + BigInt(e) * BigInt(e))
        val c = BigInt(n) * s2 - BigInt(s1) * BigInt(s1)
        evs.zip(resid).map { case (r, pr) =>
          val (z6, flag) = pr match {
            case Some((_, e, _)) if n > 1 && c > 0 =>
              val a = (BigInt(n) * BigInt(e) - BigInt(s1)).toDouble
              val z = math.floor(a / math.sqrt(c.toDouble * n / (n - 1)) *
                1000000.0 + 0.5).toLong
              (Some(z / 1000000.0), if (math.abs(z) >= 3000000L) 1 else 0)
            case Some(_) => (Some(0.0), 0)
            case None    => (None, 0)
          }
          (r._1, r._2, r._3, r._4, r._5 / 10000.0,
            pr.map(_._1 / 10000.0), pr.map(_._2 / 10000.0),
            pr.map(_._3 / 10000.0), z6, flag)
        }
      }
      .toDF("user_id", "event_type", "event_id", "date_recorded", "value",
        "forecast", "resid", "season", "hw_z6", "hw_flag")
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }

  /** q53: Hampel filter — rolling median ± k·MAD spike detection, the
    * robust companion to q06's mean/stddev z-score (median and MAD
    * don't move when the spike itself enters the window, so a gross
    * outlier can't mask itself). Window ±3, k = 3, the 1.4826
    * Gaussian-consistency constant.
    *
    * One collect_list window over the SAME ticker-key exchange as the
    * rest of the family; medians are computed exactly on the sorted
    * 1e-4-scaled integers (odd count → element, even → midpoint, both
    * exact in doubles), so the only inexact step is the final k·1.4826
    * ·MAD threshold product — one deterministic double expression on
    * both engines.
    */
  def q53Hampel(s: SparkSession, dir: String, hw: Int = 3,
      k: Double = 3.0): DataFrame = {
    val wArr = wAsc.rowsBetween(-hw, hw)
    def medOfSorted(sorted: Column): Column = {
      val n = size(sorted) // Spark int division is double; truncate back
      val lo = ((n + 1) / 2).cast("int")
      val hi = (n / 2).cast("int") + 1
      (element_at(sorted, lo) + element_at(sorted, hi)) / 2.0
    }
    val df = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("arr", collect_list(col("v4l")).over(wArr))
      .withColumn("med", medOfSorted(array_sort(col("arr"))))
      .withColumn("mad", medOfSorted(array_sort(
        transform(col("arr"), x => abs(x.cast("double") - col("med"))))))
      .withColumn("dev", abs(col("v4l").cast("double") - col("med")))
      .withColumn("hampel_flag",
        when(col("mad") === 0.0, (col("dev") > 0.0).cast("int"))
          .otherwise((col("dev") > lit(k) * lit(1.4826) * col("mad"))
            .cast("int")))
    df.select(
      col("user_id"), col("event_type"), col("event_id"),
      col("ts").as("date_recorded"),
      (col("v4l") / lit(10000.0)).as("value"),
      (col("med") / lit(10000.0)).as("rolling_med"),
      (col("mad") / lit(10000.0)).as("mad"),
      col("hampel_flag"))
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }

  /** q55: cross-sectional (peer-group) anomaly — a ticker is flagged
    * when it diverges from its event_type PEER GROUP on the same day,
    * the reference's core failure mode seen from the other axis: an
    * ingestion error that wrongs ONE index while its granularity
    * group moves together is invisible to per-ticker history (the
    * series just "jumps") but lights up against the group's
    * same-period cross-section. Robust center/spread: per-(type, day)
    * exact selection medians (q42's rank-pick, so the median is an
    * input value — bit-exact across engines) and MAD, z =
    * dev / (1.4826·MAD), flagged at the reference's 4.5 threshold.
    *
    * Scale shape: ONE hash exchange on the (event_type, day) group
    * key serves both rank windows and both groupBys; the median/MAD
    * tables are group-level (types × days rows — broadcast class) and
    * AQE joins them back. Groups process independently; a hot day
    * splits under AQE skew handling like any wide group.
    */
  def q55CrossSectional(s: SparkSession, dir: String,
      k: Double = 4.5): DataFrame =
    q55FromEvents(Tables.events(s, dir), k)

  /** q55 core over any events frame (spec entry point for skew/planted
    * layouts).
    */
  def q55FromEvents(events: DataFrame, k: Double = 4.5): DataFrame = {
    val grp = Seq(col("event_type"), col("day"))
    def wg = Window.partitionBy(grp: _*)
    // lower+upper selection median of an ordered column: pick ranks
    // ⌊(n+1)/2⌋ and ⌊n/2⌋+1 (equal when n is odd), average the ≤2
    // picked values — selection not interpolation, exact in doubles.
    // Split rank/select so the RANKED (already partitioned) relation
    // is what flows on: every downstream window/groupBy/join then
    // reuses the single group-key exchange instead of re-scanning.
    def ranked(df: DataFrame, ord: Column): DataFrame =
      df.withColumn("rn", row_number().over(wg.orderBy(ord, col("event_id"))))
        .withColumn("n", count(lit(1)).over(wg))
    def medianOf(rankedDf: DataFrame, ord: Column, out: String): DataFrame =
      rankedDf
        .filter(col("rn") === floor((col("n") + 1) / 2) ||
          col("rn") === floor(col("n") / 2) + 1)
        .groupBy(grp: _*)
        .agg((sum(ord).cast("double") / count(lit(1))).as(out))
    val base = events
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        date_trunc("DAY", col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
    val r1 = ranked(base, col("v4l"))
    // localCheckpoint: the dev branch and the final projection both
    // consume meds — without it each consumer replays the corpus
    // window pass (3 corpus exchanges instead of 2). The table is
    // group-level (types × days rows), so the checkpoint is tiny.
    // BROADCAST both group-stat joins (safe at any corpus scale: one
    // row per (event_type, day)): the broadcast join preserves the
    // streamed side's (event_type, day) partitioning, so the second
    // ranked() window and the mad groupBy REUSE the first corpus
    // exchange — the whole chain plans ONE distinct hash exchange
    // (spec-asserted) instead of re-shuffling per median pass.
    val meds = medianOf(r1, col("v4l"), "med").localCheckpoint()
    val dev = r1.drop("rn", "n").join(broadcast(meds), Seq("event_type", "day"))
      .withColumn("dev", abs(col("v4l").cast("double") - col("med")))
    val r2 = ranked(dev, col("dev"))
    val mads = medianOf(r2, col("dev"), "mad")
    r2.drop("rn", "n").join(broadcast(mads), Seq("event_type", "day"))
      .withColumn("xs_z6",
        when(col("mad") > 0.0,
          floor(col("dev") / (lit(1.4826) * col("mad")) *
            lit(1000000.0) + lit(0.5)) / lit(1000000.0))
          .otherwise(lit(0.0)))
      .withColumn("xs_flag",
        when(col("mad") === 0.0, (col("dev") > 0.0).cast("int"))
          .otherwise((col("xs_z6") >= lit(k)).cast("int")))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("date_recorded"), col("day"),
        (col("v4l") / lit(10000.0)).as("value"),
        (col("med") / lit(10000.0)).as("xs_median"),
        (col("mad") / lit(10000.0)).as("xs_mad"),
        col("xs_z6"), col("xs_flag"))
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }

  /** q57: gap-fill / resample — regularize each ticker's series onto a
    * dense daily calendar (the precondition the decomposition stages
    * q11–q18 and the R reference's `time_decompose` assume): last
    * observation per ticker-day, a calendar exploded between each
    * ticker's first and last day, then forward fill with a gap flag.
    *
    * Scale shape: the day-collapse window, the span agg, and the
    * forward-fill window all partition on the ticker key; the
    * calendar explode is row-local (one array per ticker, bounded by
    * its date span); the grid-to-observation join keys on
    * (ticker, day). Every exchange hashes the ticker family — no
    * broadcast of the corpus, no global ordering anywhere.
    */
  def q57GapFill(s: SparkSession, dir: String): DataFrame = {
    val key = Seq(col("user_id"), col("event_type"))
    val wDay = Window.partitionBy(key :+ col("day"): _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = Tables.events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("day"),
        col("value").as("day_value"))
    val grid = daily.groupBy("user_id", "event_type")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), col("event_type"),
        explode(sequence(col("d0"), col("d1"),
          expr("interval 1 day"))).as("day"))
    val wFf = Window.partitionBy(key: _*).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "event_type", "day"), "left")
      .select(col("user_id"), col("event_type"), col("day"),
        last(col("day_value"), ignoreNulls = true).over(wFf)
          .as("value_ff"),
        when(col("day_value").isNull, 1).otherwise(0).as("gap_filled"))
      .orderBy(col("user_id"), col("event_type"), col("day"))
  }

  /** q59: peer-correlation anomaly — rolling Pearson correlation of
    * each ticker's daily series against its LEAVE-ONE-OUT peer mean
    * (same event_type, self excluded). q55 catches the single day a
    * ticker leaves its group; this catches the ticker that
    * DECORRELATES over a window while every individual day still
    * looks plausible — the slow-drift ingestion failure.
    *
    * Exactness (§8): daily values quantize to 1e-4 longs; the peer
    * mean is one integer floor-division; all five window moments are
    * exact long sums (bounded: |v4l| ≤ 5.6e6 on this data, n ≤ 7, so
    * n·Σxy and ΣxΣy stay ≤ ~1.5e15 < 2⁵³ — every long→double
    * conversion below is exact); ONE double division + sqrt, then
    * 1e-6 quantization. corr is NULL until 3 points or when either
    * variance is 0.
    *
    * Scale shape: per-(event_type, day) group stats are a groupBy on
    * the DAILY table (one row per ticker-day), localCheckpointed and
    * BROADCAST back (group-level, types × days rows — q55's posture),
    * so the corpus hashes only on the ticker family: the day-collapse
    * window and the rolling-moment window share that partitioning.
    */
  def q59PeerCorrelation(s: SparkSession, dir: String,
      win: Int = 7): DataFrame = {
    val key = Seq(col("user_id"), col("event_type"))
    val wDay = Window.partitionBy(key :+ col("day"): _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = Tables.events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long")
          .as("x4l"))
    // grp has ONE consumer (the broadcast build below) — the old
    // localCheckpoint added an eager materialization job for nothing;
    // the broadcast exchange materializes the aggregate anyway
    val grp = daily.groupBy(col("event_type"), col("day"))
      .agg(sum(col("x4l")).as("gs"), count(lit(1)).as("gc"))
    val base = daily.join(broadcast(grp), Seq("event_type", "day"))
      .filter(col("gc") > 1)
      .withColumn("y4l", expr("(gs - x4l) div (gc - 1)"))
    val w = Window.partitionBy(key: _*).orderBy(col("day"))
      .rowsBetween(-(win - 1), 0)
    val sums = base
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x4l")).over(w))
      .withColumn("sy", sum(col("y4l")).over(w))
      .withColumn("sxx", sum(col("x4l") * col("x4l")).over(w))
      .withColumn("syy", sum(col("y4l") * col("y4l")).over(w))
      .withColumn("sxy", sum(col("x4l") * col("y4l")).over(w))
    val d1 = col("n") * col("sxx") - col("sx") * col("sx")
    val d2 = col("n") * col("syy") - col("sy") * col("sy")
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    sums
      .withColumn("corr6",
        when(col("n") >= 3 && d1 > 0 && d2 > 0,
          floor(num.cast("double") /
            sqrt(d1.cast("double") * d2.cast("double")) *
            lit(1000000.0) + lit(0.5)) / lit(1000000.0)))
      .withColumn("decorrelated",
        (col("corr6").isNotNull && col("corr6") < 0).cast("int"))
      .select(col("user_id"), col("event_type"), col("day"),
        (col("x4l") / lit(10000.0)).as("value"),
        (col("y4l") / lit(10000.0)).as("peer_mean"),
        col("n").cast("int").as("n_win"), col("corr6"),
        col("decorrelated"))
      .orderBy(col("user_id"), col("event_type"), col("day"))
  }

  /** q60: dominant-period detection — MEASURE each ticker's seasonal
    * period from the data instead of trusting a declared frequency.
    * The reference hard-codes `frequency = 7` into `ts()` before
    * `stl()` (func.R:92-126) and carries the dim table's DECLARED
    * frequency beside the measured gap (sql:183-184, the q10/q13
    * measured-vs-declared axis); this closes the loop: the lag-k
    * autocorrelation of the daily series over calendar lags
    * k = 2..`maxLag`, dominant period = the k with the highest
    * correlation (ties → smallest k, so a pure period-3 signal
    * reports 3, not its harmonic 6 or 9).
    *
    * Exactness (§8): daily values quantize to 1e-4 longs (q59's
    * fixed point); per-lag moments are exact long sums (pair products
    * ≤ 3.2e13, full-series sums < 2⁶³); the n·Σ − Σ·Σ combinations
    * run in decimal(38,0) ↔ HUGEINT — NOT long, where n·Σxy can pass
    * 2⁶³ on long series (the d09 overflow class) — and each side
    * casts the same exact integer to double before the one
    * division + sqrt, 1e-6 quantized. Lags with n < `minPairs` or a
    * zero variance are excluded; a ticker with no valid lag (e.g.
    * constant series) is absent.
    *
    * Scale shape: calendar-lag pairs come from a self-join of the
    * DAY-COLLAPSED table (one row per ticker-day — the corpus only
    * pays its q59-shared day-collapse window) against its ×(maxLag−1)
    * lag-shifted explode, hashed on (ticker, day); per-(ticker, lag)
    * moments are one map-side-combined groupBy; the argmax is a
    * ticker-partitioned window — nothing global, nothing all-pairs.
    */
  def q60DominantPeriod(s: SparkSession, dir: String, maxLag: Int = 10,
      minPairs: Int = 5): DataFrame = {
    val key = Seq(col("user_id"), col("event_type"))
    val wDay = Window.partitionBy(key :+ col("day"): _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = Tables.events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long")
          .as("x4l"))
    val lagged = daily
      .withColumn("k", explode(sequence(lit(2), lit(maxLag))))
      .withColumn("day", date_add(col("day"), col("k")))
      .select(col("user_id"), col("event_type"), col("day"), col("k"),
        col("x4l").as("a4l"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val mom = lagged
      .join(daily, Seq("user_id", "event_type", "day"))
      .groupBy(key :+ col("k"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("a4l")).as("sx"), sum(col("x4l")).as("sy"),
        sum(col("a4l") * col("a4l")).as("sxx"),
        sum(col("x4l") * col("x4l")).as("syy"),
        sum(col("a4l") * col("x4l")).as("sxy"))
      .withColumn("num", dec(col("n")) * dec(col("sxy")) -
        dec(col("sx")) * dec(col("sy")))
      .withColumn("den1", dec(col("n")) * dec(col("sxx")) -
        dec(col("sx")) * dec(col("sx")))
      .withColumn("den2", dec(col("n")) * dec(col("syy")) -
        dec(col("sy")) * dec(col("sy")))
      .filter(col("n") >= minPairs && col("den1") > 0 && col("den2") > 0)
      .withColumn("r6",
        floor(col("num").cast("double") /
          sqrt(col("den1").cast("double") * col("den2").cast("double")) *
          lit(1000000.0) + lit(0.5)) / lit(1000000.0))
    val wBest = Window.partitionBy(key: _*)
      .orderBy(col("r6").desc, col("k").asc)
    mom
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type"),
        col("k").cast("int").as("dominant_period"),
        col("r6").as("autocorr6"), col("n").as("n_pairs"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q61: distribution-drift detection via the Population Stability
    * Index — the monitoring question none of q01–q60 answers: has this
    * feed's VALUE DISTRIBUTION changed between two eras, even when no
    * single point is anomalous? Classic credit-scoring / feature-drift
    * metric: decile the reference era, compare occupancy against the
    * current era, PSI = Σ (p_i − q_i)·ln(p_i/q_i); > 0.2 is the
    * conventional act threshold.
    *
    * Semantics, all deterministic: eras split at the midpoint day of
    * the global span (integer floor); bucket edges are the REFERENCE
    * era's exact integer-rank deciles (q56's ceil(j·n/10) =
    * (j·n+9) div 10 arithmetic on 1e-4-quantized values — the value
    * at a rank is well-defined under ties in either engine); counts
    * are add-one smoothed so empty buckets stay finite; each bucket's
    * PSI term is 1e-9 fixed-point-quantized to a LONG before the
    * per-type sum (d09's posture — long sums are order-free, so
    * partial-aggregation order can't move the result), and the output
    * carries the exact `psi9` long. Types with a thin reference era
    * (< 10 rows) or an empty current era are excluded.
    *
    * Scale shape: ONE event_type exchange serves the rank window and
    * the count aggregates; the 9-edge-per-type pivot and the 1-row
    * span are broadcast back; bucket assignment is 9 codegen'd
    * comparisons per row (no interpreted HOF on the scan path). A hot
    * type is one group: its rank window is the q56/q58 per-group sort.
    */
  def q61DriftPsi(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("pivot",
        expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"))
      .select(col("pivot"))
    val tagged = ev.crossJoin(broadcast(span))
      .withColumn("cur", (col("day") > col("pivot")).cast("int"))
      .select(col("event_type"), col("cur"), col("v4l"))
      .localCheckpoint() // feeds edges, counts and era sizes once
    val ref = tagged.filter(col("cur") === 0)
    val wType = Window.partitionBy(col("event_type")).orderBy(col("v4l"))
    val ranked = ref
      .withColumn("rn", row_number().over(wType))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    // 9 decile ranks per type (distinct for n >= 10), value-at-rank
    val edges = ranked
      .withColumn("j", explode(sequence(lit(1), lit(9))))
      .filter(col("rn") === expr("(j * n + 9) div 10"))
      .groupBy(col("event_type"))
      .agg(transform(sort_array(collect_list(struct(col("j"), col("v4l")))),
        t => t("v4l")).as("e"), max(col("n")).as("n_ref"))
      .filter(col("n_ref") >= 10 && size(col("e")) === 9)
      .localCheckpoint() // types-sized; shared by bucket join + output
    // bucket = 1 + #(edges strictly below v): nine codegen'd whens
    val bucket = (1 to 9).map(j =>
      (col("v4l") > element_at(col("e"), j)).cast("int"))
      .foldLeft(lit(1))(_ + _)
    val counts = tagged.join(broadcast(edges), Seq("event_type"))
      .withColumn("b", bucket)
      .groupBy(col("event_type"), col("cur"), col("b"))
      .agg(count(lit(1)).as("c"))
    // dense 10-bucket grid per surviving type so empty buckets count 0
    val grid = edges.select(col("event_type"))
      .withColumn("b", explode(sequence(lit(1), lit(10))))
    val occ = grid
      .join(counts.filter(col("cur") === 0)
        .select(col("event_type"), col("b"), col("c").as("cr")),
        Seq("event_type", "b"), "left")
      .join(counts.filter(col("cur") === 1)
        .select(col("event_type"), col("b"), col("c").as("cc")),
        Seq("event_type", "b"), "left")
      .na.fill(0L, Seq("cr", "cc"))
      .localCheckpoint() // 10 rows/type; feeds sizes and the PSI sum
    val sizes = occ.groupBy(col("event_type"))
      .agg(sum(col("cr")).as("n_ref"), sum(col("cc")).as("n_cur"))
      .filter(col("n_cur") >= 1)
    val p = (col("cr") + 1).cast("double") / (col("n_ref") + 10).cast("double")
    val q = (col("cc") + 1).cast("double") / (col("n_cur") + 10).cast("double")
    occ.join(broadcast(sizes), Seq("event_type"))
      .withColumn("term9",
        floor((p - q) * log(p / q) * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy(col("event_type"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        sum(col("term9")).as("psi9"))
      .withColumn("drift", (col("psi9") > 200000000L).cast("int"))
      .orderBy(col("event_type"))
  }

  /** q62: local-level Kalman filter anomaly (Harvey 1989; Durbin &
    * Koopman 2012 ch. 2) — the adaptive-gain companion to q54: Holt
    * extrapolates a trend with FIXED dyadic gains, while the Kalman
    * filter carries the level's posterior variance P and re-derives
    * its gain every step (large right after the diffuse prior, then
    * decaying to the steady state), so series starts are absorbed
    * fast and the anomaly statistic is the textbook NORMALIZED
    * INNOVATION e_t/√S_t — scaled by the PREDICTIVE variance
    * S_t = P⁻ + R rather than a whole-series moment.
    *
    *   predict:  l⁻ = l,  P⁻ = P + Q
    *   gain:     K  = P⁻ / (P⁻ + R)
    *   update:   l += K·(y − l⁻),  P = (1 − K)·P⁻
    *
    * Cross-engine determinism: values are 1e-4 fixed-point longs; P
    * lives in value⁴e-8 (v4l²) longs with Q = 1e7, R = 1e8 = P0
    * (process std ≈ 0.32, measurement std 1.0 value units); the gain
    * quantizes to 1e-6 (k6 = ⌊P⁻·1e6/(P⁻+R)⌋) and both update
    * products floor back to longs. P ≤ P0 + Q ≈ 1.1e8 (the update
    * shrinks P below R), so every floor() argument is an exact-in-
    * double integer ratio whose fractional part, when nonzero, is
    * ≥ 1e-6 (numerator/1e6 forms) or ≥ 1/(P⁻+R) ≈ 5e-9 (the gain) —
    * both ≫ one ulp — so the recursion replays bit-for-bit in a
    * DuckDB recursive CTE. |z| ≥ 3 flags.
    *
    * Scale shape: the recursion is not windowable — q14/q54's ONE
    * groupByKey exchange, O(per-key history) in the handler, keys
    * process independently at any corpus width.
    */
  def q62Kalman(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Qc = 10000000L
    val Rc = 100000000L
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .as[(Long, String, Long, java.sql.Timestamp, Long)]
    rows
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_: (Long, String),
          it: Iterator[(Long, String, Long, java.sql.Timestamp, Long)]) =>
        val evs = it.toVector.sortBy(r => (usOf(r._4), r._3))
        var l = 0L
        var p = 0L
        evs.zipWithIndex.map { case (r, i) =>
          if (i == 0) {
            l = r._5; p = Rc
            (r._1, r._2, r._3, r._4, r._5 / 10000.0, l / 10000.0,
              Option.empty[Double], Option.empty[Double],
              Option.empty[Double], 0)
          } else {
            val pp = p + Qc
            val e = r._5 - l
            val k6 = math.floor(pp * 1000000.0 / (pp + Rc)).toLong
            l += math.floor(k6 * e / 1000000.0).toLong
            p = math.floor((1000000L - k6) * pp / 1000000.0).toLong
            val z6 = math.floor(e / math.sqrt((pp + Rc).toDouble) *
              1000000.0 + 0.5).toLong
            (r._1, r._2, r._3, r._4, r._5 / 10000.0, l / 10000.0,
              Some(k6 / 1000000.0), Some(e / 10000.0),
              Some(z6 / 1000000.0), if (math.abs(z6) >= 3000000L) 1 else 0)
          }
        }
      }
      .toDF("user_id", "event_type", "event_id", "date_recorded", "value",
        "level", "kgain6", "innovation", "kalman_z6", "kalman_flag")
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }

  /** q63: time-series DISCORD discovery via the (Euclidean) matrix
    * profile (Keogh et al. 2005 "HOT SAX"; Yeh et al. 2016) — the
    * shape-based question none of the point detectors ask: which
    * length-m SUBSEQUENCE of each ticker is farthest from its nearest
    * non-overlapping neighbor? A spike repeated weekly is NORMAL to
    * the matrix profile (its copies are mutual neighbors) while a
    * one-off pattern break is the top discord — exactly the
    * complement of q06/q53's pointwise outliers.
    *
    * Per ticker: subsequences s_i = v[i..i+m−1] over the 1e-4
    * fixed-point longs; D²(i,j) = Σ(v_{i+k} − v_{j+k})² is an EXACT
    * integer, so nearest-neighbor distances, the discord argmax and
    * both tie-breaks (min d² over j; max nn-d² over i, smallest i)
    * involve no floating point at all — bit-for-bit reproducible on
    * any engine. Subsequences with no admissible neighbor (possible
    * near n = 2m) are excluded on both engines; keys need n ≥ 2m.
    *
    * Scale shape: q14/q54's ONE groupByKey exchange; the in-task scan
    * is the STOMP diagonal recurrence (Zhu et al. 2016): along each
    * diagonal j−i = c, D²(i+1,j+1) = D²(i,j) − (v_i−v_j)² +
    * (v_{i+m}−v_{j+m})² — O(n²) total instead of the naive O(n²·m),
    * each admissible pair visited ONCE with the symmetric min folded
    * into both endpoints. All updates are exact long adds, so the
    * profile is bit-identical to the naive double loop (the spec
    * asserts it). Paid PER KEY in one task with zero shuffle
    * amplification — tickers process independently, and per-key
    * history is bounded (the windowed-feed shape st02 shards on).
    */
  def q63Discord(s: SparkSession, dir: String, m: Int = 4): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .as[(Long, String, Long, java.sql.Timestamp, Long)]
    rows
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, String),
          it: Iterator[(Long, String, Long, java.sql.Timestamp, Long)]) =>
        val evs = it.toVector.sortBy(r => (usOf(r._4), r._3))
        val n = evs.size
        if (n < 2 * m) Iterator.empty
        else {
          val v = evs.map(_._5).toArray
          val ns = n - m + 1
          val nn = Array.fill(ns)(Long.MaxValue)
          var c = m // diagonal offset j - i; admissibility is c >= m
          while (c < ns) {
            var d = 0L
            var k = 0
            while (k < m) { val t = v(k) - v(c + k); d += t * t; k += 1 }
            var i = 0
            while (i + c < ns) {
              if (d < nn(i)) nn(i) = d
              if (d < nn(i + c)) nn(i + c) = d
              if (i + c + 1 < ns) {
                val t0 = v(i) - v(i + c)
                val t1 = v(i + m) - v(i + c + m)
                d = d - t0 * t0 + t1 * t1
              }
              i += 1
            }
            c += 1
          }
          var bestI = -1
          var bestD = -1L
          var i = 0
          while (i < ns) {
            if (nn(i) != Long.MaxValue && nn(i) > bestD) {
              bestD = nn(i); bestI = i
            }
            i += 1
          }
          Iterator.single((key._1, key._2, ns, bestI + 1,
            evs(bestI)._3, bestD))
        }
      }
      .toDF("user_id", "event_type", "n_subseq", "discord_seq",
        "discord_event_id", "discord_d2")
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q64: non-parametric trend detection — Mann–Kendall S/τ with the
    * Theil–Sen slope (Mann 1945; Kendall 1975; Sen 1968), the robust
    * complement to q54/q62's parametric smoothers: does the series
    * trend AT ALL, judged only by pairwise orderings (immune to
    * outliers and any monotone transform), and at what median rate?
    *
    *   S  = Σ_{i<j} sign(v_j − v_i)   (time-ordered pairs — exact int)
    *   τ6 = round(S·1e6 / n_pairs)    (fixed point, half-up)
    *   sen = median over pairs with Δt ≠ 0 of (Δv4l / Δt_µs)
    *
    * Determinism: S and n_pairs are integers; each pairwise slope is
    * ONE long/long IEEE division — identical on both engines — and
    * the median picks the value at exact integer rank ⌈N/2⌉ of the
    * sorted slope multiset (lower median for even N, documented), so
    * no arithmetic ever combines two doubles. The per-day rescale is
    * one shared constant multiply at the end.
    *
    * Scale shape: q14/q54's ONE groupByKey exchange; the O(n²)
    * pairwise pass is in-task per ticker (q63's posture — bounded
    * per-key history, tickers independent).
    */
  def q64TrendMk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .as[(Long, String, Long, java.sql.Timestamp, Long)]
    rows
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, String),
          it: Iterator[(Long, String, Long, java.sql.Timestamp, Long)]) =>
        val evs = it.toVector.sortBy(r => (usOf(r._4), r._3))
        val n = evs.size
        if (n < 2) Iterator.empty
        else {
          var sStat = 0L
          val slopes = Vector.newBuilder[Double]
          var i = 0
          while (i < n) {
            var j = i + 1
            while (j < n) {
              val dv = evs(j)._5 - evs(i)._5
              sStat += java.lang.Long.signum(dv)
              val dt = usOf(evs(j)._4) - usOf(evs(i)._4)
              if (dt != 0L) slopes += dv.toDouble / dt.toDouble
              j += 1
            }
            i += 1
          }
          val np = n.toLong * (n - 1) / 2
          val tau6 = math.floor(sStat * 1000000.0 / np + 0.5).toLong
          val sl = slopes.result().sorted
          // v4l/µs → value-units/day: ÷1e4 for the fixed point,
          // ×8.64e10 µs/day — one shared constant multiply
          val sen = if (sl.isEmpty) None
            else Some(sl((sl.size + 1) / 2 - 1) * 8.64e6)
          Iterator.single((key._1, key._2, n, np, sStat,
            tau6 / 1000000.0, sen))
        }
      }
      .toDF("user_id", "event_type", "n", "n_pairs", "mk_s", "mk_tau6",
        "sen_slope_day")
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q68: SEASONAL Mann–Kendall trend with the seasonal Sen slope
    * (Hirsch & Slack 1984) — q64's pairwise trend test restricted to
    * WITHIN-PHASE pairs (Decompose/q67's `seq % 7` phase strata):
    * on a feed with a strong weekly pattern, cross-phase pairs carry
    * the seasonal swing's sign, diluting (or inverting) q64's τ; the
    * seasonal statistic S = Σ_g S_g compares Mondays only with
    * Mondays, so the pattern cancels exactly and the underlying drift
    * shows at full strength. (The Hirsch–Slack serial-covariance
    * correction to Var(S) is documented, not computed — the engine's
    * verdict is the exact τ itself, q64's posture.)
    *
    * Same exactness contract as q64: integer S over time-ordered
    * within-stratum pairs, half-up τ6, the slope multiset's exact-rank
    * lower median of single long/long divisions, one shared per-day
    * constant multiply. Keys whose strata are all singletons (n ≤ 7)
    * have no pairs and emit nothing on either engine.
    *
    * Scale shape: q14/q54's ONE groupByKey exchange; the pairwise
    * pass is in-task per ticker and 7× CHEAPER than q64's (only
    * ⌊n/7⌋-sized strata pair up).
    */
  def q68SeasonalMk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .as[(Long, String, Long, java.sql.Timestamp, Long)]
    rows
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, String),
          it: Iterator[(Long, String, Long, java.sql.Timestamp, Long)]) =>
        val evs = it.toVector.sortBy(r => (usOf(r._4), r._3))
        val n = evs.size
        var sStat = 0L
        var np = 0L
        val slopes = Vector.newBuilder[Double]
        var i = 0
        while (i < n) {
          var j = i + 7
          while (j < n) {
            val dv = evs(j)._5 - evs(i)._5
            sStat += java.lang.Long.signum(dv)
            np += 1
            val dt = usOf(evs(j)._4) - usOf(evs(i)._4)
            if (dt != 0L) slopes += dv.toDouble / dt.toDouble
            j += 7
          }
          i += 1
        }
        if (np == 0L) Iterator.empty
        else {
          val tau6 = math.floor(sStat * 1000000.0 / np + 0.5).toLong
          val sl = slopes.result().sorted
          val sen = if (sl.isEmpty) None
            else Some(sl((sl.size + 1) / 2 - 1) * 8.64e6)
          Iterator.single((key._1, key._2, n, np, sStat,
            tau6 / 1000000.0, sen))
        }
      }
      .toDF("user_id", "event_type", "n", "n_pairs", "smk_s", "smk_tau6",
        "sen_slope_day")
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q65: Pettitt's non-parametric CHANGEPOINT test (Pettitt 1979) —
    * the rank-based answer to "did this feed's level shift, and when":
    * q19's CUSUM accumulates standardized residuals (so one gross
    * outlier inflates the sums it standardizes against), while Pettitt
    * judges only pairwise ORDERINGS — a Mann-Whitney statistic swept
    * over every split point:
    *
    *   U_t = Σ_{i≤t} Σ_{j>t} sign(v_i − v_j)   (exact integer)
    *   K   = max_t |U_t|, changepoint at the smallest argmax t
    *   significant at α=0.05 iff 2·exp(−6K²/(n³+n²)) < 0.05
    *
    * The significance rule is evaluated in INVERTED form,
    * 6K² > −ln(0.025)·(n³+n²), so both engines compute one shared
    * compile-time constant times an exact integer — no libm call at
    * query time, and the verdict is bit-identical by construction.
    * The signed U at the changepoint is published too (positive ⇒ the
    * early era ranks higher ⇒ a DOWNWARD shift).
    *
    * Determinism: U_t is rebuilt by the exact recursion
    * U_t = U_{t−1} + Σ_j sign(v_t − v_j) over 1e-4 fixed-point longs —
    * every quantity an integer until the single constant multiply.
    *
    * Scale shape: q14/q54's ONE groupByKey exchange; the O(n²)
    * pairwise pass is in-task per ticker (q63/q64's posture — bounded
    * per-key history, tickers independent; a monster series upgrades
    * to the O(n log n) rank formulation in-task, never a shuffle).
    */
  def q65Pettitt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .as[(Long, String, Long, java.sql.Timestamp, Long)]
    rows
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, String),
          it: Iterator[(Long, String, Long, java.sql.Timestamp, Long)]) =>
        val evs = it.toVector.sortBy(r => (usOf(r._4), r._3))
        val n = evs.size
        if (n < 2) Iterator.empty
        else {
          val v = evs.map(_._5).toArray
          var u = 0L
          var bestK = -1L
          var bestU = 0L
          var bestT = -1
          var t = 0
          while (t < n - 1) {
            var row = 0L
            var j = 0
            while (j < n) {
              row += java.lang.Long.signum(v(t) - v(j)); j += 1
            }
            u += row
            val a = math.abs(u)
            if (a > bestK) { bestK = a; bestU = u; bestT = t }
            t += 1
          }
          val nL = n.toLong
          val sig =
            if (6.0 * bestK * bestK >
              3.6888794541139363 * (nL * nL * nL + nL * nL)) 1 else 0
          Iterator.single((key._1, key._2, n, bestT + 1, evs(bestT)._3,
            bestK, bestU, sig))
        }
      }
      .toDF("user_id", "event_type", "n", "cp_seq", "cp_event_id",
        "k_stat", "cp_u", "sig_flag")
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q66: BENFORD first-significant-digit conformance per event_type
    * (Newcomb 1881; Benford 1938; Nigrini's forensic-accounting use) —
    * the data-provenance screen none of the per-point detectors run:
    * naturally-occurring multi-scale quantities follow
    * P(d) = log10(1 + 1/d), while fabricated, clipped, defaulted or
    * unit-mangled feeds do not. The operator reports each type's
    * first-digit chi-square against the Benford expectation, a flag at
    * the χ²(8 df, α=0.01) = 20.09 critical value, and the worst digit.
    *
    * Determinism: digit counts and totals are exact integers; the nine
    * expectations are shared shortest-repr DOUBLE LITERALS embedded in
    * both engines (no libm log at query time — q65's posture); each
    * chi-square term ((obs − n·p)²/(n·p)) is one identical IEEE chain
    * floored to a 1e-9 long BEFORE the order-free integer sum (d09/
    * t12's posture), so `chi9` is exact. Worst digit = max |obs − n·p|
    * (1e-9-floored), smallest digit on ties.
    *
    * Scale shape: first digit is a row-local string head over the scan
    * (digits of v4l = digits of value for positives); ONE corpus
    * exchange — the (event_type, digit) groupBy with map-side combine;
    * totals re-aggregate the ≤ 9-rows-per-type count table, which is
    * localCheckpointed for its two consumers; the expectation table is
    * a 9-row broadcast and the rank window sees types×9 rows.
    */
  def q66Benford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probs = Seq(
      1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
      3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
      5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
      7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
      9 -> 0.04575749056067514).toDF("digit", "p")
    val pos = Tables.events(s, dir)
      .select(col("event_type"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .filter(col("v4l") > 0)
      .withColumn("digit",
        substring(col("v4l").cast("string"), 1, 1).cast("int"))
    val cnt = pos.groupBy(col("event_type"), col("digit"))
      .agg(count(lit(1)).as("obs"))
      .localCheckpoint() // ≤ 9 rows/type; feeds totals and the grid
    val tot = cnt.groupBy(col("event_type")).agg(sum(col("obs")).as("n"))
    val grid = tot.crossJoin(broadcast(probs))
      .join(cnt, Seq("event_type", "digit"), "left")
      .na.fill(0L, Seq("obs"))
      .withColumn("np", col("n") * col("p"))
    val term = grid
      .withColumn("term9",
        floor((col("obs") - col("np")) * (col("obs") - col("np")) /
          col("np") * lit(1e9) + lit(0.5)))
      .withColumn("dev9",
        abs(floor((col("obs") - col("np")) * lit(1e9) + lit(0.5))))
    val ranked = term.withColumn("rk", row_number().over(
      Window.partitionBy(col("event_type"))
        .orderBy(col("dev9").desc, col("digit"))))
    ranked.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), sum(col("term9")).as("chi9"),
        max(when(col("rk") === 1, col("digit"))).as("worst_digit"),
        max(when(col("rk") === 1, col("dev9"))).as("worst_dev9"))
      .select(col("event_type"), col("n"), col("chi9"),
        when(col("chi9") > lit(20090000000L), lit(1)).otherwise(lit(0))
          .as("benford_flag"),
        col("worst_digit"), col("worst_dev9"))
      .orderBy(col("event_type"))
  }

  /** q69: two-sample KOLMOGOROV–SMIRNOV drift test per event_type —
    * the nonparametric companion to q61's binned PSI: PSI sees only
    * ten decile buckets (a shift INSIDE a bucket is invisible and the
    * bins need a ≥10-point reference), while KS compares the two
    * full empirical CDFs at every observed value, so it catches any
    * distributional change with a distribution-free significance
    * rule. Eras are q61's convention exactly: days ≤ the span
    * midpoint are the reference sample, later days the current one.
    *
    * Statistic, integer-exact: quantize values to 4-decimal longs
    * (the engine-wide grid), count per distinct value and era, then
    * D = max_v |F_ref(v) − F_cur(v)| over observed values. With
    * cum1/cum2 the running counts and n1/n2 the era sizes, the max
    * of |cum1·n2 − cum2·n1| is an exact BIGINT numerator (D = that
    * over n1·n2); `ks6` is its single 1e-6 IEEE division. The flag
    * is the classical large-sample rejection at α = 0.05 — D >
    * c(α)·√((n1+n2)/(n1·n2)), c² = −ln(0.025)/2 — compared in the
    * squared integer domain (d_num² > c²·(n1+n2)·n1·n2, one
    * identical double chain both engines, no sqrt). Counts beyond
    * ~3·10⁶ per era would overflow the squared compare's 53-bit
    * mantissa before they overflow the BIGINT: at that scale the
    * critical D is tiny and the verdict saturates long before the
    * precision loss can flip it.
    *
    * Scale shape: ONE corpus-sized exchange — the (event_type, v4l)
    * count groupBy with map-side combine. The cumulative window runs
    * over the DISTINCT-VALUE table (bounded by the 4-decimal value
    * domain per type, not by corpus rows — a 100 TB feed with
    * values in [0, 10⁴) has ≤ 10⁸ grid points per type and typically
    * far fewer), and the final per-type max re-uses the same
    * event_type partitioning Catalyst already has.
    */
  def q69KsDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("pivot",
        expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"))
      .select(col("pivot"))
    val dist = ev.crossJoin(broadcast(span))
      .withColumn("cur", (col("day") > col("pivot")).cast("int"))
      .groupBy(col("event_type"), col("v4l"))
      .agg(sum(when(col("cur") === 0, lit(1L)).otherwise(lit(0L))).as("c1"),
        sum(when(col("cur") === 1, lit(1L)).otherwise(lit(0L))).as("c2"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("v4l"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val cum = dist
      .withColumn("cum1", sum(col("c1")).over(wOrd))
      .withColumn("cum2", sum(col("c2")).over(wOrd))
      .withColumn("n1", sum(col("c1")).over(wAll))
      .withColumn("n2", sum(col("c2")).over(wAll))
    cum.filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("dnum",
        abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
      .groupBy(col("event_type"))
      .agg(max(col("n1")).as("n_ref"), max(col("n2")).as("n_cur"),
        max(col("dnum")).as("d_num"))
      .select(col("event_type"), col("n_ref"), col("n_cur"), col("d_num"),
        floor(col("d_num").cast("double") * lit(1000000.0) /
          (col("n_ref") * col("n_cur")).cast("double") + lit(0.5))
          .cast("long").as("ks6"),
        when(col("d_num").cast("double") * col("d_num") >
          lit(1.8444397270569681) * (col("n_ref") + col("n_cur")) *
            col("n_ref") * col("n_cur"), lit(1)).otherwise(lit(0))
          .as("drift_flag"))
      .orderBy(col("event_type"))
  }

  /** q70: PAGE–HINKLEY mean-shift monitor per ticker (Page 1954;
    * Hinkley 1971 — the sequential drift test the streaming-ML
    * literature, e.g. MOA/Gama's drift-detection survey, standardized
    * on): m_T = Σ(x_i − x̄_i − δ) with x̄_i the running mean, and
    * PH_T = m_T − min_{t≤T} m_t alarms when > λ. Where q19's CUSUM
    * standardizes against the ticker's WHOLE-series σ (a batch-only
    * luxury), PH self-references the running mean — the drift verdict
    * an online system can actually compute, so q70 is the batch
    * ground truth for its streaming twin st19.
    *
    * Exactness: the running sum S_i is an exact long over 1e-4
    * values; each term (v4l − S_i/i − δ4) is one shared IEEE chain
    * quantized to a 1e-9 long BEFORE the cumulative sums (order-free
    * integer windows — q19's posture), so `ph9`, the running min and
    * the flag are all exact. CUSUM's closed form applies: PH_T needs
    * no recursion, just R_t minus its running min over the same sort.
    *
    * Scale shape: identical to q19 — one hash exchange on the ticker
    * key, one in-partition sort feeding row_number, two cumulative
    * sums and a running min over the same window frame. Nothing
    * corpus-sized moves twice.
    */
  def q70PageHinkley(s: SparkSession, dir: String,
      delta: Double = 0.05, lambda: Double = 5.0): DataFrame = {
    val d4 = math.floor(delta * 10000.0 + 0.5)   // slack in 1e-4 units
    val l9 = math.floor(lambda * 1e9 + 0.5).toLong // threshold, 1e-9 units
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("i", row_number().over(wAsc))
      .withColumn("s1", sum(col("v4l")).over(wRun))
      .withColumn("c9",
        floor((col("v4l") - col("s1").cast("double") / col("i") - lit(d4)) *
          lit(100000.0) + lit(0.5)).cast("long"))
      .withColumn("m", sum(col("c9")).over(wRun))
      .withColumn("ph9", col("m") - min(col("m")).over(wRun))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("date_recorded"), (col("v4l") / lit(10000.0)).as("value"),
        col("ph9"),
        when(col("ph9") > l9, lit(1)).otherwise(lit(0)).as("ph_flag"))
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }

  /** p05: the MONITORING REPORT — the anomaly-side composition p02/p03
    * are to the corpus side: one row per ticker joining every verdict
    * a morning review needs, the reference's master_anomaly_detector
    * output (func.R:158-166) extended with the engine's detectors:
    * q13's last-observation summary (value, 7-day avg, score, flag,
    * repetitions, measured-vs-declared frequency), q60's MEASURED
    * dominant period, q64's trend verdict (τ + Sen slope), q63's
    * top discord, and the ticker's event-type-level q61 drift PSI.
    *
    * Semantics: each component keeps its own published exactness
    * contract; the report is pure LEFT joins on the ticker key (q60/
    * q63/q64 exclude thin tickers → NULLs; q61 keys on event_type),
    * so p05 ≡ its standalone components row-for-row by construction
    * and the oracle composes the component oracles verbatim as
    * subqueries.
    *
    * Scale shape: every component already reduced the corpus to one
    * row per ticker (or per type); the report joins those TICKER-
    * CARDINALITY tables on their shared key — co-keyed hash joins
    * over the small side of each operator, nothing corpus-sized moves
    * again.
    */
  def p05MonitorReport(s: SparkSession, dir: String): DataFrame = {
    val sum = Decompose.q13AnomalySummary(s, dir)
      .select(col("user_id"), col("event_type"), col("date"), col("value"),
        col("seven_day_avg"), col("score"), col("is_anomaly"),
        col("repetitions"), col("frequency_days"),
        col("alleged_frequency_days"))
    val per = q60DominantPeriod(s, dir)
      .select(col("user_id"), col("event_type"), col("dominant_period"),
        col("autocorr6"))
    val tr = q64TrendMk(s, dir)
      .select(col("user_id"), col("event_type"), col("mk_tau6"),
        col("sen_slope_day"))
    val di = q63Discord(s, dir)
      .select(col("user_id"), col("event_type"), col("discord_event_id"),
        col("discord_d2"))
    val dr = q61DriftPsi(s, dir)
      .select(col("event_type"), col("psi9"), col("drift"))
    sum
      .join(per, Seq("user_id", "event_type"), "left")
      .join(tr, Seq("user_id", "event_type"), "left")
      .join(di, Seq("user_id", "event_type"), "left")
      .join(dr, Seq("event_type"), "left")
      .select(col("user_id"), col("event_type"), col("date"), col("value"),
        col("seven_day_avg"), col("score"), col("is_anomaly"),
        col("repetitions"), col("frequency_days"),
        col("alleged_frequency_days"), col("dominant_period"),
        col("autocorr6"), col("mk_tau6"), col("sen_slope_day"),
        col("discord_event_id"), col("discord_d2"), col("psi9"),
        col("drift"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q74: Western Electric SPC rule screen per ticker (WECO 1956;
    * Nelson 1984) — the control-chart runs rules the per-point z
    * threshold (q09) cannot express: a process can drift out of
    * control while every individual point stays inside 3σ. Four
    * classic zone tests over the same standardized chart:
    *   rule 1 — one point beyond 3σ (q09's check, for completeness);
    *   rule 2 — ≥2 of the last 3 points beyond 2σ on the same side;
    *   rule 3 — ≥4 of the last 5 points beyond 1σ on the same side;
    *   rule 4 — 8 consecutive points on the same side of the mean.
    * Each rule is evaluated only once its full lookback exists
    * (i ≥ 3/5/8) so the verdict at row t is a pure function of rows
    * t−7..t — deterministic, no partial-frame edge cases.
    *
    * Exactness: z is q19's 1e-6 fixed-point standardization from
    * exact integer moment sums (decimal(38,0) s2, one shared IEEE
    * division + sqrt chain), so every zone membership is an integer
    * comparison and the rule counts are exact window sums. A
    * zero-variance ticker has zf = 0 everywhere — on the center
    * line, no side, no flags (q19's convention).
    *
    * Scale shape: q19's exactly — ONE hash exchange on the ticker
    * key; the unordered moment window and the four ordered frames
    * (3/5/8-row lookbacks) all reuse it; O(1) state per row.
    */
  def q74SpcRules(s: SparkSession, dir: String): DataFrame = {
    val w3 = wAsc.rowsBetween(-2, 0)
    val w5 = wAsc.rowsBetween(-4, 0)
    val w8 = wAsc.rowsBetween(-7, 0)
    def cnt(c: Column): Column = sum(when(c, 1).otherwise(0))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("s1", sum(col("v4l")).over(wKey))
      .withColumn("s2",
        sum((col("v4l").cast("decimal(19,0)") *
          col("v4l").cast("decimal(19,0)")).cast("decimal(38,0)")).over(wKey))
      .withColumn("a", col("n") * col("v4l") - col("s1"))
      .withColumn("c",
        (col("n").cast("decimal(38,0)") * col("s2") -
          col("s1").cast("decimal(19,0)") * col("s1").cast("decimal(19,0)"))
          .cast("decimal(38,0)"))
      .withColumn("zf",
        when(col("n") > 1 && col("c") > 0,
          floor(col("a").cast("double") /
            sqrt(col("c").cast("double") * col("n") / (col("n") - 1)) *
            lit(1000000.0) + lit(0.5)).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("i", row_number().over(wAsc))
      .withColumn("c2p", cnt(col("zf") > 2000000L).over(w3))
      .withColumn("c2n", cnt(col("zf") < -2000000L).over(w3))
      .withColumn("c1p", cnt(col("zf") > 1000000L).over(w5))
      .withColumn("c1n", cnt(col("zf") < -1000000L).over(w5))
      .withColumn("c0p", cnt(col("zf") > 0L).over(w8))
      .withColumn("c0n", cnt(col("zf") < 0L).over(w8))
      .withColumn("rule1",
        when(abs(col("zf")) > 3000000L, 1).otherwise(0))
      .withColumn("rule2",
        when(col("i") >= 3 && (col("c2p") >= 2 || col("c2n") >= 2), 1)
          .otherwise(0))
      .withColumn("rule3",
        when(col("i") >= 5 && (col("c1p") >= 4 || col("c1n") >= 4), 1)
          .otherwise(0))
      .withColumn("rule4",
        when(col("i") >= 8 && (col("c0p") === 8 || col("c0n") === 8), 1)
          .otherwise(0))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("date_recorded"), (col("v4l") / lit(10000.0)).as("value"),
        (col("zf") / lit(1000000.0)).as("zscore6"),
        col("rule1"), col("rule2"), col("rule3"), col("rule4"),
        when(col("rule1") + col("rule2") + col("rule3") + col("rule4") > 0,
          1).otherwise(0).as("spc_flag"))
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }

  /** q75: Wald–Wolfowitz RUNS test per ticker (Wald & Wolfowitz
    * 1940) — the randomness screen none of the magnitude detectors
    * run: a feed whose values are individually in range can still be
    * serially dependent (too FEW runs — trending/sticky ingestion) or
    * oscillating (too MANY runs — alternating-source interleave).
    * Dichotomize each observation against the ticker's exact lower
    * median (q56's integer-rank selection at ⌈n/2⌉; ties ON the
    * median are excluded, the standard convention), count the runs R
    * of consecutive same-side points in time order, and reject
    * randomness at α = 0.05 when |R − μ_R| > 1.96·σ_R with
    * μ_R = 2·n₁·n₂/n + 1, σ²_R = 2n₁n₂(2n₁n₂ − n)/(n²(n−1)).
    *
    * Exactness: the verdict is compared in the SQUARED integer
    * domain — with dev = R·n − 2n₁n₂ − n (= n·(R − μ_R), an exact
    * long) the rejection is dev²·(n−1)·10⁴ > 38416·2n₁n₂(2n₁n₂−n),
    * all in decimal(38,0)/HUGEINT: no sqrt, no rounding, bit-equal
    * on both engines (exact through per-ticker histories ~10⁶; a
    * degenerate side or σ² ≤ 0 yields flag 0). `runs_z6` is the one
    * shared IEEE chain for human consumption, 1e-6-floored.
    *
    * Scale shape: ONE hash exchange on the ticker key — the median
    * rank window (same partitioning, value sort), the sign lag
    * window (time sort) and the final per-ticker aggregate all reuse
    * it; the median join is ticker-cardinality, AQE-broadcast.
    */
  def q75RunsTest(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
    val wVal = Window.partitionBy(keyCols: _*)
      .orderBy(col("v4l"), col("event_id"))
    val med = base
      .withColumn("rk", row_number().over(wVal))
      .withColumn("nk", count(lit(1)).over(wKey))
      .filter(col("rk") === floor((col("nk") + 1) / 2).cast("long"))
      .select(col("user_id"), col("event_type"), col("v4l").as("med4"))
    val signed = base
      .join(med, Seq("user_id", "event_type"))
      .withColumn("sgn",
        when(col("v4l") > col("med4"), 1)
          .when(col("v4l") < col("med4"), -1).otherwise(0))
      .filter(col("sgn") =!= 0)
      .withColumn("prev", lag(col("sgn"), 1).over(wAsc))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("sgn"), 1L)
          .otherwise(0L))
    signed
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("med4")).as("med4"),
        sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_below"),
        sum(col("chg")).as("runs"))
      .withColumn("n", col("n_above") + col("n_below"))
      .withColumn("p", (lit(2).cast("decimal(38,0)") *
        col("n_above") * col("n_below")).cast("decimal(38,0)"))
      .withColumn("dev", (col("runs").cast("decimal(38,0)") * col("n") -
        col("p") - col("n")).cast("decimal(38,0)"))
      .withColumn("den",
        (col("p") * (col("p") - col("n"))).cast("decimal(38,0)"))
      .withColumn("nonrandom_flag",
        when(col("n_above") > 0 && col("n_below") > 0 && col("den") > 0 &&
          (col("dev") * col("dev") * (col("n") - 1) * lit(10000))
            .cast("decimal(38,0)") > (col("den") * lit(38416)), 1)
          .otherwise(0))
      .withColumn("runs_z6",
        when(col("n_above") > 0 && col("n_below") > 0 && col("den") > 0,
          floor(col("dev").cast("double") /
            sqrt(col("den").cast("double") / (col("n") - 1)) *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .select(col("user_id"), col("event_type"),
        (col("med4") / lit(10000.0)).as("median"),
        col("n").as("n_obs"), col("n_above"), col("n_below"),
        col("runs").cast("long").as("runs"), col("runs_z6"),
        col("nonrandom_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q77: peer LEAD-LAG detection — the ingestion-DELAY diagnostic:
    * a feed whose values are correct but arrive k days late tracks
    * its granularity peers perfectly AT LAG k and poorly at lag 0,
    * which q59's contemporaneous correlation reads only as generic
    * decorrelation. Cross-correlate each ticker's daily series x(d)
    * against its LEAVE-ONE-OUT peer mean at y(d − k) for
    * k ∈ [−maxLag, maxLag]: the argmax k is the measured offset
    * (positive = the feed LAGS its peers by k days), tie-broken
    * toward |k| then k so a flat cross-correlogram reports 0 and the
    * `lagged_feed` flag fires only when some k ≠ 0 STRICTLY beats
    * the contemporaneous correlation.
    *
    * Exactness: q59's fixed-point peer machinery (1e-4 longs, one
    * floor-div peer mean) feeding q60's exact whole-series moments —
    * the n·Σ − Σ·Σ combinations in decimal(38,0) ↔ HUGEINT, one
    * double division + sqrt, 1e-6 quantized. Lags with < minPairs
    * pairs or zero variance are excluded.
    *
    * Scale shape: group stats groupBy'd on the DAILY table and
    * broadcast back (q59's posture); the ×(2·maxLag+1) lag explode
    * runs over one-row-per-ticker-day, joined back to itself hashed
    * on (ticker, day); per-(ticker, k) moments are one
    * map-side-combined groupBy; the argmax is a ticker-partitioned
    * window. Nothing corpus-sized moves more than once.
    */
  def q77LeadLag(s: SparkSession, dir: String, maxLag: Int = 3,
      minPairs: Int = 5): DataFrame = {
    val key = Seq(col("user_id"), col("event_type"))
    val wDay = Window.partitionBy(key :+ col("day"): _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = Tables.events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long")
          .as("x4l"))
    // grp has ONE consumer (the broadcast build below) — no cut; the
    // broadcast exchange materializes the aggregate anyway
    val grp = daily.groupBy(col("event_type"), col("day"))
      .agg(sum(col("x4l")).as("gs"), count(lit(1)).as("gc"))
    val base = daily.join(broadcast(grp), Seq("event_type", "day"))
      .filter(col("gc") > 1)
      .withColumn("y4l", expr("(gs - x4l) div (gc - 1)"))
      .select(col("user_id"), col("event_type"), col("day"),
        col("x4l"), col("y4l"))
      .localCheckpoint() // probe side and lag side share one pass
    val xs = base
      .select(col("user_id"), col("event_type"), col("day"), col("x4l"))
      .withColumn("k", explode(sequence(lit(-maxLag), lit(maxLag))))
      .withColumn("jday", date_sub(col("day"), col("k")))
      .select(col("user_id"), col("event_type"), col("jday"), col("k"),
        col("x4l"))
    val ys = base.select(col("user_id"), col("event_type"),
      col("day").as("jday"), col("y4l"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val mom = xs.join(ys, Seq("user_id", "event_type", "jday"))
      .groupBy(key :+ col("k"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("x4l")).as("sx"), sum(col("y4l")).as("sy"),
        sum(col("x4l") * col("x4l")).as("sxx"),
        sum(col("y4l") * col("y4l")).as("syy"),
        sum(col("x4l") * col("y4l")).as("sxy"))
      .withColumn("num", dec(col("n")) * dec(col("sxy")) -
        dec(col("sx")) * dec(col("sy")))
      .withColumn("den1", dec(col("n")) * dec(col("sxx")) -
        dec(col("sx")) * dec(col("sx")))
      .withColumn("den2", dec(col("n")) * dec(col("syy")) -
        dec(col("sy")) * dec(col("sy")))
      .filter(col("n") >= minPairs && col("den1") > 0 && col("den2") > 0)
      .withColumn("r6",
        floor(col("num").cast("double") /
          sqrt(col("den1").cast("double") * col("den2").cast("double")) *
          lit(1000000.0) + lit(0.5)) / lit(1000000.0))
    val wBest = Window.partitionBy(key: _*)
      .orderBy(col("r6").desc, abs(col("k")).asc, col("k").asc)
    mom
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type"),
        col("k").cast("int").as("best_lag"), col("r6").as("xcorr6"),
        col("n").as("n_pairs"),
        when(col("k") =!= 0, 1).otherwise(0).as("lagged_feed"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q78: Ljung–Box portmanteau WHITENESS test per ticker (Box &
    * Pierce 1970; Ljung & Box 1978) — the model-adequacy check the
    * whole detector family assumes but never runs: every z/CUSUM/EWMA
    * verdict standardizes the one-period differences as if they were
    * uncorrelated noise, yet a feed with surviving autocorrelation
    * (upstream smoothing, interpolated gaps, duplicated prints)
    * breaks that premise silently and makes those thresholds
    * optimistic. Q = n(n+2)·Σ_{k=1..h} r_k²/(n−k) over the first
    * h = 5 autocorrelations of the diff series, rejected against
    * χ²(5, 0.05) = 11.0705: a flagged ticker's diffs are NOT white.
    *
    * Exactness: with d_t the 1e-4 fixed-point diffs and S = Σd,
    * e_t = n·d_t − S is an EXACT long, so C = Σe² and the lag
    * cross-sums A_k = Σ e_t·e_{t−k} are exact decimal(38,0)/HUGEINT;
    * each r_k = A_k/C is ONE double division, each r_k²/(n−k) term
    * one shared IEEE chain floored to a 1e-9 long, and
    * Q9 = n(n+2)·Σterm9 stays an exact long (bounded by ~n·h·1e9 so
    * it is < 2⁵³ at any realistic per-ticker history). Zero-variance
    * tickers report NULL stats and flag 0; tickers with < minDiffs
    * diffs are excluded (the test has no power there).
    *
    * Scale shape: ONE hash exchange on the ticker key — the diff
    * lag, the unbounded moment window and the h residual-lag windows
    * all reuse it, and the final groupBy is map-side combined on the
    * same partitioning; O(h) state per row, nothing global.
    */
  def q78LjungBox(s: SparkSession, dir: String, h: Int = 5,
      minDiffs: Int = 8): DataFrame = {
    require(h >= 1 && h < minDiffs, "need h lags inside the min history")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val diffs = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("d", col("v4l") - lag(col("v4l"), 1).over(wAsc))
      .filter(col("d").isNotNull)
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("e", col("n") * col("d") - sum(col("d")).over(wKey))
    val lagged = (1 to h).foldLeft(diffs) { (df, k) =>
      df.withColumn(s"p$k",
        (d19(col("e")) * d19(lag(col("e"), k).over(wAsc)))
          .cast("decimal(38,0)"))
    }
    val aggs = sum((d19(col("e")) * d19(col("e"))).cast("decimal(38,0)"))
      .as("c") +: (1 to h).map(k => sum(col(s"p$k")).as(s"a$k"))
    val mom = lagged.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), aggs: _*)
      .filter(col("n") >= minDiffs)
    val withR = (1 to h).foldLeft(mom) { (df, k) =>
      df.withColumn(s"r$k",
        when(col("c") > 0,
          col(s"a$k").cast("double") / col("c").cast("double")))
        .withColumn(s"t$k",
          floor(col(s"r$k") * col(s"r$k") / (col("n") - lit(k)) *
            lit(1.0e9) + lit(0.5)).cast("long"))
    }
    withR
      .withColumn("sum9", (1 to h).map(k => col(s"t$k")).reduce(_ + _))
      .withColumn("lb_q9", col("n") * (col("n") + lit(2)) * col("sum9"))
      .select(col("user_id"), col("event_type"), col("n").as("n_diffs"),
        floor(col("r1") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("acf1_6"),
        col("lb_q9"),
        when(col("lb_q9") > lit(11070500000L), 1).otherwise(0)
          .as("white_reject_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q88: the ACF CORRELOGRAM table per ticker — the full diagnostic
    * q78's portmanteau aggregates away: one row per lag k = 1..10
    * with the exact autocorrelation of the diff series and the
    * classical ±1.96/√n white-noise band, so a reviewer sees WHERE
    * the serial structure lives (a spike at k = 7 is weekly
    * seasonality leaking through the detrend; a slow geometric decay
    * is upstream smoothing). Same exact machinery as q78 — e_t =
    * n·d_t − S residual longs, HUGEINT lag cross-sums, one double
    * division per r_k — then the per-lag rows come from ONE row-local
    * struct explode (never a second pass), with the band as one
    * shared IEEE chain and the flag an integer compare of the two
    * quantized values.
    *
    * Scale shape: q78's exactly — ONE ticker exchange reused by the
    * diff lag, the moment window, the 10 residual-lag windows and the
    * map-side-combined groupBy; the explode multiplies only the
    * per-ticker RESULT rows (×10).
    */
  def q88AcfTable(s: SparkSession, dir: String, maxLag: Int = 10,
      minDiffs: Int = 12): DataFrame = {
    require(maxLag >= 1 && maxLag < minDiffs)
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val diffs = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("d", col("v4l") - lag(col("v4l"), 1).over(wAsc))
      .filter(col("d").isNotNull)
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("e", col("n") * col("d") - sum(col("d")).over(wKey))
    val lagged = (1 to maxLag).foldLeft(diffs) { (df, k) =>
      df.withColumn(s"p$k",
        (d19(col("e")) * d19(lag(col("e"), k).over(wAsc)))
          .cast("decimal(38,0)"))
    }
    val aggs = sum((d19(col("e")) * d19(col("e"))).cast("decimal(38,0)"))
      .as("c") +: (1 to maxLag).map(k => sum(col(s"p$k")).as(s"a$k"))
    val mom = lagged.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), aggs: _*)
      .filter(col("n") >= minDiffs)
    val acfCols = (1 to maxLag).map { k =>
      struct(lit(k).as("k"),
        when(col("c") > 0,
          floor(col(s"a$k").cast("double") / col("c").cast("double") *
            lit(1000000.0) + lit(0.5)).cast("long")).as("acf6"))
    }
    mom
      .withColumn("band6",
        floor(lit(1.96) / sqrt(col("n").cast("double")) *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("kr", explode(array(acfCols: _*)))
      .select(col("user_id"), col("event_type"),
        col("kr.k").as("k"), col("n").as("n_diffs"),
        col("kr.acf6").as("acf6"), col("band6"),
        when(abs(col("kr.acf6")) > col("band6"), 1).otherwise(0)
          .as("sig_flag"))
      .orderBy(col("user_id"), col("event_type"), col("k"))
  }

  /** q79: VARIANCE-drift screen per event type — the Brown–Forsythe
    * test (Brown & Forsythe 1974; Levene with the median center),
    * closing the drift-family triangle: q61's PSI sees occupancy
    * shifts, q69's KS sees any CDF change, but neither NAMES a pure
    * dispersion change (a feed whose mean holds while its noise
    * doubles — a precision regression, a unit half-fix — moves every
    * decile symmetrically and can sit under both thresholds). Using
    * q61/q69's era split (global span midpoint), dichotomize each
    * era's values into absolute deviations from that ERA's exact
    * lower median (the median center is what makes the test robust
    * to the non-normality real feeds have), then the two-group
    * ANOVA F on the deviations:
    *   F = (N−2)·d² / (N·(w1·n2 + w2·n1)),
    * with d = s1·n2 − s2·n1 and w_i = n_i·Σa² − (Σa)² — every
    * ingredient an EXACT integer (decimal(38,0) ↔ HUGEINT; the
    * n·Σ − Σ·Σ combinations are q60's pre-empted overflow class).
    * The only floating point is the final ONE shared IEEE chain,
    * 1e-9-floored to `bf_f9`; rejection at the χ²(1, 0.05) ≈ 3.8415
    * literal.
    *
    * Scale shape: ONE corpus exchange on (event_type, era) — the
    * median rank window, the deviation pass and the per-era moment
    * groupBy all reuse it; the era medians come back as a broadcast
    * (2 rows per type) and the final era-pivot groupBy runs over
    * types×2 rows. The 1-row span pivot is a broadcast cross join
    * (q69's posture).
    */
  def q79VarianceDrift(s: SparkSession, dir: String,
      minEra: Int = 2): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val ev = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("pivot",
        expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"))
      .select(col("pivot"))
    val wEra = Window.partitionBy(col("event_type"), col("cur"))
    val wRank = wEra.orderBy(col("v4l"))
    val ranked = ev.crossJoin(broadcast(span))
      .withColumn("cur", (col("day") > col("pivot")).cast("int"))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("nk", count(lit(1)).over(wEra))
    val med = ranked
      .filter(col("rk") === floor((col("nk") + 1) / 2).cast("long"))
      .select(col("event_type"), col("cur"), col("v4l").as("med4"))
    val era = ranked.join(broadcast(med), Seq("event_type", "cur"))
      .withColumn("a", abs(col("v4l") - col("med4")))
      .groupBy(col("event_type"), col("cur"))
      .agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
        sum((d19(col("a")) * d19(col("a"))).cast("decimal(38,0)")).as("qa"),
        max(col("med4")).as("med4"))
      .withColumn("w",
        (col("qa") * col("n") - dec(col("sa")) * dec(col("sa")))
          .cast("decimal(38,0)"))
    era.groupBy(col("event_type"))
      .agg(
        sum(when(col("cur") === 0, col("n"))).as("n1"),
        sum(when(col("cur") === 1, col("n"))).as("n2"),
        sum(when(col("cur") === 0, col("sa"))).as("s1"),
        sum(when(col("cur") === 1, col("sa"))).as("s2"),
        sum(when(col("cur") === 0, col("w"))).as("w1"),
        sum(when(col("cur") === 1, col("w"))).as("w2"),
        sum(when(col("cur") === 0, col("med4"))).as("med1"),
        sum(when(col("cur") === 1, col("med4"))).as("med2"))
      .filter(col("n1") >= minEra && col("n2") >= minEra)
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("d",
        (dec(col("s1")) * col("n2") - dec(col("s2")) * col("n1"))
          .cast("decimal(38,0)"))
      .withColumn("ww",
        (col("w1") * col("n2") + col("w2") * col("n1"))
          .cast("decimal(38,0)"))
      .withColumn("dd", col("d").cast("double"))
      .withColumn("bf_f9",
        when(col("ww") > 0,
          floor(col("dd") * col("dd") * (col("nn") - 2) /
            (col("nn").cast("double") * col("ww").cast("double")) *
            lit(1.0e9) + lit(0.5)).cast("long")))
      .select(col("event_type"),
        col("n1").cast("long").as("n_ref"),
        col("n2").cast("long").as("n_cur"),
        (col("med1") / lit(10000.0)).as("med_ref"),
        (col("med2") / lit(10000.0)).as("med_cur"),
        col("bf_f9"),
        when(col("bf_f9") > lit(3841500000L), 1).otherwise(0)
          .as("var_drift_flag"))
      .orderBy(col("event_type"))
  }

  /** q80: SPEARMAN rank correlation of each ticker against its
    * leave-one-out peer mean — the monotone-robust companion to
    * q59's Pearson: a feed whose values went through a monotone
    * re-scale (unit change, log compression, index rebasing) still
    * RANKS its days exactly like its peers, so Spearman stays 1.0
    * where Pearson decays — and conversely a genuinely decorrelated
    * feed cannot hide behind a lucky linear fit. Over q77's daily
    * machinery (last observation per ticker-day, exact floor-div
    * LOO peer mean per (event_type, day), gc > 1), rank each
    * ticker's days by own value and by peer value with the
    * DETERMINISTIC (value, day) tie order (permutation ranks, not
    * average ranks — documented, engine-exact), then the classic
    * ρ = 1 − 6·Σd²/(n·(n²−1)).
    *
    * Exactness: ranks and Σd² are exact integers; M = n³−n is an
    * exact decimal(38,0)/HUGEINT; ρ is ONE double division floored
    * to 1e-6. Tickers with < minDays ranked days are excluded.
    *
    * Scale shape: q59/q77's posture — the daily collapse window and
    * BOTH rank windows hash on the ticker family (one corpus-daily
    * exchange reused thrice), group stats groupBy'd on the daily
    * table and broadcast back; the final per-ticker groupBy is
    * map-side combined on the same partitioning.
    */
  def q80SpearmanPeer(s: SparkSession, dir: String,
      minDays: Int = 5): DataFrame = {
    val key = Seq(col("user_id"), col("event_type"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val wDay = Window.partitionBy(key :+ col("day"): _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = Tables.events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long")
          .as("x4l"))
    // grp has ONE consumer (the broadcast build below) — no cut; the
    // broadcast exchange materializes the aggregate anyway
    val grp = daily.groupBy(col("event_type"), col("day"))
      .agg(sum(col("x4l")).as("gs"), count(lit(1)).as("gc"))
    val wx = Window.partitionBy(key: _*).orderBy(col("x4l"), col("day"))
    val wy = Window.partitionBy(key: _*).orderBy(col("y4l"), col("day"))
    daily.join(broadcast(grp), Seq("event_type", "day"))
      .filter(col("gc") > 1)
      .withColumn("y4l", expr("(gs - x4l) div (gc - 1)"))
      .withColumn("rx", row_number().over(wx))
      .withColumn("ry", row_number().over(wy))
      .withColumn("dr", (col("rx") - col("ry")).cast("long"))
      .groupBy(key: _*)
      .agg(count(lit(1)).as("n"),
        sum((d19(col("dr")) * d19(col("dr"))).cast("decimal(38,0)"))
          .as("dd"))
      .filter(col("n") >= minDays)
      .withColumn("m",
        (dec(col("n")) * col("n") * col("n") - col("n"))
          .cast("decimal(38,0)"))
      .withColumn("rho6",
        floor((col("m") - lit(6) * col("dd")).cast("double") /
          col("m").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .select(col("user_id"), col("event_type"), col("n").as("n_days"),
        col("rho6"),
        when(col("rho6") < lit(500000L), 1).otherwise(0)
          .as("decorrelated_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q82: ORDINARY-LEAST-SQUARES trend per ticker — the parametric
    * companion to q64's Mann–Kendall/Theil–Sen: OLS adds the
    * variance-weighted rate and the R² goodness-of-fit the robust
    * pair deliberately ignores, and the CONTRAST between the two is
    * itself a diagnostic — an outlier-dragged OLS slope far from the
    * Sen slope marks a contaminated series (spec plants exactly
    * that). x = exact integer day offsets from the ticker's first
    * day; slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) and
    * R² = num²/(dx·dy) from exact decimal(38,0)/HUGEINT moment
    * combinations (q60's pre-empted overflow class), ONE IEEE chain
    * each, 1e-6 quantized (`ols_slope_day6` is value-units/day ×1e6).
    * Zero-x-variance or zero-y-variance tickers report NULLs, flag 0.
    *
    * Scale shape: ONE ticker exchange — the min-day window and the
    * map-side-combined moment groupBy share it; O(1) state per row.
    */
  def q82OlsTrend(s: SparkSession, dir: String,
      minObs: Int = 5): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("x",
        datediff(col("day"), min(col("day")).over(wKey)).cast("long"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((d19(col("x")) * d19(col("x"))).cast("decimal(38,0)"))
          .as("sxx"),
        sum((d19(col("y")) * d19(col("y"))).cast("decimal(38,0)"))
          .as("syy"),
        sum((d19(col("x")) * d19(col("y"))).cast("decimal(38,0)"))
          .as("sxy"))
      .filter(col("n") >= minObs)
      .withColumn("num",
        (dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
          .cast("decimal(38,0)"))
      .withColumn("dx",
        (dec(col("n")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
          .cast("decimal(38,0)"))
      .withColumn("dy",
        (dec(col("n")) * col("syy") - dec(col("sy")) * dec(col("sy")))
          .cast("decimal(38,0)"))
      .withColumn("ols_slope_day6",
        when(col("dx") > 0,
          floor(col("num").cast("double") / col("dx").cast("double") *
            lit(100.0) + lit(0.5)).cast("long")))
      .withColumn("r2_6",
        when(col("dx") > 0 && col("dy") > 0,
          floor(col("num").cast("double") * col("num").cast("double") /
            (col("dx").cast("double") * col("dy").cast("double")) *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .select(col("user_id"), col("event_type"), col("n").as("n_obs"),
        col("ols_slope_day6"), col("r2_6"),
        when(col("r2_6") >= lit(500000L), 1).otherwise(0)
          .as("trend_fit_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q86: OHLC BAR resample — the canonical time-series downsample
    * every market/telemetry store ships: per ticker-day open (first
    * print by the (ts, event_id) order), high, low, close (last
    * print) and the print count, plus the day-over-day close-to-open
    * gap. Exact: all selections on 1e-4 longs with the engine-wide
    * deterministic order; the gap is an exact long difference.
    *
    * Scale shape: ONE hash exchange on (ticker, day) for the
    * first/last windows + the map-side-combined bar aggregate; the
    * day-over-day lag window re-partitions the BAR table (one row
    * per ticker-day, corpus-collapsed) on the ticker family.
    */
  def q86OhlcBars(s: SparkSession, dir: String): DataFrame = {
    val key = Seq(col("user_id"), col("event_type"), col("day"))
    val wA = Window.partitionBy(key: _*).orderBy(col("ts"), col("event_id"))
    val wD = Window.partitionBy(key: _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    val wLag = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("day"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        to_date(col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("ra", row_number().over(wA))
      .withColumn("rd", row_number().over(wD))
      .groupBy(key: _*)
      .agg(max(when(col("ra") === 1, col("v4l"))).as("o4"),
        max(col("v4l")).as("h4"), min(col("v4l")).as("l4"),
        max(when(col("rd") === 1, col("v4l"))).as("c4"),
        count(lit(1)).as("n_trades"))
      .withColumn("pc4", lag(col("c4"), 1).over(wLag))
      .select(col("user_id"), col("event_type"), col("day"),
        (col("o4") / lit(10000.0)).as("open"),
        (col("h4") / lit(10000.0)).as("high"),
        (col("l4") / lit(10000.0)).as("low"),
        (col("c4") / lit(10000.0)).as("close"),
        col("n_trades"),
        ((col("o4") - col("pc4")) / lit(10000.0)).as("overnight_gap"))
      .orderBy(col("user_id"), col("event_type"), col("day"))
  }

  /** q85: WEEKDAY-EFFECT one-way ANOVA per ticker — the significance
    * rule beside q83's strength features and q60's measured period:
    * does the day-of-week mean structure the reference hard-codes
    * (frequency = 7 into `ts()`/`stl()`, func.R:101) actually exist
    * for this ticker? Group values by the epoch-anchored day index
    * mod 7 (pure integer arithmetic — no engine dayofweek()
    * convention to disagree on), pivot the 7 groups into fixed
    * columns, and compute the classic F = (SSB/6)/(SSW/(N−7)) in ONE
    * fixed-order IEEE chain over exact integer ingredients (group
    * sums are exact longs, Σv² exact decimal(38,0)); rejection at
    * the F(6, ∞, 0.05) = 2.0986 literal (the large-sample
    * convention, q79's class). Tickers missing any weekday with
    * ≥ minPerDay observations are excluded (the test needs all
    * seven groups).
    *
    * Scale shape: ONE map-side-combined groupBy on the ticker key —
    * the 7-group pivot is conditional aggregation, no second
    * exchange, O(1) state per row.
    */
  def q85WeekdayAnova(s: SparkSession, dir: String,
      minPerDay: Int = 1): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("((datediff(to_date(ts), DATE'1970-01-05') % 7) + 7) % 7")
          .as("g"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
    val aggs = (0 until 7).flatMap { i =>
      Seq(
        sum(when(col("g") === i, lit(1L)).otherwise(lit(0L))).as(s"n$i"),
        sum(when(col("g") === i, col("y")).otherwise(lit(0L))).as(s"s$i"),
        sum(when(col("g") === i,
          (d19(col("y")) * d19(col("y"))).cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as(s"q$i"))
    }
    val piv = base.groupBy(col("user_id"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .filter((0 until 7).map(i => col(s"n$i") >= minPerDay)
        .reduce(_ && _))
    val a = (0 until 7).map(i =>
      col(s"s$i").cast("double") * col(s"s$i").cast("double") /
        col(s"n$i")).reduce(_ + _)
    val nTot = (0 until 7).map(i => col(s"n$i")).reduce(_ + _)
    val sTot = (0 until 7).map(i => col(s"s$i")).reduce(_ + _)
    val qTot = (0 until 7).map(i => col(s"q$i")).reduce(_ + _)
    piv
      .withColumn("nn", nTot)
      .withColumn("aa", a)
      .withColumn("ssb",
        col("aa") - sTot.cast("double") * sTot.cast("double") / col("nn"))
      .withColumn("ssw", qTot.cast("double") - col("aa"))
      .withColumn("weekday_f6",
        when(col("ssw") > 0 && col("nn") > 7,
          floor(col("ssb") / lit(6.0) /
            (col("ssw") / (col("nn") - 7)) * lit(1000000.0) + lit(0.5))
            .cast("long")))
      .select(col("user_id"), col("event_type"), col("nn").as("n_obs"),
        col("weekday_f6"),
        when(col("weekday_f6") > lit(2098600L), 1).otherwise(0)
          .as("weekday_effect_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** p09: the DRIFT PANEL — one row per event type composing the five
    * era monitors into the review a data-platform team actually runs:
    * q61's PSI (decile occupancy), q69's KS (full CDF), q79's
    * Brown–Forsythe (pure dispersion), q84's Mann–Whitney (pure
    * location) and q66's Benford screen (provenance), each keeping
    * its own published exactness contract, plus the flag count and
    * the any-flag verdict. Pure LEFT joins on event_type from q66's
    * base (the one monitor with no era requirement), so p09 ≡ its
    * standalone components row-for-row by construction and the
    * oracle composes the component oracles verbatim.
    *
    * Scale shape: every component reduces the corpus to TYPE
    * cardinality before the panel joins those few-row tables —
    * nothing corpus-sized moves again (p05's posture on the type
    * axis).
    */
  def p09DriftPanel(s: SparkSession, dir: String): DataFrame = {
    val bf = q66Benford(s, dir)
      .select(col("event_type"), col("n"), col("chi9"),
        col("benford_flag"))
    val ks = q69KsDrift(s, dir)
      .select(col("event_type"), col("n_ref"), col("n_cur"), col("ks6"),
        col("drift_flag").as("ks_flag"))
    val psi = q61DriftPsi(s, dir)
      .select(col("event_type"), col("psi9"), col("drift").as("psi_flag"))
    val vd = q79VarianceDrift(s, dir)
      .select(col("event_type"), col("bf_f9"), col("var_drift_flag"))
    val mw = q84MannWhitney(s, dir)
      .select(col("event_type"), col("mw_z6"), col("location_shift_flag"))
    bf.join(ks, Seq("event_type"), "left")
      .join(psi, Seq("event_type"), "left")
      .join(vd, Seq("event_type"), "left")
      .join(mw, Seq("event_type"), "left")
      .withColumn("drift_score",
        coalesce(col("psi_flag"), lit(0)) +
          coalesce(col("ks_flag"), lit(0)) +
          coalesce(col("var_drift_flag"), lit(0)) +
          coalesce(col("location_shift_flag"), lit(0)) +
          coalesce(col("benford_flag"), lit(0)))
      .select(col("event_type"), col("n"), col("n_ref"), col("n_cur"),
        col("psi9"), col("psi_flag"), col("ks6"), col("ks_flag"),
        col("bf_f9"), col("var_drift_flag"), col("mw_z6"),
        col("location_shift_flag"), col("chi9"), col("benford_flag"),
        col("drift_score"),
        when(col("drift_score") > 0, 1).otherwise(0).as("drift_any"))
      .orderBy(col("event_type"))
  }

  /** q84: MANN–WHITNEY U location-shift test per event type (Mann &
    * Whitney 1947; Wilcoxon 1945) — the rank-based era comparison
    * completing the drift-test family: q69's KS asks "any CDF
    * change", q79 isolates dispersion, q84 isolates LOCATION without
    * assuming normality or equal variances (a heavy-tailed feed's
    * level shift that drags the mean test around is exactly where
    * the rank test keeps its size). Using q61/q69's era split: U
    * from the tie-midrank sums computed EXACTLY in the ×2 integer
    * domain over the per-(type, value) distribution table —
    * R1×2 = Σ_v c1·(2·cumBefore + t + 1), U×2 = R1×2 − n1(n1+1),
    * dev = U×2 − n1·n2 — with the tie-corrected variance
    * σ²(U×2) = n1n2·((n+1)n(n−1) − Σ(t³−t)) / (3n(n−1)). All
    * ingredients exact decimal(38,0)/HUGEINT; mw_z6 is ONE shared
    * IEEE chain, flagged at |z| > 1.96. An all-tied type (zero
    * variance) reports NULL and flag 0.
    *
    * Scale shape: q69's exactly — ONE corpus exchange into the
    * (type, v4l) count groupBy; the cumulative window runs over the
    * DISTINCT-VALUE table (bounded by the 4-decimal value domain,
    * not corpus rows); the final per-type aggregate is map-side
    * combined on the same partitioning.
    */
  def q84MannWhitney(s: SparkSession, dir: String,
      minEra: Int = 2): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ev = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("pivot",
        expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"))
      .select(col("pivot"))
    val dist = ev.crossJoin(broadcast(span))
      .withColumn("cur", (col("day") > col("pivot")).cast("int"))
      .groupBy(col("event_type"), col("v4l"))
      .agg(sum(when(col("cur") === 0, lit(1L)).otherwise(lit(0L))).as("c1"),
        sum(when(col("cur") === 1, lit(1L)).otherwise(lit(0L))).as("c2"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("v4l"))
      .rowsBetween(Window.unboundedPreceding, -1)
    dist
      .withColumn("t", col("c1") + col("c2"))
      .withColumn("cb", coalesce(sum(col("t")).over(wOrd), lit(0L)))
      .withColumn("r1x2_term",
        (dec(col("c1")) * (lit(2) * col("cb") + col("t") + 1))
          .cast("decimal(38,0)"))
      .withColumn("tie_term",
        (dec(col("t")) * col("t") * col("t") - col("t"))
          .cast("decimal(38,0)"))
      .groupBy(col("event_type"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("r1x2_term")).as("r1x2"),
        sum(col("tie_term")).as("ties"))
      .filter(col("n1") >= minEra && col("n2") >= minEra)
      .withColumn("n", col("n1") + col("n2"))
      .withColumn("dev",
        (col("r1x2") - dec(col("n1")) * (col("n1") + 1) -
          dec(col("n1")) * col("n2")).cast("decimal(38,0)"))
      .withColumn("nn", (dec(col("n1")) * col("n2")).cast("decimal(38,0)"))
      .withColumn("vv",
        (dec(col("n") + 1) * col("n") * (col("n") - 1) - col("ties"))
          .cast("decimal(38,0)"))
      .withColumn("dd",
        (lit(3).cast("decimal(38,0)") * col("n") * (col("n") - 1))
          .cast("decimal(38,0)"))
      .withColumn("mw_z6",
        when(col("vv") > 0,
          floor(col("dev").cast("double") /
            sqrt(col("nn").cast("double") * col("vv").cast("double") /
              col("dd").cast("double")) * lit(1000000.0) + lit(0.5))
            .cast("long")))
      .select(col("event_type"),
        col("n1").cast("long").as("n_ref"),
        col("n2").cast("long").as("n_cur"),
        col("mw_z6"),
        when(abs(col("mw_z6")) > lit(1960000L), 1).otherwise(0)
          .as("location_shift_flag"))
      .orderBy(col("event_type"))
  }

  /** q89: drawdown profile per series — the running-peak diagnostic
    * every market/telemetry monitor reports: per (ticker, event_type)
    * the all-time peak, the maximum drawdown from a running peak
    * (absolute and as a 1e-6 fraction of the peak then in force),
    * time underwater, and the LONGEST underwater run (gaps-and-
    * islands over the dd > 0 flag — q07's island machinery applied
    * to the running-max residual).
    *
    * Exactness: everything runs on 1e-4 fixed-point longs; the
    * fraction is one BIGINT integer division (non-negative, so trunc
    * ≡ floor on both engines) and guarded to peaks > 0.
    *
    * Scale shape: ONE hash exchange on the series key — running max,
    * row_number, and the cumulative underwater sum all share the
    * (user_id, event_type) sort; the island roll-up and the final
    * stats are map-side-combinable aggregates over that same
    * partitioning, so Catalyst reuses the exchange. Series are
    * calendar-bounded, keys are the parallelism axis.
    */
  def q89Drawdown(s: SparkSession, dir: String): DataFrame = {
    val key = Seq(col("user_id"), col("event_type"))
    val wOrd = Window.partitionBy(key: _*).orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("peak4", max(col("v4l")).over(wRun))
      .withColumn("dd4", col("peak4") - col("v4l"))
      .withColumn("uw", when(col("dd4") > 0, 1).otherwise(0))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("grp", col("rn") - sum(col("uw")).over(wRun))
    val stats = base
      .groupBy(key: _*)
      .agg(count(lit(1)).as("n_obs"),
        (max(col("v4l")) / lit(10000.0)).as("peak"),
        (max(col("dd4")) / lit(10000.0)).as("max_drawdown"),
        max(when(col("peak4") > 0, expr("dd4 * 1000000L div peak4")))
          .as("max_dd_frac6"),
        sum(col("uw")).cast("long").as("n_underwater"))
    val runs = base.filter(col("uw") === 1)
      .groupBy(col("user_id"), col("event_type"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("len")).as("mur"))
    stats
      .join(runs, Seq("user_id", "event_type"), "left")
      .select(col("user_id"), col("event_type"), col("n_obs"), col("peak"),
        col("max_drawdown"), col("max_dd_frac6"), col("n_underwater"),
        coalesce(col("mur"), lit(0L)).as("max_underwater_run"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q90: Theil–Sen robust trend — the median of all pairwise daily
    * slopes (Theil 1950; Sen 1968), the breakdown-resistant contrast
    * to q82's OLS the way q80's Spearman contrasts q59's Pearson: a
    * single bad-feed day drags an OLS slope arbitrarily far but moves
    * the pairwise-slope median by one rank.
    *
    * The series is first collapsed to per-day CLOSES (q86's last-print
    * convention) so the pair set is calendar-bounded — O(d²) with
    * d ≤ days-per-series, INDEPENDENT of corpus row count; the pair
    * join is key-local after one exchange on the series key. Each
    * slope is one IEEE division of exact ints quantized at 1e-6; the
    * median is q42's deterministic lower-median SELECTION (an input
    * value, never an interpolation).
    */
  def q90TheilSen(s: SparkSession, dir: String,
      minObs: Int = 5): DataFrame = {
    val key = Seq(col("user_id"), col("event_type"))
    val wDay = Window.partitionBy(col("user_id"), col("event_type"),
      col("day")).orderBy(col("ts").desc, col("event_id").desc)
    val wKeyAll = Window.partitionBy(key: _*)
    val closes = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        to_date(col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("rd", row_number().over(wDay))
      .filter(col("rd") === 1)
      .withColumn("x",
        datediff(col("day"), min(col("day")).over(wKeyAll)).cast("long"))
      .withColumn("n_obs", count(lit(1)).over(wKeyAll))
      .filter(col("n_obs") >= minObs) // prune thin series BEFORE pairing
      .select(col("user_id"), col("event_type"), col("n_obs"), col("x"),
        col("v4l").as("y"))
    val a = closes.select(col("user_id"), col("event_type"), col("n_obs"),
      col("x").as("xi"), col("y").as("yi"))
    val b = closes.select(col("user_id"), col("event_type"),
      col("x").as("xj"), col("y").as("yj"))
    val slopes = a.join(b, Seq("user_id", "event_type"))
      .filter(col("xj") > col("xi"))
      .withColumn("slope6",
        floor((col("yj") - col("yi")).cast("double") /
          (col("xj") - col("xi")).cast("double") * lit(100.0) + lit(0.5))
          .cast("long"))
    val wRank = Window.partitionBy(key: _*)
      .orderBy(col("slope6"), col("xi"), col("xj"))
    slopes
      .withColumn("rk", row_number().over(wRank))
      .withColumn("n_pairs", count(lit(1)).over(wKeyAll))
      .filter(col("rk") === floor((col("n_pairs") + 1) / 2))
      .select(col("user_id"), col("event_type"), col("n_obs"),
        col("n_pairs"), col("slope6").as("theil_sen_slope6"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q91: VARIANCE-RATIO random-walk test (Lo & MacKinlay 1988) — the
    * market-microstructure diagnostic of the family: for a random
    * walk, Var(q-period diff) = q · Var(1-period diff); VR > 1 means
    * momentum/trending, VR < 1 mean reversion — an over-smoothed or
    * interpolated feed shows VR ≪ 1 long before any point detector
    * complains (the spec plants exactly that).
    *
    *   VR = [Var̂(v_t − v_{t−q}) / q] / Var̂(v_t − v_{t−1}),  q = 4
    *
    * Exactness: both diff sets are exact longs off ONE key-sorted
    * window pass; each sample variance enters as the exact integer
    * combination n·Σx² − (Σx)² (decimal(38,0)) and the VR is one
    * fixed IEEE chain over those integers, 1e-6-floored; the verdict
    * thresholds (0.8 / 1.2) compare the quantized long.
    *
    * Scale shape: ONE hash exchange on the series key — both lag
    * windows share the (ts, event_id) sort and feed one
    * map-side-combined groupBy; series are calendar-bounded so the
    * decimal moments stay far from the 1e38 rail (q60's overflow
    * class, pre-empted the same way).
    */
  def q91VarianceRatio(s: SparkSession, dir: String, q: Int = 4,
      minObs: Int = 12): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val wOrd = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("r1", col("v4l") - lag(col("v4l"), 1).over(wOrd))
      .withColumn("rq", col("v4l") - lag(col("v4l"), q).over(wOrd))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("r1")).as("n1"), sum(col("r1")).as("s11"),
        sum((d19(col("r1")) * d19(col("r1"))).cast("decimal(38,0)"))
          .as("s21"),
        count(col("rq")).as("nq"), sum(col("rq")).as("s1q"),
        sum((d19(col("rq")) * d19(col("rq"))).cast("decimal(38,0)"))
          .as("s2q"))
      .filter(col("n") >= minObs)
      .withColumn("num",
        (dec(col("nq")) * col("s2q") - dec(col("s1q")) * dec(col("s1q")))
          .cast("decimal(38,0)"))
      .withColumn("den",
        (dec(col("n1")) * col("s21") - dec(col("s11")) * dec(col("s11")))
          .cast("decimal(38,0)"))
      .withColumn("vr6",
        when(col("den") > 0,
          floor((col("num").cast("double") /
              (col("nq") * (col("nq") - 1)).cast("double")) /
            (lit(q.toDouble) * (col("den").cast("double") /
              (col("n1") * (col("n1") - 1)).cast("double"))) *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .select(col("user_id"), col("event_type"), col("n").as("n_obs"),
        col("vr6"),
        when(col("vr6") > 1200000L, 1)
          .when(col("vr6") < 800000L, -1).otherwise(0).as("vr_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Cumulative weekday count F(d) = #weekdays in [1970-01-01, d] —
    * pure epoch-anchored integer arithmetic (no engine dayofweek()
    * convention): with K = days-since-epoch + 1 and r = K mod 7
    * (1970-01-01 is a Thursday, so residues {0,1,4,5,6} are Thu, Fri,
    * Mon, Tue, Wed), F = (K div 7)·5 + (r − clamp(r−2, 0, 2)).
    * Identical expression on the oracle side; spec-validated against
    * java.time over a multi-year range.
    */
  private[operators] def weekdayCountExpr(dayCol: String): String =
    s"(((datediff($dayCol, DATE'1970-01-01') + 1) div 7) * 5 + " +
      s"((datediff($dayCol, DATE'1970-01-01') + 1) % 7 - " +
      s"greatest(0, least((datediff($dayCol, DATE'1970-01-01') + 1) % 7" +
      s" - 2, 2))))"

  /** q97: BUSINESS-day staleness — q08 measures staleness in calendar
    * days, but a finance/logistics feed that updates Mon–Fri looks
    * "2 days stale" every Monday morning; this measures gaps on the
    * WEEKDAY calendar: per series the business-day span per
    * observation, the business days since the last print (against the
    * corpus high-water day), the stale verdict at the business
    * threshold, and the WEEKEND-print count (a supposedly-business
    * feed printing on Saturdays is its own data-quality finding).
    *
    * Exactness: everything is the epoch-anchored integer F(d) above —
    * no doubles anywhere except the final 1e-6 floor-division rate.
    *
    * Scale shape: one map-side-combined series groupBy; the corpus
    * high-water day is a 1-row broadcast.
    */
  def q97BusinessStaleness(s: SparkSession, dir: String,
      limitBdays: Int = 4): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).as("day"))
      .withColumn("wd", expr(weekdayCountExpr("day")))
      .withColumn("is_weekend",
        expr("CASE WHEN datediff(day, DATE'1970-01-01') % 7 IN (2, 3) " +
          "THEN 1 ELSE 0 END"))
    val hi = ev.agg(max(col("day")).as("max_day"))
      .withColumn("max_wd", expr(weekdayCountExpr("max_day")))
      .select(col("max_wd"))
    ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_obs"),
        min(col("wd")).as("first_wd"), max(col("wd")).as("last_wd"),
        sum(col("is_weekend")).cast("long").as("weekend_prints"))
      .crossJoin(broadcast(hi))
      .withColumn("bday_span", col("last_wd") - col("first_wd"))
      .withColumn("avg_bgap6",
        when(col("n_obs") > 1,
          expr("bday_span * 1000000L div (n_obs - 1)")))
      .withColumn("bdays_since_last", col("max_wd") - col("last_wd"))
      .select(col("user_id"), col("event_type"), col("n_obs"),
        col("bday_span"), col("avg_bgap6"), col("weekend_prints"),
        col("bdays_since_last"),
        when(col("bdays_since_last") > limitBdays, 1).otherwise(0)
          .as("stale_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q95: detector ENSEMBLE vote — the standard outlier-ensemble
    * practice (Aggarwal & Sathe 2017): no single detector's
    * assumptions hold everywhere, so the verdict that ships is the
    * VOTE across decorrelated detectors. Composes the family's three
    * per-observation flags — q09's z-threshold (global-σ), q12's
    * IQR-on-remainder (seasonality-aware) and q53's Hampel
    * (rolling-median local) — into votes ∈ 0..3 with a ≥ 2 majority
    * flag: a seasonal peak that fools the z-test needs two more
    * detectors to agree before paging anyone.
    *
    * Scale shape: each component reduces in its own documented plan
    * (all ONE ticker exchange); the ensemble joins three
    * per-observation tables co-keyed on (user, type, event) — same
    * key family, so AQE plans co-partitioned joins with no extra
    * corpus scan beyond the components'. The oracle composes the
    * three component oracles verbatim (p05's pattern).
    */
  def q95EnsembleVote(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq("user_id", "event_type", "event_id")
    val z = TickerAnomaly.q09AnomalyFlags(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("date_recorded"),
        col("standard_deviation_flag").as("z_flag"))
    val iqr = Decompose.q12IqrAnomalize(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("is_anomaly").as("iqr_flag"))
    val hm = q53Hampel(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("hampel_flag"))
    z.join(iqr, keys)
      .join(hm, keys)
      .withColumn("votes",
        col("z_flag") + col("iqr_flag") + col("hampel_flag"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("date_recorded"), col("z_flag"), col("iqr_flag"),
        col("hampel_flag"), col("votes"),
        when(col("votes") >= 2, 1).otherwise(0).as("ensemble_flag"))
      .orderBy(col("user_id"), col("event_type"), col("event_id"))
  }

  /** q96: TWAP — the TIME-weighted average price/value per ticker-day
    * (the execution-quality benchmark beside q86's OHLC bars): each
    * print is weighted by the µs it remained the live value (to the
    * next print, the last to midnight), so a feed that prints a bad
    * value and corrects it 100 ms later barely moves the TWAP while
    * the unweighted daily mean treats both prints equally — exactly
    * the robustness a staleness-prone feed (q08's subject) needs in
    * its daily summary.
    *
    * Exactness: weights are exact µs longs off one lead() pass;
    * Σ(v·w) is decimal(38,0)/HUGEINT; the TWAP is ONE integral
    * division (positive operands — trunc ≡ floor on both engines).
    *
    * Scale shape: ONE (ticker, day) exchange shared by the lead
    * window and the map-side-combined aggregate — q86's exact plan.
    */
  def q96Twap(s: SparkSession, dir: String): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val key = Seq(col("user_id"), col("event_type"), col("day"))
    val w = Window.partitionBy(key: _*).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        to_date(col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(w))
      .withColumn("w_us",
        coalesce(col("next_us"),
          unix_micros(date_add(col("day"), 1).cast("timestamp"))) -
          unix_micros(col("ts")))
      .groupBy(key: _*)
      .agg(count(lit(1)).as("n_prints"),
        sum(col("w_us")).as("sw"),
        sum((d19(col("v4l")) * d19(col("w_us"))).cast("decimal(38,0)"))
          .as("swv"))
      .withColumn("twap4", expr("CAST(swv div sw AS LONG)"))
      .select(col("user_id"), col("event_type"), col("day"),
        col("n_prints"), col("twap4"),
        (col("twap4") / lit(10000.0)).as("twap"))
      .orderBy(col("user_id"), col("event_type"), col("day"))
  }

  /** Last print per (ticker, day) as the 1e-4 fixed-point close —
    * the shared daily-close spine of the five pair analytics
    * (q94/q108/q111/q112/q129). Round 16: ONE hash aggregate
    * (max_by over the (ts, event_id) print order) replaces the
    * row_number window + rd = 1 filter each query carried — the
    * window form full-shuffles and SORTS every print to rank it,
    * while max_by partial-combines map-side and ships at most one
    * candidate per (ticker, day) per map task (guide §2.3 "aggregate
    * before you shuffle"); the sort disappears outright (§2.4).
    * Selection is identical row-for-row: the window's ORDER BY
    * ts DESC, event_id DESC rank-1 row IS the max of the
    * struct(ts, event_id) ordering (event_id breaks ts ties and the
    * pair is unique per print), so max_by returns that row's close
    * and every downstream moment — and the join-form oracles — are
    * unchanged.
    */
  private def dailyCloses(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).as("day"), col("ts"), col("event_id"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long")
          .as("v4l"))
      .groupBy(col("user_id"), col("event_type"), col("day"))
      .agg(max_by(col("v4l"), struct(col("ts"), col("event_id")))
        .as("y"))

  /** q94: pairwise ticker CORRELATION MATRIX — the full heatmap q59's
    * per-ticker peer-mean score aggregates away: every unordered
    * ticker pair within an event type, Pearson r over their common
    * daily closes (q86's last-print convention), with the overlap-day
    * count that qualifies the estimate. The instrument a reviewer
    * uses to find the actual correlated CLIQUE after q59 says "ticker
    * X decorrelated from its peers".
    *
    * Exactness: closes are 1e-4 longs; all five moments are exact
    * decimal(38,0)/HUGEINT combinations; r is ONE IEEE chain
    * (num / sqrt(dx·dy)) 1e-6-floored, guarded to positive
    * variances; pairs below `minDays` common days are excluded on
    * both engines.
    *
    * Scale shape: the corpus collapses to the per-day close table
    * first (ONE (ticker, day) exchange), and the pair join runs on
    * (event_type, day) over ticker-catalog-sized groups — tickers
    * are the catalog axis, days the calendar axis, so the pair fan
    * is tickers² per day, independent of print volume; the moment
    * groupBy is map-side combined on the pair key.
    */
  def q94CorrMatrix(s: SparkSession, dir: String,
      minDays: Int = 5): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val closes = dailyCloses(s, dir)
    // round-13 rewrite (q108/q129's posture): per-ticker day-sorted
    // close arrays, budget-gated pair join (PairPlan), the lag-0
    // CcfMoments cell — the (event_type, day) join + 21.7M-row
    // shuffled groupBy gone; identical exact moment sums feed the
    // unchanged decimal chain, so the join-form oracle stays
    PairPlan.tickerPairs(s, closes)
      .withColumn("sh",
        expr("ccf_moments(ad_a, ay_a, ad_b, ay_b, 0)").getItem(0))
      .select(col("event_type"), col("user_a"), col("user_b"),
        col("sh.n").as("n_days"),
        col("sh.sx").as("sx"), col("sh.sy").as("sy"),
        dec(col("sh.sxx")).as("sxx"), dec(col("sh.syy")).as("syy"),
        dec(col("sh.sxy")).as("sxy"))
      .filter(col("n_days") >= minDays)
      .withColumn("num",
        (dec(col("n_days")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
          .cast("decimal(38,0)"))
      .withColumn("dx",
        (dec(col("n_days")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
          .cast("decimal(38,0)"))
      .withColumn("dy",
        (dec(col("n_days")) * col("syy") - dec(col("sy")) * dec(col("sy")))
          .cast("decimal(38,0)"))
      .withColumn("corr6",
        when(col("dx") > 0 && col("dy") > 0,
          floor(col("num").cast("double") /
            sqrt(col("dx").cast("double") * col("dy").cast("double")) *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .select(col("event_type"), col("user_a"), col("user_b"),
        col("n_days"), col("corr6"),
        when(abs(col("corr6")) >= 800000L, 1).otherwise(0)
          .as("comove_flag"))
      .orderBy(col("event_type"), col("user_a"), col("user_b"))
  }

  /** q93: HURST exponent via rescaled-range analysis (Hurst 1951;
    * Mandelbrot & Wallis 1969) — the LONG-memory diagnostic beside
    * q91's fixed-q variance ratio: over the increment series, each
    * complete block of n ∈ {4, 8} contributes R/S = range of
    * cumulative mean-deviations over the block σ; a random walk's
    * increments give R/S ∝ n^0.5, persistence > 0.5, anti-persistence
    * < 0.5. With the two dyadic sizes the log-log slope is in closed
    * form: H = (ln m₈ − ln m₄)/ln 2.
    *
    * Exactness: per block, Z_k = n·prefix_k − k·s1 and
    * n·s2 − s1² are exact integers, so each block's R/S is ONE IEEE
    * division over one correctly-rounded sqrt, 1e-9-quantized before
    * the per-size average (order-free long sums, t08's posture);
    * zero-variance blocks are excluded identically on both engines;
    * series without a valid block at both sizes report NULL rather
    * than dropping the row (q85's thin-group lesson — the synthetic
    * series are short; at 100 TB real series fill both sizes).
    *
    * Scale shape: ONE series-key exchange — the diff lag, the
    * re-ranked index, the per-(size, block) prefix/moment windows and
    * all roll-ups partition by (key, …) refinements of it; the size
    * axis is a ×2 row-local explode of the diff rows.
    */
  def q93Hurst(s: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val key = Seq(col("user_id"), col("event_type"))
    val wOrd = Window.partitionBy(key: _*).orderBy(col("ts"), col("event_id"))
    val blkKey = key ++ Seq(col("n"), col("blk"))
    val wBlk = Window.partitionBy(blkKey: _*)
    val wBlkOrd = Window.partitionBy(blkKey: _*).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rs = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("d", col("v4l") - lag(col("v4l"), 1).over(wOrd))
      .filter(col("d").isNotNull)
      .withColumn("i", row_number().over(wOrd) - 1)
      .withColumn("n", explode(array(lit(4), lit(8))))
      .withColumn("blk", expr("i div n"))
      .withColumn("k", (col("i") % col("n") + 1).cast("long"))
      .withColumn("pref", sum(col("d")).over(wBlkOrd))
      .withColumn("s1", sum(col("d")).over(wBlk))
      .withColumn("s2",
        sum((d19(col("d")) * d19(col("d"))).cast("decimal(38,0)"))
          .over(wBlk))
      .withColumn("cnt", count(lit(1)).over(wBlk))
      .filter(col("cnt") === col("n"))
      .withColumn("z", col("n") * col("pref") - col("k") * col("s1"))
      .groupBy(blkKey: _*)
      .agg((max(col("z")) - min(col("z"))).as("zrange"),
        max(col("s1")).as("s1"), max(col("s2")).as("s2"))
      .withColumn("den2",
        (dec(col("n")) * col("s2") - dec(col("s1")) * dec(col("s1")))
          .cast("decimal(38,0)"))
      .filter(col("den2") > 0)
      .withColumn("rs9",
        floor(col("zrange").cast("double") /
          sqrt(col("den2").cast("double")) * lit(1.0e9) + lit(0.5))
          .cast("long"))
    val base = Tables.events(s, dir)
      .groupBy(key: _*).agg((count(lit(1)) - 1).as("n_diffs"))
    val agg = rs.groupBy(key: _*)
      .agg(sum(when(col("n") === 4, 1L)).as("nb4"),
        sum(when(col("n") === 4, col("rs9"))).as("s4"),
        sum(when(col("n") === 8, 1L)).as("nb8"),
        sum(when(col("n") === 8, col("rs9"))).as("s8"))
    base.join(agg, Seq("user_id", "event_type"), "left")
      .withColumn("nb4", coalesce(col("nb4"), lit(0L)))
      .withColumn("nb8", coalesce(col("nb8"), lit(0L)))
      .withColumn("hurst6",
        when(col("nb4") > 0 && col("nb8") > 0 &&
            col("s4") > 0 && col("s8") > 0,
          floor((log((col("s8").cast("double") / lit(1.0e9)) / col("nb8")) -
            log((col("s4").cast("double") / lit(1.0e9)) / col("nb4"))) /
            lit(0.6931471805599453) * lit(1000000.0) + lit(0.5))
            .cast("long")))
      .select(col("user_id"), col("event_type"), col("n_diffs"),
        col("nb4").as("n_blocks4"), col("nb8").as("n_blocks8"),
        col("hurst6"),
        when(col("hurst6") > 550000L, 1)
          .when(col("hurst6") < 450000L, -1).otherwise(0)
          .as("memory_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** MACD kernel constants (q98). The classic 12/26/9-span EMAs are
    * re-spanned to the short synthetic series (fast span 4, slow span
    * ~12, signal span 3) and truncated to 8 taps (q49's finite-kernel
    * discipline): at (1-a)^8 the dropped fast/signal mass is < 2%, the
    * slow tail ~27% of the oldest retained weight — head rows
    * renormalize over the lags that exist either way, so truncation is
    * a kernel DEFINITION both engines share, not an approximation
    * error. Weights are embedded as identical double literals in the
    * Spark plan and the oracle SQL.
    */
  private[graft] val MacdTaps = 8
  private[graft] val FastW: Seq[Double] =
    (0 until MacdTaps).map(j => math.pow(0.6, j))
  private[graft] val SlowW: Seq[Double] =
    (0 until MacdTaps).map(j => math.pow(0.85, j))
  private[graft] val SigW: Seq[Double] =
    (0 until MacdTaps).map(j => math.pow(0.5, j))

  /** q98: MACD convergence/divergence signal (Appel 1979) — the
    * trend-following companion to q49's single EWMA band: the spread
    * between a fast and a slow EMA of the ticker series, an EMA signal
    * line over that spread, and the histogram's zero crossings as
    * bullish(+1)/bearish(-1) turn flags. The reference's z-score
    * (anomaly_proj_query.sql:108-150) sees LEVEL outliers; the MACD
    * cross flags momentum REVERSALS that never leave the band.
    *
    * Exactness: the input is 1e-4-quantized (q49's pattern), all three
    * kernels are finite truncated sums whose weights appear as the
    * SAME double literals in both engines, and each EMA is
    * 1e-6-floored to a long before the next stage — so macd6/hist6
    * are exact integer differences and the cross flag is an exact
    * sign test. Head-of-series rows renormalize over existing lags
    * (null-aware weight sums); the signal kernel runs over the
    * ALREADY-quantized macd6 longs.
    *
    * Scale shape: ONE series-key exchange — both EMA kernels, the
    * signal kernel, and the hist lag are window chains over the same
    * (ts, event_id) sort; no joins, no second scan.
    */
  def q98Macd(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"),
        (floor(col("value") * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("value"))
    // left-assoc + chains keep the double addition order identical to
    // the oracle's (t0 + t1 + ...) parse (q49's discipline)
    def kernel6(src: Column, weights: Seq[Double]): (Column, Column) = {
      val lags = weights.zipWithIndex.map { case (w, j) =>
        (lag(src, j).over(wAsc), lit(w))
      }
      val num = lags.map { case (lv, w) =>
        when(lv.isNotNull, w * lv).otherwise(lit(0.0))
      }.reduceLeft(_ + _)
      val den = lags.map { case (lv, w) =>
        when(lv.isNotNull, w).otherwise(lit(0.0))
      }.reduceLeft(_ + _)
      (num, den)
    }
    val (fn, fd) = kernel6(col("value"), FastW)
    val (sn, sd) = kernel6(col("value"), SlowW)
    val withMacd = base
      .withColumn("fast6",
        floor(fn / fd * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("slow6",
        floor(sn / sd * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("macd6", col("fast6") - col("slow6"))
    val (gn, gd) = kernel6(col("macd6"), SigW)
    withMacd
      .withColumn("signal6", floor(gn / gd + lit(0.5)).cast("long"))
      .withColumn("hist6", col("macd6") - col("signal6"))
      .withColumn("prev_hist6", lag(col("hist6"), 1).over(wAsc))
      .select(
        col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("date_recorded"), col("value"),
        col("macd6"), col("signal6"), col("hist6"),
        when(col("hist6") > 0 && col("prev_hist6") <= 0, 1)
          .when(col("hist6") < 0 && col("prev_hist6") >= 0, -1)
          .otherwise(0).as("cross_flag"))
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }

  /** q99: Bollinger bands (Bollinger 1983) — the rolling-window
    * volatility envelope beside q49's geometric-kernel band: over the
    * trailing 8 prints, mid = rolling mean, bands = mid ± 2·sd, %B
    * locates the print inside the envelope, and the relative band
    * width is the squeeze/expansion gauge. Windows with < 4 prints
    * report NULL stats rather than dropping the row (q85's
    * thin-series lesson).
    *
    * Exactness: rolling moments are exact long/decimal(38,0) sums of
    * the 1e-4 input longs over ROWS frames; mid6/sd6 are each ONE
    * floored IEEE expression over those exact integers, the band
    * edges are exact long arithmetic, the breach flag an exact
    * integer comparison, and %B / width one guarded IEEE division
    * each.
    *
    * Scale shape: ONE series-key exchange — every rolling frame and
    * the final projection share the (ts, event_id) sort; O(W)/row
    * work, no joins.
    */
  def q99Bollinger(s: SparkSession, dir: String,
      window: Int = 8, minN: Int = 4): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val wRoll = wAsc.rowsBetween(-(window - 1), Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("n", count(lit(1)).over(wRoll))
      .withColumn("s1", sum(col("v4l")).over(wRoll))
      .withColumn("s2",
        sum((d19(col("v4l")) * d19(col("v4l"))).cast("decimal(38,0)"))
          .over(wRoll))
      .withColumn("mid6",
        floor(col("s1").cast("double") / col("n") * lit(100.0) + lit(0.5))
          .cast("long"))
      .withColumn("c",
        (dec(col("n")) * col("s2") - dec(col("s1")) * dec(col("s1")))
          .cast("decimal(38,0)"))
      .withColumn("sd6",
        when(col("n") >= minN,
          floor(sqrt(greatest(col("c"), lit(0)).cast("double") /
            (col("n") * (col("n") - 1))) * lit(100.0) + lit(0.5))
            .cast("long")))
      .withColumn("upper6", col("mid6") + lit(2L) * col("sd6"))
      .withColumn("lower6", col("mid6") - lit(2L) * col("sd6"))
      .withColumn("v6", col("v4l") * lit(100L))
      .select(
        col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("date_recorded"),
        (col("v4l") / lit(10000.0)).as("value"),
        col("mid6"), col("sd6"), col("upper6"), col("lower6"),
        when(col("sd6") > 0,
          floor((col("v6") - col("lower6")).cast("double") /
            (col("upper6") - col("lower6")) * lit(1000000.0) + lit(0.5))
            .cast("long")).as("pctb6"),
        when(col("sd6").isNotNull && col("mid6") =!= 0,
          floor((col("upper6") - col("lower6")).cast("double") /
            abs(col("mid6")) * lit(1000000.0) + lit(0.5))
            .cast("long")).as("bandwidth6"),
        when(col("sd6").isNotNull && col("v6") > col("upper6"), 1)
          .when(col("sd6").isNotNull && col("v6") < col("lower6"), -1)
          .otherwise(0).as("band_flag"))
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }

  /** q100: ROLLING pairwise correlation — q94's matrix unrolled along
    * the calendar: for every unordered ticker pair within an event
    * type, Pearson r over the trailing 8 COMMON daily closes, per
    * overlap day. Where q94 answers "which pairs co-move overall",
    * the rolling series shows WHEN a correlation regime formed or
    * broke — the decorrelation onset q59 flags gets a date.
    *
    * Exactness: q94's discipline per frame — closes are 1e-4 longs,
    * the five rolling moments are exact decimal(38,0) sums over ROWS
    * frames, r is ONE guarded IEEE chain 1e-6-floored; frames with
    * < 4 common days report NULL r (q85's lesson).
    *
    * Scale shape: corpus → per-day close table (ONE (ticker, day)
    * exchange); the pair join fans tickers² per (type, day) — q94's
    * catalog-quadratic semantics, the OUTPUT is pair-days by
    * definition — then ONE pair-key exchange sorts each pair's
    * overlap calendar for the rolling frames. Moment work is
    * O(W)/row; no global windows.
    */
  def q100RollingCorr(s: SparkSession, dir: String,
      window: Int = 8, minN: Int = 4): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val closes = dailyCloses(s, dir)
    val a = closes.select(col("event_type"), col("day"),
      col("user_id").as("user_a"), col("y").as("ya"))
    val b = closes.select(col("event_type"), col("day"),
      col("user_id").as("user_b"), col("y").as("yb"))
    val wPair = Window.partitionBy(col("event_type"), col("user_a"),
      col("user_b")).orderBy(col("day"))
      .rowsBetween(-(window - 1), Window.currentRow)
    a.join(b, Seq("event_type", "day"))
      .filter(col("user_a") < col("user_b"))
      .withColumn("n_win", count(lit(1)).over(wPair))
      .withColumn("sx", sum(col("ya")).over(wPair))
      .withColumn("sy", sum(col("yb")).over(wPair))
      .withColumn("sxx",
        sum((d19(col("ya")) * d19(col("ya"))).cast("decimal(38,0)"))
          .over(wPair))
      .withColumn("syy",
        sum((d19(col("yb")) * d19(col("yb"))).cast("decimal(38,0)"))
          .over(wPair))
      .withColumn("sxy",
        sum((d19(col("ya")) * d19(col("yb"))).cast("decimal(38,0)"))
          .over(wPair))
      .withColumn("num",
        (dec(col("n_win")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
          .cast("decimal(38,0)"))
      .withColumn("dx",
        (dec(col("n_win")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
          .cast("decimal(38,0)"))
      .withColumn("dy",
        (dec(col("n_win")) * col("syy") - dec(col("sy")) * dec(col("sy")))
          .cast("decimal(38,0)"))
      .withColumn("corr6",
        when(col("n_win") >= minN && col("dx") > 0 && col("dy") > 0,
          floor(col("num").cast("double") /
            sqrt(col("dx").cast("double") * col("dy").cast("double")) *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .select(col("event_type"), col("user_a"), col("user_b"), col("day"),
        col("n_win"), col("corr6"),
        when(abs(col("corr6")) >= 800000L, 1).otherwise(0)
          .as("comove_flag"))
      .orderBy(col("event_type"), col("user_a"), col("user_b"), col("day"))
  }

  /** RiskMetrics decay for q101, truncated at 10 taps (λ^10 ≈ 0.056 —
    * q49's finite-kernel discipline; the head renormalizes anyway).
    */
  private[graft] val VolLambda = 0.75
  private[graft] val VolTaps = 10
  private[graft] val VolW: Seq[Double] =
    (0 until VolTaps).map(j => math.pow(VolLambda, j))

  /** q101: EWMA VOLATILITY (RiskMetrics 1996) — the conditional-scale
    * estimate beside q49's conditional-level band: recent squared
    * increments exponentially weighted into a rolling σ̂_t, each new
    * increment standardized against the PREVIOUS print's σ̂ (the
    * causal innovation a risk desk actually monitors), spiked at 3σ.
    * A level detector scores |Δ| against ONE global σ; this scores it
    * against the volatility REGIME — a 2-unit move is an anomaly in a
    * calm regime and noise in a turbulent one.
    *
    * Exactness: d is an exact 1e-4 long, x = d² div 10⁴ an exact
    * integer on both engines, the kernel a finite weighted sum with
    * identical double literals (q98's discipline), σ̂ 1e-6-floored to
    * a long, and the innovation ONE IEEE division over the quantized
    * longs. Head rows renormalize; the first print has no increment
    * and reports NULL.
    *
    * Scale shape: ONE series-key exchange — diff lag, the kernel's
    * lag taps and the σ̂ lag all ride the same (ts, event_id) sort.
    */
  def q101RiskmetricsVol(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("d", col("v4l") - lag(col("v4l"), 1).over(wAsc))
      // x = d² in 1e-4 units of squared value: exact integer floor
      // division on both engines, keeps n·x − S inside decimal(38,0)
      .withColumn("x", expr("(d * d) div 10000L"))
    val lags = VolW.zipWithIndex.map { case (w, j) =>
      (lag(col("x"), j).over(wAsc), lit(w))
    }
    val num = lags.map { case (lv, w) =>
      when(lv.isNotNull, w * lv).otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    val den = lags.map { case (lv, w) =>
      when(lv.isNotNull, w).otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    base
      .withColumn("vol6",
        when(col("x").isNotNull,
          floor(sqrt(num / den) * lit(100.0) + lit(0.5)).cast("long")))
      .withColumn("vol6_prev", lag(col("vol6"), 1).over(wAsc))
      .withColumn("z6",
        when(col("d").isNotNull && col("vol6_prev") > 0,
          floor((col("d") * lit(100L)).cast("double") /
            col("vol6_prev") * lit(1000000.0) + lit(0.5)).cast("long")))
      .select(
        col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("date_recorded"),
        (col("v4l") / lit(10000.0)).as("value"),
        (col("d") / lit(10000.0)).as("diff"),
        col("vol6"), col("z6"),
        when(abs(col("z6")) >= 3000000L, 1).otherwise(0)
          .as("vol_spike_flag"))
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }

  /** q102: ARCH-effect portmanteau (McLeod & Li 1983; Engle 1982) —
    * q78's Ljung–Box machinery pointed at the SQUARED increments:
    * white diffs can still carry volatility CLUSTERING (big moves
    * follow big moves), which q78 cannot see because clustering lives
    * in the second moment. Q = n(n+2)·Σ r_k²/(n−k) over the first
    * h = 5 autocorrelations of d², rejected against χ²(5, .05); a
    * flagged ticker needs q101's regime σ, not a global σ.
    *
    * Exactness: x = d² div 10⁴ exact integers (q101's compaction —
    * keeps e = n·x − S and its squares inside decimal(38,0)), then
    * verbatim q78: exact HUGEINT lag cross-sums, one shared IEEE
    * chain per term 1e-9-floored, Q9 an exact long.
    *
    * Scale shape: q78's exactly — ONE ticker exchange reused by the
    * diff lag, the moment window, the h residual-lag windows and the
    * map-side-combined groupBy.
    */
  def q102ArchTest(s: SparkSession, dir: String, h: Int = 5,
      minDiffs: Int = 8): DataFrame = {
    require(h >= 1 && h < minDiffs, "need h lags inside the min history")
    val d23 = (c: Column) => c.cast("decimal(23,0)")
    val diffs = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("d", col("v4l") - lag(col("v4l"), 1).over(wAsc))
      .filter(col("d").isNotNull)
      .withColumn("x", expr("(d * d) div 10000L"))
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("e", (d23(col("n")) * d23(col("x")) -
        d23(sum(col("x")).over(wKey))).cast("decimal(23,0)"))
    val lagged = (1 to h).foldLeft(diffs) { (df, k) =>
      df.withColumn(s"p$k",
        (col("e") * lag(col("e"), k).over(wAsc)).cast("decimal(38,0)"))
    }
    val aggs = sum((col("e") * col("e")).cast("decimal(38,0)"))
      .as("c") +: (1 to h).map(k => sum(col(s"p$k")).as(s"a$k"))
    val mom = lagged.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), aggs: _*)
      .filter(col("n") >= minDiffs)
    val withR = (1 to h).foldLeft(mom) { (df, k) =>
      df.withColumn(s"r$k",
        when(col("c") > 0,
          col(s"a$k").cast("double") / col("c").cast("double")))
        .withColumn(s"t$k",
          floor(col(s"r$k") * col(s"r$k") / (col("n") - lit(k)) *
            lit(1.0e9) + lit(0.5)).cast("long"))
    }
    withR
      .withColumn("sum9", (1 to h).map(k => col(s"t$k")).reduce(_ + _))
      .withColumn("arch_q9", col("n") * (col("n") + lit(2)) * col("sum9"))
      .select(col("user_id"), col("event_type"), col("n").as("n_diffs"),
        floor(col("r1") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("acf2_1_6"),
        col("arch_q9"),
        when(col("arch_q9") > lit(11070500000L), 1).otherwise(0)
          .as("arch_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q104: SEASONAL PROFILE grid — the (weekday × hour) habit table
    * the decomposition detectors ASSUME exists: per event type, print
    * volume and mean level per calendar cell, the cell's share of the
    * type's volume, and a hot-cell flag where the cell mean leaves
    * the type's ±2σ band — the table that answers "is Monday 09:00
    * always like this?" before q17 subtracts it.
    *
    * Determinism: weekday/hour are pure epoch integer arithmetic
    * ((days+4) mod 7 — no engine dayofweek() convention; q97's
    * lesson); cell and type moments are exact long/decimal(38,0)
    * sums; mean/σ are each ONE floored IEEE expression; the share is
    * an exact integer division; the hot flag an exact long compare.
    *
    * Scale shape: ONE map-side-combined (type, dow, hour) groupBy
    * over the corpus (catalog×168-bounded output) + a broadcast-sized
    * per-type roll-up joined back. No windows, no corpus re-scan —
    * the type stats derive from the CELL table.
    */
  def q104SeasonalProfile(s: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val cells = Tables.events(s, dir)
      .select(col("event_type"),
        expr("(unix_micros(ts) div 86400000000L + 4) % 7").as("dow"),
        expr("(unix_micros(ts) % 86400000000L) div 3600000000L").as("hour"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .groupBy(col("event_type"), col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("v4l")).as("s1"),
        sum((d19(col("v4l")) * d19(col("v4l"))).cast("decimal(38,0)"))
          .as("s2"))
    val types = cells.groupBy(col("event_type"))
      .agg(sum(col("n")).as("tn"), sum(col("s1")).as("ts1"),
        sum(col("s2")).as("ts2"))
      .withColumn("tmean6",
        floor(col("ts1").cast("double") / col("tn") * lit(100.0) + lit(0.5))
          .cast("long"))
      .withColumn("tc",
        (dec(col("tn")) * col("ts2") - dec(col("ts1")) * dec(col("ts1")))
          .cast("decimal(38,0)"))
      .withColumn("tsd6",
        when(col("tn") > 1,
          floor(sqrt(greatest(col("tc"), lit(0)).cast("double") /
            (col("tn") * (col("tn") - 1))) * lit(100.0) + lit(0.5))
            .cast("long")))
    cells.join(broadcast(types.select(col("event_type"), col("tn"),
        col("tmean6"), col("tsd6"))), Seq("event_type"))
      .withColumn("mean6",
        floor(col("s1").cast("double") / col("n") * lit(100.0) + lit(0.5))
          .cast("long"))
      .select(col("event_type"), col("dow"), col("hour"), col("n"),
        col("mean6"),
        expr("(n * 1000000L) div tn").as("vol_share6"),
        when(col("tsd6").isNotNull &&
          abs(col("mean6") - col("tmean6")) > lit(2L) * col("tsd6"), 1)
          .otherwise(0).as("hot_flag"))
      .orderBy(col("event_type"), col("dow"), col("hour"))
  }

  /** q105: AR(1) MEAN-REVERSION HALF-LIFE — the "how fast does it
    * come back" companion to q91/q93's "does it come back": the lag-1
    * autocorrelation of the LEVEL series is the AR(1) coefficient
    * estimate φ, and t½ = −ln 2/ln φ converts it to periods — the
    * number a desk quotes ("shocks decay in ~6 prints") and the
    * window length q53/q99 should be sized by. φ ≥ 1 (unit root /
    * trending) reports NULL half-life with the diverging flag.
    *
    * Exactness: q78's residual machinery on LEVELS — e = n·x − S
    * exact decimal(23,0), A₁/C exact decimal(38,0)/HUGEINT cross-
    * sums, φ ONE division 1e-6-floored, and t½ ONE log chain over
    * the QUANTIZED φ (identical parse both engines).
    *
    * Scale shape: ONE ticker exchange — the moment window, the lag
    * window and the map-side-combined groupBy all reuse it.
    */
  def q105Ar1HalfLife(s: SparkSession, dir: String,
      minObs: Int = 8): DataFrame = {
    val d23 = (c: Column) => c.cast("decimal(23,0)")
    val levels = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("x"))
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("e", (d23(col("n")) * d23(col("x")) -
        d23(sum(col("x")).over(wKey))).cast("decimal(23,0)"))
      .withColumn("p1",
        (col("e") * lag(col("e"), 1).over(wAsc)).cast("decimal(38,0)"))
    levels.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("e") * col("e")).cast("decimal(38,0)")).as("c"),
        sum(col("p1")).as("a1"))
      .filter(col("n") >= minObs)
      .withColumn("phi6",
        when(col("c") > 0,
          floor(col("a1").cast("double") / col("c").cast("double") *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .withColumn("half_life6",
        when(col("phi6") > 0 && col("phi6") < 1000000L,
          floor(lit(-0.6931471805599453) /
            log(col("phi6") / lit(1000000.0)) * lit(1000000.0) + lit(0.5))
            .cast("long")))
      .select(col("user_id"), col("event_type"), col("n").as("n_obs"),
        col("phi6"), col("half_life6"),
        when(col("phi6") >= 1000000L, 1).otherwise(0)
          .as("diverging_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q106: INTERARRIVAL BURSTINESS (Goh & Barabási 2008) — the feed-
    * cadence profile q08's staleness verdict aggregates away: per
    * series the exact µs gap moments, the coefficient of variation,
    * and B = (σ−μ)/(σ+μ) ∈ [−1, 1) — B ≈ −1 metronome, B ≈ 0 Poisson,
    * B → 1 bursty. A feed that prints in bursts then sleeps passes
    * every staleness check on average while violating it half the
    * time; B is the number that says so.
    *
    * Exactness: gaps are exact µs longs off one lag pass; moments
    * exact long/decimal(38,0); mean an exact integer division; σ ONE
    * floored IEEE sqrt; CV and B one guarded IEEE division each over
    * the QUANTIZED integers. < minGaps series report NULL stats
    * (q85's lesson).
    *
    * Scale shape: ONE series exchange — the lag window and the
    * map-side-combined groupBy reuse it.
    */
  def q106Burstiness(s: SparkSession, dir: String,
      minGaps: Int = 4): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      .withColumn("g",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wAsc))
      .filter(col("g").isNotNull)
    gaps.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("s1"),
        sum((d19(col("g")) * d19(col("g"))).cast("decimal(38,0)"))
          .as("s2"))
      .withColumn("mean_gap_us", expr("s1 div n"))
      .withColumn("c",
        (dec(col("n")) * col("s2") - dec(col("s1")) * dec(col("s1")))
          .cast("decimal(38,0)"))
      .withColumn("sd_gap_us",
        when(col("n") >= minGaps,
          floor(sqrt(greatest(col("c"), lit(0)).cast("double") /
            (col("n") * (col("n") - 1))) + lit(0.5)).cast("long")))
      .select(col("user_id"), col("event_type"), col("n").as("n_gaps"),
        col("mean_gap_us"), col("sd_gap_us"),
        when(col("mean_gap_us") > 0,
          floor(col("sd_gap_us").cast("double") / col("mean_gap_us") *
            lit(1000000.0) + lit(0.5)).cast("long")).as("cv6"),
        when(col("sd_gap_us") + col("mean_gap_us") > 0,
          floor((col("sd_gap_us") - col("mean_gap_us")).cast("double") /
            (col("sd_gap_us") + col("mean_gap_us")) * lit(1000000.0) +
            lit(0.5)).cast("long")).as("burstiness6"))
      .withColumn("bursty_flag",
        when(col("burstiness6") > 300000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q110: MODIFIED Z-SCORE (Iglewicz & Hoaglin 1993) — the global
    * robust screen between q06 (mean/σ — masked by its own outliers)
    * and q53 (rolling local): Mᵢ = 0.6745·(x − median)/MAD against
    * the canonical 3.5 bar, per print. One fat-finger print inflates
    * q06's σ enough to hide a second one; the median/MAD pair doesn't
    * move.
    *
    * Exactness: median and MAD are SELECTED INPUT VALUES (q42's lower
    * -median rank (n+1) div 2 over (v4l, id) and (|dev|, id)), so dev
    * and MAD are exact longs end to end; Mᵢ is ONE IEEE chain over
    * exact integers, 1e-6-floored; the MAD = 0 degenerate series
    * falls back to the dev > 0 test (q53's convention).
    *
    * Scale shape: ONE series-key exchange reused by both rank windows
    * and both key-co-partitioned median joins; O(1)/row otherwise.
    */
  def q110ModifiedZscore(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("rn", row_number().over(
        wKey.orderBy(col("v4l"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(wKey))
    val med = base.filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("user_id"), col("event_type"), col("v4l").as("med4l"))
    val withDev = base.join(med, Seq("user_id", "event_type"))
      .withColumn("dev", abs(col("v4l") - col("med4l")))
      .withColumn("rd", row_number().over(
        wKey.orderBy(col("dev"), col("event_id"))))
    val mad = withDev.filter(col("rd") === expr("(n + 1) div 2"))
      .select(col("user_id"), col("event_type"), col("dev").as("mad4l"))
    withDev.join(mad, Seq("user_id", "event_type"))
      .withColumn("mz6",
        when(col("mad4l") > 0,
          floor(lit(0.6745) * (col("v4l") - col("med4l")) / col("mad4l") *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("date_recorded"),
        (col("v4l") / lit(10000.0)).as("value"),
        (col("med4l") / lit(10000.0)).as("series_median"),
        (col("mad4l") / lit(10000.0)).as("mad"),
        col("mz6"),
        when(col("mad4l") > 0 && abs(col("mz6")) >= 3500000L, 1)
          .when(col("mad4l") === 0 && col("dev") > 0, 1)
          .otherwise(0).as("mz_flag"))
      .orderBy(col("user_id"), col("event_type"), col("date_recorded"),
        col("event_id"))
  }

  /** q107: EVENT-TYPE TRANSITION MATRIX — the first-order Markov
    * profile of user behavior: over each user's time-ordered event
    * stream, count (from → to) type transitions, the row-conditional
    * probability, and the self-loop share — the table that turns "user
    * 7 did X then Y" into "X → Y is a 0.2% path corpus-wide" (the
    * navigational prior a funnel like q73 assumes).
    *
    * Determinism: transitions off ONE lag over the (user; ts,
    * event_id) order; counts exact; the probability an exact integer
    * division (cnt·10⁶ div row total).
    *
    * Scale shape: ONE user-key exchange for the lag, then a
    * map-side-combined groupBy on the (from, to) catalog pair —
    * catalog², volume-independent output; the row-total join is
    * catalog-sized and broadcast.
    */
  def q107MarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(wUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val totals = trans.groupBy(col("from_type"))
      .agg(sum(col("n_trans")).as("from_total"))
    trans.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        col("from_total"),
        expr("(n_trans * 1000000L) div from_total").as("p6"),
        when(col("from_type") === col("to_type"), 1).otherwise(0)
          .as("self_loop"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** q108: LEAD–LAG CROSS-CORRELATION table — q94's contemporaneous
    * matrix extended along the lag axis: per unordered ticker pair,
    * Pearson r between A's close and B's close ℓ COMMON TRADING DAYS
    * later, ℓ ∈ −3..+3 — the CCF row that turns "A and B co-move"
    * into "A LEADS B by two days" (a supply-chain/settlement-delay
    * signal the symmetric matrix cannot see; Box & Jenkins's
    * cross-correlogram). ℓ counts steps along the pair's shared
    * calendar (the series a trader actually aligns), and ℓ = 0
    * reproduces q94.
    *
    * Exactness: q94's discipline per (pair, lag) cell — 1e-4 close
    * longs, five exact decimal(38,0)/HUGEINT moments, ONE guarded
    * IEEE chain 1e-6-floored, < minDays overlaps excluded
    * identically.
    *
    * Scale shape (round-13 rewrite, q129's posture): corpus → close
    * table once (one (ticker, day) exchange), each ticker collapsed
    * to ONE day-sorted close array; one side broadcasts and the
    * ticker-pair BroadcastHashJoin generates each pair IN-TASK, where
    * the native [[graft.functions.CcfMoments]] expression
    * merge-intersects the arrays and computes ALL 2·maxLag+1 per-lag
    * exact moment sets in one compiled pass; the lag explode is
    * row-local over its 7-struct result and NOTHING pair-sized ever
    * shuffles. The per-lag overlap rows are exactly those the old
    * pair-key lead/lag window + null filter kept, and the moment sums
    * are the same exact integers, so the decimal num/dx/dy chain —
    * and the join-form ORACLE — are unchanged. Plan history at sf0.1:
    * per-calendar-lag re-join 124 s → 42-wide conditional aggregates
    * 68 s → explode-then-combine over 152M intermediate rows 41 s
    * (25–61 s as measured in r12/r13 suites) → this in-task plan.
    * Output is (pair, lag)-sized: quadratic in CATALOG by semantics,
    * like q94 — the same pair-budget gate applies; broadcast side =
    * tickers × d closes (q129's ~100 MB-at-750k-tickers bound,
    * bucketed ticker-pair join past it).
    */
  def q108CrossCorrelation(s: SparkSession, dir: String, maxLag: Int = 3,
      minDays: Int = 5): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val closes = dailyCloses(s, dir)
    // budget-gated pair join (PairPlan); pairs are born in-task, all
    // 2·maxLag+1 exact per-lag moment sets come out of ONE compiled
    // CcfMoments pass, and the explode is row-local
    PairPlan.tickerPairs(s, closes)
      .withColumn("sh",
        explode(expr(s"ccf_moments(ad_a, ay_a, ad_b, ay_b, $maxLag)")))
      .select(col("event_type"), col("user_a"), col("user_b"),
        col("sh.lag").as("lag"), col("sh.n").as("n_days"),
        col("sh.sx").as("sx"), col("sh.sy").as("sy"),
        dec(col("sh.sxx")).as("sxx"), dec(col("sh.syy")).as("syy"),
        dec(col("sh.sxy")).as("sxy"))
      .filter(col("n_days") >= minDays)
      .withColumn("num",
        (dec(col("n_days")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
          .cast("decimal(38,0)"))
      .withColumn("dx",
        (dec(col("n_days")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
          .cast("decimal(38,0)"))
      .withColumn("dy",
        (dec(col("n_days")) * col("syy") - dec(col("sy")) * dec(col("sy")))
          .cast("decimal(38,0)"))
      .withColumn("ccf6",
        when(col("dx") > 0 && col("dy") > 0,
          floor(col("num").cast("double") /
            sqrt(col("dx").cast("double") * col("dy").cast("double")) *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .select(col("event_type"), col("user_a"), col("user_b"), col("lag"),
        col("n_days"), col("ccf6"),
        when(col("lag") =!= 0 && abs(col("ccf6")) >= 800000L, 1)
          .otherwise(0).as("lead_flag"))
      .orderBy(col("event_type"), col("user_a"), col("user_b"), col("lag"))
  }

  /** q109: PERCENTILE ENVELOPE + latest-print rank — "where does
    * TODAY sit in this ticker's own history": exact selection
    * quantiles (P5/P25/P50/P75/P95, q42's deterministic lower-rank
    * pick at k = (n−1)·p div 100 + 1) and the latest print's exact
    * midrank percentile, flagged when it escapes the 5–95 envelope.
    * The z-score assumes a bell; the envelope is the distribution-
    * free version of the same question.
    *
    * Determinism: ranks are row_number over the total (v4l, event_id)
    * order; each quantile is ONE conditional max at an integer rank;
    * the percentile is the exact midrank integer formula
    * (2·|{<v}| + |{=v}| + 1)·10⁶ div (2n) — no doubles anywhere
    * except the final /1e4 display cast.
    *
    * Scale shape: ONE series exchange — the rank window, the value
    * counts and the map-side-combined roll-up all reuse it; output is
    * one row per ticker.
    */
  def q109PercentileEnvelope(s: SparkSession, dir: String): DataFrame = {
    val wVal = Window.partitionBy(keyCols: _*)
      .orderBy(col("v4l"), col("event_id"))
    val wLatest = Window.partitionBy(keyCols: _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("rk", row_number().over(wVal))
      .withColumn("lrk", row_number().over(wLatest))
    def kp(p: Int): Column = expr(s"((n - 1) * $p) div 100 + 1")
    def sel(p: Int): Column =
      max(when(col("rk") === kp(p), col("v4l"))).as(s"p$p")
    val stats = base
      .withColumn("n", count(lit(1)).over(wKey))
      .groupBy(col("user_id"), col("event_type"), col("n"))
      .agg(sel(5), sel(25), sel(50), sel(75), sel(95),
        max(when(col("lrk") === 1, col("v4l"))).as("latest"))
    val latestRank = base
      .withColumn("latest_v",
        max(when(col("lrk") === 1, col("v4l"))).over(wKey))
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(when(col("v4l") < col("latest_v"), 1L).otherwise(0L))
          .as("n_lt"),
        sum(when(col("v4l") === col("latest_v"), 1L).otherwise(0L))
          .as("n_eq"))
    stats.join(latestRank, Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"), col("n").as("n_obs"),
        (col("p5") / lit(10000.0)).as("p05"),
        (col("p25") / lit(10000.0)).as("p25"),
        (col("p50") / lit(10000.0)).as("p50"),
        (col("p75") / lit(10000.0)).as("p75"),
        (col("p95") / lit(10000.0)).as("p95"),
        (col("latest") / lit(10000.0)).as("latest_value"),
        expr("((2L * n_lt + n_eq + 1L) * 1000000L) div (2L * n)")
          .as("latest_pct6"),
        when(col("latest") < col("p5") || col("latest") > col("p95"), 1)
          .otherwise(0).as("outside_env_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q111: pairwise GRANGER CAUSALITY (Granger 1969) — the
    * significance test q77/q108 stop short of: per peer pair the
    * lag-1 restricted-vs-unrestricted regression F, both directions.
    * "A's yesterday improves the AR(1) forecast of B today" is the
    * defensible form of "A leads B"; a big q108 cross-correlation
    * can be pure common trend, the F-test conditions it on B's own
    * past. Unrestricted y_t = a + b·y_{t−1} + c·x_{t−1}; restricted
    * drops x; F = (RSS_r − RSS_u)·(n−3)/RSS_u ~ F(1, n−3), flagged
    * at the conventional 4.0.
    *
    * Exactness: q108's daily-close collapse and common-day lag
    * discipline; all 13 pair moments are exact decimal(38,0); the
    * centered normal-equation terms S′ = n·Σxy − ΣxΣy are exact
    * integers n× the centered sums (the n factors cancel in b, c and
    * in the F ratio — RSS′ = n·RSS throughout); the closed-form 2×2
    * solve and F are ONE shared IEEE chain over those integers,
    * 1e-6-floored. Degenerate pairs (constant regressor, singular
    * normal matrix, zero residual) report NULL F (q85's convention).
    *
    * Scale shape: q94/q108's class — one daily-close collapse, ONE
    * pair equi-join on (event_type, day), one pair-key lag window
    * feeding a map-side-combined 13-aggregate groupBy; output is one
    * row per pair. Catalog-quadratic BY SEMANTICS; the 100× knob is
    * bounding the pair set, not the plan.
    */
  def q111Granger(s: SparkSession, dir: String,
      minDays: Int = 8): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val closes = dailyCloses(s, dir)
    // round-13 rewrite (q94/q108/q129's posture): per-ticker
    // day-sorted close arrays, budget-gated pair join (PairPlan), the
    // compiled PairLagMoments pass — the (event_type, day) join +
    // pair lag window + shuffled 14-agg groupBy are gone; identical
    // exact moment sums feed the unchanged chain, so the join-form
    // oracle stays
    val mom = PairPlan.tickerPairs(s, closes)
      .withColumn("mo", expr("pair_lag_moments(ad_a, ay_a, ad_b, ay_b)"))
      .select(col("event_type"), col("user_a"), col("user_b"),
        col("mo.m").as("n"),
        col("mo.sya").as("sya"), col("mo.syb").as("syb"),
        col("mo.sya1").as("sya1"), col("mo.syb1").as("syb1"),
        dec(col("mo.saa")).as("saa"), dec(col("mo.sbb")).as("sbb"),
        dec(col("mo.sa1a1")).as("sa1a1"), dec(col("mo.sb1b1")).as("sb1b1"),
        dec(col("mo.sa1b1")).as("sa1b1"), dec(col("mo.sbb1")).as("sbb1"),
        dec(col("mo.sba1")).as("sba1"), dec(col("mo.saa1")).as("saa1"),
        dec(col("mo.sab1")).as("sab1"))
      .filter(col("n") >= minDays)
    // S' = n·Σxy − Σx·Σy (exact decimal), then the shared IEEE chain
    def sm(sxy: Column, sx: Column, sy: Column): Column =
      (dec(col("n")) * sxy - dec(sx) * dec(sy)).cast("decimal(38,0)")
        .cast("double")
    def fStat(syy: Column, s11: Column, s22: Column, s12: Column,
        s1y: Column, s2y: Column): Column = {
      val rr = syy - s1y * s1y / s11
      val det = s11 * s22 - s12 * s12
      val bb = (s1y * s22 - s2y * s12) / det
      val cc = (s2y * s11 - s1y * s12) / det
      val ru = syy - bb * s1y - cc * s2y
      val f = (rr - ru) * (col("n") - 3) / ru
      when(s11 > 0 && det > 0 && ru > 0,
        floor(f * lit(1000000.0) + lit(0.5)).cast("long"))
    }
    mom.select(col("event_type"), col("user_a"), col("user_b"),
        col("n").as("n_obs"),
        // A→B: y = yb, z1 = yb1 (own past), z2 = ya1 (A's past)
        fStat(sm(col("sbb"), col("syb"), col("syb")),
          sm(col("sb1b1"), col("syb1"), col("syb1")),
          sm(col("sa1a1"), col("sya1"), col("sya1")),
          sm(col("sa1b1"), col("syb1"), col("sya1")),
          sm(col("sbb1"), col("syb"), col("syb1")),
          sm(col("sba1"), col("syb"), col("sya1"))).as("f_ab6"),
        // B→A: y = ya, z1 = ya1, z2 = yb1
        fStat(sm(col("saa"), col("sya"), col("sya")),
          sm(col("sa1a1"), col("sya1"), col("sya1")),
          sm(col("sb1b1"), col("syb1"), col("syb1")),
          sm(col("sa1b1"), col("sya1"), col("syb1")),
          sm(col("saa1"), col("sya"), col("sya1")),
          sm(col("sab1"), col("sya"), col("syb1"))).as("f_ba6"))
      .withColumn("causal_ab",
        when(col("f_ab6") > 4000000L, 1).otherwise(0))
      .withColumn("causal_ba",
        when(col("f_ba6") > 4000000L, 1).otherwise(0))
      .orderBy(col("event_type"), col("user_a"), col("user_b"))
  }

  /** q112: ENGLE–GRANGER COINTEGRATION (Engle & Granger 1987) — the
    * pair family's final verdict: q94 says the pair co-moves, q111
    * says one leads, q112 says the SPREAD is tradable — do the two
    * level series share one stochastic trend, i.e. is yb − β·ya
    * stationary while each leg walks. Step 1 regresses B's close on
    * A's over the common days (levels, intercept); step 2 runs the
    * no-constant Dickey–Fuller on the residual (Δe_t = ρ·e_{t−1}),
    * t(ρ̂) below the Engle–Granger 5% bar −3.37 ⇒ cointegrated. Two
    * INDEPENDENT walks can show a huge q94 r yet fail step 2 — the
    * spurious-regression trap this test exists to catch.
    *
    * Exactness: q108's daily-close collapse; every moment — five
    * full-sample level moments (step 1's basis) AND fifteen
    * transition moments conditioned on the lag existing (step 2's
    * basis) — is an exact decimal(38,0); e_t = yb_t − α − β·ya_t is
    * LINEAR in (ya, yb), so Σe₁², Σe², Σe₁e expand over those exact
    * integers with coefficients in (α, β), and β, α, the residual
    * sums and the DF t are ONE shared IEEE chain, 1e-6-floored.
    * Degenerate pairs (constant leg, zero residual variance) report
    * NULL (q85's convention).
    *
    * Scale shape: q94/q111's class — one close collapse, ONE pair
    * equi-join on (event_type, day), one pair-key lag window, one
    * map-side-combined 20-aggregate groupBy, one row per pair.
    * Catalog-quadratic BY SEMANTICS; the 100× knob is bounding the
    * pair set, not the plan.
    */
  def q112Cointegration(s: SparkSession, dir: String,
      minDays: Int = 8): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    val closes = dailyCloses(s, dir)
    // round-13 rewrite (q111's twin): budget-gated per-ticker-array
    // pair join (PairPlan) + the compiled PairLagMoments pass replace
    // the join + lag window + shuffled 20-agg groupBy; the
    // lag-conditioned guards the old prodIf applied are the
    // expression's i ≥ 1 loop, so every sum is the same exact integer
    // and the oracle stays
    val mom = PairPlan.tickerPairs(s, closes)
      .withColumn("mo", expr("pair_lag_moments(ad_a, ay_a, ad_b, ay_b)"))
      .select(col("event_type"), col("user_a"), col("user_b"),
        col("mo.nf").as("nf"),
        col("mo.ua").as("ua"), col("mo.ub").as("ub"),
        dec(col("mo.uaa")).as("uaa"), dec(col("mo.uab")).as("uab"),
        col("mo.m").as("m"),
        col("mo.sya").as("sya"), col("mo.syb").as("syb"),
        col("mo.sya1").as("sya1"), col("mo.syb1").as("syb1"),
        dec(col("mo.saa")).as("saa"), dec(col("mo.sbb")).as("sbb"),
        dec(col("mo.sab")).as("sab"),
        dec(col("mo.sa1a1")).as("sa1a1"), dec(col("mo.sb1b1")).as("sb1b1"),
        dec(col("mo.sa1b1")).as("sa1b1"),
        dec(col("mo.saa1")).as("saa1"), dec(col("mo.sbb1")).as("sbb1"),
        dec(col("mo.sab1")).as("sab1"), dec(col("mo.sba1")).as("sba1"))
      .filter(col("m") >= minDays)
    val chain = mom
      .withColumn("bden", dd((dec(col("nf")) * col("uaa") -
        dec(col("ua")) * dec(col("ua"))).cast("decimal(38,0)")))
      .withColumn("bnum", dd((dec(col("nf")) * col("uab") -
        dec(col("ua")) * dec(col("ub"))).cast("decimal(38,0)")))
      // guard every division (ANSI): a NULL β/rss propagates to NULL
      // outputs exactly like the oracle's CASE chain
      .withColumn("beta",
        when(col("bden") > 0, col("bnum") / col("bden")))
      .withColumn("alpha",
        (dd(col("ub")) - col("beta") * dd(col("ua"))) / dd(col("nf")))
      // Σe₁² / Σe² / Σe₁e via the linear-residual expansion — term
      // order is the contract with the oracle's identical chain
      .withColumn("se1sq",
        dd(col("sb1b1")) - lit(2.0) * col("alpha") * dd(col("syb1")) -
          lit(2.0) * col("beta") * dd(col("sa1b1")) +
          dd(col("m")) * col("alpha") * col("alpha") +
          lit(2.0) * col("alpha") * col("beta") * dd(col("sya1")) +
          col("beta") * col("beta") * dd(col("sa1a1")))
      .withColumn("sesq",
        dd(col("sbb")) - lit(2.0) * col("alpha") * dd(col("syb")) -
          lit(2.0) * col("beta") * dd(col("sab")) +
          dd(col("m")) * col("alpha") * col("alpha") +
          lit(2.0) * col("alpha") * col("beta") * dd(col("sya")) +
          col("beta") * col("beta") * dd(col("saa")))
      .withColumn("se1e",
        dd(col("sbb1")) - col("alpha") * dd(col("syb1")) -
          col("beta") * dd(col("sab1")) - col("alpha") * dd(col("syb")) +
          dd(col("m")) * col("alpha") * col("alpha") +
          col("alpha") * col("beta") * dd(col("sya")) -
          col("beta") * dd(col("sba1")) +
          col("alpha") * col("beta") * dd(col("sya1")) +
          col("beta") * col("beta") * dd(col("saa1")))
      .withColumn("s1d", col("se1e") - col("se1sq"))
      .withColumn("sdd",
        col("sesq") - lit(2.0) * col("se1e") + col("se1sq"))
      .withColumn("rss",
        when(col("se1sq") > 0,
          col("sdd") - col("s1d") * col("s1d") / col("se1sq")))
    chain.select(col("event_type"), col("user_a"), col("user_b"),
        col("nf").as("n_days"),
        when(col("bden") > 0,
          floor(col("beta") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("beta6"),
        when(col("bden") > 0 && col("se1sq") > 0 && col("rss") > 0,
          floor(col("s1d") / sqrt(col("se1sq") *
            (col("rss") / (dd(col("m")) - lit(1.0)))) *
            lit(1000000.0) + lit(0.5)).cast("long")).as("df_t6"))
      .withColumn("coint_flag",
        when(col("df_t6") < -3370000L, 1).otherwise(0))
      .orderBy(col("event_type"), col("user_a"), col("user_b"))
  }

  /** q113: AUGMENTED DICKEY–FULLER unit-root test, lag-0 with
    * intercept (Dickey & Fuller 1979) — the stationarity verdict the
    * rest of §2A quietly assumes: q105's AR(1) half-life and q54/q67's
    * level forecasts only MEAN anything if the series reverts; a
    * random walk gives q105 a φ ≈ 1 whose "half-life" is noise. Per
    * series, regress Δy_t on (1, y_{t−1}); t(ρ̂) below the 5% DF bar
    * −2.86 rejects the unit root ⇒ mean-reverting.
    *
    * Exactness: v4l levels off one lag pass, Δ an exact long; the
    * five transition moments are exact decimal(38,0); ρ̂'s centered
    * numerator/denominator are exact integers; ρ̂, α̂, RSS (the
    * normal-equation form Sdd − α̂·Sd − ρ̂·S1d) and the t are ONE
    * shared IEEE chain, 1e-6-floored. Degenerate series (constant
    * level, zero residual) report NULL (q85's convention).
    *
    * Scale shape: ONE series exchange — the lag window and the
    * map-side-combined groupBy reuse it (q105/q78's class).
    *
    * CAVEAT (p = 0): this design assumes Δy is serially uncorrelated.
    * On series whose increments autocorrelate (most real tickers),
    * the t-stat is size-distorted — negative Δy-autocorrelation makes
    * it OVER-reject. q133AdfLag adds the Δy_{t−1} regressor that
    * absorbs those short-run dynamics; prefer it when q78/q88 show
    * lag-1 structure in the differences.
    */
  def q113AdfUnitRoot(s: SparkSession, dir: String,
      minObs: Int = 12): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dd = (c: Column) => c.cast("double")
    def prod(x: Column, y: Column): Column =
      sum((d19(x) * d19(y)).cast("decimal(38,0)"))
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("y1", lag(col("y"), 1).over(wAsc))
      .filter(col("y1").isNotNull)
      .withColumn("dy", col("y") - col("y1"))
    val mom = base.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("m"),
        sum(col("y1")).as("s1"), sum(col("dy")).as("sd"),
        prod(col("y1"), col("y1")).as("s11"),
        prod(col("y1"), col("dy")).as("s1d"),
        prod(col("dy"), col("dy")).as("sdd"))
      .filter(col("m") >= minObs)
    val chain = mom
      .withColumn("den", dd((dec(col("m")) * col("s11") -
        dec(col("s1")) * dec(col("s1"))).cast("decimal(38,0)")))
      .withColumn("num", dd((dec(col("m")) * col("s1d") -
        dec(col("s1")) * dec(col("sd"))).cast("decimal(38,0)")))
      .withColumn("rho",
        when(col("den") > 0, col("num") / col("den")))
      .withColumn("alpha",
        (dd(col("sd")) - col("rho") * dd(col("s1"))) / dd(col("m")))
      .withColumn("rss",
        dd(col("sdd")) - col("alpha") * dd(col("sd")) -
          col("rho") * dd(col("s1d")))
    chain.select(col("user_id"), col("event_type"),
        col("m").as("n_trans"),
        when(col("den") > 0,
          floor(col("rho") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("rho6"),
        when(col("den") > 0 && col("rss") > 0,
          floor(col("rho") / sqrt((col("rss") / (dd(col("m")) - lit(2.0))) *
            dd(col("m")) / col("den")) * lit(1000000.0) + lit(0.5))
            .cast("long")).as("adf_t6"))
      .withColumn("stationary_flag",
        when(col("adf_t6") < -2860000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q114: KPSS level-stationarity test, bandwidth 0 (Kwiatkowski,
    * Phillips, Schmidt & Shin 1992) — q113's mirror image: ADF's null
    * is the unit root (failing to reject ≠ stationary, it may just be
    * short data), KPSS's null is STATIONARITY, so running both splits
    * "no evidence" from "evidence of drift". η = Σ_t S_t² / (n²·σ̂²)
    * with S_t the partial sums of the demeaned series; η above the
    * 5% bar 0.463 rejects level stationarity ⇒ drifting.
    *
    * Exactness: n·S_t = n·P_t − t·T is an EXACT integer per row
    * (P_t prefix sum, T series total — the n² factors cancel against
    * σ̂²'s), so A = Σ(n·S_t)² and D = n·Q − T² are exact
    * decimal(38,0) and η = A/(n·n·D) is ONE IEEE chain, 1e-6-floored.
    * Bandwidth 0 means σ̂² is the plain variance — the deterministic
    * choice (a Newey–West bandwidth is a knob, not taken). Constant
    * series (D = 0) report NULL (q85's convention).
    *
    * Row ceiling: n·S_t is cast decimal(19,0), and with |y| ≤ 1e7
    * (value×1e4) |n·S_t| ≤ n²·max|y|, so a series longer than ~3.1e4
    * rows can overflow the 19-digit cap and throw under ANSI, while
    * the DuckDB oracle's HUGEINT partial sums survive to roughly
    * twice that length (its bound is Σ(n·S_t)² ≤ ~1.7e38) — the same
    * documented HUGEINT-bounded ceiling as q105/q113/q115. The sf
    * corpora cap series at ~1.5e3 rows; at 100 TB, pre-bucket series
    * above ~3e4 rows (e.g. KPSS per month) before calling this.
    *
    * Scale shape: ONE series exchange — q105's pattern: the full-key
    * window (n, T), the running prefix window and the final groupBy
    * all reuse it.
    */
  def q114Kpss(s: SparkSession, dir: String,
      minObs: Int = 12): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("t_tot", sum(col("y")).over(wKey))
      .withColumn("p", sum(col("y")).over(wRun))
      .withColumn("t_idx", row_number().over(wAsc))
      // n·S_t = n·P_t − t·T, exact per row
      .withColumn("e", (d19(col("n")) * d19(col("p")) -
        d19(col("t_idx")) * d19(col("t_tot"))).cast("decimal(19,0)"))
    val mom = rows.groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"), max(col("t_tot")).as("t_tot"),
        sum((d19(col("y")) * d19(col("y"))).cast("decimal(38,0)")).as("q"),
        sum((col("e") * col("e")).cast("decimal(38,0)")).as("a"))
      .filter(col("n") >= minObs)
      .withColumn("dvar", dd((dec(col("n")) * col("q") -
        dec(col("t_tot")) * dec(col("t_tot"))).cast("decimal(38,0)")))
    mom.select(col("user_id"), col("event_type"), col("n").as("n_obs"),
        when(col("dvar") > 0,
          floor(dd(col("a")) / (dd(col("n")) * dd(col("n")) * col("dvar")) *
            lit(1000000.0) + lit(0.5)).cast("long")).as("kpss6"))
      .withColumn("nonstat_flag",
        when(col("kpss6") > 463000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q115: CHOW STRUCTURAL-BREAK test at the series midpoint (Chow
    * 1960) — the regime question q82's single trend line assumes
    * away: a series whose drift RATE changed mid-sample fits one line
    * badly and two lines well, and F = ((RSS_p − RSS₁ − RSS₂)/2) /
    * ((RSS₁ + RSS₂)/(n − 4)) ~ F(2, n−4) quantifies it; flagged at
    * the 5% large-n bar 3.0. The midpoint is the standard no-prior
    * diagnostic split (q65's Pettitt estimates WHERE the break is;
    * Chow tests WHETHER the two halves share one line).
    *
    * Exactness: per segment (pooled, first half t ≤ n div 2, second
    * half) the six regression moments over (t, y) are exact
    * decimal(38,0) conditional sums off ONE pass; each RSS uses the
    * centered closed form RSS = (C − B²/A)/m with A = mΣt² − (Σt)²,
    * B = mΣty − ΣtΣy, C = mΣy² − (Σy)² exact integers; the three RSS
    * and F are ONE shared IEEE chain, 1e-6-floored. Degenerate fits
    * (RSS₁ + RSS₂ = 0: both halves exactly linear) report NULL
    * (q85's convention).
    *
    * Scale shape: ONE series exchange — the full-key count window,
    * the row-number window and the map-side-combined 13-aggregate
    * groupBy reuse it (q105/q114's class).
    */
  def q115ChowBreak(s: SparkSession, dir: String,
      minObs: Int = 16): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    def prodIf(g: Column, x: Column, y: Column): Column =
      sum(when(g, (d19(x) * d19(y)).cast("decimal(38,0)")))
    def sumIf(g: Column, x: Column): Column = sum(when(g, x))
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("t", row_number().over(wAsc).cast("long"))
      .withColumn("h1",
        col("t") <= floor(col("n") / lit(2.0)).cast("long"))
    val one = lit(true)
    def seg(tag: String, g: Column) = Seq(
      count(when(g, 1)).as(s"m$tag"),
      sumIf(g, col("t")).as(s"st$tag"),
      sumIf(g, col("y")).as(s"sy$tag"),
      prodIf(g, col("t"), col("t")).as(s"stt$tag"),
      prodIf(g, col("t"), col("y")).as(s"sty$tag"),
      prodIf(g, col("y"), col("y")).as(s"syy$tag"))
    val aggs = seg("p", one) ++ seg("1", col("h1")) ++ seg("2", !col("h1"))
    val mom = rows.groupBy(col("user_id"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("mp") >= minObs)
    // per segment: A = mΣtt − (Σt)², B = mΣty − ΣtΣy, C = mΣyy − (Σy)²
    def rssCol(tag: String): Column = {
      val a = dd((dec(col(s"m$tag")) * col(s"stt$tag") -
        dec(col(s"st$tag")) * dec(col(s"st$tag"))).cast("decimal(38,0)"))
      val b = dd((dec(col(s"m$tag")) * col(s"sty$tag") -
        dec(col(s"st$tag")) * dec(col(s"sy$tag"))).cast("decimal(38,0)"))
      val c = dd((dec(col(s"m$tag")) * col(s"syy$tag") -
        dec(col(s"sy$tag")) * dec(col(s"sy$tag"))).cast("decimal(38,0)"))
      (c - b * b / a) / dd(col(s"m$tag"))
    }
    val chain = mom
      .withColumn("rssp", rssCol("p"))
      .withColumn("rss1", rssCol("1"))
      .withColumn("rss2", rssCol("2"))
      .withColumn("rsss", col("rss1") + col("rss2"))
    chain.select(col("user_id"), col("event_type"),
        col("mp").as("n_obs"),
        when(col("rsss") > 0,
          floor((col("rssp") - col("rss1") - col("rss2")) / lit(2.0) /
            (col("rsss") / (dd(col("mp")) - lit(4.0))) *
            lit(1000000.0) + lit(0.5)).cast("long")).as("f_chow6"))
      .withColumn("break_flag",
        when(col("f_chow6") > 3000000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** p13: the REGIME PANEL — round 10's stationarity diagnostics
    * composed into the one report card a desk reads per ticker: q105's
    * AR(1) memory (φ, half-life), q113's ADF verdict, q114's KPSS
    * verdict, q115's structural-break F, and the joint REGIME call the
    * two opposed nulls license together — ADF rejects + KPSS doesn't ⇒
    * `mean_reverting`; ADF doesn't + KPSS rejects ⇒ `drifting`; both
    * reject ⇒ `conflict` (regime change mid-sample — read the Chow
    * column); neither ⇒ `inconclusive` (short data); ADF or KPSS
    * missing ⇒ `insufficient` (the regime call needs exactly the two
    * opposed nulls — a missing Chow F or AR(1) φ leaves those columns
    * NULL but does NOT retract a verdict the two tests licensed).
    * p05's composition discipline: the spine
    * is the ticker catalog (d20's lesson — a series too short for a
    * test is a VISIBLE row with NULLs, not a missing one), components
    * arrive already reduced to ticker cardinality, so every join is
    * broadcast-sized.
    *
    * Scale shape: four already-reduced component tables left-joined on
    * a catalog-cardinality spine — the cost is the components' (each
    * ONE series exchange over the corpus; the panel adds only
    * broadcast joins).
    */
  def p13RegimePanel(s: SparkSession, dir: String): DataFrame = {
    val key = Seq("user_id", "event_type")
    val spine = Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val ar = q105Ar1HalfLife(s, dir)
      .select(col("user_id"), col("event_type"), col("phi6"),
        col("half_life6"))
    val adf = q113AdfUnitRoot(s, dir)
      .select(col("user_id"), col("event_type"), col("rho6"),
        col("adf_t6"), col("stationary_flag"))
    val kp = q114Kpss(s, dir)
      .select(col("user_id"), col("event_type"), col("kpss6"),
        col("nonstat_flag"))
    val ch = q115ChowBreak(s, dir)
      .select(col("user_id"), col("event_type"), col("f_chow6"),
        col("break_flag"))
    spine
      .join(ar, key, "left")
      .join(adf, key, "left")
      .join(kp, key, "left")
      .join(ch, key, "left")
      .withColumn("regime",
        when(col("stationary_flag") === 1 && col("nonstat_flag") === 0,
          "mean_reverting")
        .when(col("stationary_flag") === 0 && col("nonstat_flag") === 1,
          "drifting")
        .when(col("stationary_flag") === 1 && col("nonstat_flag") === 1,
          "conflict")
        .when(col("stationary_flag") === 0 && col("nonstat_flag") === 0,
          "inconclusive")
        .otherwise("insufficient"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q116: JARQUE–BERA normality test per ticker (Jarque & Bera
    * 1980) — the residual-shape screen every parametric flag in this
    * file silently assumes: q06's z-score bar, q82's t-test and q115's
    * F are calibrated for Gaussian noise, and JB is the one statistic
    * that says whether that calibration is honest. JB = n·(g1²/6 +
    * g2²/24) from sample skewness g1 = M3/M2^1.5 and excess kurtosis
    * g2 = M4/M2² − 3; JB above the χ²₂ 5% bar 5.991 rejects
    * normality.
    *
    * Exactness: y is quantized at 1e-2 (NOT this file's usual 1e-4 —
    * JB consumes FOURTH powers, and the coarser grid is what keeps
    * n³·S4 and 3·S1⁴ inside 38 digits); the central moments come from
    * raw power sums via the exact integer identities M2 = nS2 − S1²,
    * M3 = n²S3 − 3nS1S2 + 2S1³, M4 = n³S4 − 4n²S1S3 + 6nS1²S2 −
    * 3S1⁴ (= n²m̂2 / n³m̂3 / n⁴m̂4, and the n powers cancel inside
    * g1/g2, which are scale- and shift-invariant), so the only
    * doubles are the final correctly-rounded decimal→double casts and
    * ONE shared IEEE chain, 1e-6-floored. Constant series (M2 = 0)
    * report NULL (q85's convention).
    *
    * Row ceiling: with |y| ≤ 5.7e4 (value×1e2) the binding term is
    * 3·S1⁴ ≤ 3(n·5.7e4)⁴ < 1e38 ⇒ n ≲ 3.1e4 rows per series —
    * q114's documented HUGEINT-bounded class (DuckDB's partial sums
    * cap at ~1.7e38, the same order). The sf corpora cap series at
    * ~1.5e3 rows; at 100 TB, pre-bucket longer series (e.g. JB per
    * quarter) before calling this.
    *
    * Scale shape: ONE series exchange — a single groupBy on the
    * ticker key computing five integer power sums map-side-partial;
    * no windows, no joins.
    */
  def q116JarqueBera(s: SparkSession, dir: String,
      minObs: Int = 8): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("y"))
    val mom = rows.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s1"),
        sum((d19(col("y")) * d19(col("y"))).cast("decimal(38,0)"))
          .as("s2"),
        sum(((d19(col("y")) * d19(col("y"))).cast("decimal(38,0)") *
          d19(col("y"))).cast("decimal(38,0)")).as("s3"),
        sum((((d19(col("y")) * d19(col("y"))).cast("decimal(38,0)") *
          d19(col("y"))).cast("decimal(38,0)") * d19(col("y")))
          .cast("decimal(38,0)")).as("s4"))
      .filter(col("n") >= minObs)
    val nD = dec(col("n"))
    val s1D = dec(col("s1"))
    val chain = mom
      .withColumn("m2i", (nD * col("s2") - s1D * s1D).cast("decimal(38,0)"))
      .withColumn("m3i", (nD * nD * col("s3")
        - lit(3) * nD * s1D * col("s2")
        + lit(2) * s1D * s1D * s1D).cast("decimal(38,0)"))
      .withColumn("m4i", (nD * nD * nD * col("s4")
        - lit(4) * nD * nD * s1D * col("s3")
        + lit(6) * nD * s1D * s1D * col("s2")
        - lit(3) * s1D * s1D * s1D * s1D).cast("decimal(38,0)"))
      .withColumn("m2d", dd(col("m2i")))
      .withColumn("sk", when(col("m2i") > 0,
        dd(col("m3i")) / (col("m2d") * sqrt(col("m2d")))))
      .withColumn("ku", when(col("m2i") > 0,
        dd(col("m4i")) / (col("m2d") * col("m2d")) - lit(3.0)))
    chain.select(col("user_id"), col("event_type"), col("n").as("n_obs"),
        floor(col("sk") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("skew6"),
        floor(col("ku") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("kurt6"),
        floor(dd(col("n")) * (col("sk") * col("sk") / lit(6.0) +
          col("ku") * col("ku") / lit(24.0)) * lit(1000000.0) + lit(0.5))
          .cast("long").as("jb6"))
      .withColumn("nonnormal_flag",
        when(col("jb6") > 5991000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q117: DURBIN–WATSON statistic on q82's trend residuals (Durbin
    * & Watson 1950) — the companion diagnostic q82's t-test needs:
    * its slope standard error assumes independent residuals, and DW =
    * Σ(Δe)²/Σe² ≈ 2(1−ρ̂₁) is the classic screen for serially
    * correlated residuals that silently invalidate it. DW near 2 ⇒
    * independent; below 1.5 ⇒ positive autocorrelation (the common
    * failure); above 2.5 ⇒ negative (over-differencing). The bars are
    * the textbook rule-of-thumb — the exact Durbin–Watson critical
    * values are (n, k)-dependent table lookups, a knob not taken.
    *
    * Exactness: residuals of the OLS fit y = a + b·t are made exact
    * by multiplying through by the integer determinant D = nΣt² −
    * (Σt)²: D·Δe_t = D·Δy_t − N_b (N_b = nΣty − ΣtΣy), so the
    * numerator A = Σ_{t≥2}(D·Δy_t − N_b)² is an exact integer, and
    * the denominator uses the closed form Σe² = (CY·D − N_b²)/(n·D)
    * (CY = nΣy² − (Σy)²), giving DW = A·n / (D·(CY·D − N_b²)) — all
    * integer moments, ONE IEEE chain, 1e-6-floored. A perfect linear
    * fit (CY·D = N_b²) reports NULL.
    *
    * Row ceiling: y is quantized at 1e-2 (like q116 — D ~ n⁴/12
    * enters A SQUARED, the steepest growth in this file): A ≤
    * n(Δy·D)² ≲ 8.4e7·n⁹ < 1e38 ⇒ n ≲ 2.1e3 rows per series, the
    * tightest documented ceiling here (DuckDB's HUGEINT bound is the
    * same order). The sf corpora cap series at ~1.5e3 rows; at
    * 100 TB, pre-bucket (DW per quarter) above that.
    *
    * Scale shape: ONE series exchange — the full-key window moments,
    * the lag and the final groupBy all reuse the same hash partition.
    */
  def q117DurbinWatson(s: SparkSession, dir: String,
      minObs: Int = 8): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("t", row_number().over(wAsc).cast("long"))
      .withColumn("st", sum(col("t")).over(wKey))
      .withColumn("sy", sum(col("y")).over(wKey))
      .withColumn("stt", sum((d19(col("t")) * d19(col("t")))
        .cast("decimal(38,0)")).over(wKey))
      .withColumn("sty", sum((d19(col("t")) * d19(col("y")))
        .cast("decimal(38,0)")).over(wKey))
      .withColumn("syy", sum((d19(col("y")) * d19(col("y")))
        .cast("decimal(38,0)")).over(wKey))
      .withColumn("dy", col("y") - lag(col("y"), 1).over(wAsc))
      .withColumn("dval", (dec(col("n")) * col("stt") -
        dec(col("st")) * dec(col("st"))).cast("decimal(38,0)"))
      .withColumn("nb", (dec(col("n")) * col("sty") -
        dec(col("st")) * dec(col("sy"))).cast("decimal(38,0)"))
      .withColumn("cy", (dec(col("n")) * col("syy") -
        dec(col("sy")) * dec(col("sy"))).cast("decimal(38,0)"))
      .withColumn("ai", when(col("dy").isNotNull,
        ((d19(col("dy")) * col("dval") - col("nb")) *
          (d19(col("dy")) * col("dval") - col("nb")))
          .cast("decimal(38,0)")))
    val mom = rows.groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"), max(col("dval")).as("dval"),
        max(col("nb")).as("nb"), max(col("cy")).as("cy"),
        sum(col("ai")).as("a"))
      .filter(col("n") >= minObs)
      .withColumn("den", (col("cy") * col("dval") - col("nb") * col("nb"))
        .cast("decimal(38,0)"))
    mom.select(col("user_id"), col("event_type"), col("n").as("n_obs"),
        when(col("den") > 0,
          floor(dd(col("a")) * dd(col("n")) /
            (dd(col("dval")) * dd(col("den"))) *
            lit(1000000.0) + lit(0.5)).cast("long")).as("dw6"))
      .withColumn("pos_auto_flag",
        when(col("dw6") < 1500000L, 1).otherwise(0))
      .withColumn("neg_auto_flag",
        when(col("dw6") > 2500000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q118: QUANDT–ANDREWS sup-F structural break scan (Quandt 1960;
    * Andrews 1993) — q115 with the midpoint assumption removed: the
    * Chow F is computed at EVERY candidate break τ inside the 15%
    * trimmed interior (both segments ≥ 8 obs), and the supremum is
    * the test statistic, with the maximizing τ the break-date
    * ESTIMATE. The flag bar is Andrews' asymptotic 5% critical value
    * for p = 2 restrictions at π₀ = 0.15 trimming, 11.79 — the sup of
    * many F's is NOT F-distributed, which is exactly why q115's
    * 3.00 bar cannot be reused here.
    *
    * Exactness: q115's centered-RSS machinery per candidate, fed by
    * PREFIX sums — the running windows give segment-1 moments at
    * every τ in one pass, segment 2 is totals − prefix, so the scan
    * is O(n) per series, not O(n²). All moments exact integers; per
    * candidate ONE IEEE chain (three closed-form RSS evaluations and
    * the F ratio), 1e-6-floored; sup on the exact integer f6 with
    * min-τ tie-break. Degenerate candidates (zero residual segment
    * sum) are NULL and drop out of the sup; a series where every
    * candidate degenerates keeps a VISIBLE row with NULLs (d20's
    * convention). Same HUGEINT/decimal(38) row ceiling class as q115
    * (quadratic moments only; n ≲ 3e4 per series).
    *
    * Scale shape: ONE series exchange — prefix windows, the trim
    * filter, the sup window and the final groupBy all reuse the same
    * (user_id, event_type) hash partition; the candidate fan-out is
    * row-local (no self-join, no explode).
    */
  def q118SupF(s: SparkSession, dir: String,
      minObs: Int = 16): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("t", row_number().over(wAsc).cast("long"))
      .withColumn("sy", sum(col("y")).over(wKey))
      .withColumn("stt0", sum((d19(col("t")) * d19(col("t")))
        .cast("decimal(38,0)")).over(wKey))
      .withColumn("sty0", sum((d19(col("t")) * d19(col("y")))
        .cast("decimal(38,0)")).over(wKey))
      .withColumn("syy0", sum((d19(col("y")) * d19(col("y")))
        .cast("decimal(38,0)")).over(wKey))
      .withColumn("pst", sum(col("t")).over(wRun))
      .withColumn("psy", sum(col("y")).over(wRun))
      .withColumn("pstt", sum((d19(col("t")) * d19(col("t")))
        .cast("decimal(38,0)")).over(wRun))
      .withColumn("psty", sum((d19(col("t")) * d19(col("y")))
        .cast("decimal(38,0)")).over(wRun))
      .withColumn("psyy", sum((d19(col("y")) * d19(col("y")))
        .cast("decimal(38,0)")).over(wRun))
      .filter(col("n") >= minObs)
    // rss·m closed form (q115): (C − B²/A) / m with A,B,C exact ints
    def rssOf(m: Column, st: Column, sy: Column, stt: Column,
        sty: Column, syy: Column): Column = {
      val a = dd((dec(m) * stt - dec(st) * dec(st)).cast("decimal(38,0)"))
      val b = dd((dec(m) * sty - dec(st) * dec(sy)).cast("decimal(38,0)"))
      val c = dd((dec(m) * syy - dec(sy) * dec(sy)).cast("decimal(38,0)"))
      (c - b * b / a) / dd(m)
    }
    val trimLo = greatest(lit(8L), ceil(col("n") * lit(0.15)).cast("long"))
    // Σt over the whole series is the exact triangular number —
    // integer `div` (Spark `/` on longs is DOUBLE division)
    val stTot = expr("n * (n + 1) div 2")
    val cand = rows
      .filter(col("t") >= trimLo && col("t") <= col("n") - trimLo)
      .withColumn("st2", stTot - col("pst"))
      .withColumn("sy2", col("sy") - col("psy"))
      .withColumn("stt2", (col("stt0") - col("pstt")).cast("decimal(38,0)"))
      .withColumn("sty2", (col("sty0") - col("psty")).cast("decimal(38,0)"))
      .withColumn("syy2", (col("syy0") - col("psyy")).cast("decimal(38,0)"))
      .withColumn("rssp", rssOf(col("n"), stTot, col("sy"),
        col("stt0"), col("sty0"), col("syy0")))
      .withColumn("rss1", rssOf(col("t"), col("pst"), col("psy"),
        col("pstt"), col("psty"), col("psyy")))
      .withColumn("rss2", rssOf(col("n") - col("t"), col("st2"),
        col("sy2"), col("stt2"), col("sty2"), col("syy2")))
      .withColumn("rsss", col("rss1") + col("rss2"))
      .withColumn("f6", when(col("rsss") > 0,
        floor((col("rssp") - col("rss1") - col("rss2")) / lit(2.0) /
          (col("rsss") / (dd(col("n")) - lit(4.0))) *
          lit(1000000.0) + lit(0.5)).cast("long")))
    // The trim interior is non-empty for every n >= 16 (2·trimLo <= n),
    // so the candidate keys ARE the spine keys: no second scan/join —
    // a null-safe argmax filter keeps all-degenerate series visible
    // (f6 NULL <=> fmax NULL passes every candidate row; the when-guard
    // then yields break_t NULL).
    val wK2 = Window.partitionBy(keyCols: _*)
    cand
      .withColumn("fmax", max(col("f6")).over(wK2))
      .filter(col("f6") <=> col("fmax"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n_obs"), max(col("fmax")).as("f_sup6"),
        min(when(col("f6").isNotNull, col("t"))).as("break_t"))
      .withColumn("break_flag",
        when(col("f_sup6") > 11790000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q119: GRUBBS studentized extreme-deviate test (Grubbs 1950) —
    * the single-outlier verdict the reference's per-point z-flag
    * (anomaly_proj_query.sql:108-150) implies but never tests: G =
    * max|y − ȳ|/s over the whole series, i.e. "is the WORST point
    * surprising", where q06 asks it of every point separately. The
    * flagged bar is the fixed 3.0 studentized deviation — the exact
    * Grubbs critical value is an n-dependent t-quantile lookup, a
    * knob not taken (3.0 is conservative for n ≤ 25 and the
    * reference's own z-bar).
    *
    * Exactness: n(y − ȳ) = n·y − S1 is an exact integer per row, so
    * maxdev = max|n·y − S1| and M2 = nS2 − S1² are exact and G =
    * maxdev / √(M2·n/(n−1)) is ONE IEEE chain, 1e-6-floored. The
    * outlier's event_id is the min event_id among argmax rows —
    * deterministic because the argmax compares exact integers.
    * Constant series (M2 = 0) report NULL.
    *
    * Scale shape: ONE series exchange — full-key window moments, the
    * argmax min-if window and the final groupBy reuse the partition.
    */
  def q119Grubbs(s: SparkSession, dir: String,
      minObs: Int = 3): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dd = (c: Column) => c.cast("double")
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("s1", sum(col("y")).over(wKey))
      .withColumn("s2", sum((d19(col("y")) * d19(col("y")))
        .cast("decimal(38,0)")).over(wKey))
      .withColumn("dev", abs((d19(col("n")) * d19(col("y")) -
        d19(col("s1"))).cast("decimal(38,0)")))
      .withColumn("maxdev", max(col("dev")).over(wKey))
      .withColumn("cand_id",
        when(col("dev") === col("maxdev"), col("event_id")))
    val mom = rows.groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"), max(col("s1")).as("s1"),
        max(col("s2")).as("s2"), max(col("maxdev")).as("maxdev"),
        min(col("cand_id")).as("outlier_event_id"))
      .filter(col("n") >= minObs)
      .withColumn("m2i", (col("n").cast("decimal(38,0)") * col("s2") -
        col("s1").cast("decimal(38,0)") * col("s1").cast("decimal(38,0)"))
        .cast("decimal(38,0)"))
    mom.select(col("user_id"), col("event_type"), col("n").as("n_obs"),
        col("outlier_event_id"),
        when(col("m2i") > 0,
          floor(dd(col("maxdev")) /
            sqrt(dd(col("m2i")) * dd(col("n")) / (dd(col("n")) - lit(1.0)))
            * lit(1000000.0) + lit(0.5)).cast("long")).as("g6"))
      .withColumn("outlier_flag",
        when(col("g6") > 3000000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q120: CRAMÉR–VON MISES two-sample drift test per event type
    * (Anderson 1962) — q69's KS reads the drift verdict off the
    * SINGLE worst CDF gap; CvM integrates the SQUARED gap over the
    * whole pooled sample, T = n₁n₂/(n₁+n₂)² · Σ_pooled (F₁−F₂)², so
    * a broad small shift that never produces one big gap (the shape
    * KS is famously blind to) still registers. Same era split as
    * q69: ref = first half of the day span, cur = second. The flag
    * bar is the asymptotic 5% point of the ω² limit, 0.461.
    *
    * Exactness: on the grouped distinct-value CDF (ties weighted by
    * pooled multiplicity w = c₁+c₂), U = Σ w·(cum₁·n₂ − cum₂·n₁)² is
    * an exact integer and T = U/(n₁·n₂·(n₁+n₂)²) is ONE IEEE chain,
    * 1e-6-floored.
    *
    * Row ceiling: U ≤ n⁵/16 < 1e38 ⇒ n ≲ 1.5e7 rows per event type
    * (DuckDB HUGEINT same order) — far above the corpora; at 100 TB
    * sample within type first (q28's reservoir) above that.
    *
    * Scale shape: q69's exact plan class — one (type, value) groupBy
    * with map-side partials, one TYPE-cardinality window chain, one
    * final TYPE groupBy; no join except the broadcast pivot date.
    */
  def q120CvmDrift(s: SparkSession, dir: String): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dd = (c: Column) => c.cast("double")
    val ev = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("pivot",
        expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"))
      .select(col("pivot"))
    val dist = ev.crossJoin(broadcast(span))
      .withColumn("cur", (col("day") > col("pivot")).cast("int"))
      .groupBy(col("event_type"), col("v4l"))
      .agg(sum(when(col("cur") === 0, lit(1L)).otherwise(lit(0L))).as("c1"),
        sum(when(col("cur") === 1, lit(1L)).otherwise(lit(0L))).as("c2"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("v4l"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val cum = dist
      .withColumn("cum1", sum(col("c1")).over(wOrd))
      .withColumn("cum2", sum(col("c2")).over(wOrd))
      .withColumn("n1", sum(col("c1")).over(wAll))
      .withColumn("n2", sum(col("c2")).over(wAll))
    cum.filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("u", (d19(col("c1") + col("c2")) *
        ((d19(col("cum1")) * d19(col("n2")) -
          d19(col("cum2")) * d19(col("n1"))).cast("decimal(38,0)") *
         (d19(col("cum1")) * d19(col("n2")) -
          d19(col("cum2")) * d19(col("n1"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)")).cast("decimal(38,0)"))
      .groupBy(col("event_type"))
      .agg(max(col("n1")).as("n_ref"), max(col("n2")).as("n_cur"),
        sum(col("u")).as("usum"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        floor(dd(col("usum")) /
          (dd(col("n_ref")) * dd(col("n_cur")) *
            dd(col("n_ref") + col("n_cur")) *
            dd(col("n_ref") + col("n_cur"))) *
          lit(1000000.0) + lit(0.5)).cast("long").as("cvm6"))
      .withColumn("drift_flag",
        when(col("cvm6") > 461000L, 1).otherwise(0))
      .orderBy(col("event_type"))
  }

  /** q121: KRUSKAL–WALLIS weekday test per series (Kruskal & Wallis
    * 1952) — q85's weekday ANOVA re-asked without the normality
    * assumption q116 now audits: rank every print within its series,
    * compare the seven weekday rank sums; H = 12/(n(n+1))·ΣR_d²/n_d −
    * 3(n+1), tie-corrected by C = 1 − Σ(t³−t)/(n³−n), flagged above
    * the χ²₆ 5% bar 12.5916. Where q85's F chases mean shifts JB-style
    * outliers can fake, the rank test keeps its size on heavy tails —
    * run both, trust the one whose assumptions q116 certifies.
    *
    * Exactness: q84's ×2-midrank integer domain on the per-(series,
    * value) distribution table — 2·midrank = 2·cumBefore + t + 1
    * exactly, so the seven doubled rank sums R2_d = Σ c_d·(2cb+t+1)
    * and the tie mass Σ(t³−t) are exact decimal(38,0); with ΣR_d²/n_d
    * = (ΣR2_d²/n_d)/4, H = (3·a)/(n(n+1)) − 3(n+1) over a =
    * Σ_d R2_d²/n_d summed in FIXED weekday order (seven explicit
    * terms, one IEEE chain mirrored verbatim in the oracle),
    * 1e-6-floored. All seven weekdays must appear (q85's minPerDay
    * guard — keeps df = 6 honest); a single-valued series (C = 0)
    * reports NULL.
    *
    * Scale shape: q84's class on the series axis — ONE corpus
    * exchange into the (series, value) count groupBy; the cumulative
    * window runs over the DISTINCT-VALUE table; the final per-series
    * aggregate is map-side combined on the same partitioning.
    */
  def q121KruskalWallis(s: SparkSession, dir: String,
      minPerDay: Int = 1): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("((datediff(to_date(ts), DATE'1970-01-05') % 7) + 7) % 7")
          .as("g"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
    val cnts = (0 until 7).map(i =>
      sum(when(col("g") === i, lit(1L)).otherwise(lit(0L))).as(s"c$i"))
    val dist = base.groupBy(col("user_id"), col("event_type"), col("y"))
      .agg(cnts.head, cnts.tail: _*)
      .withColumn("t", (0 until 7).map(i => col(s"c$i")).reduce(_ + _))
    val wOrd = Window.partitionBy(keyCols: _*).orderBy(col("y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = dist
      .withColumn("cb", coalesce(sum(col("t")).over(wOrd), lit(0L)))
      .withColumn("r2", lit(2) * col("cb") + col("t") + 1)
    val aggs = (0 until 7).flatMap { i =>
      Seq(sum(col(s"c$i")).cast("long").as(s"n$i"),
        sum((d19(col(s"c$i")) * d19(col("r2"))).cast("decimal(38,0)"))
          .as(s"r2s$i"))
    } :+ sum(((d19(col("t")) * d19(col("t"))).cast("decimal(38,0)") *
        d19(col("t")) - col("t")).cast("decimal(38,0)")).as("ties")
    val piv = ranked.groupBy(col("user_id"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .filter((0 until 7).map(i => col(s"n$i") >= minPerDay)
        .reduce(_ && _))
    val a = (0 until 7).map(i =>
      dd(col(s"r2s$i")) * dd(col(s"r2s$i")) / dd(col(s"n$i")))
      .reduce(_ + _)
    val nTot = (0 until 7).map(i => col(s"n$i")).reduce(_ + _)
    piv
      .withColumn("nn", nTot)
      .withColumn("aa", a)
      .withColumn("tden", (dec(col("nn")) * col("nn") * col("nn") -
        col("nn")).cast("decimal(38,0)"))
      .withColumn("cc", lit(1.0) - dd(col("ties")) / dd(col("tden")))
      .withColumn("kw_h6",
        when(col("cc") > 0,
          floor((col("aa") * lit(3.0) /
            (dd(col("nn")) * dd(col("nn") + 1)) -
            lit(3.0) * dd(col("nn") + 1)) / col("cc") *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .select(col("user_id"), col("event_type"),
        col("nn").cast("long").as("n_obs"), col("kw_h6"),
        when(col("kw_h6") > lit(12591600L), 1).otherwise(0)
          .as("weekday_effect_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q122: TURNING-POINTS randomness test per series (Kendall's
    * classic; Brockwell & Davis 1991 §9.4 (public text)) — the
    * oscillation screen q75's runs test (about the median) does not
    * give: count interior prints that are strict local extrema
    * (y_{t−1} < y_t > y_{t+1} or the reverse); under IID, E[T] =
    * 2(n−2)/3 and Var[T] = (16n−29)/90, so z = (T−E)/√V flags both
    * TOO FEW turns (trend/momentum — the series keeps going) and TOO
    * MANY (over-differenced/oscillating feed, q117's negative-DW
    * symptom seen nonparametrically), at |z| > 1.96.
    *
    * Exactness: T is an exact count of strict integer comparisons on
    * the 1e-4 grid (plateaus are NOT turning points — ties break the
    * continuous-distribution calibration either way, and the strict
    * convention is the deterministic one; the documented knob); 3T −
    * 2(n−2) is an exact integer, so z = (3T−2n+4)/(3·√((16n−29)/90))
    * is ONE IEEE chain, 1e-6-floored.
    *
    * Scale shape: ONE series exchange — the lag/lead window and the
    * map-side-combined count groupBy share the (user_id, event_type)
    * partitioning; no joins.
    */
  def q122TurningPoints(s: SparkSession, dir: String,
      minObs: Int = 8): DataFrame = {
    val dd = (c: Column) => c.cast("double")
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("p", lag(col("y"), 1).over(wAsc))
      .withColumn("f", lead(col("y"), 1).over(wAsc))
      .withColumn("turn",
        when((col("p") < col("y") && col("y") > col("f")) ||
          (col("p") > col("y") && col("y") < col("f")), 1L)
          .otherwise(0L))
    rows.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_obs"), sum(col("turn")).as("n_turns"))
      .filter(col("n_obs") >= minObs)
      .withColumn("tp_z6",
        floor(dd(lit(3) * col("n_turns") - lit(2) * col("n_obs") + 4) /
          (lit(3.0) * sqrt(dd(lit(16) * col("n_obs") - 29) / lit(90.0))) *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .select(col("user_id"), col("event_type"), col("n_obs"),
        col("n_turns"), col("tp_z6"),
        when(abs(col("tp_z6")) > lit(1960000L), 1).otherwise(0)
          .as("nonrandom_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q123: BARTLETT weekday variance-homogeneity test per series
    * (Bartlett 1937) — the assumption q85's ANOVA needs but never
    * checks: the F-test compares weekday MEANS under equal weekday
    * VARIANCES, and a ticker that is calm on Mondays and wild on
    * Fridays breaks that silently. B = T/C with T = (N−k)·ln(s_p²) −
    * Σ_d (n_d−1)·ln(s_d²) over the k = 7 weekday groups and C the
    * Bartlett small-sample correction 1 + (Σ1/(n_d−1) − 1/(N−k))/
    * (3(k−1)); B above the χ²₆ 5% bar 12.5916 flags heteroscedastic
    * weekdays (run q85 only where q123 is quiet — and q121 where
    * q116 rejects normality, Bartlett's own known sensitivity).
    *
    * Exactness: per-day second moments M2_d = n_d·S2_d − S1_d² are
    * exact decimal(38,0) off ONE conditional-sum pass (q121's seven-
    * column pivot); (n_d−1)·s_d² = M2_d/n_d enters as a double, and
    * T/C is ONE shared IEEE chain with the seven day terms summed in
    * FIXED weekday order (explicit 7-term expressions mirrored
    * verbatim in the oracle — ln parity holds, q61/q93/q105 already
    * ride ln across both engines), 1e-6-floored. Guards: the
    * statistic needs all seven weekdays with n_d ≥ 2 (df = 6 honest)
    * and no constant weekday (M2_d = 0 ⇒ ln(0)); ineligible series
    * stay VISIBLE with a NULL bart6 (q85's sf0.001 lesson — never
    * exclude thin series).
    *
    * Scale shape: q121's class minus the distinct-value table — ONE
    * series exchange into a map-side-combined conditional-moment
    * groupBy; no windows, no joins.
    */
  def q123Bartlett(s: SparkSession, dir: String,
      minPerDay: Int = 2): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("((datediff(to_date(ts), DATE'1970-01-05') % 7) + 7) % 7")
          .as("g"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
    val aggs = (0 until 7).flatMap { i =>
      Seq(sum(when(col("g") === i, lit(1L)).otherwise(lit(0L)))
          .as(s"n$i"),
        sum(when(col("g") === i, col("y")).otherwise(lit(0L))).as(s"s$i"),
        sum(when(col("g") === i,
          (d19(col("y")) * d19(col("y"))).cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as(s"q$i"))
    }
    val mom = base.groupBy(col("user_id"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
    val withM2 = (0 until 7).foldLeft(mom) { (df, i) =>
      df.withColumn(s"m2_$i", (dec(col(s"n$i")) * col(s"q$i") -
        dec(col(s"s$i")) * dec(col(s"s$i"))).cast("decimal(38,0)"))
    }
    val nTot = (0 until 7).map(i => col(s"n$i")).reduce(_ + _)
    // v_d = (n_d - 1) * s_d^2 = M2_d / n_d, in fixed weekday order.
    val vs = (0 until 7).map(i => dd(col(s"m2_$i")) / dd(col(s"n$i")))
    val w = vs.reduce(_ + _)
    val tStat = dd(col("nn") - 7) * log(w / dd(col("nn") - 7)) -
      (0 until 7).map(i =>
        dd(col(s"n$i") - 1) * log(vs(i) / dd(col(s"n$i") - 1)))
        .reduce(_ + _)
    val cCorr = lit(1.0) +
      ((0 until 7).map(i => lit(1.0) / dd(col(s"n$i") - 1)).reduce(_ + _) -
        lit(1.0) / dd(col("nn") - 7)) / lit(18.0)
    // thin series (any weekday below minPerDay) stay VISIBLE with a
    // NULL statistic (q85's sf0.001 lesson) — never excluded.
    val eligible = (0 until 7).map(i => col(s"n$i") >= minPerDay)
      .reduce(_ && _) &&
      (0 until 7).map(i => col(s"m2_$i") > 0).reduce(_ && _)
    withM2
      .withColumn("nn", nTot)
      .withColumn("bart6",
        when(eligible,
          floor(tStat / cCorr * lit(1000000.0) + lit(0.5)).cast("long")))
      .select(col("user_id"), col("event_type"),
        col("nn").cast("long").as("n_obs"), col("bart6"),
        when(col("bart6") > lit(12591600L), 1).otherwise(0)
          .as("hetero_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q124: CUSUM-OF-SQUARES variance-break locator per series
    * (Inclán & Tiao 1994; the Brown–Durbin–Evans idea on squared
    * increments) — q19/q65 locate MEAN shifts and q79 watches the
    * rolling variance RATIO drift, but none of them hands back a
    * calibrated verdict with a DATE for a one-time volatility regime
    * break. On the first differences d_t, D_k = C_k/C_m − k/m over
    * the cumulative squares C_k = Σ_{t≤k} d_t² measures where squared
    * energy accrues faster/slower than uniform; IT = √(m/2)·max|D_k|
    * exceeds the asymptotic 5% sup-Brownian-bridge bar 1.358 under a
    * variance break, and the maximizing k estimates the break print.
    *
    * Exactness: d_t is an exact 1e-4-grid integer, C_k and C_m exact
    * decimal(38,0) prefix/total sums over the SAME (ts, event_id)
    * sort, and the centered numerator num_k = m·C_k − k·C_m is an
    * exact integer (the 1/(m·C_m) factors cancel into the final
    * chain), so the sup and its argmax are decided on exact integers
    * with min-(ts, event_id) tie-break; IT = √(m/2)·maxnum/(m·C_m)
    * is ONE IEEE chain, 1e-6-floored. All-constant series (C_m = 0)
    * report NULL. Growth is quadratic only (num ≤ m²·max d² ⇒ no
    * practical row ceiling — q114's class, bound ~1e11 rows/series).
    *
    * Scale shape: ONE series exchange — the diff lag, the prefix and
    * full-key sums, the argmax min-if and the final groupBy all
    * reuse the (user_id, event_type) partition; no joins.
    */
  def q124CusumSquares(s: SparkSession, dir: String,
      minObs: Int = 9): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("d", col("y") - lag(col("y"), 1).over(wAsc))
      .filter(col("d").isNotNull)
      .withColumn("k", row_number().over(wAsc).cast("long"))
      .withColumn("m", count(lit(1)).over(wKey))
      .withColumn("ck", sum((d19(col("d")) * d19(col("d")))
        .cast("decimal(38,0)")).over(wRun))
      .withColumn("cm", sum((d19(col("d")) * d19(col("d")))
        .cast("decimal(38,0)")).over(wKey))
      .withColumn("num", abs((dec(col("m")) * col("ck") -
        dec(col("k")) * col("cm")).cast("decimal(38,0)")))
      .withColumn("maxnum", max(col("num")).over(wKey))
      .withColumn("cand_id",
        when(col("num") === col("maxnum"), col("event_id")))
      .withColumn("cand_ts",
        when(col("num") === col("maxnum"), col("ts")))
    rows.groupBy(col("user_id"), col("event_type"))
      .agg(max(col("m")).as("m"), max(col("cm")).as("cm"),
        max(col("maxnum")).as("maxnum"),
        min(col("cand_id")).as("break_event_id"),
        min(col("cand_ts")).as("break_ts"))
      .filter(col("m") >= minObs - 1)
      .select(col("user_id"), col("event_type"),
        (col("m") + 1).cast("long").as("n_obs"),
        when(col("cm") > 0,
          floor(sqrt(dd(col("m")) / lit(2.0)) * dd(col("maxnum")) /
            (dd(col("m")) * dd(col("cm"))) *
            lit(1000000.0) + lit(0.5)).cast("long")).as("it6"),
        when(col("cm") > 0, col("break_event_id")).as("break_event_id"),
        when(col("cm") > 0, col("break_ts")).as("break_ts"))
      .withColumn("var_break_flag",
        when(col("it6") > 1358000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q125: SAMPLE ENTROPY per series (Richman & Moorman 2000) — the
    * regularity number the turning-point screen (q122) only hints at:
    * SampEn(m, r) = −ln(A/B), B = pairs of length-m templates within
    * tolerance r, A = pairs still within r when extended one step.
    * Low SampEn = the series repeats itself (predictable structure a
    * forecast should exploit — and a data-quality smell when a live
    * feed is TOO regular); high = irregular. m = 1 (the short-series
    * recommendation — this corpus caps series at ~30 prints), r =
    * 0.2·σ the standard tolerance, regular_flag below 0.5.
    *
    * Exactness: y on the 1e-4 grid; r is ONE shared IEEE chain off
    * the exact M2 = nS2 − S1² rounded to an INTEGER grid tolerance
    * r4, after which every template comparison |Δ| ≤ r4 is an exact
    * integer predicate; A ≤ B by construction, SampEn = −ln(A/B) one
    * IEEE chain 1e-6-floored (constant series: every template
    * matches, A = B, SampEn exactly 0 — maximally regular). The one
    * NULL rule: A = 0 or B = 0 (no template pair survives extension,
    * or no pair within r at all) means −ln(A/B) is undefined and the
    * row reports sampen6 NULL, identically on both engines.
    *
    * Scale shape: the template join IS the d02 LSH shape — templates
    * bucket by ⌊y/(r4+1)⌋ (width r4+1 guarantees any pair within r4
    * lands in the same or an adjacent cell, including around 0 where
    * truncating division widens one cell — still ≥ r4 wide), the left
    * side probes its three adjacent cells, and the (key, bucket)
    * equi-join materializes ONLY near-candidate pairs — each
    * qualifying pair exactly once (the three probes are distinct, so
    * at most one equals the right bucket) — before the exact integer
    * predicate decides. Counts are therefore IDENTICAL to the full
    * C(n−1,2) enumeration (the oracle still replays the plain i<j
    * census); series with zero near pairs stay visible through the
    * key spine with b_cnt = 0. Pairs scanned drop from C(n−1,2) to
    * Σ_cell 3·|cell|² — the 100 TB long-series path, not just a doc
    * note.
    */
  def q125SampleEntropy(s: SparkSession, dir: String,
      minObs: Int = 8): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dd = (c: Column) => c.cast("double")
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("s1", sum(col("y")).over(wKey))
      .withColumn("s2", sum((d19(col("y")) * d19(col("y")))
        .cast("decimal(38,0)")).over(wKey))
      .withColumn("i", row_number().over(wAsc).cast("long"))
      .withColumn("y1", lead(col("y"), 1).over(wAsc))
      .filter(col("n") >= minObs && col("y1").isNotNull)
      .withColumn("m2i", (col("n").cast("decimal(38,0)") * col("s2") -
        d19(col("s1")).cast("decimal(38,0)") * d19(col("s1")))
        .cast("decimal(38,0)"))
      .withColumn("r4", floor(lit(0.2) *
        sqrt(dd(col("m2i")) / (dd(col("n")) * dd(col("n") - 1))) +
        lit(0.5)).cast("long"))
      .select(col("user_id"), col("event_type"), col("n"), col("r4"),
        col("i"), col("y"), col("y1"))
    val spine = rows.groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n_obs"), max(col("r4")).as("r4s"))
    val left3 = rows
      .withColumn("b0", expr("y div (r4 + 1)"))
      .withColumn("bj",
        explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
      .select(col("user_id"), col("event_type"), col("bj"), col("r4"),
        col("i"), col("y"), col("y1"))
    val right3 = rows
      .select(col("user_id"), col("event_type"),
        expr("y div (r4 + 1)").as("bj"), col("i").as("j"),
        col("y").as("yj"), col("y1").as("yj1"))
    val near = left3.join(right3, Seq("user_id", "event_type", "bj"))
      .filter(col("i") < col("j") &&
        abs(col("y") - col("yj")) <= col("r4"))
      .withColumn("am",
        when(abs(col("y1") - col("yj1")) <= col("r4"), 1L).otherwise(0L))
    val counts = near.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("b_raw"), sum(col("am")).as("a_raw"))
    spine.join(counts, Seq("user_id", "event_type"), "left")
      .select(col("user_id"), col("event_type"), col("n_obs"),
        col("r4s").as("r4"),
        coalesce(col("b_raw"), lit(0L)).as("b_cnt"),
        coalesce(col("a_raw"), lit(0L)).as("a_cnt"))
      .withColumn("sampen6",
        when(col("a_cnt") > 0 && col("b_cnt") > 0,
          floor(-log(dd(col("a_cnt")) / dd(col("b_cnt"))) *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .withColumn("regular_flag",
        when(col("sampen6") < 500000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q127: FORECAST BACKTEST — the judge the forecast family was
    * missing: q54/q67 EMIT one-step-ahead forecasts, but nothing
    * said whether they EARN their keep. MASE (Hyndman & Koehler
    * 2006) scores them against the one benchmark every forecast must
    * beat — in-sample naive lag-1: MASE = Σ|e_model| / Σ|e_naive|
    * over the same scored prints, < 1 means the model adds value,
    * > 1 means shipping yesterday's print would have been better
    * (the embarrassing outcome this op exists to catch). Also
    * reports both MAEs in value units.
    *
    * Exactness: q54's residuals are exact 1e-4-grid longs (the
    * emitted double is e/10⁴, and ⌊resid·10⁴ + ½⌋ recovers e exactly
    * — the same roundtrip both engines perform identically); the
    * naive errors are grid diffs off the same order; both sums are
    * exact integers and each output is ONE IEEE division
    * 1e-6-floored. The scored set is prints 2..n (rows where the
    * model has a forecast — exactly the rows with a naive diff).
    *
    * Scale shape: q54's ONE groupByKey exchange produces the
    * residuals; the backtest adds one lag window and one map-side-
    * combined groupBy on the same key partitioning.
    */
  def q127ForecastBacktest(s: SparkSession, dir: String): DataFrame = {
    val dd = (c: Column) => c.cast("double")
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("date_recorded"), col("event_id"))
    val h = q54Holt(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("date_recorded"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long")
          .as("v4l"),
        when(col("resid").isNotNull,
          floor(col("resid") * lit(10000.0) + lit(0.5)).cast("long"))
          .as("e4"))
      .withColumn("d4", col("v4l") - lag(col("v4l"), 1).over(w))
      .filter(col("e4").isNotNull)
    h.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("e4"))).as("sae"),
        sum(abs(col("d4"))).as("san"))
      .select(col("user_id"), col("event_type"), col("n_scored"),
        floor(dd(col("sae")) / dd(col("n_scored")) * lit(100.0) +
          lit(0.5)).cast("long").as("holt_mae6"),
        floor(dd(col("san")) / dd(col("n_scored")) * lit(100.0) +
          lit(0.5)).cast("long").as("naive_mae6"),
        when(col("san") > 0,
          floor(dd(col("sae")) / dd(col("san")) * lit(1000000.0) +
            lit(0.5)).cast("long")).as("mase6"))
      .withColumn("beats_naive_flag",
        when(col("mase6") < 1000000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q128: BINARY-SEGMENTATION multi-changepoint locator, depth 2
    * (Vostrikova 1981; the standard recursive CUSUM splitter) —
    * q19/q65/q115/q118/q124 all stop at ONE break per series, but
    * real feeds re-base more than once; binary segmentation finds the
    * strongest break, splits there, and re-scans each half. The
    * recursion is UNROLLED to depth 2 as two window passes — no
    * recursion, no driver loop.
    *
    * Statistic per candidate split k inside a segment of length L:
    * num_k = |L·P_k − k·P_L| over exact 1e-4-grid prefix sums (an
    * exact integer — the scaled CUSUM deviation); the published
    * z = num / (L · √(M2/(L·(L−1))) · √L) standardizes by the
    * SEGMENT's own exact M2 = L·Σy² − (Σy)² in ONE IEEE chain,
    * 1e-6-floored; the sup and its argmax are decided on the exact
    * integers (ties → min (ts, event_id)). Candidates keep `minSeg`
    * prints on each side (q118's trim discipline); the
    * sup-Brownian-bridge 5% bar 1.358 flags each level (q124's bar);
    * `n_breaks` counts hierarchically — the level-2 break only counts
    * when level 1 was significant. Level 2 takes the BETTER half's
    * sup (larger z, ties → earlier segment), the classic greedy step.
    * Degenerate segments (constant ⇒ M2 = 0, or shorter than 2·minSeg
    * ⇒ no candidates) report NULL at that level.
    *
    * Scale shape: TWO series exchanges — level 1 is q124's class
    * (prefix + full-key windows + argmax all on one
    * (user_id, event_type) partition), level 2 repartitions once on
    * (key, segment) for the same window chain after ONE key-sized
    * join carries the level-1 split onto the rows. Nothing beyond
    * O(n) rows per series flows anywhere.
    */
  def q128BinarySegmentation(s: SparkSession, dir: String,
      minObs: Int = 12, minSeg: Int = 4): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    // z for one segment: maxnum / (L * sqrt(M2/(L*(L-1))) * sqrt(L)),
    // guarded NULL when the segment is constant or had no candidates
    def zOf(ll: Column, m2: Column, maxnum: Column): Column =
      when(m2 > 0 && maxnum.isNotNull,
        floor(dd(maxnum) / (dd(ll) *
          sqrt(dd(m2) / (dd(ll) * (dd(ll) - lit(1.0)))) * sqrt(dd(ll))) *
          lit(1000000.0) + lit(0.5)).cast("long"))
    def m2Of(ll: Column, sy: Column, syy: Column): Column =
      (dec(ll) * syy - dec(sy) * dec(sy)).cast("decimal(38,0)")
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("t", row_number().over(wAsc).cast("long"))
      .withColumn("n", count(lit(1)).over(wKey))
      .filter(col("n") >= minObs)
    val lvl1 = base
      .withColumn("pk", sum(col("y")).over(wRun))
      .withColumn("pl", sum(col("y")).over(wKey))
      .withColumn("syy", sum((d19(col("y")) * d19(col("y")))
        .cast("decimal(38,0)")).over(wKey))
      .withColumn("num", abs((dec(col("n")) * dec(col("pk")) -
        dec(col("t")) * dec(col("pl"))).cast("decimal(38,0)")))
      .withColumn("cnum",
        when(col("t") >= minSeg && col("t") <= col("n") - minSeg,
          col("num")))
      .withColumn("maxnum", max(col("cnum")).over(wKey))
    val agg1 = lvl1.groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n_obs"), max(col("pl")).as("sy"),
        max(col("syy")).as("syy"), max(col("maxnum")).as("maxnum"),
        min(when(col("cnum") <=> col("maxnum") && col("cnum").isNotNull,
          col("t"))).as("k1"),
        min(when(col("cnum") <=> col("maxnum") && col("cnum").isNotNull,
          col("ts"))).as("ts1"))
      .withColumn("z1_6",
        zOf(col("n_obs"), m2Of(col("n_obs"), col("sy"), col("syy")),
          col("maxnum")))
    val wSegAsc = Window
      .partitionBy(col("user_id"), col("event_type"), col("seg"))
      .orderBy(col("ts"), col("event_id"))
    val wSegRun =
      wSegAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSeg = Window
      .partitionBy(col("user_id"), col("event_type"), col("seg"))
    val lvl2 = base
      .join(agg1.select(col("user_id"), col("event_type"), col("k1"))
        .filter(col("k1").isNotNull), Seq("user_id", "event_type"))
      .withColumn("seg", when(col("t") <= col("k1"), 1).otherwise(2))
      .withColumn("i", row_number().over(wSegAsc).cast("long"))
      .withColumn("ll", count(lit(1)).over(wSeg))
      .withColumn("pk", sum(col("y")).over(wSegRun))
      .withColumn("pl", sum(col("y")).over(wSeg))
      .withColumn("syy", sum((d19(col("y")) * d19(col("y")))
        .cast("decimal(38,0)")).over(wSeg))
      .withColumn("num", abs((dec(col("ll")) * dec(col("pk")) -
        dec(col("i")) * dec(col("pl"))).cast("decimal(38,0)")))
      .withColumn("cnum",
        when(col("i") >= minSeg && col("i") <= col("ll") - minSeg,
          col("num")))
      .withColumn("maxnum", max(col("cnum")).over(wSeg))
    val seg2 = lvl2.groupBy(col("user_id"), col("event_type"), col("seg"))
      .agg(max(col("ll")).as("ll"), max(col("pl")).as("sy"),
        max(col("syy")).as("syy"), max(col("maxnum")).as("maxnum"),
        min(when(col("cnum") <=> col("maxnum") && col("cnum").isNotNull,
          col("t"))).as("k2"),
        min(when(col("cnum") <=> col("maxnum") && col("cnum").isNotNull,
          col("ts"))).as("ts2"))
      .withColumn("z2_6",
        zOf(col("ll"), m2Of(col("ll"), col("sy"), col("syy")),
          col("maxnum")))
    val wPick = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("z2_6").desc_nulls_last, col("seg"))
    val brk2 = seg2
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        when(col("z2_6").isNotNull, col("k2")).as("break2_t"),
        when(col("z2_6").isNotNull, col("ts2")).as("break2_ts"),
        col("z2_6"))
    agg1
      .join(brk2, Seq("user_id", "event_type"), "left")
      .select(col("user_id"), col("event_type"), col("n_obs"),
        when(col("z1_6").isNotNull, col("k1")).as("break1_t"),
        when(col("z1_6").isNotNull, col("ts1")).as("break1_ts"),
        col("z1_6"), col("break2_t"), col("break2_ts"), col("z2_6"))
      .withColumn("n_breaks",
        when(col("z1_6") > 1358000L,
          lit(1) + when(col("z2_6") > 1358000L, 1).otherwise(0))
          .otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q129: KENDALL τ-b pair matrix (Kendall 1938) — completes the
    * rank family at PAIR granularity: q94's Pearson matrix decays
    * under any monotone-but-nonlinear co-movement and q80's Spearman
    * is a per-peer column, not a matrix. τ counts CONCORDANT vs
    * DISCORDANT day-pairs over the common daily closes of every
    * unordered ticker pair — exact integer pair census, no ranks to
    * float: C/D/tie counts are plain conditional counts over exact
    * grid integers, and τ-b = (C − D)/√((n0 − n1)(n0 − n2)) (the tie
    * correction: n0 = day-pairs, n1/n2 = pairs tied in x/y) is ONE
    * IEEE chain, 1e-6-floored. A series with all closes equal makes
    * its pairs' denominators 0 ⇒ tau6 NULL. Property (q80's, at pair
    * granularity): ANY strictly monotone re-scale of one side leaves
    * τ = ±1 exactly where Pearson decays — spec-planted.
    *
    * Scale shape (round 13, the round-12 verdict's top item): the old
    * plan joined closes on (event_type, day) and then SELF-JOINED the
    * matched-day table — pairs × d² rows through an exchange, the
    * suite's slowest entry at 43.6 s. Now NOTHING pair-sized ever
    * shuffles: each ticker collapses to ONE day-sorted close array
    * (catalog-sized — 7.5k rows at sf0.1, a few MB), one side
    * broadcasts, and the ticker-pair BroadcastHashJoin generates each
    * pair IN-TASK, where the native [[graft.functions.KendallCensus]]
    * expression merge-intersects the two day-sorted arrays (O(da+db))
    * and censuses the d common closes in one compiled allocation-free
    * loop (q63's in-task STOMP posture; the interpreted HOF form of
    * the same census measured ~50× slower). d rows per ticker cross
    * the wire once; pairs never do. Concordance is decided by SIGN
    * COMPARISON, not a delta product — no arithmetic on y at all, so
    * the long-overflow domain bound the product form carried
    * (|value| ≳ 1.5e5 made Δya·Δyb exceed Long.MAX) is gone on both
    * engine and oracle. Output is pair-sized: quadratic in CATALOG
    * by semantics, like q94 — and the pair-budget gate is CODE now,
    * not a docstring: [[PairPlan.tickerPairs]] measures the array
    * table (tickers × d closes ≈ 100 MB at 750k tickers) and past
    * the budget switches to its bucketed ticker-pair join — never to
    * pair-day rows.
    */
  def q129KendallTau(s: SparkSession, dir: String,
      minDays: Int = 5): DataFrame = {
    val dd = (c: Column) => c.cast("double")
    val closes = dailyCloses(s, dir)
    // budget-gated pair join (PairPlan): each task streams its ticker
    // slice against the broadcast (or bucketed) array table, so pair
    // rows are born, intersected and censused in-task by the compiled
    // expression
    val pairs = PairPlan.tickerPairs(s, closes)
      .withColumn("cen", expr("kendall_census(ad_a, ay_a, ad_b, ay_b)"))
      .withColumn("n_days", col("cen").getItem(0))
      .filter(col("n_days") >= minDays)
    pairs
      .withColumn("n0", (col("n_days") * (col("n_days") - 1) / 2)
        .cast("long"))
      .withColumn("c_pairs", col("cen").getItem(1))
      .withColumn("d_pairs", col("cen").getItem(2))
      .withColumn("n1", col("cen").getItem(3))
      .withColumn("n2", col("cen").getItem(4))
      .withColumn("tau6",
        when(col("n0") > col("n1") && col("n0") > col("n2"),
          floor(dd(col("c_pairs") - col("d_pairs")) /
            sqrt(dd((col("n0") - col("n1")) * (col("n0") - col("n2")))) *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .select(col("event_type"), col("user_a"), col("user_b"),
        col("n_days"), col("c_pairs"), col("d_pairs"), col("tau6"),
        when(abs(col("tau6")) >= 800000L, 1).otherwise(0)
          .as("comove_flag"))
      .orderBy(col("event_type"), col("user_a"), col("user_b"))
  }

  /** q130: FRIEDMAN weekday-block rank test (Friedman 1937) —
    * completes the weekday triangle: q85's ANOVA assumes normal
    * within-day noise, q121's Kruskal–Wallis ranks ACROSS the whole
    * series (so a trend masquerades as a weekday effect); Friedman
    * ranks the 7 weekday closes WITHIN each complete calendar week,
    * so week-to-week level shifts cancel by construction and only
    * the within-week weekday ORDER accumulates evidence.
    *
    * Blocks are complete weeks only (all 7 weekday closes present —
    * the test is undefined on incomplete blocks); mid-ranks in exact
    * doubled integers (q121's r2 = 2·below + ties + 1, here within
    * the 7-row block via one RANGE window); with R2_j the per-weekday
    * doubled-rank sums, Σ(t³−t) = Σ_rows(t²−1) the exact tie mass,
    * the tie-corrected statistic collapses to ONE exact-integer
    * ratio: Q = 6·(3·ΣR2_j² − 1344·n²)/(336·n − ties) for k = 7 —
    * a single IEEE division, 1e-6-floored. All-tied blocks (constant
    * weeks: 336n = ties) ⇒ NULL; fewer than minBlocks complete weeks
    * ⇒ NULL with the row VISIBLE and n_blocks published (q123's
    * eligibility discipline — the synthetic corpus averages ~11
    * trading days over 30, so complete weeks are rare there and the
    * statistic exercises through the planted spec). Flag at the
    * χ²(6) 5% bar 12.5916 (q121/q123's bar).
    *
    * Scale shape: the q94 close-collapse window, then every window
    * and groupBy runs on the (user_id, event_type[, week]) partition
    * family — series-exchange class, key-sized output, spine left
    * join keeps thin series visible.
    */
  def q130Friedman(s: SparkSession, dir: String,
      minBlocks: Int = 2): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    val wDay = Window.partitionBy(col("user_id"), col("event_type"),
      col("day")).orderBy(col("ts").desc, col("event_id").desc)
    val closes = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        to_date(col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("rd", row_number().over(wDay))
      .filter(col("rd") === 1)
      .withColumn("dnum", expr("datediff(day, DATE'1970-01-05')"))
      .withColumn("wd", expr("((dnum % 7) + 7) % 7"))
      .withColumn("week", expr("dnum div 7"))
      .select(col("user_id"), col("event_type"), col("week"), col("wd"),
        col("y"))
    val wBlk = Window.partitionBy(col("user_id"), col("event_type"),
      col("week"))
    val wRank = wBlk.orderBy(col("y"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wTie = Window.partitionBy(col("user_id"), col("event_type"),
      col("week"), col("y"))
    val ranked = closes
      .withColumn("bn", count(lit(1)).over(wBlk))
      .filter(col("bn") === 7)
      .withColumn("cb", count(lit(1)).over(wRank))
      .withColumn("t", count(lit(1)).over(wTie))
      .withColumn("r2", lit(2) * col("cb") + col("t") + 1)
    val stats = ranked
      .groupBy(col("user_id"), col("event_type"), col("wd"))
      .agg(sum(col("r2")).as("r2j"),
        sum(col("t") * col("t") - lit(1)).as("tiesj"),
        count(lit(1)).as("nbj"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum((d19(col("r2j")) * d19(col("r2j"))).cast("decimal(38,0)"))
        .as("sr2"),
        sum(col("tiesj")).as("ties"), max(col("nbj")).as("nb"))
      .withColumn("qnum",
        (lit(3) * col("sr2") - lit(1344) * dec(col("nb")) * dec(col("nb")))
          .cast("decimal(38,0)"))
      .withColumn("cden", lit(336) * col("nb") - col("ties"))
      .withColumn("fried6",
        when(col("nb") >= minBlocks && col("cden") > 0,
          floor(lit(6.0) * dd(col("qnum")) / dd(col("cden")) *
            lit(1000000.0) + lit(0.5)).cast("long")))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .join(stats.select(col("user_id"), col("event_type"), col("nb"),
        col("fried6")), Seq("user_id", "event_type"), "left")
      .select(col("user_id"), col("event_type"),
        coalesce(col("nb"), lit(0L)).as("n_blocks"), col("fried6"),
        when(col("fried6") > 12591600L, 1).otherwise(0)
          .as("weekday_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q131: DICKEY–FULLER unit-root test WITH LINEAR TREND (Dickey &
    * Fuller 1979, the τ_t variant) — closes the level-vs-trend 2×2
    * q113/q114 left open: q113's level-ADF asks "does the series
    * revert to a CONSTANT mean", so a perfectly healthy
    * trend-stationary feed (reverting to a moving ramp) can fail it;
    * q131 regresses Δy_t on (1, t, y_{t−1}) and asks whether the
    * series reverts to its own TREND LINE — the right stationarity
    * question for drifting tickers before handing them to q54/q67.
    * Rejected below the with-trend 5% critical value −3.41.
    *
    * Exactness: ten moment sums over the exact 1e-4 grid (t, y_{t−1},
    * Δy products) as decimal(38,0); the centered normal-equation
    * pieces A11/A12/A22/B1/B2 are exact integers cast to double
    * (q118's discipline — their PRODUCTS would overflow 38 digits),
    * then β̂/ρ̂ via Cramer, α̂ by back-substitution and RSS by the
    * normal-equation identity Svv − α̂Sv − β̂Stv − ρ̂Suv, ONE shared
    * IEEE chain, t(ρ̂) = ρ̂/√(RSS/(m−3)·m·A11/D), 1e-6-floored.
    * Degenerate design (D ≤ 0: constant series, or y EXACTLY
    * collinear with the trend — a noiseless line) reports NULL.
    *
    * Scale shape: q113's class — ONE series exchange shared by the
    * lag window, the row index and the map-side-combined ten-sum
    * groupBy; one row per series out.
    *
    * CAVEAT (p = 0): like q113, assumes serially-uncorrelated Δy;
    * autocorrelated increments size-distort the t-stat (negative
    * Δy-autocorrelation ⇒ spurious stationarity verdicts). q133AdfLag
    * is this regression plus the Δy_{t−1} term that fixes it.
    */
  def q131AdfTrend(s: SparkSession, dir: String,
      minObs: Int = 12): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dd = (c: Column) => c.cast("double")
    def prod(x: Column, y: Column): Column =
      sum((d19(x) * d19(y)).cast("decimal(38,0)"))
    def cA(sxy: Column, sx: Column, sy: Column): Column =
      dd((dec(col("m")) * sxy - dec(sx) * dec(sy)).cast("decimal(38,0)"))
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("y1", lag(col("y"), 1).over(wAsc))
      .filter(col("y1").isNotNull)
      .withColumn("dy", col("y") - col("y1"))
      .withColumn("t", row_number().over(wAsc).cast("long"))
    val mom = base.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("m"),
        sum(col("t")).as("st"), sum(col("y1")).as("su"),
        sum(col("dy")).as("sv"),
        prod(col("t"), col("t")).as("stt"),
        prod(col("t"), col("y1")).as("stu"),
        prod(col("y1"), col("y1")).as("suu"),
        prod(col("t"), col("dy")).as("stv"),
        prod(col("y1"), col("dy")).as("suv"),
        prod(col("dy"), col("dy")).as("svv"))
      .filter(col("m") >= minObs)
    val chain = mom
      .withColumn("a11", cA(col("stt"), col("st"), col("st")))
      .withColumn("a12", cA(col("stu"), col("st"), col("su")))
      .withColumn("a22", cA(col("suu"), col("su"), col("su")))
      .withColumn("b1", cA(col("stv"), col("st"), col("sv")))
      .withColumn("b2", cA(col("suv"), col("su"), col("sv")))
      .withColumn("ddet",
        col("a11") * col("a22") - col("a12") * col("a12"))
      .withColumn("beta", when(col("ddet") > 0,
        (col("a22") * col("b1") - col("a12") * col("b2")) / col("ddet")))
      .withColumn("rho", when(col("ddet") > 0,
        (col("a11") * col("b2") - col("a12") * col("b1")) / col("ddet")))
      .withColumn("alpha",
        (dd(col("sv")) - col("beta") * dd(col("st")) -
          col("rho") * dd(col("su"))) / dd(col("m")))
      .withColumn("rss",
        dd(col("svv")) - col("alpha") * dd(col("sv")) -
          col("beta") * dd(col("stv")) - col("rho") * dd(col("suv")))
    chain.select(col("user_id"), col("event_type"),
        col("m").as("n_trans"),
        when(col("ddet") > 0,
          floor(col("rho") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("rho6"),
        when(col("ddet") > 0 && col("rss") > 0,
          floor(col("rho") / sqrt(col("rss") / (dd(col("m")) - lit(3.0)) *
            dd(col("m")) * col("a11") / col("ddet")) *
            lit(1000000.0) + lit(0.5)).cast("long")).as("adf_trend_t6"))
      .withColumn("trend_stationary_flag",
        when(col("adf_trend_t6") < -3410000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q132: KPSS stationarity test AROUND A LINEAR TREND, bandwidth 0
    * (Kwiatkowski et al. 1992, the η_τ variant) — q131's mirror,
    * completing the trend column of the stationarity 2×2 exactly as
    * q114 mirrors q113 on the level column: q131's null is the unit
    * root (failing to reject ≠ trend-stationary — may just be short
    * data), q132's null IS trend-stationarity, so running both splits
    * "no evidence" from "evidence of drift AWAY from the trend line".
    * η = ΣS_t²/(n²σ̂²) over partial sums of the TREND residuals,
    * flagged above the η_τ 5% bar 0.146.
    *
    * Exactness: with D = n·Stt − St² and B = n·Sty − St·Sy (exact
    * integers), the scaled residual E_t = n·D·y_t − (D·Sy − B·St)
    * − n·B·t is an exact integer per row, its prefix sum P_t = n·D·S_t
    * likewise, and the (nD)² factors cancel: η = ΣP²/(n·ΣE²) — ONE
    * IEEE division of two exact decimal sums, 1e-6-floored. y on the
    * 1e-2 grid (q116's coarser-grid discipline: E carries n⁵-scale
    * factors; ceiling ≈ 170 prints/series before ΣP² leaves 38
    * digits — this corpus caps at ~30 and scale growth adds TICKERS,
    * not prints, and the ceiling is now a HARD GUARD: n > 170 rows
    * publish NULL rather than a silently-corrupted ratio, since
    * Spark's non-ANSI decimal would NULL overflow terms and sum()
    * would skip them). A noiseless line or a constant fits
    * the trend EXACTLY (all E = 0) ⇒ NULL. Bandwidth 0 = plain
    * variance (the Newey–West bandwidth is a knob not taken —
    * deterministic), q114's convention.
    *
    * Scale shape: q114's class — ONE series exchange shared by the
    * full-key moment windows, the prefix window and the groupBy.
    */
  def q132KpssTrend(s: SparkSession, dir: String,
      minObs: Int = 12): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("n", count(lit(1)).over(wKey))
      .withColumn("t", row_number().over(wAsc).cast("long"))
      .withColumn("sy", sum(col("y")).over(wKey))
      .withColumn("st", sum(col("t")).over(wKey))
      .withColumn("stt", sum((d19(col("t")) * d19(col("t")))
        .cast("decimal(38,0)")).over(wKey))
      .withColumn("sty", sum((d19(col("t")) * d19(col("y")))
        .cast("decimal(38,0)")).over(wKey))
      .withColumn("dD", (dec(col("n")) * col("stt") -
        dec(col("st")) * dec(col("st"))).cast("decimal(38,0)"))
      .withColumn("bB", (dec(col("n")) * col("sty") -
        dec(col("st")) * dec(col("sy"))).cast("decimal(38,0)"))
      .withColumn("ee", (dec(col("n")) * col("dD") * dec(col("y")) -
        (col("dD") * dec(col("sy")) - col("bB") * dec(col("st"))) -
        dec(col("n")) * col("bB") * dec(col("t"))).cast("decimal(38,0)"))
      .withColumn("pp", sum(col("ee")).over(wRun))
    val mom = rows.groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"),
        sum((col("ee") * col("ee")).cast("decimal(38,0)")).as("se2"),
        sum((col("pp") * col("pp")).cast("decimal(38,0)")).as("sp2"))
      .filter(col("n") >= minObs)
    // past n = maxExactN the n⁵-scale E/P factors leave decimal(38,0)
    // and Spark's non-ANSI arithmetic NULLs terms SILENTLY — sum()
    // would then skip rows and publish a corrupted statistic. Degrade
    // to the documented NULL instead: the row stays visible with
    // n_obs, the stat is absent (the round-12 advice item).
    val maxExactN = 170
    mom.select(col("user_id"), col("event_type"), col("n").as("n_obs"),
        when(col("se2") > 0 && col("n") <= maxExactN,
          floor(dd(col("sp2")) / (dd(col("n")) * dd(col("se2"))) *
            lit(1000000.0) + lit(0.5)).cast("long")).as("kpss_trend6"))
      .withColumn("trend_nonstat_flag",
        when(col("kpss_trend6") > 146000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q133: AUGMENTED Dickey–Fuller with linear trend and ONE LAGGED
    * DIFFERENCE (Said & Dickey 1984, p = 1) — the missing rung above
    * q113/q131, whose p = 0 regressions assume Δy is serially
    * UNCORRELATED. Every real ticker violates that (micro-structure
    * bounce, staleness repeats), and the violation is not benign:
    * negative autocorrelation in Δy makes p = 0 ADF OVER-reject, so
    * q131 calls an honest random walk "trend-stationary" exactly when
    * its increments mean-revert (spec-planted: Δy_t = −0.8·Δy_{t−1} +
    * noise — y is I(1), q131 flags it, q133 does not, because the
    * γ·Δy_{t−1} term absorbs the short-run dynamics the p = 0 design
    * forces into ρ̂). Regresses Δy_t on (1, t, y_{t−1}, Δy_{t−1});
    * same asymptotic τ_t distribution, same with-trend 5% bar −3.41.
    *
    * Exactness: q131's Cramer discipline scaled to the 3×3 — fifteen
    * moment sums over the exact 1e-4 grid as decimal(38,0); the nine
    * centered normal-equation pieces A11…A33/B1…B3 are exact integers
    * cast to double (their PRODUCTS would overflow 38 digits), then
    * β̂/ρ̂/γ̂ via the 3×3 Cramer cofactor expansion, α̂ by
    * back-substitution, RSS by the normal-equation identity, and
    * t(ρ̂) = ρ̂/√(RSS/(m−4)·m·(A11·A33 − A13²)/D) — the (ρ,ρ) cofactor
    * over the determinant, q131's variance algebra one rank up. ONE
    * shared IEEE chain, 1e-6-floored. Degenerate design (D ≤ 0:
    * constant series, exact collinearity, m too short) reports NULL.
    *
    * Scale shape: q113/q131's class — ONE series exchange shared by
    * the two lag windows, the row index and the map-side-combined
    * fifteen-sum groupBy; one row per series out.
    */
  def q133AdfLag(s: SparkSession, dir: String,
      minObs: Int = 12): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dd = (c: Column) => c.cast("double")
    def prod(x: Column, y: Column): Column =
      sum((d19(x) * d19(y)).cast("decimal(38,0)"))
    def cA(sxy: Column, sx: Column, sy: Column): Column =
      dd((dec(col("m")) * sxy - dec(sx) * dec(sy)).cast("decimal(38,0)"))
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("y1", lag(col("y"), 1).over(wAsc))
      .withColumn("y2", lag(col("y"), 2).over(wAsc))
      .filter(col("y2").isNotNull)
      .withColumn("dy", col("y") - col("y1"))
      .withColumn("dw", col("y1") - col("y2"))
      .withColumn("t", row_number().over(wAsc).cast("long"))
    val mom = base.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("m"),
        sum(col("t")).as("st"), sum(col("y1")).as("su"),
        sum(col("dw")).as("sw"), sum(col("dy")).as("sv"),
        prod(col("t"), col("t")).as("stt"),
        prod(col("t"), col("y1")).as("stu"),
        prod(col("t"), col("dw")).as("stw"),
        prod(col("y1"), col("y1")).as("suu"),
        prod(col("y1"), col("dw")).as("suw"),
        prod(col("dw"), col("dw")).as("sww"),
        prod(col("t"), col("dy")).as("stv"),
        prod(col("y1"), col("dy")).as("suv"),
        prod(col("dw"), col("dy")).as("swv"),
        prod(col("dy"), col("dy")).as("svv"))
      .filter(col("m") >= minObs)
    val chain = mom
      .withColumn("a11", cA(col("stt"), col("st"), col("st")))
      .withColumn("a12", cA(col("stu"), col("st"), col("su")))
      .withColumn("a13", cA(col("stw"), col("st"), col("sw")))
      .withColumn("a22", cA(col("suu"), col("su"), col("su")))
      .withColumn("a23", cA(col("suw"), col("su"), col("sw")))
      .withColumn("a33", cA(col("sww"), col("sw"), col("sw")))
      .withColumn("b1", cA(col("stv"), col("st"), col("sv")))
      .withColumn("b2", cA(col("suv"), col("su"), col("sv")))
      .withColumn("b3", cA(col("swv"), col("sw"), col("sv")))
      // symmetric cofactors (reused by det, the solve and Var(ρ̂))
      .withColumn("c11", col("a22") * col("a33") - col("a23") * col("a23"))
      .withColumn("c12", col("a12") * col("a33") - col("a13") * col("a23"))
      .withColumn("c13", col("a12") * col("a23") - col("a13") * col("a22"))
      .withColumn("c22", col("a11") * col("a33") - col("a13") * col("a13"))
      .withColumn("c23", col("a11") * col("a23") - col("a12") * col("a13"))
      .withColumn("c33", col("a11") * col("a22") - col("a12") * col("a12"))
      .withColumn("ddet",
        col("a11") * col("c11") - col("a12") * col("c12") +
          col("a13") * col("c13"))
      .withColumn("beta", when(col("ddet") > 0,
        (col("c11") * col("b1") - col("c12") * col("b2") +
          col("c13") * col("b3")) / col("ddet")))
      .withColumn("rho", when(col("ddet") > 0,
        (-col("c12") * col("b1") + col("c22") * col("b2") -
          col("c23") * col("b3")) / col("ddet")))
      .withColumn("gam", when(col("ddet") > 0,
        (col("c13") * col("b1") - col("c23") * col("b2") +
          col("c33") * col("b3")) / col("ddet")))
      .withColumn("alpha",
        (dd(col("sv")) - col("beta") * dd(col("st")) -
          col("rho") * dd(col("su")) - col("gam") * dd(col("sw"))) /
          dd(col("m")))
      .withColumn("rss",
        dd(col("svv")) - col("alpha") * dd(col("sv")) -
          col("beta") * dd(col("stv")) - col("rho") * dd(col("suv")) -
          col("gam") * dd(col("swv")))
    chain.select(col("user_id"), col("event_type"),
        col("m").as("n_trans"),
        when(col("ddet") > 0,
          floor(col("rho") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("rho6"),
        when(col("ddet") > 0,
          floor(col("gam") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("gamma6"),
        when(col("ddet") > 0 && col("rss") > 0,
          floor(col("rho") / sqrt(col("rss") / (dd(col("m")) - lit(4.0)) *
            dd(col("m")) * col("c22") / col("ddet")) *
            lit(1000000.0) + lit(0.5)).cast("long")).as("adf_lag_t6"))
      .withColumn("trend_stationary_flag",
        when(col("adf_lag_t6") < -3410000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q134: AUGMENTED Dickey–Fuller, LEVEL variant with one lagged
    * difference (Said & Dickey 1984, p = 1, intercept only) —
    * completes the (level|trend) × (p = 0|p = 1) ADF grid q113/q131/
    * q133 leave one hole in: q113's level regression carries the same
    * serially-uncorrelated-Δy assumption q133 fixed for the trend
    * variant, and a mean-reverting-increment random walk fools it the
    * same way (the spec plants the identical contrast). Regresses
    * Δy_t on (1, y_{t−1}, Δy_{t−1}); intercept-only 5% bar −2.86
    * (q113's).
    *
    * Exactness: q131's 2×2 Cramer machinery verbatim with regressors
    * (u = y_{t−1}, w = Δy_{t−1}) instead of (t, y_{t−1}) — ten exact
    * decimal(38,0) moment sums, centered A11/A12/A22/B1/B2 exact
    * integers cast to double, ρ̂/γ̂ via Cramer, α̂ back-substituted,
    * normal-equation RSS, t(ρ̂) = ρ̂/√(RSS/(m−3)·m·A22… — note the
    * (ρ,ρ) inverse entry here is a22' = A_ww, i.e. the OTHER diagonal
    * — ONE shared IEEE chain, 1e-6-floored. Degenerate design (D ≤ 0)
    * NULL.
    *
    * Scale shape: q113/q131's class — ONE series exchange shared by
    * the two lag windows and the map-side-combined ten-sum groupBy.
    */
  def q134AdfLevelLag(s: SparkSession, dir: String,
      minObs: Int = 12): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dd = (c: Column) => c.cast("double")
    def prod(x: Column, y: Column): Column =
      sum((d19(x) * d19(y)).cast("decimal(38,0)"))
    def cA(sxy: Column, sx: Column, sy: Column): Column =
      dd((dec(col("m")) * sxy - dec(sx) * dec(sy)).cast("decimal(38,0)"))
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("y"))
      .withColumn("y1", lag(col("y"), 1).over(wAsc))
      .withColumn("y2", lag(col("y"), 2).over(wAsc))
      .filter(col("y2").isNotNull)
      .withColumn("dy", col("y") - col("y1"))
      .withColumn("dw", col("y1") - col("y2"))
    val mom = base.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("m"),
        sum(col("y1")).as("su"), sum(col("dw")).as("sw"),
        sum(col("dy")).as("sv"),
        prod(col("y1"), col("y1")).as("suu"),
        prod(col("y1"), col("dw")).as("suw"),
        prod(col("dw"), col("dw")).as("sww"),
        prod(col("y1"), col("dy")).as("suv"),
        prod(col("dw"), col("dy")).as("swv"),
        prod(col("dy"), col("dy")).as("svv"))
      .filter(col("m") >= minObs)
    val chain = mom
      .withColumn("a11", cA(col("suu"), col("su"), col("su")))
      .withColumn("a12", cA(col("suw"), col("su"), col("sw")))
      .withColumn("a22", cA(col("sww"), col("sw"), col("sw")))
      .withColumn("b1", cA(col("suv"), col("su"), col("sv")))
      .withColumn("b2", cA(col("swv"), col("sw"), col("sv")))
      .withColumn("ddet",
        col("a11") * col("a22") - col("a12") * col("a12"))
      .withColumn("rho", when(col("ddet") > 0,
        (col("a22") * col("b1") - col("a12") * col("b2")) / col("ddet")))
      .withColumn("gam", when(col("ddet") > 0,
        (col("a11") * col("b2") - col("a12") * col("b1")) / col("ddet")))
      .withColumn("alpha",
        (dd(col("sv")) - col("rho") * dd(col("su")) -
          col("gam") * dd(col("sw"))) / dd(col("m")))
      .withColumn("rss",
        dd(col("svv")) - col("alpha") * dd(col("sv")) -
          col("rho") * dd(col("suv")) - col("gam") * dd(col("swv")))
    chain.select(col("user_id"), col("event_type"),
        col("m").as("n_trans"),
        when(col("ddet") > 0,
          floor(col("rho") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("rho6"),
        when(col("ddet") > 0,
          floor(col("gam") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("gamma6"),
        when(col("ddet") > 0 && col("rss") > 0,
          floor(col("rho") / sqrt(col("rss") / (dd(col("m")) - lit(3.0)) *
            dd(col("m")) * col("a22") / col("ddet")) *
            lit(1000000.0) + lit(0.5)).cast("long")).as("adf_lag_t6"))
      .withColumn("stationary_flag",
        when(col("adf_lag_t6") < -2860000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** p16: the CHANGEPOINT CONSENSUS PANEL — the break family composed
    * into the one per-ticker card an analyst actually asks for:
    * "did this feed re-base, and do the detectors AGREE?" Five
    * detectors with deliberately different nulls vote side by side —
    * q65's rank-based mean shift (robust to outliers), q115's fixed
    * mid-sample trend break, q118's SEARCHED trend break, q124's
    * variance break, q128's greedy mean splitter — because a single
    * detector flagging alone is usually its known blind spot (a
    * variance burst trips q124 but not q65; a slope kink trips q118
    * but not the mean shifters), while two-plus agreeing is a regime
    * change worth a human.
    *
    * The verdict is EVIDENCE-WEIGHTED, not p14's all-or-nothing: the
    * detectors' minObs differ by design (q118 wants 16 prints, q124
    * nine), so a short series is judged on the detectors it can run —
    * n_eligible counts present verdicts, n_votes sums their flags,
    * and the call is `insufficient` below 3 eligible, `stable` at 0
    * votes, `single-detector` at 1 (read that detector's blind spot),
    * `corroborated` at 2+. Break locations ride along per family
    * (q65's event id, q118's print index, q124's/q128's timestamps).
    *
    * Scale shape: p05/p13/p14's composition discipline — the spine is
    * the ticker catalog, every component arrives already reduced to
    * ticker cardinality, so each left join is broadcast-sized and the
    * panel's cost IS its components' (each ONE series exchange).
    */
  def p16ChangepointPanel(s: SparkSession, dir: String): DataFrame = {
    val key = Seq("user_id", "event_type")
    val spine = Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val pt = q65Pettitt(s, dir).select(col("user_id"), col("event_type"),
      col("cp_event_id").as("mean_cp_event_id"),
      col("sig_flag").as("mean_rank_flag"))
    val ch = q115ChowBreak(s, dir).select(col("user_id"), col("event_type"),
      col("f_chow6"), col("break_flag").as("chow_flag"))
    val sf = q118SupF(s, dir).select(col("user_id"), col("event_type"),
      col("break_t").as("trend_break_t"),
      col("break_flag").as("supf_flag"))
    val cs = q124CusumSquares(s, dir)
      .select(col("user_id"), col("event_type"),
        col("break_ts").as("var_break_ts"), col("var_break_flag"))
    val bs = q128BinarySegmentation(s, dir)
      .select(col("user_id"), col("event_type"),
        col("break1_ts").as("mean_break_ts"), col("n_breaks"))
    val flags = Seq(col("mean_rank_flag"), col("chow_flag"),
      col("supf_flag"), col("var_break_flag"), col("binseg_flag"))
    val nElig = flags.map(f => when(f.isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    val nVotes = flags.map(f => coalesce(f, lit(0))).reduce(_ + _)
    spine
      .join(pt, key, "left")
      .join(ch, key, "left")
      .join(sf, key, "left")
      .join(cs, key, "left")
      .join(bs, key, "left")
      .withColumn("binseg_flag",
        when(col("n_breaks").isNull, lit(null).cast("int"))
          .when(col("n_breaks") >= 1, 1).otherwise(0))
      .withColumn("n_eligible", nElig)
      .withColumn("n_votes", nVotes)
      .withColumn("verdict",
        when(col("n_eligible") < 3, "insufficient")
          .when(col("n_votes") === 0, "stable")
          .when(col("n_votes") === 1, "single-detector")
          .otherwise("corroborated"))
      .select(col("user_id"), col("event_type"),
        col("mean_cp_event_id"), col("mean_rank_flag"),
        col("f_chow6"), col("chow_flag"),
        col("trend_break_t"), col("supf_flag"),
        col("var_break_ts"), col("var_break_flag"),
        col("mean_break_ts"), col("n_breaks"), col("binseg_flag"),
        col("n_eligible"), col("n_votes"), col("verdict"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** p14: the RESIDUAL-DIAGNOSTICS PANEL — round 11's assumption
    * audits composed into the one per-ticker report that says whether
    * the PARAMETRIC detectors upstream can be trusted: q116's
    * normality (is q06's z-bar calibrated?), q117's residual serial
    * correlation (is q82's t-test honest?), q119's worst-point verdict
    * (is one fat finger driving everything?) and q122's turning-point
    * randomness (is the feed trending or oscillating rather than
    * noise?). The joint call: any component ROW missing (series
    * shorter than a component's minObs) ⇒ `insufficient`; a present
    * row whose underlying statistic degenerated to NULL (e.g. a
    * CONSTANT series' jb6/dw6/g6) carries flag 0 from the component
    * itself, i.e. counts as no-issue — a flat feed is not evidence
    * against the parametric stack; zero flags ⇒ `clean` (parametric
    * results upstream are trustworthy); one flag ⇒ `check` (read that
    * column); two+ ⇒ `suspect` (route the ticker to the rank/robust
    * family — q84/q90/q110/q121). p05/p13's composition discipline:
    * the spine is the ticker catalog (thin series are VISIBLE rows
    * with NULLs), components arrive already reduced to ticker
    * cardinality, so every join is broadcast-sized.
    *
    * Scale shape: four already-reduced component tables left-joined
    * on a catalog-cardinality spine — the cost is the components'
    * (each ONE series exchange over the corpus).
    */
  def p14ResidualPanel(s: SparkSession, dir: String): DataFrame = {
    val key = Seq("user_id", "event_type")
    val spine = Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val jb = q116JarqueBera(s, dir)
      .select(col("user_id"), col("event_type"), col("skew6"),
        col("kurt6"), col("jb6"), col("nonnormal_flag"))
    val dw = q117DurbinWatson(s, dir)
      .select(col("user_id"), col("event_type"), col("dw6"),
        col("pos_auto_flag"), col("neg_auto_flag"))
    val gr = q119Grubbs(s, dir)
      .select(col("user_id"), col("event_type"), col("g6"),
        col("outlier_event_id"), col("outlier_flag"))
    val tp = q122TurningPoints(s, dir)
      .select(col("user_id"), col("event_type"), col("tp_z6"),
        col("nonrandom_flag"))
    val issues = col("nonnormal_flag") + col("pos_auto_flag") +
      col("neg_auto_flag") + col("outlier_flag") + col("nonrandom_flag")
    spine
      .join(jb, key, "left")
      .join(dw, key, "left")
      .join(gr, key, "left")
      .join(tp, key, "left")
      .withColumn("n_issues", issues)
      .withColumn("verdict",
        when(col("nonnormal_flag").isNull || col("pos_auto_flag").isNull ||
          col("outlier_flag").isNull || col("nonrandom_flag").isNull,
          "insufficient")
        .when(col("n_issues") === 0, "clean")
        .when(col("n_issues") === 1, "check")
        .otherwise("suspect"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** s14: CROSS-SECTIONAL FACTOR RESIDUAL — PCA market-mode removal,
    * the multivariate upgrade of q55's univariate cross-sectional
    * screen: q55 asks "is this ticker's print far from TODAY's
    * cross-section", s14 asks "did this ticker BREAK from the market
    * mode" — the one co-movement direction that explains most of the
    * panel's return variance. Extracts the top principal direction of
    * the per-day ticker-return panel (per event type), regresses each
    * ticker's returns on that factor, and z-scores the LATEST day's
    * residual: a market-wide move loads on the factor and cancels; a
    * single-name break survives as residual. (The reference's
    * peer-sanity intent — dev.R's cross-ticker checks — promoted to
    * the classic statistical-arbitrage detector.)
    *
    * Algorithm (identical on both engines, s12's integer-iteration
    * precedent): returns r = Δ(last daily close) are exact 1e-4-grid
    * longs; the top eigenvector of the UNCENTERED second-moment
    * matrix M = Σ_d x_d·x_dᵀ comes from `iters` fixed power
    * iterations that never materialize M — each round is two
    * catalog/day-sized joins: w_d = Σ_i r_{d,i}·v_i (day scores),
    * u_i = Σ_d r_{d,i}·w_d (= (M v)_i), then the integer rescale
    * v′ = sign(u)·((|u|·10⁶) div max|u|) keeps v an exact ±10⁶-scaled
    * integer vector (abs/sign split so the one integral division is
    * positive on both engines — floor = truncate there). The factor
    * series is the final day-score normalized the same way
    * (g_d ∈ [−10⁶, 10⁶]), so every regression moment (Σr², Σrg, Σg²)
    * stays within the exact decimal(38,0)/HUGEINT domain at any
    * catalog size. β = Σrg/Σg², SSE = Σr² − β²Σg² (OLS identity),
    * z_last = (r_last − β·g_last)/√(SSE/(n−1)) are ONE shared IEEE
    * chain, 1e-6-floored; degenerate series (zero factor, zero
    * residual variance, n < minObs) report NULL (q85's convention).
    * z is invariant to the factor normalization by construction.
    *
    * Scale shape: NO pair join anywhere — unlike q94's pair matrix
    * this is linear in the panel: each iteration is one
    * (ticker-day ⋈ catalog-sized v) join + day groupBy and one
    * (ticker-day ⋈ calendar-sized w) join + ticker groupBy, both
    * map-side combined; the normalizer is a whole-partition window
    * max (single-reference), so the power loop is linear lineage
    * fused into one job — only the final loadings (two consumers)
    * are cut. At 100 TB the return panel shuffles once into
    * (event_type, day)/(ticker) partitions and the iteration state
    * is catalog-sized.
    */
  def s14FactorResidual(s: SparkSession, dir: String,
      iters: Int = 4, minObs: Int = 8): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val dd = (c: Column) => c.cast("double")
    val wDay = Window.partitionBy(col("user_id"), col("event_type"),
      col("day")).orderBy(col("ts").desc, col("event_id").desc)
    val wSer = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("day"))
    val closes = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        to_date(col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
      .withColumn("rd", row_number().over(wDay))
      .filter(col("rd") === 1)
      .select(col("user_id"), col("event_type"), col("day"),
        col("v4l").as("y"))
    // the return panel is reused by every iteration and the final
    // regression — materialize once (ticker-day sized)
    val x = closes
      .withColumn("r", col("y") - lag(col("y"), 1).over(wSer))
      .filter(col("r").isNotNull)
      .select(col("user_id"), col("event_type"), col("day"), col("r"))
      .localCheckpoint()
    // integer rescale shared by the iteration and the factor series:
    // sign split off so the integral division is positive — floor and
    // truncate agree there, on both engines
    def rescale(num: String, mx: String): Column =
      when(col(mx) > 0,
        when(col(num) < 0, -expr(s"(abs($num) * 1000000) div $mx"))
          .otherwise(expr(s"(abs($num) * 1000000) div $mx")))
        .otherwise(lit(0L))
    // the per-event_type max|·| normalizer as a WHOLE-PARTITION window
    // max, not a groupBy + join back: the join form referenced its
    // input TWICE, which is what forced an eager localCheckpoint every
    // iteration (uncut, the doubly-referenced subtree re-executes 2^iters
    // times); with one reference per iteration the whole power loop is
    // LINEAR lineage and fuses into the final job — four eager
    // checkpoint jobs gone, same exact integers (max over the same
    // rows, one exchange either way)
    val wTypeMax = Window.partitionBy(col("event_type"))
    var v = x.select(col("user_id"), col("event_type")).distinct()
      .withColumn("v", lit(1000000L))
    for (_ <- 1 to iters) {
      val w = x.join(v, Seq("user_id", "event_type"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum((d19(col("r")) * d19(col("v"))).cast("decimal(38,0)"))
          .as("w"))
      val u = x.join(w, Seq("event_type", "day"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum((d19(col("r")) * col("w")).cast("decimal(38,0)")).as("u"))
      v = u.withColumn("mx", max(abs(col("u"))).over(wTypeMax))
        .select(col("user_id"), col("event_type"),
          rescale("u", "mx").cast("long").as("v"))
    }
    // the final loadings feed BOTH the factor series and the
    // regression join — the loop's one remaining multi-consumer
    // frame, cut once (catalog-sized)
    v = graft.operators.Materialize.cut(v)
    // factor series off the FINAL loadings, normalized to ±1e6
    val wf = x.join(v, Seq("user_id", "event_type"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum((d19(col("r")) * d19(col("v"))).cast("decimal(38,0)"))
        .as("w"))
    val g = wf.withColumn("mxw", max(abs(col("w"))).over(wTypeMax))
      .select(col("event_type"), col("day"),
        rescale("w", "mxw").cast("long").as("g"))
    val wLast = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("day").desc)
    val sums = x.join(g, Seq("event_type", "day"))
      .withColumn("lr", row_number().over(wLast))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_obs"),
        sum((d19(col("r")) * d19(col("r"))).cast("decimal(38,0)")).as("srr"),
        sum((d19(col("r")) * d19(col("g"))).cast("decimal(38,0)")).as("srf"),
        sum((d19(col("g")) * d19(col("g"))).cast("decimal(38,0)")).as("sff"),
        max(when(col("lr") === 1, col("r"))).as("r_last"),
        max(when(col("lr") === 1, col("g"))).as("g_last"))
    sums.join(v, Seq("user_id", "event_type"))
      .withColumn("b", when(col("sff") > 0, dd(col("srf")) / dd(col("sff"))))
      .withColumn("sse",
        dd(col("srr")) - col("b") * col("b") * dd(col("sff")))
      .withColumn("e_last",
        dd(col("r_last")) - col("b") * dd(col("g_last")))
      .select(col("user_id"), col("event_type"), col("n_obs"),
        col("v").as("load6"),
        when(col("sff") > 0,
          floor(col("b") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("beta6"),
        when(col("sff") > 0 && col("sse") > 0 && col("n_obs") >= minObs,
          floor(col("e_last") / sqrt(col("sse") / (col("n_obs") - 1)) *
            lit(1000000.0) + lit(0.5)).cast("long")).as("z_last6"))
      .withColumn("break_flag",
        when(abs(col("z_last6")) >= 3000000L, 1).otherwise(0))
      .orderBy(col("user_id"), col("event_type"))
  }
}

/** DuckDB oracles for SignalOps — same fixed-point closed forms. */
object SignalOracle {

  val q19: String =
    """WITH base AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), st AS (
      |  SELECT *,
      |    count(*) OVER wk AS n,
      |    sum(v4l) OVER wk AS s1,
      |    sum(CAST(v4l AS HUGEINT) * v4l) OVER wk AS s2
      |  FROM base
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), z AS (
      |  SELECT *, v4l / 10000.0 AS value,
      |    CASE WHEN n > 1 AND (n * s2 - CAST(s1 AS HUGEINT) * s1) > 0
      |      THEN CAST(floor(
      |        CAST(n * v4l - s1 AS DOUBLE) /
      |        sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) * n / (n - 1))
      |        * 1000000.0 + 0.5) AS BIGINT)
      |      ELSE 0 END AS zf
      |  FROM st
      |), r AS (
      |  SELECT *,
      |    sum(zf - 500000) OVER w AS r_pos,
      |    sum(-zf - 500000) OVER w AS r_neg
      |  FROM z
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), sfin AS (
      |  SELECT *,
      |    r_pos - least(0, min(r_pos) OVER w) AS s_pos,
      |    r_neg - least(0, min(r_neg) OVER w) AS s_neg
      |  FROM r
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded, value,
      |  zf / 1000000.0 AS zscore6,
      |  s_pos / 1000000.0 AS cusum_pos,
      |  s_neg / 1000000.0 AS cusum_neg,
      |  CASE WHEN s_pos > 5000000 OR s_neg > 5000000 THEN 1 ELSE 0 END
      |    AS changepoint_flag
      |FROM sfin
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st08: the streaming CUSUM recomputed as windowed SQL — per-ticker
    * segments split on the 8-day staleness gap (mirroring the
    * EventTimeTimeout baseline restart), prefix moments as exact
    * integer running sums within each segment, and the clamped CUSUM
    * recursion via the runningSum − min(0, runningMin) closed form
    * (exact: all fixed-point longs).
    */
  val st08: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), st AS (
      |  SELECT *,
      |    count(*) OVER wk AS n,
      |    sum(v4l) OVER wk AS s1,
      |    sum(CAST(v4l AS HUGEINT) * v4l) OVER wk AS s2
      |  FROM seg
      |  WINDOW wk AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), z AS (
      |  SELECT *, v4l / 10000.0 AS value,
      |    CASE WHEN n > 1 AND (n * s2 - CAST(s1 AS HUGEINT) * s1) > 0
      |      THEN CAST(floor(
      |        CAST(n * v4l - s1 AS DOUBLE) /
      |        sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) * n / (n - 1))
      |        * 1000000.0 + 0.5) AS BIGINT)
      |      ELSE 0 END AS zf
      |  FROM st
      |), r AS (
      |  SELECT *,
      |    sum(zf - 500000) OVER w AS r_pos,
      |    sum(-zf - 500000) OVER w AS r_neg
      |  FROM z
      |  WINDOW w AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), sfin AS (
      |  SELECT *,
      |    r_pos - least(0, min(r_pos) OVER w) AS s_pos,
      |    r_neg - least(0, min(r_neg) OVER w) AS s_neg
      |  FROM r
      |  WINDOW w AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded, value,
      |  zf / 1000000.0 AS zscore6,
      |  s_pos / 1000000.0 AS cusum_pos,
      |  s_neg / 1000000.0 AS cusum_neg,
      |  CASE WHEN s_pos > 5000000 OR s_neg > 5000000 THEN 1 ELSE 0 END
      |    AS changepoint_flag
      |FROM sfin
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** q54: the same dyadic fixed-point Holt recursion replayed as a
    * recursive CTE — each iteration advances every key's frontier one
    * row (join on seq + 1), so the iteration count is the longest
    * series, not the row count. Moments/z mirror q19's closed form.
    */
  val q54: String =
    """WITH RECURSIVE base AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS seq
      |  FROM events
      |), rec AS (
      |  SELECT user_id, event_type, event_id, ts, v4l, seq,
      |    v4l AS l, CAST(0 AS BIGINT) AS b,
      |    CAST(NULL AS BIGINT) AS pred, CAST(NULL AS BIGINT) AS e
      |  FROM base WHERE seq = 1
      |  UNION ALL
      |  SELECT b2.user_id, b2.event_type, b2.event_id, b2.ts, b2.v4l, b2.seq,
      |    CAST(floor((b2.v4l + r.l + r.b) / 2.0) AS BIGINT) AS l,
      |    CAST(floor((CAST(floor((b2.v4l + r.l + r.b) / 2.0) AS BIGINT)
      |      - r.l + 3.0 * r.b) / 4.0) AS BIGINT) AS b,
      |    r.l + r.b AS pred,
      |    b2.v4l - (r.l + r.b) AS e
      |  FROM rec r JOIN base b2
      |    ON b2.user_id = r.user_id AND b2.event_type = r.event_type
      |   AND b2.seq = r.seq + 1
      |), st AS (
      |  SELECT *,
      |    count(e) OVER wk AS n,
      |    sum(e) OVER wk AS s1,
      |    sum(CAST(e AS HUGEINT) * e) OVER wk AS s2
      |  FROM rec
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), z AS (
      |  SELECT *,
      |    CASE WHEN e IS NULL THEN NULL
      |         WHEN n > 1 AND (n * s2 - CAST(s1 AS HUGEINT) * s1) > 0
      |         THEN CAST(floor(CAST(n * e - s1 AS DOUBLE) /
      |           sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
      |             * n / (n - 1)) * 1000000.0 + 0.5) AS BIGINT)
      |         ELSE 0 END AS z6l
      |  FROM st
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value,
      |  pred / 10000.0 AS forecast,
      |  e / 10000.0 AS resid,
      |  z6l / 1000000.0 AS holt_z6,
      |  CASE WHEN z6l IS NOT NULL AND abs(z6l) >= 3000000 THEN 1 ELSE 0 END
      |    AS holt_flag
      |FROM z
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** q67: the Holt-Winters recursion replayed — q54's frontier shape
    * with the 7-slot seasonal ring carried as a BIGINT LIST column
    * (NULL = phase not yet seen). Nested subqueries in the recursive
    * arm alias the shared lN/sN subexpressions so each floor chain is
    * written once, exactly as the Scala handler computes it.
    */
  val q67: String = {
    val ring = (1 to 7).map(i =>
      s"CASE WHEN ((v.seq - 1) % 7) + 1 = $i THEN v.sN ELSE v.sPrev[$i] END")
      .mkString(",\n      |      ")
    s"""WITH RECURSIVE base AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS seq
      |  FROM events
      |), rec AS (
      |  SELECT user_id, event_type, event_id, ts, v4l, seq,
      |    v4l AS l, CAST(0 AS BIGINT) AS b,
      |    [CAST(0 AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL] AS s,
      |    CAST(NULL AS BIGINT) AS pred, CAST(NULL AS BIGINT) AS e,
      |    CAST(NULL AS BIGINT) AS sp_used
      |  FROM base WHERE seq = 1
      |  UNION ALL
      |  SELECT v.user_id, v.event_type, v.event_id, v.ts, v.v4l, v.seq,
      |    v.lN AS l,
      |    CAST(floor((v.lN - v.lPrev + 3.0 * v.bPrev) / 4.0) AS BIGINT)
      |      AS b,
      |    [$ring] AS s,
      |    CASE WHEN v.sp IS NULL THEN NULL
      |         ELSE v.lPrev + v.bPrev + v.sp END AS pred,
      |    CASE WHEN v.sp IS NULL THEN NULL
      |         ELSE v.v4l - (v.lPrev + v.bPrev + v.sp) END AS e,
      |    v.sp AS sp_used
      |  FROM (
      |    SELECT u.*,
      |      CAST(CASE WHEN u.sp IS NULL THEN u.v4l - u.lN
      |           ELSE CAST(floor((u.v4l - u.lN + 3.0 * u.sp) / 4.0)
      |             AS BIGINT) END AS BIGINT) AS sN
      |    FROM (
      |      SELECT t.*,
      |        CAST(CASE WHEN t.sp IS NULL
      |             THEN floor((t.v4l + t.lPrev + t.bPrev) / 2.0)
      |             ELSE floor((t.v4l - t.sp + t.lPrev + t.bPrev) / 2.0)
      |             END AS BIGINT) AS lN
      |      FROM (
      |        SELECT b2.user_id, b2.event_type, b2.event_id, b2.ts,
      |          b2.v4l, b2.seq, r.l AS lPrev, r.b AS bPrev, r.s AS sPrev,
      |          r.s[((b2.seq - 1) % 7) + 1] AS sp
      |        FROM rec r JOIN base b2
      |          ON b2.user_id = r.user_id AND b2.event_type = r.event_type
      |         AND b2.seq = r.seq + 1
      |      ) t
      |    ) u
      |  ) v
      |), st AS (
      |  SELECT *,
      |    count(e) OVER wk AS n,
      |    sum(e) OVER wk AS s1,
      |    sum(CAST(e AS HUGEINT) * e) OVER wk AS s2
      |  FROM rec
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), z AS (
      |  SELECT *,
      |    CASE WHEN e IS NULL THEN NULL
      |         WHEN n > 1 AND (n * s2 - CAST(s1 AS HUGEINT) * s1) > 0
      |         THEN CAST(floor(CAST(n * e - s1 AS DOUBLE) /
      |           sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
      |             * n / (n - 1)) * 1000000.0 + 0.5) AS BIGINT)
      |         ELSE 0 END AS z6l
      |  FROM st
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value,
      |  pred / 10000.0 AS forecast,
      |  e / 10000.0 AS resid,
      |  sp_used / 10000.0 AS season,
      |  z6l / 1000000.0 AS hw_z6,
      |  CASE WHEN z6l IS NOT NULL AND abs(z6l) >= 3000000 THEN 1 ELSE 0 END
      |    AS hw_flag
      |FROM z
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin
  }

  /** q62: the integer-gain Kalman recursion replayed as a recursive
    * CTE (q54's frontier shape — each iteration advances every key
    * one row). The gain subexpression repeats because SQL can't
    * alias within the recursive arm; all three forms are the same
    * exact-in-double integer ratios the Scala handler floors.
    */
  val q62: String =
    """WITH RECURSIVE base AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS seq
      |  FROM events
      |), rec AS (
      |  SELECT user_id, event_type, event_id, ts, v4l, seq,
      |    v4l AS l, CAST(100000000 AS BIGINT) AS p,
      |    CAST(NULL AS BIGINT) AS k6, CAST(NULL AS BIGINT) AS e,
      |    CAST(NULL AS BIGINT) AS pp
      |  FROM base WHERE seq = 1
      |  UNION ALL
      |  SELECT b2.user_id, b2.event_type, b2.event_id, b2.ts, b2.v4l, b2.seq,
      |    r.l + CAST(floor(
      |        CAST(floor((r.p + 10000000) * 1000000.0
      |          / (r.p + 10000000 + 100000000)) AS BIGINT)
      |        * (b2.v4l - r.l) / 1000000.0) AS BIGINT) AS l,
      |    CAST(floor((1000000 - CAST(floor((r.p + 10000000) * 1000000.0
      |          / (r.p + 10000000 + 100000000)) AS BIGINT))
      |        * (r.p + 10000000) / 1000000.0) AS BIGINT) AS p,
      |    CAST(floor((r.p + 10000000) * 1000000.0
      |      / (r.p + 10000000 + 100000000)) AS BIGINT) AS k6,
      |    b2.v4l - r.l AS e,
      |    r.p + 10000000 AS pp
      |  FROM rec r JOIN base b2
      |    ON b2.user_id = r.user_id AND b2.event_type = r.event_type
      |   AND b2.seq = r.seq + 1
      |), z AS (
      |  SELECT *,
      |    CASE WHEN e IS NULL THEN NULL ELSE
      |      CAST(floor(e / sqrt(CAST(pp + 100000000 AS DOUBLE))
      |        * 1000000.0 + 0.5) AS BIGINT) END AS z6l
      |  FROM rec
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value,
      |  l / 10000.0 AS level,
      |  k6 / 1000000.0 AS kgain6,
      |  e / 10000.0 AS innovation,
      |  z6l / 1000000.0 AS kalman_z6,
      |  CASE WHEN z6l IS NOT NULL AND abs(z6l) >= 3000000
      |    THEN 1 ELSE 0 END AS kalman_flag
      |FROM z
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st09: q54's recursion replayed per STALENESS SEGMENT (st08's
    * 8-day gap rule splits segments; the stream restarts its baseline
    * there) with PREFIX error moments carried through the recursion —
    * z is then a plain post-select over the carried (n, s1, s2, e).
    */
  val st09: String =
    """WITH RECURSIVE b AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), sq AS MATERIALIZED (
      |  SELECT user_id, event_type, seg_id, event_id, ts, v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id) AS seq
      |  FROM seg
      |), rec AS (
      |  SELECT user_id, event_type, seg_id, seq, event_id, ts, v4l,
      |    v4l AS l, CAST(0 AS BIGINT) AS tr,
      |    CAST(NULL AS BIGINT) AS pred, CAST(NULL AS BIGINT) AS e,
      |    CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS s1,
      |    CAST(0 AS HUGEINT) AS s2
      |  FROM sq WHERE seq = 1
      |  UNION ALL
      |  SELECT n2.user_id, n2.event_type, n2.seg_id, n2.seq, n2.event_id,
      |    n2.ts, n2.v4l,
      |    CAST(floor((n2.v4l + r.l + r.tr) / 2.0) AS BIGINT),
      |    CAST(floor((CAST(floor((n2.v4l + r.l + r.tr) / 2.0) AS BIGINT)
      |      - r.l + 3.0 * r.tr) / 4.0) AS BIGINT),
      |    r.l + r.tr,
      |    n2.v4l - (r.l + r.tr),
      |    r.n + 1,
      |    r.s1 + (n2.v4l - (r.l + r.tr)),
      |    r.s2 + CAST(n2.v4l - (r.l + r.tr) AS HUGEINT)
      |      * (n2.v4l - (r.l + r.tr))
      |  FROM rec r JOIN sq n2
      |    ON n2.user_id = r.user_id AND n2.event_type = r.event_type
      |   AND n2.seg_id = r.seg_id AND n2.seq = r.seq + 1
      |), z AS (
      |  SELECT *,
      |    CASE WHEN e IS NULL THEN NULL
      |         WHEN n > 1 AND (n * s2 - CAST(s1 AS HUGEINT) * s1) > 0
      |         THEN CAST(floor(CAST(n * e - s1 AS DOUBLE) /
      |           sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
      |             * n / (n - 1)) * 1000000.0 + 0.5) AS BIGINT)
      |         ELSE 0 END AS z6l
      |  FROM rec
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value,
      |  pred / 10000.0 AS forecast,
      |  e / 10000.0 AS resid,
      |  z6l / 1000000.0 AS holt_z6,
      |  CASE WHEN z6l IS NOT NULL AND abs(z6l) >= 3000000 THEN 1 ELSE 0 END
      |    AS holt_flag
      |FROM z
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st10: the SpaceSaving k-counter state machine replayed as ONE
    * recursive CTE carrying the counter bank as THREE LIST columns —
    * per 6 h window, each recursion step consumes the next event in
    * the deterministic (ts, event_id) order and applies the exact
    * hit / admit / evict-min rule (ties → smallest key; the evicted
    * counter's value becomes the newcomer's error bound), exactly
    * the streaming update. A window publishes its top 5 only when
    * the final watermark (max event time − 1 h, ms-floored) passed
    * its end — the Append-mode finalization rule, so the in-flight
    * last window is absent on both engines. The ONE remaining
    * rows-only entry graduates with this replay: every driver entry
    * is now oracle-backed.
    */
  val st10: String =
    """WITH RECURSIVE b AS MATERIALIZED (
      |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_id, user_id,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000)
      |      * 21600000000 AS win
      |  FROM events
      |), sq AS MATERIALIZED (
      |  SELECT win, user_id,
      |    row_number() OVER (PARTITION BY win ORDER BY ts, event_id)
      |      AS seq,
      |    count(*) OVER (PARTITION BY win) AS nwin
      |  FROM b
      |), wm AS (
      |  SELECT epoch_ms(max(ts)) - 3600000 AS wm_ms FROM b
      |), rec AS (
      |  SELECT win, seq, nwin,
      |    [user_id] AS ks, [CAST(1 AS BIGINT)] AS cs,
      |    [CAST(0 AS BIGINT)] AS es, CAST(1 AS BIGINT) AS total
      |  FROM sq WHERE seq = 1
      |  UNION ALL
      |  SELECT win, seq, nwin,
      |    CASE WHEN idx > 0 THEN ks
      |         WHEN len(ks) < 16 THEN list_append(ks, u)
      |         ELSE list_transform(range(1, len(ks) + 1),
      |           i -> CASE WHEN i = mi THEN u ELSE ks[i] END)
      |    END,
      |    CASE WHEN idx > 0 THEN list_transform(range(1, len(cs) + 1),
      |           i -> CASE WHEN i = idx THEN cs[i] + 1 ELSE cs[i] END)
      |         WHEN len(ks) < 16 THEN list_append(cs, CAST(1 AS BIGINT))
      |         ELSE list_transform(range(1, len(cs) + 1),
      |           i -> CASE WHEN i = mi THEN cs[mi] + 1 ELSE cs[i] END)
      |    END,
      |    CASE WHEN idx > 0 THEN es
      |         WHEN len(ks) < 16 THEN list_append(es, CAST(0 AS BIGINT))
      |         ELSE list_transform(range(1, len(es) + 1),
      |           i -> CASE WHEN i = mi THEN cs[mi] ELSE es[i] END)
      |    END,
      |    total + 1
      |  FROM (
      |    SELECT r.win, n.seq, r.nwin, r.ks, r.cs, r.es, r.total,
      |      n.user_id AS u,
      |      list_position(r.ks, n.user_id) AS idx,
      |      list_reduce(range(1, len(r.cs) + 1),
      |        (acc, i) -> CASE WHEN r.cs[i] < r.cs[acc]
      |            OR (r.cs[i] = r.cs[acc] AND r.ks[i] < r.ks[acc])
      |          THEN i ELSE acc END) AS mi
      |    FROM rec r JOIN sq n ON n.win = r.win AND n.seq = r.seq + 1)
      |), fin AS (
      |  SELECT win, ks, cs, es, total FROM rec WHERE seq = nwin
      |), ex AS (
      |  SELECT win, total, unnest(ks) AS user_id, unnest(cs) AS est_count,
      |    unnest(es) AS max_err
      |  FROM fin
      |), rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY win
      |    ORDER BY est_count DESC, user_id) AS rank
      |  FROM ex
      |)
      |SELECT make_timestamp(win) AS win_start, CAST(rank AS INT) AS rank,
      |  user_id, est_count, max_err, total AS n_events
      |FROM rk, wm
      |WHERE rank <= 5 AND (win + 21600000000) // 1000 < wm.wm_ms
      |ORDER BY win_start, rank""".stripMargin

  /** st37: st09's segmented dyadic Holt replay, then the naive lag-1
    * error via a segment lag and the running MASE as prefix sums of
    * |e| and |naive| over the scored prints — one IEEE division per
    * row off exact integers, exactly the streaming accumulation.
    */
  val st37: String =
    """WITH RECURSIVE b AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), sq AS MATERIALIZED (
      |  SELECT user_id, event_type, seg_id, event_id, ts, v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id) AS seq
      |  FROM seg
      |), rec AS (
      |  SELECT user_id, event_type, seg_id, seq, event_id, ts, v4l,
      |    v4l AS l, CAST(0 AS BIGINT) AS tr,
      |    CAST(NULL AS BIGINT) AS e
      |  FROM sq WHERE seq = 1
      |  UNION ALL
      |  SELECT n2.user_id, n2.event_type, n2.seg_id, n2.seq, n2.event_id,
      |    n2.ts, n2.v4l,
      |    CAST(floor((n2.v4l + r.l + r.tr) / 2.0) AS BIGINT),
      |    CAST(floor((CAST(floor((n2.v4l + r.l + r.tr) / 2.0) AS BIGINT)
      |      - r.l + 3.0 * r.tr) / 4.0) AS BIGINT),
      |    n2.v4l - (r.l + r.tr)
      |  FROM rec r JOIN sq n2
      |    ON n2.user_id = r.user_id AND n2.event_type = r.event_type
      |   AND n2.seg_id = r.seg_id AND n2.seq = r.seq + 1
      |), nv AS (
      |  SELECT *, v4l - lag(v4l) OVER (PARTITION BY user_id, event_type,
      |    seg_id ORDER BY seq) AS d
      |  FROM rec
      |), acc AS (
      |  SELECT *,
      |    sum(CASE WHEN e IS NOT NULL THEN abs(e) END) OVER wp AS sae,
      |    sum(CASE WHEN e IS NOT NULL THEN abs(d) END) OVER wp AS san,
      |    count(CASE WHEN e IS NOT NULL THEN 1 END) OVER wp AS n_scored
      |  FROM nv
      |  WINDOW wp AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value,
      |  CAST(n_scored AS BIGINT) AS n_scored,
      |  CASE WHEN san > 0 THEN CAST(floor(CAST(sae AS DOUBLE) /
      |    CAST(san AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) END AS mase6,
      |  CASE WHEN san > 0 AND CAST(floor(CAST(sae AS DOUBLE) /
      |    CAST(san AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) < 1000000
      |    THEN 1 ELSE 0 END AS beats_naive_flag
      |FROM acc
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st38: the per-print PSI replayed with NO recursion — st22's
    * 8-day staleness segmentation per event_type, then the prefix
    * bucket occupancy as TEN conditional running window sums over one
    * (type, segment) window, the reference occupancy as q61/st13's
    * first-half-of-span fixed-domain counts, and the add-one-smoothed
    * PSI as ten 1e-9-floored terms summed in fixed bucket order.
    */
  val st38: String = {
    val runs = (0 until 10).map(j =>
      s"sum(CASE WHEN b = $j THEN 1 ELSE 0 END) OVER wp AS c$j")
      .mkString(",\n      |    ")
    val refcols = (0 until 10).map(j =>
      s"CAST(coalesce(sum(CASE WHEN b = $j THEN c END), 0) + 1 AS DOUBLE)" +
        s" / (CAST(sum(c) AS BIGINT) + 10) AS p$j")
      .mkString(",\n      |    ")
    val terms = (0 until 10).map(j =>
      s"CAST(floor((coalesce(p$j, 0.1) - (c$j + 1.0) / (n + 10)) * " +
        s"ln(coalesce(p$j, 0.1) / ((c$j + 1.0) / (n + 10))) * " +
        "1000000000.0 + 0.5) AS BIGINT)")
      .mkString("\n      |    + ")
    s"""WITH ev AS (
      |  SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), span AS (
      |  SELECT min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS piv
      |  FROM ev
      |), bk AS (
      |  SELECT event_type, event_id, ts, day,
      |    v4l, least(9, greatest(0, v4l // 1000000)) AS b
      |  FROM ev
      |), refc AS (
      |  SELECT event_type, b, count(*) AS c
      |  FROM bk, span WHERE day <= span.piv GROUP BY 1, 2
      |), refw AS (
      |  SELECT event_type,
      |    $refcols
      |  FROM refc GROUP BY 1
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM bk
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), pre AS (
      |  SELECT event_type, event_id, ts, v4l,
      |    count(*) OVER wp AS n,
      |    $runs
      |  FROM seg
      |  WINDOW wp AS (PARTITION BY event_type, seg_id
      |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW)
      |), scored AS (
      |  SELECT p.event_type, p.event_id, p.ts, p.v4l,
      |    CAST(p.n AS BIGINT) AS n_seen,
      |    $terms AS psi9
      |  FROM pre p LEFT JOIN refw r ON r.event_type = p.event_type
      |)
      |SELECT event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value, n_seen, psi9,
      |  CASE WHEN psi9 > 200000000 THEN 1 ELSE 0 END AS drift_flag
      |FROM scored
      |ORDER BY event_type, date_recorded, event_id""".stripMargin
  }

  /** st39: the windowed Spearman replayed with NO recursion — st22's
    * 8-day staleness segmentation, then per anchor row a seq-bounded
    * self-join materializes its ≤16-row window, two rank windows give
    * the position and (value, position) permutation ranks, and q80's
    * one-division ρ chain runs off the exact Σd².
    */
  val st39: String =
    """WITH b AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), sq AS MATERIALIZED (
      |  SELECT user_id, event_type, seg_id, event_id, ts, v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id) AS seq
      |  FROM seg
      |), win AS (
      |  SELECT a.user_id, a.event_type, a.seg_id, a.seq, a.event_id,
      |    a.ts, a.v4l, bb.seq AS bseq, bb.v4l AS bv
      |  FROM sq a JOIN sq bb
      |    ON bb.user_id = a.user_id AND bb.event_type = a.event_type
      |   AND bb.seg_id = a.seg_id
      |   AND bb.seq BETWEEN a.seq - 15 AND a.seq
      |), rk AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id, seq
      |      ORDER BY bseq) AS rx,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id, seq
      |      ORDER BY bv, bseq) AS ry
      |  FROM win
      |), agg AS (
      |  SELECT user_id, event_type, seg_id, seq, event_id, ts, v4l,
      |    count(*) AS n,
      |    sum((rx - ry) * (rx - ry)) AS dd
      |  FROM rk
      |  GROUP BY 1, 2, 3, 4, 5, 6, 7
      |), fin AS (
      |  SELECT user_id, event_type, event_id, ts, v4l,
      |    CAST(n AS INT) AS n_window,
      |    CASE WHEN n >= 5 THEN
      |      CAST(floor(CAST((n * n * n - n) - 6 * dd AS DOUBLE)
      |        / CAST(n * n * n - n AS DOUBLE)
      |        * 1000000.0 + 0.5) AS BIGINT) END AS rho6
      |  FROM agg
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value, n_window, rho6,
      |  CASE WHEN abs(rho6) >= 800000 THEN 1 ELSE 0 END AS mono_flag
      |FROM fin
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st22: the dyadic EWMA recursion replayed per 8-day staleness
    * segment with prefix error moments carried through the recursion
    * — st09's oracle with the level limb only.
    */
  val st22: String =
    """WITH RECURSIVE b AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), sq AS MATERIALIZED (
      |  SELECT user_id, event_type, seg_id, event_id, ts, v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id) AS seq
      |  FROM seg
      |), rec AS (
      |  SELECT user_id, event_type, seg_id, seq, event_id, ts, v4l,
      |    v4l AS l,
      |    CAST(NULL AS BIGINT) AS e,
      |    CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS s1,
      |    CAST(0 AS HUGEINT) AS s2
      |  FROM sq WHERE seq = 1
      |  UNION ALL
      |  SELECT n2.user_id, n2.event_type, n2.seg_id, n2.seq, n2.event_id,
      |    n2.ts, n2.v4l,
      |    CAST(floor((n2.v4l + 3.0 * r.l) / 4.0) AS BIGINT),
      |    n2.v4l - r.l,
      |    r.n + 1,
      |    r.s1 + (n2.v4l - r.l),
      |    r.s2 + CAST(n2.v4l - r.l AS HUGEINT) * (n2.v4l - r.l)
      |  FROM rec r JOIN sq n2
      |    ON n2.user_id = r.user_id AND n2.event_type = r.event_type
      |   AND n2.seg_id = r.seg_id AND n2.seq = r.seq + 1
      |), z AS (
      |  SELECT *,
      |    CASE WHEN e IS NULL THEN NULL
      |         WHEN n > 1 AND (n * s2 - CAST(s1 AS HUGEINT) * s1) > 0
      |         THEN CAST(floor(CAST(n * e - s1 AS DOUBLE) /
      |           sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
      |             * n / (n - 1)) * 1000000.0 + 0.5) AS BIGINT)
      |         ELSE 0 END AS z6l
      |  FROM rec
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value,
      |  l / 10000.0 AS ewma,
      |  e / 10000.0 AS resid,
      |  z6l / 1000000.0 AS ewma_z6,
      |  CASE WHEN z6l IS NOT NULL AND abs(z6l) >= 3000000 THEN 1 ELSE 0 END
      |    AS ewma_flag
      |FROM z
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st17: q67's Holt-Winters recursion replayed per STALENESS
    * SEGMENT (st09's 8-day gap rule) with PREFIX error moments
    * carried through the recursion — the ring travels as a BIGINT
    * LIST keyed by the segment-local phase, warm-up rows advance no
    * moments, and z is a plain post-select over the carried
    * (n, s1, s2, e).
    */
  val st17: String = {
    val ring = (1 to 7).map(i =>
      s"CASE WHEN ((v.seq - 1) % 7) + 1 = $i THEN v.sN ELSE v.sPrev[$i] END")
      .mkString(",\n      |      ")
    s"""WITH RECURSIVE b AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), sq AS MATERIALIZED (
      |  SELECT user_id, event_type, seg_id, event_id, ts, v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id) AS seq
      |  FROM seg
      |), rec AS (
      |  SELECT user_id, event_type, seg_id, seq, event_id, ts, v4l,
      |    v4l AS l, CAST(0 AS BIGINT) AS tr,
      |    [CAST(0 AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL] AS s,
      |    CAST(NULL AS BIGINT) AS pred, CAST(NULL AS BIGINT) AS e,
      |    CAST(NULL AS BIGINT) AS sp_used,
      |    CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS s1,
      |    CAST(0 AS HUGEINT) AS s2
      |  FROM sq WHERE seq = 1
      |  UNION ALL
      |  SELECT v.user_id, v.event_type, v.seg_id, v.seq, v.event_id,
      |    v.ts, v.v4l,
      |    v.lN AS l,
      |    CAST(floor((v.lN - v.lPrev + 3.0 * v.bPrev) / 4.0) AS BIGINT)
      |      AS tr,
      |    [$ring] AS s,
      |    CASE WHEN v.sp IS NULL THEN NULL
      |         ELSE v.lPrev + v.bPrev + v.sp END AS pred,
      |    CASE WHEN v.sp IS NULL THEN NULL
      |         ELSE v.v4l - (v.lPrev + v.bPrev + v.sp) END AS e,
      |    v.sp AS sp_used,
      |    v.nPrev + CASE WHEN v.sp IS NULL THEN 0 ELSE 1 END AS n,
      |    v.s1Prev + CASE WHEN v.sp IS NULL THEN 0
      |         ELSE v.v4l - (v.lPrev + v.bPrev + v.sp) END AS s1,
      |    v.s2Prev + CASE WHEN v.sp IS NULL THEN CAST(0 AS HUGEINT)
      |         ELSE CAST(v.v4l - (v.lPrev + v.bPrev + v.sp) AS HUGEINT)
      |           * (v.v4l - (v.lPrev + v.bPrev + v.sp)) END AS s2
      |  FROM (
      |    SELECT u.*,
      |      CAST(CASE WHEN u.sp IS NULL THEN u.v4l - u.lN
      |           ELSE CAST(floor((u.v4l - u.lN + 3.0 * u.sp) / 4.0)
      |             AS BIGINT) END AS BIGINT) AS sN
      |    FROM (
      |      SELECT t.*,
      |        CAST(CASE WHEN t.sp IS NULL
      |             THEN floor((t.v4l + t.lPrev + t.bPrev) / 2.0)
      |             ELSE floor((t.v4l - t.sp + t.lPrev + t.bPrev) / 2.0)
      |             END AS BIGINT) AS lN
      |      FROM (
      |        SELECT n2.user_id, n2.event_type, n2.seg_id, n2.event_id,
      |          n2.ts, n2.v4l, n2.seq, r.l AS lPrev, r.tr AS bPrev,
      |          r.s AS sPrev, r.s[((n2.seq - 1) % 7) + 1] AS sp,
      |          r.n AS nPrev, r.s1 AS s1Prev, r.s2 AS s2Prev
      |        FROM rec r JOIN sq n2
      |          ON n2.user_id = r.user_id AND n2.event_type = r.event_type
      |         AND n2.seg_id = r.seg_id AND n2.seq = r.seq + 1
      |      ) t
      |    ) u
      |  ) v
      |), z AS (
      |  SELECT *,
      |    CASE WHEN e IS NULL THEN NULL
      |         WHEN n > 1 AND (n * s2 - CAST(s1 AS HUGEINT) * s1) > 0
      |         THEN CAST(floor(CAST(n * e - s1 AS DOUBLE) /
      |           sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
      |             * n / (n - 1)) * 1000000.0 + 0.5) AS BIGINT)
      |         ELSE 0 END AS z6l
      |  FROM rec
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value,
      |  pred / 10000.0 AS forecast,
      |  e / 10000.0 AS resid,
      |  sp_used / 10000.0 AS season,
      |  CASE WHEN e IS NULL THEN NULL ELSE z6l / 1000000.0 END AS hw_z6,
      |  CASE WHEN z6l IS NOT NULL AND abs(z6l) >= 3000000 THEN 1 ELSE 0 END
      |    AS hw_flag
      |FROM z
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin
  }

  /** p05: the component oracles composed VERBATIM as subqueries and
    * left-joined on the ticker key — the oracle-level mirror of the
    * report's by-construction equivalence to its standalone parts.
    */
  def p05: String =
    s"""WITH s13 AS (SELECT * FROM (${DecomposeOracle.q13})),
       |per AS (SELECT * FROM ($q60)),
       |tr AS (SELECT * FROM ($q64)),
       |di AS (SELECT * FROM ($q63)),
       |dr AS (SELECT * FROM ($q61))
       |SELECT s13.user_id, s13.event_type, s13.date, s13.value,
       |  s13.seven_day_avg, s13.score, s13.is_anomaly, s13.repetitions,
       |  s13.frequency_days, s13.alleged_frequency_days,
       |  per.dominant_period, per.autocorr6,
       |  tr.mk_tau6, tr.sen_slope_day,
       |  di.discord_event_id, di.discord_d2,
       |  dr.psi9, dr.drift
       |FROM s13
       |LEFT JOIN per USING (user_id, event_type)
       |LEFT JOIN tr USING (user_id, event_type)
       |LEFT JOIN di USING (user_id, event_type)
       |LEFT JOIN dr USING (event_type)
       |ORDER BY s13.user_id, s13.event_type""".stripMargin

  /** q63: the same exact-integer discord search as plain SQL — the
    * pairwise D² via a (i, j) position self-join expanded ×m on the
    * aligned elements, integer min/argmax with the same tie-breaks.
    */
  val q63: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS seq,
      |    count(*) OVER (PARTITION BY user_id, event_type) AS n
      |  FROM events
      |), el AS (
      |  SELECT * FROM b WHERE n >= 8
      |), pr AS (
      |  SELECT i.user_id, i.event_type, i.seq AS i, j.seq AS j
      |  FROM el i JOIN el j
      |    ON j.user_id = i.user_id AND j.event_type = i.event_type
      |  WHERE abs(i.seq - j.seq) >= 4
      |    AND i.seq <= i.n - 3 AND j.seq <= j.n - 3
      |), d AS (
      |  SELECT p.user_id, p.event_type, p.i, p.j,
      |    CAST(sum((a.v4l - c.v4l) * (a.v4l - c.v4l)) AS BIGINT) AS d2
      |  FROM pr p
      |  JOIN el a ON a.user_id = p.user_id AND a.event_type = p.event_type
      |    AND a.seq BETWEEN p.i AND p.i + 3
      |  JOIN el c ON c.user_id = p.user_id AND c.event_type = p.event_type
      |    AND c.seq = p.j + (a.seq - p.i)
      |  GROUP BY 1, 2, 3, 4
      |), nn AS (
      |  SELECT user_id, event_type, i, min(d2) AS nnd2
      |  FROM d GROUP BY 1, 2, 3
      |), disc AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY nnd2 DESC, i) AS r
      |  FROM nn
      |)
      |SELECT dd.user_id, dd.event_type,
      |  CAST(b2.n - 3 AS INT) AS n_subseq,
      |  CAST(dd.i AS INT) AS discord_seq,
      |  b2.event_id AS discord_event_id,
      |  dd.nnd2 AS discord_d2
      |FROM disc dd JOIN el b2 ON b2.user_id = dd.user_id
      |  AND b2.event_type = dd.event_type AND b2.seq = dd.i
      |WHERE dd.r = 1
      |ORDER BY dd.user_id, dd.event_type""".stripMargin

  /** q64: the same pairwise pass in SQL — integer S over time-ordered
    * pairs, the slope multiset's exact-rank lower median (each slope
    * ONE long/long division, never combined), same half-up τ6.
    */
  val q64: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS seq,
      |    count(*) OVER (PARTITION BY user_id, event_type) AS n
      |  FROM events
      |), pr AS (
      |  SELECT i.user_id, i.event_type, i.n,
      |    j.v4l - i.v4l AS dv, j.tus - i.tus AS dt
      |  FROM b i JOIN b j
      |    ON j.user_id = i.user_id AND j.event_type = i.event_type
      |   AND j.seq > i.seq
      |), s AS (
      |  SELECT user_id, event_type, max(n) AS n, count(*) AS n_pairs,
      |    CAST(sum(CASE WHEN dv > 0 THEN 1 WHEN dv < 0 THEN -1 ELSE 0 END)
      |      AS BIGINT) AS mk_s
      |  FROM pr GROUP BY 1, 2
      |), sl AS (
      |  SELECT user_id, event_type, dv / CAST(dt AS DOUBLE) AS sl,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY dv / CAST(dt AS DOUBLE)) AS r,
      |    count(*) OVER (PARTITION BY user_id, event_type) AS m
      |  FROM pr WHERE dt != 0
      |), med AS (
      |  SELECT user_id, event_type, sl * 8640000.0 AS sen_slope_day
      |  FROM sl WHERE r = (m + 1) // 2
      |)
      |SELECT s.user_id, s.event_type, CAST(s.n AS INT) AS n, s.n_pairs,
      |  s.mk_s,
      |  CAST(floor(s.mk_s * 1000000.0 / s.n_pairs + 0.5) AS BIGINT)
      |    / 1000000.0 AS mk_tau6,
      |  med.sen_slope_day
      |FROM s LEFT JOIN med USING (user_id, event_type)
      |WHERE s.n >= 2
      |ORDER BY s.user_id, s.event_type""".stripMargin

  /** q68: q64's pairwise SQL restricted to within-stratum pairs
    * ((j.seq − i.seq) % 7 = 0) — same integer S, half-up τ6 and
    * exact-rank lower-median slope.
    */
  val q68: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS seq,
      |    count(*) OVER (PARTITION BY user_id, event_type) AS n
      |  FROM events
      |), pr AS (
      |  SELECT i.user_id, i.event_type, i.n,
      |    j.v4l - i.v4l AS dv, j.tus - i.tus AS dt
      |  FROM b i JOIN b j
      |    ON j.user_id = i.user_id AND j.event_type = i.event_type
      |   AND j.seq > i.seq AND (j.seq - i.seq) % 7 = 0
      |), s AS (
      |  SELECT user_id, event_type, max(n) AS n, count(*) AS n_pairs,
      |    CAST(sum(CASE WHEN dv > 0 THEN 1 WHEN dv < 0 THEN -1 ELSE 0 END)
      |      AS BIGINT) AS smk_s
      |  FROM pr GROUP BY 1, 2
      |), sl AS (
      |  SELECT user_id, event_type, dv / CAST(dt AS DOUBLE) AS sl,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY dv / CAST(dt AS DOUBLE)) AS r,
      |    count(*) OVER (PARTITION BY user_id, event_type) AS m
      |  FROM pr WHERE dt != 0
      |), med AS (
      |  SELECT user_id, event_type, sl * 8640000.0 AS sen_slope_day
      |  FROM sl WHERE r = (m + 1) // 2
      |)
      |SELECT s.user_id, s.event_type, CAST(s.n AS INT) AS n, s.n_pairs,
      |  s.smk_s,
      |  CAST(floor(s.smk_s * 1000000.0 / s.n_pairs + 0.5) AS BIGINT)
      |    / 1000000.0 AS smk_tau6,
      |  med.sen_slope_day
      |FROM s LEFT JOIN med USING (user_id, event_type)
      |ORDER BY s.user_id, s.event_type""".stripMargin

  /** q65: Pettitt replayed as plain SQL — the per-row sign sum
    * V_t = Σ_j sign(v_t − v_j) from one self-join, U_t its running
    * sum, integer argmax with the smallest-t tie-break, and the same
    * inverted constant-multiply significance rule (no exp at query
    * time on either engine).
    */
  val q65: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS seq,
      |    count(*) OVER (PARTITION BY user_id, event_type) AS n
      |  FROM events
      |), el AS (
      |  SELECT * FROM b WHERE n >= 2
      |), vt AS (
      |  SELECT i.user_id, i.event_type, i.seq, max(i.n) AS n,
      |    max(i.event_id) AS event_id,
      |    CAST(sum(CASE WHEN i.v4l > j.v4l THEN 1
      |                  WHEN i.v4l < j.v4l THEN -1 ELSE 0 END)
      |      AS BIGINT) AS v
      |  FROM el i JOIN el j
      |    ON j.user_id = i.user_id AND j.event_type = i.event_type
      |  GROUP BY 1, 2, 3
      |), u AS (
      |  SELECT user_id, event_type, seq, n, event_id,
      |    sum(v) OVER (PARTITION BY user_id, event_type
      |      ORDER BY seq) AS ut
      |  FROM vt
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY abs(ut) DESC, seq) AS rk
      |  FROM u WHERE seq < n
      |)
      |SELECT user_id, event_type, CAST(n AS INT) AS n,
      |  CAST(seq AS INT) AS cp_seq, event_id AS cp_event_id,
      |  CAST(abs(ut) AS BIGINT) AS k_stat, CAST(ut AS BIGINT) AS cp_u,
      |  CAST(CASE WHEN 6.0 * abs(ut) * abs(ut) >
      |    3.6888794541139363 * (n * n * n + n * n)
      |    THEN 1 ELSE 0 END AS INT) AS sig_flag
      |FROM r WHERE rk = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** q66: the same grid in SQL — digit counts joined to the shared
    * nine expectation literals, identical IEEE term chain floored to
    * 1e-9 longs before the integer sum, same rank tie-break.
    */
  val q66: String =
    """WITH pos AS (
      |  SELECT event_type,
      |    CAST(substr(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)
      |      AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM events
      |  WHERE CAST(floor(value * 10000.0 + 0.5) AS BIGINT) > 0
      |), cnt AS (
      |  SELECT event_type, digit, count(*) AS obs FROM pos GROUP BY 1, 2
      |), tot AS (
      |  SELECT event_type, CAST(sum(obs) AS BIGINT) AS n
      |  FROM cnt GROUP BY 1
      |), dig(digit, p) AS (
      |  VALUES (1, 0.3010299956639812), (2, 0.17609125905568124),
      |    (3, 0.12493873660829992), (4, 0.09691001300805642),
      |    (5, 0.07918124604762482), (6, 0.06694678963061322),
      |    (7, 0.05799194697768673), (8, 0.05115252244738129),
      |    (9, 0.04575749056067514)
      |), grid AS (
      |  SELECT t.event_type, t.n, g.digit, g.p,
      |    COALESCE(c.obs, 0) AS obs, t.n * g.p AS np
      |  FROM tot t CROSS JOIN dig g
      |  LEFT JOIN cnt c
      |    ON c.event_type = t.event_type AND c.digit = g.digit
      |), term AS (
      |  SELECT *,
      |    CAST(floor((obs - np) * (obs - np) / np * 1000000000.0 + 0.5)
      |      AS BIGINT) AS term9,
      |    CAST(abs(floor((obs - np) * 1000000000.0 + 0.5))
      |      AS BIGINT) AS dev9
      |  FROM grid
      |), rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY dev9 DESC, digit) AS r
      |  FROM term
      |)
      |SELECT event_type, max(n) AS n,
      |  CAST(sum(term9) AS BIGINT) AS chi9,
      |  CAST(CASE WHEN CAST(sum(term9) AS BIGINT) > 20090000000
      |    THEN 1 ELSE 0 END AS INT) AS benford_flag,
      |  max(CASE WHEN r = 1 THEN digit END) AS worst_digit,
      |  max(CASE WHEN r = 1 THEN dev9 END) AS worst_dev9
      |FROM rk GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q69: the same per-(type, value, era) count table, cumulative
    * window sums, exact |cum1·n2 − cum2·n1| numerator and the
    * squared-domain α = 0.05 compare.
    */
  val q69: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), span AS (
      |  SELECT min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS pivot
      |  FROM ev
      |), dist AS (
      |  SELECT e.event_type, e.v4l,
      |    SUM(CASE WHEN e.day > s.pivot THEN 0 ELSE 1 END) AS c1,
      |    SUM(CASE WHEN e.day > s.pivot THEN 1 ELSE 0 END) AS c2
      |  FROM ev e, span s GROUP BY 1, 2
      |), cum AS (
      |  SELECT event_type, v4l,
      |    SUM(c1) OVER (PARTITION BY event_type ORDER BY v4l) AS cum1,
      |    SUM(c2) OVER (PARTITION BY event_type ORDER BY v4l) AS cum2,
      |    SUM(c1) OVER (PARTITION BY event_type) AS n1,
      |    SUM(c2) OVER (PARTITION BY event_type) AS n2
      |  FROM dist
      |), agg AS (
      |  SELECT event_type, CAST(max(n1) AS BIGINT) AS n_ref,
      |    CAST(max(n2) AS BIGINT) AS n_cur,
      |    CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num
      |  FROM cum WHERE n1 > 0 AND n2 > 0 GROUP BY 1
      |)
      |SELECT event_type, n_ref, n_cur, d_num,
      |  CAST(floor(CAST(d_num AS DOUBLE) * 1000000.0
      |    / CAST(n_ref * n_cur AS DOUBLE) + 0.5) AS BIGINT) AS ks6,
      |  CAST(CASE WHEN CAST(d_num AS DOUBLE) * d_num >
      |    1.8444397270569681 * (n_ref + n_cur) * n_ref * n_cur
      |    THEN 1 ELSE 0 END AS INT) AS drift_flag
      |FROM agg ORDER BY event_type""".stripMargin

  /** q70: the same prefix sums, one shared 1e-9-quantized term chain,
    * cumulative m and running min over the (ts, event_id) sort.
    */
  val q70: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), r AS (
      |  SELECT *, row_number() OVER w AS i, SUM(v4l) OVER w AS s1
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), c AS (
      |  SELECT *, CAST(floor((v4l - CAST(s1 AS DOUBLE) / i - 500.0)
      |    * 100000.0 + 0.5) AS BIGINT) AS c9
      |  FROM r
      |), mm AS (
      |  SELECT *, SUM(c9) OVER w2 AS m
      |  FROM c
      |  WINDOW w2 AS (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), ph AS (
      |  SELECT *, m - MIN(m) OVER w3 AS ph9
      |  FROM mm
      |  WINDOW w3 AS (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value, CAST(ph9 AS BIGINT) AS ph9,
      |  CAST(CASE WHEN ph9 > 5000000000 THEN 1 ELSE 0 END AS INT)
      |    AS ph_flag
      |FROM ph
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st15: q64's pairwise statistics replayed over each row's
    * per-segment sliding window (last 16 rows) — st09/st14's segment
    * scaffolding, the window pairs via a bounded BETWEEN self-join.
    */
  val st15: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, tus - lag(tus) OVER w AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), sq AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type,
      |    seg_id ORDER BY ts, event_id) AS sseq
      |  FROM seg
      |), pairs AS (
      |  SELECT r.user_id, r.event_type, r.seg_id, r.sseq,
      |    i.v4l AS vi, j.v4l AS vj, i.tus AS ti, j.tus AS tj
      |  FROM sq r
      |  JOIN sq i ON i.user_id = r.user_id AND i.event_type = r.event_type
      |    AND i.seg_id = r.seg_id AND i.sseq BETWEEN r.sseq - 15 AND r.sseq
      |  JOIN sq j ON j.user_id = r.user_id AND j.event_type = r.event_type
      |    AND j.seg_id = r.seg_id AND j.sseq BETWEEN r.sseq - 15 AND r.sseq
      |    AND j.sseq > i.sseq
      |), s AS (
      |  SELECT user_id, event_type, seg_id, sseq, count(*) AS np,
      |    CAST(sum(CASE WHEN vj > vi THEN 1 WHEN vj < vi THEN -1 ELSE 0 END)
      |      AS BIGINT) AS mk_s
      |  FROM pairs GROUP BY 1, 2, 3, 4
      |), sl AS (
      |  SELECT user_id, event_type, seg_id, sseq,
      |    (vj - vi) / CAST(tj - ti AS DOUBLE) AS sl,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id, sseq
      |      ORDER BY (vj - vi) / CAST(tj - ti AS DOUBLE)) AS r,
      |    count(*) OVER (PARTITION BY user_id, event_type, seg_id, sseq)
      |      AS m
      |  FROM pairs WHERE tj != ti
      |), med AS (
      |  SELECT user_id, event_type, seg_id, sseq,
      |    sl * 8640000.0 AS sen_slope_day
      |  FROM sl WHERE r = (m + 1) // 2
      |)
      |SELECT q.user_id, q.event_type, q.event_id, q.ts AS date_recorded,
      |  q.v4l / 10000.0 AS value,
      |  CAST(least(q.sseq, 16) AS INT) AS n_window,
      |  s.mk_s,
      |  CASE WHEN s.mk_s IS NULL THEN NULL ELSE
      |    CAST(floor(s.mk_s * 1000000.0 / s.np + 0.5) AS BIGINT)
      |      / 1000000.0 END AS mk_tau6,
      |  med.sen_slope_day
      |FROM sq q
      |LEFT JOIN s ON s.user_id = q.user_id AND s.event_type = q.event_type
      |  AND s.seg_id = q.seg_id AND s.sseq = q.sseq
      |LEFT JOIN med ON med.user_id = q.user_id
      |  AND med.event_type = q.event_type AND med.seg_id = q.seg_id
      |  AND med.sseq = q.sseq
      |ORDER BY q.user_id, q.event_type, q.ts, q.event_id""".stripMargin

  /** st14: q62's integer-gain Kalman recursion replayed per STALENESS
    * SEGMENT (st09's 8-day gap scaffolding) — each segment restarts
    * the diffuse prior P0 = R, exactly as the stream's state does
    * after an in-data gap or a timeout eviction.
    */
  val st14: String =
    """WITH RECURSIVE b AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), sq AS MATERIALIZED (
      |  SELECT user_id, event_type, seg_id, event_id, ts, v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id) AS seq
      |  FROM seg
      |), rec AS (
      |  SELECT user_id, event_type, seg_id, seq, event_id, ts, v4l,
      |    v4l AS l, CAST(100000000 AS BIGINT) AS p,
      |    CAST(NULL AS BIGINT) AS k6, CAST(NULL AS BIGINT) AS e,
      |    CAST(NULL AS BIGINT) AS pp
      |  FROM sq WHERE seq = 1
      |  UNION ALL
      |  SELECT n2.user_id, n2.event_type, n2.seg_id, n2.seq, n2.event_id,
      |    n2.ts, n2.v4l,
      |    r.l + CAST(floor(
      |        CAST(floor((r.p + 10000000) * 1000000.0
      |          / (r.p + 10000000 + 100000000)) AS BIGINT)
      |        * (n2.v4l - r.l) / 1000000.0) AS BIGINT) AS l,
      |    CAST(floor((1000000 - CAST(floor((r.p + 10000000) * 1000000.0
      |          / (r.p + 10000000 + 100000000)) AS BIGINT))
      |        * (r.p + 10000000) / 1000000.0) AS BIGINT) AS p,
      |    CAST(floor((r.p + 10000000) * 1000000.0
      |      / (r.p + 10000000 + 100000000)) AS BIGINT) AS k6,
      |    n2.v4l - r.l AS e,
      |    r.p + 10000000 AS pp
      |  FROM rec r JOIN sq n2
      |    ON n2.user_id = r.user_id AND n2.event_type = r.event_type
      |   AND n2.seg_id = r.seg_id AND n2.seq = r.seq + 1
      |), z AS (
      |  SELECT *,
      |    CASE WHEN e IS NULL THEN NULL ELSE
      |      CAST(floor(e / sqrt(CAST(pp + 100000000 AS DOUBLE))
      |        * 1000000.0 + 0.5) AS BIGINT) END AS z6l
      |  FROM rec
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value,
      |  l / 10000.0 AS level,
      |  k6 / 1000000.0 AS kgain6,
      |  e / 10000.0 AS innovation,
      |  z6l / 1000000.0 AS kalman_z6,
      |  CASE WHEN z6l IS NOT NULL AND abs(z6l) >= 3000000
      |    THEN 1 ELSE 0 END AS kalman_flag
      |FROM z
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  val q53: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), a AS (
      |  SELECT *, list(v4l) OVER
      |    (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS arr
      |  FROM b
      |), m AS (
      |  SELECT *, list_sort(arr) AS sa FROM a
      |), m2 AS (
      |  SELECT *,
      |    (sa[(len(sa) + 1) // 2] + sa[len(sa) // 2 + 1]) / 2.0 AS med
      |  FROM m
      |), d AS (
      |  SELECT *, list_sort(list_transform(arr,
      |    x -> abs(CAST(x AS DOUBLE) - med))) AS sd
      |  FROM m2
      |), d2 AS (
      |  SELECT *,
      |    (sd[(len(sd) + 1) // 2] + sd[len(sd) // 2 + 1]) / 2.0 AS mad,
      |    abs(CAST(v4l AS DOUBLE) - med) AS dev
      |  FROM d
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value,
      |  med / 10000.0 AS rolling_med,
      |  mad / 10000.0 AS mad,
      |  CASE WHEN mad = 0.0 THEN CAST(dev > 0.0 AS INT)
      |       ELSE CAST(dev > 3.0 * 1.4826 * mad AS INT) END AS hampel_flag
      |FROM d2
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** q55: the same rank-selection medians per (event_type, day) —
    * ⌊(n+1)/2⌋ and ⌊n/2⌋+1 picks averaged — then MAD, robust z
    * quantized at 1e-6, 4.5 threshold.
    */
  val q55: String =
    """WITH base AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), r1 AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, day
      |      ORDER BY v4l, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type, day) AS n
      |  FROM base
      |), meds AS (
      |  SELECT event_type, day, CAST(sum(v4l) AS DOUBLE) / count(*) AS med
      |  FROM r1
      |  WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
      |     OR rn = CAST(floor(n / 2) AS BIGINT) + 1
      |  GROUP BY 1, 2
      |), d AS (
      |  SELECT b.*, m.med, abs(CAST(b.v4l AS DOUBLE) - m.med) AS dev
      |  FROM base b JOIN meds m USING (event_type, day)
      |), r2 AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, day
      |      ORDER BY dev, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type, day) AS n
      |  FROM d
      |), mads AS (
      |  SELECT event_type, day, CAST(sum(dev) AS DOUBLE) / count(*) AS mad
      |  FROM r2
      |  WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
      |     OR rn = CAST(floor(n / 2) AS BIGINT) + 1
      |  GROUP BY 1, 2
      |)
      |SELECT d.user_id, d.event_type, d.event_id, d.ts AS date_recorded,
      |  d.day, d.v4l / 10000.0 AS value, d.med / 10000.0 AS xs_median,
      |  md.mad / 10000.0 AS xs_mad,
      |  CASE WHEN md.mad > 0
      |    THEN floor(d.dev / (1.4826 * md.mad) * 1000000.0 + 0.5) / 1000000.0
      |    ELSE 0.0 END AS xs_z6,
      |  CASE WHEN md.mad = 0 THEN CAST(d.dev > 0 AS INT)
      |       WHEN floor(d.dev / (1.4826 * md.mad) * 1000000.0 + 0.5)
      |         / 1000000.0 >= 4.5 THEN 1
      |       ELSE 0 END AS xs_flag
      |FROM d JOIN mads md USING (event_type, day)
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  val q49: String = {
    val terms = SignalOps.Weights.zipWithIndex.map { case (w, j) =>
      (s"CASE WHEN lag(value, $j) OVER wa IS NOT NULL THEN $w * lag(value, $j) OVER wa ELSE 0.0 END",
        s"CASE WHEN lag(value, $j) OVER wa IS NOT NULL THEN $w ELSE 0.0 END")
    }
    val num = terms.map(_._1).mkString("(", " + ", ")")
    val den = terms.map(_._2).mkString("(", " + ", ")")
    s"""WITH base AS (
       |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
       |    floor(value * 10000.0 + 0.5) / 10000.0 AS value
       |  FROM events
       |), e AS (
       |  SELECT *,
       |    floor($num / $den * 1000000.0 + 0.5) / 1000000.0 AS ewma6
       |  FROM base
       |  WINDOW wa AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
       |), r AS (
       |  SELECT *,
       |    CAST(floor((value - ewma6) * 1000000.0 + 0.5) AS BIGINT) AS resid6l
       |  FROM e
       |), sd AS (
       |  SELECT *,
       |    resid6l / 1000000.0 AS resid6,
       |    count(*) OVER wk AS n,
       |    sum(resid6l) OVER wk AS rs1,
       |    sum(CAST(resid6l AS HUGEINT) * resid6l) OVER wk AS rs2
       |  FROM r
       |  WINDOW wk AS (PARTITION BY user_id, event_type)
       |), sd2 AS (
       |  SELECT *,
       |    CASE WHEN n > 1 THEN
       |      floor(sqrt(CAST(greatest(n * rs2 - CAST(rs1 AS HUGEINT) * rs1, 0)
       |        AS DOUBLE) / (n * (n - 1))) / 100.0 + 0.5) / 10000.0
       |    ELSE NULL END AS resid_sd4
       |  FROM sd
       |)
       |SELECT user_id, event_type, event_id, ts AS date_recorded, value,
       |  ewma6, resid6, resid_sd4,
       |  CASE WHEN resid_sd4 != 0 AND abs(resid6) > 3.0 * resid_sd4
       |       THEN 1 ELSE 0 END AS ewma_flag
       |FROM sd2
       |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin
  }

  /** q57: the same regularization — last row per ticker-day, a
    * generate_series calendar per ticker span, IGNORE NULLS forward
    * fill. No arithmetic beyond the row pick, so parity is exact.
    */
  val q57: String =
    """WITH daily AS (
      |  SELECT user_id, event_type, CAST(ts AS DATE) AS day, value,
      |    row_number() OVER (
      |      PARTITION BY user_id, event_type, CAST(ts AS DATE)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |), d1 AS (
      |  SELECT user_id, event_type, day, value AS day_value
      |  FROM daily WHERE rn = 1
      |), span AS (
      |  SELECT user_id, event_type, min(day) AS d0, max(day) AS d1
      |  FROM d1 GROUP BY 1, 2
      |), grid AS (
      |  SELECT user_id, event_type,
      |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span
      |)
      |SELECT g.user_id, g.event_type, g.day,
      |  last_value(d.day_value IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id, g.event_type ORDER BY g.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff,
      |  CASE WHEN d.day_value IS NULL THEN 1 ELSE 0 END AS gap_filled
      |FROM grid g LEFT JOIN d1 d
      |  ON g.user_id = d.user_id AND g.event_type = d.event_type
      |  AND g.day = d.day
      |ORDER BY g.user_id, g.event_type, g.day""".stripMargin

  /** q59: the same exact-moment rolling correlation — integer window
    * sums (cast from DuckDB's HUGEINT), one double division, 1e-6
    * quantization.
    */
  val q59: String =
    """WITH daily AS (
      |  SELECT user_id, event_type, CAST(ts AS DATE) AS day, value,
      |    row_number() OVER (
      |      PARTITION BY user_id, event_type, CAST(ts AS DATE)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |), d1 AS (
      |  SELECT user_id, event_type, day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS x4l
      |  FROM daily WHERE rn = 1
      |), g AS (
      |  SELECT event_type, day, CAST(sum(x4l) AS BIGINT) AS gs,
      |    count(*) AS gc
      |  FROM d1 GROUP BY 1, 2
      |), b AS (
      |  SELECT d.user_id, d.event_type, d.day, d.x4l,
      |    (g.gs - d.x4l) // (g.gc - 1) AS y4l
      |  FROM d1 d JOIN g USING (event_type, day) WHERE g.gc > 1
      |), wnd AS (
      |  SELECT *,
      |    CAST(count(*) OVER w AS BIGINT) AS n,
      |    CAST(sum(x4l) OVER w AS BIGINT) AS sx,
      |    CAST(sum(y4l) OVER w AS BIGINT) AS sy,
      |    CAST(sum(x4l * x4l) OVER w AS BIGINT) AS sxx,
      |    CAST(sum(y4l * y4l) OVER w AS BIGINT) AS syy,
      |    CAST(sum(x4l * y4l) OVER w AS BIGINT) AS sxy
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |), c AS (
      |  SELECT user_id, event_type, day, x4l, y4l, n,
      |    CASE WHEN n >= 3 AND n * sxx - sx * sx > 0
      |      AND n * syy - sy * sy > 0
      |      THEN floor(CAST(n * sxy - sx * sy AS DOUBLE) /
      |        sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |             CAST(n * syy - sy * sy AS DOUBLE))
      |        * 1000000.0 + 0.5) / 1000000.0
      |    END AS corr6
      |  FROM wnd
      |)
      |SELECT user_id, event_type, day,
      |  x4l / 10000.0 AS value, y4l / 10000.0 AS peer_mean,
      |  CAST(n AS INT) AS n_win, corr6,
      |  CASE WHEN corr6 IS NOT NULL AND corr6 < 0 THEN 1 ELSE 0 END
      |    AS decorrelated
      |FROM c ORDER BY user_id, event_type, day""".stripMargin

  /** q60: same fixed-point lag-autocorrelation; moment combinations in
    * HUGEINT (↔ Spark decimal(38,0)) before the one double division.
    */
  val q60: String =
    """WITH daily AS (
      |  SELECT user_id, event_type, CAST(ts AS DATE) AS day, value,
      |    row_number() OVER (
      |      PARTITION BY user_id, event_type, CAST(ts AS DATE)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |), d1 AS (
      |  SELECT user_id, event_type, day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS x4l
      |  FROM daily WHERE rn = 1
      |), pairs AS (
      |  SELECT a.user_id, a.event_type, l.k,
      |    a.x4l AS a4l, b.x4l AS x4l
      |  FROM d1 a
      |  CROSS JOIN (SELECT CAST(unnest(range(2, 11)) AS INT) AS k) l
      |  JOIN d1 b ON b.user_id = a.user_id
      |    AND b.event_type = a.event_type
      |    AND b.day = a.day + l.k
      |), mom AS (
      |  SELECT user_id, event_type, k,
      |    CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(a4l) AS HUGEINT) AS sx,
      |    CAST(sum(x4l) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(a4l AS HUGEINT) * a4l) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(x4l AS HUGEINT) * x4l) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(a4l AS HUGEINT) * x4l) AS HUGEINT) AS sxy
      |  FROM pairs GROUP BY 1, 2, 3
      |), r AS (
      |  SELECT user_id, event_type, k, n,
      |    floor(CAST(n * sxy - sx * sy AS DOUBLE) /
      |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |           CAST(n * syy - sy * sy AS DOUBLE))
      |      * 1000000.0 + 0.5) / 1000000.0 AS r6
      |  FROM mom
      |  WHERE n >= 5 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      |), best AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id, event_type ORDER BY r6 DESC, k ASC) AS rk
      |  FROM r
      |)
      |SELECT user_id, event_type, k AS dominant_period, r6 AS autocorr6,
      |  CAST(n AS BIGINT) AS n_pairs
      |FROM best WHERE rk = 1 ORDER BY user_id, event_type""".stripMargin

  /** q61: same era split, integer-rank decile edges, add-one-smoothed
    * occupancy, 1e-9 fixed-point PSI terms summed as BIGINT.
    */
  val q61: String = {
    val e = (1 to 9).map(j =>
      s"max(CASE WHEN j = $j THEN v4l END) AS e$j").mkString(", ")
    val b = (1 to 9).map(j =>
      s"CASE WHEN t.v4l > p.e$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), span AS (
      |  SELECT min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS pivot
      |  FROM ev
      |), tagged AS (
      |  SELECT e.event_type,
      |    CASE WHEN e.day > s.pivot THEN 1 ELSE 0 END AS cur, e.v4l
      |  FROM ev e, span s
      |), ranked AS (
      |  SELECT event_type, v4l,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v4l) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM tagged WHERE cur = 0
      |), edges AS (
      |  SELECT r.event_type, j.j, r.v4l
      |  FROM ranked r
      |  JOIN (SELECT unnest(range(1, 10)) AS j) j
      |    ON r.rn = (j.j * r.n + 9) // 10
      |  WHERE r.n >= 10
      |), epiv AS (
      |  SELECT event_type, $e
      |  FROM edges GROUP BY 1 HAVING count(*) = 9
      |), bucketed AS (
      |  SELECT t.event_type, t.cur, 1 + $b AS b
      |  FROM tagged t JOIN epiv p USING (event_type)
      |), cnt AS (
      |  SELECT event_type, cur, b, count(*) AS c
      |  FROM bucketed GROUP BY 1, 2, 3
      |), grid AS (
      |  SELECT p.event_type, gb.b
      |  FROM epiv p CROSS JOIN
      |    (SELECT CAST(unnest(range(1, 11)) AS INT) AS b) gb
      |), occ AS (
      |  SELECT g.event_type, g.b,
      |    coalesce(cr.c, 0) AS cr, coalesce(cc.c, 0) AS cc
      |  FROM grid g
      |  LEFT JOIN cnt cr ON cr.event_type = g.event_type
      |    AND cr.b = g.b AND cr.cur = 0
      |  LEFT JOIN cnt cc ON cc.event_type = g.event_type
      |    AND cc.b = g.b AND cc.cur = 1
      |), sizes AS (
      |  SELECT event_type, CAST(sum(cr) AS BIGINT) AS n_ref,
      |    CAST(sum(cc) AS BIGINT) AS n_cur
      |  FROM occ GROUP BY 1 HAVING sum(cc) >= 1
      |), terms AS (
      |  SELECT o.event_type, s.n_ref, s.n_cur,
      |    CAST(floor(
      |      (CAST(o.cr + 1 AS DOUBLE) / (s.n_ref + 10) -
      |       CAST(o.cc + 1 AS DOUBLE) / (s.n_cur + 10)) *
      |      ln((CAST(o.cr + 1 AS DOUBLE) / (s.n_ref + 10)) /
      |         (CAST(o.cc + 1 AS DOUBLE) / (s.n_cur + 10))) *
      |      1000000000.0 + 0.5) AS BIGINT) AS term9
      |  FROM occ o JOIN sizes s USING (event_type)
      |)
      |SELECT event_type, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
      |  CAST(sum(term9) AS BIGINT) AS psi9,
      |  CASE WHEN CAST(sum(term9) AS BIGINT) > 200000000 THEN 1 ELSE 0 END
      |    AS drift
      |FROM terms GROUP BY 1 ORDER BY event_type""".stripMargin
  }

  /** st13: the streaming drift monitor replayed — first-era reference
    * occupancy, 6 h tumbling window bucket counts, the watermark
    * timeout-eligibility rule (a window emits iff its end precedes
    * the final watermark = max event time − 1 h), add-one-smoothed
    * PSI terms as 1e-9 longs.
    */
  val st13: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS tsu,
      |    CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), mx AS (
      |  SELECT (epoch_us(max(tsu)) // 1000 - 3600000) AS wm_ms FROM ev
      |), span AS (
      |  SELECT min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS piv
      |  FROM ev
      |), bk AS (
      |  SELECT event_type, tsu, day,
      |    least(9, greatest(0, v4l // 1000000)) AS b
      |  FROM ev
      |), ref AS (
      |  SELECT event_type, b, count(*) AS c
      |  FROM bk, span WHERE day <= span.piv GROUP BY 1, 2
      |), rtot AS (
      |  SELECT event_type, CAST(sum(c) AS BIGINT) AS t FROM ref GROUP BY 1
      |), wnd AS (
      |  SELECT event_type,
      |    (epoch_us(tsu) // 21600000000) * 21600000000 AS wus, b
      |  FROM bk
      |), cnt AS (
      |  SELECT event_type, wus, b, count(*) AS c FROM wnd GROUP BY 1, 2, 3
      |), tot AS (
      |  SELECT event_type, wus, CAST(sum(c) AS BIGINT) AS n
      |  FROM cnt GROUP BY 1, 2
      |), fired AS (
      |  SELECT t.event_type, t.wus, t.n FROM tot t, mx
      |  WHERE (t.wus + 21600000000) // 1000 < mx.wm_ms
      |), grid AS (
      |  SELECT f.event_type, f.wus, f.n, gb.b
      |  FROM fired f CROSS JOIN (SELECT unnest(range(10)) AS b) gb
      |), prob AS (
      |  SELECT g.event_type, g.wus, g.n, g.b,
      |    CAST(coalesce(r.c, 0) + 1 AS DOUBLE) / (coalesce(rt.t, 0) + 10)
      |      AS p,
      |    CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / (g.n + 10) AS q
      |  FROM grid g
      |  LEFT JOIN ref r ON r.event_type = g.event_type AND r.b = g.b
      |  LEFT JOIN rtot rt ON rt.event_type = g.event_type
      |  LEFT JOIN cnt c ON c.event_type = g.event_type AND c.wus = g.wus
      |    AND c.b = g.b
      |), terms AS (
      |  SELECT event_type, wus, n,
      |    CAST(floor((p - q) * ln(p / q) * 1000000000.0 + 0.5) AS BIGINT)
      |      AS term9
      |  FROM prob
      |)
      |SELECT make_timestamp(wus) AS win_start, event_type, n AS n_events,
      |  CAST(sum(term9) AS BIGINT) AS psi9,
      |  CASE WHEN CAST(sum(term9) AS BIGINT) > 200000000 THEN 1 ELSE 0 END
      |    AS drift
      |FROM terms GROUP BY wus, event_type, n
      |ORDER BY win_start, event_type""".stripMargin

  /** st11: the streaming percentile monitor replayed — st13's 6 h
    * window assignment and timeout-eligibility rule, the fixed
    * 64-bucket histogram (width = 10⁷ div 64 = 156250 in 1e-4 units,
    * edge-clamped), q56's ceil(p·n) integer rank located in bucket
    * space (the estimate is the bucket's UPPER edge), exact min/max
    * and the clamp audit count.
    */
  val st11: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS tsu,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), mx AS (
      |  SELECT (epoch_us(max(tsu)) // 1000 - 3600000) AS wm_ms FROM ev
      |), wnd AS (
      |  SELECT event_type,
      |    (epoch_us(tsu) // 21600000000) * 21600000000 AS wus, v4l,
      |    least(63, greatest(0, v4l // 156250)) AS b,
      |    CASE WHEN v4l < 0 OR v4l > 10000000 THEN 1 ELSE 0 END AS clamped
      |  FROM ev
      |), fired AS (
      |  SELECT w.* FROM wnd w, mx
      |  WHERE (w.wus + 21600000000) // 1000 < mx.wm_ms
      |), tot AS (
      |  SELECT event_type, wus, count(*) AS n,
      |    min(v4l) AS mn4, max(v4l) AS mx4,
      |    CAST(sum(clamped) AS BIGINT) AS n_clamped
      |  FROM fired GROUP BY 1, 2
      |), cnt AS (
      |  SELECT event_type, wus, b, count(*) AS c
      |  FROM fired GROUP BY 1, 2, 3
      |), cum AS (
      |  SELECT event_type, wus, b,
      |    sum(c) OVER (PARTITION BY event_type, wus ORDER BY b) AS cum
      |  FROM cnt
      |), p50 AS (
      |  SELECT c.event_type, c.wus, min(c.b) AS b50
      |  FROM cum c JOIN tot t
      |    ON t.event_type = c.event_type AND t.wus = c.wus
      |  WHERE c.cum >= (t.n + 1) // 2
      |  GROUP BY 1, 2
      |), p99 AS (
      |  SELECT c.event_type, c.wus, min(c.b) AS b99
      |  FROM cum c JOIN tot t
      |    ON t.event_type = c.event_type AND t.wus = c.wus
      |  WHERE c.cum >= (99 * t.n + 99) // 100
      |  GROUP BY 1, 2
      |)
      |SELECT make_timestamp(t.wus) AS win_start, t.event_type,
      |  t.n AS n_events, t.mn4 / 10000.0 AS min_v,
      |  t.mx4 / 10000.0 AS max_v,
      |  (p50.b50 + 1) * 156250 / 10000.0 AS p50_est,
      |  (p99.b99 + 1) * 156250 / 10000.0 AS p99_est,
      |  CAST(15.625 AS DOUBLE) AS err_bound, t.n_clamped
      |FROM tot t
      |JOIN p50 ON p50.event_type = t.event_type AND p50.wus = t.wus
      |JOIN p99 ON p99.event_type = t.event_type AND p99.wus = t.wus
      |ORDER BY win_start, t.event_type""".stripMargin

  /** st30: st02's proven replay chain (same segments, same exact
    * fixed-point z and repetition run, same staleness eligibility),
    * rolled into gaps-and-islands incidents; only CLOSED incidents
    * appear — an island followed by a clean row in its segment, or
    * the tail island of a segment st02's staleness rule closes.
    */
  val st30: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    value, CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vl
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), d AS (
      |  SELECT user_id, event_type, event_id, ts, value, seg_id,
      |    abs(vl - lag(vl) OVER w) AS dl
      |  FROM seg
      |  WINDOW w AS (PARTITION BY user_id, event_type, seg_id
      |               ORDER BY ts, event_id)
      |), g AS (
      |  SELECT *,
      |    SUM(CASE WHEN dl = 0 THEN 0 ELSE 1 END) OVER
      |      (PARTITION BY user_id, event_type, seg_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp,
      |    CAST(SUM(dl) OVER f AS DOUBLE) AS sumd,
      |    CAST(SUM(CAST(dl AS HUGEINT) * dl) OVER f AS DOUBLE) AS sumsq,
      |    COUNT(dl) OVER f AS n
      |  FROM d
      |  WINDOW f AS (PARTITION BY user_id, event_type, seg_id
      |               ORDER BY ts, event_id
      |               ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
      |), r AS (
      |  SELECT *, COUNT(*) OVER
      |      (PARTITION BY user_id, event_type, seg_id, grp
      |       ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM g
      |), z AS (
      |  SELECT user_id, event_type, event_id, ts, seg_id,
      |    CASE WHEN dl IS NULL THEN 0.0
      |         WHEN n >= 2 AND (sumsq - sumd * sumd / n) > 0
      |         THEN abs(CAST(dl AS DOUBLE) - sumd / n)
      |              / sqrt((sumsq - sumd * sumd / n) / (n - 1))
      |         ELSE 0.0 END AS zscore,
      |    CASE WHEN dl IS NULL THEN 0
      |         WHEN (CASE WHEN n >= 2 AND (sumsq - sumd * sumd / n) > 0
      |           THEN abs(CAST(dl AS DOUBLE) - sumd / n)
      |                / sqrt((sumsq - sumd * sumd / n) / (n - 1))
      |           ELSE 0.0 END) >= 2.5 THEN 1 ELSE 0 END AS stddev_flag,
      |    CASE WHEN dl IS NOT NULL AND run >= 2 THEN 1 ELSE 0 END
      |      AS repetition_flag
      |  FROM r
      |), ev AS (
      |  SELECT *,
      |    CASE WHEN stddev_flag = 1 OR repetition_flag = 1
      |         THEN 1 ELSE 0 END AS anomaly,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id) AS rn_all
      |  FROM z
      |), isl AS (
      |  SELECT *, rn_all - row_number() OVER
      |      (PARTITION BY user_id, event_type, seg_id
      |       ORDER BY ts, event_id) AS gi
      |  FROM ev WHERE anomaly = 1
      |), agg AS (
      |  SELECT user_id, event_type, seg_id, gi,
      |    min(ts) AS start_ts, max(ts) AS end_ts,
      |    max(rn_all) AS last_rn, count(*) AS n_events,
      |    max(zscore) AS peak_z,
      |    CAST(sum(stddev_flag) AS BIGINT) AS n_sd,
      |    CAST(sum(repetition_flag) AS BIGINT) AS n_rep
      |  FROM isl GROUP BY 1, 2, 3, 4
      |), segend AS (
      |  SELECT user_id, event_type, seg_id, max(rn_all) AS seg_last
      |  FROM ev GROUP BY 1, 2, 3
      |), closedseg AS (
      |  SELECT user_id, event_type, seg_id FROM (
      |    SELECT user_id, event_type, seg_id, ts,
      |      row_number() OVER (PARTITION BY user_id, event_type, seg_id
      |        ORDER BY ts DESC, event_id DESC) AS rn,
      |      max(seg_id) OVER (PARTITION BY user_id, event_type) AS max_seg
      |    FROM seg
      |  ) WHERE rn = 1 AND (seg_id < max_seg
      |    OR epoch_ms(ts) + 691200000 <
      |       (SELECT epoch_ms(max(ts)) FROM b) - 3600000)
      |)
      |SELECT a.user_id, a.event_type, a.start_ts, a.end_ts,
      |  epoch_us(a.end_ts) - epoch_us(a.start_ts) AS duration_us,
      |  a.n_events, a.peak_z, a.n_sd, a.n_rep
      |FROM agg a
      |JOIN segend se ON se.user_id = a.user_id
      |  AND se.event_type = a.event_type AND se.seg_id = a.seg_id
      |LEFT JOIN closedseg cs ON cs.user_id = a.user_id
      |  AND cs.event_type = a.event_type AND cs.seg_id = a.seg_id
      |WHERE a.last_rn < se.seg_last OR cs.seg_id IS NOT NULL
      |ORDER BY a.user_id, a.event_type, a.start_ts, a.end_ts""".stripMargin

  /** q127: q54's exact dyadic recursion replayed for the residuals,
    * naive lag-1 grid diffs over the same order, two MAEs and the
    * MASE ratio.
    */
  val q127: String =
    """WITH RECURSIVE base AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS seq
      |  FROM events
      |), rec AS (
      |  SELECT user_id, event_type, event_id, ts, v4l, seq,
      |    v4l AS l, CAST(0 AS BIGINT) AS b,
      |    CAST(NULL AS BIGINT) AS e
      |  FROM base WHERE seq = 1
      |  UNION ALL
      |  SELECT b2.user_id, b2.event_type, b2.event_id, b2.ts, b2.v4l,
      |    b2.seq,
      |    CAST(floor((b2.v4l + r.l + r.b) / 2.0) AS BIGINT) AS l,
      |    CAST(floor((CAST(floor((b2.v4l + r.l + r.b) / 2.0) AS BIGINT)
      |      - r.l + 3.0 * r.b) / 4.0) AS BIGINT) AS b,
      |    b2.v4l - (r.l + r.b) AS e
      |  FROM rec r JOIN base b2
      |    ON b2.user_id = r.user_id AND b2.event_type = r.event_type
      |   AND b2.seq = r.seq + 1
      |), nv AS (
      |  SELECT *, v4l - lag(v4l) OVER (PARTITION BY user_id, event_type
      |    ORDER BY seq) AS d
      |  FROM rec
      |), sc AS (
      |  SELECT user_id, event_type, count(*) AS n_scored,
      |    CAST(SUM(abs(e)) AS BIGINT) AS sae,
      |    CAST(SUM(abs(d)) AS BIGINT) AS san
      |  FROM nv WHERE e IS NOT NULL GROUP BY 1, 2
      |), fin AS (
      |  SELECT *,
      |    CASE WHEN san > 0 THEN
      |      CAST(floor(CAST(sae AS DOUBLE) / CAST(san AS DOUBLE)
      |        * 1000000.0 + 0.5) AS BIGINT) END AS mase6
      |  FROM sc
      |)
      |SELECT user_id, event_type, n_scored,
      |  CAST(floor(CAST(sae AS DOUBLE) / CAST(n_scored AS DOUBLE)
      |    * 100.0 + 0.5) AS BIGINT) AS holt_mae6,
      |  CAST(floor(CAST(san AS DOUBLE) / CAST(n_scored AS DOUBLE)
      |    * 100.0 + 0.5) AS BIGINT) AS naive_mae6,
      |  mase6,
      |  CAST(CASE WHEN mase6 < 1000000 THEN 1 ELSE 0 END AS INT)
      |    AS beats_naive_flag
      |FROM fin
      |ORDER BY user_id, event_type""".stripMargin

  /** st35: st30's verdict chain (st02's exact per-print anomaly over
    * the same segments), then per-print transition prefix windows and
    * q126's flap rule.
    */
  val st35: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    value, CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vl
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), d AS (
      |  SELECT user_id, event_type, event_id, ts, value, seg_id,
      |    abs(vl - lag(vl) OVER w) AS dl
      |  FROM seg
      |  WINDOW w AS (PARTITION BY user_id, event_type, seg_id
      |               ORDER BY ts, event_id)
      |), g AS (
      |  SELECT *,
      |    SUM(CASE WHEN dl = 0 THEN 0 ELSE 1 END) OVER
      |      (PARTITION BY user_id, event_type, seg_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp,
      |    CAST(SUM(dl) OVER f AS DOUBLE) AS sumd,
      |    CAST(SUM(CAST(dl AS HUGEINT) * dl) OVER f AS DOUBLE) AS sumsq,
      |    COUNT(dl) OVER f AS n
      |  FROM d
      |  WINDOW f AS (PARTITION BY user_id, event_type, seg_id
      |               ORDER BY ts, event_id
      |               ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
      |), r AS (
      |  SELECT *, COUNT(*) OVER
      |      (PARTITION BY user_id, event_type, seg_id, grp
      |       ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM g
      |), z AS (
      |  SELECT user_id, event_type, event_id, ts, seg_id,
      |    CASE WHEN dl IS NULL THEN 0
      |         WHEN (CASE WHEN n >= 2 AND (sumsq - sumd * sumd / n) > 0
      |           THEN abs(CAST(dl AS DOUBLE) - sumd / n)
      |                / sqrt((sumsq - sumd * sumd / n) / (n - 1))
      |           ELSE 0.0 END) >= 2.5 THEN 1
      |         WHEN run >= 2 THEN 1 ELSE 0 END AS anomaly,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id) AS rn_all
      |  FROM r
      |), fl AS (
      |  SELECT *,
      |    CASE WHEN rn_all = 1 THEN 0
      |         WHEN anomaly <> lag(anomaly) OVER ws THEN 1 ELSE 0 END
      |      AS flip
      |  FROM z
      |  WINDOW ws AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id)
      |), cum AS (
      |  SELECT *,
      |    CAST(SUM(anomaly) OVER wr AS BIGINT) AS n_alerts,
      |    CAST(SUM(flip) OVER wr AS BIGINT) AS n_flips
      |  FROM fl
      |  WINDOW wr AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), fin AS (
      |  SELECT *, CASE WHEN rn_all > 1 THEN
      |    CAST(floor(CAST(n_flips AS DOUBLE) / (rn_all - 1)
      |      * 1000000.0 + 0.5) AS BIGINT) END AS flip_rate6
      |  FROM cum
      |), fin2 AS (
      |  SELECT *, CASE WHEN flip_rate6 > 300000 AND n_flips >= 6
      |    THEN 1 ELSE 0 END AS flapping_flag
      |  FROM fin
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  CAST(anomaly AS INT) AS anomaly, CAST(rn_all AS BIGINT) AS n_obs,
      |  n_alerts, n_flips, flip_rate6,
      |  CAST(flapping_flag AS INT) AS flapping_flag,
      |  CAST(CASE WHEN flapping_flag = 1 AND anomaly = 1
      |    THEN 1 ELSE 0 END AS INT) AS suppressed_flag
      |FROM fin2
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st16: the streaming Benford monitor replayed — 6 h window
    * assignment, st13's timeout-eligibility rule, first-digit counts
    * over positives only, q66's literal expectation table and exact
    * term chain.
    */
  val st16: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS tsu,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), wnd AS (
      |  SELECT event_type,
      |    (epoch_us(tsu) // 21600000000) * 21600000000 AS wus, v4l
      |  FROM ev
      |), fireable AS (
      |  SELECT * FROM wnd
      |  WHERE (wus + 21600000000) // 1000 <
      |    (SELECT epoch_us(max(tsu)) // 1000 - 3600000 FROM ev)
      |), pos AS (
      |  SELECT event_type, wus,
      |    CAST(substr(CAST(v4l AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM fireable WHERE v4l > 0
      |), skp AS (
      |  SELECT event_type, wus, count(*) AS ns
      |  FROM fireable WHERE v4l <= 0 GROUP BY 1, 2
      |), cnt AS (
      |  SELECT event_type, wus, digit, count(*) AS obs
      |  FROM pos GROUP BY 1, 2, 3
      |), tot AS (
      |  SELECT event_type, wus, CAST(sum(obs) AS BIGINT) AS n
      |  FROM cnt GROUP BY 1, 2
      |), dig(digit, p) AS (
      |  VALUES (1, 0.3010299956639812), (2, 0.17609125905568124),
      |    (3, 0.12493873660829992), (4, 0.09691001300805642),
      |    (5, 0.07918124604762482), (6, 0.06694678963061322),
      |    (7, 0.05799194697768673), (8, 0.05115252244738129),
      |    (9, 0.04575749056067514)
      |), grid AS (
      |  SELECT t.event_type, t.wus, t.n, g.digit, g.p,
      |    COALESCE(c.obs, 0) AS obs, t.n * g.p AS np
      |  FROM tot t CROSS JOIN dig g
      |  LEFT JOIN cnt c ON c.event_type = t.event_type
      |    AND c.wus = t.wus AND c.digit = g.digit
      |), term AS (
      |  SELECT *,
      |    CAST(floor((obs - np) * (obs - np) / np * 1000000000.0 + 0.5)
      |      AS BIGINT) AS term9,
      |    CAST(abs(floor((obs - np) * 1000000000.0 + 0.5))
      |      AS BIGINT) AS dev9
      |  FROM grid
      |), rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type, wus
      |    ORDER BY dev9 DESC, digit) AS r
      |  FROM term
      |), agg AS (
      |  SELECT event_type, wus, max(n) AS n,
      |    CAST(sum(term9) AS BIGINT) AS chi9,
      |    max(CASE WHEN r = 1 THEN digit END) AS worst_digit,
      |    max(CASE WHEN r = 1 THEN dev9 END) AS worst_dev9
      |  FROM rk GROUP BY 1, 2
      |)
      |SELECT make_timestamp(a.wus) AS win_start, a.event_type,
      |  a.n AS n_events, COALESCE(s.ns, 0) AS n_skipped, a.chi9,
      |  CAST(CASE WHEN a.chi9 > 20090000000 THEN 1 ELSE 0 END AS INT)
      |    AS benford_flag,
      |  a.worst_digit, a.worst_dev9
      |FROM agg a LEFT JOIN skp s
      |  ON s.event_type = a.event_type AND s.wus = a.wus
      |ORDER BY win_start, a.event_type""".stripMargin

  /** st18: the batch lag() replay — no segmentation CTE because the
    * heartbeat state never resets; every row's gap is the exact µs
    * difference to its (ts, event_id)-ordered predecessor.
    */
  val st18: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    value
      |  FROM events
      |), g AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded, value,
      |  gap_us,
      |  floor(gap_us / 86400000000.0 * 1000000.0 + 0.5) / 1000000.0
      |    AS gap_days6,
      |  CAST(CASE WHEN gap_us > 691200000000 THEN 1 ELSE 0 END AS INT)
      |    AS stale_flag
      |FROM g
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st19: q70's chain replayed per 8-day-gap SEGMENT (the family's
    * restart rule) — prefix sums, the shared 1e-9 term quantization,
    * cumulative m and running min, all windowed within the segment.
    */
  val st19: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), r AS (
      |  SELECT *, row_number() OVER ws AS i, SUM(v4l) OVER ws AS s1
      |  FROM seg
      |  WINDOW ws AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), c AS (
      |  SELECT *, CAST(floor((v4l - CAST(s1 AS DOUBLE) / i - 500.0)
      |    * 100000.0 + 0.5) AS BIGINT) AS c9
      |  FROM r
      |), mm AS (
      |  SELECT *, SUM(c9) OVER ws2 AS m
      |  FROM c
      |  WINDOW ws2 AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), ph AS (
      |  SELECT *, m - MIN(m) OVER ws3 AS ph9
      |  FROM mm
      |  WINDOW ws3 AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value, CAST(ph9 AS BIGINT) AS ph9,
      |  CAST(CASE WHEN ph9 > 5000000000 THEN 1 ELSE 0 END AS INT)
      |    AS ph_flag
      |FROM ph
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st20: q73's chained conditional minimums, unpivoted to one row
    * per reached stage — exactly the rows the stream emits at each
    * stage advance.
    */
  val st20: String =
    """WITH det AS (
      |  SELECT DISTINCT event_type FROM events
      |), stg AS (
      |  SELECT event_type, row_number() OVER (ORDER BY event_type) AS rk
      |  FROM det
      |), t1 AS (
      |  SELECT user_id, min(ts) AS t FROM events
      |  WHERE event_type = (SELECT event_type FROM stg WHERE rk = 1)
      |  GROUP BY user_id
      |), t2 AS (
      |  SELECT e.user_id, min(e.ts) AS t
      |  FROM events e JOIN t1 ON t1.user_id = e.user_id
      |  WHERE e.event_type = (SELECT event_type FROM stg WHERE rk = 2)
      |    AND e.ts > t1.t
      |  GROUP BY e.user_id
      |), t3 AS (
      |  SELECT e.user_id, min(e.ts) AS t
      |  FROM events e JOIN t2 ON t2.user_id = e.user_id
      |  WHERE e.event_type = (SELECT event_type FROM stg WHERE rk = 3)
      |    AND e.ts > t2.t
      |  GROUP BY e.user_id
      |)
      |SELECT user_id, CAST(1 AS INT) AS stage, t AS ts FROM t1
      |UNION ALL SELECT user_id, CAST(2 AS INT), t FROM t2
      |UNION ALL SELECT user_id, CAST(3 AS INT), t FROM t3
      |ORDER BY user_id, stage""".stripMargin

  /** q74: q19's exact fixed-point z, then the four Western Electric
    * zone tests as window counts over 3/5/8-row lookback frames.
    */
  val q74: String =
    """WITH base AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), st AS (
      |  SELECT *,
      |    count(*) OVER wk AS n,
      |    sum(v4l) OVER wk AS s1,
      |    sum(CAST(v4l AS HUGEINT) * v4l) OVER wk AS s2
      |  FROM base
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), z AS (
      |  SELECT *,
      |    CASE WHEN n > 1 AND (n * s2 - CAST(s1 AS HUGEINT) * s1) > 0
      |      THEN CAST(floor(
      |        CAST(n * v4l - s1 AS DOUBLE) /
      |        sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) * n / (n - 1))
      |        * 1000000.0 + 0.5) AS BIGINT)
      |      ELSE 0 END AS zf
      |  FROM st
      |), f AS (
      |  SELECT *,
      |    row_number() OVER wo AS i,
      |    sum(CASE WHEN zf >  2000000 THEN 1 ELSE 0 END) OVER w3 AS c2p,
      |    sum(CASE WHEN zf < -2000000 THEN 1 ELSE 0 END) OVER w3 AS c2n,
      |    sum(CASE WHEN zf >  1000000 THEN 1 ELSE 0 END) OVER w5 AS c1p,
      |    sum(CASE WHEN zf < -1000000 THEN 1 ELSE 0 END) OVER w5 AS c1n,
      |    sum(CASE WHEN zf > 0 THEN 1 ELSE 0 END) OVER w8 AS c0p,
      |    sum(CASE WHEN zf < 0 THEN 1 ELSE 0 END) OVER w8 AS c0n
      |  FROM z
      |  WINDOW
      |    wo AS (PARTITION BY user_id, event_type ORDER BY ts, event_id),
      |    w3 AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
      |    w5 AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
      |    w8 AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
      |), r AS (
      |  SELECT *,
      |    CAST(CASE WHEN abs(zf) > 3000000 THEN 1 ELSE 0 END AS INT) AS rule1,
      |    CAST(CASE WHEN i >= 3 AND (c2p >= 2 OR c2n >= 2)
      |      THEN 1 ELSE 0 END AS INT) AS rule2,
      |    CAST(CASE WHEN i >= 5 AND (c1p >= 4 OR c1n >= 4)
      |      THEN 1 ELSE 0 END AS INT) AS rule3,
      |    CAST(CASE WHEN i >= 8 AND (c0p = 8 OR c0n = 8)
      |      THEN 1 ELSE 0 END AS INT) AS rule4
      |  FROM f
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value, zf / 1000000.0 AS zscore6,
      |  rule1, rule2, rule3, rule4,
      |  CAST(CASE WHEN rule1 + rule2 + rule3 + rule4 > 0 THEN 1 ELSE 0 END
      |    AS INT) AS spc_flag
      |FROM r
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** q75: exact lower-median dichotomy, run count via sign-change lag,
    * squared-integer-domain rejection — HUGEINT mirrors decimal(38,0).
    */
  val q75: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), mr AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY v4l, event_id) AS rk,
      |    count(*) OVER (PARTITION BY user_id, event_type) AS nk
      |  FROM b
      |), med AS (
      |  SELECT user_id, event_type, v4l AS med4 FROM mr
      |  WHERE rk = (nk + 1) // 2
      |), sg AS (
      |  SELECT b.*, med.med4,
      |    CASE WHEN b.v4l > med.med4 THEN 1
      |         WHEN b.v4l < med.med4 THEN -1 ELSE 0 END AS sgn
      |  FROM b JOIN med USING (user_id, event_type)
      |), nz AS (
      |  SELECT *, lag(sgn) OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id) AS prev
      |  FROM sg WHERE sgn <> 0
      |), g AS (
      |  SELECT user_id, event_type, max(med4) AS med4,
      |    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_above,
      |    CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_below,
      |    CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END)
      |      AS BIGINT) AS runs
      |  FROM nz GROUP BY user_id, event_type
      |), f AS (
      |  SELECT *, n_above + n_below AS n,
      |    CAST(2 AS HUGEINT) * n_above * n_below AS p
      |  FROM g
      |), f2 AS (
      |  SELECT *, CAST(runs AS HUGEINT) * n - p - n AS dev,
      |    p * (p - n) AS den
      |  FROM f
      |)
      |SELECT user_id, event_type, med4 / 10000.0 AS median,
      |  n AS n_obs, n_above, n_below, runs,
      |  CASE WHEN n_above > 0 AND n_below > 0 AND den > 0 THEN
      |    CAST(floor(CAST(dev AS DOUBLE) /
      |      sqrt(CAST(den AS DOUBLE) / (n - 1)) * 1000000.0 + 0.5) AS BIGINT)
      |  END AS runs_z6,
      |  CAST(CASE WHEN n_above > 0 AND n_below > 0 AND den > 0
      |    AND dev * dev * (n - 1) * 10000 > den * 38416
      |    THEN 1 ELSE 0 END AS INT) AS nonrandom_flag
      |FROM f2
      |ORDER BY user_id, event_type""".stripMargin

  /** q77: q59's leave-one-out peer mean, q60's exact cross-moments
    * per lag, argmax with the |k|-then-k tie rule.
    */
  val q77: String =
    """WITH daily AS (
      |  SELECT user_id, event_type, CAST(ts AS DATE) AS day, value,
      |    row_number() OVER (
      |      PARTITION BY user_id, event_type, CAST(ts AS DATE)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |), d1 AS (
      |  SELECT user_id, event_type, day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS x4l
      |  FROM daily WHERE rn = 1
      |), g AS (
      |  SELECT event_type, day, CAST(sum(x4l) AS BIGINT) AS gs,
      |    count(*) AS gc
      |  FROM d1 GROUP BY 1, 2
      |), b AS (
      |  SELECT d.user_id, d.event_type, d.day, d.x4l,
      |    (g.gs - d.x4l) // (g.gc - 1) AS y4l
      |  FROM d1 d JOIN g USING (event_type, day) WHERE g.gc > 1
      |), pairs AS (
      |  SELECT a.user_id, a.event_type, l.k, a.x4l, y.y4l
      |  FROM b a
      |  CROSS JOIN (SELECT CAST(unnest(range(-3, 4)) AS INT) AS k) l
      |  JOIN b y ON y.user_id = a.user_id
      |    AND y.event_type = a.event_type
      |    AND y.day = a.day - l.k
      |), mom AS (
      |  SELECT user_id, event_type, k,
      |    CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x4l) AS HUGEINT) AS sx,
      |    CAST(sum(y4l) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x4l AS HUGEINT) * x4l) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(y4l AS HUGEINT) * y4l) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(x4l AS HUGEINT) * y4l) AS HUGEINT) AS sxy
      |  FROM pairs GROUP BY 1, 2, 3
      |), r AS (
      |  SELECT user_id, event_type, k, n,
      |    floor(CAST(n * sxy - sx * sy AS DOUBLE) /
      |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |           CAST(n * syy - sy * sy AS DOUBLE))
      |      * 1000000.0 + 0.5) / 1000000.0 AS r6
      |  FROM mom
      |  WHERE n >= 5 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      |), best AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id, event_type
      |    ORDER BY r6 DESC, abs(k) ASC, k ASC) AS rk
      |  FROM r
      |)
      |SELECT user_id, event_type, CAST(k AS INT) AS best_lag,
      |  r6 AS xcorr6, CAST(n AS BIGINT) AS n_pairs,
      |  CAST(CASE WHEN k <> 0 THEN 1 ELSE 0 END AS INT) AS lagged_feed
      |FROM best WHERE rk = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** q78: the same exact e_t = n·d_t − S residuals, HUGEINT lag
    * cross-sums, one double division per r_k and the shared
    * r²/(n−k) IEEE chain floored to 1e-9 longs.
    */
  val q78: String =
    """WITH base AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), df AS (
      |  SELECT *, v4l - lag(v4l) OVER w AS d
      |  FROM base
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), dd AS (
      |  SELECT * FROM df WHERE d IS NOT NULL
      |), ce AS (
      |  SELECT *,
      |    CAST(count(*) OVER wk AS BIGINT) * d
      |      - CAST(sum(d) OVER wk AS BIGINT) AS e
      |  FROM dd
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), lg AS (
      |  SELECT *, lag(e, 1) OVER w AS e1, lag(e, 2) OVER w AS e2,
      |    lag(e, 3) OVER w AS e3, lag(e, 4) OVER w AS e4,
      |    lag(e, 5) OVER w AS e5
      |  FROM ce
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), mom AS (
      |  SELECT user_id, event_type, count(*) AS n,
      |    sum(CAST(e AS HUGEINT) * e) AS c,
      |    sum(CAST(e AS HUGEINT) * e1) AS a1,
      |    sum(CAST(e AS HUGEINT) * e2) AS a2,
      |    sum(CAST(e AS HUGEINT) * e3) AS a3,
      |    sum(CAST(e AS HUGEINT) * e4) AS a4,
      |    sum(CAST(e AS HUGEINT) * e5) AS a5
      |  FROM lg GROUP BY 1, 2 HAVING count(*) >= 8
      |), r AS (
      |  SELECT *,
      |    CASE WHEN c > 0 THEN CAST(a1 AS DOUBLE) / CAST(c AS DOUBLE) END
      |      AS r1,
      |    CASE WHEN c > 0 THEN CAST(a2 AS DOUBLE) / CAST(c AS DOUBLE) END
      |      AS r2,
      |    CASE WHEN c > 0 THEN CAST(a3 AS DOUBLE) / CAST(c AS DOUBLE) END
      |      AS r3,
      |    CASE WHEN c > 0 THEN CAST(a4 AS DOUBLE) / CAST(c AS DOUBLE) END
      |      AS r4,
      |    CASE WHEN c > 0 THEN CAST(a5 AS DOUBLE) / CAST(c AS DOUBLE) END
      |      AS r5
      |  FROM mom
      |), t AS (
      |  SELECT *,
      |    CAST(floor(r1 * r1 / (n - 1) * 1000000000.0 + 0.5) AS BIGINT) AS t1,
      |    CAST(floor(r2 * r2 / (n - 2) * 1000000000.0 + 0.5) AS BIGINT) AS t2,
      |    CAST(floor(r3 * r3 / (n - 3) * 1000000000.0 + 0.5) AS BIGINT) AS t3,
      |    CAST(floor(r4 * r4 / (n - 4) * 1000000000.0 + 0.5) AS BIGINT) AS t4,
      |    CAST(floor(r5 * r5 / (n - 5) * 1000000000.0 + 0.5) AS BIGINT) AS t5
      |  FROM r
      |), q AS (
      |  SELECT *, n * (n + 2) * (t1 + t2 + t3 + t4 + t5) AS lb_q9
      |  FROM t
      |)
      |SELECT user_id, event_type, n AS n_diffs,
      |  CAST(floor(r1 * 1000000.0 + 0.5) AS BIGINT) AS acf1_6,
      |  lb_q9,
      |  CAST(CASE WHEN lb_q9 > 11070500000 THEN 1 ELSE 0 END AS INT)
      |    AS white_reject_flag
      |FROM q
      |ORDER BY user_id, event_type""".stripMargin

  /** q88: q78's exact residual machinery widened to 10 lags, per-lag
    * rows via UNION ALL of the same quantized r_k formulas.
    */
  val q88: String = {
    val lagCols = (1 to 10).map(k => s"lag(e, $k) OVER w AS e$k")
      .mkString(",\n      |    ")
    val aCols = (1 to 10).map(k =>
      s"sum(CAST(e AS HUGEINT) * e$k) AS a$k").mkString(",\n      |    ")
    val branches = (1 to 10).map(k =>
      s"""SELECT user_id, event_type, $k AS k, n,
         |  CASE WHEN c > 0 THEN
         |    CAST(floor(CAST(a$k AS DOUBLE) / CAST(c AS DOUBLE)
         |      * 1000000.0 + 0.5) AS BIGINT) END AS acf6, band6
         |FROM mom""".stripMargin).mkString("\n  UNION ALL\n  ")
    s"""WITH base AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), df AS (
      |  SELECT *, v4l - lag(v4l) OVER w AS d
      |  FROM base
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), dd AS (
      |  SELECT * FROM df WHERE d IS NOT NULL
      |), ce AS (
      |  SELECT *,
      |    CAST(count(*) OVER wk AS BIGINT) * d
      |      - CAST(sum(d) OVER wk AS BIGINT) AS e
      |  FROM dd
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), lg AS (
      |  SELECT *,
      |    $lagCols
      |  FROM ce
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), mom AS (
      |  SELECT user_id, event_type, count(*) AS n,
      |    CAST(floor(1.96 / sqrt(CAST(count(*) AS DOUBLE))
      |      * 1000000.0 + 0.5) AS BIGINT) AS band6,
      |    sum(CAST(e AS HUGEINT) * e) AS c,
      |    $aCols
      |  FROM lg GROUP BY 1, 2 HAVING count(*) >= 12
      |), rows12 AS (
      |  $branches
      |)
      |SELECT user_id, event_type, CAST(k AS INT) AS k, n AS n_diffs,
      |  acf6, band6,
      |  CAST(CASE WHEN abs(acf6) > band6 THEN 1 ELSE 0 END AS INT)
      |    AS sig_flag
      |FROM rows12
      |ORDER BY user_id, event_type, k""".stripMargin
  }

  /** q79: q69's era split, per-era exact lower medians, exact HUGEINT
    * Brown–Forsythe ingredients, the one shared IEEE F chain.
    */
  val q79: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), span AS (
      |  SELECT min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS pivot
      |  FROM ev
      |), tag AS (
      |  SELECT e.event_type, e.v4l,
      |    CASE WHEN e.day > s.pivot THEN 1 ELSE 0 END AS cur
      |  FROM ev e, span s
      |), rk AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, cur ORDER BY v4l)
      |      AS rk,
      |    count(*) OVER (PARTITION BY event_type, cur) AS nk
      |  FROM tag
      |), med AS (
      |  SELECT event_type, cur, v4l AS med4 FROM rk
      |  WHERE rk = (nk + 1) // 2
      |), era AS (
      |  SELECT t.event_type, t.cur, count(*) AS n,
      |    sum(abs(t.v4l - m.med4)) AS sa,
      |    sum(CAST(abs(t.v4l - m.med4) AS HUGEINT) *
      |        abs(t.v4l - m.med4)) AS qa,
      |    max(m.med4) AS med4
      |  FROM rk t JOIN med m
      |    ON m.event_type = t.event_type AND m.cur = t.cur
      |  GROUP BY 1, 2
      |), eraw AS (
      |  SELECT *, qa * n - CAST(sa AS HUGEINT) * sa AS w FROM era
      |), piv AS (
      |  SELECT event_type,
      |    sum(CASE WHEN cur = 0 THEN n END) AS n1,
      |    sum(CASE WHEN cur = 1 THEN n END) AS n2,
      |    sum(CASE WHEN cur = 0 THEN sa END) AS s1,
      |    sum(CASE WHEN cur = 1 THEN sa END) AS s2,
      |    sum(CASE WHEN cur = 0 THEN w END) AS w1,
      |    sum(CASE WHEN cur = 1 THEN w END) AS w2,
      |    sum(CASE WHEN cur = 0 THEN med4 END) AS med1,
      |    sum(CASE WHEN cur = 1 THEN med4 END) AS med2
      |  FROM eraw GROUP BY 1
      |), f AS (
      |  SELECT *, n1 + n2 AS nn,
      |    CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1 AS d,
      |    w1 * n2 + w2 * n1 AS ww
      |  FROM piv WHERE n1 >= 2 AND n2 >= 2
      |), g AS (
      |  SELECT *,
      |    CASE WHEN ww > 0 THEN
      |      CAST(floor(CAST(d AS DOUBLE) * CAST(d AS DOUBLE) * (nn - 2) /
      |        (CAST(nn AS DOUBLE) * CAST(ww AS DOUBLE)) * 1000000000.0
      |        + 0.5) AS BIGINT)
      |    END AS bf_f9
      |  FROM f
      |)
      |SELECT event_type,
      |  CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
      |  CAST(med1 AS BIGINT) / 10000.0 AS med_ref,
      |  CAST(med2 AS BIGINT) / 10000.0 AS med_cur,
      |  bf_f9,
      |  CAST(CASE WHEN bf_f9 > 3841500000 THEN 1 ELSE 0 END AS INT)
      |    AS var_drift_flag
      |FROM g
      |ORDER BY event_type""".stripMargin

  /** q80: q77's daily LOO peer machinery, deterministic (value, day)
    * permutation ranks, the exact 1 − 6Σd²/(n³−n) closed form.
    */
  val q80: String =
    """WITH daily AS (
      |  SELECT user_id, event_type, CAST(ts AS DATE) AS day, value,
      |    row_number() OVER (
      |      PARTITION BY user_id, event_type, CAST(ts AS DATE)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |), d1 AS (
      |  SELECT user_id, event_type, day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS x4l
      |  FROM daily WHERE rn = 1
      |), g AS (
      |  SELECT event_type, day, CAST(sum(x4l) AS BIGINT) AS gs,
      |    count(*) AS gc
      |  FROM d1 GROUP BY 1, 2
      |), b AS (
      |  SELECT d.user_id, d.event_type, d.day, d.x4l,
      |    (g.gs - d.x4l) // (g.gc - 1) AS y4l
      |  FROM d1 d JOIN g USING (event_type, day) WHERE g.gc > 1
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY x4l, day) AS rx,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY y4l, day) AS ry
      |  FROM b
      |), a AS (
      |  SELECT user_id, event_type, count(*) AS n,
      |    sum(CAST(rx - ry AS HUGEINT) * (rx - ry)) AS dd
      |  FROM r GROUP BY 1, 2 HAVING count(*) >= 5
      |), f AS (
      |  SELECT *, CAST(n AS HUGEINT) * n * n - n AS m FROM a
      |), h AS (
      |  SELECT *,
      |    CAST(floor(CAST(m - 6 * dd AS DOUBLE) / CAST(m AS DOUBLE) *
      |      1000000.0 + 0.5) AS BIGINT) AS rho6
      |  FROM f
      |)
      |SELECT user_id, event_type, n AS n_days, rho6,
      |  CAST(CASE WHEN rho6 < 500000 THEN 1 ELSE 0 END AS INT)
      |    AS decorrelated_flag
      |FROM h
      |ORDER BY user_id, event_type""".stripMargin

  /** q82: q80's daily exactness discipline on the OLS normal
    * equations — exact HUGEINT moment combinations, one IEEE chain
    * per statistic.
    */
  val q82: String =
    """WITH b AS (
      |  SELECT user_id, event_type, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), xs AS (
      |  SELECT *, day - min(day) OVER (PARTITION BY user_id, event_type)
      |    AS x
      |  FROM b
      |), mom AS (
      |  SELECT user_id, event_type, count(*) AS n,
      |    sum(CAST(x AS BIGINT)) AS sx, sum(y) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM xs GROUP BY 1, 2 HAVING count(*) >= 5
      |), f AS (
      |  SELECT *,
      |    n * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |    n * sxx - CAST(sx AS HUGEINT) * sx AS dx,
      |    n * syy - CAST(sy AS HUGEINT) * sy AS dy
      |  FROM mom
      |), g AS (
      |  SELECT *,
      |    CASE WHEN dx > 0 THEN
      |      CAST(floor(CAST(num AS DOUBLE) / CAST(dx AS DOUBLE) * 100.0
      |        + 0.5) AS BIGINT) END AS ols_slope_day6,
      |    CASE WHEN dx > 0 AND dy > 0 THEN
      |      CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE) /
      |        (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)) * 1000000.0
      |        + 0.5) AS BIGINT) END AS r2_6
      |  FROM f
      |)
      |SELECT user_id, event_type, n AS n_obs, ols_slope_day6, r2_6,
      |  CAST(CASE WHEN r2_6 >= 500000 THEN 1 ELSE 0 END AS INT)
      |    AS trend_fit_flag
      |FROM g
      |ORDER BY user_id, event_type""".stripMargin

  /** st23: q86's bar selections restricted to watermark-closed day
    * windows (st16's timeout-eligibility rule).
    */
  val st23: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS tsu,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), w AS (
      |  SELECT *, (epoch_us(tsu) // 86400000000) * 86400000000 AS wus
      |  FROM b
      |), fireable AS (
      |  SELECT * FROM w
      |  WHERE (wus + 86400000000) // 1000 <
      |    (SELECT epoch_us(max(tsu)) // 1000 - 3600000 FROM b)
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id, event_type, wus
      |      ORDER BY tsu, event_id) AS ra,
      |    row_number() OVER (PARTITION BY user_id, event_type, wus
      |      ORDER BY tsu DESC, event_id DESC) AS rd
      |  FROM fireable
      |)
      |SELECT make_timestamp(wus) AS win_start, user_id, event_type,
      |  max(CASE WHEN ra = 1 THEN v4l END) / 10000.0 AS open,
      |  max(v4l) / 10000.0 AS high, min(v4l) / 10000.0 AS low,
      |  max(CASE WHEN rd = 1 THEN v4l END) / 10000.0 AS close,
      |  count(*) AS n_trades
      |FROM r GROUP BY 1, 2, 3
      |ORDER BY win_start, user_id, event_type""".stripMargin

  /** q86: the same deterministic first/last selections over the
    * (ticker, day) windows, exact long bar values.
    */
  val q86: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id, event_type, day
      |      ORDER BY ts, event_id) AS ra,
      |    row_number() OVER (PARTITION BY user_id, event_type, day
      |      ORDER BY ts DESC, event_id DESC) AS rd
      |  FROM b
      |), bar AS (
      |  SELECT user_id, event_type, day,
      |    max(CASE WHEN ra = 1 THEN v4l END) AS o4,
      |    max(v4l) AS h4, min(v4l) AS l4,
      |    max(CASE WHEN rd = 1 THEN v4l END) AS c4,
      |    count(*) AS n_trades
      |  FROM r GROUP BY 1, 2, 3
      |), g AS (
      |  SELECT *, lag(c4) OVER (PARTITION BY user_id, event_type
      |    ORDER BY day) AS pc4
      |  FROM bar
      |)
      |SELECT user_id, event_type, day,
      |  o4 / 10000.0 AS open, h4 / 10000.0 AS high,
      |  l4 / 10000.0 AS low, c4 / 10000.0 AS close,
      |  n_trades,
      |  (o4 - pc4) / 10000.0 AS overnight_gap
      |FROM g
      |ORDER BY user_id, event_type, day""".stripMargin

  /** q85: the same epoch-anchored weekday pivot and the ONE
    * fixed-order IEEE F chain over exact integer group moments.
    */
  val q85: String = {
    val pivCols = (0 until 7).map(i =>
      s"""SUM(CASE WHEN g = $i THEN 1 ELSE 0 END) AS n$i,
         |    SUM(CASE WHEN g = $i THEN y ELSE 0 END) AS s$i,
         |    SUM(CASE WHEN g = $i THEN CAST(y AS HUGEINT) * y
         |        ELSE 0 END) AS q$i""".stripMargin).mkString(",\n    ")
    val aTerms = (0 until 7).map(i =>
      s"CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE) / n$i").mkString(" + ")
    val guard = (0 until 7).map(i => s"n$i >= 1").mkString(" AND ")
    s"""WITH b AS (
       |  SELECT user_id, event_type,
       |    ((CAST(CAST(ts AS DATE) - DATE '1970-01-05' AS BIGINT) % 7)
       |      + 7) % 7 AS g,
       |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
       |  FROM events
       |), piv AS (
       |  SELECT user_id, event_type,
       |    $pivCols
       |  FROM b GROUP BY 1, 2
       |), ok AS (
       |  SELECT * FROM piv WHERE $guard
       |), m AS (
       |  SELECT *,
       |    ($aTerms) AS aa,
       |    n0 + n1 + n2 + n3 + n4 + n5 + n6 AS nn,
       |    s0 + s1 + s2 + s3 + s4 + s5 + s6 AS stot,
       |    q0 + q1 + q2 + q3 + q4 + q5 + q6 AS qtot
       |  FROM ok
       |), h AS (
       |  SELECT *,
       |    aa - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / nn AS ssb,
       |    CAST(qtot AS DOUBLE) - aa AS ssw
       |  FROM m
       |), i2 AS (
       |  SELECT *,
       |    CASE WHEN ssw > 0 AND nn > 7 THEN
       |      CAST(floor(ssb / 6.0 / (ssw / (nn - 7)) * 1000000.0 + 0.5)
       |        AS BIGINT) END AS weekday_f6
       |  FROM h
       |)
       |SELECT user_id, event_type, CAST(nn AS BIGINT) AS n_obs,
       |  weekday_f6,
       |  CAST(CASE WHEN weekday_f6 > 2098600 THEN 1 ELSE 0 END AS INT)
       |    AS weekday_effect_flag
       |FROM i2
       |ORDER BY user_id, event_type""".stripMargin
  }

  /** p09: the five era-monitor oracles composed VERBATIM and
    * left-joined on event_type — the oracle-level mirror of the
    * panel's by-construction equivalence to its standalone parts.
    */
  def p09: String =
    s"""WITH bf AS (SELECT * FROM ($q66)),
       |ks AS (SELECT * FROM ($q69)),
       |psi AS (SELECT * FROM ($q61)),
       |vd AS (SELECT * FROM ($q79)),
       |mw AS (SELECT * FROM ($q84)),
       |j AS (
       |  SELECT bf.event_type, bf.n, ks.n_ref, ks.n_cur,
       |    psi.psi9, psi.drift AS psi_flag,
       |    ks.ks6, ks.drift_flag AS ks_flag,
       |    vd.bf_f9, vd.var_drift_flag,
       |    mw.mw_z6, mw.location_shift_flag,
       |    bf.chi9, bf.benford_flag,
       |    CAST(coalesce(psi.drift, 0) + coalesce(ks.drift_flag, 0)
       |      + coalesce(vd.var_drift_flag, 0)
       |      + coalesce(mw.location_shift_flag, 0)
       |      + coalesce(bf.benford_flag, 0) AS INT) AS drift_score
       |  FROM bf
       |  LEFT JOIN ks USING (event_type)
       |  LEFT JOIN psi USING (event_type)
       |  LEFT JOIN vd USING (event_type)
       |  LEFT JOIN mw USING (event_type)
       |)
       |SELECT *,
       |  CAST(CASE WHEN drift_score > 0 THEN 1 ELSE 0 END AS INT)
       |    AS drift_any
       |FROM j
       |ORDER BY event_type""".stripMargin

  /** q84: q69's distribution table, ×2-midrank sums, tie-corrected
    * variance — exact HUGEINT ingredients, one IEEE z chain.
    */
  val q84: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), span AS (
      |  SELECT min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS pivot
      |  FROM ev
      |), dist AS (
      |  SELECT e.event_type, e.v4l,
      |    SUM(CASE WHEN e.day > s.pivot THEN 0 ELSE 1 END) AS c1,
      |    SUM(CASE WHEN e.day > s.pivot THEN 1 ELSE 0 END) AS c2
      |  FROM ev e, span s GROUP BY 1, 2
      |), cum AS (
      |  SELECT *, c1 + c2 AS t,
      |    coalesce(sum(c1 + c2) OVER (PARTITION BY event_type
      |      ORDER BY v4l ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING), 0) AS cb
      |  FROM dist
      |), agg AS (
      |  SELECT event_type,
      |    sum(c1) AS n1, sum(c2) AS n2,
      |    sum(CAST(c1 AS HUGEINT) * (2 * cb + t + 1)) AS r1x2,
      |    sum(CAST(t AS HUGEINT) * t * t - t) AS ties
      |  FROM cum GROUP BY 1
      |), f AS (
      |  SELECT *, n1 + n2 AS n,
      |    r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1)
      |      - CAST(n1 AS HUGEINT) * n2 AS dev,
      |    CAST(n1 AS HUGEINT) * n2 AS nn,
      |    CAST(n1 + n2 + 1 AS HUGEINT) * (n1 + n2) * (n1 + n2 - 1)
      |      - ties AS vv,
      |    CAST(3 AS HUGEINT) * (n1 + n2) * (n1 + n2 - 1) AS dd
      |  FROM agg WHERE n1 >= 2 AND n2 >= 2
      |), g AS (
      |  SELECT *,
      |    CASE WHEN vv > 0 THEN
      |      CAST(floor(CAST(dev AS DOUBLE) /
      |        sqrt(CAST(nn AS DOUBLE) * CAST(vv AS DOUBLE) /
      |          CAST(dd AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      |    END AS mw_z6
      |  FROM f
      |)
      |SELECT event_type,
      |  CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
      |  mw_z6,
      |  CAST(CASE WHEN abs(mw_z6) > 1960000 THEN 1 ELSE 0 END AS INT)
      |    AS location_shift_flag
      |FROM g
      |ORDER BY event_type""".stripMargin

  /** st21: st08's segmented causal standardization feeding q74's zone
    * counts over trailing 3/5/8-row frames per 8-day segment.
    */
  val st21: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), st AS (
      |  SELECT *,
      |    count(*) OVER wk AS n,
      |    sum(v4l) OVER wk AS s1,
      |    sum(CAST(v4l AS HUGEINT) * v4l) OVER wk AS s2
      |  FROM seg
      |  WINDOW wk AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), z AS (
      |  SELECT *, v4l / 10000.0 AS value,
      |    CASE WHEN n > 1 AND (n * s2 - CAST(s1 AS HUGEINT) * s1) > 0
      |      THEN CAST(floor(
      |        CAST(n * v4l - s1 AS DOUBLE) /
      |        sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) * n / (n - 1))
      |        * 1000000.0 + 0.5) AS BIGINT)
      |      ELSE 0 END AS zf
      |  FROM st
      |), r AS (
      |  SELECT *,
      |    sum(CASE WHEN zf > 2000000 THEN 1 ELSE 0 END) OVER w3 AS c2p,
      |    sum(CASE WHEN zf < -2000000 THEN 1 ELSE 0 END) OVER w3 AS c2n,
      |    sum(CASE WHEN zf > 1000000 THEN 1 ELSE 0 END) OVER w5 AS c1p,
      |    sum(CASE WHEN zf < -1000000 THEN 1 ELSE 0 END) OVER w5 AS c1n,
      |    sum(CASE WHEN zf > 0 THEN 1 ELSE 0 END) OVER w8 AS c0p,
      |    sum(CASE WHEN zf < 0 THEN 1 ELSE 0 END) OVER w8 AS c0n
      |  FROM z
      |  WINDOW w3 AS (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
      |    w5 AS (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
      |    w8 AS (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
      |), f AS (
      |  SELECT *,
      |    CASE WHEN abs(zf) > 3000000 THEN 1 ELSE 0 END AS rule1,
      |    CASE WHEN n >= 3 AND (c2p >= 2 OR c2n >= 2)
      |      THEN 1 ELSE 0 END AS rule2,
      |    CASE WHEN n >= 5 AND (c1p >= 4 OR c1n >= 4)
      |      THEN 1 ELSE 0 END AS rule3,
      |    CASE WHEN n >= 8 AND (c0p = 8 OR c0n = 8)
      |      THEN 1 ELSE 0 END AS rule4
      |  FROM r
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded, value,
      |  zf / 1000000.0 AS zscore6,
      |  CAST(rule1 AS INT) AS rule1, CAST(rule2 AS INT) AS rule2,
      |  CAST(rule3 AS INT) AS rule3, CAST(rule4 AS INT) AS rule4,
      |  CAST(CASE WHEN rule1 + rule2 + rule3 + rule4 > 0
      |    THEN 1 ELSE 0 END AS INT) AS spc_flag
      |FROM f
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** q89: running-peak drawdown stats + gaps-and-islands underwater
    * runs, all on 1e-4 longs; the fraction is one BIGINT trunc
    * division over non-negative operands.
    */
  val q89: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), r AS (
      |  SELECT *,
      |    max(v4l) OVER w AS peak4,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS rn
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), d AS (
      |  SELECT *, peak4 - v4l AS dd4,
      |    CASE WHEN peak4 - v4l > 0 THEN 1 ELSE 0 END AS uw
      |  FROM r
      |), g AS (
      |  SELECT *, rn - sum(uw) OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM d
      |), runs AS (
      |  SELECT user_id, event_type, max(len) AS mur FROM (
      |    SELECT user_id, event_type, grp, count(*) AS len
      |    FROM g WHERE uw = 1 GROUP BY 1, 2, 3
      |  ) GROUP BY 1, 2
      |), stats AS (
      |  SELECT user_id, event_type, count(*) AS n_obs,
      |    max(v4l) / 10000.0 AS peak,
      |    max(dd4) / 10000.0 AS max_drawdown,
      |    max(CASE WHEN peak4 > 0 THEN dd4 * 1000000 // peak4 END)
      |      AS max_dd_frac6,
      |    CAST(sum(uw) AS BIGINT) AS n_underwater
      |  FROM g GROUP BY 1, 2
      |)
      |SELECT s.user_id, s.event_type, s.n_obs, s.peak, s.max_drawdown,
      |  s.max_dd_frac6, s.n_underwater,
      |  COALESCE(r2.mur, 0) AS max_underwater_run
      |FROM stats s LEFT JOIN runs r2 USING (user_id, event_type)
      |ORDER BY s.user_id, s.event_type""".stripMargin

  /** q90: Theil–Sen — daily closes, all ordered pairs, one IEEE
    * slope division quantized at 1e-6, q42's lower-median selection.
    */
  val q90: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), cl AS (
      |  SELECT user_id, event_type, day, v4l AS y FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type, day
      |      ORDER BY ts DESC, event_id DESC) AS rd
      |    FROM b
      |  ) WHERE rd = 1
      |), x AS (
      |  SELECT user_id, event_type,
      |    CAST(datediff('day', min(day) OVER (PARTITION BY user_id,
      |      event_type), day) AS BIGINT) AS x,
      |    y,
      |    count(*) OVER (PARTITION BY user_id, event_type) AS n_obs
      |  FROM cl
      |), xf AS (
      |  SELECT * FROM x WHERE n_obs >= 5
      |), pr AS (
      |  SELECT a.user_id, a.event_type, a.n_obs, a.x AS xi, b2.x AS xj,
      |    CAST(floor(CAST(b2.y - a.y AS DOUBLE) /
      |      CAST(b2.x - a.x AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS slope6
      |  FROM xf a JOIN xf b2 USING (user_id, event_type)
      |  WHERE b2.x > a.x
      |), rk AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY slope6, xi, xj) AS rk,
      |    count(*) OVER (PARTITION BY user_id, event_type) AS n_pairs
      |  FROM pr
      |)
      |SELECT user_id, event_type, n_obs, n_pairs,
      |  slope6 AS theil_sen_slope6
      |FROM rk WHERE rk = CAST(floor((n_pairs + 1) / 2) AS BIGINT)
      |ORDER BY user_id, event_type""".stripMargin

  /** q91: variance ratio — the same exact integer moment
    * combinations (HUGEINT ≡ decimal(38,0)) and the identical IEEE
    * chain, 1e-6-floored.
    */
  val q91: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), r AS (
      |  SELECT *,
      |    v4l - lag(v4l, 1) OVER w AS r1,
      |    v4l - lag(v4l, 4) OVER w AS rq
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), a AS (
      |  SELECT user_id, event_type, count(*) AS n,
      |    count(r1) AS n1, sum(r1) AS s11,
      |    sum(CAST(r1 AS HUGEINT) * r1) AS s21,
      |    count(rq) AS nq, sum(rq) AS s1q,
      |    sum(CAST(rq AS HUGEINT) * rq) AS s2q
      |  FROM r GROUP BY 1, 2
      |), f AS (
      |  SELECT *,
      |    nq * s2q - CAST(s1q AS HUGEINT) * s1q AS num,
      |    n1 * s21 - CAST(s11 AS HUGEINT) * s11 AS den
      |  FROM a WHERE n >= 12
      |), v2 AS (
      |  SELECT user_id, event_type, n,
      |    CASE WHEN den > 0 THEN
      |      CAST(floor((CAST(num AS DOUBLE) / CAST(nq * (nq - 1) AS DOUBLE))
      |        / (4.0 * (CAST(den AS DOUBLE) /
      |            CAST(n1 * (n1 - 1) AS DOUBLE)))
      |        * 1000000.0 + 0.5) AS BIGINT) END AS vr6
      |  FROM f
      |)
      |SELECT user_id, event_type, n AS n_obs, vr6,
      |  CAST(CASE WHEN vr6 > 1200000 THEN 1
      |    WHEN vr6 < 800000 THEN -1 ELSE 0 END AS INT) AS vr_flag
      |FROM v2 ORDER BY user_id, event_type""".stripMargin

  /** q93: Hurst R/S — the same exact block integers (HUGEINT ≡
    * decimal(38,0)), one sqrt+division per block 1e-9-quantized, and
    * the identical closed-form dyadic-slope chain.
    */
  val q93: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), dd AS (
      |  SELECT *, v4l - lag(v4l) OVER w AS d
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), di AS (
      |  SELECT user_id, event_type, d,
      |    CAST(row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) - 1 AS INT) AS i
      |  FROM dd WHERE d IS NOT NULL
      |), ex AS (
      |  SELECT di.*, s.n FROM di CROSS JOIN (VALUES (4), (8)) s(n)
      |), bl AS (
      |  SELECT *, i // n AS blk, CAST(i % n + 1 AS BIGINT) AS k FROM ex
      |), pw AS (
      |  SELECT *,
      |    sum(d) OVER (PARTITION BY user_id, event_type, n, blk ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref,
      |    sum(d) OVER pb AS s1,
      |    sum(CAST(d AS HUGEINT) * d) OVER pb AS s2,
      |    count(*) OVER pb AS cnt
      |  FROM bl
      |  WINDOW pb AS (PARTITION BY user_id, event_type, n, blk)
      |), zz AS (
      |  SELECT *, n * pref - k * s1 AS z FROM pw WHERE cnt = n
      |), br AS (
      |  SELECT user_id, event_type, n, blk, max(z) - min(z) AS zrange,
      |    max(s1) AS s1, max(s2) AS s2
      |  FROM zz GROUP BY 1, 2, 3, 4
      |), r9 AS (
      |  SELECT user_id, event_type, n,
      |    CAST(floor(CAST(zrange AS DOUBLE) /
      |      sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) * 1.0e9 + 0.5)
      |      AS BIGINT) AS rs9
      |  FROM br WHERE n * s2 - s1 * s1 > 0
      |), ag AS (
      |  SELECT user_id, event_type,
      |    CAST(sum(CASE WHEN n = 4 THEN 1 END) AS BIGINT) AS nb4,
      |    sum(CASE WHEN n = 4 THEN rs9 END) AS s4,
      |    CAST(sum(CASE WHEN n = 8 THEN 1 END) AS BIGINT) AS nb8,
      |    sum(CASE WHEN n = 8 THEN rs9 END) AS s8
      |  FROM r9 GROUP BY 1, 2
      |), nb AS (
      |  SELECT user_id, event_type, count(*) - 1 AS n_diffs
      |  FROM b GROUP BY 1, 2
      |), fin AS (
      |  SELECT nb.user_id, nb.event_type, nb.n_diffs,
      |    COALESCE(ag.nb4, 0) AS n_blocks4,
      |    COALESCE(ag.nb8, 0) AS n_blocks8,
      |    CASE WHEN COALESCE(ag.nb4, 0) > 0 AND COALESCE(ag.nb8, 0) > 0
      |        AND ag.s4 > 0 AND ag.s8 > 0 THEN
      |      CAST(floor((ln((CAST(ag.s8 AS DOUBLE) / 1.0e9) / ag.nb8) -
      |        ln((CAST(ag.s4 AS DOUBLE) / 1.0e9) / ag.nb4))
      |        / 0.6931471805599453 * 1000000.0 + 0.5) AS BIGINT)
      |    END AS hurst6
      |  FROM nb LEFT JOIN ag USING (user_id, event_type)
      |)
      |SELECT user_id, event_type, n_diffs, n_blocks4, n_blocks8, hurst6,
      |  CAST(CASE WHEN hurst6 > 550000 THEN 1
      |    WHEN hurst6 < 450000 THEN -1 ELSE 0 END AS INT) AS memory_flag
      |FROM fin ORDER BY user_id, event_type""".stripMargin

  /** q97: business-day staleness — the identical epoch-anchored
    * weekday-count integer expression, INT-cast for dtype parity.
    */
  val q97: String = {
    def wd(d: String) =
      s"CAST((((($d - DATE '1970-01-01') + 1) // 7) * 5 + " +
        s"((($d - DATE '1970-01-01') + 1) % 7 - " +
        s"greatest(0, least((($d - DATE '1970-01-01') + 1) % 7 - 2, 2))))" +
        s" AS BIGINT)"
    s"""WITH e AS (
       |  SELECT user_id, event_type,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
       |  FROM events
       |), w AS (
       |  SELECT *, ${wd("day")} AS wd,
       |    CASE WHEN (day - DATE '1970-01-01') % 7 IN (2, 3)
       |      THEN 1 ELSE 0 END AS is_weekend
       |  FROM e
       |), hi AS (
       |  SELECT ${wd("max(day)")} AS max_wd FROM e
       |), a AS (
       |  SELECT user_id, event_type, count(*) AS n_obs,
       |    min(wd) AS first_wd, max(wd) AS last_wd,
       |    CAST(sum(is_weekend) AS BIGINT) AS weekend_prints
       |  FROM w GROUP BY 1, 2
       |)
       |SELECT user_id, event_type, n_obs,
       |  last_wd - first_wd AS bday_span,
       |  CASE WHEN n_obs > 1 THEN
       |    CAST(last_wd - first_wd AS BIGINT) * 1000000 // (n_obs - 1)
       |  END AS avg_bgap6,
       |  weekend_prints,
       |  max_wd - last_wd AS bdays_since_last,
       |  CAST(CASE WHEN max_wd - last_wd > 4 THEN 1 ELSE 0 END AS INT)
       |    AS stale_flag
       |FROM a CROSS JOIN hi
       |ORDER BY user_id, event_type""".stripMargin
  }

  /** q95: ensemble vote — the three component oracles composed
    * verbatim, joined on the observation key.
    */
  lazy val q95: String =
    s"""WITH zf AS (
       |  SELECT user_id, event_type, event_id, date_recorded,
       |    standard_deviation_flag AS z_flag
       |  FROM (${AnomalyOracle.q09})
       |), iqf AS (
       |  SELECT user_id, event_type, event_id, is_anomaly AS iqr_flag
       |  FROM (${DecomposeOracle.q12})
       |), hf AS (
       |  SELECT user_id, event_type, event_id, hampel_flag
       |  FROM ($q53)
       |)
       |SELECT zf.user_id, zf.event_type, zf.event_id, zf.date_recorded,
       |  zf.z_flag, iqf.iqr_flag, hf.hampel_flag,
       |  CAST(zf.z_flag + iqf.iqr_flag + hf.hampel_flag AS INT) AS votes,
       |  CAST(CASE WHEN zf.z_flag + iqf.iqr_flag + hf.hampel_flag >= 2
       |    THEN 1 ELSE 0 END AS INT) AS ensemble_flag
       |FROM zf
       |JOIN iqf USING (user_id, event_type, event_id)
       |JOIN hf USING (user_id, event_type, event_id)
       |ORDER BY user_id, event_type, event_id""".stripMargin

  /** q96: TWAP — exact µs weights off one lead() pass, HUGEINT
    * weighted sum, one integral division.
    */
  val q96: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), r AS (
      |  SELECT *, lead(epoch_us(ts)) OVER (PARTITION BY user_id,
      |    event_type, day ORDER BY ts, event_id) AS next_us
      |  FROM b
      |), wts AS (
      |  SELECT *, COALESCE(next_us,
      |    epoch_us(CAST(day + 1 AS TIMESTAMP))) - epoch_us(ts) AS w_us
      |  FROM r
      |), ag AS (
      |  SELECT user_id, event_type, day, count(*) AS n_prints,
      |    sum(w_us) AS sw, sum(CAST(v4l AS HUGEINT) * w_us) AS swv
      |  FROM wts GROUP BY 1, 2, 3
      |)
      |SELECT user_id, event_type, day, n_prints,
      |  CAST(swv // sw AS BIGINT) AS twap4,
      |  CAST(swv // sw AS BIGINT) / 10000.0 AS twap
      |FROM ag ORDER BY user_id, event_type, day""".stripMargin

  /** q94: pairwise correlation matrix — daily closes, exact HUGEINT
    * moments per pair, one IEEE chain.
    */
  val q94: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), cl AS (
      |  SELECT user_id, event_type, day, v4l AS y FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type, day
      |      ORDER BY ts DESC, event_id DESC) AS rd
      |    FROM b
      |  ) WHERE rd = 1
      |), pr AS (
      |  SELECT a.event_type, a.user_id AS user_a, b2.user_id AS user_b,
      |    count(*) AS n_days,
      |    sum(a.y) AS sx, sum(b2.y) AS sy,
      |    sum(CAST(a.y AS HUGEINT) * a.y) AS sxx,
      |    sum(CAST(b2.y AS HUGEINT) * b2.y) AS syy,
      |    sum(CAST(a.y AS HUGEINT) * b2.y) AS sxy
      |  FROM cl a JOIN cl b2 ON a.event_type = b2.event_type
      |    AND a.day = b2.day AND a.user_id < b2.user_id
      |  GROUP BY 1, 2, 3
      |), f AS (
      |  SELECT *,
      |    n_days * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |    n_days * sxx - CAST(sx AS HUGEINT) * sx AS dx,
      |    n_days * syy - CAST(sy AS HUGEINT) * sy AS dy
      |  FROM pr WHERE n_days >= 5
      |), v AS (
      |  SELECT *,
      |    CASE WHEN dx > 0 AND dy > 0 THEN
      |      CAST(floor(CAST(num AS DOUBLE) /
      |        sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
      |        * 1000000.0 + 0.5) AS BIGINT)
      |    END AS corr6
      |  FROM f
      |)
      |SELECT event_type, user_a, user_b, n_days, corr6,
      |  CAST(CASE WHEN abs(corr6) >= 800000 THEN 1 ELSE 0 END AS INT)
      |    AS comove_flag
      |FROM v
      |ORDER BY event_type, user_a, user_b""".stripMargin

  /** st25: the causal variance ratio — st19's segment machinery, the
    * cumulative exact moments of both diff streams per row, q91's
    * identical IEEE chain.
    */
  val st25: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), r AS (
      |  SELECT *,
      |    v4l - lag(v4l) OVER ws AS r1,
      |    v4l - lag(v4l, 4) OVER ws AS rq
      |  FROM seg
      |  WINDOW ws AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id)
      |), cum AS (
      |  SELECT *,
      |    count(r1) OVER wc AS n1, sum(r1) OVER wc AS s11,
      |    sum(CAST(r1 AS HUGEINT) * r1) OVER wc AS s21,
      |    count(rq) OVER wc AS nq, sum(rq) OVER wc AS s1q,
      |    sum(CAST(rq AS HUGEINT) * rq) OVER wc AS s2q
      |  FROM r
      |  WINDOW wc AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), v AS (
      |  SELECT *,
      |    CASE WHEN nq >= 2
      |        AND (n1 * s21 - CAST(s11 AS HUGEINT) * s11) > 0 THEN
      |      CAST(floor((CAST(nq * s2q - CAST(s1q AS HUGEINT) * s1q
      |          AS DOUBLE) / CAST(nq * (nq - 1) AS DOUBLE))
      |        / (4.0 * (CAST(n1 * s21 - CAST(s11 AS HUGEINT) * s11
      |            AS DOUBLE) / CAST(n1 * (n1 - 1) AS DOUBLE)))
      |        * 1000000.0 + 0.5) AS BIGINT)
      |    END AS vr6
      |  FROM cum
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value, vr6,
      |  CAST(CASE WHEN vr6 > 1200000 THEN 1
      |    WHEN vr6 < 800000 THEN -1 ELSE 0 END AS INT) AS vr_flag
      |FROM v
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st31: the causal ADF — st25's segment machinery, cumulative
    * exact transition moments per row, q113's identical IEEE chain.
    */
  val st31: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), r AS (
      |  SELECT *,
      |    lag(v4l) OVER ws AS y1,
      |    v4l - lag(v4l) OVER ws AS dy
      |  FROM seg
      |  WINDOW ws AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id)
      |), cum AS (
      |  SELECT *,
      |    count(y1) OVER wc AS m,
      |    sum(y1) OVER wc AS s1, sum(dy) OVER wc AS sd,
      |    sum(CAST(y1 AS HUGEINT) * y1) OVER wc AS s11,
      |    sum(CAST(y1 AS HUGEINT) * dy) OVER wc AS s1d,
      |    sum(CAST(dy AS HUGEINT) * dy) OVER wc AS sdd
      |  FROM r
      |  WINDOW wc AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), c1 AS (
      |  SELECT *,
      |    m * s11 - CAST(s1 AS HUGEINT) * s1 AS deni,
      |    m * s1d - CAST(s1 AS HUGEINT) * sd AS numi
      |  FROM cum
      |), c2 AS (
      |  SELECT *, CASE WHEN m >= 12 AND deni > 0
      |    THEN CAST(numi AS DOUBLE) / CAST(deni AS DOUBLE) END AS rho
      |  FROM c1
      |), c3 AS (
      |  SELECT *, (CAST(sd AS DOUBLE) - rho * CAST(s1 AS DOUBLE))
      |    / CAST(m AS DOUBLE) AS alpha FROM c2
      |), c4 AS (
      |  SELECT *,
      |    CAST(sdd AS DOUBLE) - alpha * CAST(sd AS DOUBLE)
      |      - rho * CAST(s1d AS DOUBLE) AS rss
      |  FROM c3
      |), c5 AS (
      |  SELECT *,
      |    CASE WHEN rho IS NOT NULL THEN
      |      CAST(floor(rho * 1000000.0 + 0.5) AS BIGINT) END AS rho6,
      |    CASE WHEN rho IS NOT NULL AND rss > 0 THEN
      |      CAST(floor(rho / sqrt(rss / (CAST(m AS DOUBLE) - 2.0)
      |        * CAST(m AS DOUBLE) / CAST(deni AS DOUBLE))
      |        * 1000000.0 + 0.5) AS BIGINT) END AS adf_t6
      |  FROM c4
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value, m AS n_trans, rho6, adf_t6,
      |  CAST(CASE WHEN adf_t6 < -2860000 THEN 1 ELSE 0 END AS INT)
      |    AS stationary_flag
      |FROM c5
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st26: the batch TWAP the streaming day-close emission must equal
    * — q96's weight chain on epoch-day windows + st23's watermark
    * eligibility rule.
    */
  val st26: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS tsu,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), w AS (
      |  SELECT *, (epoch_us(tsu) // 86400000000) * 86400000000 AS wus
      |  FROM b
      |), r AS (
      |  SELECT *, lead(epoch_us(tsu)) OVER (PARTITION BY user_id,
      |    event_type, wus ORDER BY tsu, event_id) AS next_us
      |  FROM w
      |), wts AS (
      |  SELECT *, COALESCE(next_us, wus + 86400000000) - epoch_us(tsu)
      |    AS w_us
      |  FROM r
      |), ag AS (
      |  SELECT user_id, event_type, wus, count(*) AS n_prints,
      |    min(epoch_us(tsu)) AS first_us,
      |    sum(CAST(v4l AS HUGEINT) * w_us) AS swv
      |  FROM wts GROUP BY 1, 2, 3
      |), fireable AS (
      |  SELECT * FROM ag
      |  WHERE (wus + 86400000000) // 1000 <
      |    (SELECT epoch_us(max(tsu)) // 1000 - 3600000 FROM b)
      |)
      |SELECT make_timestamp(wus) AS win_start, user_id, event_type,
      |  n_prints,
      |  CAST(swv // (wus + 86400000000 - first_us) AS BIGINT) AS twap4,
      |  CAST(swv // (wus + 86400000000 - first_us) AS BIGINT) / 10000.0
      |    AS twap
      |FROM fireable
      |ORDER BY win_start, user_id, event_type""".stripMargin

  /** st24: the batch temporal join the streaming SCD2 enrichment must
    * equal — q76's version chain composed verbatim, then events
    * joined on key + half-open validity interval.
    */
  val st24: String =
    """WITH b AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
      |    o_orderpriority,
      |    lag(o_orderstatus) OVER w AS p_status,
      |    lag(o_orderpriority) OVER w AS p_prio
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey)
      |), ch AS (
      |  SELECT * FROM b
      |  WHERE p_status IS NULL OR p_status <> o_orderstatus
      |     OR p_prio <> o_orderpriority
      |), v AS (
      |  SELECT *, CAST(row_number() OVER w2 AS INT) AS version,
      |    lead(o_orderdate) OVER w2 AS valid_to
      |  FROM ch
      |  WINDOW w2 AS (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey)
      |), e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events
      |)
      |SELECT e.event_id, e.user_id, e.ts, e.event_type, v.version,
      |  v.o_orderstatus AS status, v.o_orderpriority AS priority
      |FROM e JOIN v ON e.user_id = v.o_custkey
      |  AND e.day >= v.o_orderdate
      |  AND (v.valid_to IS NULL OR e.day < v.valid_to)
      |ORDER BY e.event_id, v.version""".stripMargin

  /** q98: the three truncated EMA kernels unrolled with the SAME
    * double-literal weights as the Spark plan (q49's pattern);
    * macd6/hist6 exact longs, cross flag an exact sign test.
    */
  val q98: String = {
    def kernel(src: String, ws: Seq[Double]): (String, String) = {
      val terms = ws.zipWithIndex.map { case (w, j) =>
        (s"CASE WHEN lag($src, $j) OVER wa IS NOT NULL THEN $w * lag($src, $j) OVER wa ELSE 0.0 END",
          s"CASE WHEN lag($src, $j) OVER wa IS NOT NULL THEN $w ELSE 0.0 END")
      }
      (terms.map(_._1).mkString("(", " + ", ")"),
        terms.map(_._2).mkString("(", " + ", ")"))
    }
    val (fn, fd) = kernel("value", SignalOps.FastW)
    val (sn, sd) = kernel("value", SignalOps.SlowW)
    val (gn, gd) = kernel("macd6", SignalOps.SigW)
    s"""WITH base AS (
       |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
       |    floor(value * 10000.0 + 0.5) / 10000.0 AS value
       |  FROM events
       |), e AS (
       |  SELECT *,
       |    CAST(floor($fn / $fd * 1000000.0 + 0.5) AS BIGINT) AS fast6,
       |    CAST(floor($sn / $sd * 1000000.0 + 0.5) AS BIGINT) AS slow6
       |  FROM base
       |  WINDOW wa AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
       |), m AS (
       |  SELECT *, fast6 - slow6 AS macd6 FROM e
       |), sg AS (
       |  SELECT *,
       |    CAST(floor($gn / $gd + 0.5) AS BIGINT) AS signal6
       |  FROM m
       |  WINDOW wa AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
       |), h AS (
       |  SELECT *, macd6 - signal6 AS hist6,
       |    lag(macd6 - signal6) OVER (PARTITION BY user_id, event_type
       |      ORDER BY ts, event_id) AS prev_hist6
       |  FROM sg
       |)
       |SELECT user_id, event_type, event_id, ts AS date_recorded, value,
       |  macd6, signal6, hist6,
       |  CAST(CASE WHEN hist6 > 0 AND prev_hist6 <= 0 THEN 1
       |       WHEN hist6 < 0 AND prev_hist6 >= 0 THEN -1
       |       ELSE 0 END AS INT) AS cross_flag
       |FROM h
       |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin
  }

  /** q99: rolling exact moments over ROWS frames, one floored IEEE
    * expression per published stat, exact-integer band test.
    */
  val q99: String =
    """WITH base AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), m AS (
      |  SELECT *,
      |    count(*) OVER wr AS n,
      |    sum(v4l) OVER wr AS s1,
      |    sum(CAST(v4l AS HUGEINT) * v4l) OVER wr AS s2
      |  FROM base
      |  WINDOW wr AS (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
      |), st AS (
      |  SELECT *,
      |    CAST(floor(CAST(s1 AS DOUBLE) / n * 100.0 + 0.5) AS BIGINT)
      |      AS mid6,
      |    CASE WHEN n >= 4 THEN
      |      CAST(floor(sqrt(CAST(greatest(n * s2 -
      |        CAST(s1 AS HUGEINT) * s1, 0) AS DOUBLE) /
      |        (n * (n - 1))) * 100.0 + 0.5) AS BIGINT)
      |    END AS sd6
      |  FROM m
      |), bands AS (
      |  SELECT *, mid6 + 2 * sd6 AS upper6, mid6 - 2 * sd6 AS lower6,
      |    v4l * 100 AS v6
      |  FROM st
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value, mid6, sd6, upper6, lower6,
      |  CASE WHEN sd6 > 0 THEN
      |    CAST(floor(CAST(v6 - lower6 AS DOUBLE) / (upper6 - lower6)
      |      * 1000000.0 + 0.5) AS BIGINT)
      |  END AS pctb6,
      |  CASE WHEN sd6 IS NOT NULL AND mid6 != 0 THEN
      |    CAST(floor(CAST(upper6 - lower6 AS DOUBLE) / abs(mid6)
      |      * 1000000.0 + 0.5) AS BIGINT)
      |  END AS bandwidth6,
      |  CAST(CASE WHEN sd6 IS NOT NULL AND v6 > upper6 THEN 1
      |       WHEN sd6 IS NOT NULL AND v6 < lower6 THEN -1
      |       ELSE 0 END AS INT) AS band_flag
      |FROM bands
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** q100: q94's pair join, rolling exact moments over ROWS frames
    * per pair, the identical guarded IEEE correlation chain.
    */
  val q100: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), cl AS (
      |  SELECT user_id, event_type, day, v4l AS y FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type, day
      |      ORDER BY ts DESC, event_id DESC) AS rd
      |    FROM b
      |  ) WHERE rd = 1
      |), pr AS (
      |  SELECT a.event_type, a.user_id AS user_a, b2.user_id AS user_b,
      |    a.day, a.y AS ya, b2.y AS yb
      |  FROM cl a JOIN cl b2 ON a.event_type = b2.event_type
      |    AND a.day = b2.day AND a.user_id < b2.user_id
      |), m AS (
      |  SELECT *,
      |    count(*) OVER wp AS n_win,
      |    sum(ya) OVER wp AS sx, sum(yb) OVER wp AS sy,
      |    sum(CAST(ya AS HUGEINT) * ya) OVER wp AS sxx,
      |    sum(CAST(yb AS HUGEINT) * yb) OVER wp AS syy,
      |    sum(CAST(ya AS HUGEINT) * yb) OVER wp AS sxy
      |  FROM pr
      |  WINDOW wp AS (PARTITION BY event_type, user_a, user_b
      |    ORDER BY day ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
      |), f AS (
      |  SELECT *,
      |    n_win * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |    n_win * sxx - CAST(sx AS HUGEINT) * sx AS dx,
      |    n_win * syy - CAST(sy AS HUGEINT) * sy AS dy
      |  FROM m
      |), v AS (
      |  SELECT *,
      |    CASE WHEN n_win >= 4 AND dx > 0 AND dy > 0 THEN
      |      CAST(floor(CAST(num AS DOUBLE) /
      |        sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
      |        * 1000000.0 + 0.5) AS BIGINT)
      |    END AS corr6
      |  FROM f
      |)
      |SELECT event_type, user_a, user_b, day, n_win, corr6,
      |  CAST(CASE WHEN abs(corr6) >= 800000 THEN 1 ELSE 0 END AS INT)
      |    AS comove_flag
      |FROM v
      |ORDER BY event_type, user_a, user_b, day""".stripMargin

  /** st27: st08's per-segment prefix-z + closed-form CUSUM chains
    * composed with q53's list-frame selection medians on the CAUSAL
    * trailing 7-frame — three detectors, one replayed state pass.
    */
  val st27: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), st AS (
      |  SELECT *,
      |    count(*) OVER wk AS n,
      |    sum(v4l) OVER wk AS s1,
      |    sum(CAST(v4l AS HUGEINT) * v4l) OVER wk AS s2
      |  FROM seg
      |  WINDOW wk AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), ham0 AS (
      |  SELECT *,
      |    list_sort(list(v4l) OVER wh) AS sa,
      |    list(v4l) OVER wh AS harr
      |  FROM st
      |  WINDOW wh AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |), ham1 AS (
      |  SELECT *,
      |    (sa[(len(sa) + 1) // 2] + sa[len(sa) // 2 + 1]) / 2.0 AS med
      |  FROM ham0
      |), ham2 AS (
      |  SELECT *,
      |    list_sort(list_transform(harr,
      |      x -> abs(CAST(x AS DOUBLE) - med))) AS sdl,
      |    abs(CAST(v4l AS DOUBLE) - med) AS dev
      |  FROM ham1
      |), ham3 AS (
      |  SELECT *,
      |    (sdl[(len(sdl) + 1) // 2] + sdl[len(sdl) // 2 + 1]) / 2.0 AS mad
      |  FROM ham2
      |), z AS (
      |  SELECT *, v4l / 10000.0 AS value,
      |    CASE WHEN n > 1 AND (n * s2 - CAST(s1 AS HUGEINT) * s1) > 0
      |      THEN CAST(floor(
      |        CAST(n * v4l - s1 AS DOUBLE) /
      |        sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) * n / (n - 1))
      |        * 1000000.0 + 0.5) AS BIGINT)
      |      ELSE 0 END AS zf
      |  FROM ham3
      |), r AS (
      |  SELECT *,
      |    sum(zf - 500000) OVER w AS r_pos,
      |    sum(-zf - 500000) OVER w AS r_neg
      |  FROM z
      |  WINDOW w AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), sfin AS (
      |  SELECT *,
      |    r_pos - least(0, min(r_pos) OVER w) AS s_pos,
      |    r_neg - least(0, min(r_neg) OVER w) AS s_neg
      |  FROM r
      |  WINDOW w AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), fl AS (
      |  SELECT *,
      |    CASE WHEN abs(zf) >= 3000000 THEN 1 ELSE 0 END AS z_flag,
      |    CASE WHEN s_pos > 5000000 OR s_neg > 5000000 THEN 1 ELSE 0 END
      |      AS cusum_flag,
      |    CASE WHEN mad = 0.0 THEN CAST(dev > 0.0 AS INT)
      |         ELSE CAST(dev > 3.0 * 1.4826 * mad AS INT) END
      |      AS hampel_flag
      |  FROM sfin
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded, value,
      |  zf / 1000000.0 AS zscore6,
      |  CAST(z_flag AS INT) AS z_flag,
      |  CAST(cusum_flag AS INT) AS cusum_flag,
      |  CAST(hampel_flag AS INT) AS hampel_flag,
      |  CAST(z_flag + cusum_flag + hampel_flag AS INT) AS votes,
      |  CAST(CASE WHEN z_flag + cusum_flag + hampel_flag >= 2
      |    THEN 1 ELSE 0 END AS INT) AS ensemble_flag
      |FROM fl
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** q101: the RiskMetrics kernel unrolled with the SAME double
    * literals, σ̂/innovation the identical quantized IEEE chains.
    */
  val q101: String = {
    val terms = SignalOps.VolW.zipWithIndex.map { case (w, j) =>
      (s"CASE WHEN lag(x, $j) OVER wa IS NOT NULL THEN $w * lag(x, $j) OVER wa ELSE 0.0 END",
        s"CASE WHEN lag(x, $j) OVER wa IS NOT NULL THEN $w ELSE 0.0 END")
    }
    val num = terms.map(_._1).mkString("(", " + ", ")")
    val den = terms.map(_._2).mkString("(", " + ", ")")
    s"""WITH b AS (
       |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
       |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
       |  FROM events
       |), dd AS (
       |  SELECT *, v4l - lag(v4l) OVER (PARTITION BY user_id, event_type
       |    ORDER BY ts, event_id) AS d
       |  FROM b
       |), xx AS (
       |  SELECT *, (d * d) // 10000 AS x FROM dd
       |), vv AS (
       |  SELECT *,
       |    CASE WHEN x IS NOT NULL THEN
       |      CAST(floor(sqrt($num / $den) * 100.0 + 0.5) AS BIGINT)
       |    END AS vol6
       |  FROM xx
       |  WINDOW wa AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
       |), pv AS (
       |  SELECT *, lag(vol6) OVER (PARTITION BY user_id, event_type
       |    ORDER BY ts, event_id) AS vol6_prev
       |  FROM vv
       |), zz AS (
       |  SELECT *,
       |    CASE WHEN d IS NOT NULL AND vol6_prev > 0 THEN
       |      CAST(floor(CAST(d * 100 AS DOUBLE) / vol6_prev
       |        * 1000000.0 + 0.5) AS BIGINT)
       |    END AS z6
       |  FROM pv
       |)
       |SELECT user_id, event_type, event_id, ts AS date_recorded,
       |  v4l / 10000.0 AS value, d / 10000.0 AS diff, vol6, z6,
       |  CAST(CASE WHEN abs(z6) >= 3000000 THEN 1 ELSE 0 END AS INT)
       |    AS vol_spike_flag
       |FROM zz
       |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin
  }

  /** q102: q78's oracle chain over x = d² // 10⁴ — exact HUGEINT
    * residual cross-sums, one IEEE term chain, exact Q9.
    */
  val q102: String =
    """WITH base AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), df AS (
      |  SELECT *, v4l - lag(v4l) OVER w AS d
      |  FROM base
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), dd AS (
      |  SELECT *, (d * d) // 10000 AS x FROM df WHERE d IS NOT NULL
      |), ce AS (
      |  SELECT *,
      |    CAST(count(*) OVER wk AS HUGEINT) * x
      |      - CAST(sum(x) OVER wk AS HUGEINT) AS e
      |  FROM dd
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), lg AS (
      |  SELECT *, lag(e, 1) OVER w AS e1, lag(e, 2) OVER w AS e2,
      |    lag(e, 3) OVER w AS e3, lag(e, 4) OVER w AS e4,
      |    lag(e, 5) OVER w AS e5
      |  FROM ce
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), mom AS (
      |  SELECT user_id, event_type, count(*) AS n,
      |    sum(e * e) AS c,
      |    sum(e * e1) AS a1,
      |    sum(e * e2) AS a2,
      |    sum(e * e3) AS a3,
      |    sum(e * e4) AS a4,
      |    sum(e * e5) AS a5
      |  FROM lg GROUP BY 1, 2 HAVING count(*) >= 8
      |), r AS (
      |  SELECT *,
      |    CASE WHEN c > 0 THEN CAST(a1 AS DOUBLE) / CAST(c AS DOUBLE) END
      |      AS r1,
      |    CASE WHEN c > 0 THEN CAST(a2 AS DOUBLE) / CAST(c AS DOUBLE) END
      |      AS r2,
      |    CASE WHEN c > 0 THEN CAST(a3 AS DOUBLE) / CAST(c AS DOUBLE) END
      |      AS r3,
      |    CASE WHEN c > 0 THEN CAST(a4 AS DOUBLE) / CAST(c AS DOUBLE) END
      |      AS r4,
      |    CASE WHEN c > 0 THEN CAST(a5 AS DOUBLE) / CAST(c AS DOUBLE) END
      |      AS r5
      |  FROM mom
      |), t AS (
      |  SELECT *,
      |    CAST(floor(r1 * r1 / (n - 1) * 1000000000.0 + 0.5) AS BIGINT) AS t1,
      |    CAST(floor(r2 * r2 / (n - 2) * 1000000000.0 + 0.5) AS BIGINT) AS t2,
      |    CAST(floor(r3 * r3 / (n - 3) * 1000000000.0 + 0.5) AS BIGINT) AS t3,
      |    CAST(floor(r4 * r4 / (n - 4) * 1000000000.0 + 0.5) AS BIGINT) AS t4,
      |    CAST(floor(r5 * r5 / (n - 5) * 1000000000.0 + 0.5) AS BIGINT) AS t5
      |  FROM r
      |), q AS (
      |  SELECT *, n * (n + 2) * (t1 + t2 + t3 + t4 + t5) AS arch_q9
      |  FROM t
      |)
      |SELECT user_id, event_type, n AS n_diffs,
      |  CASE WHEN c > 0 THEN
      |    CAST(floor(r1 * 1000000.0 + 0.5) AS BIGINT)
      |  END AS acf2_1_6,
      |  arch_q9,
      |  CAST(CASE WHEN arch_q9 > 11070500000 THEN 1 ELSE 0 END AS INT)
      |    AS arch_flag
      |FROM q
      |ORDER BY user_id, event_type""".stripMargin

  /** st28: the three dyadic EMA recursions replayed per segment —
    * st22's recursive-CTE machinery carrying (lf, ls, g, prev_hist).
    */
  val st28: String =
    """WITH RECURSIVE b AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), sq AS MATERIALIZED (
      |  SELECT user_id, event_type, seg_id, event_id, ts, v4l,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id) AS seq
      |  FROM seg
      |), rec AS (
      |  SELECT user_id, event_type, seg_id, seq, event_id, ts, v4l,
      |    v4l AS lf, v4l AS ls, CAST(0 AS BIGINT) AS g,
      |    CAST(0 AS BIGINT) AS macd4, CAST(0 AS BIGINT) AS hist4,
      |    CAST(0 AS INT) AS cross_flag
      |  FROM sq WHERE seq = 1
      |  UNION ALL
      |  SELECT n2.user_id, n2.event_type, n2.seg_id, n2.seq, n2.event_id,
      |    n2.ts, n2.v4l,
      |    CAST(floor((n2.v4l + r.lf) / 2.0) AS BIGINT),
      |    CAST(floor((n2.v4l + 7.0 * r.ls) / 8.0) AS BIGINT),
      |    CAST(floor((CAST(floor((n2.v4l + r.lf) / 2.0) AS BIGINT)
      |      - CAST(floor((n2.v4l + 7.0 * r.ls) / 8.0) AS BIGINT)
      |      + 3.0 * r.g) / 4.0) AS BIGINT),
      |    CAST(floor((n2.v4l + r.lf) / 2.0) AS BIGINT)
      |      - CAST(floor((n2.v4l + 7.0 * r.ls) / 8.0) AS BIGINT),
      |    CAST(floor((n2.v4l + r.lf) / 2.0) AS BIGINT)
      |      - CAST(floor((n2.v4l + 7.0 * r.ls) / 8.0) AS BIGINT)
      |      - CAST(floor((CAST(floor((n2.v4l + r.lf) / 2.0) AS BIGINT)
      |        - CAST(floor((n2.v4l + 7.0 * r.ls) / 8.0) AS BIGINT)
      |        + 3.0 * r.g) / 4.0) AS BIGINT),
      |    CAST(CASE
      |      WHEN (CAST(floor((n2.v4l + r.lf) / 2.0) AS BIGINT)
      |        - CAST(floor((n2.v4l + 7.0 * r.ls) / 8.0) AS BIGINT)
      |        - CAST(floor((CAST(floor((n2.v4l + r.lf) / 2.0) AS BIGINT)
      |          - CAST(floor((n2.v4l + 7.0 * r.ls) / 8.0) AS BIGINT)
      |          + 3.0 * r.g) / 4.0) AS BIGINT)) > 0 AND r.hist4 <= 0
      |        THEN 1
      |      WHEN (CAST(floor((n2.v4l + r.lf) / 2.0) AS BIGINT)
      |        - CAST(floor((n2.v4l + 7.0 * r.ls) / 8.0) AS BIGINT)
      |        - CAST(floor((CAST(floor((n2.v4l + r.lf) / 2.0) AS BIGINT)
      |          - CAST(floor((n2.v4l + 7.0 * r.ls) / 8.0) AS BIGINT)
      |          + 3.0 * r.g) / 4.0) AS BIGINT)) < 0 AND r.hist4 >= 0
      |        THEN -1
      |      ELSE 0 END AS INT)
      |  FROM rec r JOIN sq n2
      |    ON n2.user_id = r.user_id AND n2.event_type = r.event_type
      |   AND n2.seg_id = r.seg_id AND n2.seq = r.seq + 1
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value, macd4,
      |  CASE WHEN seq = 1 THEN CAST(0 AS BIGINT) ELSE g END AS signal4,
      |  hist4, cross_flag
      |FROM rec
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** q106: exact µs gap moments, integer mean, one floored sqrt,
    * guarded CV/B divisions over the quantized integers.
    */
  val q106: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events
      |), g AS (
      |  SELECT *, epoch_us(ts) - lag(epoch_us(ts)) OVER
      |    (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS g
      |  FROM b
      |), gg AS (
      |  SELECT * FROM g WHERE g IS NOT NULL
      |), mom AS (
      |  SELECT user_id, event_type, count(*) AS n, sum(g) AS s1,
      |    sum(CAST(g AS HUGEINT) * g) AS s2
      |  FROM gg GROUP BY 1, 2
      |), st AS (
      |  SELECT *, CAST(s1 // n AS BIGINT) AS mean_gap_us,
      |    CASE WHEN n >= 4 THEN
      |      CAST(floor(sqrt(CAST(greatest(n * s2 -
      |        CAST(s1 AS HUGEINT) * s1, 0) AS DOUBLE) /
      |        (n * (n - 1))) + 0.5) AS BIGINT)
      |    END AS sd_gap_us
      |  FROM mom
      |)
      |SELECT user_id, event_type, n AS n_gaps, mean_gap_us, sd_gap_us,
      |  CASE WHEN mean_gap_us > 0 THEN
      |    CAST(floor(CAST(sd_gap_us AS DOUBLE) / mean_gap_us
      |      * 1000000.0 + 0.5) AS BIGINT)
      |  END AS cv6,
      |  CASE WHEN sd_gap_us + mean_gap_us > 0 THEN
      |    CAST(floor(CAST(sd_gap_us - mean_gap_us AS DOUBLE) /
      |      (sd_gap_us + mean_gap_us) * 1000000.0 + 0.5) AS BIGINT)
      |  END AS burstiness6,
      |  CAST(CASE WHEN (CASE WHEN sd_gap_us + mean_gap_us > 0 THEN
      |    CAST(floor(CAST(sd_gap_us - mean_gap_us AS DOUBLE) /
      |      (sd_gap_us + mean_gap_us) * 1000000.0 + 0.5) AS BIGINT)
      |    END) > 300000 THEN 1 ELSE 0 END AS INT) AS bursty_flag
      |FROM st
      |ORDER BY user_id, event_type""".stripMargin

  /** q110: rank-selected median/MAD input values, exact long devs,
    * one IEEE chain per print.
    */
  val q110: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY v4l, event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id, event_type) AS n
      |  FROM b
      |), med AS (
      |  SELECT user_id, event_type, v4l AS med4l
      |  FROM r WHERE rn = (n + 1) // 2
      |), wd AS (
      |  SELECT r.*, med.med4l, abs(r.v4l - med.med4l) AS dev,
      |    row_number() OVER (PARTITION BY r.user_id, r.event_type
      |      ORDER BY abs(r.v4l - med.med4l), r.event_id) AS rd
      |  FROM r JOIN med ON r.user_id = med.user_id
      |    AND r.event_type = med.event_type
      |), mad AS (
      |  SELECT user_id, event_type, dev AS mad4l
      |  FROM wd WHERE rd = (n + 1) // 2
      |), z AS (
      |  SELECT wd.*, mad.mad4l,
      |    CASE WHEN mad.mad4l > 0 THEN
      |      CAST(floor(CAST(0.6745 AS DOUBLE) * (wd.v4l - wd.med4l)
      |        / mad.mad4l * 1000000.0 + 0.5) AS BIGINT)
      |    END AS mz6
      |  FROM wd JOIN mad ON wd.user_id = mad.user_id
      |    AND wd.event_type = mad.event_type
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  v4l / 10000.0 AS value,
      |  med4l / 10000.0 AS series_median,
      |  mad4l / 10000.0 AS mad,
      |  mz6,
      |  CAST(CASE WHEN mad4l > 0 AND abs(mz6) >= 3500000 THEN 1
      |       WHEN mad4l = 0 AND dev > 0 THEN 1
      |       ELSE 0 END AS INT) AS mz_flag
      |FROM z
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** q107: one lag over the user order, exact transition counts,
    * integer conditional probability.
    */
  val q107: String =
    """WITH b AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events
      |), tr AS (
      |  SELECT *, lag(event_type) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS from_type
      |  FROM b
      |), cnt AS (
      |  SELECT from_type, event_type AS to_type, count(*) AS n_trans
      |  FROM tr WHERE from_type IS NOT NULL GROUP BY 1, 2
      |), tot AS (
      |  SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS from_total
      |  FROM cnt GROUP BY 1
      |)
      |SELECT c.from_type, c.to_type, c.n_trans, t.from_total,
      |  (c.n_trans * 1000000) // t.from_total AS p6,
      |  CAST(CASE WHEN c.from_type = c.to_type THEN 1 ELSE 0 END AS INT)
      |    AS self_loop
      |FROM cnt c JOIN tot t ON c.from_type = t.from_type
      |ORDER BY c.from_type, c.to_type""".stripMargin

  /** q108: q94's pair join once, one pair-key window producing all
    * seven common-day shifts, exact moments per (pair, lag) cell.
    */
  val q108: String = {
    val shiftCols = (-3 to 3).map { l =>
      val e = if (l >= 0) s"lead(yb, $l) OVER wp" else s"lag(yb, ${-l}) OVER wp"
      s"$e AS yb_${l + 3}"
    }.mkString(",\n      |    ")
    val unions = (-3 to 3).map { l =>
      s"SELECT event_type, user_a, user_b, $l AS lag, ya, yb_${l + 3} AS yb FROM sh"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), cl AS (
      |  SELECT user_id, event_type, day, v4l AS y FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type, day
      |      ORDER BY ts DESC, event_id DESC) AS rd
      |    FROM b
      |  ) WHERE rd = 1
      |), pr0 AS (
      |  SELECT a.event_type, a.user_id AS user_a, b2.user_id AS user_b,
      |    a.day, a.y AS ya, b2.y AS yb
      |  FROM cl a JOIN cl b2 ON a.event_type = b2.event_type
      |    AND a.day = b2.day AND a.user_id < b2.user_id
      |), sh AS (
      |  SELECT *,
      |    $shiftCols
      |  FROM pr0
      |  WINDOW wp AS (PARTITION BY event_type, user_a, user_b ORDER BY day)
      |), un AS (
      |  $unions
      |), mom AS (
      |  SELECT event_type, user_a, user_b, lag, count(*) AS n_days,
      |    sum(ya) AS sx, sum(yb) AS sy,
      |    sum(CAST(ya AS HUGEINT) * ya) AS sxx,
      |    sum(CAST(yb AS HUGEINT) * yb) AS syy,
      |    sum(CAST(ya AS HUGEINT) * yb) AS sxy
      |  FROM un WHERE yb IS NOT NULL
      |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 5
      |), f AS (
      |  SELECT *,
      |    n_days * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |    n_days * sxx - CAST(sx AS HUGEINT) * sx AS dx,
      |    n_days * syy - CAST(sy AS HUGEINT) * sy AS dy
      |  FROM mom
      |), v AS (
      |  SELECT *,
      |    CASE WHEN dx > 0 AND dy > 0 THEN
      |      CAST(floor(CAST(num AS DOUBLE) /
      |        sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
      |        * 1000000.0 + 0.5) AS BIGINT)
      |    END AS ccf6
      |  FROM f
      |)
      |SELECT event_type, user_a, user_b, CAST(lag AS INT) AS lag,
      |  n_days, ccf6,
      |  CAST(CASE WHEN lag != 0 AND abs(ccf6) >= 800000 THEN 1 ELSE 0 END
      |    AS INT) AS lead_flag
      |FROM v
      |ORDER BY event_type, user_a, user_b, lag""".stripMargin
  }

  /** q111: q108's close collapse + pair join, one common-day lag,
    * exact HUGEINT moments, the same closed-form 2×2 solve and
    * F chain op-for-op.
    */
  val q111: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), cl AS (
      |  SELECT user_id, event_type, day, v4l AS y FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type, day
      |      ORDER BY ts DESC, event_id DESC) AS rd
      |    FROM b
      |  ) WHERE rd = 1
      |), pr0 AS (
      |  SELECT a.event_type, a.user_id AS user_a, b2.user_id AS user_b,
      |    a.day, a.y AS ya, b2.y AS yb
      |  FROM cl a JOIN cl b2 ON a.event_type = b2.event_type
      |    AND a.day = b2.day AND a.user_id < b2.user_id
      |), lg AS (
      |  SELECT *, lag(ya) OVER wp AS ya1, lag(yb) OVER wp AS yb1
      |  FROM pr0
      |  WINDOW wp AS (PARTITION BY event_type, user_a, user_b ORDER BY day)
      |), mom AS (
      |  SELECT event_type, user_a, user_b, count(*) AS n,
      |    sum(ya) AS sya, sum(yb) AS syb,
      |    sum(ya1) AS sya1, sum(yb1) AS syb1,
      |    sum(CAST(ya AS HUGEINT) * ya) AS saa,
      |    sum(CAST(yb AS HUGEINT) * yb) AS sbb,
      |    sum(CAST(ya1 AS HUGEINT) * ya1) AS sa1a1,
      |    sum(CAST(yb1 AS HUGEINT) * yb1) AS sb1b1,
      |    sum(CAST(ya1 AS HUGEINT) * yb1) AS sa1b1,
      |    sum(CAST(yb AS HUGEINT) * yb1) AS sbb1,
      |    sum(CAST(yb AS HUGEINT) * ya1) AS sba1,
      |    sum(CAST(ya AS HUGEINT) * ya1) AS saa1,
      |    sum(CAST(ya AS HUGEINT) * yb1) AS sab1
      |  FROM lg WHERE ya1 IS NOT NULL
      |  GROUP BY 1, 2, 3 HAVING count(*) >= 8
      |), sm AS (
      |  SELECT *,
      |    CAST(n * sbb - CAST(syb AS HUGEINT) * syb AS DOUBLE) AS vyy_b,
      |    CAST(n * sb1b1 - CAST(syb1 AS HUGEINT) * syb1 AS DOUBLE) AS v11_b,
      |    CAST(n * sa1a1 - CAST(sya1 AS HUGEINT) * sya1 AS DOUBLE) AS v22_a,
      |    CAST(n * sa1b1 - CAST(syb1 AS HUGEINT) * sya1 AS DOUBLE) AS v12,
      |    CAST(n * sbb1 - CAST(syb AS HUGEINT) * syb1 AS DOUBLE) AS v1y_b,
      |    CAST(n * sba1 - CAST(syb AS HUGEINT) * sya1 AS DOUBLE) AS v2y_b,
      |    CAST(n * saa - CAST(sya AS HUGEINT) * sya AS DOUBLE) AS vyy_a,
      |    CAST(n * saa1 - CAST(sya AS HUGEINT) * sya1 AS DOUBLE) AS v1y_a,
      |    CAST(n * sab1 - CAST(sya AS HUGEINT) * syb1 AS DOUBLE) AS v2y_a
      |  FROM mom
      |), f1 AS (
      |  SELECT *,
      |    vyy_b - v1y_b * v1y_b / v11_b AS rr_ab,
      |    vyy_a - v1y_a * v1y_a / v22_a AS rr_ba,
      |    v11_b * v22_a - v12 * v12 AS det,
      |    (v1y_b * v22_a - v2y_b * v12) / (v11_b * v22_a - v12 * v12)
      |      AS bb_ab,
      |    (v2y_b * v11_b - v1y_b * v12) / (v11_b * v22_a - v12 * v12)
      |      AS cc_ab,
      |    (v1y_a * v11_b - v2y_a * v12) / (v22_a * v11_b - v12 * v12)
      |      AS bb_ba,
      |    (v2y_a * v22_a - v1y_a * v12) / (v22_a * v11_b - v12 * v12)
      |      AS cc_ba
      |  FROM sm
      |), f2 AS (
      |  SELECT *,
      |    vyy_b - bb_ab * v1y_b - cc_ab * v2y_b AS ru_ab,
      |    vyy_a - bb_ba * v1y_a - cc_ba * v2y_a AS ru_ba
      |  FROM f1
      |), f3 AS (
      |  SELECT *,
      |    CASE WHEN v11_b > 0 AND det > 0 AND ru_ab > 0 THEN
      |      CAST(floor((rr_ab - ru_ab) * (n - 3) / ru_ab
      |        * 1000000.0 + 0.5) AS BIGINT)
      |    END AS f_ab6,
      |    CASE WHEN v22_a > 0 AND det > 0 AND ru_ba > 0 THEN
      |      CAST(floor((rr_ba - ru_ba) * (n - 3) / ru_ba
      |        * 1000000.0 + 0.5) AS BIGINT)
      |    END AS f_ba6
      |  FROM f2
      |)
      |SELECT event_type, user_a, user_b, n AS n_obs, f_ab6, f_ba6,
      |  CAST(CASE WHEN f_ab6 > 4000000 THEN 1 ELSE 0 END AS INT)
      |    AS causal_ab,
      |  CAST(CASE WHEN f_ba6 > 4000000 THEN 1 ELSE 0 END AS INT)
      |    AS causal_ba
      |FROM f3
      |ORDER BY event_type, user_a, user_b""".stripMargin

  /** q112: q111's close collapse + pair join + lag, the twenty exact
    * HUGEINT moments, then the identical β/α/residual-sum/DF-t IEEE
    * chain term-for-term.
    */
  val q112: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), cl AS (
      |  SELECT user_id, event_type, day, v4l AS y FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type, day
      |      ORDER BY ts DESC, event_id DESC) AS rd
      |    FROM b
      |  ) WHERE rd = 1
      |), pr0 AS (
      |  SELECT a.event_type, a.user_id AS user_a, b2.user_id AS user_b,
      |    a.day, a.y AS ya, b2.y AS yb
      |  FROM cl a JOIN cl b2 ON a.event_type = b2.event_type
      |    AND a.day = b2.day AND a.user_id < b2.user_id
      |), lg AS (
      |  SELECT *, lag(ya) OVER wp AS ya1, lag(yb) OVER wp AS yb1
      |  FROM pr0
      |  WINDOW wp AS (PARTITION BY event_type, user_a, user_b ORDER BY day)
      |), mom AS (
      |  SELECT event_type, user_a, user_b,
      |    count(*) AS nf,
      |    sum(ya) AS ua, sum(yb) AS ub,
      |    sum(CAST(ya AS HUGEINT) * ya) AS uaa,
      |    sum(CAST(ya AS HUGEINT) * yb) AS uab,
      |    count(ya1) AS m,
      |    sum(CASE WHEN ya1 IS NOT NULL THEN ya END) AS sya,
      |    sum(CASE WHEN ya1 IS NOT NULL THEN yb END) AS syb,
      |    sum(ya1) AS sya1, sum(yb1) AS syb1,
      |    sum(CASE WHEN ya1 IS NOT NULL
      |      THEN CAST(ya AS HUGEINT) * ya END) AS saa,
      |    sum(CASE WHEN ya1 IS NOT NULL
      |      THEN CAST(yb AS HUGEINT) * yb END) AS sbb,
      |    sum(CASE WHEN ya1 IS NOT NULL
      |      THEN CAST(ya AS HUGEINT) * yb END) AS sab,
      |    sum(CAST(ya1 AS HUGEINT) * ya1) AS sa1a1,
      |    sum(CAST(yb1 AS HUGEINT) * yb1) AS sb1b1,
      |    sum(CAST(ya1 AS HUGEINT) * yb1) AS sa1b1,
      |    sum(CAST(ya AS HUGEINT) * ya1) AS saa1,
      |    sum(CAST(yb AS HUGEINT) * yb1) AS sbb1,
      |    sum(CAST(ya AS HUGEINT) * yb1) AS sab1,
      |    sum(CAST(yb AS HUGEINT) * ya1) AS sba1
      |  FROM lg
      |  GROUP BY 1, 2, 3 HAVING count(ya1) >= 8
      |), c1 AS (
      |  SELECT *,
      |    CAST(nf * uaa - CAST(ua AS HUGEINT) * ua AS DOUBLE) AS bden,
      |    CAST(nf * uab - CAST(ua AS HUGEINT) * ub AS DOUBLE) AS bnum
      |  FROM mom
      |), c2 AS (
      |  SELECT *, CASE WHEN bden > 0 THEN bnum / bden END AS beta FROM c1
      |), c3 AS (
      |  SELECT *, (CAST(ub AS DOUBLE) - beta * CAST(ua AS DOUBLE))
      |    / CAST(nf AS DOUBLE) AS alpha FROM c2
      |), c4 AS (
      |  SELECT *,
      |    CAST(sb1b1 AS DOUBLE) - 2.0 * alpha * CAST(syb1 AS DOUBLE)
      |      - 2.0 * beta * CAST(sa1b1 AS DOUBLE)
      |      + CAST(m AS DOUBLE) * alpha * alpha
      |      + 2.0 * alpha * beta * CAST(sya1 AS DOUBLE)
      |      + beta * beta * CAST(sa1a1 AS DOUBLE) AS se1sq,
      |    CAST(sbb AS DOUBLE) - 2.0 * alpha * CAST(syb AS DOUBLE)
      |      - 2.0 * beta * CAST(sab AS DOUBLE)
      |      + CAST(m AS DOUBLE) * alpha * alpha
      |      + 2.0 * alpha * beta * CAST(sya AS DOUBLE)
      |      + beta * beta * CAST(saa AS DOUBLE) AS sesq,
      |    CAST(sbb1 AS DOUBLE) - alpha * CAST(syb1 AS DOUBLE)
      |      - beta * CAST(sab1 AS DOUBLE) - alpha * CAST(syb AS DOUBLE)
      |      + CAST(m AS DOUBLE) * alpha * alpha
      |      + alpha * beta * CAST(sya AS DOUBLE)
      |      - beta * CAST(sba1 AS DOUBLE)
      |      + alpha * beta * CAST(sya1 AS DOUBLE)
      |      + beta * beta * CAST(saa1 AS DOUBLE) AS se1e
      |  FROM c3
      |), c5 AS (
      |  SELECT *, se1e - se1sq AS s1d,
      |    sesq - 2.0 * se1e + se1sq AS sdd
      |  FROM c4
      |), c6 AS (
      |  SELECT *, CASE WHEN se1sq > 0
      |    THEN sdd - s1d * s1d / se1sq END AS rss FROM c5
      |), c7 AS (
      |  SELECT *,
      |    CASE WHEN bden > 0 THEN
      |      CAST(floor(beta * 1000000.0 + 0.5) AS BIGINT) END AS beta6,
      |    CASE WHEN bden > 0 AND se1sq > 0 AND rss > 0 THEN
      |      CAST(floor(s1d / sqrt(se1sq *
      |        (rss / (CAST(m AS DOUBLE) - 1.0)))
      |        * 1000000.0 + 0.5) AS BIGINT) END AS df_t6
      |  FROM c6
      |)
      |SELECT event_type, user_a, user_b, nf AS n_days, beta6, df_t6,
      |  CAST(CASE WHEN df_t6 < -3370000 THEN 1 ELSE 0 END AS INT)
      |    AS coint_flag
      |FROM c7
      |ORDER BY event_type, user_a, user_b""".stripMargin

  /** q113: one series lag, five exact HUGEINT transition moments,
    * the identical ρ/α/RSS/t IEEE chain.
    */
  val q113: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), lg AS (
      |  SELECT *, lag(y) OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id) AS y1
      |  FROM b
      |), d AS (
      |  SELECT *, y - y1 AS dy FROM lg WHERE y1 IS NOT NULL
      |), mom AS (
      |  SELECT user_id, event_type, count(*) AS m,
      |    sum(y1) AS s1, sum(dy) AS sd,
      |    sum(CAST(y1 AS HUGEINT) * y1) AS s11,
      |    sum(CAST(y1 AS HUGEINT) * dy) AS s1d,
      |    sum(CAST(dy AS HUGEINT) * dy) AS sdd
      |  FROM d
      |  GROUP BY 1, 2 HAVING count(*) >= 12
      |), c1 AS (
      |  SELECT *,
      |    CAST(m * s11 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) AS den,
      |    CAST(m * s1d - CAST(s1 AS HUGEINT) * sd AS DOUBLE) AS num
      |  FROM mom
      |), c2 AS (
      |  SELECT *, CASE WHEN den > 0 THEN num / den END AS rho FROM c1
      |), c3 AS (
      |  SELECT *, (CAST(sd AS DOUBLE) - rho * CAST(s1 AS DOUBLE))
      |    / CAST(m AS DOUBLE) AS alpha FROM c2
      |), c4 AS (
      |  SELECT *,
      |    CAST(sdd AS DOUBLE) - alpha * CAST(sd AS DOUBLE)
      |      - rho * CAST(s1d AS DOUBLE) AS rss
      |  FROM c3
      |), c5 AS (
      |  SELECT *,
      |    CASE WHEN den > 0 THEN
      |      CAST(floor(rho * 1000000.0 + 0.5) AS BIGINT) END AS rho6,
      |    CASE WHEN den > 0 AND rss > 0 THEN
      |      CAST(floor(rho / sqrt((rss / (CAST(m AS DOUBLE) - 2.0))
      |        * CAST(m AS DOUBLE) / den)
      |        * 1000000.0 + 0.5) AS BIGINT) END AS adf_t6
      |  FROM c4
      |)
      |SELECT user_id, event_type, m AS n_trans, rho6, adf_t6,
      |  CAST(CASE WHEN adf_t6 < -2860000 THEN 1 ELSE 0 END AS INT)
      |    AS stationary_flag
      |FROM c5
      |ORDER BY user_id, event_type""".stripMargin

  /** q114: one series exchange — full-key totals, prefix sums, the
    * exact n·S_t integers, the identical η IEEE chain.
    */
  val q114: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), w AS (
      |  SELECT *, count(*) OVER wk AS n, sum(y) OVER wk AS t_tot,
      |    sum(y) OVER wr AS p,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS t_idx
      |  FROM b
      |  WINDOW wk AS (PARTITION BY user_id, event_type),
      |    wr AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), ee AS (
      |  SELECT *,
      |    CAST(n AS HUGEINT) * p - CAST(t_idx AS HUGEINT) * t_tot AS ei
      |  FROM w
      |), mom AS (
      |  SELECT user_id, event_type, max(n) AS n, max(t_tot) AS t_tot,
      |    sum(CAST(y AS HUGEINT) * y) AS q,
      |    sum(ei * ei) AS a
      |  FROM ee GROUP BY 1, 2 HAVING max(n) >= 12
      |), c1 AS (
      |  SELECT *,
      |    CAST(n * q - CAST(t_tot AS HUGEINT) * t_tot AS DOUBLE) AS dvar
      |  FROM mom
      |), c2 AS (
      |  SELECT *,
      |    CASE WHEN dvar > 0 THEN
      |      CAST(floor(CAST(a AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * dvar)
      |        * 1000000.0 + 0.5) AS BIGINT) END AS kpss6
      |  FROM c1
      |)
      |SELECT user_id, event_type, n AS n_obs, kpss6,
      |  CAST(CASE WHEN kpss6 > 463000 THEN 1 ELSE 0 END AS INT)
      |    AS nonstat_flag
      |FROM c2
      |ORDER BY user_id, event_type""".stripMargin

  /** q115: one series exchange, thirteen exact conditional moments,
    * the identical centered-RSS closed forms and F chain.
    */
  val q115: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), w AS (
      |  SELECT *, count(*) OVER wk AS n,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS t
      |  FROM b
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), h AS (
      |  SELECT *, t <= n // 2 AS h1 FROM w
      |), mom AS (
      |  SELECT user_id, event_type,
      |    count(*) AS mp, sum(t) AS stp, sum(y) AS syp,
      |    sum(CAST(t AS HUGEINT) * t) AS sttp,
      |    sum(CAST(t AS HUGEINT) * y) AS styp,
      |    sum(CAST(y AS HUGEINT) * y) AS syyp,
      |    count(CASE WHEN h1 THEN 1 END) AS m1,
      |    sum(CASE WHEN h1 THEN t END) AS st1,
      |    sum(CASE WHEN h1 THEN y END) AS sy1,
      |    sum(CASE WHEN h1 THEN CAST(t AS HUGEINT) * t END) AS stt1,
      |    sum(CASE WHEN h1 THEN CAST(t AS HUGEINT) * y END) AS sty1,
      |    sum(CASE WHEN h1 THEN CAST(y AS HUGEINT) * y END) AS syy1,
      |    count(CASE WHEN NOT h1 THEN 1 END) AS m2,
      |    sum(CASE WHEN NOT h1 THEN t END) AS st2,
      |    sum(CASE WHEN NOT h1 THEN y END) AS sy2,
      |    sum(CASE WHEN NOT h1 THEN CAST(t AS HUGEINT) * t END) AS stt2,
      |    sum(CASE WHEN NOT h1 THEN CAST(t AS HUGEINT) * y END) AS sty2,
      |    sum(CASE WHEN NOT h1 THEN CAST(y AS HUGEINT) * y END) AS syy2
      |  FROM h GROUP BY 1, 2 HAVING count(*) >= 16
      |), c1 AS (
      |  SELECT *,
      |    (CAST(mp * syyp - CAST(syp AS HUGEINT) * syp AS DOUBLE)
      |      - CAST(mp * styp - CAST(stp AS HUGEINT) * syp AS DOUBLE)
      |        * CAST(mp * styp - CAST(stp AS HUGEINT) * syp AS DOUBLE)
      |        / CAST(mp * sttp - CAST(stp AS HUGEINT) * stp AS DOUBLE))
      |      / CAST(mp AS DOUBLE) AS rssp,
      |    (CAST(m1 * syy1 - CAST(sy1 AS HUGEINT) * sy1 AS DOUBLE)
      |      - CAST(m1 * sty1 - CAST(st1 AS HUGEINT) * sy1 AS DOUBLE)
      |        * CAST(m1 * sty1 - CAST(st1 AS HUGEINT) * sy1 AS DOUBLE)
      |        / CAST(m1 * stt1 - CAST(st1 AS HUGEINT) * st1 AS DOUBLE))
      |      / CAST(m1 AS DOUBLE) AS rss1,
      |    (CAST(m2 * syy2 - CAST(sy2 AS HUGEINT) * sy2 AS DOUBLE)
      |      - CAST(m2 * sty2 - CAST(st2 AS HUGEINT) * sy2 AS DOUBLE)
      |        * CAST(m2 * sty2 - CAST(st2 AS HUGEINT) * sy2 AS DOUBLE)
      |        / CAST(m2 * stt2 - CAST(st2 AS HUGEINT) * st2 AS DOUBLE))
      |      / CAST(m2 AS DOUBLE) AS rss2
      |  FROM mom
      |), c2 AS (
      |  SELECT *, rss1 + rss2 AS rsss FROM c1
      |), c3 AS (
      |  SELECT *,
      |    CASE WHEN rsss > 0 THEN
      |      CAST(floor((rssp - rss1 - rss2) / 2.0
      |        / (rsss / (CAST(mp AS DOUBLE) - 4.0))
      |        * 1000000.0 + 0.5) AS BIGINT) END AS f_chow6
      |  FROM c2
      |)
      |SELECT user_id, event_type, mp AS n_obs, f_chow6,
      |  CAST(CASE WHEN f_chow6 > 3000000 THEN 1 ELSE 0 END AS INT)
      |    AS break_flag
      |FROM c3
      |ORDER BY user_id, event_type""".stripMargin

  /** p13: the four component oracles as subqueries left-joined on the
    * ticker-catalog spine, the identical regime CASE. Lazy: q105's
    * val is declared later in this object.
    */
  lazy val p13: String =
    s"""WITH spine AS (
       |  SELECT DISTINCT user_id, event_type FROM events
       |)
       |SELECT spine.user_id, spine.event_type,
       |  ar.phi6, ar.half_life6,
       |  adf.rho6, adf.adf_t6, adf.stationary_flag,
       |  kp.kpss6, kp.nonstat_flag,
       |  ch.f_chow6, ch.break_flag,
       |  CASE
       |    WHEN adf.stationary_flag = 1 AND kp.nonstat_flag = 0
       |      THEN 'mean_reverting'
       |    WHEN adf.stationary_flag = 0 AND kp.nonstat_flag = 1
       |      THEN 'drifting'
       |    WHEN adf.stationary_flag = 1 AND kp.nonstat_flag = 1
       |      THEN 'conflict'
       |    WHEN adf.stationary_flag = 0 AND kp.nonstat_flag = 0
       |      THEN 'inconclusive'
       |    ELSE 'insufficient' END AS regime
       |FROM spine
       |LEFT JOIN ($q105) ar
       |  ON ar.user_id = spine.user_id AND ar.event_type = spine.event_type
       |LEFT JOIN ($q113) adf
       |  ON adf.user_id = spine.user_id AND adf.event_type = spine.event_type
       |LEFT JOIN ($q114) kp
       |  ON kp.user_id = spine.user_id AND kp.event_type = spine.event_type
       |LEFT JOIN ($q115) ch
       |  ON ch.user_id = spine.user_id AND ch.event_type = spine.event_type
       |ORDER BY spine.user_id, spine.event_type""".stripMargin

  /** q109: row_number selection quantiles at integer ranks, exact
    * midrank percentile, integer envelope test.
    */
  val q109: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY v4l, event_id) AS rk,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts DESC, event_id DESC) AS lrk,
      |    count(*) OVER (PARTITION BY user_id, event_type) AS n
      |  FROM b
      |), stats AS (
      |  SELECT user_id, event_type, n,
      |    max(CASE WHEN rk = ((n - 1) * 5) // 100 + 1 THEN v4l END) AS p5,
      |    max(CASE WHEN rk = ((n - 1) * 25) // 100 + 1 THEN v4l END) AS p25,
      |    max(CASE WHEN rk = ((n - 1) * 50) // 100 + 1 THEN v4l END) AS p50,
      |    max(CASE WHEN rk = ((n - 1) * 75) // 100 + 1 THEN v4l END) AS p75,
      |    max(CASE WHEN rk = ((n - 1) * 95) // 100 + 1 THEN v4l END) AS p95,
      |    max(CASE WHEN lrk = 1 THEN v4l END) AS latest
      |  FROM r GROUP BY 1, 2, 3
      |), lr AS (
      |  SELECT r.user_id, r.event_type,
      |    sum(CASE WHEN r.v4l < s.latest THEN 1 ELSE 0 END) AS n_lt,
      |    sum(CASE WHEN r.v4l = s.latest THEN 1 ELSE 0 END) AS n_eq
      |  FROM r JOIN stats s ON r.user_id = s.user_id
      |    AND r.event_type = s.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT s.user_id, s.event_type, s.n AS n_obs,
      |  s.p5 / 10000.0 AS p05, s.p25 / 10000.0 AS p25,
      |  s.p50 / 10000.0 AS p50, s.p75 / 10000.0 AS p75,
      |  s.p95 / 10000.0 AS p95,
      |  s.latest / 10000.0 AS latest_value,
      |  CAST(((2 * lr.n_lt + lr.n_eq + 1) * 1000000) // (2 * s.n)
      |    AS BIGINT) AS latest_pct6,
      |  CAST(CASE WHEN s.latest < s.p5 OR s.latest > s.p95
      |    THEN 1 ELSE 0 END AS INT) AS outside_env_flag
      |FROM stats s JOIN lr ON s.user_id = lr.user_id
      |  AND s.event_type = lr.event_type
      |ORDER BY s.user_id, s.event_type""".stripMargin

  /** st29: the per-user lag with the staleness-gap filter, joined to
    * q107's probability chain — the state op's exact replay.
    */
  val st29: String =
    """WITH b AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events
      |), tr AS (
      |  SELECT *,
      |    lag(event_type) OVER wu AS from_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER wu AS gap_us
      |  FROM b
      |  WINDOW wu AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), cnt AS (
      |  SELECT from_type, event_type AS to_type, count(*) AS n_trans
      |  FROM tr WHERE from_type IS NOT NULL GROUP BY 1, 2
      |), tot AS (
      |  SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS from_total
      |  FROM cnt GROUP BY 1
      |), p AS (
      |  SELECT c.from_type, c.to_type,
      |    (c.n_trans * 1000000) // t.from_total AS p6
      |  FROM cnt c JOIN tot t ON c.from_type = t.from_type
      |), em AS (
      |  SELECT user_id, event_id, ts, from_type, event_type AS to_type
      |  FROM tr
      |  WHERE from_type IS NOT NULL AND gap_us <= 691200000000
      |)
      |SELECT em.user_id, em.event_id, em.ts AS date_recorded,
      |  em.from_type, em.to_type, p.p6,
      |  CAST(CASE WHEN p.p6 < 100000 THEN 1 ELSE 0 END AS INT)
      |    AS rare_flag
      |FROM em JOIN p ON em.from_type = p.from_type
      |  AND em.to_type = p.to_type
      |ORDER BY em.user_id, date_recorded, em.event_id""".stripMargin

  /** q104: epoch-integer calendar cells, exact cell/type moments,
    * one floored IEEE mean/σ each, integer share and hot flag.
    */
  val q104: String =
    """WITH b AS (
      |  SELECT event_type,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 4) % 7 AS dow,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000) // 3600000000
      |      AS hour,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), cells AS (
      |  SELECT event_type, dow, hour, count(*) AS n,
      |    sum(v4l) AS s1, sum(CAST(v4l AS HUGEINT) * v4l) AS s2
      |  FROM b GROUP BY 1, 2, 3
      |), typ AS (
      |  SELECT event_type, CAST(sum(n) AS BIGINT) AS tn,
      |    CAST(sum(s1) AS HUGEINT) AS ts1, sum(s2) AS ts2
      |  FROM cells GROUP BY 1
      |), typ2 AS (
      |  SELECT *,
      |    CAST(floor(CAST(ts1 AS DOUBLE) / tn * 100.0 + 0.5) AS BIGINT)
      |      AS tmean6,
      |    CASE WHEN tn > 1 THEN
      |      CAST(floor(sqrt(CAST(greatest(tn * ts2 - ts1 * ts1, 0)
      |        AS DOUBLE) / (tn * (tn - 1))) * 100.0 + 0.5) AS BIGINT)
      |    END AS tsd6
      |  FROM typ
      |)
      |SELECT c.event_type, c.dow, c.hour, c.n,
      |  CAST(floor(CAST(c.s1 AS DOUBLE) / c.n * 100.0 + 0.5) AS BIGINT)
      |    AS mean6,
      |  (c.n * 1000000) // t.tn AS vol_share6,
      |  CAST(CASE WHEN t.tsd6 IS NOT NULL AND
      |    abs(CAST(floor(CAST(c.s1 AS DOUBLE) / c.n * 100.0 + 0.5)
      |      AS BIGINT) - t.tmean6) > 2 * t.tsd6
      |    THEN 1 ELSE 0 END AS INT) AS hot_flag
      |FROM cells c JOIN typ2 t ON c.event_type = t.event_type
      |ORDER BY c.event_type, c.dow, c.hour""".stripMargin

  /** q105: q78's residual machinery on levels — exact HUGEINT
    * moments, φ one division, t½ one log chain over quantized φ.
    */
  val q105: String =
    """WITH base AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS x
      |  FROM events
      |), ce AS (
      |  SELECT *,
      |    CAST(count(*) OVER wk AS HUGEINT) * x
      |      - CAST(sum(x) OVER wk AS HUGEINT) AS e
      |  FROM base
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), lg AS (
      |  SELECT *, lag(e, 1) OVER w AS e1
      |  FROM ce
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), mom AS (
      |  SELECT user_id, event_type, count(*) AS n,
      |    sum(e * e) AS c, sum(e * e1) AS a1
      |  FROM lg GROUP BY 1, 2 HAVING count(*) >= 8
      |), ph AS (
      |  SELECT *,
      |    CASE WHEN c > 0 THEN
      |      CAST(floor(CAST(a1 AS DOUBLE) / CAST(c AS DOUBLE)
      |        * 1000000.0 + 0.5) AS BIGINT)
      |    END AS phi6
      |  FROM mom
      |)
      |SELECT user_id, event_type, n AS n_obs, phi6,
      |  CASE WHEN phi6 > 0 AND phi6 < 1000000 THEN
      |    CAST(floor(-0.6931471805599453 / ln(phi6 / 1000000.0)
      |      * 1000000.0 + 0.5) AS BIGINT)
      |  END AS half_life6,
      |  CAST(CASE WHEN phi6 >= 1000000 THEN 1 ELSE 0 END AS INT)
      |    AS diverging_flag
      |FROM ph
      |ORDER BY user_id, event_type""".stripMargin

  /** q116: same 1e-2 grid, the same integer central-moment
    * identities in HUGEINT, the identical sk/ku/jb IEEE chain.
    */
  val q116: String =
    """WITH b AS (
      |  SELECT user_id, event_type,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), mom AS (
      |  SELECT user_id, event_type, count(*) AS n, sum(y) AS s1,
      |    sum(CAST(y AS HUGEINT) * y) AS s2,
      |    sum(CAST(y AS HUGEINT) * y * y) AS s3,
      |    sum(CAST(y AS HUGEINT) * y * y * y) AS s4
      |  FROM b GROUP BY 1, 2 HAVING count(*) >= 8
      |), c1 AS (
      |  SELECT *,
      |    CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS m2i,
      |    CAST(n AS HUGEINT) * n * s3
      |      - 3 * CAST(n AS HUGEINT) * s1 * s2
      |      + 2 * CAST(s1 AS HUGEINT) * s1 * s1 AS m3i,
      |    CAST(n AS HUGEINT) * n * n * s4
      |      - 4 * CAST(n AS HUGEINT) * n * s1 * s3
      |      + 6 * CAST(n AS HUGEINT) * s1 * s1 * s2
      |      - 3 * CAST(s1 AS HUGEINT) * s1 * s1 * s1 AS m4i
      |  FROM mom
      |), c2 AS (
      |  SELECT *, CAST(m2i AS DOUBLE) AS m2d FROM c1
      |), c3 AS (
      |  SELECT *,
      |    CASE WHEN m2i > 0
      |      THEN CAST(m3i AS DOUBLE) / (m2d * sqrt(m2d)) END AS sk,
      |    CASE WHEN m2i > 0
      |      THEN CAST(m4i AS DOUBLE) / (m2d * m2d) - 3.0 END AS ku
      |  FROM c2
      |), c4 AS (
      |  SELECT *,
      |    CAST(floor(sk * 1000000.0 + 0.5) AS BIGINT) AS skew6,
      |    CAST(floor(ku * 1000000.0 + 0.5) AS BIGINT) AS kurt6,
      |    CAST(floor(CAST(n AS DOUBLE)
      |      * (sk * sk / 6.0 + ku * ku / 24.0)
      |      * 1000000.0 + 0.5) AS BIGINT) AS jb6
      |  FROM c3
      |)
      |SELECT user_id, event_type, n AS n_obs, skew6, kurt6, jb6,
      |  CAST(CASE WHEN jb6 > 5991000 THEN 1 ELSE 0 END AS INT)
      |    AS nonnormal_flag
      |FROM c4
      |ORDER BY user_id, event_type""".stripMargin

  /** q117: same 1e-2 grid, the exact D-scaled residual deltas and
    * the closed-form RSS denominator, one IEEE chain.
    */
  val q117: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), w AS (
      |  SELECT *, count(*) OVER wk AS n,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS t
      |  FROM b
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), w2 AS (
      |  SELECT *, sum(y) OVER wk AS sy, sum(t) OVER wk AS st,
      |    sum(CAST(t AS HUGEINT) * t) OVER wk AS stt,
      |    sum(CAST(t AS HUGEINT) * y) OVER wk AS sty,
      |    sum(CAST(y AS HUGEINT) * y) OVER wk AS syy,
      |    y - lag(y) OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS dy
      |  FROM w
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), c AS (
      |  SELECT *,
      |    CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st AS dval,
      |    CAST(n AS HUGEINT) * sty - CAST(st AS HUGEINT) * sy AS nb,
      |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS cy
      |  FROM w2
      |), ai AS (
      |  SELECT *, CASE WHEN dy IS NOT NULL
      |    THEN (dy * dval - nb) * (dy * dval - nb) END AS a_i
      |  FROM c
      |), mom AS (
      |  SELECT user_id, event_type, max(n) AS n, max(dval) AS dval,
      |    max(nb) AS nb, max(cy) AS cy, sum(a_i) AS a
      |  FROM ai GROUP BY 1, 2 HAVING max(n) >= 8
      |), d2 AS (
      |  SELECT *, cy * dval - nb * nb AS den FROM mom
      |), d3 AS (
      |  SELECT *, CASE WHEN den > 0 THEN
      |    CAST(floor(CAST(a AS DOUBLE) * CAST(n AS DOUBLE)
      |      / (CAST(dval AS DOUBLE) * CAST(den AS DOUBLE))
      |      * 1000000.0 + 0.5) AS BIGINT) END AS dw6
      |  FROM d2
      |)
      |SELECT user_id, event_type, n AS n_obs, dw6,
      |  CAST(CASE WHEN dw6 < 1500000 THEN 1 ELSE 0 END AS INT)
      |    AS pos_auto_flag,
      |  CAST(CASE WHEN dw6 > 2500000 THEN 1 ELSE 0 END AS INT)
      |    AS neg_auto_flag
      |FROM d3
      |ORDER BY user_id, event_type""".stripMargin

  /** q118: q115's segment moments from prefix windows at every
    * trimmed candidate, the sup on exact integer f6, min-τ ties.
    */
  val q118: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), w AS (
      |  SELECT *, count(*) OVER wk AS n,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS t
      |  FROM b
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), w2 AS (
      |  SELECT *, sum(y) OVER wk AS sy,
      |    sum(CAST(t AS HUGEINT) * t) OVER wk AS stt0,
      |    sum(CAST(t AS HUGEINT) * y) OVER wk AS sty0,
      |    sum(CAST(y AS HUGEINT) * y) OVER wk AS syy0,
      |    sum(t) OVER wr AS pst, sum(y) OVER wr AS psy,
      |    sum(CAST(t AS HUGEINT) * t) OVER wr AS pstt,
      |    sum(CAST(t AS HUGEINT) * y) OVER wr AS psty,
      |    sum(CAST(y AS HUGEINT) * y) OVER wr AS psyy
      |  FROM w
      |  WINDOW wk AS (PARTITION BY user_id, event_type),
      |    wr AS (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), flt AS (
      |  SELECT * FROM w2 WHERE n >= 16
      |), cand AS (
      |  SELECT *, greatest(8, CAST(ceil(n * 0.15) AS BIGINT)) AS trim_lo,
      |    n * (n + 1) // 2 AS st_tot
      |  FROM flt
      |), cand2 AS (
      |  SELECT *, st_tot - pst AS st2, sy - psy AS sy2,
      |    stt0 - pstt AS stt2, sty0 - psty AS sty2, syy0 - psyy AS syy2
      |  FROM cand WHERE t >= trim_lo AND t <= n - trim_lo
      |), rss AS (
      |  SELECT *,
      |    (CAST(n * syy0 - CAST(sy AS HUGEINT) * sy AS DOUBLE)
      |      - CAST(n * sty0 - CAST(st_tot AS HUGEINT) * sy AS DOUBLE)
      |        * CAST(n * sty0 - CAST(st_tot AS HUGEINT) * sy AS DOUBLE)
      |        / CAST(n * stt0 - CAST(st_tot AS HUGEINT) * st_tot AS DOUBLE))
      |      / CAST(n AS DOUBLE) AS rssp,
      |    (CAST(t * psyy - CAST(psy AS HUGEINT) * psy AS DOUBLE)
      |      - CAST(t * psty - CAST(pst AS HUGEINT) * psy AS DOUBLE)
      |        * CAST(t * psty - CAST(pst AS HUGEINT) * psy AS DOUBLE)
      |        / CAST(t * pstt - CAST(pst AS HUGEINT) * pst AS DOUBLE))
      |      / CAST(t AS DOUBLE) AS rss1,
      |    (CAST((n - t) * syy2 - CAST(sy2 AS HUGEINT) * sy2 AS DOUBLE)
      |      - CAST((n - t) * sty2 - CAST(st2 AS HUGEINT) * sy2 AS DOUBLE)
      |        * CAST((n - t) * sty2 - CAST(st2 AS HUGEINT) * sy2 AS DOUBLE)
      |        / CAST((n - t) * stt2 - CAST(st2 AS HUGEINT) * st2 AS DOUBLE))
      |      / CAST(n - t AS DOUBLE) AS rss2
      |  FROM cand2
      |), f1 AS (
      |  SELECT *, rss1 + rss2 AS rsss FROM rss
      |), f2 AS (
      |  SELECT *, CASE WHEN rsss > 0 THEN
      |    CAST(floor((rssp - rss1 - rss2) / 2.0
      |      / (rsss / (CAST(n AS DOUBLE) - 4.0))
      |      * 1000000.0 + 0.5) AS BIGINT) END AS f6
      |  FROM f1
      |), mx AS (
      |  SELECT *, max(f6) OVER (PARTITION BY user_id, event_type) AS fmax
      |  FROM f2
      |), arg AS (
      |  SELECT user_id, event_type, max(fmax) AS f_sup6,
      |    min(t) AS break_t
      |  FROM mx WHERE f6 = fmax GROUP BY 1, 2
      |), spine AS (
      |  SELECT user_id, event_type, max(n) AS n_obs
      |  FROM flt GROUP BY 1, 2
      |)
      |SELECT s.user_id, s.event_type, s.n_obs, a.f_sup6,
      |  CAST(a.break_t AS BIGINT) AS break_t,
      |  CAST(CASE WHEN a.f_sup6 > 11790000 THEN 1 ELSE 0 END AS INT)
      |    AS break_flag
      |FROM spine s LEFT JOIN arg a
      |  ON s.user_id = a.user_id AND s.event_type = a.event_type
      |ORDER BY s.user_id, s.event_type""".stripMargin

  /** q119: the exact n·y − S1 deviations, min-id argmax, one chain. */
  val q119: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), w AS (
      |  SELECT *, count(*) OVER wk AS n, sum(y) OVER wk AS s1,
      |    sum(CAST(y AS HUGEINT) * y) OVER wk AS s2
      |  FROM b
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), d AS (
      |  SELECT *, abs(CAST(n AS HUGEINT) * y - s1) AS dev FROM w
      |), m AS (
      |  SELECT *, max(dev) OVER (PARTITION BY user_id, event_type)
      |    AS maxdev
      |  FROM d
      |), c AS (
      |  SELECT *, CASE WHEN dev = maxdev THEN event_id END AS cand_id
      |  FROM m
      |), mom AS (
      |  SELECT user_id, event_type, max(n) AS n, max(s1) AS s1,
      |    max(s2) AS s2, max(maxdev) AS maxdev,
      |    min(cand_id) AS outlier_event_id
      |  FROM c GROUP BY 1, 2 HAVING max(n) >= 3
      |), g AS (
      |  SELECT *,
      |    CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS m2i
      |  FROM mom
      |), g2 AS (
      |  SELECT *, CASE WHEN m2i > 0 THEN
      |    CAST(floor(CAST(maxdev AS DOUBLE)
      |      / sqrt(CAST(m2i AS DOUBLE) * CAST(n AS DOUBLE)
      |        / (CAST(n AS DOUBLE) - 1.0))
      |      * 1000000.0 + 0.5) AS BIGINT) END AS g6
      |  FROM g
      |)
      |SELECT user_id, event_type, n AS n_obs, outlier_event_id, g6,
      |  CAST(CASE WHEN g6 > 3000000 THEN 1 ELSE 0 END AS INT)
      |    AS outlier_flag
      |FROM g2
      |ORDER BY user_id, event_type""".stripMargin

  /** q120: q69's era split and grouped CDF, the exact weighted
    * squared-gap sum U, one IEEE chain.
    */
  val q120: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
      |  FROM events
      |), span AS (
      |  SELECT min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS pivot
      |  FROM ev
      |), dist AS (
      |  SELECT e.event_type, e.v4l,
      |    SUM(CASE WHEN e.day > s.pivot THEN 0 ELSE 1 END) AS c1,
      |    SUM(CASE WHEN e.day > s.pivot THEN 1 ELSE 0 END) AS c2
      |  FROM ev e, span s GROUP BY 1, 2
      |), cum AS (
      |  SELECT event_type, v4l, c1, c2,
      |    SUM(c1) OVER (PARTITION BY event_type ORDER BY v4l) AS cum1,
      |    SUM(c2) OVER (PARTITION BY event_type ORDER BY v4l) AS cum2,
      |    SUM(c1) OVER (PARTITION BY event_type) AS n1,
      |    SUM(c2) OVER (PARTITION BY event_type) AS n2
      |  FROM dist
      |), u AS (
      |  SELECT *, (c1 + c2) * ((cum1 * n2 - cum2 * n1)
      |    * (cum1 * n2 - cum2 * n1)) AS ui
      |  FROM cum WHERE n1 > 0 AND n2 > 0
      |), agg AS (
      |  SELECT event_type, CAST(max(n1) AS BIGINT) AS n_ref,
      |    CAST(max(n2) AS BIGINT) AS n_cur, sum(ui) AS usum
      |  FROM u GROUP BY 1
      |)
      |SELECT event_type, n_ref, n_cur,
      |  CAST(floor(CAST(usum AS DOUBLE)
      |    / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)
      |      * CAST(n_ref + n_cur AS DOUBLE)
      |      * CAST(n_ref + n_cur AS DOUBLE))
      |    * 1000000.0 + 0.5) AS BIGINT) AS cvm6,
      |  CAST(CASE WHEN CAST(floor(CAST(usum AS DOUBLE)
      |    / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)
      |      * CAST(n_ref + n_cur AS DOUBLE)
      |      * CAST(n_ref + n_cur AS DOUBLE))
      |    * 1000000.0 + 0.5) AS BIGINT) > 461000
      |    THEN 1 ELSE 0 END AS INT) AS drift_flag
      |FROM agg ORDER BY event_type""".stripMargin

  /** q121: the ×2-midrank integer domain on the per-(series, value)
    * distribution table; seven fixed-order IEEE terms, tie-corrected.
    */
  val q121: String = {
    val cnts = (0 until 7).map(i =>
      s"SUM(CASE WHEN g = $i THEN 1 ELSE 0 END) AS c$i").mkString(",\n    ")
    val aggs = (0 until 7).map(i =>
      s"""CAST(SUM(c$i) AS BIGINT) AS n$i,
         |    SUM(CAST(c$i AS HUGEINT) * r2) AS r2s$i""".stripMargin)
      .mkString(",\n    ")
    val guard = (0 until 7).map(i => s"n$i >= 1").mkString(" AND ")
    val aTerms = (0 until 7).map(i =>
      s"CAST(r2s$i AS DOUBLE) * CAST(r2s$i AS DOUBLE) / CAST(n$i AS DOUBLE)")
      .mkString(" + ")
    val nSum = (0 until 7).map(i => s"n$i").mkString(" + ")
    s"""WITH b AS (
       |  SELECT user_id, event_type,
       |    ((CAST(CAST(ts AS DATE) - DATE '1970-01-05' AS BIGINT) % 7)
       |      + 7) % 7 AS g,
       |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
       |  FROM events
       |), dist AS (
       |  SELECT user_id, event_type, y,
       |    $cnts
       |  FROM b GROUP BY 1, 2, 3
       |), dist2 AS (
       |  SELECT *, c0 + c1 + c2 + c3 + c4 + c5 + c6 AS t
       |  FROM dist
       |), ranked AS (
       |  SELECT *,
       |    coalesce(SUM(t) OVER (PARTITION BY user_id, event_type
       |      ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) AS cb
       |  FROM dist2
       |), r2t AS (
       |  SELECT *, 2 * cb + t + 1 AS r2 FROM ranked
       |), piv AS (
       |  SELECT user_id, event_type,
       |    $aggs,
       |    SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
       |  FROM r2t GROUP BY 1, 2
       |), ok AS (
       |  SELECT * FROM piv WHERE $guard
       |), m AS (
       |  SELECT *, ($aTerms) AS aa, $nSum AS nn
       |  FROM ok
       |), h AS (
       |  SELECT *,
       |    CAST(nn AS HUGEINT) * nn * nn - nn AS tden
       |  FROM m
       |), h2 AS (
       |  SELECT *, 1.0 - CAST(ties AS DOUBLE) / CAST(tden AS DOUBLE) AS cc
       |  FROM h
       |), i2 AS (
       |  SELECT *,
       |    CASE WHEN cc > 0 THEN
       |      CAST(floor((aa * 3.0
       |        / (CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE))
       |        - 3.0 * CAST(nn + 1 AS DOUBLE)) / cc
       |        * 1000000.0 + 0.5) AS BIGINT) END AS kw_h6
       |  FROM h2
       |)
       |SELECT user_id, event_type, CAST(nn AS BIGINT) AS n_obs, kw_h6,
       |  CAST(CASE WHEN kw_h6 > 12591600 THEN 1 ELSE 0 END AS INT)
       |    AS weekday_effect_flag
       |FROM i2
       |ORDER BY user_id, event_type""".stripMargin
  }

  /** q122: strict-extremum count, (3T−2n+4)/(3√((16n−29)/90)) chain. */
  val q122: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), w AS (
      |  SELECT *,
      |    lag(y, 1) OVER wa AS p,
      |    lead(y, 1) OVER wa AS f
      |  FROM b
      |  WINDOW wa AS (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id)
      |), t AS (
      |  SELECT *, CASE WHEN (p < y AND y > f) OR (p > y AND y < f)
      |    THEN 1 ELSE 0 END AS turn
      |  FROM w
      |), agg AS (
      |  SELECT user_id, event_type, count(*) AS n_obs,
      |    CAST(SUM(turn) AS BIGINT) AS n_turns
      |  FROM t GROUP BY 1, 2
      |), flt AS (
      |  SELECT * FROM agg WHERE n_obs >= 8
      |)
      |SELECT user_id, event_type, n_obs, n_turns,
      |  CAST(floor(CAST(3 * n_turns - 2 * n_obs + 4 AS DOUBLE)
      |    / (3.0 * sqrt(CAST(16 * n_obs - 29 AS DOUBLE) / 90.0))
      |    * 1000000.0 + 0.5) AS BIGINT) AS tp_z6,
      |  CAST(CASE WHEN abs(CAST(floor(CAST(3 * n_turns - 2 * n_obs + 4
      |      AS DOUBLE)
      |    / (3.0 * sqrt(CAST(16 * n_obs - 29 AS DOUBLE) / 90.0))
      |    * 1000000.0 + 0.5) AS BIGINT)) > 1960000
      |    THEN 1 ELSE 0 END AS INT) AS nonrandom_flag
      |FROM flt
      |ORDER BY user_id, event_type""".stripMargin

  /** q123: seven exact conditional second moments, the T/C ln chain
    * in fixed weekday order (ln parity per q61/q93/q105).
    */
  val q123: String = {
    val aggs = (0 until 7).map(i =>
      s"""CAST(SUM(CASE WHEN g = $i THEN 1 ELSE 0 END) AS BIGINT) AS n$i,
         |    CAST(SUM(CASE WHEN g = $i THEN y ELSE 0 END) AS BIGINT) AS s$i,
         |    SUM(CASE WHEN g = $i THEN CAST(y AS HUGEINT) * y
         |      ELSE CAST(0 AS HUGEINT) END) AS q$i""".stripMargin)
      .mkString(",\n    ")
    val m2s = (0 until 7).map(i =>
      s"CAST(n$i AS HUGEINT) * q$i - CAST(s$i AS HUGEINT) * s$i AS m2_$i")
      .mkString(",\n    ")
    val nSum = (0 until 7).map(i => s"n$i").mkString(" + ")
    val vs = (0 until 7).map(i =>
      s"CAST(m2_$i AS DOUBLE) / CAST(n$i AS DOUBLE)")
    val w = vs.mkString(" + ")
    val tTerms = (0 until 7).map(i =>
      s"CAST(n$i - 1 AS DOUBLE) * ln((${vs(i)}) / CAST(n$i - 1 AS DOUBLE))")
      .mkString(" + ")
    val invTerms = (0 until 7).map(i =>
      s"1.0 / CAST(n$i - 1 AS DOUBLE)").mkString(" + ")
    val posGuard = ((0 until 7).map(i => s"n$i >= 2") ++
      (0 until 7).map(i => s"m2_$i > 0")).mkString(" AND ")
    s"""WITH b AS (
       |  SELECT user_id, event_type,
       |    ((CAST(CAST(ts AS DATE) - DATE '1970-01-05' AS BIGINT) % 7)
       |      + 7) % 7 AS g,
       |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
       |  FROM events
       |), mom AS (
       |  SELECT user_id, event_type,
       |    $aggs
       |  FROM b GROUP BY 1, 2
       |), m2 AS (
       |  SELECT *,
       |    $m2s
       |  FROM mom
       |), nn2 AS (
       |  SELECT *, $nSum AS nn FROM m2
       |), fin AS (
       |  SELECT *,
       |    CASE WHEN $posGuard THEN
       |      CAST(floor(
       |        (CAST(nn - 7 AS DOUBLE)
       |          * ln(($w) / CAST(nn - 7 AS DOUBLE))
       |         - ($tTerms))
       |        / (1.0 + (($invTerms) - 1.0 / CAST(nn - 7 AS DOUBLE))
       |          / 18.0)
       |        * 1000000.0 + 0.5) AS BIGINT) END AS bart6
       |  FROM nn2
       |)
       |SELECT user_id, event_type, CAST(nn AS BIGINT) AS n_obs, bart6,
       |  CAST(CASE WHEN bart6 > 12591600 THEN 1 ELSE 0 END AS INT)
       |    AS hetero_flag
       |FROM fin
       |ORDER BY user_id, event_type""".stripMargin
  }

  /** q124: exact prefix/total squared-diff sums, sup and argmax on
    * the exact centered numerator, one √(m/2)·max/(m·C) chain.
    */
  val q124: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), dif AS (
      |  SELECT *, y - lag(y) OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id) AS d
      |  FROM b
      |), dif2 AS (
      |  SELECT * FROM dif WHERE d IS NOT NULL
      |), w AS (
      |  SELECT *,
      |    row_number() OVER wa AS k,
      |    count(*) OVER wk AS m,
      |    sum(CAST(d AS HUGEINT) * d) OVER (PARTITION BY user_id,
      |      event_type ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck,
      |    sum(CAST(d AS HUGEINT) * d) OVER wk AS cm
      |  FROM dif2
      |  WINDOW wa AS (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id),
      |    wk AS (PARTITION BY user_id, event_type)
      |), num AS (
      |  SELECT *, abs(CAST(m AS HUGEINT) * ck - CAST(k AS HUGEINT) * cm)
      |    AS numv
      |  FROM w
      |), mx AS (
      |  SELECT *, max(numv) OVER (PARTITION BY user_id, event_type)
      |    AS maxnum
      |  FROM num
      |), agg AS (
      |  SELECT user_id, event_type, max(m) AS m, max(cm) AS cm,
      |    max(maxnum) AS maxnum,
      |    min(CASE WHEN numv = maxnum THEN event_id END)
      |      AS break_event_id0,
      |    min(CASE WHEN numv = maxnum THEN ts END) AS break_ts0
      |  FROM mx GROUP BY 1, 2 HAVING max(m) >= 8
      |), fin AS (
      |  SELECT *,
      |    CASE WHEN cm > 0 THEN
      |      CAST(floor(sqrt(CAST(m AS DOUBLE) / 2.0)
      |        * CAST(maxnum AS DOUBLE)
      |        / (CAST(m AS DOUBLE) * CAST(cm AS DOUBLE))
      |        * 1000000.0 + 0.5) AS BIGINT) END AS it6,
      |    CASE WHEN cm > 0 THEN break_event_id0 END AS break_event_id,
      |    CASE WHEN cm > 0 THEN break_ts0 END AS break_ts
      |  FROM agg
      |)
      |SELECT user_id, event_type, CAST(m + 1 AS BIGINT) AS n_obs, it6,
      |  break_event_id, break_ts,
      |  CAST(CASE WHEN it6 > 1358000 THEN 1 ELSE 0 END AS INT)
      |    AS var_break_flag
      |FROM fin
      |ORDER BY user_id, event_type""".stripMargin

  /** st32: q122's turn confirmations replayed as segmented lag
    * windows — per-print n, prefix turn count, one z chain.
    */
  val st32: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), w AS (
      |  SELECT *,
      |    row_number() OVER ws AS n,
      |    lag(y, 1) OVER ws AS p,
      |    lag(y, 2) OVER ws AS p2
      |  FROM seg
      |  WINDOW ws AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id)
      |), t AS (
      |  SELECT *, CASE WHEN p2 IS NOT NULL AND
      |      ((p2 < p AND p > y) OR (p2 > p AND p < y))
      |    THEN 1 ELSE 0 END AS turn
      |  FROM w
      |), c AS (
      |  SELECT *, CAST(sum(turn) OVER (PARTITION BY user_id, event_type,
      |      seg_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n_turns
      |  FROM t
      |), fin AS (
      |  SELECT *, CASE WHEN n >= 8 THEN
      |    CAST(floor(CAST(3 * n_turns - 2 * n + 4 AS DOUBLE)
      |      / (3.0 * sqrt(CAST(16 * n - 29 AS DOUBLE) / 90.0))
      |      * 1000000.0 + 0.5) AS BIGINT) END AS tp_z6
      |  FROM c
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  y / 10000.0 AS value, CAST(n AS BIGINT) AS n_obs, n_turns, tp_z6,
      |  CAST(CASE WHEN abs(tp_z6) > 1960000 THEN 1 ELSE 0 END AS INT)
      |    AS nonrandom_flag
      |FROM fin
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st33: segmented running peak / worst drawdown, q89's exact
    * integer-div fraction and run-grouping trick per segment.
    */
  val st33: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), w AS (
      |  SELECT *, max(y) OVER wr AS peak4,
      |    row_number() OVER (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id) AS rn
      |  FROM seg
      |  WINDOW wr AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), d AS (
      |  SELECT *, peak4 - y AS dd4,
      |    CASE WHEN peak4 - y > 0 THEN 1 ELSE 0 END AS uw
      |  FROM w
      |), m AS (
      |  SELECT *, max(dd4) OVER wr AS maxdd4,
      |    CAST(rn - sum(uw) OVER wr AS BIGINT) AS grp
      |  FROM d
      |  WINDOW wr AS (PARTITION BY user_id, event_type, seg_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), r AS (
      |  SELECT *,
      |    CASE WHEN uw = 1 THEN CAST(row_number() OVER
      |      (PARTITION BY user_id, event_type, seg_id, grp, uw
      |       ORDER BY ts, event_id) AS BIGINT) ELSE 0 END
      |      AS underwater_run
      |  FROM m
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  y / 10000.0 AS value, peak4 / 10000.0 AS peak,
      |  dd4 / 10000.0 AS drawdown,
      |  CASE WHEN peak4 > 0 THEN dd4 * 1000000 // peak4 END AS dd_frac6,
      |  underwater_run, maxdd4 / 10000.0 AS max_drawdown
      |FROM r
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st34: segmented prefix gap moments (gaps that cross the 8-day
    * boundary start a new segment and emit nothing), q106's chain
    * per row.
    */
  val st34: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS g
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN g IS NULL OR g > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), emitted AS (
      |  SELECT * FROM seg WHERE g IS NOT NULL AND g <= 691200000000
      |), w AS (
      |  SELECT *,
      |    row_number() OVER ws AS n,
      |    sum(g) OVER wr AS s1,
      |    sum(CAST(g AS HUGEINT) * g) OVER wr AS s2
      |  FROM emitted
      |  WINDOW ws AS (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id),
      |    wr AS (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), c1 AS (
      |  SELECT *, CAST(s1 // n AS BIGINT) AS mean_gap_us,
      |    CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS c
      |  FROM w
      |), c2 AS (
      |  SELECT *, CASE WHEN n >= 4 THEN
      |    CAST(floor(sqrt(CAST(greatest(c, 0) AS DOUBLE)
      |      / (n * (n - 1))) + 0.5) AS BIGINT) END AS sd_gap_us
      |  FROM c1
      |), c3 AS (
      |  SELECT *,
      |    CASE WHEN sd_gap_us IS NOT NULL AND mean_gap_us > 0 THEN
      |      CAST(floor(CAST(sd_gap_us AS DOUBLE) / mean_gap_us
      |        * 1000000.0 + 0.5) AS BIGINT) END AS cv6,
      |    CASE WHEN sd_gap_us IS NOT NULL
      |        AND sd_gap_us + mean_gap_us > 0 THEN
      |      CAST(floor(CAST(sd_gap_us - mean_gap_us AS DOUBLE)
      |        / (sd_gap_us + mean_gap_us) * 1000000.0 + 0.5) AS BIGINT)
      |      END AS burstiness6
      |  FROM c2
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  g AS gap_us, CAST(n AS BIGINT) AS n_gaps, mean_gap_us,
      |  sd_gap_us, cv6, burstiness6,
      |  CAST(CASE WHEN burstiness6 > 300000 THEN 1 ELSE 0 END AS INT)
      |    AS bursty_flag
      |FROM c3
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** st36: segmented prefix min/max/moment windows, q119's exact
    * envelope chain per row.
    */
  val st36: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), sgap AS (
      |  SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), seg AS (
      |  SELECT *,
      |    SUM(CASE WHEN gap_us IS NULL OR gap_us > 691200000000
      |        THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      |  FROM sgap
      |), w AS (
      |  SELECT *,
      |    row_number() OVER ws AS n,
      |    sum(y) OVER wr AS s1,
      |    sum(CAST(y AS HUGEINT) * y) OVER wr AS s2,
      |    min(y) OVER wr AS mn,
      |    max(y) OVER wr AS mx
      |  FROM seg
      |  WINDOW ws AS (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id),
      |    wr AS (PARTITION BY user_id, event_type, seg_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), c AS (
      |  SELECT *,
      |    CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS m2,
      |    greatest(CAST(n AS HUGEINT) * mx - s1,
      |      CAST(s1 AS HUGEINT) - CAST(n AS HUGEINT) * mn) AS maxdev
      |  FROM w
      |), fin AS (
      |  SELECT *, CASE WHEN n >= 3 AND m2 > 0 THEN
      |    CAST(floor(CAST(maxdev AS DOUBLE)
      |      / sqrt(CAST(m2 AS DOUBLE) * n / (n - 1))
      |      * 1000000.0 + 0.5) AS BIGINT) END AS g6
      |  FROM c
      |)
      |SELECT user_id, event_type, event_id, ts AS date_recorded,
      |  y / 10000.0 AS value, CAST(n AS BIGINT) AS n_obs,
      |  mn / 10000.0 AS run_min, mx / 10000.0 AS run_max, g6,
      |  CAST(CASE WHEN g6 > 3000000 THEN 1 ELSE 0 END AS INT)
      |    AS extreme_flag
      |FROM fin
      |ORDER BY user_id, event_type, date_recorded, event_id""".stripMargin

  /** q125: integer template predicates after the one r4 chain, the
    * key-local i<j pair join, −ln(A/B).
    */
  val q125: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), w AS (
      |  SELECT *, count(*) OVER wk AS n, sum(y) OVER wk AS s1,
      |    sum(CAST(y AS HUGEINT) * y) OVER wk AS s2,
      |    row_number() OVER wa AS i,
      |    lead(y) OVER wa AS y1
      |  FROM b
      |  WINDOW wk AS (PARTITION BY user_id, event_type),
      |    wa AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), f AS (
      |  SELECT * FROM w WHERE n >= 8 AND y1 IS NOT NULL
      |), t AS (
      |  SELECT *, CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1
      |    AS m2i
      |  FROM f
      |), g AS (
      |  SELECT *, CAST(floor(CAST(0.2 AS DOUBLE)
      |    * sqrt(CAST(m2i AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
      |    + 0.5) AS BIGINT) AS r4
      |  FROM t
      |), p AS (
      |  SELECT l.user_id, l.event_type, l.n, l.r4,
      |    CASE WHEN abs(l.y - r.y) <= l.r4 THEN 1 ELSE 0 END AS bm,
      |    CASE WHEN abs(l.y - r.y) <= l.r4
      |      AND abs(l.y1 - r.y1) <= l.r4 THEN 1 ELSE 0 END AS am
      |  FROM g l JOIN g r
      |    ON l.user_id = r.user_id AND l.event_type = r.event_type
      |    AND l.i < r.i
      |), agg AS (
      |  SELECT user_id, event_type, max(n) AS n_obs, max(r4) AS r4,
      |    CAST(SUM(bm) AS BIGINT) AS b_cnt,
      |    CAST(SUM(am) AS BIGINT) AS a_cnt
      |  FROM p GROUP BY 1, 2
      |), fin AS (
      |  SELECT *, CASE WHEN a_cnt > 0 AND b_cnt > 0 THEN
      |    CAST(floor(-ln(CAST(a_cnt AS DOUBLE) / CAST(b_cnt AS DOUBLE))
      |      * 1000000.0 + 0.5) AS BIGINT) END AS sampen6
      |  FROM agg
      |)
      |SELECT user_id, event_type, n_obs, r4, b_cnt, a_cnt, sampen6,
      |  CAST(CASE WHEN sampen6 < 500000 THEN 1 ELSE 0 END AS INT)
      |    AS regular_flag
      |FROM fin
      |ORDER BY user_id, event_type""".stripMargin

  /** p14: the four diagnostic oracles as nested-WITH subqueries on
    * the catalog spine, p13's composition pattern.
    */
  lazy val p14: String =
    s"""WITH spine AS (
       |  SELECT DISTINCT user_id, event_type FROM events
       |)
       |SELECT spine.user_id, spine.event_type,
       |  jb.skew6, jb.kurt6, jb.jb6, jb.nonnormal_flag,
       |  dw.dw6, dw.pos_auto_flag, dw.neg_auto_flag,
       |  gr.g6, gr.outlier_event_id, gr.outlier_flag,
       |  tp.tp_z6, tp.nonrandom_flag,
       |  jb.nonnormal_flag + dw.pos_auto_flag + dw.neg_auto_flag
       |    + gr.outlier_flag + tp.nonrandom_flag AS n_issues,
       |  CASE
       |    WHEN jb.nonnormal_flag IS NULL OR dw.pos_auto_flag IS NULL
       |      OR gr.outlier_flag IS NULL OR tp.nonrandom_flag IS NULL
       |      THEN 'insufficient'
       |    WHEN jb.nonnormal_flag + dw.pos_auto_flag + dw.neg_auto_flag
       |      + gr.outlier_flag + tp.nonrandom_flag = 0 THEN 'clean'
       |    WHEN jb.nonnormal_flag + dw.pos_auto_flag + dw.neg_auto_flag
       |      + gr.outlier_flag + tp.nonrandom_flag = 1 THEN 'check'
       |    ELSE 'suspect' END AS verdict
       |FROM spine
       |LEFT JOIN ($q116) jb
       |  ON jb.user_id = spine.user_id AND jb.event_type = spine.event_type
       |LEFT JOIN ($q117) dw
       |  ON dw.user_id = spine.user_id AND dw.event_type = spine.event_type
       |LEFT JOIN ($q119) gr
       |  ON gr.user_id = spine.user_id AND gr.event_type = spine.event_type
       |LEFT JOIN ($q122) tp
       |  ON tp.user_id = spine.user_id AND tp.event_type = spine.event_type
       |ORDER BY spine.user_id, spine.event_type""".stripMargin

  /** q128: both binary-segmentation levels replayed — the same exact
    * num = |L·P_k − k·P_L| prefix integers (HUGEINT here, decimal on
    * the Spark side — equal as integers), the same trim, argmax and
    * min-(ts, event_id) tie-break, the same one-chain z off the
    * segment's exact M2, and the same better-half pick
    * (z DESC NULLS LAST, then segment).
    */
  val q128: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), idx AS (
      |  SELECT *,
      |    CAST(row_number() OVER wa AS BIGINT) AS t,
      |    count(*) OVER wk AS n,
      |    sum(y) OVER wr AS pk,
      |    sum(y) OVER wk AS pl,
      |    sum(CAST(y AS HUGEINT) * y) OVER wk AS syy
      |  FROM b
      |  WINDOW wa AS (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id),
      |    wr AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wk AS (PARTITION BY user_id, event_type)
      |), l1 AS (
      |  SELECT *,
      |    abs(CAST(n AS HUGEINT) * pk - CAST(t AS HUGEINT) * pl) AS num
      |  FROM idx WHERE n >= 12
      |), l1c AS (
      |  SELECT *, CASE WHEN t >= 4 AND t <= n - 4 THEN num END AS cnum
      |  FROM l1
      |), l1m AS (
      |  SELECT *, max(cnum) OVER (PARTITION BY user_id, event_type)
      |    AS maxnum
      |  FROM l1c
      |), a1 AS (
      |  SELECT user_id, event_type, max(n) AS n_obs, max(pl) AS sy,
      |    max(syy) AS syy, max(maxnum) AS maxnum,
      |    min(CASE WHEN cnum IS NOT DISTINCT FROM maxnum
      |      AND cnum IS NOT NULL THEN t END) AS k1,
      |    min(CASE WHEN cnum IS NOT DISTINCT FROM maxnum
      |      AND cnum IS NOT NULL THEN ts END) AS ts1
      |  FROM l1m GROUP BY 1, 2
      |), z1 AS (
      |  SELECT *,
      |    CAST(n_obs AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS m2
      |  FROM a1
      |), z1b AS (
      |  SELECT *, CASE WHEN m2 > 0 AND maxnum IS NOT NULL THEN
      |    CAST(floor(CAST(maxnum AS DOUBLE) / (CAST(n_obs AS DOUBLE)
      |      * sqrt(CAST(m2 AS DOUBLE) / (CAST(n_obs AS DOUBLE)
      |        * (CAST(n_obs AS DOUBLE) - 1.0)))
      |      * sqrt(CAST(n_obs AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)
      |    END AS z1_6
      |  FROM z1
      |), segrows AS (
      |  SELECT l1.user_id, l1.event_type, l1.event_id, l1.ts, l1.y, l1.t,
      |    CASE WHEN l1.t <= a.k1 THEN 1 ELSE 2 END AS seg
      |  FROM l1 JOIN z1b a
      |    ON a.user_id = l1.user_id AND a.event_type = l1.event_type
      |  WHERE a.k1 IS NOT NULL
      |), l2 AS (
      |  SELECT *,
      |    CAST(row_number() OVER sa AS BIGINT) AS i,
      |    count(*) OVER sk AS ll,
      |    sum(y) OVER sr AS pk,
      |    sum(y) OVER sk AS pl,
      |    sum(CAST(y AS HUGEINT) * y) OVER sk AS syy
      |  FROM segrows
      |  WINDOW sa AS (PARTITION BY user_id, event_type, seg
      |      ORDER BY ts, event_id),
      |    sr AS (PARTITION BY user_id, event_type, seg
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    sk AS (PARTITION BY user_id, event_type, seg)
      |), l2n AS (
      |  SELECT *,
      |    abs(CAST(ll AS HUGEINT) * pk - CAST(i AS HUGEINT) * pl) AS num
      |  FROM l2
      |), l2c AS (
      |  SELECT *, CASE WHEN i >= 4 AND i <= ll - 4 THEN num END AS cnum
      |  FROM l2n
      |), l2m AS (
      |  SELECT *,
      |    max(cnum) OVER (PARTITION BY user_id, event_type, seg) AS maxnum
      |  FROM l2c
      |), a2 AS (
      |  SELECT user_id, event_type, seg, max(ll) AS ll, max(pl) AS sy,
      |    max(syy) AS syy, max(maxnum) AS maxnum,
      |    min(CASE WHEN cnum IS NOT DISTINCT FROM maxnum
      |      AND cnum IS NOT NULL THEN t END) AS k2,
      |    min(CASE WHEN cnum IS NOT DISTINCT FROM maxnum
      |      AND cnum IS NOT NULL THEN ts END) AS ts2
      |  FROM l2m GROUP BY 1, 2, 3
      |), z2 AS (
      |  SELECT *, CAST(ll AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
      |    AS m2
      |  FROM a2
      |), z2b AS (
      |  SELECT *, CASE WHEN m2 > 0 AND maxnum IS NOT NULL THEN
      |    CAST(floor(CAST(maxnum AS DOUBLE) / (CAST(ll AS DOUBLE)
      |      * sqrt(CAST(m2 AS DOUBLE) / (CAST(ll AS DOUBLE)
      |        * (CAST(ll AS DOUBLE) - 1.0)))
      |      * sqrt(CAST(ll AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)
      |    END AS z2_6
      |  FROM z2
      |), pick AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY z2_6 DESC NULLS LAST, seg) AS rn
      |  FROM z2b
      |)
      |SELECT a.user_id, a.event_type, a.n_obs,
      |  CASE WHEN a.z1_6 IS NOT NULL THEN a.k1 END AS break1_t,
      |  CASE WHEN a.z1_6 IS NOT NULL THEN a.ts1 END AS break1_ts,
      |  a.z1_6,
      |  CASE WHEN p.z2_6 IS NOT NULL THEN p.k2 END AS break2_t,
      |  CASE WHEN p.z2_6 IS NOT NULL THEN p.ts2 END AS break2_ts,
      |  p.z2_6,
      |  CASE WHEN a.z1_6 > 1358000 THEN
      |    1 + (CASE WHEN p.z2_6 > 1358000 THEN 1 ELSE 0 END)
      |  ELSE 0 END AS n_breaks
      |FROM z1b a
      |LEFT JOIN (SELECT * FROM pick WHERE rn = 1) p
      |  ON p.user_id = a.user_id AND p.event_type = a.event_type
      |ORDER BY a.user_id, a.event_type""".stripMargin

  /** q129: the same close-collapse and pair equi-join; the census as
    * the day1 ≤ day2 self-join (DuckDB materializes it fine at oracle
    * scale — only Spark's plan moved in-task), concordance by SIGN
    * COMPARISON rather than a delta product so the oracle carries no
    * BIGINT-overflow value-domain bound either; the same one-chain
    * τ-b with the n0>n1 ∧ n0>n2 NULL guard.
    */
  val q129: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), closes AS (
      |  SELECT user_id, event_type, day, y FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type,
      |      day ORDER BY ts DESC, event_id DESC) AS rd
      |    FROM b)
      |  WHERE rd = 1
      |), m AS (
      |  SELECT a.event_type, a.day, a.user_id AS user_a,
      |    bb.user_id AS user_b, a.y AS ya, bb.y AS yb
      |  FROM closes a JOIN closes bb
      |    ON a.event_type = bb.event_type AND a.day = bb.day
      |    AND a.user_id < bb.user_id
      |), cen AS (
      |  SELECT p.event_type, p.user_a, p.user_b,
      |    count(CASE WHEN p.day = q.day THEN 1 END) AS n_days,
      |    count(CASE WHEN p.day < q.day THEN 1 END) AS n0,
      |    count(CASE WHEN p.day < q.day
      |      AND ((p.ya < q.ya AND p.yb < q.yb)
      |        OR (p.ya > q.ya AND p.yb > q.yb)) THEN 1 END) AS c_pairs,
      |    count(CASE WHEN p.day < q.day
      |      AND ((p.ya < q.ya AND p.yb > q.yb)
      |        OR (p.ya > q.ya AND p.yb < q.yb)) THEN 1 END) AS d_pairs,
      |    count(CASE WHEN p.day < q.day AND p.ya = q.ya THEN 1 END) AS n1,
      |    count(CASE WHEN p.day < q.day AND p.yb = q.yb THEN 1 END) AS n2
      |  FROM m p JOIN m q
      |    ON p.event_type = q.event_type AND p.user_a = q.user_a
      |    AND p.user_b = q.user_b AND p.day <= q.day
      |  GROUP BY 1, 2, 3
      |  HAVING count(CASE WHEN p.day = q.day THEN 1 END) >= 5
      |)
      |SELECT event_type, user_a, user_b, n_days, c_pairs, d_pairs,
      |  CASE WHEN n0 > n1 AND n0 > n2 THEN
      |    CAST(floor(CAST(c_pairs - d_pairs AS DOUBLE)
      |      / sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE))
      |      * 1000000.0 + 0.5) AS BIGINT) END AS tau6,
      |  CASE WHEN abs(CASE WHEN n0 > n1 AND n0 > n2 THEN
      |    CAST(floor(CAST(c_pairs - d_pairs AS DOUBLE)
      |      / sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE))
      |      * 1000000.0 + 0.5) AS BIGINT) END) >= 800000
      |    THEN 1 ELSE 0 END AS comove_flag
      |FROM cen
      |ORDER BY event_type, user_a, user_b""".stripMargin

  /** q132: the same exact scaled trend residuals (HUGEINT here,
    * decimal on the Spark side — equal as integers), the same prefix
    * sums and the single mirrored division ΣP²/(n·ΣE²).
    */
  val q132: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), w AS (
      |  SELECT *,
      |    count(*) OVER wk AS n,
      |    CAST(row_number() OVER wa AS BIGINT) AS t,
      |    sum(y) OVER wk AS sy
      |  FROM b
      |  WINDOW wa AS (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id),
      |    wk AS (PARTITION BY user_id, event_type)
      |), w2 AS (
      |  SELECT *,
      |    sum(CAST(t AS HUGEINT) * t) OVER wk AS stt,
      |    sum(CAST(t AS HUGEINT) * y) OVER wk AS sty,
      |    sum(t) OVER wk AS st
      |  FROM w
      |  WINDOW wk AS (PARTITION BY user_id, event_type)
      |), w3 AS (
      |  SELECT *,
      |    CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st AS dd,
      |    CAST(n AS HUGEINT) * sty - CAST(st AS HUGEINT) * sy AS bb
      |  FROM w2
      |), w4 AS (
      |  SELECT *,
      |    CAST(n AS HUGEINT) * dd * y - (dd * sy - bb * st)
      |      - CAST(n AS HUGEINT) * bb * t AS ee
      |  FROM w3
      |), w5 AS (
      |  SELECT *, sum(ee) OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
      |  FROM w4
      |), mom AS (
      |  SELECT user_id, event_type, max(n) AS n,
      |    sum(ee * ee) AS se2, sum(pp * pp) AS sp2
      |  FROM w5 GROUP BY 1, 2 HAVING max(n) >= 12
      |)
      |SELECT user_id, event_type, n AS n_obs,
      |  CASE WHEN se2 > 0 AND n <= 170 THEN
      |    CAST(floor(CAST(sp2 AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(se2 AS DOUBLE))
      |      * 1000000.0 + 0.5) AS BIGINT) END AS kpss_trend6,
      |  CASE WHEN (CASE WHEN se2 > 0 AND n <= 170 THEN
      |    CAST(floor(CAST(sp2 AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(se2 AS DOUBLE))
      |      * 1000000.0 + 0.5) AS BIGINT) END) > 146000
      |    THEN 1 ELSE 0 END AS trend_nonstat_flag
      |FROM mom
      |ORDER BY user_id, event_type""".stripMargin

  /** q131: the same ten exact moment sums (HUGEINT here, decimal on
    * the Spark side — equal as integers), the same double-cast
    * centered pieces, Cramer solve, back-substituted intercept,
    * normal-equation RSS and one-chain t(ρ̂) with the D ≤ 0 guard.
    */
  val q131: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), dif AS (
      |  SELECT *, lag(y) OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id) AS y1
      |  FROM b
      |), d2 AS (
      |  SELECT user_id, event_type, y1, y - y1 AS dy,
      |    CAST(row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS BIGINT) AS t
      |  FROM dif WHERE y1 IS NOT NULL
      |), mom AS (
      |  SELECT user_id, event_type, count(*) AS m,
      |    sum(t) AS st, sum(y1) AS su, sum(dy) AS sv,
      |    sum(CAST(t AS HUGEINT) * t) AS stt,
      |    sum(CAST(t AS HUGEINT) * y1) AS stu,
      |    sum(CAST(y1 AS HUGEINT) * y1) AS suu,
      |    sum(CAST(t AS HUGEINT) * dy) AS stv,
      |    sum(CAST(y1 AS HUGEINT) * dy) AS suv,
      |    sum(CAST(dy AS HUGEINT) * dy) AS svv
      |  FROM d2 GROUP BY 1, 2 HAVING count(*) >= 12
      |), aa AS (
      |  SELECT *,
      |    CAST(CAST(m AS HUGEINT) * stt - CAST(st AS HUGEINT) * st
      |      AS DOUBLE) AS a11,
      |    CAST(CAST(m AS HUGEINT) * stu - CAST(st AS HUGEINT) * su
      |      AS DOUBLE) AS a12,
      |    CAST(CAST(m AS HUGEINT) * suu - CAST(su AS HUGEINT) * su
      |      AS DOUBLE) AS a22,
      |    CAST(CAST(m AS HUGEINT) * stv - CAST(st AS HUGEINT) * sv
      |      AS DOUBLE) AS b1,
      |    CAST(CAST(m AS HUGEINT) * suv - CAST(su AS HUGEINT) * sv
      |      AS DOUBLE) AS b2
      |  FROM mom
      |), ch AS (
      |  SELECT *, a11 * a22 - a12 * a12 AS ddet FROM aa
      |), ch2 AS (
      |  SELECT *,
      |    CASE WHEN ddet > 0
      |      THEN (a22 * b1 - a12 * b2) / ddet END AS beta,
      |    CASE WHEN ddet > 0
      |      THEN (a11 * b2 - a12 * b1) / ddet END AS rho
      |  FROM ch
      |), ch3 AS (
      |  SELECT *,
      |    (CAST(sv AS DOUBLE) - beta * CAST(st AS DOUBLE)
      |      - rho * CAST(su AS DOUBLE)) / CAST(m AS DOUBLE) AS alpha
      |  FROM ch2
      |), ch4 AS (
      |  SELECT *,
      |    CAST(svv AS DOUBLE) - alpha * CAST(sv AS DOUBLE)
      |      - beta * CAST(stv AS DOUBLE)
      |      - rho * CAST(suv AS DOUBLE) AS rss
      |  FROM ch3
      |), fin AS (
      |  SELECT user_id, event_type, m AS n_trans,
      |    CASE WHEN ddet > 0
      |      THEN CAST(floor(rho * 1000000.0 + 0.5) AS BIGINT) END AS rho6,
      |    CASE WHEN ddet > 0 AND rss > 0 THEN
      |      CAST(floor(rho / sqrt(rss / (CAST(m AS DOUBLE) - 3.0)
      |        * CAST(m AS DOUBLE) * a11 / ddet)
      |        * 1000000.0 + 0.5) AS BIGINT) END AS adf_trend_t6
      |  FROM ch4
      |)
      |SELECT user_id, event_type, n_trans, rho6, adf_trend_t6,
      |  CASE WHEN adf_trend_t6 < -3410000 THEN 1 ELSE 0 END
      |    AS trend_stationary_flag
      |FROM fin
      |ORDER BY user_id, event_type""".stripMargin

  /** q133: the same fifteen exact moment sums (HUGEINT here, decimal
    * on the Spark side — equal as integers), the same double-cast
    * centered pieces, the same signed-cofactor 3×3 Cramer solve,
    * back-substituted intercept, normal-equation RSS and one-chain
    * t(ρ̂) with the (ρ,ρ)-cofactor variance and the D ≤ 0 guard.
    */
  val q133: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), dif AS (
      |  SELECT *,
      |    lag(y) OVER w AS y1,
      |    lag(y, 2) OVER w AS y2
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id)
      |), d2 AS (
      |  SELECT user_id, event_type, y1, y - y1 AS dy, y1 - y2 AS dw,
      |    CAST(row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS BIGINT) AS t
      |  FROM dif WHERE y2 IS NOT NULL
      |), mom AS (
      |  SELECT user_id, event_type, count(*) AS m,
      |    sum(t) AS st, sum(y1) AS su, sum(dw) AS sw, sum(dy) AS sv,
      |    sum(CAST(t AS HUGEINT) * t) AS stt,
      |    sum(CAST(t AS HUGEINT) * y1) AS stu,
      |    sum(CAST(t AS HUGEINT) * dw) AS stw,
      |    sum(CAST(y1 AS HUGEINT) * y1) AS suu,
      |    sum(CAST(y1 AS HUGEINT) * dw) AS suw,
      |    sum(CAST(dw AS HUGEINT) * dw) AS sww,
      |    sum(CAST(t AS HUGEINT) * dy) AS stv,
      |    sum(CAST(y1 AS HUGEINT) * dy) AS suv,
      |    sum(CAST(dw AS HUGEINT) * dy) AS swv,
      |    sum(CAST(dy AS HUGEINT) * dy) AS svv
      |  FROM d2 GROUP BY 1, 2 HAVING count(*) >= 12
      |), aa AS (
      |  SELECT *,
      |    CAST(CAST(m AS HUGEINT) * stt - CAST(st AS HUGEINT) * st
      |      AS DOUBLE) AS a11,
      |    CAST(CAST(m AS HUGEINT) * stu - CAST(st AS HUGEINT) * su
      |      AS DOUBLE) AS a12,
      |    CAST(CAST(m AS HUGEINT) * stw - CAST(st AS HUGEINT) * sw
      |      AS DOUBLE) AS a13,
      |    CAST(CAST(m AS HUGEINT) * suu - CAST(su AS HUGEINT) * su
      |      AS DOUBLE) AS a22,
      |    CAST(CAST(m AS HUGEINT) * suw - CAST(su AS HUGEINT) * sw
      |      AS DOUBLE) AS a23,
      |    CAST(CAST(m AS HUGEINT) * sww - CAST(sw AS HUGEINT) * sw
      |      AS DOUBLE) AS a33,
      |    CAST(CAST(m AS HUGEINT) * stv - CAST(st AS HUGEINT) * sv
      |      AS DOUBLE) AS b1,
      |    CAST(CAST(m AS HUGEINT) * suv - CAST(su AS HUGEINT) * sv
      |      AS DOUBLE) AS b2,
      |    CAST(CAST(m AS HUGEINT) * swv - CAST(sw AS HUGEINT) * sv
      |      AS DOUBLE) AS b3
      |  FROM mom
      |), cof AS (
      |  SELECT *,
      |    a22 * a33 - a23 * a23 AS c11,
      |    a12 * a33 - a13 * a23 AS c12,
      |    a12 * a23 - a13 * a22 AS c13,
      |    a11 * a33 - a13 * a13 AS c22,
      |    a11 * a23 - a12 * a13 AS c23,
      |    a11 * a22 - a12 * a12 AS c33
      |  FROM aa
      |), ch AS (
      |  SELECT *, a11 * c11 - a12 * c12 + a13 * c13 AS ddet FROM cof
      |), ch2 AS (
      |  SELECT *,
      |    CASE WHEN ddet > 0 THEN
      |      (c11 * b1 - c12 * b2 + c13 * b3) / ddet END AS beta,
      |    CASE WHEN ddet > 0 THEN
      |      (-c12 * b1 + c22 * b2 - c23 * b3) / ddet END AS rho,
      |    CASE WHEN ddet > 0 THEN
      |      (c13 * b1 - c23 * b2 + c33 * b3) / ddet END AS gam
      |  FROM ch
      |), ch3 AS (
      |  SELECT *,
      |    (CAST(sv AS DOUBLE) - beta * CAST(st AS DOUBLE)
      |      - rho * CAST(su AS DOUBLE)
      |      - gam * CAST(sw AS DOUBLE)) / CAST(m AS DOUBLE) AS alpha
      |  FROM ch2
      |), ch4 AS (
      |  SELECT *,
      |    CAST(svv AS DOUBLE) - alpha * CAST(sv AS DOUBLE)
      |      - beta * CAST(stv AS DOUBLE)
      |      - rho * CAST(suv AS DOUBLE)
      |      - gam * CAST(swv AS DOUBLE) AS rss
      |  FROM ch3
      |), fin AS (
      |  SELECT user_id, event_type, m AS n_trans,
      |    CASE WHEN ddet > 0
      |      THEN CAST(floor(rho * 1000000.0 + 0.5) AS BIGINT) END AS rho6,
      |    CASE WHEN ddet > 0
      |      THEN CAST(floor(gam * 1000000.0 + 0.5) AS BIGINT) END AS gamma6,
      |    CASE WHEN ddet > 0 AND rss > 0 THEN
      |      CAST(floor(rho / sqrt(rss / (CAST(m AS DOUBLE) - 4.0)
      |        * CAST(m AS DOUBLE) * c22 / ddet)
      |        * 1000000.0 + 0.5) AS BIGINT) END AS adf_lag_t6
      |  FROM ch4
      |)
      |SELECT user_id, event_type, n_trans, rho6, gamma6, adf_lag_t6,
      |  CASE WHEN adf_lag_t6 < -3410000 THEN 1 ELSE 0 END
      |    AS trend_stationary_flag
      |FROM fin
      |ORDER BY user_id, event_type""".stripMargin

  /** q134: the same ten exact moment sums over (y_{t−1}, Δy_{t−1},
    * Δy_t), the same double-cast centered pieces, 2×2 Cramer solve,
    * back-substituted intercept, normal-equation RSS and one-chain
    * t(ρ̂) with the (ρ,ρ)-entry a22 and the D ≤ 0 guard.
    */
  val q134: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), dif AS (
      |  SELECT *,
      |    lag(y) OVER w AS y1,
      |    lag(y, 2) OVER w AS y2
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id, event_type
      |    ORDER BY ts, event_id)
      |), d2 AS (
      |  SELECT user_id, event_type, y1, y - y1 AS dy, y1 - y2 AS dw
      |  FROM dif WHERE y2 IS NOT NULL
      |), mom AS (
      |  SELECT user_id, event_type, count(*) AS m,
      |    sum(y1) AS su, sum(dw) AS sw, sum(dy) AS sv,
      |    sum(CAST(y1 AS HUGEINT) * y1) AS suu,
      |    sum(CAST(y1 AS HUGEINT) * dw) AS suw,
      |    sum(CAST(dw AS HUGEINT) * dw) AS sww,
      |    sum(CAST(y1 AS HUGEINT) * dy) AS suv,
      |    sum(CAST(dw AS HUGEINT) * dy) AS swv,
      |    sum(CAST(dy AS HUGEINT) * dy) AS svv
      |  FROM d2 GROUP BY 1, 2 HAVING count(*) >= 12
      |), aa AS (
      |  SELECT *,
      |    CAST(CAST(m AS HUGEINT) * suu - CAST(su AS HUGEINT) * su
      |      AS DOUBLE) AS a11,
      |    CAST(CAST(m AS HUGEINT) * suw - CAST(su AS HUGEINT) * sw
      |      AS DOUBLE) AS a12,
      |    CAST(CAST(m AS HUGEINT) * sww - CAST(sw AS HUGEINT) * sw
      |      AS DOUBLE) AS a22,
      |    CAST(CAST(m AS HUGEINT) * suv - CAST(su AS HUGEINT) * sv
      |      AS DOUBLE) AS b1,
      |    CAST(CAST(m AS HUGEINT) * swv - CAST(sw AS HUGEINT) * sv
      |      AS DOUBLE) AS b2
      |  FROM mom
      |), ch AS (
      |  SELECT *, a11 * a22 - a12 * a12 AS ddet FROM aa
      |), ch2 AS (
      |  SELECT *,
      |    CASE WHEN ddet > 0
      |      THEN (a22 * b1 - a12 * b2) / ddet END AS rho,
      |    CASE WHEN ddet > 0
      |      THEN (a11 * b2 - a12 * b1) / ddet END AS gam
      |  FROM ch
      |), ch3 AS (
      |  SELECT *,
      |    (CAST(sv AS DOUBLE) - rho * CAST(su AS DOUBLE)
      |      - gam * CAST(sw AS DOUBLE)) / CAST(m AS DOUBLE) AS alpha
      |  FROM ch2
      |), ch4 AS (
      |  SELECT *,
      |    CAST(svv AS DOUBLE) - alpha * CAST(sv AS DOUBLE)
      |      - rho * CAST(suv AS DOUBLE)
      |      - gam * CAST(swv AS DOUBLE) AS rss
      |  FROM ch3
      |), fin AS (
      |  SELECT user_id, event_type, m AS n_trans,
      |    CASE WHEN ddet > 0
      |      THEN CAST(floor(rho * 1000000.0 + 0.5) AS BIGINT) END AS rho6,
      |    CASE WHEN ddet > 0
      |      THEN CAST(floor(gam * 1000000.0 + 0.5) AS BIGINT) END AS gamma6,
      |    CASE WHEN ddet > 0 AND rss > 0 THEN
      |      CAST(floor(rho / sqrt(rss / (CAST(m AS DOUBLE) - 3.0)
      |        * CAST(m AS DOUBLE) * a22 / ddet)
      |        * 1000000.0 + 0.5) AS BIGINT) END AS adf_lag_t6
      |  FROM ch4
      |)
      |SELECT user_id, event_type, n_trans, rho6, gamma6, adf_lag_t6,
      |  CASE WHEN adf_lag_t6 < -2860000 THEN 1 ELSE 0 END
      |    AS stationary_flag
      |FROM fin
      |ORDER BY user_id, event_type""".stripMargin

  /** q130: the same close-collapse, complete-week filter, in-block
    * doubled mid-ranks (RANGE window + tie count), and the single
    * exact-integer Friedman ratio with the same NULL guards.
    */
  val q130: String =
    """WITH b AS (
      |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), cl AS (
      |  SELECT user_id, event_type, day, y FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type,
      |      day ORDER BY ts DESC, event_id DESC) AS rd
      |    FROM b)
      |  WHERE rd = 1
      |), wkd AS (
      |  SELECT user_id, event_type, y,
      |    ((CAST(day - DATE '1970-01-05' AS BIGINT) % 7) + 7) % 7 AS wd,
      |    CAST(day - DATE '1970-01-05' AS BIGINT) // 7 AS week
      |  FROM cl
      |), cmp AS (
      |  SELECT * FROM (
      |    SELECT *, count(*) OVER (PARTITION BY user_id, event_type,
      |      week) AS bn
      |    FROM wkd)
      |  WHERE bn = 7
      |), rnk AS (
      |  SELECT *,
      |    count(*) OVER (PARTITION BY user_id, event_type, week
      |      ORDER BY y RANGE BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING) AS cb,
      |    count(*) OVER (PARTITION BY user_id, event_type, week, y) AS t
      |  FROM cmp
      |), r2t AS (
      |  SELECT *, 2 * cb + t + 1 AS r2 FROM rnk
      |), bywd AS (
      |  SELECT user_id, event_type, wd, sum(r2) AS r2j,
      |    sum(t * t - 1) AS tiesj, count(*) AS nbj
      |  FROM r2t GROUP BY 1, 2, 3
      |), st AS (
      |  SELECT user_id, event_type,
      |    sum(CAST(r2j AS HUGEINT) * r2j) AS sr2,
      |    sum(tiesj) AS ties, max(nbj) AS nb
      |  FROM bywd GROUP BY 1, 2
      |), fin AS (
      |  SELECT user_id, event_type, nb,
      |    CASE WHEN nb >= 2 AND 336 * nb - ties > 0 THEN
      |      CAST(floor(CAST(6.0 AS DOUBLE)
      |        * CAST(3 * sr2 - 1344 * CAST(nb AS HUGEINT) * nb AS DOUBLE)
      |        / CAST(336 * nb - ties AS DOUBLE)
      |        * 1000000.0 + 0.5) AS BIGINT) END AS fried6
      |  FROM st
      |), spine AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |)
      |SELECT s.user_id, s.event_type,
      |  COALESCE(f.nb, 0) AS n_blocks, f.fried6,
      |  CASE WHEN f.fried6 > 12591600 THEN 1 ELSE 0 END AS weekday_flag
      |FROM spine s
      |LEFT JOIN fin f
      |  ON f.user_id = s.user_id AND f.event_type = s.event_type
      |ORDER BY s.user_id, s.event_type""".stripMargin

  /** p16: the five changepoint-component oracles as nested-WITH
    * subqueries left-joined on the catalog spine (p14's pattern),
    * with the same evidence-weighted eligible/vote arithmetic.
    */
  lazy val p16: String = {
    val elig = Seq("pt.sig_flag", "ch.break_flag", "sf.break_flag",
      "cs.var_break_flag", "bsf.binseg_flag")
    val nElig = elig
      .map(f => s"(CASE WHEN $f IS NOT NULL THEN 1 ELSE 0 END)")
      .mkString("\n       |    + ")
    val nVotes = elig.map(f => s"COALESCE($f, 0)")
      .mkString("\n       |    + ")
    s"""WITH spine AS (
       |  SELECT DISTINCT user_id, event_type FROM events
       |)
       |SELECT spine.user_id, spine.event_type,
       |  pt.cp_event_id AS mean_cp_event_id,
       |  pt.sig_flag AS mean_rank_flag,
       |  ch.f_chow6, ch.break_flag AS chow_flag,
       |  sf.break_t AS trend_break_t, sf.break_flag AS supf_flag,
       |  cs.break_ts AS var_break_ts, cs.var_break_flag,
       |  bsf.break1_ts AS mean_break_ts, bsf.n_breaks, bsf.binseg_flag,
       |  $nElig AS n_eligible,
       |  $nVotes AS n_votes,
       |  CASE WHEN ($nElig) < 3 THEN 'insufficient'
       |       WHEN ($nVotes) = 0 THEN 'stable'
       |       WHEN ($nVotes) = 1 THEN 'single-detector'
       |       ELSE 'corroborated' END AS verdict
       |FROM spine
       |LEFT JOIN ($q65) pt
       |  ON pt.user_id = spine.user_id AND pt.event_type = spine.event_type
       |LEFT JOIN ($q115) ch
       |  ON ch.user_id = spine.user_id AND ch.event_type = spine.event_type
       |LEFT JOIN ($q118) sf
       |  ON sf.user_id = spine.user_id AND sf.event_type = spine.event_type
       |LEFT JOIN ($q124) cs
       |  ON cs.user_id = spine.user_id AND cs.event_type = spine.event_type
       |LEFT JOIN (
       |  SELECT user_id, event_type, break1_ts, n_breaks,
       |    CASE WHEN n_breaks IS NULL THEN NULL
       |         WHEN n_breaks >= 1 THEN 1 ELSE 0 END AS binseg_flag
       |  FROM ($q128)
       |) bsf
       |  ON bsf.user_id = spine.user_id
       |  AND bsf.event_type = spine.event_type
       |ORDER BY spine.user_id, spine.event_type""".stripMargin
  }

  /** s14: the identical integer power iteration unrolled as
    * MATERIALIZED CTE rounds (s12's precedent) — w/u exact HUGEINT
    * moment joins, the sign-split positive `//` rescale, the
    * normalized factor series, and the shared OLS/IEEE residual
    * chain.
    */
  val s14: String = {
    val rounds = (1 to 4).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT x.event_type, x.day, SUM(CAST(x.r AS HUGEINT) * v.v) AS w
         |  FROM x JOIN v${k - 1} v ON v.user_id = x.user_id
         |    AND v.event_type = x.event_type
         |  GROUP BY 1, 2
         |), u$k AS MATERIALIZED (
         |  SELECT x.user_id, x.event_type,
         |    SUM(CAST(x.r AS HUGEINT) * w.w) AS u
         |  FROM x JOIN w$k w ON w.event_type = x.event_type
         |    AND w.day = x.day
         |  GROUP BY 1, 2
         |), m$k AS (
         |  SELECT event_type, MAX(ABS(u)) AS mx FROM u$k GROUP BY 1
         |), v$k AS MATERIALIZED (
         |  SELECT u.user_id, u.event_type,
         |    CASE WHEN m.mx > 0 THEN
         |      CASE WHEN u.u < 0 THEN -((ABS(u.u) * 1000000) // m.mx)
         |           ELSE (ABS(u.u) * 1000000) // m.mx END
         |      ELSE 0 END AS v
         |  FROM u$k u JOIN m$k m ON m.event_type = u.event_type
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH b AS (
       |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4l
       |  FROM events
       |), cl AS (
       |  SELECT user_id, event_type, day, v4l AS y FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type, day
       |      ORDER BY ts DESC, event_id DESC) AS rd
       |    FROM b
       |  ) WHERE rd = 1
       |), x AS MATERIALIZED (
       |  SELECT user_id, event_type, day, r FROM (
       |    SELECT *, y - lag(y) OVER (PARTITION BY user_id, event_type
       |      ORDER BY day) AS r
       |    FROM cl
       |  ) WHERE r IS NOT NULL
       |), v0 AS MATERIALIZED (
       |  SELECT DISTINCT user_id, event_type, CAST(1000000 AS HUGEINT) AS v
       |  FROM x
       |), $rounds, wf AS MATERIALIZED (
       |  SELECT x.event_type, x.day, SUM(CAST(x.r AS HUGEINT) * v.v) AS w
       |  FROM x JOIN v4 v ON v.user_id = x.user_id
       |    AND v.event_type = x.event_type
       |  GROUP BY 1, 2
       |), mw AS (
       |  SELECT event_type, MAX(ABS(w)) AS mxw FROM wf GROUP BY 1
       |), g AS MATERIALIZED (
       |  SELECT wf.event_type, wf.day,
       |    CASE WHEN m.mxw > 0 THEN
       |      CASE WHEN wf.w < 0 THEN -((ABS(wf.w) * 1000000) // m.mxw)
       |           ELSE (ABS(wf.w) * 1000000) // m.mxw END
       |      ELSE 0 END AS g
       |  FROM wf JOIN mw m ON m.event_type = wf.event_type
       |), j AS (
       |  SELECT x.user_id, x.event_type, x.r, g.g,
       |    row_number() OVER (PARTITION BY x.user_id, x.event_type
       |      ORDER BY x.day DESC) AS lr
       |  FROM x JOIN g ON g.event_type = x.event_type AND g.day = x.day
       |), sums AS (
       |  SELECT user_id, event_type, count(*) AS n_obs,
       |    SUM(CAST(r AS HUGEINT) * r) AS srr,
       |    SUM(CAST(r AS HUGEINT) * g) AS srf,
       |    SUM(CAST(g AS HUGEINT) * g) AS sff,
       |    MAX(CASE WHEN lr = 1 THEN r END) AS r_last,
       |    MAX(CASE WHEN lr = 1 THEN g END) AS g_last
       |  FROM j GROUP BY 1, 2
       |), fin AS (
       |  SELECT s.*, CAST(v.v AS BIGINT) AS load6,
       |    CASE WHEN s.sff > 0
       |      THEN CAST(s.srf AS DOUBLE) / CAST(s.sff AS DOUBLE) END AS bb
       |  FROM sums s JOIN v4 v ON v.user_id = s.user_id
       |    AND v.event_type = s.event_type
       |), fin2 AS (
       |  SELECT *,
       |    CAST(srr AS DOUBLE) - bb * bb * CAST(sff AS DOUBLE) AS sse,
       |    CAST(r_last AS DOUBLE) - bb * CAST(g_last AS DOUBLE) AS e_last
       |  FROM fin
       |), fin3 AS (
       |  SELECT user_id, event_type, n_obs, load6,
       |    CASE WHEN sff > 0
       |      THEN CAST(floor(bb * 1000000.0 + 0.5) AS BIGINT) END AS beta6,
       |    CASE WHEN sff > 0 AND sse > 0 AND n_obs >= 8 THEN
       |      CAST(floor(e_last / sqrt(sse / (n_obs - 1)) * 1000000.0 + 0.5)
       |        AS BIGINT) END AS z_last6
       |  FROM fin2
       |)
       |SELECT user_id, event_type, n_obs, load6, beta6, z_last6,
       |  CAST(CASE WHEN abs(z_last6) >= 3000000 THEN 1 ELSE 0 END AS INT)
       |    AS break_flag
       |FROM fin3
       |ORDER BY user_id, event_type""".stripMargin
  }
}
