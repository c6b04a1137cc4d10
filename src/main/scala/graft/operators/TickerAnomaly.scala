package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Thresholds and the evaluation instant for the ticker anomaly
  * pipeline. Mirrors the reference's declared script variables
  * (anomaly_proj_query.sql:1-16): data_periods, stddev_lim,
  * value_rep_lim, update_lim — sized to this dataset's ~13 rows per
  * ticker. `evalTs` replaces the reference's `current_date` so results
  * are reproducible.
  *
  * The stddev flag needs a long enough window to fire at all: the
  * z-score of one value among n is at most (n−1)/√n (Samuelson's
  * bound), so `stddevLim` = 4.5 is reachable only with `dataPeriods` ≥
  * 23. With the defaults z is at most 9/√10 ≈ 2.85 and the 4.5σ flag
  * never fires, neither in the batch chain (q09/q10 and `AnomalyOracle`
  * use 10) nor in st02/st30 called with `AnomalyConfig()`. The registered
  * st02/st30 entries pass the reference's 28.
  */
case class AnomalyConfig(
    dataPeriods: Int = 10,
    stddevLim: Double = 4.5,
    repLim: Int = 3,
    updateLim: Double = 1.0,
    evalTs: String = "2024-02-01 00:00:00"
)

/** The reference's windowed anomaly pipeline (anomaly_proj_query.sql),
  * re-staged as composable DataFrame transforms over
  * `events(user_id, event_type, ts, value)` — ticker key =
  * (user_id, event_type), mirroring the reference's
  * (index_id, granularity_item_id).
  *
  * Scale design: every stage windows over the SAME partition key, so
  * Catalyst plans ONE hash-partition exchange for the whole chain —
  * lag, rolling mean, row numbers, per-key stats, islands and flags all
  * run inside that single shuffle's partitions. Every window from
  * row_data through the z-score's running reset count also shares ONE
  * order (`date_recorded`, `event_id`), so those stages run over a
  * single sort in three window operators; the descending row number is
  * derived from it (group count − ascending rank + 1) instead of
  * re-sorting descending. The only other chain sort is the islands
  * window's (its key adds `reset_reps_sum`), over at most
  * `dataPeriods` rows per ticker. The dim join at the end is
  * broadcast, and the report's final sort runs in one partition
  * rather than behind a range exchange, whose sampling pass would
  * compute the whole uncached chain a second time. No driver-side
  * loops, no UDFs — all codegen'd built-ins.
  */
object TickerAnomaly {

  private val keyCols = Seq(col("user_id"), col("event_type"))

  /** The chain's one window order; `wAll` is its whole-ticker frame. */
  private def wAsc =
    Window.partitionBy(keyCols: _*).orderBy(col("date_recorded"), col("event_id"))
  private def wAll =
    wAsc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  private def evalTsCol(cfg: AnomalyConfig): Column =
    lit(cfg.evalTs).cast("timestamp")

  /** Stage 1 — `row_data` (sql:20-52): per-ticker lag/lead context,
    * descending row_number, rolling prior-7 mean.
    */
  def rowData(s: SparkSession, dir: String, cfg: AnomalyConfig = AnomalyConfig()): DataFrame =
    rowDataFrom(Tables.events(s, dir), cfg)

  /** df-based stage entry so callers can pre-transform events (e.g.
    * fault injection, streaming micro-batches) and reuse the chain.
    */
  def rowDataFrom(events: DataFrame, cfg: AnomalyConfig): DataFrame = {
    val n = count(lit(1)).over(wAll)
    events
      .filter(col("ts") <= evalTsCol(cfg))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("date_recorded"), col("value"))
      .select(
        col("user_id"),
        col("event_type"),
        col("event_id"),
        col("date_recorded"),
        lag(col("date_recorded"), 1).over(wAsc).as("last_date"),
        evalTsCol(cfg).as("run_date"),
        max(col("date_recorded")).over(wAll).as("most_recent_date"),
        // row_number over (ts desc, event_id desc): that order is the
        // exact reverse of wAsc, so no descending sort is needed
        (n - row_number().over(wAsc) + 1).cast("int").as("row_num"),
        round(col("value"), 4).as("value"),
        round(lag(col("value"), 1).over(wAsc), 4).as("previous_value"),
        round(avg(col("value")).over(wAsc.rowsBetween(-7, -1)), 4)
          .as("previous_seven_period_avg"),
        n.cast("int").as("max_row_num")
      )
  }

  /** Stage 2 — `detrended_data` (sql:54-68): absolute one-period
    * difference + inter-arrival gap, keep the latest `dataPeriods`
    * rows of tickers with at least that much history (func.R:59-66).
    */
  def detrended(s: SparkSession, dir: String, cfg: AnomalyConfig = AnomalyConfig()): DataFrame =
    detrendedFrom(rowData(s, dir, cfg), cfg)

  def detrendedFrom(rowData: DataFrame, cfg: AnomalyConfig): DataFrame =
    rowData
      .withColumn(
        "absolute_one_period_difference",
        abs(round(col("value") - col("previous_value"), 4)))
      .withColumn(
        "time_diff_us",
        unix_micros(col("date_recorded")) - unix_micros(col("last_date")))
      .filter(col("row_num") <= cfg.dataPeriods &&
        col("max_row_num") >= cfg.dataPeriods)

  /** Stage 3 — `stats_data` (sql:69-97): per-ticker mean + sample
    * stddev of the abs diff, repetition / reset indicators.
    */
  def stats(s: SparkSession, dir: String, cfg: AnomalyConfig = AnomalyConfig()): DataFrame =
    statsFrom(detrended(s, dir, cfg), cfg)

  def statsFrom(detrended: DataFrame, cfg: AnomalyConfig): DataFrame =
    detrended
      .withColumn("average",
        round(avg(col("absolute_one_period_difference")).over(wAll), 4))
      .withColumn("standard_deviation",
        round(stddev_samp(col("absolute_one_period_difference")).over(wAll), 4))
      .withColumn("avg_gap_us", avg(col("time_diff_us")).over(wAll))
      .withColumn("repeated_values",
        when(col("absolute_one_period_difference") === 0, 1).otherwise(0))
      .withColumn("reset_count",
        when(col("absolute_one_period_difference") === 0, 0).otherwise(1))

  /** Stage 4 — `stddev_data` (sql:98-120): staleness measures,
    * z-score with zero-variance guard, island ids for repetition runs.
    * Gap units: exact fractional days from µs, rather than the
    * reference's EXTRACT(HOUR)/24 approximation (sql:100-104) — same
    * intent, no truncation artifact.
    */
  def zscored(s: SparkSession, dir: String, cfg: AnomalyConfig = AnomalyConfig()): DataFrame =
    zscoredFrom(stats(s, dir, cfg), cfg)

  def zscoredFrom(stats: DataFrame, cfg: AnomalyConfig): DataFrame = {
    val wCum = wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stats
      .withColumn("avg_days_bw_data", col("avg_gap_us") / lit(86400e6))
      .withColumn(
        "days_since_last_update",
        (unix_micros(evalTsCol(cfg)) - unix_micros(col("date_recorded"))) / lit(86400e6))
      .withColumn(
        "absolute_standard_deviations_from_avg",
        when(col("standard_deviation") =!= 0,
          round(
            abs(col("absolute_one_period_difference") - col("average")) /
              col("standard_deviation"), 4)).otherwise(0))
      .withColumn("reset_reps_sum", sum(col("reset_count")).over(wCum))
  }

  /** Stage 5 — `repeated_data` (sql:121-133): gaps-and-islands —
    * cumulative run length of consecutive repeated values, restarting
    * at each value change (island id = running reset count).
    */
  def repetitions(s: SparkSession, dir: String, cfg: AnomalyConfig = AnomalyConfig()): DataFrame =
    repetitionsFrom(zscored(s, dir, cfg), cfg)

  def repetitionsFrom(zscored: DataFrame, cfg: AnomalyConfig): DataFrame = {
    val wIsland = Window
      .partitionBy((keyCols :+ col("reset_reps_sum")): _*)
      .orderBy(col("date_recorded"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    zscored
      .withColumn(
        "data_repetitions",
        sum(when(col("reset_count") === 1, 1).otherwise(col("repeated_values")))
          .over(wIsland))
  }

  /** Stage 6 — `flag_data` (sql:134-150): threshold flags. */
  def flags(s: SparkSession, dir: String, cfg: AnomalyConfig = AnomalyConfig()): DataFrame =
    flagsFrom(repetitions(s, dir, cfg), cfg)

  /** Full flag chain from a raw events DataFrame. */
  def flagsFromEvents(events: DataFrame, cfg: AnomalyConfig = AnomalyConfig()): DataFrame =
    flagsFrom(repetitionsFrom(zscoredFrom(statsFrom(detrendedFrom(
      rowDataFrom(events, cfg), cfg), cfg), cfg), cfg), cfg)

  def flagsFrom(repetitions: DataFrame, cfg: AnomalyConfig): DataFrame =
    repetitions
      .withColumn("standard_deviation_flag",
        when(col("absolute_standard_deviations_from_avg") >= cfg.stddevLim, 1)
          .otherwise(0))
      .withColumn("data_repetitions_flag",
        when(col("data_repetitions") >= cfg.repLim, 1).otherwise(0))
      .withColumn("days_since_last_update_flag",
        when(col("days_since_last_update") >
          lit(cfg.updateLim) * col("avg_days_bw_data"), 1).otherwise(0))
      .withColumn("anomaly",
        when(col("standard_deviation_flag") === 1 ||
          col("data_repetitions_flag") === 1 ||
          col("days_since_last_update_flag") === 1, 1).otherwise(0))

  /** Final report (sql:152-230): latest observation per ticker, signed
    * z-score, broadcast dim join (customer ≈ indx_index_definition),
    * ordered by severity.
    *
    * Measured vs DECLARED frequency (reference sql:183-184 carries the
    * dim's `frequency AS data_pull_frequency` beside the measured
    * inter-arrival gap; func.R:158-166 renames the joined pair to
    * `frequency` / `alleged_freq`): the report puts the dim-declared
    * cadence beside the measured `avg_days_bw_data` and re-issues the
    * staleness verdict against the DECLARED value. TPC-H's customer
    * dim has no frequency attribute, so the declared cadence is derived
    * deterministically from the dim key (c_custkey % 3 + 1 days) on
    * both engines — the report SHAPE is the reference's, the synthetic
    * attribute is oracle-reproducible.
    */
  def report(s: SparkSession, dir: String, cfg: AnomalyConfig = AnomalyConfig()): DataFrame = {
    val cust = Tables.customer(s, dir)
    val allegedFreq = (col("c_custkey") % 3 + 1).cast("int")
    flags(s, dir, cfg)
      .filter(col("date_recorded") === col("most_recent_date"))
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .select(
        col("anomaly"),
        col("standard_deviation_flag"),
        col("data_repetitions_flag"),
        col("days_since_last_update_flag"),
        col("value"),
        col("previous_value"),
        col("previous_seven_period_avg"),
        col("absolute_one_period_difference"),
        col("average"),
        col("standard_deviation"),
        col("absolute_standard_deviations_from_avg"),
        when(col("value") - col("previous_value") < 0,
          -col("absolute_standard_deviations_from_avg"))
          .otherwise(col("absolute_standard_deviations_from_avg"))
          .as("standard_deviations_from_avg"),
        col("data_repetitions"),
        col("date_recorded"),
        col("run_date"),
        col("c_name").as("ticker"),
        col("event_type").as("granularity"),
        col("c_mktsegment").as("ticker_segment"),
        col("avg_days_bw_data"),
        col("days_since_last_update"),
        allegedFreq.as("alleged_frequency_days"),
        when(col("days_since_last_update") >
          lit(cfg.updateLim) * allegedFreq, 1).otherwise(0)
          .as("alleged_staleness_flag"),
        col("user_id"),
        col("event_type")
      )
      // one row per ticker, collected whole: a single-partition sort
      // instead of orderBy's range exchange, whose sampling job would
      // run the uncached window chain twice
      .repartition(1)
      .sortWithinPartitions(
        col("absolute_standard_deviations_from_avg").desc_nulls_last,
        col("date_recorded").desc,
        col("user_id"),
        col("event_type"))
  }

  // ---- driver-facing query wrappers (stable column sets + total order) ----

  private def ordered(df: DataFrame, cols: String*)(sort: Column*): DataFrame =
    df.select(cols.map(col): _*).orderBy(sort: _*)

  private val keyOrder =
    Seq(col("user_id"), col("event_type"), col("date_recorded"), col("event_id"))

  def q01LagDiff(s: SparkSession, dir: String): DataFrame =
    ordered(
      rowData(s, dir).withColumn(
        "abs_one_period_diff",
        abs(round(col("value") - col("previous_value"), 4))),
      "user_id", "event_type", "event_id", "date_recorded", "last_date",
      "value", "previous_value", "abs_one_period_diff")(keyOrder: _*)

  def q02RollingAvg(s: SparkSession, dir: String): DataFrame =
    ordered(rowData(s, dir),
      "user_id", "event_type", "event_id", "date_recorded", "value",
      "previous_seven_period_avg")(keyOrder: _*)

  def q03TopnPerKey(s: SparkSession, dir: String): DataFrame =
    ordered(rowData(s, dir).filter(col("row_num") <= 5),
      "user_id", "event_type", "event_id", "date_recorded", "row_num",
      "value")(keyOrder: _*)

  def q04MinHistoryFilter(s: SparkSession, dir: String): DataFrame =
    rowData(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("row_num")).as("n_obs"),
        max(col("date_recorded")).as("latest"))
      .filter(col("n_obs") >= 10)
      .orderBy(col("user_id"), col("event_type"))

  def q05WindowStats(s: SparkSession, dir: String): DataFrame =
    ordered(stats(s, dir),
      "user_id", "event_type", "event_id", "date_recorded",
      "absolute_one_period_difference", "average", "standard_deviation")(
      keyOrder: _*)

  def q06Zscore(s: SparkSession, dir: String): DataFrame =
    ordered(zscored(s, dir),
      "user_id", "event_type", "event_id", "date_recorded",
      "absolute_one_period_difference", "average", "standard_deviation",
      "absolute_standard_deviations_from_avg")(keyOrder: _*)

  def q07IslandsRepetition(s: SparkSession, dir: String): DataFrame =
    ordered(repetitions(s, dir),
      "user_id", "event_type", "event_id", "date_recorded",
      "repeated_values", "reset_count", "reset_reps_sum",
      "data_repetitions")(keyOrder: _*)

  def q08Staleness(s: SparkSession, dir: String): DataFrame =
    zscored(s, dir)
      .filter(col("date_recorded") === col("most_recent_date"))
      .select(col("user_id"), col("event_type"), col("date_recorded"),
        col("avg_days_bw_data"), col("days_since_last_update"))
      .orderBy(col("user_id"), col("event_type"))

  /** q103: anomaly INCIDENT report — q09's per-event verdicts rolled
    * into contiguous INCIDENTS (q07's gaps-and-islands applied to the
    * anomaly flag itself): consecutive flagged observations per ticker
    * collapse to one row with start/end, exact µs duration, event
    * count, peak |z| and the per-detector flag tally. The on-call
    * view — q09 pages per OBSERVATION; a 3-day degradation is ONE
    * incident with a shape, not 17 pages.
    *
    * Determinism: islands are the classic rn − rn-over-flagged
    * difference on the chain's already-deterministic order; every
    * aggregate is an exact min/max/count/sum over already
    * oracle-matched columns (peak z rides q06's rounded value);
    * duration is an exact integer µs difference, no date semantics.
    *
    * Scale shape: the chain's ONE ticker exchange carries both
    * row_numbers and the island groupBy (key-prefix partitioning);
    * the incident_id window sees incident-count-sized groups.
    */
  def q103IncidentReport(s: SparkSession, dir: String,
      cfg: AnomalyConfig = AnomalyConfig()): DataFrame = {
    val isl = flags(s, dir, cfg)
      .withColumn("rn_all", row_number().over(wAsc))
      .filter(col("anomaly") === 1)
      .withColumn("grp", col("rn_all") - row_number().over(wAsc))
    isl.groupBy(col("user_id"), col("event_type"), col("grp"))
      .agg(
        min(col("date_recorded")).as("start_ts"),
        max(col("date_recorded")).as("end_ts"),
        count(lit(1)).as("n_events"),
        max(col("absolute_standard_deviations_from_avg")).as("peak_z"),
        sum(col("standard_deviation_flag")).as("n_sd"),
        sum(col("data_repetitions_flag")).as("n_rep"),
        sum(col("days_since_last_update_flag")).as("n_stale"))
      // grp tie-break: two islands can share start_ts under duplicate
      // date_recorded values; grp is monotone in chain position
      .withColumn("incident_id",
        row_number().over(Window.partitionBy(col("user_id"),
          col("event_type")).orderBy(col("start_ts"), col("grp"))))
      .select(col("user_id"), col("event_type"), col("incident_id"),
        col("start_ts"), col("end_ts"),
        (unix_micros(col("end_ts")) - unix_micros(col("start_ts")))
          .as("duration_us"),
        col("n_events"), col("peak_z"), col("n_sd"), col("n_rep"),
        col("n_stale"))
      .orderBy(col("user_id"), col("event_type"), col("incident_id"))
  }

  def q09AnomalyFlags(s: SparkSession, dir: String): DataFrame =
    ordered(flags(s, dir),
      "user_id", "event_type", "event_id", "date_recorded",
      "standard_deviation_flag", "data_repetitions_flag",
      "days_since_last_update_flag", "anomaly")(keyOrder: _*)

  /** q126: ALERT FLAP DETECTION — the meta-detector an on-call
    * rotation needs once q09 pages per observation: a ticker whose
    * anomaly verdict TOGGLES constantly (marginal z hovering at the
    * bar, a repetition run breaking and reforming) produces more
    * pages than signal, and the textbook response is flap
    * suppression (hold the alert until the state is stable — the
    * same rule network monitors apply to interface up/down storms).
    * Per ticker: count verdict transitions over the chain's order,
    * flip rate = flips/(n−1), flapping once the rate clears 0.3 AND
    * at least 6 flips (a 2-print ticker that toggled once is not a
    * storm); last_state says whether the ticker is currently paging.
    *
    * Determinism: flips are integer comparisons on q09's already
    * oracle-matched verdict column over the chain's deterministic
    * (date_recorded, event_id) order; the rate is ONE IEEE division
    * 1e-6-floored.
    *
    * Scale shape: rides the chain's ONE ticker exchange — the lag,
    * the last-state rank and the groupBy all reuse it, and the rank is
    * count − ascending rank + 1, so it shares the lag's sort.
    */
  def q126FlapDetection(s: SparkSession, dir: String,
      cfg: AnomalyConfig = AnomalyConfig()): DataFrame = {
    val fl = flags(s, dir, cfg)
      .withColumn("prev", lag(col("anomaly"), 1).over(wAsc))
      .withColumn("flip", when(col("prev").isNotNull &&
        col("anomaly") =!= col("prev"), 1L).otherwise(0L))
      // descending rank as count − ascending rank + 1: no second sort
      .withColumn("lrk", count(lit(1)).over(wAll) - row_number().over(wAsc) + 1)
    fl.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("anomaly")).cast("long").as("n_alerts"),
        sum(col("flip")).as("n_flips"),
        max(when(col("lrk") === 1, col("anomaly"))).as("last_state"))
      .withColumn("flip_rate6", when(col("n_obs") > 1,
        floor(col("n_flips").cast("double") /
          (col("n_obs") - 1).cast("double") * lit(1000000.0) +
          lit(0.5)).cast("long")))
      .select(col("user_id"), col("event_type"), col("n_obs"),
        col("n_alerts"), col("n_flips"), col("last_state"),
        col("flip_rate6"),
        when(col("flip_rate6") > 300000L && col("n_flips") >= 6, 1)
          .otherwise(0).as("flapping_flag"))
      .orderBy(col("user_id"), col("event_type"))
  }

  def q10AnomalyReport(s: SparkSession, dir: String): DataFrame =
    report(s, dir)
}
