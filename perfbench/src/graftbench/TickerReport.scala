package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.types._

import graft.operators.{AnomalyConfig, TickerAnomaly}

/** The `events` table and its `customer` dim, generated from a seed.
  *
  * Ticker k is (user_id = k / 4, event_type = one of four types), with a
  * Pareto-distributed history length (most tickers 16-30 days, a few
  * hundreds deep), one observation a day with a few hours of jitter,
  * and a random-walk value. About 1% of tickers with enough history get
  * each planted anomaly on their latest observation: a spike of 500
  * step deviations, a run of four equal values, or a last update 6-10
  * days before the evaluation instant.
  */
object TickerData {
  val Types: Array[String] = Array("click", "view", "error", "purchase")
  val Segments: Array[String] =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Normal = 0
  val Spike = 1
  val Repeat = 2
  val Stale = 3

  /** Evaluation instant of the report. */
  val EvalTs = "2024-06-01 00:00:00"
  val EvalUs: Long = java.time.LocalDateTime.parse(EvalTs.replace(' ', 'T'))
    .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  /** Thirty periods, so one spike among the z-score window can reach
    * (n-1)/sqrt(n) = 5.3 standard deviations; with the default ten it
    * cannot pass the 4.5 limit at all.
    */
  val Cfg: AnomalyConfig = AnomalyConfig(dataPeriods = 30, evalTs = EvalTs)

  final case class Meta(k: Int, len: Int, kind: Int) {
    def userId: Long = k / 4L
    def eventType: String = Types(k % 4)
  }

  /** Ticker k's history length is the Pareto quantile at its rank in
    * a seeded shuffle, so every seed has the same multiset of lengths
    * (and the same event count); only which ticker gets which changes.
    */
  def metas(seed: Long, tickers: Int): IndexedSeq[Meta] = {
    val r = Rng.of(seed, 1, 0)
    val rank = Array.range(0, tickers)
    for (i <- rank.indices.reverse) {
      val j = r.nextInt(i + 1); val t = rank(i); rank(i) = rank(j); rank(j) = t
    }
    (0 until tickers).map { k =>
      val q = (rank(k) + 0.5) / tickers
      meta(seed, k, math.min(800, (16.0 / math.pow(1.0 - q, 1.0 / 2.2)).toInt))
    }
  }

  private def meta(seed: Long, k: Int, len: Int): Meta = {
    val p = Rng.of(seed, 1, k + 1).nextDouble()
    val kind =
      if (len < Cfg.dataPeriods + 10) Normal
      else if (p < 0.01) Spike
      else if (p < 0.02) Repeat
      else if (p < 0.03) Stale
      else Normal
    Meta(k, len, kind)
  }

  def events(seed: Long, m: Meta): Iterator[Row] = {
    val r = Rng.of(seed, 2, m.k)
    val step = 0.5 + 1.5 * r.nextDouble()
    val endUs =
      if (m.kind == Stale) EvalUs - (6.0 * Time.DayUs + r.nextDouble() * 4.0 * Time.DayUs).toLong
      else EvalUs - Time.HourUs - (r.nextDouble() * 11.0 * Time.HourUs).toLong
    val values = new Array[Double](m.len)
    var v = 20.0 + 80.0 * r.nextDouble()
    var i = 0
    while (i < m.len) {
      v += step * r.nextGaussian()
      values(i) = math.rint(v * 100.0) / 100.0
      i += 1
    }
    val last = m.len - 1
    if (m.kind == Spike)
      values(last) = math.rint((values(last - 1) + 500.0 * step) * 100.0) / 100.0
    if (m.kind == Repeat)
      (last - 3 to last).foreach(j => values(j) = values(last - 4))
    Iterator.tabulate(m.len) { j =>
      val jitter = if (j == last) 0L
        else ((r.nextDouble() * 4.0 - 2.0) * Time.HourUs).toLong
      val us = endUs - (last - j) * Time.DayUs + jitter
      Row(m.k.toLong << 16 | j, Time.ts(us), m.userId, m.eventType, values(j))
    }
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  /** Writes `events` and `customer` under `dir`; returns every ticker's
    * metadata, from which the expected report follows.
    */
  def write(s: SparkSession, dir: String, seed: Long, tickers: Int,
      partitions: Int): IndexedSeq[Meta] = {
    val metas = TickerData.metas(seed, tickers)
    val rows = s.sparkContext.parallelize(metas, partitions)
      .flatMap(m => events(seed, m))
    s.createDataFrame(rows, eventSchema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val users = (tickers + 3) / 4
    val cust = s.sparkContext.parallelize(0 until users, partitions).map { u =>
      val r = Rng.of(seed, 3, u)
      Row(u.toLong, f"Customer#$u%09d", r.nextInt(25),
        math.rint(r.nextDouble() * 1000000.0) / 100.0,
        Segments(r.nextInt(Segments.length)))
    }
    s.createDataFrame(cust, customerSchema)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    metas
  }
}

/** Plan inspection through adaptive query stages. */
object Plans extends AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.catalyst.expressions.aggregate.StddevSamp

  /** The z-score's stddev window and the islands window (partitioned by
    * the running reset count) are both still executed.
    */
  def keepsZscoreAndIslands(plan: SparkPlan): Boolean = {
    val windows = collect(plan) { case w: WindowExecBase => w }
    val zscore = windows.exists(_.windowExpression.exists(
      _.find(_.isInstanceOf[StddevSamp]).isDefined))
    val islands = windows.exists(_.partitionSpec.exists(
      _.references.exists(_.name == "reset_reps_sum")))
    zscore && islands
  }

  /** Size of the files the plan's scans read, from the scan nodes'
    * own metric: the task input-bytes metric misses most of what the
    * vectorized parquet reader reads from a local file system.
    */
  def scanBytes(plan: SparkPlan): Long =
    collect(plan) { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .flatMap(_.metrics.get("filesSize")).map(_.value).sum

  def exchanges(plan: SparkPlan): Int =
    collect(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
}

/** `ticker_report`: the full daily anomaly report, closed loop, one
  * client. Each operation collects the whole report (no count(), which
  * would let the optimizer drop the stats, z-score and islands windows)
  * and checks it.
  */
object TickerReport extends Workload {
  val Tickers = 12000

  def run(o: Opts): Result = {
    val t0 = System.nanoTime()
    val spark = Session.build(o)
    val sessionS = Jvm.secondsSince(t0)
    val dir = s"${o.work}/tables"
    val metas = TickerData.write(spark, dir, o.seed, Tickers, o.cores * 2)
    val genS = Jvm.secondsSince(t0) - sessionS
    val cfg = TickerData.Cfg
    val expectedRows = metas.count(_.len >= cfg.dataPeriods)
    val planted = metas.filter(_.kind != TickerData.Normal)

    // One report, collected, checked against the planted anomalies.
    // The first (warm-up) run also fixes the checksum later runs must
    // reproduce and proves the executed plan still holds the windows.
    var checksum: Option[Long] = None
    var planOk = false
    var recall = 1.0
    def check(rows: Array[Row]): Boolean = {
      val byKey = rows.map(r => (r.getAs[Long]("user_id"),
        r.getAs[String]("event_type")) -> r).toMap
      val found = planted.count { m =>
        byKey.get((m.userId, m.eventType)).exists { r =>
          val col = m.kind match {
            case TickerData.Spike => "standard_deviation_flag"
            case TickerData.Repeat => "data_repetitions_flag"
            case _ => "days_since_last_update_flag"
          }
          r.getAs[Int](col) == 1 && r.getAs[Int]("anomaly") == 1
        }
      }
      recall = math.min(recall, found.toDouble / planted.size)
      val sum = rows.foldLeft(0L)((acc, r) => acc * 31 + r.hashCode)
      val sumOk = checksum.forall(_ == sum)
      if (checksum.isEmpty) checksum = Some(sum)
      planOk && found == planted.size && sumOk && rows.length == expectedRows
    }
    def report(): Array[Row] = {
      val df = TickerAnomaly.report(spark, dir, cfg)
      val rows = df.collect()
      if (checksum.isEmpty)
        planOk = Plans.keepsZscoreAndIslands(df.queryExecution.executedPlan)
      rows
    }
    // the first report runs cold; the JIT is still settling during the
    // second
    val warmOk = check(report()) & check(report())
    val setupS = Jvm.secondsSince(t0)

    val loop = new ClosedLoop
    val untracedS = if (o.trace) o.seconds / 2 else o.seconds
    loop.run(untracedS, 1)(() => check(report()))
    val notes = Seq(
      s"events ${metas.map(_.len.toLong).sum} (${parquetBytes(s"$dir/events.parquet")} parquet bytes), " +
        s"tickers $Tickers, report rows $expectedRows, " +
        s"planted ${planted.size}, plan keeps z-score and islands windows: $planOk",
      f"setup: session $sessionS%.2f s, generate $genS%.2f s, warm-up ${setupS - sessionS - genS}%.2f s",
      loop.note)
    val failed = loop.failed + (if (warmOk) 0 else 1)
    if (!o.trace)
      Result(loop.attempted + 2, failed, loop.endToEnd(setupS, recall), notes)
    else {
      val (layers, tracedOk) = traced(spark, dir, cfg, o, check)
      val overhead = layers("operators.report_span_ms") -
        Stats.median(loop.latencyMs.toSeq)
      Result(loop.attempted + 2 + tracedOk._1, failed + tracedOk._2,
        Layers.metrics(layers - "operators.report_span_ms" +
          ("trace.overhead_ms" -> overhead)), notes)
    }
  }

  private def parquetBytes(path: String): Long =
    Option(new java.io.File(path).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum

  private val stages = Seq("row_data", "detrended", "stats", "zscored",
    "repetitions", "flags")

  /** Traced operations for `o.seconds / 2` (at least one): a scan of
    * the events table, then each public stage of the chain executed on
    * its own, then the report. Each contains the one before, so a
    * stage's self time is its span minus the previous one's.
    */
  private def traced(spark: SparkSession, dir: String, cfg: AnomalyConfig,
      o: Opts, check: Array[Row] => Boolean): (Map[String, Double], (Long, Long)) = {
    val tr = new Tracer(spark)
    val per = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted = 0L
    var failed = 0L
    val t0 = System.nanoTime()
    while (per.isEmpty || Jvm.secondsSince(t0) < o.seconds / 2) {
      tr.nextOp()
      tr.span("sources.events_scan")(Session.noop(graft.Tables.events(spark, dir)))
      val dfs = Seq(
        TickerAnomaly.rowData(spark, dir, cfg), TickerAnomaly.detrended(spark, dir, cfg),
        TickerAnomaly.stats(spark, dir, cfg), TickerAnomaly.zscored(spark, dir, cfg),
        TickerAnomaly.repetitions(spark, dir, cfg), TickerAnomaly.flags(spark, dir, cfg))
      val stageS = stages.zip(dfs).map { case (n, df) =>
        tr.span(s"operators.$n")(Session.noop(df))
        tr.named(s"operators.$n").last.seconds
      }
      val df = TickerAnomaly.report(spark, dir, cfg)
      val rows = tr.span("operators.report")(df.collect())
      attempted += 1
      if (!check(rows)) failed += 1
      tr.drain()
      val rep = tr.named("operators.report").last
      val scan = tr.named("sources.events_scan").last
      val c = tr.countersOf(rep)
      val plan = df.queryExecution
      val planMs = plan.tracker.phases.values.map(_.durationMs).sum.toDouble
      // scan -> row_data -> ... -> flags -> report, each containing the last
      val selfS = (scan.seconds +: stageS :+ rep.seconds).sliding(2)
        .map { case Seq(prev, cur) => cur - prev }.toSeq
      per += ((stages :+ "report").zip(selfS).map { case (n, v) =>
        s"operators.${n}_self_s" -> v }.toMap ++ Map(
        "sources.events_scan_s" -> scan.seconds,
        "sources.bytes_read" -> Plans.scanBytes(plan.executedPlan).toDouble,
        "session.plan_ms" -> planMs,
        "operators.shuffle_bytes" -> c.shuffleWriteBytes.get.toDouble,
        "operators.spill_bytes" -> c.spillBytes.get.toDouble,
        "operators.exchanges" -> Plans.exchanges(plan.executedPlan).toDouble,
        "operators.core_busy_frac" -> c.runTimeMs.get / 1000.0 / (rep.seconds * o.cores),
        "jvm.gc_s" -> rep.gcMs / 1000.0,
        "operators.report_span_ms" -> rep.seconds * 1000.0))
    }
    tr.close()
    tr.write(s"${o.work}/../traces/ticker_report-seed${o.seed}.jsonl")
    (Stats.medians(per.toSeq), (attempted, failed))
  }
}
