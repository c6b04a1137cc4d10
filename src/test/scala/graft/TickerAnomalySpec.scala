package graft

import graft.operators.{AnomalyConfig, TickerAnomaly}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.scalatest.funsuite.AnyFunSuite

class TickerAnomalySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("detrended keeps at most dataPeriods rows per ticker") {
    val counts = TickerAnomaly
      .detrended(spark, dir)
      .groupBy("user_id", "event_type")
      .count()
      .collect()
    assert(counts.nonEmpty)
    assert(counts.forall(_.getLong(2) <= 10))
    assert(counts.forall(_.getLong(2) == 10),
      "min-history filter should leave exactly dataPeriods rows")
  }

  test("flags are 0/1 and anomaly is their disjunction") {
    val rows = TickerAnomaly
      .flags(spark, dir)
      .select("standard_deviation_flag", "data_repetitions_flag",
        "days_since_last_update_flag", "anomaly")
      .collect()
    rows.foreach { r =>
      val (sd, rep, stale, an) =
        (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
      assert(Set(0, 1)(sd) && Set(0, 1)(rep) && Set(0, 1)(stale))
      assert(an == (if (sd == 1 || rep == 1 || stale == 1) 1 else 0))
    }
  }

  test("report yields one row per surviving ticker") {
    val report = TickerAnomaly.report(spark, dir)
    val n = report.count()
    val tickers =
      TickerAnomaly.detrended(spark, dir)
        .select("user_id", "event_type").distinct().count()
    assert(n == tickers)
  }

  test("injected flatline raises data_repetitions_flag (func.R impute_fakes)") {
    // A ticker whose last 5 values repeat must trip the repetition run.
    val cfg = AnomalyConfig(repLim = 3)
    val reps = TickerAnomaly
      .repetitions(spark, dir, cfg)
      .filter(org.apache.spark.sql.functions.col("repeated_values") === 1)
    // synthetic data has few exact repeats; run-length logic is covered by
    // the DuckDB oracle — here we check runs never exceed island size.
    val bad = TickerAnomaly
      .repetitions(spark, dir, cfg)
      .filter(org.apache.spark.sql.functions.col("data_repetitions") >
        org.apache.spark.sql.functions.lit(10))
      .count()
    assert(bad == 0)
    assert(reps.count() >= 0)
  }

  test("whole window chain plans a single hash-partition shuffle") {
    val plan = TickerAnomaly.flags(spark, dir).queryExecution.executedPlan
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Seq[ShuffleExchangeExec] =
      p.collect {
        case s: ShuffleExchangeExec => Seq(s)
        case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      }.flatten
    val hashShuffles = shuffles(plan)
      .filterNot(_.outputPartitioning.toString.contains("range"))
    assert(hashShuffles.size <= 1,
      s"expected one hash shuffle for the whole chain, got:\n$plan")
  }
  test("report's executed plan: one hash exchange, no range exchange, " +
      "at most three sorts") {
    val df = TickerAnomaly.report(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val walk = new AdaptiveSparkPlanHelper {}
    val exchanges = walk.collect(plan) { case e: ShuffleExchangeLike => e }
    val hash = exchanges.count(_.outputPartitioning.isInstanceOf[HashPartitioning])
    val range = exchanges.count(_.outputPartitioning.isInstanceOf[RangePartitioning])
    // the chain's sort, the islands window's sort and the final sort
    val sorts = walk.collect(plan) { case s: SortExec => s }
    assert(hash == 1, s"expected one hash exchange, got $hash:\n$plan")
    assert(range == 0, s"expected no range exchange:\n$plan")
    assert(sorts.size <= 3, s"expected at most 3 sorts, got ${sorts.size}:\n$plan")
  }

  test("row_num/max_row_num equal the descending row_number and group " +
      "count under tied timestamps") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val t = (d: Int, h: Int) =>
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // timestamps repeat inside a ticker, event ids differ and run
    // against time order; ticker (2, "a") shares ts values with (1, "a")
    val rows = Seq(
      Row(1L, "a", 10L, t(3, 0), 1.0), Row(1L, "a", 4L, t(3, 0), 2.0),
      Row(1L, "a", 7L, t(3, 0), 3.0), Row(1L, "a", 2L, t(5, 6), 4.0),
      Row(1L, "a", 9L, t(5, 6), 5.0), Row(1L, "a", 30L, t(1, 0), 6.0),
      Row(1L, "b", 5L, t(2, 0), 7.0), Row(1L, "b", 3L, t(2, 0), 8.0),
      Row(2L, "a", 8L, t(3, 0), 9.0), Row(2L, "a", 1L, t(9, 0), 1.5),
      Row(2L, "a", 6L, t(9, 0), 2.5), Row(3L, "c", 11L, t(4, 0), 3.5))
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val events = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val key = Window.partitionBy("user_id", "event_type")
    val expected = events
      .select(col("event_id"),
        row_number().over(key.orderBy(col("ts").desc, col("event_id").desc))
          .as("rn"),
        count(lit(1)).over(key).cast("int").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val got = TickerAnomaly.rowDataFrom(events, AnomalyConfig())
      .select("event_id", "row_num", "max_row_num")
    assert(got.schema("row_num").dataType == IntegerType)
    assert(got.schema("max_row_num").dataType == IntegerType)
    val actual = got.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(actual == expected)
  }

  test("report rows are totally ordered by |z| desc, date desc, ticker") {
    val keys = Seq("absolute_standard_deviations_from_avg", "date_recorded",
      "user_id", "event_type")
    for (sf <- Seq(dir, dir.replace("sf0.001", "sf0.01"))) {
      val rows = TickerAnomaly.report(spark, sf).collect()
        .map(r => Row.fromSeq(keys.map(k => r.get(r.fieldIndex(k)))))
      assert(rows.length > 1, sf)
      // < 0 when a sorts first: |z| desc nulls last, date desc, key asc
      def cmp(a: Row, b: Row): Int = Seq(
        if (a.isNullAt(0) || b.isNullAt(0))
          java.lang.Boolean.compare(a.isNullAt(0), b.isNullAt(0))
        else java.lang.Double.compare(b.getDouble(0), a.getDouble(0)),
        b.getTimestamp(1).compareTo(a.getTimestamp(1)),
        java.lang.Long.compare(a.getLong(2), b.getLong(2)),
        a.getString(3).compareTo(b.getString(3))).find(_ != 0).getOrElse(0)
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(cmp(a, b) < 0, s"$sf: $a must sort strictly before $b")
        case _ =>
      }
    }
  }

  test("q103 incidents partition the flagged rows into maximal runs") {
    import org.apache.spark.sql.functions._
    val inc = TickerAnomaly.q103IncidentReport(spark, dir).collect()
    assert(inc.nonEmpty)
    val flagged = TickerAnomaly.flags(spark, dir)
      .filter(col("anomaly") === 1)
      .groupBy("user_id", "event_type").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // every flagged observation lands in exactly one incident
    val perKey = inc.groupBy(r => (r.getLong(0), r.getString(1)))
      .view.mapValues(_.map(_.getAs[Long]("n_events")).sum).toMap
    assert(perKey == flagged, s"$perKey vs $flagged")
    inc.foreach { r =>
      val n = r.getAs[Long]("n_events")
      assert(n >= 1 && r.getAs[Long]("duration_us") >= 0L, r.toString)
      // each flagged event carries at least one component flag
      assert(r.getAs[Long]("n_sd") + r.getAs[Long]("n_rep") +
        r.getAs[Long]("n_stale") >= n, r.toString)
    }
    // incidents within a key are disjoint and ordered
    inc.groupBy(r => (r.getLong(0), r.getString(1))).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Int]("incident_id"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[java.sql.Timestamp]("end_ts").getTime <
            b.getAs[java.sql.Timestamp]("start_ts").getTime, s"$a | $b")
        case _ =>
      }
    }
  }

  test("q126 flap detection: flips/rate/last_state recount exactly " +
      "from q09's verdict stream; flap rule needs rate AND volume") {
    val verdicts = TickerAnomaly.q09AnomalyFlags(spark, dir).collect()
      .map { r =>
        val ts = r.getAs[java.sql.Timestamp]("date_recorded")
        val us = ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
        ((r.getAs[Long]("user_id"), r.getAs[String]("event_type")),
          (us, r.getAs[Long]("event_id"), r.getAs[Int]("anomaly")))
      }
      .groupBy(_._1)
      .map { case (k, rs) => k -> rs.map(_._2).sortBy(t => (t._1, t._2))
        .map(_._3).toSeq }
    val out = TickerAnomaly.q126FlapDetection(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[String]("event_type"))
      val seq = verdicts(k)
      val flips = seq.sliding(2).count(p => p.size == 2 && p(0) != p(1))
      assert(r.getAs[Long]("n_obs") == seq.size, s"$k: $r")
      assert(r.getAs[Long]("n_alerts") == seq.map(_.toLong).sum, s"$k: $r")
      assert(r.getAs[Long]("n_flips") == flips, s"$k: $r")
      assert(r.getAs[Int]("last_state") == seq.last, s"$k: $r")
      if (seq.size > 1) {
        val rate = math.floor(
          flips.toDouble / (seq.size - 1) * 1e6 + 0.5).toLong
        assert(r.getAs[Long]("flip_rate6") == rate, s"$k: $r")
        assert(r.getAs[Int]("flapping_flag") ==
          (if (rate > 300000L && flips >= 6) 1 else 0), s"$k: $r")
      }
    }
  }
}
