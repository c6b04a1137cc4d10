package graft

import graft.operators.{ScaleOps, SignalOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SignalOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("q19 closed form equals the textbook CUSUM recursion") {
    val out = SignalOps.q19Cusum(spark, dir)
      .filter(col("user_id") === 1)
      .orderBy(col("event_type"), col("date_recorded"), col("event_id"))
      .select("event_type", "zscore6", "cusum_pos", "cusum_neg",
        "changepoint_flag")
      .collect()
    assert(out.nonEmpty)
    val k = 0.5
    var key = ""
    var sPos = 0.0
    var sNeg = 0.0
    out.foreach { r =>
      if (r.getString(0) != key) { key = r.getString(0); sPos = 0; sNeg = 0 }
      val z = r.getDouble(1)
      sPos = math.max(0.0, sPos + z - k)
      sNeg = math.max(0.0, sNeg - z - k)
      assert(math.abs(r.getDouble(2) - sPos) < 1e-9,
        s"cusum_pos mismatch at $r (want $sPos)")
      assert(math.abs(r.getDouble(3) - sNeg) < 1e-9,
        s"cusum_neg mismatch at $r (want $sNeg)")
      val wantFlag = if (sPos > 5.0 + 1e-12 || sNeg > 5.0 + 1e-12) 1 else 0
      assert(r.getInt(4) == wantFlag, s"flag mismatch at $r")
    }
  }

  test("q19 flags a planted persistent mean shift the z-threshold misses") {
    // series with a +1.5-sigma-ish sustained shift in the second half:
    // each point is unremarkable, the accumulated drift is not
    import spark.implicits._
    val vals = (1 to 40).map(i => if (i <= 20) 10.0 + (i % 3) * 0.1
      else 11.0 + (i % 3) * 0.1)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, "shift", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q19spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q19Cusum(spark, tmp)
    assert(out.filter(col("changepoint_flag") === 1).count() > 0,
      "sustained shift must trip the CUSUM")
    val maxZ = out.agg(max(abs(col("zscore6")))).head.getDouble(0)
    assert(maxZ < 4.5, s"per-point z stays under the q09 threshold ($maxZ)")
  }

  test("q89 drawdown: exact peak/drawdown/island stats on a planted path") {
    import spark.implicits._
    // path 10 8 9 7 12 11: peaks 10..10,12,12; dd 0 2 1 3 0 1;
    // underwater flags 0 1 1 1 0 1 -> runs of 3 and 1
    val vals = Seq(10.0, 8.0, 9.0, 7.0, 12.0, 11.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, "dd", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 00:${i}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q89spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val r = SignalOps.q89Drawdown(spark, tmp).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_obs") == 6L && row.getAs[Double]("peak") == 12.0)
    assert(row.getAs[Double]("max_drawdown") == 3.0, row.toString)
    // worst fraction: dd 3.0 against the 10.0 peak = 300000 ppm
    assert(row.getAs[Long]("max_dd_frac6") == 300000L, row.toString)
    assert(row.getAs[Long]("n_underwater") == 4L &&
      row.getAs[Long]("max_underwater_run") == 3L, row.toString)
  }

  test("q90 Theil-Sen: outlier day leaves the pairwise-slope median put") {
    import spark.implicits._
    // clean daily closes y = 2 + x for 9 days, one wrecked day (+50):
    // OLS slope moves ~unbounded, the Theil-Sen median stays 1.0/day
    val df = (0 until 9).map { i =>
      val v = if (i == 4) 56.0 else 2.0 + i
      (1L, "ts", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-0${i + 1}%d 10:00:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q90spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val r = SignalOps.q90TheilSen(spark, tmp).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_obs") == 9L &&
      row.getAs[Long]("n_pairs") == 36L, row.toString)
    // 8 of 36 pairs touch the outlier; the median pair slope is the
    // clean 1.0/day = 1000000 at 1e-6
    assert(row.getAs[Long]("theil_sen_slope6") == 1000000L, row.toString)
  }

  test("q91 variance ratio: oscillation flags mean-reversion, LCG walk " +
    "matches the exact chain") {
    import spark.implicits._
    def write(vals: Seq[Double]): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, "vr", i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q91spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // perfect oscillation: every 4-period diff is 0 -> VR = 0, flag -1
    val osc = (0 until 24).map(i => 10.0 + (i % 2))
    val o = SignalOps.q91VarianceRatio(spark, write(osc)).collect().head
    assert(o.getAs[Long]("vr6") == 0L && o.getAs[Int]("vr_flag") == -1,
      o.toString)
    // LCG pseudo-walk: replicate the exact moment/IEEE chain locally
    var seed = 777L
    val steps = (0 until 40).map { _ =>
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      ((seed % 19).toInt - 9) * 0.1
    }
    val walk = steps.scanLeft(100.0)(_ + _)
    val v = walk.map(x => math.floor(x * 10000.0 + 0.5).toLong)
    val r1 = v.sliding(2).map(p => p(1) - p(0)).toSeq
    val rq = v.indices.drop(4).map(i => v(i) - v(i - 4))
    def mom(xs: Seq[Long]) = (xs.size.toLong,
      xs.map(BigInt(_)).sum, xs.map(x => BigInt(x) * x).sum)
    val (n1, s11, s21) = mom(r1); val (nq, s1q, s2q) = mom(rq)
    val num = (BigInt(nq) * s2q - s1q * s1q).toDouble
    val den = (BigInt(n1) * s21 - s11 * s11).toDouble
    val exp6 = math.floor((num / (nq * (nq - 1)).toDouble) /
      (4.0 * (den / (n1 * (n1 - 1)).toDouble)) * 1e6 + 0.5).toLong
    val w = SignalOps.q91VarianceRatio(spark, write(walk)).collect().head
    assert(w.getAs[Long]("vr6") == exp6, s"$w vs $exp6")
  }

  test("q93 Hurst: perfect oscillation scores exactly 0, LCG walk lands " +
    "in the random band") {
    import spark.implicits._
    def write(vals: Seq[Double]): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, "h", i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q93spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // alternating increments: every block has R/S = 1 at BOTH sizes,
    // so the dyadic slope is exactly ln(1)-ln(1) = 0 — the
    // anti-persistent extreme
    val osc = (0 until 34).map(i => 10.0 + (i % 2))
    val o = SignalOps.q93Hurst(spark, write(osc)).collect().head
    assert(o.getAs[Long]("n_blocks4") == 8L &&
      o.getAs[Long]("n_blocks8") == 4L, o.toString)
    assert(o.getAs[Long]("hurst6") == 0L &&
      o.getAs[Int]("memory_flag") == -1, o.toString)
    // iid LCG increments: H should sit in a loose random-walk band
    var seed = 4242L
    val steps = (0 until 128).map { _ =>
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      ((seed % 21).toInt - 10) * 0.1
    }
    val walk = steps.scanLeft(50.0)(_ + _)
    val w = SignalOps.q93Hurst(spark, write(walk)).collect().head
    val h = w.getAs[Long]("hurst6")
    assert(h > 250000L && h < 750000L, s"iid H out of band: $w")
  }

  test("q94 corr matrix: perfect linear pairs score exactly +/-1") {
    import spark.implicits._
    // A = 10+d, B = 20+2d (r=+1), C = 16-d (r=-1 with both)
    val rows = (1 to 6).flatMap { d =>
      Seq((1L, 10.0 + d), (2L, 20.0 + 2 * d), (3L, 16.0 - d)).map {
        case (u, v) => (u, "x", u * 10 + d,
          java.sql.Timestamp.valueOf(f"2024-01-0$d%d 10:00:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q94spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q94CorrMatrix(spark, tmp).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r).toMap
    assert(out.size == 3)
    assert(out((1L, 2L)).getAs[Long]("corr6") == 1000000L &&
      out((1L, 2L)).getAs[Int]("comove_flag") == 1)
    assert(out((1L, 3L)).getAs[Long]("corr6") == -1000000L)
    assert(out((2L, 3L)).getAs[Long]("corr6") == -1000000L)
    assert(out((1L, 2L)).getAs[Long]("n_days") == 6L)
  }

  test("q95 ensemble vote: votes are the exact component sum") {
    val out = SignalOps.q95EnsembleVote(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val v = r.getAs[Int]("z_flag") + r.getAs[Int]("iqr_flag") +
        r.getAs[Int]("hampel_flag")
      assert(r.getAs[Int]("votes") == v && v >= 0 && v <= 3, r.toString)
      assert(r.getAs[Int]("ensemble_flag") == (if (v >= 2) 1 else 0),
        r.toString)
    }
    // the ensemble is at most as trigger-happy as its loosest member
    val nEns = out.count(_.getAs[Int]("ensemble_flag") == 1)
    val nAny = out.count(r => r.getAs[Int]("z_flag") +
      r.getAs[Int]("iqr_flag") + r.getAs[Int]("hampel_flag") >= 1)
    assert(nEns <= nAny)
  }

  test("q96 TWAP: exact time weighting ignores a corrected blip") {
    import spark.implicits._
    val rows = Seq(
      // day 1: two half-day prints -> twap exactly 15.0
      (1L, "tw", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        10.0),
      (1L, "tw", 2L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"),
        20.0),
      // day 2: a bad print corrected after ONE second
      (1L, "tw", 3L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
        100.0),
      (1L, "tw", 4L, java.sql.Timestamp.valueOf("2024-01-02 00:00:01"),
        10.0))
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q96spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q96Twap(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getDate(2).toString) -> r).toMap
    assert(out((1L, "2024-01-01")).getAs[Long]("twap4") == 150000L)
    // day 2 exact: (1e6*100_0000 + 86399e6*10_0000) / 86400e6 -> trunc
    val exp = (BigInt(1000000L) * 1000000L +
      BigInt(86399000000L) * 100000L) / BigInt(86400000000L)
    val d2 = out((1L, "2024-01-02"))
    assert(d2.getAs[Long]("twap4") == exp.toLong, s"$d2 vs $exp")
    assert(d2.getAs[Long]("twap4") < 110000L,
      "a 1-second blip must barely move the TWAP")
  }

  test("q97 business staleness: weekday-count formula and verdicts") {
    import spark.implicits._
    // the epoch-anchored integer weekday count must agree with
    // java.time over a multi-year span
    def f(epochDay: Long): Long = {
      val k = epochDay + 1
      val r = k % 7
      (k / 7) * 5 + (r - math.max(0L, math.min(r - 2, 2L)))
    }
    (0L until 2000L).foreach { d =>
      val dow = java.time.LocalDate.ofEpochDay(d).getDayOfWeek.getValue
      val isWd = if (dow <= 5) 1L else 0L
      assert(f(d) - f(d - 1) == isWd, s"epochDay $d")
    }
    // Fri 01-05, Sat 01-06 (weekend print), Mon 01-08, Tue 01-09:
    // span = 2 business days over 3 gaps
    val rows = Seq("2024-01-05", "2024-01-06", "2024-01-08", "2024-01-09")
      .zipWithIndex.map { case (d, i) =>
        (1L, "bz", i.toLong,
          java.sql.Timestamp.valueOf(s"$d 10:00:00"), 1.0)
      } ++ Seq( // a second series pushing the corpus high-water day
      (2L, "bz", 99L,
        java.sql.Timestamp.valueOf("2024-01-22 10:00:00"), 1.0))
    val tmp = java.nio.file.Files.createTempDirectory("q97spec").toString
    rows.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q97BusinessStaleness(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    val a = out(1L)
    assert(a.getAs[Long]("bday_span") == 2L &&
      a.getAs[Long]("avg_bgap6") == 666666L &&
      a.getAs[Long]("weekend_prints") == 1L, a.toString)
    // Tue 01-09 -> Mon 01-22 = 9 business days late: stale
    assert(a.getAs[Long]("bdays_since_last") == 9L &&
      a.getAs[Int]("stale_flag") == 1, a.toString)
    assert(out(2L).getAs[Int]("stale_flag") == 0)
  }

  test("q49 EWMA tracks a constant series exactly and flags a spike") {
    import spark.implicits._
    val vals = (1 to 30).map(i => if (i == 25) 100.0 else 5.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, "spike", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 00:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q49spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q49Ewma(spark, tmp).collect()
    // before the spike the weighted mean of a constant is the constant
    out.take(24).foreach { r =>
      assert(math.abs(r.getAs[Double]("ewma6") - 5.0) < 1e-6, r.toString)
      assert(r.getAs[Int]("ewma_flag") == 0)
    }
    assert(out(24).getAs[Int]("ewma_flag") == 1, "spike must flag")
  }

  test("q19/q49 plan one exchange on the ticker key") {
    Seq(SignalOps.q19Cusum(spark, dir), SignalOps.q49Ewma(spark, dir))
      .foreach { q =>
        val plan = q.queryExecution.executedPlan.toString
        val exchanges = "hashpartitioning".r.findAllIn(plan).size
        assert(exchanges <= 1, s"want <=1 hash exchange, got $exchanges")
      }
  }

  test("q53 hampel flags a spike the spike itself cannot mask") {
    import spark.implicits._
    val vals = (1 to 20).map(i => if (i == 10) 50.0 else 5.0 + (i % 2) * 0.2)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, "spike", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 00:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q53spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = graft.operators.SignalOps.q53Hampel(spark, tmp).collect()
    val spike = out.find(_.getAs[Long]("event_id") == 9L).get
    assert(spike.getAs[Int]("hampel_flag") == 1, spike.toString)
    // the rolling median at the spike ignores the spike value itself
    assert(math.abs(spike.getAs[Double]("rolling_med") - 5.1) < 0.2)
    // neighbours of the spike stay unflagged (median robustness —
    // a rolling MEAN filter would flag them too)
    out.filter(r => Set(8L, 10L)(r.getAs[Long]("event_id")))
      .foreach(r => assert(r.getAs[Int]("hampel_flag") == 0, r.toString))
  }

  test("q54 holt: exact dyadic recursion and trend-break flagging") {
    import spark.implicits._
    def write(vals: Seq[Double], tag: String): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, tag, i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 00:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q54spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // hand-traced recursion: y = 10, 12, 14 (1e-4 longs 1e5, 1.2e5, 1.4e5)
    //  row2: pred = 100000,  l = 110000, b = 2500
    //  row3: pred = 112500 → forecast 11.25
    val t1 = write(Seq(10.0, 12.0, 14.0), "trace")
    val f = graft.operators.SignalOps.q54Holt(spark, t1).collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("forecast"))).toMap
    assert(f(0L).isEmpty)
    assert(f(1L).contains(10.0))
    assert(f(2L).contains(11.25))
    // a level ramp with one trend-breaking point: the Holt forecast
    // extrapolates the slope, so only the break is flagged — a
    // trailing-mean z would also flag the steep-but-consistent ramp
    val ramp = (0 until 30).map(i => if (i == 20) 200.0 else 10.0 + 2.0 * i)
    val t2 = write(ramp, "ramp")
    val out = graft.operators.SignalOps.q54Holt(spark, t2).collect()
    val flagged = out.filter(_.getAs[Int]("holt_flag") == 1)
      .map(_.getAs[Long]("event_id")).toSet
    assert(flagged.contains(20L), s"trend break must flag, got $flagged")
    assert(!flagged.exists(i => i < 18), s"ramp itself must not flag: $flagged")
  }

  test("q62 kalman: exact integer-gain recursion, gain decay, spike flag") {
    import spark.implicits._
    def write(vals: Seq[Double], tag: String): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, tag, i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 00:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q62spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // hand-traced: y = 10, 12 (v4l 1e5, 1.2e5), P0 = 1e8, Q = 1e7,
    // R = 1e8. Row 2: P⁻ = 1.1e8, k6 = ⌊1.1e14/2.1e8⌋ = 523809,
    // e = 20000, l = 1e5 + ⌊523809·20000/1e6⌋ = 110476 → 11.0476
    val t1 = write(Seq(10.0, 12.0), "trace")
    val tr = graft.operators.SignalOps.q62Kalman(spark, t1).collect()
      .map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(tr(0L).getAs[java.lang.Double]("kgain6") == null)
    assert(tr(0L).getAs[Double]("level") == 10.0)
    assert(tr(1L).getAs[Double]("kgain6") == 0.523809)
    assert(tr(1L).getAs[Double]("level") == 11.0476)
    // the gain is ADAPTIVE: it decays monotonically from the diffuse
    // prior toward the steady state (the property Holt's fixed dyadic
    // gains don't have)
    val flat = write(Seq.fill(20)(10.0), "flat")
    val gains = graft.operators.SignalOps.q62Kalman(spark, flat).collect()
      .sortBy(_.getAs[Long]("event_id")).drop(1)
      .map(_.getAs[Double]("kgain6"))
    assert(gains.sliding(2).forall(p => p(1) <= p(0)),
      s"gain must decay: ${gains.mkString(",")}")
    assert(gains.head > 0.5 && gains.last < 0.3,
      s"diffuse start, steady-state finish: ${gains.mkString(",")}")
    // a spike against a settled level flags; the settled level does not
    val spiky = (0 until 30).map(i => if (i == 25) 18.0 else 10.0)
    val out = graft.operators.SignalOps.q62Kalman(spark, write(spiky, "spike"))
      .collect()
    val flagged = out.filter(_.getAs[Int]("kalman_flag") == 1)
      .map(_.getAs[Long]("event_id")).toSet
    assert(flagged == Set(25L), s"only the spike flags, got $flagged")
    // scale posture: ONE exchange (the groupByKey), no window over an
    // unpartitioned frame
    val plan = graft.operators.SignalOps.q62Kalman(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q63 discord: one-off break flags, repeated motif does not") {
    import spark.implicits._
    def write(vals: Seq[Double], tag: String): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, tag, i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 00:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q63spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // ONE spike in a flat series: every subsequence covering it is
    // 1.6e11 from all flat ones; covering starts (1-based 18..21)
    // can't neighbor each other (|i-j| < m) — four-way tie, smallest
    // start wins
    val spike = (0 until 30).map(i => if (i == 20) 50.0 else 10.0)
    val one = graft.operators.SignalOps.q63Discord(spark, write(spike, "x"))
      .collect()
    assert(one.length == 1)
    assert(one.head.getAs[Int]("discord_seq") == 18, one.head.toString)
    assert(one.head.getAs[Long]("discord_d2") == 160000000000L,
      one.head.toString)
    // the SAME spike repeated: its two copies are mutual nearest
    // neighbors at distance 0, so no subsequence is a discord — the
    // repeated-pattern-is-normal property that separates the matrix
    // profile from every pointwise detector in the family
    val motif = (0 until 30).map(i =>
      if (i == 10 || i == 20) 50.0 else 10.0)
    val two = graft.operators.SignalOps.q63Discord(spark, write(motif, "x"))
      .collect()
    assert(two.head.getAs[Long]("discord_d2") == 0L, two.head.toString)
    // keys shorter than 2m emit nothing
    val short = graft.operators.SignalOps
      .q63Discord(spark, write(Seq.fill(7)(10.0), "x")).collect()
    assert(short.isEmpty)
  }

  test("q63 STOMP recurrence matches the naive profile on an LCG series") {
    import spark.implicits._
    // deterministic pseudo-random walk: the STOMP diagonal updates
    // must reproduce the naive O(n^2 m) scan bit-for-bit
    val m = 4
    var seed = 12345L
    val vals = (0 until 60).map { _ =>
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      10.0 + (seed % 997).toDouble / 100.0
    }
    val df = vals.zipWithIndex.map { case (v, i) =>
      (7L, "lcg", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 00:${i % 60}%02d:${i / 60}%02d"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q63stomp").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // naive reference on the same fixed-point longs
    val v = vals.map(x => math.floor(x * 10000.0 + 0.5).toLong).toArray
    val ns = v.length - m + 1
    var bestI = -1; var bestD = -1L
    for (i <- 0 until ns) {
      var nn = Long.MaxValue
      for (j <- 0 until ns if math.abs(i - j) >= m) {
        var d = 0L
        for (k <- 0 until m) { val t = v(i + k) - v(j + k); d += t * t }
        if (d < nn) nn = d
      }
      if (nn != Long.MaxValue && nn > bestD) { bestD = nn; bestI = i }
    }
    val out = graft.operators.SignalOps.q63Discord(spark, tmp).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Int]("discord_seq") == bestI + 1, out.head.toString)
    assert(out.head.getAs[Long]("discord_d2") == bestD, out.head.toString)
  }

  test("q64 trend: perfect ramp, sign symmetry, outlier-robust slope") {
    import spark.implicits._
    def write(vals: Seq[Double], tag: String): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, tag, i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 00:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q64spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // ramp 1..10 one minute apart: all 45 pairs concordant → S = 45,
    // τ = 1; every pairwise slope is 1 value/min → Sen = 1440/day
    val up = graft.operators.SignalOps
      .q64TrendMk(spark, write((0 until 10).map(1.0 + _), "up"))
      .collect().head
    assert(up.getAs[Long]("mk_s") == 45L, up.toString)
    assert(up.getAs[Double]("mk_tau6") == 1.0, up.toString)
    assert(math.abs(up.getAs[Double]("sen_slope_day") - 1440.0) < 1e-6,
      up.toString)
    // descending mirror → τ = −1
    val dn = graft.operators.SignalOps
      .q64TrendMk(spark, write((0 until 10).map(10.0 - _), "dn"))
      .collect().head
    assert(dn.getAs[Double]("mk_tau6") == -1.0, dn.toString)
    // one gross outlier in the ramp: the pairwise-median slope barely
    // moves (OLS would be dragged by orders of magnitude) and the
    // trend verdict stays strongly positive
    val noisy = (0 until 10).map(i => if (i == 5) 1000.0 else 1.0 + i)
    val ro = graft.operators.SignalOps
      .q64TrendMk(spark, write(noisy, "ro")).collect().head
    assert(math.abs(ro.getAs[Double]("sen_slope_day") - 1440.0) < 300.0,
      ro.toString)
    assert(ro.getAs[Double]("mk_tau6") > 0.6, ro.toString)
  }

  test("q65 Pettitt: level shift flags at the split, outlier does not") {
    import spark.implicits._
    def write(vals: Seq[Double], tag: String): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, tag, i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 00:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q65spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // sustained +2.0 level shift at t=15 of 30: U_15 = 15·15·sign(10−12)
    // = −225, the unique |U| max; 6·225² = 303750 > 3.6889·(27000+900)
    val shift = (0 until 30).map(i => if (i < 15) 10.0 else 12.0)
    val a = SignalOps.q65Pettitt(spark, write(shift, "x")).collect().head
    assert(a.getAs[Int]("cp_seq") == 15, a.toString)
    assert(a.getAs[Long]("k_stat") == 225L, a.toString)
    assert(a.getAs[Long]("cp_u") == -225L, a.toString)
    assert(a.getAs[Int]("sig_flag") == 1, a.toString)
    // ONE gross outlier in a flat series: max |U| is only
    // max(pos−1, n−pos) = 15 — nowhere near significance; the
    // pairwise-rank statistic can't be dragged by a single point
    // the way q19's standardized sums can
    val spike = (0 until 30).map(i => if (i == 15) 500.0 else 10.0)
    val b = SignalOps.q65Pettitt(spark, write(spike, "x")).collect().head
    assert(b.getAs[Long]("k_stat") == 15L, b.toString)
    assert(b.getAs[Int]("sig_flag") == 0, b.toString)
    // all-equal series: every U_t = 0, no significance, cp at t=1
    val flat = SignalOps.q65Pettitt(spark, write(Seq.fill(10)(7.0), "x"))
      .collect().head
    assert(flat.getAs[Long]("k_stat") == 0L && flat.getAs[Int]("sig_flag") == 0,
      flat.toString)
  }

  test("q67 Holt-Winters: seasonal forecasts beat Holt on periodic data") {
    import spark.implicits._
    def write(vals: Seq[Double], tag: String): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, tag, i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q67spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // strong period-7 signal, no trend: after the one-cycle warm-up
    // the seasonal ring captures the pattern
    val cycle = Seq(10.0, 40.0, 80.0, 120.0, 80.0, 40.0, 20.0)
    val vals = Seq.fill(5)(cycle).flatten
    val dirP = write(vals, "p")
    val hw = SignalOps.q67HoltWinters(spark, dirP).collect()
    assert(hw.length == 35)
    val (warm, live) = hw.sortBy(_.getLong(2)).splitAt(7)
    assert(warm.forall(_.isNullAt(5)), "first cycle must have no forecast")
    assert(live.forall(r => !r.isNullAt(5) && !r.isNullAt(7)),
      "every post-warm-up row forecasts with a seasonal component")
    // the seasonal model's absolute error is far below Holt's on the
    // same series — the whole point of carrying the ring
    val hwErr = live.map(r => math.abs(r.getDouble(6))).sum
    val holtErr = SignalOps.q54Holt(spark, dirP).collect()
      .filter(r => !r.isNullAt(6) && r.getLong(2) >= 7)
      .map(r => math.abs(r.getDouble(6))).sum
    // observed ≈ 0.66× with α = ½ (the aggressive level still chases
    // part of the swing); the seasonal ring is what closes the rest
    assert(hwErr < holtErr * 0.75, s"hw $hwErr vs holt $holtErr")
    // deterministic replay
    assert(SignalOps.q67HoltWinters(spark, dirP).collect()
      .map(_.toString).sameElements(hw.map(_.toString)))
  }

  test("q68 seasonal MK: weekly pattern cancels, drift shows at full tau") {
    import spark.implicits._
    def write(vals: Seq[Double], tag: String): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, tag, i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q68spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // slow +1/step drift under a ±300 weekly swing: cross-phase pairs
    // carry the swing's sign, within-phase pairs only the drift
    val cycle = Seq(0.0, 300.0, 600.0, 900.0, 600.0, 300.0, 100.0)
    val vals = (0 until 35).map(i => i * 1.0 + cycle(i % 7))
    val d = write(vals, "x")
    val smk = SignalOps.q68SeasonalMk(spark, d).collect().head
    assert(smk.getAs[Double]("smk_tau6") == 1.0, smk.toString)
    // within a stratum the cycle term is constant, so every pairwise
    // slope is exactly the drift: 1 per minute = 1440/day
    assert(math.abs(smk.getAs[Double]("sen_slope_day") - 1440.0) < 1e-6,
      smk.toString)
    val mk = SignalOps.q64TrendMk(spark, d).collect().head
    assert(mk.getAs[Double]("mk_tau6") < 0.7, s"plain MK diluted: $mk")
    // all-singleton strata (n <= 7) emit nothing
    assert(SignalOps.q68SeasonalMk(spark,
      write((0 until 7).map(_.toDouble), "x")).collect().isEmpty)
  }

  test("q69 KS drift: planted era shift flags, stable stream does not") {
    import spark.implicits._
    // 20 days; the span midpoint puts days 1-10 in the reference era
    // and 11-20 in the current one. "shift" moves +100 in the current
    // era (disjoint supports -> D = 1); "same" repeats the identical
    // ten values in both eras (D = 0).
    val rows = (0 until 20).flatMap { d =>
      val ts = java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00")
      val base = (d % 10) * 1.0
      Seq(
        (1L, "shift", d.toLong * 2, ts, if (d >= 10) base + 100.0 else base),
        (1L, "same", d.toLong * 2 + 1, ts, base))
    }
    val tmp = java.nio.file.Files.createTempDirectory("q69spec").toString
    rows.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q69KsDrift(spark, tmp).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val sh = out("shift")
    assert(sh.getAs[Long]("n_ref") == 10 && sh.getAs[Long]("n_cur") == 10,
      sh.toString)
    assert(sh.getAs[Long]("d_num") == 100 && sh.getAs[Long]("ks6") == 1000000,
      sh.toString)
    assert(sh.getAs[Int]("drift_flag") == 1, sh.toString)
    val sm = out("same")
    assert(sm.getAs[Long]("d_num") == 0 && sm.getAs[Long]("ks6") == 0 &&
      sm.getAs[Int]("drift_flag") == 0, sm.toString)
  }

  test("q70 Page-Hinkley: alarms after a planted mean shift, not before") {
    import spark.implicits._
    // 30 flat points at 10.0, then 20 at 15.0: PH accumulates
    // (x - running mean - delta) only after the shift
    val vals = Seq.fill(30)(10.0) ++ Seq.fill(20)(15.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, "x", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q70spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q70PageHinkley(spark, tmp).collect()
      .sortBy(_.getAs[Long]("event_id"))
    assert(out.length == 50)
    // exact replay of the published chain
    var s1 = 0L; var m = 0L; var minm = Long.MaxValue
    val expected = vals.zipWithIndex.map { case (v, i) =>
      val v4l = math.floor(v * 10000.0 + 0.5).toLong
      s1 += v4l
      val c9 = math.floor(
        (v4l - s1.toDouble / (i + 1) - 500.0) * 100000.0 + 0.5).toLong
      m += c9
      minm = math.min(minm, m)
      m - minm
    }
    out.zip(expected).foreach { case (r, e) =>
      assert(r.getAs[Long]("ph9") == e, s"${r.toString} expected $e")
    }
    val flags = out.map(_.getAs[Int]("ph_flag"))
    assert(flags.take(30).forall(_ == 0), "no alarm before the shift")
    assert(flags.drop(30).contains(1), "alarm after the shift")
    // once over lambda, the flat-at-15 tail keeps the alarm latched
    val first = flags.indexOf(1)
    assert(flags.drop(first).forall(_ == 1), flags.mkString(","))
  }

  test("q66 Benford: conforming sample passes, single-digit feed flags") {
    import spark.implicits._
    def write(rows: Seq[(String, Double)]): String = {
      val df = rows.zipWithIndex.map { case ((t, v), i) =>
        (1L, t, i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i % 24}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q66spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // a feed whose digit counts are the rounded Benford expectations
    // for n = 1000 (301, 176, 125, 97, 79, 67, 58, 51, 46): chi2 is
    // the tiny rounding residue, far under the 20.09 critical value
    val benfordCounts = Seq(301, 176, 125, 97, 79, 67, 58, 51, 46)
    val good = benfordCounts.zipWithIndex.flatMap { case (c, d) =>
      Seq.fill(c)(("ok", (d + 1) * 1.0)) }
    // a defaulted/fabricated feed: every value starts with digit 5
    val bad = Seq.fill(200)(("bad", 5.5))
    val out = SignalOps.q66Benford(spark, write(good ++ bad))
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val ok = out("ok")
    assert(ok.getAs[Long]("n") == 1000L, ok.toString)
    assert(ok.getAs[Int]("benford_flag") == 0, ok.toString)
    assert(ok.getAs[Long]("chi9") < 1000000000L, ok.toString) // chi2 < 1
    val flagged = out("bad")
    assert(flagged.getAs[Int]("benford_flag") == 1, flagged.toString)
    // the 200 observed-vs-15.8-expected digit-5 excess dominates
    assert(flagged.getAs[Int]("worst_digit") == 5, flagged.toString)
  }

  test("p05 report: component columns equal the standalone operators") {
    val rep = SignalOps.p05MonitorReport(spark, dir).collect()
    val q13n = graft.operators.Decompose.q13AnomalySummary(spark, dir).count()
    assert(rep.length == q13n && rep.nonEmpty)
    val tr = SignalOps.q64TrendMk(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
        r.getAs[Double]("mk_tau6")).toMap
    val di = SignalOps.q63Discord(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
        r.getAs[Long]("discord_d2")).toMap
    val dr = SignalOps.q61DriftPsi(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("psi9")).toMap
    rep.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[String]("event_type"))
      tr.get(k) match {
        case Some(t) => assert(r.getAs[Double]("mk_tau6") == t, r.toString)
        case None => assert(r.isNullAt(r.fieldIndex("mk_tau6")), r.toString)
      }
      di.get(k) match {
        case Some(d) => assert(r.getAs[Long]("discord_d2") == d, r.toString)
        case None =>
          assert(r.isNullAt(r.fieldIndex("discord_d2")), r.toString)
      }
      dr.get(k._2) match {
        case Some(p) => assert(r.getAs[Long]("psi9") == p, r.toString)
        case None => assert(r.isNullAt(r.fieldIndex("psi9")), r.toString)
      }
    }
  }

  test("q48 binned interval join equals the naive range join") {
    val ev = Tables.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"),
        col("value").as("cv"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val naive = p.join(c, col("cu") === col("user_id") &&
        col("cts") >= col("purchase_ts") - expr("INTERVAL 6 HOURS") &&
        col("cts") <= col("purchase_ts"))
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("n_clicks"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val binned = ScaleOps.intervalJoin(spark, dir)
      .collect().map(r => r.getAs[Long]("purchase_id") ->
        r.getAs[Long]("n_clicks")).toMap
    assert(binned == naive, s"binned=$binned naive=$naive")
    // and the plan is an equi-join, not a nested loop
    val plan = ScaleOps.intervalJoin(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("q57 gap fill: dense calendar, last-of-day pick, forward fill") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("gap").toString
    def ts(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-0$d%d $h%02d:00:00")
    // ticker (1,idx): days 1,2,4 observed (3 missing); day 2 has two
    // events — the later one must win the day
    Seq(
      (1L, ts(1, 9), 1L, "idx", 10.0, ""),
      (2L, ts(2, 9), 1L, "idx", 99.0, ""),
      (3L, ts(2, 15), 1L, "idx", 20.0, ""),
      (4L, ts(4, 9), 1L, "idx", 30.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q57GapFill(spark, tmp).collect()
      .map(r => r.getDate(2).toString -> r).toMap
    assert(out.size == 4, "calendar covers days 1-4")
    assert(out("2024-01-02").getDouble(3) == 20.0, "last event of day wins")
    assert(out("2024-01-03").getDouble(3) == 20.0, "gap forward-filled")
    assert(out("2024-01-03").getInt(4) == 1, "gap flagged")
    assert(out("2024-01-04").getInt(4) == 0)
    assert(out("2024-01-01").getDouble(3) == 10.0)
  }

  test("q59 peer correlation: anti-correlated ticker flags, peers don't") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("pcorr").toString
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$d%d 12:00:00")
    // users 1-3 rise 10,20,…,70 together; user 4 falls 70,60,…,10 —
    // each of user 4's days is in range, only the co-movement is wrong
    val rows = (1 to 7).flatMap { d =>
      (1L to 3L).map(u =>
        (d * 10 + u, ts(d), u, "idx", d * 10.0, "")) :+
        (d * 10 + 4L, ts(d), 4L, "idx", 80.0 - d * 10.0, "")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q59PeerCorrelation(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getDate(2).toString) -> r).toMap
    // day 7, user 4: 7-day corr vs a rising peer mean is exactly -1
    val u4 = out((4L, "2024-01-07"))
    assert(u4.getDouble(6) == -1.0, s"anti-correlated: $u4")
    assert(u4.getInt(7) == 1)
    // a rising peer stays positively correlated, never flagged
    val u1 = out((1L, "2024-01-07"))
    assert(u1.getDouble(6) > 0.9, s"co-moving: $u1")
    assert(u1.getInt(7) == 0)
    // warm-up rows (n < 3) carry null corr and no flag
    val w = out((4L, "2024-01-02"))
    assert(w.isNullAt(6) && w.getInt(7) == 0)
  }

  test("q60 dominant period: a period-3 signal reports 3, not its " +
      "harmonics; constant series absent") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("period").toString
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // user 1: exact period-3 sawtooth over 30 days — lag 3, 6 and 9 all
    // correlate at exactly 1.0; the smallest-k tie rule must pick 3.
    // user 2: constant — zero variance at every lag, no output row.
    val rows = (1 to 30).flatMap { d =>
      Seq((d * 10 + 1L, ts(d), 1L, "idx", Seq(10.0, 20.0, 30.0)((d - 1) % 3), ""),
        (d * 10 + 2L, ts(d), 2L, "idx", 42.0, ""))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q60DominantPeriod(spark, tmp).collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out.head
    assert(r.getLong(0) == 1L)
    assert(r.getInt(2) == 3, s"dominant_period: $r")
    assert(r.getDouble(3) == 1.0)
    assert(r.getLong(4) == 27L) // 30 days - lag 3
  }

  test("q61 PSI drift: identical eras score zero, a level shift flags") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("psi").toString
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // span 1..20 Jan → pivot Jan 10; ref = days 1-10, cur = days 11-20.
    // "stable": each era holds the identical multiset {1..10}×2 → every
    // bucket's p = q, every term exactly 0. "shift": ref 1..10, cur
    // 1011..1020 — all current mass lands in the top decile.
    val rows = (1 to 20).flatMap { d =>
      val dd = ((d - 1) % 10) + 1
      Seq(
        (d * 100 + 1L, ts(d), 1L, "stable", dd.toDouble, ""),
        (d * 100 + 2L, ts(d), 2L, "stable", dd.toDouble, ""),
        (d * 100 + 3L, ts(d), 3L, "shift",
          if (d <= 10) d.toDouble else 1000.0 + d, ""))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q61DriftPsi(spark, tmp).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("stable", "shift"))
    assert(out("stable").getAs[Long]("psi9") == 0L &&
      out("stable").getAs[Int]("drift") == 0, out("stable").toString)
    assert(out("shift").getAs[Int]("drift") == 1 &&
      out("shift").getAs[Long]("psi9") > 1000000000L, out("shift").toString)
    assert(out("shift").getAs[Long]("n_ref") == 10L &&
      out("shift").getAs[Long]("n_cur") == 10L)
  }

  test("q57 plan: every hash exchange is on the ticker family") {
    val plan = SignalOps.q57GapFill(spark, dir)
      .queryExecution.executedPlan.toString
    val hashLines = plan.split("\n")
      .filter(_.contains("Exchange hashpartitioning"))
    assert(hashLines.nonEmpty)
    hashLines.foreach(l =>
      assert(l.contains("user_id"), s"non-ticker exchange: $l"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q55 flags the one ticker that diverges from its peer group") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("xs").toString
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$d%d 12:00:00")
    // day 1: nine peers cluster at 100±2, ticker 9 prints 500 — an
    // ingestion error invisible to per-ticker history but 4.5+ robust
    // z's from the same-day cross-section; day 2: everyone together
    val rows =
      (1L to 8L).map(u => (u * 10, ts(1), u, "idx", 98.0 + (u % 5), "")) ++
        Seq((90L, ts(1), 9L, "idx", 500.0, "")) ++
        (1L to 9L).map(u => (100 + u * 10, ts(2), u, "idx", 101.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q55CrossSectional(spark, tmp).collect()
    assert(out.length == 18)
    val flagged = out.filter(_.getAs[Int]("xs_flag") == 1)
    assert(flagged.map(r => (r.getAs[Long]("user_id"),
      r.getAs[java.sql.Timestamp]("day").toString.take(10))).toSeq ==
      Seq((9L, "2024-01-01")), "exactly the day-1 outlier flags")
    // day-2 MAD is 0 (all equal) and nobody deviates → all clean
    val day2 = out.filter(_.getAs[java.sql.Timestamp]("day")
      .toString.startsWith("2024-01-02"))
    assert(day2.forall(r => r.getAs[Int]("xs_flag") == 0 &&
      r.getAs[Double]("xs_mad") == 0.0))
    // the median is an input value (selection, not interpolation)
    val day1med = out.find(_.getAs[java.sql.Timestamp]("day")
      .toString.startsWith("2024-01-01")).get.getAs[Double]("xs_median")
    assert(Set(98.0, 99.0, 100.0, 101.0, 102.0, 500.0)(day1med))
    // ONE distinct corpus exchange serves both median passes: the
    // group-stat joins broadcast, so the second ranked() window and
    // the mad groupBy reuse the first (event_type, day) partitioning;
    // reused exchanges render once per consumer with the same plan_id,
    // so count unique plan_ids
    val plan = SignalOps.q55CrossSectional(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning.*plan_id=(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet.size
    assert(exchanges <= 1, s"want <=1 hash exchange, got $exchanges:\n$plan")
  }

  test("q74 SPC: a same-side run trips rule 4 while every point stays " +
      "inside 2 sigma") {
    import spark.implicits._
    // alternate around 10, then 10 gently-above-mean points: each is
    // well under 2 sigma (rule 1/2 silent) but 8 consecutive land on
    // the same side of the center line
    val vals = (1 to 30).map(i => if (i % 2 == 0) 9.0 else 11.0) ++
      Seq.fill(10)(10.6)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, "run", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q74spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q74SpcRules(spark, tmp).collect()
      .sortBy(_.getAs[Long]("event_id"))
    assert(out.length == 40)
    assert(out.forall(r => math.abs(r.getAs[Double]("zscore6")) < 2.0),
      "every point stays inside 2 sigma")
    assert(out.forall(_.getAs[Int]("rule1") == 0))
    assert(out.forall(_.getAs[Int]("rule2") == 0))
    // the 8th consecutive above-mean point (event_id 37 = index 30+7)
    // trips rule 4, and it stays tripped through the run
    val r4 = out.map(_.getAs[Int]("rule4"))
    assert(r4.take(37).forall(_ == 0), r4.mkString(","))
    assert(r4.drop(37).forall(_ == 1), r4.mkString(","))
    assert(out.drop(37).forall(_.getAs[Int]("spc_flag") == 1))
  }

  test("q74 SPC: a 3-sigma spike trips rule 1 where the run rules stay " +
      "quiet, and the plan is one ticker exchange") {
    import spark.implicits._
    // +-1 alternation keeps every non-spike point on alternating sides
    // of the (spike-dragged) mean, so no same-side run can form
    val vals = (1 to 40).map(i => if (i == 35) 30.0
      else if (i % 2 == 0) 9.0 else 11.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, "spike", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q74spec2").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q74SpcRules(spark, tmp).collect()
      .sortBy(_.getAs[Long]("event_id"))
    assert(out(34).getAs[Int]("rule1") == 1, out(34).toString)
    assert(out.count(_.getAs[Int]("rule1") == 1) == 1)
    assert(out.forall(_.getAs[Int]("rule4") == 0))
    val plan = SignalOps.q74SpcRules(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning.*plan_id=(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet.size
    assert(exchanges <= 1, s"want <=1 hash exchange, got $exchanges:\n$plan")
  }

  test("q75 runs test: oscillation and stickiness both flag, a mixed " +
      "series does not") {
    import spark.implicits._
    def write(vals: Seq[Double], key: String): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, key, i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q75spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // every series carries one exact-10.0 sentinel so the exact lower
    // median is 10.0 and the 9/11 points dichotomize cleanly (a pure
    // two-valued balanced series would exclude its own low side as
    // median ties -- the documented convention)
    // perfect oscillation: R = n (every step changes side) -> too many
    val osc = (1 to 30).map(i => if (i % 2 == 0) 9.0 else 11.0) :+ 10.0
    val o = SignalOps.q75RunsTest(spark, write(osc, "x")).collect().head
    assert(o.getAs[Long]("runs") == 30, o.toString)
    assert(o.getAs[Int]("nonrandom_flag") == 1, o.toString)
    assert(o.getAs[Long]("runs_z6") > 0)
    // perfect stickiness: 15 low then 15 high -> R = 2 -> too few
    val sticky = Seq.fill(15)(9.0) ++ Seq(10.0) ++ Seq.fill(15)(11.0)
    val t = SignalOps.q75RunsTest(spark, write(sticky, "x")).collect().head
    assert(t.getAs[Long]("runs") == 2, t.toString)
    assert(t.getAs[Int]("nonrandom_flag") == 1, t.toString)
    assert(t.getAs[Long]("runs_z6") < 0)
    // a balanced interleave with mid-length runs stays unflagged:
    // runs of 2 -> R = n/2 (z ~ -0.4 for n = 32). The trailing 10.0
    // sentinel makes the exact lower median 10.0, so neither side is
    // swallowed by the tie-exclusion rule
    val mixed = (0 until 32).map(i => if ((i / 2) % 2 == 0) 9.0 else 11.0) :+
      10.0
    val m = SignalOps.q75RunsTest(spark, write(mixed, "x")).collect().head
    assert(m.getAs[Long]("n_obs") == 32, m.toString)
    assert(m.getAs[Long]("runs") == 16, m.toString)
    assert(m.getAs[Int]("nonrandom_flag") == 0, m.toString)
    // ties on the median are excluded: extra exact-median points drop
    // out of n_obs but leave the verdict intact
    val withTies = osc ++ Seq(10.0, 10.0)
    val w = SignalOps.q75RunsTest(spark, write(withTies, "x"))
      .collect().head
    assert(w.getAs[Long]("n_obs") == 30, w.toString)
    assert(w.getAs[Int]("nonrandom_flag") == 1, w.toString)
  }

  test("q77 lead-lag: a 2-day-delayed feed reports best_lag 2, on-time " +
      "peers report 0") {
    import spark.implicits._
    // aperiodic shared signal; tickers 1/2 on time (constant offsets
    // don't move correlation), ticker 3 carries sig delayed 2 days
    val sig = Seq(10.0, 12, 9, 15, 11, 14, 8, 13, 10, 16, 9, 12, 15, 8,
      14, 11, 13, 9, 16, 10)
    def d(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    var eid = 0L
    val rows = scala.collection.mutable.ArrayBuffer[
      (Long, String, Long, java.sql.Timestamp, Double)]()
    for (day <- 1 to 20) {
      eid += 3
      rows += ((1L, "t", eid - 2, d(day), sig(day - 1)))
      rows += ((2L, "t", eid - 1, d(day), sig(day - 1) + 1.0))
      if (day >= 3) rows += ((3L, "t", eid, d(day), sig(day - 3)))
    }
    val tmp = java.nio.file.Files.createTempDirectory("q77spec").toString
    rows.toSeq.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q77LeadLag(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(3L).getAs[Int]("best_lag") == 2, out(3L).toString)
    assert(out(3L).getAs[Int]("lagged_feed") == 1)
    assert(out(3L).getAs[Double]("xcorr6") > 0.99, out(3L).toString)
    assert(out(1L).getAs[Int]("best_lag") == 0, out(1L).toString)
    assert(out(2L).getAs[Int]("best_lag") == 0, out(2L).toString)
    assert(out(1L).getAs[Int]("lagged_feed") == 0)
  }

  test("q78 Ljung-Box: an autocorrelated feed rejects whiteness, a " +
      "scrambled one does not, and Q matches the textbook formula") {
    import spark.implicits._
    def write(vals: Seq[Double], key: String): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, key, i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q78spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // a smoothed feed: diffs alternate sign every 4 steps -> strong
    // positive lag-1 autocorrelation in the diff series
    val smooth = (0 until 48).scanLeft(10.0) { (v, i) =>
      v + (if ((i / 4) % 2 == 0) 0.5 else -0.5)
    }
    val s1 = SignalOps.q78LjungBox(spark, write(smooth, "x"))
      .collect().head
    assert(s1.getAs[Int]("white_reject_flag") == 1, s1.toString)
    assert(s1.getAs[Long]("acf1_6") > 500000L, s1.toString)
    // the same ±0.5 step sizes in a pre-searched white order (sample
    // acf at lags 1-5 near zero: textbook Q = 0.035)
    val noise = Seq(-1, -1, -1, -1, -1, -1, 1, 1, 1, -1, -1, -1, 1, 1,
      1, 1, -1, 1, 1, -1, -1, 1, 1, -1, 1, -1, -1, 1, -1, 1, -1, 1,
      1, -1, -1, 1, 1, -1, 1, 1, 1, 1, 1, 1, -1, 1, -1, 1)
      .map(_ * 0.5).scanLeft(10.0)(_ + _)
    val s2 = SignalOps.q78LjungBox(spark, write(noise, "x"))
      .collect().head
    assert(s2.getAs[Int]("white_reject_flag") == 0, s2.toString)
    // Q replays the textbook double formula within quantization
    val diffs = smooth.sliding(2).map(p => p(1) - p(0)).toArray
    val n = diffs.length
    val mean = diffs.sum / n
    val c0 = diffs.map(d => (d - mean) * (d - mean)).sum
    val q = n * (n + 2.0) * (1 to 5).map { k =>
      val ak = (k until n).map(t => (diffs(t) - mean) *
        (diffs(t - k) - mean)).sum
      val r = ak / c0
      r * r / (n - k)
    }.sum
    assert(math.abs(s1.getAs[Long]("lb_q9") / 1e9 - q) < 1e-3,
      s"lb_q ${s1.getAs[Long]("lb_q9") / 1e9} vs textbook $q")
    // a constant ticker (zero-variance diffs) reports NULLs and flag 0
    val flat = Seq.fill(20)(10.0)
    val s3 = SignalOps.q78LjungBox(spark, write(flat, "x"))
      .collect().head
    assert(s3.isNullAt(s3.fieldIndex("lb_q9")), s3.toString)
    assert(s3.getAs[Int]("white_reject_flag") == 0, s3.toString)
    // one ticker exchange serves diff lag, moments, residual lags and
    // the final groupBy
    val plan = SignalOps.q78LjungBox(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning.*plan_id=(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet.size
    assert(exchanges <= 1, s"want <=1 hash exchange, got $exchanges:\n$plan")
  }

  test("q88 acf table: lag-1 matches q78's acf1, the smoothed series " +
      "flags low lags, the white one stays inside the band") {
    import spark.implicits._
    def write(vals: Seq[Double]): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, "x", i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q88spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    val smooth = (0 until 48).scanLeft(10.0) { (v, i) =>
      v + (if ((i / 4) % 2 == 0) 0.5 else -0.5)
    }
    val tmp = write(smooth)
    val acf = SignalOps.q88AcfTable(spark, tmp).collect()
      .map(r => r.getAs[Int]("k") -> r).toMap
    assert(acf.size == 10)
    val q78row = SignalOps.q78LjungBox(spark, tmp).collect().head
    assert(acf(1).getAs[Long]("acf6") == q78row.getAs[Long]("acf1_6"))
    assert(acf(1).getAs[Int]("sig_flag") == 1, acf(1).toString)
    // the 4-up/4-down square wave anticorrelates at its half period
    assert(acf(4).getAs[Long]("acf6") < 0, acf(4).toString)
    val white = Seq(-1, -1, -1, -1, -1, -1, 1, 1, 1, -1, -1, -1, 1, 1,
      1, 1, -1, 1, 1, -1, -1, 1, 1, -1, 1, -1, -1, 1, -1, 1, -1, 1,
      1, -1, -1, 1, 1, -1, 1, 1, 1, 1, 1, 1, -1, 1, -1, 1)
      .map(_ * 0.5).scanLeft(10.0)(_ + _)
    val w = SignalOps.q88AcfTable(spark, write(white)).collect()
    assert(w.count(_.getAs[Int]("sig_flag") == 1) == 0,
      w.filter(_.getAs[Int]("sig_flag") == 1).mkString("\n"))
  }

  test("q79 variance drift: a noise-doubled second era flags while a " +
      "pure mean shift stays quiet") {
    import spark.implicits._
    def d(day: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-$day%02d 12:00:00")
    def write(rows: Seq[(String, Int, Double)]): String = {
      val df = rows.zipWithIndex.map { case ((typ, day, v), i) =>
        (1L, typ, i.toLong, d(day), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q79spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // span 1..20, pivot = day 10; two rows per day at center±amp with
    // amp alternating 1/2 by day parity (within-era spread > 0).
    // "vol": era-2 amps x4 — dispersion quadruples, center holds.
    // "shift": era-2 center +10 — the median moves, dispersion holds.
    val vol = (1 to 20).flatMap { day =>
      val amp = (if (day % 2 == 0) 2.0 else 1.0) *
        (if (day > 10) 4.0 else 1.0)
      Seq(("vol", day, 10.0 - amp), ("vol", day, 10.0 + amp))
    }
    val shift = (1 to 20).flatMap { day =>
      val amp = if (day % 2 == 0) 2.0 else 1.0
      val c = if (day > 10) 20.0 else 10.0
      Seq(("shift", day, c - amp), ("shift", day, c + amp))
    }
    val out = SignalOps.q79VarianceDrift(spark, write(vol ++ shift))
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("vol").getAs[Int]("var_drift_flag") == 1,
      out("vol").toString)
    assert(out("shift").getAs[Int]("var_drift_flag") == 0,
      out("shift").toString)
    assert(out("shift").getAs[Double]("med_cur") >
      out("shift").getAs[Double]("med_ref") + 5.0)
    assert(out("vol").getAs[Long]("n_ref") == 20 &&
      out("vol").getAs[Long]("n_cur") == 20)
    // F replays the textbook Brown-Forsythe two-group formula with
    // the exact lower-median center
    def bfF(v1: Seq[Double], v2: Seq[Double]): Double = {
      def lowerMed(v: Seq[Double]) = v.sorted.apply((v.length + 1) / 2 - 1)
      val a1 = v1.map(x => math.abs(x - lowerMed(v1)))
      val a2 = v2.map(x => math.abs(x - lowerMed(v2)))
      val (n1, n2) = (a1.length, a2.length)
      val (m1, m2) = (a1.sum / n1, a2.sum / n2)
      val ssw = a1.map(x => (x - m1) * (x - m1)).sum +
        a2.map(x => (x - m2) * (x - m2)).sum
      (n1 + n2 - 2) * (n1.toDouble * n2 / (n1 + n2)) *
        (m1 - m2) * (m1 - m2) / ssw
    }
    val f = bfF(vol.filter(_._2 <= 10).map(_._3),
      vol.filter(_._2 > 10).map(_._3))
    assert(math.abs(out("vol").getAs[Long]("bf_f9") / 1e9 - f) < 1e-3,
      s"bf_f ${out("vol").getAs[Long]("bf_f9") / 1e9} vs textbook $f")
  }

  test("q80 Spearman peer: a monotone re-scale keeps rho 1, a reversed " +
      "feed scores -1, a shuffled feed decorrelates") {
    import spark.implicits._
    // aperiodic positive shared signal with distinct daily values
    val sig = Seq(3.0, 7, 2, 9, 5, 8, 1, 6, 4, 10, 2.5, 7.5, 3.5, 8.5,
      1.5, 6.5, 4.5, 9.5, 5.5, 2.2)
    def d(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    var eid = 0L
    val rows = scala.collection.mutable.ArrayBuffer[
      (Long, String, Long, java.sql.Timestamp, Double)]()
    val shuffled = Seq(6.5, 1.5, 9.5, 3.0, 8.5, 2.2, 7.0, 4.5, 10.0,
      2.0, 5.5, 9.0, 1.0, 7.5, 3.5, 8.0, 2.5, 6.0, 4.0, 5.0)
    // separate peer groups so each probe ticker sees CLEAN peers
    for (day <- 1 to 20) {
      val v = sig(day - 1)
      rows += ((1L, "m", { eid += 1; eid }, d(day), v))
      rows += ((2L, "m", { eid += 1; eid }, d(day), v + 1.0))
      rows += ((3L, "m", { eid += 1; eid }, d(day), v * v)) // monotone
      rows += ((11L, "r", { eid += 1; eid }, d(day), v))
      rows += ((12L, "r", { eid += 1; eid }, d(day), v + 1.0))
      rows += ((4L, "r", { eid += 1; eid }, d(day), 11.0 - v)) // reversed
      rows += ((21L, "s", { eid += 1; eid }, d(day), v))
      rows += ((22L, "s", { eid += 1; eid }, d(day), v + 1.0))
      rows += ((5L, "s", { eid += 1; eid }, d(day), shuffled(day - 1)))
    }
    val tmp = java.nio.file.Files.createTempDirectory("q80spec").toString
    rows.toSeq.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q80SpearmanPeer(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    // the squared feed ranks its days exactly like its peers rank
    // theirs -> Spearman 1.0 (where Pearson would decay)
    assert(out(3L).getAs[Long]("rho6") == 1000000L, out(3L).toString)
    assert(out(3L).getAs[Int]("decorrelated_flag") == 0)
    assert(out(4L).getAs[Long]("rho6") == -1000000L, out(4L).toString)
    assert(out(4L).getAs[Int]("decorrelated_flag") == 1)
    assert(out(1L).getAs[Long]("rho6") > 900000L, out(1L).toString)
    assert(math.abs(out(5L).getAs[Long]("rho6")) < 500000L,
      out(5L).toString)
    assert(out(5L).getAs[Int]("decorrelated_flag") == 1)
  }

  test("q86 OHLC bars: first/last/extremes per day, overnight gap " +
      "against the prior close") {
    import spark.implicits._
    def t(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val rows = Seq(
      (1L, "x", 0L, t(1, 9), 10.0), (1L, "x", 1L, t(1, 12), 12.5),
      (1L, "x", 2L, t(1, 16), 11.0),
      (1L, "x", 3L, t(2, 9), 11.8), (1L, "x", 4L, t(2, 16), 9.5),
      // same-timestamp prints: event_id breaks the tie
      (1L, "x", 5L, t(3, 9), 7.0), (1L, "x", 6L, t(3, 9), 8.0))
    val tmp = java.nio.file.Files.createTempDirectory("q86spec").toString
    rows.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q86OhlcBars(spark, tmp).collect()
      .sortBy(_.getAs[java.sql.Date]("day").toString)
    assert(out.length == 3)
    val d1 = out(0)
    assert(d1.getAs[Double]("open") == 10.0 &&
      d1.getAs[Double]("high") == 12.5 && d1.getAs[Double]("low") == 10.0 &&
      d1.getAs[Double]("close") == 11.0 &&
      d1.getAs[Long]("n_trades") == 3, d1.toString)
    assert(d1.isNullAt(d1.fieldIndex("overnight_gap")))
    val d2 = out(1)
    assert(d2.getAs[Double]("open") == 11.8 &&
      d2.getAs[Double]("close") == 9.5, d2.toString)
    assert(math.abs(d2.getAs[Double]("overnight_gap") - 0.8) < 1e-9)
    val d3 = out(2)
    assert(d3.getAs[Double]("open") == 7.0 &&
      d3.getAs[Double]("close") == 8.0, d3.toString)
  }

  test("q85 weekday ANOVA: a real day-of-week pattern flags, i.i.d. " +
      "noise does not, F replays the textbook formula") {
    import spark.implicits._
    // daily cadence over 8 weeks: "wk" carries a weekday mean pattern
    // + small alternation; "flat" carries only the alternation
    val pat = Seq(0.0, 4, 1, 6, 2, 8, 3)
    def d(i: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 12:00:00").getTime +
        i.toLong * 86400000L)
    val rows = (0 until 56).flatMap { i =>
      val jig = if (i % 2 == 0) 0.2 else -0.2
      Seq(
        (1L, "wk", (2 * i).toLong, d(i), 10.0 + pat(i % 7) + jig),
        (1L, "flat", (2 * i + 1).toLong, d(i), 10.0 + jig))
    }
    val tmp = java.nio.file.Files.createTempDirectory("q85spec").toString
    rows.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q85WeekdayAnova(spark, tmp).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("wk").getAs[Int]("weekday_effect_flag") == 1,
      out("wk").toString)
    assert(out("flat").getAs[Int]("weekday_effect_flag") == 0,
      out("flat").toString)
    // textbook one-way ANOVA replay for "wk"
    val vals = (0 until 56).map(i =>
      (i % 7, 10.0 + pat(i % 7) + (if (i % 2 == 0) 0.2 else -0.2)))
    val groups = vals.groupBy(_._1).values.map(_.map(_._2)).toSeq
    val n = vals.length
    val grand = vals.map(_._2).sum / n
    val ssb = groups.map(g =>
      g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = groups.map(g => {
      val m = g.sum / g.length; g.map(x => (x - m) * (x - m)).sum
    }).sum
    val f = (ssb / 6.0) / (ssw / (n - 7))
    assert(math.abs(out("wk").getAs[Long]("weekday_f6") / 1e6 - f) < 1e-2,
      s"F ${out("wk").getAs[Long]("weekday_f6") / 1e6} vs textbook $f")
  }

  test("p09 drift panel: column-for-column identity with the five " +
      "standalone era monitors") {
    val panel = SignalOps.p09DriftPanel(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(panel.nonEmpty)
    def byType(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val psi = byType(SignalOps.q61DriftPsi(spark, dir))
    val ks = byType(SignalOps.q69KsDrift(spark, dir))
    val mw = byType(SignalOps.q84MannWhitney(spark, dir))
    val bf = byType(SignalOps.q66Benford(spark, dir))
    panel.foreach { case (t, row) =>
      assert(row.getAs[Long]("chi9") == bf(t).getAs[Long]("chi9"))
      psi.get(t).foreach(p =>
        assert(row.getAs[Long]("psi9") == p.getAs[Long]("psi9")))
      ks.get(t).foreach(k =>
        assert(row.getAs[Long]("ks6") == k.getAs[Long]("ks6")))
      mw.get(t).foreach(m =>
        assert(row.getAs[Long]("mw_z6") == m.getAs[Long]("mw_z6")))
      val score = row.getAs[Int]("drift_score")
      assert(score >= 0 && score <= 5)
      assert(row.getAs[Int]("drift_any") == (if (score > 0) 1 else 0))
    }
  }

  test("q84 Mann-Whitney: a level shift flags, a symmetric dispersion " +
      "change stays quiet, z replays the tie-corrected textbook formula") {
    import spark.implicits._
    def d(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    def write(rows: Seq[(String, Int, Double)]): String = {
      val df = rows.zipWithIndex.map { case ((typ, day, v), i) =>
        (1L, typ, i.toLong, d(day), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q84spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // "shift": era-2 center +2 with overlapping spread (ties included);
    // "vol": q79's symmetric dispersion quadrupling — same median,
    // balanced ranks, so the LOCATION test must stay quiet
    val shift = (1 to 20).flatMap { day =>
      val c = if (day > 10) 12.0 else 10.0
      val amp = if (day % 2 == 0) 1.0 else 0.5
      Seq(("shift", day, c - amp), ("shift", day, c + amp))
    }
    val vol = (1 to 20).flatMap { day =>
      val amp = (if (day % 2 == 0) 2.0 else 1.0) *
        (if (day > 10) 4.0 else 1.0)
      Seq(("vol", day, 10.0 - amp), ("vol", day, 10.0 + amp))
    }
    val out = SignalOps.q84MannWhitney(spark, write(shift ++ vol))
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("shift").getAs[Int]("location_shift_flag") == 1,
      out("shift").toString)
    assert(out("vol").getAs[Int]("location_shift_flag") == 0,
      out("vol").toString)
    assert(math.abs(out("vol").getAs[Long]("mw_z6")) < 500000L,
      out("vol").toString)
    // textbook replay with midranks and the tie-corrected variance
    val a = shift.filter(_._2 <= 10).map(_._3)
    val b = shift.filter(_._2 > 10).map(_._3)
    val all = (a.map((_, 0)) ++ b.map((_, 1))).sortBy(_._1)
    val ranks = scala.collection.mutable.Map[Double, Double]()
    var i = 0
    while (i < all.length) {
      var j = i
      while (j < all.length && all(j)._1 == all(i)._1) j += 1
      ranks(all(i)._1) = (i + 1 + j) / 2.0
      i = j
    }
    val r1 = a.map(ranks).sum
    val (n1, n2) = (a.length, b.length)
    val n = n1 + n2
    val u1 = r1 - n1 * (n1 + 1) / 2.0
    val ties = all.groupBy(_._1).values.map(_.size.toDouble)
      .map(t => t * t * t - t).sum
    val varU = n1.toDouble * n2 / 12.0 * ((n + 1) - ties / (n * (n - 1.0)))
    val z = (u1 - n1.toDouble * n2 / 2.0) / math.sqrt(varU)
    assert(math.abs(out("shift").getAs[Long]("mw_z6") / 1e6 - z) < 1e-3,
      s"z ${out("shift").getAs[Long]("mw_z6") / 1e6} vs textbook $z")
  }

  test("q82 OLS trend: exact slope and R2 on a clean ramp; an outlier " +
      "drags OLS where q64's Sen slope holds") {
    import spark.implicits._
    def d(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    def write(rows: Seq[(Long, String, Long, java.sql.Timestamp, Double)])
        : String = {
      val tmp = java.nio.file.Files.createTempDirectory("q82spec").toString
      rows.toDF("user_id", "event_type", "event_id", "ts", "value")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    val clean = (1 to 20).map(i =>
      (1L, "t", i.toLong, d(i), 10.0 + 0.5 * (i - 1)))
    val o1 = SignalOps.q82OlsTrend(spark, write(clean)).collect().head
    assert(o1.getAs[Long]("ols_slope_day6") == 500000L, o1.toString)
    assert(o1.getAs[Long]("r2_6") == 1000000L, o1.toString)
    assert(o1.getAs[Int]("trend_fit_flag") == 1)
    // one gross outlier: OLS slope leaves the true rate and R2
    // collapses, while the Theil-Sen slope stays put
    val dirty = clean.map { case r @ (u, t, e, ts, v) =>
      if (e == 10L) (u, t, e, ts, 1000.0) else r
    }
    val tmp2 = write(dirty)
    val o2 = SignalOps.q82OlsTrend(spark, tmp2).collect().head
    assert(math.abs(o2.getAs[Long]("ols_slope_day6") - 500000L) > 200000L,
      o2.toString)
    assert(o2.getAs[Long]("r2_6") < 500000L, o2.toString)
    val sen = SignalOps.q64TrendMk(spark, tmp2).collect().head
      .getAs[Double]("sen_slope_day")
    assert(math.abs(sen - 0.5) < 0.05, s"Sen slope moved: $sen")
  }

  test("q98 MACD: flat series is identically zero, LCG walk matches " +
    "the exact three-kernel chain") {
    import spark.implicits._
    def write(vals: Seq[Double]): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, "md", i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q98spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    val flat = SignalOps.q98Macd(spark, write(Seq.fill(20)(5.5))).collect()
    assert(flat.length == 20 && flat.forall(r =>
      r.getAs[Long]("macd6") == 0L && r.getAs[Long]("signal6") == 0L &&
        r.getAs[Long]("hist6") == 0L && r.getAs[Int]("cross_flag") == 0))
    // LCG pseudo-walk: replicate the kernel chain locally in the SAME
    // left-assoc double order (0.0 terms included for missing lags)
    var seed = 2468L
    val steps = (0 until 40).map { _ =>
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      ((seed % 19).toInt - 9) * 0.1
    }
    val walk = steps.scanLeft(100.0)(_ + _)
    val q = walk.map(x => math.floor(x * 10000.0 + 0.5) / 10000.0)
    def kern(src: Int => Double, ws: Seq[Double], i: Int): Double = {
      var num = 0.0; var den = 0.0
      ws.zipWithIndex.foreach { case (w, j) =>
        if (i - j >= 0) { num += w * src(i - j); den += w }
        else { num += 0.0; den += 0.0 }
      }
      num / den
    }
    val fast = q.indices.map(i =>
      math.floor(kern(q(_), SignalOps.FastW, i) * 1e6 + 0.5).toLong)
    val slow = q.indices.map(i =>
      math.floor(kern(q(_), SignalOps.SlowW, i) * 1e6 + 0.5).toLong)
    val macd = fast.zip(slow).map { case (a, b) => a - b }
    val sig = q.indices.map(i =>
      math.floor(kern(j => macd(j).toDouble, SignalOps.SigW, i) + 0.5)
        .toLong)
    val hist = macd.zip(sig).map { case (a, b) => a - b }
    val out = SignalOps.q98Macd(spark, write(walk))
      .orderBy("event_id").collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("macd6") == macd(i) &&
        r.getAs[Long]("signal6") == sig(i) &&
        r.getAs[Long]("hist6") == hist(i), s"row $i: $r")
    }
    assert(out.exists(_.getAs[Int]("cross_flag") != 0))
  }

  test("q99 Bollinger: flat series has zero width, planted spike " +
    "breaches the upper band") {
    import spark.implicits._
    val vals = Seq.fill(10)(10.0) :+ 10.6
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, "bb", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 00:${i}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q99spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q99Bollinger(spark, tmp).orderBy("event_id")
      .collect()
    assert(out.length == 11)
    // n < 4: NULL stats, flag 0
    out.take(3).foreach { r =>
      assert(r.isNullAt(r.fieldIndex("sd6")) &&
        r.getAs[Int]("band_flag") == 0, r.toString)
    }
    // flat full windows: zero width, bands collapse onto the mid
    out.slice(3, 10).foreach { r =>
      assert(r.getAs[Long]("sd6") == 0L &&
        r.getAs[Long]("upper6") == r.getAs[Long]("mid6") &&
        r.getAs[Long]("lower6") == r.getAs[Long]("mid6") &&
        r.isNullAt(r.fieldIndex("pctb6")) &&
        r.getAs[Long]("bandwidth6") == 0L &&
        r.getAs[Int]("band_flag") == 0, r.toString)
    }
    // the spike: trailing window 7x10.0 + 10.6 -> sd6 = 212132,
    // upper6 = 10075000 + 2*212132 < 10.6e6 -> breach
    val sp = out.last
    assert(sp.getAs[Long]("sd6") == 212132L, sp.toString)
    assert(sp.getAs[Long]("upper6") == 10499264L, sp.toString)
    assert(sp.getAs[Int]("band_flag") == 1, sp.toString)
  }

  test("q101 RiskMetrics vol: flat series is zero-vol, LCG walk " +
    "matches the exact kernel chain") {
    import spark.implicits._
    def write(vals: Seq[Double]): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, "rv", i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q101spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    val flat = SignalOps.q101RiskmetricsVol(spark, write(Seq.fill(15)(7.5)))
      .orderBy("event_id").collect()
    assert(flat.head.isNullAt(flat.head.fieldIndex("vol6")))
    flat.tail.foreach { r =>
      assert(r.getAs[Long]("vol6") == 0L &&
        r.isNullAt(r.fieldIndex("z6")) &&
        r.getAs[Int]("vol_spike_flag") == 0, r.toString)
    }
    var seed = 1357L
    val steps = (0 until 40).map { _ =>
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      ((seed % 19).toInt - 9) * 0.1
    }
    val walk = steps.scanLeft(100.0)(_ + _)
    val v = walk.map(x => math.floor(x * 10000.0 + 0.5).toLong)
    val d = v.indices.map(i => if (i == 0) None else Some(v(i) - v(i - 1)))
    val x = d.map(_.map(dd => dd * dd / 10000L))
    val vol6 = x.indices.map { i =>
      if (x(i).isEmpty) None
      else {
        var num = 0.0; var den = 0.0
        SignalOps.VolW.zipWithIndex.foreach { case (w, j) =>
          if (i - j >= 0 && x(i - j).nonEmpty) {
            num += w * x(i - j).get; den += w
          } else { num += 0.0; den += 0.0 }
        }
        Some(math.floor(math.sqrt(num / den) * 100.0 + 0.5).toLong)
      }
    }
    val z6 = v.indices.map { i =>
      val vp = if (i == 0) None else vol6(i - 1)
      if (d(i).nonEmpty && vp.exists(_ > 0))
        Some(math.floor((d(i).get * 100L).toDouble / vp.get * 1000000.0 +
          0.5).toLong)
      else None
    }
    val out = SignalOps.q101RiskmetricsVol(spark, write(walk))
      .orderBy("event_id").collect()
    out.zipWithIndex.foreach { case (r, i) =>
      val gotVol = if (r.isNullAt(r.fieldIndex("vol6"))) None
        else Some(r.getAs[Long]("vol6"))
      val gotZ = if (r.isNullAt(r.fieldIndex("z6"))) None
        else Some(r.getAs[Long]("z6"))
      assert(gotVol == vol6(i) && gotZ == z6(i), s"row $i: $r")
    }
  }

  test("q102 ARCH test: constant increments are degenerate-null, " +
    "planted volatility clustering rejects") {
    import spark.implicits._
    def write(vals: Seq[Double]): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, "ar", i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q102spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // constant slope: every squared diff identical -> c = 0 -> NULLs
    val lin = SignalOps.q102ArchTest(spark, write((1 to 20).map(_ * 1.0)))
      .collect()
    assert(lin.length == 1)
    assert(lin.head.isNullAt(lin.head.fieldIndex("arch_q9")) &&
      lin.head.getAs[Int]("arch_flag") == 0, lin.head.toString)
    // calm half then wild half: squared diffs step up -> clustering
    val diffs = (0 until 20).map(i => if (i % 2 == 0) 0.1 else -0.1) ++
      (0 until 20).map(i => if (i % 2 == 0) 5.0 else -5.0)
    val clustered = diffs.scanLeft(100.0)(_ + _)
    val out = SignalOps.q102ArchTest(spark, write(clustered)).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("acf2_1_6") > 500000L, out.head.toString)
    assert(out.head.getAs[Int]("arch_flag") == 1, out.head.toString)
  }

  test("q100 rolling corr: perfect linear pairs lock at +/-1 once the " +
    "frame fills") {
    import spark.implicits._
    val rows = (1 to 10).flatMap { d =>
      Seq((1L, 10.0 + d), (2L, 20.0 + 2 * d), (3L, 16.0 - d)).map {
        case (u, v) => (u, "x", u * 100 + d,
          java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q100spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q100RollingCorr(spark, tmp).collect()
    assert(out.length == 30) // 3 pairs x 10 overlap days
    out.foreach { r =>
      val nw = r.getAs[Long]("n_win")
      assert(nw <= 8L, r.toString)
      val pair = (r.getAs[Long]("user_a"), r.getAs[Long]("user_b"))
      if (nw >= 4L) {
        val want = if (pair == (1L, 2L)) 1000000L else -1000000L
        assert(r.getAs[Long]("corr6") == want, r.toString)
        assert(r.getAs[Int]("comove_flag") == 1, r.toString)
      } else {
        assert(r.isNullAt(r.fieldIndex("corr6")) &&
          r.getAs[Int]("comove_flag") == 0, r.toString)
      }
    }
  }
  test("q104 seasonal profile: epoch weekday/hour cells, planted hot " +
    "cell flags, shares sum to ~1") {
    import spark.implicits._
    // 2024-01-01 is a Monday; (days+4)%7 with Sunday=0 -> Monday=1
    val rows = (0 until 20).map { i =>
      (1L, "sp", i.toLong,
        java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 10.0)
    } ++ (0 until 20).map { i =>
      (1L, "sp", 100L + i,
        java.sql.Timestamp.valueOf("2024-01-02 14:00:00"), 10.0)
    } ++ Seq((1L, "sp", 999L,
      java.sql.Timestamp.valueOf("2024-01-06 23:00:00"), 90.0))
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q104spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q104SeasonalProfile(spark, tmp).collect()
    assert(out.length == 3)
    val byCell = out.map(r => (r.getAs[Long]("dow"),
      r.getAs[Long]("hour")) -> r).toMap
    // java.time cross-check of the epoch weekday convention
    assert(byCell.contains((1L, 9L)) && byCell.contains((2L, 14L)) &&
      byCell.contains((6L, 23L)), byCell.keys.toString)
    assert(java.time.LocalDate.of(2024, 1, 6).getDayOfWeek ==
      java.time.DayOfWeek.SATURDAY)
    // the lone 90.0 print in the Saturday 23:00 cell is the hot one
    assert(byCell((6L, 23L)).getAs[Int]("hot_flag") == 1)
    assert(byCell((1L, 9L)).getAs[Int]("hot_flag") == 0 &&
      byCell((2L, 14L)).getAs[Int]("hot_flag") == 0)
    val shares = out.map(_.getAs[Long]("vol_share6")).sum
    assert(shares > 999000L && shares <= 1000000L, shares.toString)
  }

  test("q105 AR(1) half-life: oscillation is exactly phi = -(n-1)/n, " +
    "LCG walk matches the exact moment chain") {
    import spark.implicits._
    def write(vals: Seq[Double]): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, "hl", i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q105spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // alternating +/-A residuals: a1/c = -(n-1)/n = -0.95 exactly
    val osc = (0 until 20).map(i => 10.0 + (i % 2))
    val o = SignalOps.q105Ar1HalfLife(spark, write(osc)).collect().head
    assert(o.getAs[Long]("phi6") == -950000L &&
      o.isNullAt(o.fieldIndex("half_life6")) &&
      o.getAs[Int]("diverging_flag") == 0, o.toString)
    var seed = 8642L
    val steps = (0 until 40).map { _ =>
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      ((seed % 19).toInt - 9) * 0.1
    }
    val walk = steps.scanLeft(100.0)(_ + _)
    val x = walk.map(v => math.floor(v * 10000.0 + 0.5).toLong)
    val n = x.size
    val sx = x.map(BigInt(_)).sum
    val e = x.map(v => BigInt(n) * v - sx)
    val c = e.map(v => v * v).sum
    val a1 = (1 until n).map(i => e(i) * e(i - 1)).sum
    val phi6 = math.floor(a1.toDouble / c.toDouble * 1e6 + 0.5).toLong
    val w = SignalOps.q105Ar1HalfLife(spark, write(walk)).collect().head
    assert(w.getAs[Long]("phi6") == phi6, s"$w vs $phi6")
    if (phi6 > 0 && phi6 < 1000000L) {
      val hl = math.floor(-0.6931471805599453 /
        math.log(phi6 / 1000000.0) * 1e6 + 0.5).toLong
      assert(w.getAs[Long]("half_life6") == hl, s"$w vs $hl")
    }
  }
  test("q106 burstiness: a metronome scores exactly -1, a planted " +
    "burst pattern flags bursty") {
    import spark.implicits._
    def write(gapsSec: Seq[Long]): String = {
      val rows = (0L +: gapsSec.scanLeft(0L)(_ + _).tail).zipWithIndex
        .map { case (sec, i) =>
          (1L, "bu", i.toLong,
            new java.sql.Timestamp(1704067200000L + sec * 1000L), 1.0)
        }
      val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q106spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    val metro = SignalOps.q106Burstiness(spark,
      write(Seq.fill(10)(60L))).collect().head
    assert(metro.getAs[Long]("sd_gap_us") == 0L &&
      metro.getAs[Long]("cv6") == 0L &&
      metro.getAs[Long]("burstiness6") == -1000000L &&
      metro.getAs[Int]("bursty_flag") == 0, metro.toString)
    // 9 one-second gaps then one 1000-second sleep: bursty
    val bursty = SignalOps.q106Burstiness(spark,
      write(Seq.fill(9)(1L) :+ 1000L)).collect().head
    assert(bursty.getAs[Long]("burstiness6") > 300000L &&
      bursty.getAs[Int]("bursty_flag") == 1, bursty.toString)
  }

  test("q107 transition matrix: exact counts and conditional " +
    "probabilities on a planted path") {
    import spark.implicits._
    // user 1: A B A B A ; user 2: A A C
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val rows = Seq(
      (1L, 1L, ts(0), "A"), (1L, 2L, ts(1), "B"), (1L, 3L, ts(2), "A"),
      (1L, 4L, ts(3), "B"), (1L, 5L, ts(4), "A"),
      (2L, 6L, ts(0), "A"), (2L, 7L, ts(1), "A"), (2L, 8L, ts(2), "C"))
      .map { case (u, e, t, ty) => (u, e, t, ty, 1.0) }
    val df = rows.toDF("user_id", "event_id", "ts", "event_type", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q107spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q107MarkovTransitions(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet == Set(("A", "B"), ("B", "A"), ("A", "A"),
      ("A", "C")), out.keys.toString)
    assert(out(("A", "B")).getAs[Long]("n_trans") == 2L &&
      out(("A", "B")).getAs[Long]("from_total") == 4L &&
      out(("A", "B")).getAs[Long]("p6") == 500000L)
    assert(out(("B", "A")).getAs[Long]("p6") == 1000000L)
    assert(out(("A", "A")).getAs[Int]("self_loop") == 1 &&
      out(("A", "A")).getAs[Long]("p6") == 250000L)
    assert(out(("A", "C")).getAs[Long]("p6") == 250000L)
  }
  test("q108 CCF: a 2-day follower locks at +1 exactly at lag +2") {
    import spark.implicits._
    var seed = 31L
    val pat = (0 until 14).map { _ =>
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      10.0 + (seed % 97).toInt * 0.1
    }
    // B(d) = A(d-2): A leads B by two days
    val rows = (2 until 14).flatMap { d =>
      Seq((1L, pat(d)), (2L, pat(d - 2))).map { case (u, v) =>
        (u, "x", u * 100 + d,
          java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q108spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q108CrossCorrelation(spark, tmp).collect()
      .map(r => r.getAs[Int]("lag") -> r).toMap
    val atLead = out(2)
    assert(atLead.getAs[Long]("ccf6") == 1000000L &&
      atLead.getAs[Int]("lead_flag") == 1, atLead.toString)
    // elsewhere the LCG pattern decorrelates
    out.filterKeys(_ != 2).values.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("ccf6")) ||
        math.abs(r.getAs[Long]("ccf6")) < 1000000L, r.toString)
    }
  }

  test("q111 Granger: the 1-day follower flags A->B only, a constant " +
    "series degenerates to NULL") {
    import spark.implicits._
    var seed = 47L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 997).toInt * 0.01
    }
    val a = (0 until 24).map(_ => 10.0 + lcg())
    val eps = (0 until 24).map(_ => lcg() * 0.01)
    // user 1 = leader A; user 2 = B(d) = A(d-1) + tiny noise (noise
    // keeps RSS_u > 0 so F is finite); user 3 = constant
    val rows = (1 until 24).flatMap { d =>
      Seq((1L, a(d)), (2L, a(d - 1) + eps(d)), (3L, 5.0)).map {
        case (u, v) =>
          (u, "x", u * 100 + d,
            java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q111spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q111Granger(spark, tmp).collect()
      .map(r => (r.getAs[Long]("user_a"), r.getAs[Long]("user_b")) -> r)
      .toMap
    val ab = out((1L, 2L))
    assert(ab.getAs[Int]("causal_ab") == 1 &&
      ab.getAs[Long]("f_ab6") > 4000000L, ab.toString)
    // the reverse direction (B's past explaining white-noise A) must
    // be far weaker than the planted one
    assert(ab.isNullAt(ab.fieldIndex("f_ba6")) ||
      ab.getAs[Long]("f_ba6") < ab.getAs[Long]("f_ab6") / 10,
      ab.toString)
    // constant target: S'11 = 0 -> NULL F, flag 0 (q85's convention)
    val ac = out((1L, 3L))
    assert(ac.isNullAt(ac.fieldIndex("f_ab6")) &&
      ac.getAs[Int]("causal_ab") == 0, ac.toString)
  }

  test("q112 cointegration: a shared-trend pair flags, independent " +
    "walks do not, a constant leg degenerates to NULL") {
    import spark.implicits._
    var seed = 91L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0 // step in [-1, 1]
    }
    // user 1 = random walk A; user 2 = A + stationary noise (the
    // cointegrated pair: the spread never drifts); user 4 = an
    // INDEPENDENT walk (can correlate with A by luck, but the
    // spread itself walks); user 5 = constant
    val n = 30
    val wA = Iterator.iterate(100.0)(_ + lcg()).take(n).toVector
    val wC = Iterator.iterate(100.0)(_ + lcg()).take(n).toVector
    val noise = (0 until n).map(_ => lcg() * 0.05)
    val rows = (0 until n).flatMap { d =>
      Seq((1L, wA(d)), (2L, wA(d) + noise(d)), (4L, wC(d)), (5L, 50.0))
        .map { case (u, v) =>
          (u, "x", u * 100 + d,
            java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 10:00:00"), v)
        }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q112spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q112Cointegration(spark, tmp).collect()
      .map(r => (r.getAs[Long]("user_a"), r.getAs[Long]("user_b")) -> r)
      .toMap
    val coint = out((1L, 2L))
    assert(coint.getAs[Int]("coint_flag") == 1 &&
      coint.getAs[Long]("df_t6") < -3370000L, coint.toString)
    // β̂ of the unit-slope pair is ≈ 1
    assert(math.abs(coint.getAs[Long]("beta6") - 1000000L) < 100000L,
      coint.toString)
    val indep = out((1L, 4L))
    assert(indep.getAs[Int]("coint_flag") == 0, indep.toString)
    // constant leg: zero residual variance -> NULL t, flag 0
    val const = out((1L, 5L))
    assert(const.isNullAt(const.fieldIndex("df_t6")) &&
      const.getAs[Int]("coint_flag") == 0, const.toString)
  }

  test("q113 ADF: white noise rejects the unit root, a random walk " +
    "does not, a constant series degenerates to NULL") {
    import spark.implicits._
    var seed = 77L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val n = 40
    val noise = (0 until n).map(_ => 100.0 + lcg())            // stationary
    val walk = Iterator.iterate(100.0)(_ + lcg()).take(n).toVector
    val rows = (0 until n).flatMap { i =>
      Seq((1L, noise(i)), (2L, walk(i)), (3L, 5.0)).map { case (u, v) =>
        (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q113spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q113AdfUnitRoot(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val stat = out(1L)
    assert(stat.getAs[Int]("stationary_flag") == 1 &&
      stat.getAs[Long]("adf_t6") < -2860000L, stat.toString)
    // a mean-reverting series regresses Δy fully on y1: ρ̂ ≈ -1
    assert(math.abs(stat.getAs[Long]("rho6") + 1000000L) < 400000L,
      stat.toString)
    val rw = out(2L)
    assert(rw.getAs[Int]("stationary_flag") == 0, rw.toString)
    val const = out(3L)
    assert(const.isNullAt(const.fieldIndex("adf_t6")) &&
      const.getAs[Int]("stationary_flag") == 0, const.toString)
  }

  test("q114 KPSS: a drifting walk rejects level stationarity, " +
    "white noise does not, a constant series degenerates to NULL") {
    import spark.implicits._
    var seed = 61L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val n = 40
    val noise = (0 until n).map(_ => 100.0 + lcg())
    val walk = Iterator.iterate(100.0)(_ + 0.6 + lcg()).take(n).toVector
    val rows = (0 until n).flatMap { i =>
      Seq((1L, noise(i)), (2L, walk(i)), (3L, 5.0)).map { case (u, v) =>
        (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q114spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q114Kpss(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val stat = out(1L)
    assert(stat.getAs[Int]("nonstat_flag") == 0 &&
      stat.getAs[Long]("kpss6") < 463000L, stat.toString)
    val drift = out(2L)
    assert(drift.getAs[Int]("nonstat_flag") == 1 &&
      drift.getAs[Long]("kpss6") > 463000L, drift.toString)
    val const = out(3L)
    assert(const.isNullAt(const.fieldIndex("kpss6")) &&
      const.getAs[Int]("nonstat_flag") == 0, const.toString)
  }

  test("q115 Chow: a mid-sample slope flip flags, one straight trend " +
    "does not, a perfect two-regime step degenerates to NULL") {
    import spark.implicits._
    var seed = 83L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.001 - 0.1
    }
    val n = 40
    // user 1: rises then falls (slope +1 -> -1) with tiny noise;
    // user 2: one straight trend with the same noise;
    // user 3: two CONSTANT halves — each half fits perfectly
    // (B = C = 0 exactly), RSS1 + RSS2 = 0 -> the infinite-F
    // degenerate reports NULL
    val vee = (0 until n).map(i =>
      100.0 + (if (i < 20) i else 40 - i) + lcg())
    val line = (0 until n).map(i => 100.0 + i * 0.5 + lcg())
    val kink = (0 until n).map(i => if (i < 20) 100.0 else 200.0)
    val rows = (0 until n).flatMap { i =>
      Seq((1L, vee(i)), (2L, line(i)), (3L, kink(i))).map { case (u, v) =>
        (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q115spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q115ChowBreak(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val flip = out(1L)
    assert(flip.getAs[Int]("break_flag") == 1 &&
      flip.getAs[Long]("f_chow6") > 3000000L, flip.toString)
    val straight = out(2L)
    assert(straight.getAs[Int]("break_flag") == 0, straight.toString)
    val exact = out(3L)
    assert(exact.isNullAt(exact.fieldIndex("f_chow6")) &&
      exact.getAs[Int]("break_flag") == 0, exact.toString)
  }

  test("p13 regime panel: the joint ADF+KPSS call labels noise " +
    "mean-reverting, a drifting walk drifting, and thin series " +
    "insufficient") {
    import spark.implicits._
    var seed = 97L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val n = 40
    val noise = (0 until n).map(_ => 100.0 + lcg())
    val walk = Iterator.iterate(100.0)(_ + 0.6 + lcg()).take(n).toVector
    val rows = (0 until n).flatMap { i =>
      Seq((1L, noise(i)), (2L, walk(i)), (3L, 5.0)).map { case (u, v) =>
        (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }
    } ++ (0 until 10).map(i => // user 4: long enough for q105 only
      (4L, "x", 4000L + i, java.sql.Timestamp.valueOf(
        f"2024-01-01 00:$i%02d:00"), 100.0 + lcg()))
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("p13spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.p13RegimePanel(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out.size == 4, out.keySet.toString)
    assert(out(1L).getAs[String]("regime") == "mean_reverting" &&
      out(1L).getAs[Int]("stationary_flag") == 1 &&
      out(1L).getAs[Int]("nonstat_flag") == 0, out(1L).toString)
    assert(out(2L).getAs[String]("regime") == "drifting", out(2L).toString)
    // constant series: both tests NULL their statistic, flags 0 —
    // inconclusive, not insufficient (the rows are there)
    assert(out(3L).getAs[String]("regime") == "inconclusive",
      out(3L).toString)
    // 10 prints pass q105's bar but none of the round-10 tests:
    // φ present, verdict columns NULL, regime insufficient
    val thin = out(4L)
    assert(thin.getAs[String]("regime") == "insufficient" &&
      thin.isNullAt(thin.fieldIndex("stationary_flag")) &&
      !thin.isNullAt(thin.fieldIndex("phi6")), thin.toString)
  }

  test("q113/q114/q115 plan one series exchange; q112 plans no " +
    "cartesian node") {
    for (df <- Seq(SignalOps.q113AdfUnitRoot(spark, dir),
        SignalOps.q114Kpss(spark, dir),
        SignalOps.q115ChowBreak(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      val seriesExchanges = plan.split("\n")
        .count(l => l.contains("Exchange hashpartitioning") &&
          l.contains("user_id") && l.contains("event_type"))
      assert(seriesExchanges <= 1,
        s"expected one series exchange:\n$plan")
    }
    val p112 = SignalOps.q112Cointegration(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p112.contains("CartesianProduct") &&
      !p112.contains("BroadcastNestedLoopJoin"),
      s"pair join must be an equi-join:\n$p112")
  }

  test("q109 envelope: exact selection quantiles and midrank " +
    "percentile on a planted ramp") {
    import spark.implicits._
    val rows = (1 to 20).map { i =>
      (1L, "pe", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 00:$i%02d:00"), i * 1.0)
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q109spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val r = SignalOps.q109PercentileEnvelope(spark, tmp).collect().head
    assert(r.getAs[Long]("n_obs") == 20L)
    assert(r.getAs[Double]("p05") == 1.0 && r.getAs[Double]("p25") == 5.0 &&
      r.getAs[Double]("p50") == 10.0 && r.getAs[Double]("p75") == 15.0 &&
      r.getAs[Double]("p95") == 19.0, r.toString)
    // latest print is the max: midrank (2*19+1+1)/(2*20) = exactly 1.0
    assert(r.getAs[Double]("latest_value") == 20.0 &&
      r.getAs[Long]("latest_pct6") == 1000000L &&
      r.getAs[Int]("outside_env_flag") == 1, r.toString)
  }
  test("q110 modified z: the fat-finger print flags, MAD = 0 " +
    "degenerates to the dev test") {
    import spark.implicits._
    def write(vals: Seq[Double]): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, "mz", i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 00:$i%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q110spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // ramp 1..21 with one fat finger: median 11, MAD 5; 100 is
    // 0.6745*(100-11)/5 = 12.0 sigma-equivalents
    val ramp = (1 to 21).map(_ * 1.0) :+ 100.0
    val out = SignalOps.q110ModifiedZscore(spark, write(ramp))
      .orderBy("event_id").collect()
    assert(out.length == 22)
    val ff = out.last
    assert(ff.getAs[Double]("series_median") == 11.0 &&
      ff.getAs[Double]("mad") == 5.0, ff.toString)
    val want = math.floor(0.6745 * ((1000000L - 110000L)) / 50000L *
      1000000.0 + 0.5).toLong
    assert(ff.getAs[Long]("mz6") == want &&
      ff.getAs[Int]("mz_flag") == 1, s"$ff vs $want")
    // in-band ramp rows stay quiet
    assert(out.init.forall(_.getAs[Int]("mz_flag") == 0))
    // constant series + one blip: MAD = 0, only the blip flags
    val flat = Seq.fill(19)(10.0) :+ 10.5
    val d = SignalOps.q110ModifiedZscore(spark, write(flat))
      .orderBy("event_id").collect()
    assert(d.last.getAs[Int]("mz_flag") == 1 &&
      d.init.forall(_.getAs[Int]("mz_flag") == 0), d.last.toString)
    assert(d.forall(_.isNullAt(d.head.fieldIndex("mz6"))))
  }

  test("q116 JB: a fat-tailed spike rejects normality, flat-ish noise " +
    "does not, a constant series degenerates to NULL; moments match " +
    "a double recomputation") {
    import spark.implicits._
    var seed = 91L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val n = 40
    val noise = (0 until n).map(_ => 100.0 + lcg())
    val spiky = (0 until n).map(i =>
      if (i == 17) 500.0 else 100.0 + lcg())
    val rows = (0 until n).flatMap { i =>
      Seq((1L, noise(i)), (2L, spiky(i)), (3L, 5.0)).map { case (u, v) =>
        (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q116spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q116JarqueBera(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[Int]("nonnormal_flag") == 0, out(1L).toString)
    assert(out(2L).getAs[Int]("nonnormal_flag") == 1 &&
      out(2L).getAs[Long]("jb6") > 5991000L, out(2L).toString)
    val const = out(3L)
    assert(const.isNullAt(const.fieldIndex("jb6")) &&
      const.isNullAt(const.fieldIndex("skew6")) &&
      const.getAs[Int]("nonnormal_flag") == 0, const.toString)
    // double recomputation on the same 1e-2 grid (±2 µ for the
    // different accumulation order)
    val ys = spiky.map(v => math.floor(v * 100.0 + 0.5))
    val mean = ys.sum / n
    val m2 = ys.map(y => math.pow(y - mean, 2)).sum / n
    val m3 = ys.map(y => math.pow(y - mean, 3)).sum / n
    val m4 = ys.map(y => math.pow(y - mean, 4)).sum / n
    val sk = m3 / math.pow(m2, 1.5)
    val ku = m4 / (m2 * m2) - 3.0
    val jb = n * (sk * sk / 6.0 + ku * ku / 24.0)
    assert(math.abs(out(2L).getAs[Long]("skew6") - sk * 1e6) < 2.0 &&
      math.abs(out(2L).getAs[Long]("kurt6") - ku * 1e6) < 2.0 &&
      math.abs(out(2L).getAs[Long]("jb6") - jb * 1e6) < 20.0,
      s"${out(2L)} vs ($sk, $ku, $jb)")
  }

  test("q117 DW: a walk's trend residuals flag positive autocorrelation, " +
    "an alternator flags negative, white noise is near 2, a perfect " +
    "line degenerates to NULL") {
    import spark.implicits._
    var seed = 19L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val n = 40
    val walk = Iterator.iterate(100.0)(_ + lcg()).take(n).toVector
    val alt = (0 until n).map(i =>
      100.0 + (if (i % 2 == 0) 1.0 else -1.0) + lcg() * 0.05)
    val white = (0 until n).map(_ => 100.0 + lcg())
    val line = (0 until n).map(i => 100.0 + 0.5 * i)
    val rows = (0 until n).flatMap { i =>
      Seq((1L, walk(i)), (2L, alt(i)), (3L, white(i)), (4L, line(i)))
        .map { case (u, v) =>
          (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
            f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
        }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q117spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q117DurbinWatson(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[Int]("pos_auto_flag") == 1 &&
      out(1L).getAs[Long]("dw6") < 1500000L, out(1L).toString)
    assert(out(2L).getAs[Int]("neg_auto_flag") == 1 &&
      out(2L).getAs[Long]("dw6") > 2500000L, out(2L).toString)
    val w = out(3L)
    assert(w.getAs[Int]("pos_auto_flag") == 0 &&
      w.getAs[Int]("neg_auto_flag") == 0, w.toString)
    val perfect = out(4L)
    assert(perfect.isNullAt(perfect.fieldIndex("dw6")) &&
      perfect.getAs[Int]("pos_auto_flag") == 0, perfect.toString)
  }

  test("q118 sup-F: an off-center kink is found near its true date, " +
    "a straight trend stays quiet, a constant series degenerates " +
    "to NULL") {
    import spark.implicits._
    var seed = 47L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.001 - 0.1
    }
    val n = 40
    // kink at i = 28 — q115's fixed midpoint (t = 20) would split
    // INSIDE the first regime; the scan must find ~28 itself
    val vee = (0 until n).map(i =>
      100.0 + (if (i < 28) i else 56 - i) + lcg())
    val line = (0 until n).map(i => 100.0 + i * 0.5 + lcg())
    val rows = (0 until n).flatMap { i =>
      Seq((1L, vee(i)), (2L, line(i)), (3L, 7.0)).map { case (u, v) =>
        (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q118spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q118SupF(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val kink = out(1L)
    assert(kink.getAs[Int]("break_flag") == 1 &&
      kink.getAs[Long]("f_sup6") > 11790000L, kink.toString)
    assert(math.abs(kink.getAs[Long]("break_t") - 28L) <= 2L,
      kink.toString)
    assert(out(2L).getAs[Int]("break_flag") == 0, out(2L).toString)
    val const = out(3L)
    assert(const.isNullAt(const.fieldIndex("f_sup6")) &&
      const.isNullAt(const.fieldIndex("break_t")) &&
      const.getAs[Int]("break_flag") == 0 &&
      const.getAs[Long]("n_obs") == n.toLong, const.toString)
  }

  test("q119 Grubbs: a fat finger flags with its event_id, plain noise " +
    "stays quiet, an exact two-way tie picks the min event_id, a " +
    "constant series degenerates to NULL") {
    import spark.implicits._
    var seed = 29L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val n = 40
    val spiky = (0 until n).map(i =>
      if (i == 23) 500.0 else 100.0 + lcg())
    val noise = (0 until n).map(_ => 100.0 + lcg())
    val tie = (0 until n).map(i =>
      if (i == 10 || i == 30) 150.0 else 100.0)
    val rows = (0 until n).flatMap { i =>
      Seq((1L, spiky(i)), (2L, noise(i)), (3L, tie(i)), (4L, 9.0))
        .map { case (u, v) =>
          (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
            f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
        }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q119spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q119Grubbs(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val ff = out(1L)
    assert(ff.getAs[Int]("outlier_flag") == 1 &&
      ff.getAs[Long]("g6") > 3000000L &&
      ff.getAs[Long]("outlier_event_id") == 1023L, ff.toString)
    assert(out(2L).getAs[Int]("outlier_flag") == 0, out(2L).toString)
    // both spikes deviate identically (exact integer tie) — min id
    assert(out(3L).getAs[Long]("outlier_event_id") == 3010L,
      out(3L).toString)
    val const = out(4L)
    assert(const.isNullAt(const.fieldIndex("g6")) &&
      const.getAs[Int]("outlier_flag") == 0, const.toString)
  }

  test("q120 CvM: identical era multisets give exactly zero, a " +
    "location shift flags") {
    import spark.implicits._
    var seed = 53L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val nDays = 40
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
        .atStartOfDay())
    // type "same": the second era replays the first era's values
    // verbatim -> F1 == F2 at every pooled point -> T = 0 exactly
    val firstEra = (0 until nDays / 2).map(_ => 100.0 + lcg())
    // type "shift": a +0.8 location shift across the whole support
    val refVals = (0 until nDays / 2).map(_ => 100.0 + lcg())
    val rows =
      (0 until nDays / 2).flatMap { i =>
        Seq((1L, "same", i, firstEra(i)),
          (2L, "same", i + nDays / 2, firstEra(i)),
          (3L, "shift", i, refVals(i)),
          (4L, "shift", i + nDays / 2, refVals(i) + 0.8))
      }.map { case (u, t, d, v) =>
        (u, t, u * 1000 + d, day(d), v)
      }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q120spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q120CvmDrift(spark, tmp).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val same = out("same")
    assert(same.getAs[Long]("cvm6") == 0L &&
      same.getAs[Int]("drift_flag") == 0, same.toString)
    val sh = out("shift")
    assert(sh.getAs[Int]("drift_flag") == 1 &&
      sh.getAs[Long]("cvm6") > 461000L, sh.toString)
    assert(sh.getAs[Long]("n_ref") == 20L &&
      sh.getAs[Long]("n_cur") == 20L, sh.toString)
  }

  test("q116-q118 plan one series exchange; q120 plans no join " +
    "beyond the broadcast pivot") {
    for (df <- Seq(SignalOps.q116JarqueBera(spark, dir),
        SignalOps.q117DurbinWatson(spark, dir),
        SignalOps.q118SupF(spark, dir),
        SignalOps.q119Grubbs(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      val seriesExchanges = plan.split("\n")
        .count(l => l.contains("Exchange hashpartitioning") &&
          l.contains("user_id") && l.contains("event_type"))
      assert(seriesExchanges <= 1,
        s"expected one series exchange:\n$plan")
    }
    val p120 = SignalOps.q120CvmDrift(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p120.contains("CartesianProduct") &&
      !p120.contains("SortMergeJoin"),
      s"pivot must broadcast:\n$p120")
  }

  test("q121 KW: a planted Monday shift flags, plain noise doesn't, a " +
    "constant series NULLs; H matches a double midrank recomputation") {
    import spark.implicits._
    var seed = 77L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val n = 42 // 6 full weeks from a Monday — every weekday present
    val d0 = java.time.LocalDate.parse("2024-01-01") // a Monday
    val days = (0 until n).map(d0.plusDays(_))
    val noise = (0 until n).map(_ => 100.0 + lcg())
    val monday = days.map(d =>
      100.0 + lcg() + (if (d.getDayOfWeek.getValue == 1) 50.0 else 0.0))
    val rows = (0 until n).flatMap { i =>
      Seq((1L, monday(i)), (2L, noise(i)), (3L, 5.0)).map { case (u, v) =>
        (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
          s"${days(i)} 10:00:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q121spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q121KruskalWallis(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[Int]("weekday_effect_flag") == 1 &&
      out(1L).getAs[Long]("kw_h6") > 12591600L, out(1L).toString)
    assert(out(2L).getAs[Int]("weekday_effect_flag") == 0, out(2L).toString)
    val const = out(3L)
    assert(const.isNullAt(const.fieldIndex("kw_h6")) &&
      const.getAs[Int]("weekday_effect_flag") == 0, const.toString)
    // double midrank recomputation for the planted series
    val ys = monday.map(v => math.floor(v * 10000.0 + 0.5))
    val gs = days.map(d => (d.getDayOfWeek.getValue - 1) % 7)
    val rank = ys.sorted.zipWithIndex.groupBy(_._1)
      .map { case (y, xs) => y -> (xs.map(_._2 + 1).sum.toDouble / xs.size) }
    val byDay = (0 until 7).map(g =>
      (0 until n).filter(gs(_) == g).map(i => rank(ys(i))))
    val a = byDay.map(rs => math.pow(rs.sum, 2) / rs.size).sum
    val ties = ys.groupBy(identity).values
      .map(v => math.pow(v.size, 3) - v.size).sum
    val cc = 1.0 - ties / (math.pow(n, 3) - n)
    val h = (12.0 / (n * (n + 1.0)) * a - 3.0 * (n + 1)) / cc
    assert(math.abs(out(1L).getAs[Long]("kw_h6") - h * 1e6) < 5.0,
      s"${out(1L)} vs $h")
  }

  test("q122 turning points: an alternator lands the exact closed-form " +
    "z and flags, a monotone ramp flags low, LCG noise stays quiet") {
    import spark.implicits._
    var seed = 33L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val n = 40
    val alt = (0 until n).map(i =>
      100.0 + (if (i % 2 == 0) 1.0 else -1.0))
    val ramp = (0 until n).map(i => 100.0 + 0.5 * i)
    val noise = (0 until n).map(_ => 100.0 + lcg())
    val rows = (0 until n).flatMap { i =>
      Seq((1L, alt(i)), (2L, ramp(i)), (3L, noise(i))).map { case (u, v) =>
        (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q122spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q122TurningPoints(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val za = (3.0 * 38 - 2 * 40 + 4) / (3.0 * math.sqrt((16.0 * 40 - 29) / 90.0))
    assert(out(1L).getAs[Long]("n_turns") == 38L &&
      out(1L).getAs[Long]("tp_z6") == math.floor(za * 1e6 + 0.5).toLong &&
      out(1L).getAs[Int]("nonrandom_flag") == 1, out(1L).toString)
    assert(out(2L).getAs[Long]("n_turns") == 0L &&
      out(2L).getAs[Long]("tp_z6") < -1960000L &&
      out(2L).getAs[Int]("nonrandom_flag") == 1, out(2L).toString)
    assert(out(3L).getAs[Int]("nonrandom_flag") == 0, out(3L).toString)
  }

  test("q123 Bartlett: a wild-Monday series flags, homogeneous noise " +
    "doesn't, a constant weekday NULLs; B matches a double recomputation") {
    import spark.implicits._
    var seed = 91L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val n = 42 // 6 full weeks from a Monday
    val d0 = java.time.LocalDate.parse("2024-01-01") // a Monday
    val days = (0 until n).map(d0.plusDays(_))
    val wild = days.zipWithIndex.map { case (d, i) =>
      100.0 + lcg() + (if (d.getDayOfWeek.getValue == 1)
        (if (i % 2 == 0) 30.0 else -30.0) else 0.0)
    }
    val noise = (0 until n).map(_ => 100.0 + lcg())
    val constMon = days.map(d =>
      if (d.getDayOfWeek.getValue == 1) 100.0 else 100.0 + lcg())
    val rows = (0 until n).flatMap { i =>
      Seq((1L, wild(i)), (2L, noise(i)), (3L, constMon(i))).map {
        case (u, v) =>
          (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
            s"${days(i)} 10:00:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q123spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q123Bartlett(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[Int]("hetero_flag") == 1 &&
      out(1L).getAs[Long]("bart6") > 12591600L, out(1L).toString)
    assert(out(2L).getAs[Int]("hetero_flag") == 0, out(2L).toString)
    val cst = out(3L)
    assert(cst.isNullAt(cst.fieldIndex("bart6")) &&
      cst.getAs[Int]("hetero_flag") == 0, cst.toString)
    // double recomputation for the wild series on the 1e-4 grid
    val ys = wild.map(v => math.floor(v * 10000.0 + 0.5).toLong)
    val gs = days.map(d => (d.getDayOfWeek.getValue - 1) % 7)
    val byDay = (0 until 7).map(g =>
      (0 until n).filter(gs(_) == g).map(ys(_)))
    val vsD = byDay.map { grp =>
      val nd = grp.size.toLong
      val m2 = nd * grp.map(y => y * y).sum - math.pow(grp.sum.toDouble, 2)
      m2 / nd
    }
    val w = vsD.sum
    val nn = n.toDouble
    val t = (nn - 7) * math.log(w / (nn - 7)) -
      byDay.zip(vsD).map { case (grp, v) =>
        (grp.size - 1.0) * math.log(v / (grp.size - 1.0)) }.sum
    val c = 1.0 + (byDay.map(g => 1.0 / (g.size - 1.0)).sum -
      1.0 / (nn - 7)) / 18.0
    assert(math.abs(out(1L).getAs[Long]("bart6") - t / c * 1e6) < 10.0,
      s"${out(1L)} vs ${t / c}")
  }

  test("q124 CUSUM-of-squares: a planted variance break flags at its " +
    "date, a constant-|diff| series scores exactly 0, a constant NULLs") {
    import spark.implicits._
    // series 1: 20 tiny |d|=0.01 steps then 20 huge |d|=10 steps
    val brk = (0 to 40).map { i =>
      if (i <= 20) 100.0 + (i % 2) * 0.01
      else 100.0 + (i % 2) * 10.0
    }
    // series 2: perfect alternator — C_k = k exactly, D == 0
    val alt = (0 to 40).map(i => 100.0 + (if (i % 2 == 0) 1.0 else -1.0))
    val const = (0 to 40).map(_ => 42.0)
    val rows = (0 to 40).flatMap { i =>
      Seq((1L, brk(i)), (2L, alt(i)), (3L, const(i))).map { case (u, v) =>
        (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q124spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q124CusumSquares(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val b = out(1L)
    assert(b.getAs[Int]("var_break_flag") == 1 &&
      b.getAs[Long]("it6") > 1358000L &&
      b.getAs[Long]("break_event_id") == 1020L, b.toString)
    assert(out(2L).getAs[Long]("it6") == 0L &&
      out(2L).getAs[Int]("var_break_flag") == 0, out(2L).toString)
    val cst = out(3L)
    assert(cst.isNullAt(cst.fieldIndex("it6")) &&
      cst.getAs[Int]("var_break_flag") == 0, cst.toString)
    // closed-form IT for the planted break at k=20 of m=40
    val cks = (1 to 40).map { k =>
      val tiny = math.min(k, 20).toLong * 100L * 100L
      val huge = math.max(k - 20, 0).toLong * 100000L * 100000L
      tiny + huge
    } // |d| grid: 100 in regime 1, 100000 in regime 2
    val cm = cks.last
    val maxnum = (1 to 40).map(k =>
      math.abs(40L * cks(k - 1) - k.toLong * cm)).max
    val it = math.sqrt(20.0) * maxnum.toDouble / (40.0 * cm.toDouble)
    assert(b.getAs[Long]("it6") == math.floor(it * 1e6 + 0.5).toLong,
      s"$b vs $it")
  }

  test("q128 binary segmentation: two planted mean breaks are both " +
    "found at their dates, a single break reports one, constant NULLs") {
    import spark.implicits._
    // series 1: three regimes 100 / 200 / 50 (breaks after t=15, t=30)
    val two = (1 to 45).map(i => if (i <= 15) 100.0
      else if (i <= 30) 200.0 else 50.0)
    // series 2: one clean step after t=20
    val one = (1 to 40).map(i => if (i <= 20) 100.0 else 300.0)
    val const = (1 to 40).map(_ => 42.0)
    val rows =
      two.zipWithIndex.map { case (v, i) => (1L, v, i) } ++
        one.zipWithIndex.map { case (v, i) => (2L, v, i) } ++
        const.zipWithIndex.map { case (v, i) => (3L, v, i) }
    val df = rows.map { case (u, v, i) =>
      (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q128spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q128BinarySegmentation(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val t2 = out(1L)
    assert(t2.getAs[Int]("n_breaks") == 2, t2.toString)
    val found = Set(t2.getAs[Long]("break1_t"), t2.getAs[Long]("break2_t"))
    // each reported split within 2 prints of a true regime boundary,
    // and the two reports hit DIFFERENT boundaries
    assert(found.exists(k => math.abs(k - 15) <= 2) &&
      found.exists(k => math.abs(k - 30) <= 2), t2.toString)
    val s1 = out(2L)
    assert(s1.getAs[Int]("n_breaks") == 1 &&
      s1.getAs[Long]("break1_t") == 20L &&
      s1.isNullAt(s1.fieldIndex("break2_t")), s1.toString)
    val cst = out(3L)
    assert(cst.getAs[Int]("n_breaks") == 0 &&
      cst.isNullAt(cst.fieldIndex("break1_t")) &&
      cst.isNullAt(cst.fieldIndex("z1_6")), cst.toString)
  }

  test("q129 Kendall tau: monotone re-scale keeps tau=1 where Pearson " +
    "decays, anti-monotone is -1, an all-tied side is NULL") {
    import spark.implicits._
    // 8 daily closes; user 1 linear, user 2 = convex monotone rescale
    // of user 1 (2^i), user 3 = reversed, user 4 constant
    val days = 1 to 8
    val rows = days.flatMap { i =>
      Seq(
        (1L, i.toDouble),
        (2L, math.pow(2.0, i)),
        (3L, (9 - i).toDouble),
        (4L, 7.0)
      ).zipWithIndex.map { case ((u, v), _) =>
        (u, "x", u * 100 + i, java.sql.Timestamp.valueOf(
          f"2024-01-${i}%02d 12:00:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q129spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val tau = SignalOps.q129KendallTau(spark, tmp).collect()
      .map(r => (r.getAs[Long]("user_a"), r.getAs[Long]("user_b")) -> r)
      .toMap
    assert(tau((1L, 2L)).getAs[Long]("tau6") == 1000000L, tau((1L, 2L)))
    assert(tau((1L, 3L)).getAs[Long]("tau6") == -1000000L, tau((1L, 3L)))
    val tied = tau((1L, 4L))
    assert(tied.isNullAt(tied.fieldIndex("tau6")), tied.toString)
    // ... while Pearson on the same (1,2) pair is strictly below 1
    val pear = SignalOps.q94CorrMatrix(spark, tmp).collect()
      .map(r => (r.getAs[Long]("user_a"), r.getAs[Long]("user_b")) -> r)
      .toMap
    assert(pear((1L, 2L)).getAs[Long]("corr6") < 1000000L, pear((1L, 2L)))
    // exact census on the planted pair: all 28 day-pairs concordant
    assert(tau((1L, 2L)).getAs[Long]("c_pairs") == 28L &&
      tau((1L, 2L)).getAs[Long]("d_pairs") == 0L)
  }

  test("q130 Friedman: a consistent weekday order over 3 complete weeks " +
    "scores exactly 6n and flags, constant weeks are NULL, thin visible") {
    import spark.implicits._
    // 2024-01-01 is a Monday: days 1..21 = three complete Mon-Sun blocks
    val rows =
      (1 to 21).map { d =>
        val wd = (d - 1) % 7
        (1L, "x", 100L + d, java.sql.Timestamp.valueOf(
          f"2024-01-$d%02d 12:00:00"), (wd + 1).toDouble)
      } ++
        (1 to 21).map { d =>
          (2L, "x", 200L + d, java.sql.Timestamp.valueOf(
            f"2024-01-$d%02d 12:00:00"), 42.0)
        } ++
        (1 to 5).map { d =>
          (3L, "x", 300L + d, java.sql.Timestamp.valueOf(
            f"2024-01-$d%02d 12:00:00"), d.toDouble)
        }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q130spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q130Friedman(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out.size == 3, "thin series stays visible")
    val eff = out(1L)
    // tie-free consistent order: Q = 6n = 18 exactly, over the bar
    assert(eff.getAs[Long]("n_blocks") == 3L &&
      eff.getAs[Long]("fried6") == 18000000L &&
      eff.getAs[Int]("weekday_flag") == 1, eff.toString)
    val cst = out(2L)
    assert(cst.getAs[Long]("n_blocks") == 3L &&
      cst.isNullAt(cst.fieldIndex("fried6")) &&
      cst.getAs[Int]("weekday_flag") == 0, cst.toString)
    val thin = out(3L)
    assert(thin.getAs[Long]("n_blocks") == 0L &&
      thin.isNullAt(thin.fieldIndex("fried6")), thin.toString)
  }

  test("q131 trend-ADF: LCG noise around a ramp rejects the unit " +
    "root, an LCG walk doesn't, a noiseless line and a constant NULL") {
    import spark.implicits._
    var seed = 7L
    // high bits only: an LCG's low-bit parity ALTERNATES (period 2),
    // and any perfectly periodic wave around the ramp makes the
    // increment an affine function of (t, y_{t-1}) — an EXACT fit,
    // RSS = 0, the designed NULL rather than a rejection
    def lcg(): Int = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      ((seed >> 16) % 5).toInt - 2
    }
    var w = 500.0
    val rows =
      (1 to 40).map { i =>
        (1L, 100.0 + 5.0 * i + lcg(), i)
      } ++
        (1 to 40).map { i => w += 3 * lcg() + 1; (2L, w, i) } ++
        (1 to 40).map(i => (3L, 10.0 + 2.0 * i, i)) ++
        (1 to 40).map(i => (4L, 42.0, i))
    val df = rows.map { case (u, v, i) =>
      (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q131spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q131AdfTrend(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    // detrended, the alternator mean-reverts hard: deep rejection
    val ts1 = out(1L)
    assert(ts1.getAs[Int]("trend_stationary_flag") == 1 &&
      ts1.getAs[Long]("adf_trend_t6") < -3410000L, ts1.toString)
    // the walk's level is not anchored to any trend line
    val wk = out(2L)
    assert(wk.getAs[Int]("trend_stationary_flag") == 0, wk.toString)
    // a NOISELESS line makes y_{t-1} exactly collinear with t: the
    // exact integer determinant is 0 and the test is undefined
    val ln = out(3L)
    assert(ln.isNullAt(ln.fieldIndex("adf_trend_t6")) &&
      ln.getAs[Int]("trend_stationary_flag") == 0, ln.toString)
    val cst = out(4L)
    assert(cst.isNullAt(cst.fieldIndex("adf_trend_t6")), cst.toString)
  }

  test("q132 trend-KPSS: a drifting walk rejects trend-stationarity, " +
    "LCG noise around a ramp doesn't, exact trend fits are NULL") {
    import spark.implicits._
    var seed = 19L
    def lcg(): Int = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      ((seed >> 16) % 5).toInt - 2
    }
    var w = 500.0
    val rows =
      (1 to 40).map(i => (1L, 100.0 + 5.0 * i + lcg(), i)) ++
        (1 to 40).map { i => w += 3 * lcg() + 1; (2L, w, i) } ++
        (1 to 40).map(i => (3L, 10.0 + 2.0 * i, i)) ++
        (1 to 40).map(i => (4L, 42.0, i))
    val df = rows.map { case (u, v, i) =>
      (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q132spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q132KpssTrend(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    // residuals around the fitted ramp are bounded noise: under the bar
    val ts1 = out(1L)
    assert(ts1.getAs[Int]("trend_nonstat_flag") == 0 &&
      ts1.getAs[Long]("kpss_trend6") <= 146000L, ts1.toString)
    // a walk wanders away from ANY fitted line: over the bar
    val wk = out(2L)
    assert(wk.getAs[Int]("trend_nonstat_flag") == 1, wk.toString)
    // an exact line and a constant both fit the trend exactly:
    // all residuals are 0 and the statistic is undefined
    val ln = out(3L)
    assert(ln.isNullAt(ln.fieldIndex("kpss_trend6")) &&
      ln.getAs[Int]("trend_nonstat_flag") == 0, ln.toString)
    assert(out(4L).isNullAt(out(4L).fieldIndex("kpss_trend6")))
  }

  test("q133 lag-ADF: a walk with mean-reverting increments fools " +
    "p=0 q131 but not q133; AR-noise trend-stationarity still rejects") {
    import spark.implicits._
    var seed = 19L
    def lcg(): Int = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      ((seed >> 16) % 5).toInt - 2
    }
    // user 1: y is I(1) (a true random walk) but its INCREMENTS
    // mean-revert: Δy_t = −0.8·Δy_{t−1} + 3e_t. The p = 0 trend-ADF
    // forces that short-run reversion into ρ̂ and spuriously rejects
    // (prototyped t ≈ −4.4); the γ·Δy_{t−1} term absorbs it
    // (prototyped t ≈ −1.9, correctly not rejected).
    var w = 500.0
    var d = 0.0
    val walk = (1 to 60).map { i =>
      val e = lcg(); d = -0.8 * d + 3 * e; w += d; (1L, w, i)
    }
    // user 2: genuinely trend-stationary with AR(1) noise — the lag
    // term must NOT destroy power (prototyped p1 t ≈ −4.0)
    var eps = 0.0
    val ts = (1 to 60).map { i =>
      eps = 0.3 * eps + lcg(); (2L, 100.0 + 5.0 * i + 4.0 * eps, i)
    }
    // user 3: noiseless line — Δy constant ⇒ Δy_{t−1} collinear with
    // the intercept, exact determinant 0, designed NULL. user 4:
    // constant — same degeneracy.
    val rows = walk ++ ts ++
      (1 to 60).map(i => (3L, 10.0 + 2.0 * i, i)) ++
      (1 to 60).map(i => (4L, 42.0, i))
    val df = rows.map { case (u, v, i) =>
      (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q133spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val p0 = SignalOps.q131AdfTrend(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val p1 = SignalOps.q133AdfLag(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    // the headline contrast: p0 misreads the walk, p1 does not
    assert(p0(1L).getAs[Int]("trend_stationary_flag") == 1, p0(1L).toString)
    assert(p1(1L).getAs[Int]("trend_stationary_flag") == 0 &&
      p1(1L).getAs[Long]("adf_lag_t6") > -3410000L, p1(1L).toString)
    // the lag coefficient actually captured the reversion (γ < 0)
    assert(p1(1L).getAs[Long]("gamma6") < -400000L, p1(1L).toString)
    // power retained on the genuinely trend-stationary series
    assert(p1(2L).getAs[Int]("trend_stationary_flag") == 1 &&
      p1(2L).getAs[Long]("adf_lag_t6") < -3410000L, p1(2L).toString)
    // exact-degeneracy NULLs
    assert(p1(3L).isNullAt(p1(3L).fieldIndex("adf_lag_t6")), p1(3L).toString)
    assert(p1(4L).isNullAt(p1(4L).fieldIndex("adf_lag_t6")), p1(4L).toString)
  }

  test("q134 level lag-ADF: the mean-reverting-increment walk fools " +
    "p=0 q113 but not q134; AR-noise mean reversion still rejects") {
    import spark.implicits._
    var seed = 7L
    def lcg(): Int = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      ((seed >> 16) % 5).toInt - 2
    }
    // user 1: an I(1) walk whose increments mean-revert — q113's p=0
    // level regression misreads it (prototyped t ≈ −6.7 < −2.86), the
    // γ·Δy_{t−1} term absorbs it (prototyped t ≈ −2.2)
    var w = 500.0
    var d = 0.0
    val walk = (1 to 60).map { i =>
      val e = lcg(); d = -0.8 * d + 3 * e; w += d; (1L, w, i)
    }
    // user 2: genuinely level-stationary AR(1) noise around 100 —
    // power retained (prototyped p1 t ≈ −5.1)
    var eps = 0.0
    val ts = (1 to 60).map { i =>
      eps = 0.3 * eps + lcg(); (2L, 100.0 + 4.0 * eps, i)
    }
    // user 3: noiseless line — Δy constant ⇒ Δy_{t−1} collinear with
    // the intercept, exact determinant 0, designed NULL; user 4:
    // constant — same degeneracy
    val rows = walk ++ ts ++
      (1 to 60).map(i => (3L, 10.0 + 2.0 * i, i)) ++
      (1 to 60).map(i => (4L, 42.0, i))
    val df = rows.map { case (u, v, i) =>
      (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q134spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val p0 = SignalOps.q113AdfUnitRoot(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val p1 = SignalOps.q134AdfLevelLag(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(p0(1L).getAs[Int]("stationary_flag") == 1, p0(1L).toString)
    assert(p1(1L).getAs[Int]("stationary_flag") == 0 &&
      p1(1L).getAs[Long]("adf_lag_t6") > -2860000L, p1(1L).toString)
    assert(p1(1L).getAs[Long]("gamma6") < -400000L, p1(1L).toString)
    assert(p1(2L).getAs[Int]("stationary_flag") == 1 &&
      p1(2L).getAs[Long]("adf_lag_t6") < -2860000L, p1(2L).toString)
    assert(p1(3L).isNullAt(p1(3L).fieldIndex("adf_lag_t6")), p1(3L).toString)
    assert(p1(4L).isNullAt(p1(4L).fieldIndex("adf_lag_t6")), p1(4L).toString)
  }

  test("p16 changepoint panel: a planted step is corroborated, a " +
    "constant is stable on five eligible detectors, thin is insufficient") {
    import spark.implicits._
    val rows =
      (1 to 40).map { i =>
        (1L, if (i <= 20) 100.0 else 300.0, i) // clean mean step
      } ++ (1 to 40).map(i => (2L, 42.0, i)) ++ // constant
        (1 to 10).map(i => (3L, i.toDouble, i)) // too short for 3 of 5
    val df = rows.map { case (u, v, i) =>
      (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("p16spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.p16ChangepointPanel(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val step = out(1L)
    assert(step.getAs[String]("verdict") == "corroborated" &&
      step.getAs[Int]("n_votes") >= 2 &&
      step.getAs[Int]("n_eligible") == 5, step.toString)
    val cst = out(2L)
    assert(cst.getAs[String]("verdict") == "stable" &&
      cst.getAs[Int]("n_eligible") == 5 &&
      cst.getAs[Int]("n_votes") == 0, cst.toString)
    val thin = out(3L)
    assert(thin.getAs[String]("verdict") == "insufficient" &&
      thin.getAs[Int]("n_eligible") < 3, thin.toString)
  }

  test("p14 residual panel: clean noise is clean, a pure ramp is a " +
    "single-flag check, a drifting walk is suspect, thin is insufficient") {
    import spark.implicits._
    var seed = 33L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val n = 40
    val noise = (0 until n).map(_ => 100.0 + lcg())
    val ramp = (0 until n).map(i => 100.0 + 0.5 * i)
    var w = 100.0
    val walk = (0 until n).map { _ =>
      w += 0.6 + lcg(); w // drift keeps the walk decisively trending
    }
    val rows = (0 until n).flatMap { i =>
      Seq((1L, noise(i)), (2L, ramp(i)), (4L, walk(i))).map { case (u, v) =>
        (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }
    } ++ (0 until 5).map(i => (3L, "x", 3000L + i, java.sql.Timestamp
      .valueOf(f"2024-01-01 00:0$i%01d:00"), 100.0 + i))
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("p14spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.p14ResidualPanel(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[String]("verdict") == "clean" &&
      out(1L).getAs[Int]("n_issues") == 0, out(1L).toString)
    assert(out(2L).getAs[String]("verdict") == "check" &&
      out(2L).getAs[Int]("nonrandom_flag") == 1, out(2L).toString)
    assert(out(4L).getAs[String]("verdict") == "suspect" &&
      out(4L).getAs[Int]("n_issues") >= 2, out(4L).toString)
    val thin = out(3L)
    assert(thin.getAs[String]("verdict") == "insufficient" &&
      thin.isNullAt(thin.fieldIndex("jb6")), thin.toString)
  }

  test("q125 SampEn: a period-2 alternator is perfectly regular with " +
    "exact template counts, a constant scores 0, noise is irregular") {
    import spark.implicits._
    var seed = 55L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val n = 40
    val alt = (0 until 20).map(i =>
      100.0 + (if (i % 2 == 0) 1.0 else -1.0))
    val noise = (0 until n).map(_ => 100.0 + lcg())
    val const = (0 until n).map(_ => 42.0)
    val rows = (0 until n).flatMap { i =>
      (Seq((2L, noise(i)), (3L, const(i))) ++
        (if (i < 20) Seq((1L, alt(i))) else Nil)).map { case (u, v) =>
        (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q125spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q125SampleEntropy(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    // alternator: same-parity templates match exactly, extensions all
    // survive — 10 odd + 9 even positions among i = 1..19
    val a = out(1L)
    assert(a.getAs[Long]("b_cnt") == 45L + 36L &&
      a.getAs[Long]("a_cnt") == a.getAs[Long]("b_cnt") &&
      a.getAs[Long]("sampen6") == 0L &&
      a.getAs[Int]("regular_flag") == 1, a.toString)
    assert(out(2L).getAs[Int]("regular_flag") == 0 &&
      out(2L).getAs[Long]("b_cnt") > 0L, out(2L).toString)
    val c = out(3L)
    assert(c.getAs[Long]("r4") == 0L &&
      c.getAs[Long]("b_cnt") == 39L * 38L / 2 &&
      c.getAs[Long]("sampen6") == 0L &&
      c.getAs[Int]("regular_flag") == 1, c.toString)
    // scala recomputation of the noise series' template counts
    val ys = noise.map(v => math.floor(v * 10000.0 + 0.5).toLong)
    val m2 = n.toLong * ys.map(y => y * y).sum - ys.sum * ys.sum
    val r4 = math.floor(0.2 * math.sqrt(
      m2.toDouble / (n.toDouble * (n - 1))) + 0.5).toLong
    val idx = 0 until (n - 1)
    val b = (for (i <- idx; j <- idx if i < j)
      yield if (math.abs(ys(i) - ys(j)) <= r4) 1 else 0).sum
    val aa = (for (i <- idx; j <- idx if i < j)
      yield if (math.abs(ys(i) - ys(j)) <= r4 &&
        math.abs(ys(i + 1) - ys(j + 1)) <= r4) 1 else 0).sum
    assert(out(2L).getAs[Long]("b_cnt") == b &&
      out(2L).getAs[Long]("a_cnt") == aa, s"${out(2L)} vs B=$b A=$aa")
    val plan = SignalOps.q125SampleEntropy(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q127 MASE backtest: a steady trend beats naive, and both " +
    "error sums replay the dyadic Holt recursion exactly") {
    import spark.implicits._
    var seed = 21L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    val n = 40
    val trend = (0 until n).map(i => 100.0 + 0.5 * i)
    val noise = (0 until n).map(_ => 100.0 + lcg())
    val rows = (0 until n).flatMap { i =>
      Seq((1L, trend(i)), (2L, noise(i))).map { case (u, v) =>
        (u, "x", u * 1000 + i, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("q127spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.q127ForecastBacktest(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    def replay(vals: Seq[Double]): (Long, Long) = {
      val ys = vals.map(v => math.floor(v * 10000.0 + 0.5).toLong)
      var l = ys.head; var b = 0L
      var sae = 0L; var san = 0L
      ys.zipWithIndex.drop(1).foreach { case (y, i) =>
        sae += math.abs(y - (l + b))
        san += math.abs(y - ys(i - 1))
        val l2 = math.floor((y + l + b) / 2.0).toLong
        b = math.floor((l2 - l + 3.0 * b) / 4.0).toLong
        l = l2
      }
      (sae, san)
    }
    for ((u, vals) <- Seq(1L -> trend, 2L -> noise)) {
      val (sae, san) = replay(vals)
      val r = out(u)
      assert(r.getAs[Long]("n_scored") == n - 1, r.toString)
      assert(r.getAs[Long]("holt_mae6") ==
        math.floor(sae.toDouble / (n - 1) * 100.0 + 0.5).toLong,
        s"$u: $r vs sae=$sae")
      assert(r.getAs[Long]("naive_mae6") ==
        math.floor(san.toDouble / (n - 1) * 100.0 + 0.5).toLong,
        s"$u: $r vs san=$san")
      assert(r.getAs[Long]("mase6") ==
        math.floor(sae.toDouble / san * 1e6 + 0.5).toLong,
        s"$u: $r vs $sae/$san")
    }
    assert(out(1L).getAs[Int]("beats_naive_flag") == 1, out(1L).toString)
  }

  test("q123/q124 plan one series exchange each") {
    for (df <- Seq(SignalOps.q123Bartlett(spark, dir),
        SignalOps.q124CusumSquares(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      val seriesExchanges = plan.split("\n")
        .count(l => l.contains("Exchange hashpartitioning") &&
          l.contains("user_id") && l.contains("event_type"))
      assert(seriesExchanges <= 1,
        s"expected one series exchange:\n$plan")
    }
  }

  test("q122 plans one series exchange; q121's second exchange is over " +
    "the distinct-value table only") {
    val p122 = SignalOps.q122TurningPoints(spark, dir)
      .queryExecution.executedPlan.toString
    val e122 = p122.split("\n")
      .count(l => l.contains("Exchange hashpartitioning") &&
        l.contains("user_id") && l.contains("event_type"))
    assert(e122 <= 1, s"expected one series exchange:\n$p122")
    val p121 = SignalOps.q121KruskalWallis(spark, dir)
      .queryExecution.executedPlan.toString
    val e121 = p121.split("\n")
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(e121 <= 2, s"expected corpus + distinct-table exchanges:\n$p121")
  }

  test("s14 factor residual: a single-ticker break against a common " +
    "factor move is flagged; clean factor-following tickers are not") {
    import spark.implicits._
    // 10 tickers share ONE factor: ticker i's daily return is
    // i·f_d + small idiosyncratic noise, f alternating ±(100..300)
    // grid units over 25 return days. Ticker 1 adds a +0.1
    // idiosyncratic shock on the LAST day — a textbook "broke from
    // the market mode" print. The whole market moves every day (a
    // univariate screen can't isolate the break); the factor
    // regression must. Panel sizing matters: z of a single-day break
    // is bounded by √(n−1) (the outlier inflates its own sd), a shock
    // on one of T tickers leaks ~3·shock/T³ of itself into the
    // factor's last-day score (so every clean ticker inherits a
    // −loading·leak last-day residual), and the idiosyncratic noise
    // floor sets the z denominator — 25 days, 10 names, shock 0.06
    // and noise ±0.003 keep the planted z ≈ 4.8 and the worst
    // clean-ticker z ≈ −2.
    val n = 25
    val f = (1 to n).map(d => (if (d % 2 == 1) 1 else -1) * (d % 3 + 1) * 100)
    def noise(i: Int, d: Int): Long = (((i * 7 + d * 3) % 5) - 2) * 15L
    val rows = (1 to 10).flatMap { u =>
      var y = 1000000L // 100.0000 on the grid
      (0 to n).map { d =>
        if (d > 0) {
          y += u.toLong * f(d - 1) + noise(u, d)
          if (u == 1 && d == n) y += 600L // the planted break
        }
        (u.toLong, "x", u * 1000L + d,
          java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00"),
          y / 10000.0)
      }
    }
    val df = rows.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("s14spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SignalOps.s14FactorResidual(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out.size == 10)
    assert(out(1L).getAs[Int]("break_flag") == 1,
      s"planted break not flagged: ${out(1L)}")
    (2L to 10L).foreach { u =>
      assert(out(u).getAs[Int]("break_flag") == 0,
        s"clean ticker $u flagged: ${out(u)}")
    }
    // loadings recover the planted cross-section: |load| ordered with
    // the per-ticker betas 2 < … < 10 (ticker 1 is shock-distorted)
    val loads = (2L to 10L).map(u => math.abs(out(u).getAs[Long]("load6")))
    assert(loads == loads.sorted, s"loadings not monotone: $loads")
    assert(loads.last == 1000000L, "max |loading| is the 1e6 scale cap")
  }

  test("PairPlan budget gate: the bucketed fallback produces the exact " +
    "broadcast-path output on q129 and q94 at sf0.01, on a bucketed plan") {
    import graft.operators.PairPlan
    val d01 = "/root/testdata/sf0.01"
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // path A (default budget): the per-ticker array table broadcasts
    val tauA = SignalOps.q129KendallTau(spark, d01)
    val rowsA129 = sorted(tauA)
    assert(tauA.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "default path must broadcast")
    val rowsA94 = sorted(SignalOps.q94CorrMatrix(spark, d01))
    assert(rowsA129.nonEmpty && rowsA94.nonEmpty)
    // path B: force the gate past its budget — the bucketed
    // ticker-pair join must produce the IDENTICAL pair rows (the gate
    // changes distribution, never semantics, so the join-form oracle
    // holds on both paths)
    spark.conf.set(PairPlan.BudgetConfKey, "4096")
    try {
      val tauB = SignalOps.q129KendallTau(spark, d01)
      val planB = tauB.queryExecution.executedPlan.toString
      assert(!planB.contains("BroadcastHashJoin"),
        s"gated path must not broadcast the array table:\n$planB")
      assert(planB.contains("ShuffledHashJoin"),
        s"gated path joins shuffle-hash on (event_type, bkt):\n$planB")
      assert(sorted(tauB) == rowsA129, "q129 bucketed != broadcast")
      assert(sorted(SignalOps.q94CorrMatrix(spark, d01)) == rowsA94,
        "q94 bucketed != broadcast")
    } finally spark.conf.unset(PairPlan.BudgetConfKey)
  }
}
