package graft

import graft.operators.{SignalOps, TickerAnomaly}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Batch-side skew proofs — §5 claims the AQE-partitioned batch
  * operators survive a pathological hot key the same way the stateful
  * streaming family does (StreamingSpec's 100× spec): a hot key makes
  * its OWN partition long but cannot corrupt other keys' output or
  * blow the batch up super-linearly.
  */
class SkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val base =
    java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** (user_id, event_type, n) → n minute-spaced rows per key, values
    * with a mild repeating pattern plus sparse spikes.
    */
  private def mkRows(keys: Seq[(Long, String, Int)]): DataFrame = {
    import spark.implicits._
    keys.flatMap { case (uid, et, n) =>
      (0 until n).map { i =>
        (uid * 100000L + i, new java.sql.Timestamp(base + i * 60000L),
          uid, et, 100.0 + (i % 7) + (if (i % 97 == 0) 50.0 else 0.0))
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("q10 window chain under a hot ticker (100x skew): correct, " +
      "independent, bounded") {
    // 28k rows both ways: skewed = 1 ticker with 100x the others' rows
    val hot = (1L, "hot", 20000)
    val cold = (2L to 41L).map(u => (u, "cold", 200))
    def run(df: DataFrame) = {
      val t0 = System.nanoTime()
      val rows = TickerAnomaly.flagsFromEvents(df).collect()
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    val (skewRows, tSkew) = run(mkRows(hot +: cold))
    val (_, tUni) = run(mkRows((1L to 56L).map(u => (u, "uni", 500))))
    assert(skewRows.nonEmpty)
    // key independence: the hot ticker's flag rows are exactly what the
    // same key produces running alone — per-key windows cannot leak
    val hotMixed = skewRows.filter(_.getAs[Long]("user_id") == 1L)
      .map(_.toString).sorted
    val (hotAlone, _) = run(mkRows(Seq(hot)))
    assert(hotMixed.sameElements(hotAlone.map(_.toString).sorted))
    // cold keys all survive with their dataPeriods rows
    val coldKeys = skewRows.filter(_.getAs[Long]("user_id") != 1L)
      .map(_.getAs[Long]("user_id")).distinct
    assert(coldKeys.length == 40, s"got ${coldKeys.length} cold keys")
    // boundedness: same total work, one long partition tail at worst
    assert(tSkew < tUni * 4 + 5.0,
      s"skewed run $tSkew s vs uniform $tUni s — hot ticker blows up")
  }

  test("q55 under a hot (event_type, day) group (100x skew): correct, " +
      "independent, bounded") {
    // hot = one (event_type, day) group with 20000 rows; cold = 40
    // groups with 200 rows each (all rows of a key land on one day
    // because the minute spacing keeps n < 1440)
    val hot = (1L, "hot", 1400)
    val hotBulk = (2L to 15L).map(u => (u, "hot", 1400)) // same group
    val cold = (16L to 55L).map(u => (u, s"cold$u", 200))
    def run(df: DataFrame) = {
      val t0 = System.nanoTime()
      val rows = SignalOps.q55FromEvents(df).collect()
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    val skewDf = mkRows(hot +: (hotBulk ++ cold))
    val (skewRows, tSkew) = run(skewDf)
    val (_, tUni) = run(mkRows((1L to 56L).map(u => (u, s"uni$u", 500))))
    assert(skewRows.length == 21000 + 8000)
    // group independence: the hot group's rows equal its solo run —
    // a wide group changes nothing about its own medians or others'
    val hotMixed = skewRows.filter(_.getAs[String]("event_type") == "hot")
      .map(_.toString).sorted
    val (hotAlone, _) = run(mkRows(hot +: hotBulk))
    assert(hotMixed.sameElements(hotAlone.map(_.toString).sorted))
    // every cold group keeps its own exact selection median
    val coldGroups = skewRows
      .filter(_.getAs[String]("event_type").startsWith("cold"))
      .map(_.getAs[String]("event_type")).distinct
    assert(coldGroups.length == 40)
    assert(tSkew < tUni * 4 + 5.0,
      s"skewed run $tSkew s vs uniform $tUni s — hot group blows up")
  }
}
