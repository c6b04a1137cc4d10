package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-14 verdict item 7: a tickerPairs-consuming action OUTSIDE
  * Bench/Verify must not leave the cached per-ticker array table
  * orphaned — [[graft.operators.CacheHygiene]]'s one-shot listener
  * owns the release now, not the harness sweep.
  */
class CacheHygieneSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("tickerPairs' cached array table releases itself after the " +
      "first consuming action") {
    import spark.implicits._
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    val closes = Seq(
      (1L, "a", 1, 10L), (1L, "a", 2, 11L),
      (2L, "a", 1, 9L), (2L, "a", 2, 12L),
      (3L, "b", 1, 5L), (4L, "b", 1, 6L))
      .toDF("user_id", "event_type", "day", "y")
    val pairs = graft.operators.PairPlan.tickerPairs(spark, closes)
    // the census head() inside tickerPairs materialized the cache
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected the array table cached after the census")
    // round-15 ADVICE race regression check: give the async listener
    // bus time to dispatch the census's own SQLExecutionEnd event —
    // the skip-one counter must absorb it, NOT release the cache
    // before the first caller action
    Thread.sleep(2000)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "census end event released the cache before any caller action " +
        "(skip-one miscounted)")
    // one pair within each event_type
    assert(pairs.count() == 2)
    // the QueryExecutionListener fires asynchronously after the action
    val deadline = System.currentTimeMillis() + 30000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "cached array table still persisted 30s after the consuming action")
  }
}
