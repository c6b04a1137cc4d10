package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.get("local[4]")
}

class RelationalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("every registered query runs, returns rows, and carries no " +
      "unpartitioned Window over unbounded input (plan lint)") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      PlanLint.assertNoUnpartitionedWindow(name, df)
      PlanLint.assertNoUnboundedNestedLoop(name, df)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracleSql without queries entry: $extra")
  }

  test("q20 aggregates lineitem pricing summary deterministically") {
    val rows = operators.Relational.aggGroupBy(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("A", "N", "R")))
    val again = operators.Relational.aggGroupBy(spark, dir).collect()
    assert(rows.sameElements(again))
  }

  test("q32 sessionize splits on >30min gaps") {
    val df = operators.Relational.sessionize(spark, dir)
    val perUser = df.groupBy("user_id").count().collect()
    assert(perUser.forall(_.getLong(1) >= 1))
  }

  test("q42 median is an actual element with half the group at or below it") {
    import org.apache.spark.sql.functions._
    val med = operators.Relational.medianGroups(spark, dir).collect()
    val ev = Tables.events(spark, dir).cache()
    med.foreach { r =>
      val (et, m, n) = (r.getString(0), r.getDouble(1), r.getLong(2))
      val below = ev.filter(col("event_type") === et && col("value") <= m).count()
      assert(below >= (n + 1) / 2, s"$et: $below of $n at or below median $m")
      assert(ev.filter(col("event_type") === et && col("value") === m).count() >= 1)
    }
  }

  test("q44 returns only orders strictly above their customer mean") {
    import org.apache.spark.sql.functions._
    val out = operators.Relational.correlatedAboveAvg(spark, dir)
    val joined = out.join(
      Tables.orders(spark, dir).groupBy(col("o_custkey").as("k"))
        .agg(avg(col("o_totalprice")).as("mean")),
      col("o_custkey") === col("k"))
    assert(joined.filter(col("o_totalprice") <= col("mean") - 1e-6).count() == 0)
  }

  test("q46 pivot cells sum to the order count") {
    val p = operators.Relational.pivotSegments(spark, dir)
    val cells = p.collect().map(r => (1 to 5).map(i => r.getLong(i)).sum).sum
    assert(cells == Tables.orders(spark, dir).count())
  }

  test("broadcast joins planned for dim tables in q21") {
    val plan = operators.Relational
      .joinAgg(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast join")
  }

  test("q24 pushes filters and prunes columns at the parquet scan") {
    val plan = operators.Relational
      .filterPushdown(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"filters not pushed:\n$plan")
    val scanLine = plan.split("\n").find(_.contains("FileScan parquet")).get
    assert(!scanLine.contains("l_tax"), "scan reads unprojected columns")
  }

  test("q51 upsert: updated keys carry version 1, others keep the base row") {
    val rows = operators.Relational.upsertMerge(spark, dir).collect()
    val byKey = rows.map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(byKey.nonEmpty)
    byKey.foreach { case (k, v) =>
      assert(v == (if (k % 7 == 0) 1 else 0),
        s"key $k has version $v")
    }
    assert(rows.length == byKey.size, "exactly one surviving row per key")
  }

  test("q71 grouping sets: exactly the three declared slices, one Expand") {
    import org.apache.spark.sql.functions._
    val out = operators.Relational.groupingSetsAgg(spark, dir)
    val rows = out.collect()
    assert(rows.map(_.getAs[Int]("gid")).toSet == Set(1, 2, 6))
    // the segment margin (gid 6) must equal a direct segment groupBy
    val margin = rows.filter(_.getAs[Int]("gid") == 6)
      .map(r => r.getAs[String]("c_mktsegment") -> r.getAs[Long]("n_orders"))
      .toMap
    val direct = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(margin == direct)
    // gid 1 and 2 slices partition the same orders
    val tot = direct.values.sum
    assert(rows.filter(_.getAs[Int]("gid") == 1)
      .map(_.getAs[Long]("n_orders")).sum == tot)
    assert(rows.filter(_.getAs[Int]("gid") == 2)
      .map(_.getAs[Long]("n_orders")).sum == tot)
    // one Expand + one shuffle, not three queries
    val plan = out.queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(plan).size >= 1)
  }

  test("q72 range window equals a per-customer 7-day brute recount") {
    val out = operators.Relational.rangeWindow(spark, dir).collect()
    def d6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    out.groupBy(_.getAs[Long]("o_custkey")).foreach { case (_, rows) =>
      val byDay = rows.map(r =>
        (r.getAs[java.sql.Timestamp]("o_orderdate")
          .toLocalDateTime.toLocalDate,
          r.getAs[Double]("o_totalprice")))
      rows.foreach { r =>
        val d0 = r.getAs[java.sql.Timestamp]("o_orderdate")
          .toLocalDateTime.toLocalDate
        val in = byDay.filter { case (d, _) =>
          val dd = java.time.temporal.ChronoUnit.DAYS.between(d, d0)
          dd >= 0 && dd <= 6
        }
        assert(r.getAs[Long]("win7_orders") == in.length, r.toString)
        val exp = in.map(p => d6(p._2)).sum.toDouble
        assert(r.getAs[Double]("win7_revenue") == exp, r.toString)
      }
    }
  }

  test("q73 funnel: strict stage ordering on a planted journey set") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:${m}%02d:00")
    // stages sort to (a, b, c); user 1 completes in order, user 2 does
    // b before a (only stage 1 counts), user 3 stops at b, user 4
    // never does a
    val rows = Seq(
      (1L, "a", 0L, ts(1), 1.0), (1L, "b", 1L, ts(2), 1.0),
      (1L, "c", 2L, ts(3), 1.0),
      (2L, "b", 3L, ts(1), 1.0), (2L, "a", 4L, ts(2), 1.0),
      (3L, "a", 5L, ts(1), 1.0), (3L, "b", 6L, ts(2), 1.0),
      (4L, "c", 7L, ts(1), 1.0))
    val tmp = java.nio.file.Files.createTempDirectory("q73spec").toString
    rows.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = operators.Relational.funnel(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[Int]("reached") == 3)
    assert(out(1L).getAs[java.sql.Timestamp]("stage3_ts") == ts(3))
    assert(out(2L).getAs[Int]("reached") == 1, out(2L).toString)
    assert(out(3L).getAs[Int]("reached") == 2)
    assert(out(4L).getAs[Int]("reached") == 0)
    assert(out(4L).isNullAt(out(4L).fieldIndex("stage1_ts")))
  }

  test("q20 scan reads only the 5 referenced lineitem columns") {
    val plan = operators.Relational
      .aggGroupBy(spark, dir).queryExecution.executedPlan.toString
    val scanLine = plan.split("\n").find(_.contains("FileScan parquet")).get
    assert(!scanLine.contains("l_shipdate") && !scanLine.contains("l_orderkey"),
      s"column pruning failed: $scanLine")
  }

  test("q76 SCD2: unchanged rows collapse, validity intervals chain") {
    import spark.implicits._
    def d(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    // cust 1: O,O,F,O -> versions O(1..3), F(3..4), O(4..)
    // cust 2: single order -> one current version
    val rows = Seq(
      (1L, 10L, "O", "HIGH", d(1)), (1L, 11L, "O", "HIGH", d(2)),
      (1L, 12L, "F", "HIGH", d(3)), (1L, 13L, "O", "HIGH", d(4)),
      (2L, 20L, "P", "LOW", d(5)))
    val tmp = java.nio.file.Files.createTempDirectory("q76spec").toString
    rows.toDF("o_custkey", "o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate")
      .withColumn("o_totalprice", org.apache.spark.sql.functions.lit(1.0))
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val out = operators.Relational.q76Scd2(spark, tmp).collect()
    val c1 = out.filter(_.getAs[Long]("o_custkey") == 1L)
      .sortBy(_.getAs[Int]("version"))
    assert(c1.length == 3, out.mkString("\n"))
    assert(c1.map(_.getAs[String]("status")).toSeq == Seq("O", "F", "O"))
    assert(c1(0).getAs[java.sql.Timestamp]("valid_from") == d(1))
    assert(c1(0).getAs[java.sql.Timestamp]("valid_to") == d(3),
      "the repeated O on day 2 must NOT open a version")
    assert(c1(1).getAs[java.sql.Timestamp]("valid_to") == d(4))
    assert(c1(2).isNullAt(c1(2).fieldIndex("valid_to")))
    assert(c1.map(_.getAs[Int]("is_current")).toSeq == Seq(0, 0, 1))
    val c2 = out.filter(_.getAs[Long]("o_custkey") == 2L)
    assert(c2.length == 1 && c2.head.getAs[Int]("is_current") == 1)
  }

  test("p08 DQ audit: planted violations are each counted by their check") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("p08spec").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:${m}%02d:00")
    // customer 1..2; order 5 -> orphan custkey 99; order 6 duplicated
    Seq((1L, "a", 0, 1.0, "B"), (2L, "b", 0, 1.0, "B"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    Seq((5L, 99L, "O", 1.0, ts(1), "HIGH"), (6L, 1L, "O", 1.0, ts(2), "LOW"),
      (6L, 1L, "O", 1.0, ts(3), "LOW"), (7L, 2L, "F", 1.0, ts(4), "LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    Seq((1L, "p", "B", "T", 1, 1.0)).toDF("p_partkey", "p_name", "p_brand",
      "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$tmp/part.parquet")
    Seq((1L, "s", 1, 1.0)).toDF("s_suppkey", "s_name", "s_nationkey",
      "s_acctbal")
      .write.mode("overwrite").parquet(s"$tmp/supplier.parquet")
    // lineitem: one clean, one orphan orderkey + orphan part + negative
    // quantity, one discount 1.5
    Seq((5L, 1L, 1L, 1, 2.0, 10.0, 0.1, 0.0, "N", "O", ts(1)),
      (99L, 9L, 1L, 1, -3.0, 10.0, 0.2, 0.0, "N", "O", ts(2)),
      (6L, 1L, 1L, 2, 1.0, 10.0, 1.5, 0.0, "N", "O", ts(3)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    Seq((0L, ts(1), 1L, "a", Some(1.0), "{}"),
      (1L, ts(2), 1L, "a", None, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = operators.Relational.p08DqAudit(spark, tmp).collect()
      .map(r => r.getAs[String]("check_name") ->
        r.getAs[Long]("violations")).toMap
    assert(out("fk_orders_customer") == 1, out.toString)
    assert(out("fk_lineitem_orders") == 1)
    assert(out("fk_lineitem_part") == 1)
    assert(out("fk_lineitem_supplier") == 0)
    assert(out("pk_orders_unique") == 1)
    assert(out("pk_lineitem_unique") == 0)
    assert(out("null_events_value") == 1)
    assert(out("range_lineitem_quantity") == 1)
    assert(out("range_lineitem_discount") == 1)
  }

  test("q87 json extract: planted props parse exactly, malformed and " +
      "null rows counted but excluded from k stats") {
    import spark.implicits._
    val rows = Seq(
      (0L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "a",
        1.0, """{"k": 5}"""),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 1L, "a",
        1.0, """{"k": 15}"""),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 1L, "a",
        1.0, """{"k": 5}"""),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 13:00:00"), 1L, "a",
        1.0, "not json"),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 14:00:00"), 1L, "a",
        1.0, null.asInstanceOf[String]))
    val tmp = java.nio.file.Files.createTempDirectory("q87spec").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val r = operators.Relational.q87JsonExtract(spark, tmp).collect().head
    assert(r.getAs[Long]("n_events") == 5, r.toString)
    assert(r.getAs[Long]("n_with_k") == 3, r.toString)
    assert(r.getAs[Long]("k_distinct") == 2, r.toString)
    assert(r.getAs[Long]("k_min") == 5 && r.getAs[Long]("k_max") == 15)
    assert(r.getAs[Long]("k_sum") == 25)
    assert(r.getAs[Long]("k_avg6") == 8333333L, r.toString)
    // the parse stays in the scan: no UDF node, two hash aggregates
    val plan = operators.Relational.q87JsonExtract(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan)
  }

  test("q81 set ops: lapsed/new/retained partition the customer set " +
      "and agree with a conditional-aggregation replay") {
    import org.apache.spark.sql.functions._
    val out = operators.Relational.q81SetOps(spark, dir).collect()
      .map(r => (r.getAs[String]("status"), r.getAs[Long]("o_custkey")))
    // every custkey appears exactly once across the three statuses
    val keys = out.map(_._2)
    assert(keys.distinct.length == keys.length, "statuses must partition")
    // independent replay via era-presence flags per customer
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
    val spanRow = o.agg(min("day"), max("day")).head()
    val d0 = spanRow.getDate(0)
    val d1 = spanRow.getDate(1)
    val pivotDay = new java.sql.Date(d0.getTime +
      ((d1.getTime - d0.getTime) / 86400000L / 2) * 86400000L)
    val ref = o.groupBy("o_custkey")
      .agg(max(when(col("day") <= lit(pivotDay), 1).otherwise(0)).as("a"),
        max(when(col("day") > lit(pivotDay), 1).otherwise(0)).as("b"))
      .collect().map { r =>
        val st = (r.getInt(1), r.getInt(2)) match {
          case (1, 0) => "lapsed"
          case (0, 1) => "new"
          case _ => "retained"
        }
        (st, r.getLong(0))
      }.toSet
    assert(out.toSet == ref,
      s"missing=${(ref -- out.toSet).take(5)} extra=${(out.toSet -- ref).take(5)}")
    assert(out.exists(_._1 == "retained"), "sf0.001 must retain someone")
  }
}
