package graft.operators

import graft.FixedPoint.usOf
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational engine core (SURVEY.md §2B): the general query surface
  * the reference's SQL implies — grouped aggregation, star joins,
  * window ranking, semi/anti joins, rollups, sessionization.
  *
  * Every query is a plain declarative DataFrame plan: Catalyst pushes
  * filters/projections into the parquet scan, plans broadcast joins
  * for the dims, and does partial (map-side) aggregation before every
  * shuffle. Monetary aggregates are summed as DECIMAL so results are
  * order-independent (bit-exact vs the DuckDB oracle regardless of
  * partitioning) — double sums would differ in the last ulp between
  * engines / partition counts.
  */
object Relational {

  private val dec = "decimal(28,6)"

  /** Deterministic double sum: accumulate exactly as DECIMAL (order-
    * independent across partitionings), convert once to double at the
    * end — bit-identical to the DuckDB oracle doing the same.
    */
  private def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(dec)).cast("double")

  /** q20: grouped multi-aggregate over lineitem (pricing summary). */
  def aggGroupBy(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** q21: revenue by nation — orders ⋈ customer ⋈ nation ⋈ region,
    * dims broadcast, one shuffle for the final aggregation.
    */
  def joinAgg(s: SparkSession, dir: String): DataFrame = {
    val orders   = Tables.orders(s, dir)
    val customer = Tables.customer(s, dir)
    val nation   = Tables.nation(s, dir)
    val region   = Tables.region(s, dir)
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders")
      )
      .orderBy(col("r_name"), col("n_name"))
  }

  /** q22: star-schema fact ⋈ two broadcast dims with pre-join filters. */
  def broadcastDim(s: SparkSession, dir: String): DataFrame = {
    val li   = Tables.lineitem(s, dir)
    val part = Tables.part(s, dir).filter(col("p_size") <= 20)
    val supp = Tables.supplier(s, dir)
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"))
      .agg(
        dsum(col("l_extendedprice")).as("brand_revenue"),
        count(lit(1)).as("n_lines")
      )
      .orderBy(col("p_brand"))
  }

  /** q23: global top-k customers by order revenue, deterministic
    * tie-break on key. TakeOrderedAndProject — no full sort at scale.
    */
  def topkOrder(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("total_spent"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("total_spent").desc, col("o_custkey"))
      .limit(10)

  /** q24: selective predicate + narrow projection — both reach the
    * parquet scan (PushedFilters / ReadSchema in explain).
    */
  def filterPushdown(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_quantity") < 24)
      .select(
        col("l_orderkey"),
        col("l_shipdate"),
        round(col("l_extendedprice") * col("l_discount"), 4).as("disc_amount")
      )
      .orderBy(col("l_orderkey"), col("l_shipdate"), col("disc_amount"))

  /** q25: exact distinct counts, global and per group. */
  def distinctCount(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("distinct_orders"),
        countDistinct(col("l_partkey")).as("distinct_parts"),
        count(lit(1)).as("n_rows")
      )
      .orderBy(col("l_returnflag"))

  /** q26: rank per group — each customer's 3 largest orders. */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables
      .orders(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"),
              col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** q27: customers with ≥1 open order (semi) and with none (anti). */
  def semiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val open = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
    val semi = cust
      .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_open").as("status"))
    val anti = cust
      .join(open, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_open").as("status"))
    semi.unionAll(anti).orderBy(col("c_custkey"), col("status"))
  }

  /** q28: pivot-style conditional aggregation (case-when sums). */
  def conditionalAgg(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        dsum(when(col("event_type") === "purchase", col("value")).otherwise(lit(0)))
          .as("purchase_value"),
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("clicks"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("errors"),
        count(lit(1)).as("n_events")
      )
      .orderBy(col("user_id"))

  /** q29: hierarchical rollup — revenue at (region, nation), region
    * subtotal, grand total.
    */
  def rollupAgg(s: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
    base
      .rollup(col("r_name"), col("n_name"))
      .agg(dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** q41: CUBE — all grouping-set combinations of (market segment,
    * order priority) in one pass.
    */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** q30: union two sources then eliminate duplicates on the key. */
  def unionDedup(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir).filter(col("o_totalprice") > 100000)
      .select(col("o_custkey"))
    val b = Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("o_custkey"))
    a.unionAll(b).distinct().orderBy(col("o_custkey"))
  }

  /** q31: cumulative revenue per customer over order time. */
  def runningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .orders(s, dir)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_orderdate"),
        sum(col("o_totalprice").cast(dec)).over(w).cast("double").as("cum_revenue")
      )
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** q32: sessionize events — a new session starts after a >30 min
    * gap per user; classic gaps-and-islands with one window chain.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables
      .events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(col("prev_ts").isNull ||
               unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800,
             1).otherwise(0)
      )
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        dsum(col("value")).as("session_value")
      )
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q42: exact per-group median by deterministic selection — rank the
    * rows, pick row (n+1)/2 (lower median). Element SELECTION, not
    * interpolation, so the result is an input value and bit-exact
    * across engines; one shuffle on the group key.
    */
  def medianGroups(s: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    Tables
      .events(s, dir)
      .withColumn("rn", row_number().over(
        byType.orderBy(col("value"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(byType))
      .filter(col("rn") === floor((col("n") + 1) / 2)) // Column./ is double division; floor ≡ integral div here
      .select(col("event_type"), col("value").as("median_value"),
        col("n").as("n_rows"))
      .orderBy(col("event_type"))
  }

  /** q43: ordered string aggregation — nation names per region as one
    * sorted comma-joined string (collect_list + array_sort keeps the
    * concatenation order independent of partitioning).
    */
  def stringAgg(s: SparkSession, dir: String): DataFrame =
    Tables
      .nation(s, dir)
      .groupBy(col("n_regionkey"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
        .as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("n_regionkey"))

  /** q44: correlated scalar subquery — orders above their customer's
    * average order value. Decorrelated to a grouped join; the
    * comparison is price·n > sum in exact DECIMAL, dodging cross-
    * engine decimal-division scale rules entirely.
    */
  def correlatedAboveAvg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val stats = o.groupBy(col("o_custkey").as("k"))
      .agg(sum(col("o_totalprice").cast(dec)).as("s"),
        count(lit(1)).as("n"))
    o.join(stats, col("o_custkey") === col("k"))
      .filter(col("o_totalprice").cast(dec) * col("n") > col("s"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("n").as("n_orders"))
      .orderBy(col("o_orderkey"))
  }

  /** q45: window distribution functions — quartile bucket,
    * percent_rank and cume_dist per event_type. Both are ratios of
    * integers ((rank−1)/(n−1), rows≤current/n), so doubles agree
    * bitwise across engines.
    */
  def windowDistribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    Tables
      .events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy(col("event_type"), col("value"), col("event_id"))
  }

  /** q46: PIVOT — order counts and revenue per priority × market
    * segment, segments as columns. Explicit value list keeps the
    * output schema static (required at scale: no extra pass to
    * discover pivot values, and Catalyst folds it to one conditional
    * aggregation pass).
    */
  def pivotSegments(s: SparkSession, dir: String): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    Tables
      .orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .pivot("c_mktsegment", segs)
      .agg(count(lit(1)))
      .orderBy(col("o_orderpriority"))
  }

  /** q50: calendar truncation — monthly revenue (date_trunc to month,
    * decimal-summed). The partition-prune-friendly reporting shape.
    */
  def monthlyRevenue(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("month"))

  /** q51: latest-wins UPSERT merge — apply a change batch to a base
    * table, newest version per key wins. This is the CDC / MERGE INTO
    * shape without a table format: union the deltas, one shuffle on
    * the merge key, `row_number` picks the survivor. At 100 TB the
    * base side arrives hash-partitioned on the key (or bucketed, q35
    * style) and only the delta shuffles. Prices compare as exact
    * cents (scaled long) so the oracle match is arithmetic-free.
    */
  def upsertMerge(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lit(0).as("version"))
    // deterministic simulated change batch: every 7th order re-priced
    val updates = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") * lit(1.1)).as("o_totalprice"),
        lit(1).as("version"))
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("version").desc)
    base.unionByName(updates)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("price_c"),
        col("version"))
      .orderBy(col("o_orderkey"))
  }

  /** q71: arbitrary GROUPING SETS — the general form q29's ROLLUP and
    * q41's CUBE are special cases of: one pass produces the
    * (region, nation) hierarchy slice, the (region, segment)
    * cross-dimension slice and the segment margin, disambiguated by
    * the standard grouping_id bitmask (MSB = first grouping column,
    * 1 = aggregated-away — both engines follow the SQL standard, so
    * the three sets land on gid 1, 2 and 6).
    *
    * Scale shape: Spark expands grouping sets into one Expand node
    * feeding a single hash aggregate — 3× the row stream, ONE
    * shuffle, not three queries; the dims ride in as broadcasts.
    */
  def groupingSetsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("n_name")),
          Seq(col("r_name"), col("c_mktsegment")),
          Seq(col("c_mktsegment"))),
        col("r_name"), col("n_name"), col("c_mktsegment"))
      .agg(grouping_id().cast("int").as("gid"),
        dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .select(col("gid"), col("r_name"), col("n_name"), col("c_mktsegment"),
        col("revenue"), col("n_orders"))
      .orderBy(col("gid"), col("r_name").asc_nulls_first,
        col("n_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)

  /** q72: RANGE-interval window — the 7-DAY rolling revenue per
    * customer, a frame defined by VALUE distance instead of q31's row
    * count: a customer with three orders on one day and none for a
    * month gets the calendar answer, not the last-3-rows answer.
    * RANGE frames include all peers of the current day, so the result
    * is deterministic with no within-day tie-break, and the window
    * sum runs over DECIMAL(28,6) (the §8 float-parity posture) before
    * the final double cast.
    *
    * Scale shape: one hash exchange on o_custkey, one in-partition
    * sort on the integer day — identical cost to q31; the RANGE frame
    * is a two-pointer walk, not a per-row rescan.
    */
  def rangeWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
      .rangeBetween(-6, 0)
    Tables.orders(s, dir)
      .withColumn("d",
        datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1992-01-01"))))
      .withColumn("win7_revenue",
        sum(col("o_totalprice").cast(dec)).over(w).cast("double"))
      .withColumn("win7_orders", count(lit(1)).over(w))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"), col("win7_revenue"), col("win7_orders"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** q73: three-stage FUNNEL over the event stream — the ordered
    * question sessionization (q32) can't answer: of the users who did
    * stage 1, how many went on to stage 2 STRICTLY LATER, and then
    * stage 3 after that? Stages are the three lexicographically
    * smallest event types (deterministic on any corpus); per user the
    * verdict is the classic chained conditional minimum — t1 = first
    * s1, t2 = first s2 after t1, t3 = first s3 after t2 — with
    * strict event-time ordering between stages.
    *
    * Scale shape: ONE hash exchange (groupByKey on user_id) and an
    * in-task two-scan walk over each user's events; the stage list is
    * a driver-side collect of the DISTINCT EVENT TYPES (a handful of
    * rows — the same types-cardinality pattern as s03's centroids).
    * The SQL equivalent needs three self-joins; the grouped walk
    * reads the corpus once.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val stages = ev.select(col("event_type")).distinct()
      .orderBy(col("event_type")).limit(3).as[String].collect()
    require(stages.length == 3, s"funnel needs 3 event types, got ${stages.length}")
    val (s1, s2, s3) = (stages(0), stages(1), stages(2))
    ev.select(col("user_id"), col("event_type"), col("ts"))
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val v = it.toVector
        def firstAfter(stage: String, after: Option[Long])
            : Option[java.sql.Timestamp] = {
          val hits = v.iterator.filter(e =>
            e._2 == stage && after.forall(a => usOf(e._3) > a)).toSeq
          if (hits.isEmpty) None else Some(hits.minBy(e => usOf(e._3))._3)
        }
        val t1 = firstAfter(s1, None)
        val t2 = t1.flatMap(a => firstAfter(s2, Some(usOf(a))))
        val t3 = t2.flatMap(a => firstAfter(s3, Some(usOf(a))))
        val reached =
          if (t3.isDefined) 3 else if (t2.isDefined) 2
          else if (t1.isDefined) 1 else 0
        (uid, t1, t2, t3, reached)
      }
      .toDF("user_id", "stage1_ts", "stage2_ts", "stage3_ts", "reached")
      .orderBy(col("user_id"))
  }

  /** q76: SCD TYPE-2 history build (Kimball's slowly-changing
    * dimension) — q51 keeps only the LATEST version per key; the
    * warehouse pattern the reference's dim joins assume keeps every
    * version with its validity interval. Treat each customer's order
    * stream as a CDC feed of the (status, priority) attribute pair in
    * (o_orderdate, o_orderkey) order: a row opens a new version iff
    * the tracked attributes CHANGED vs the previous version
    * (consecutive unchanged rows collapse — that is what makes it
    * SCD2 and not a raw snapshot log); valid_from = the change row's
    * date, valid_to = the NEXT version's valid_from (half-open
    * interval, the standard join-friendly convention), is_current on
    * the open tail.
    *
    * Scale shape: ONE hash exchange on the key — the change-detect
    * lag, the version lead and the version numbering are all frames
    * over the same (o_custkey, date, orderkey) sort; the unchanged
    * rows die in the post-lag filter before the second window sees
    * them.
    */
  def q76Scd2(s: SparkSession, dir: String): DataFrame = {
    val wk = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderstatus"), col("o_orderpriority"))
      .withColumn("p_status", lag(col("o_orderstatus"), 1).over(wk))
      .withColumn("p_prio", lag(col("o_orderpriority"), 1).over(wk))
      .filter(col("p_status").isNull ||
        col("p_status") =!= col("o_orderstatus") ||
        col("p_prio") =!= col("o_orderpriority"))
      .withColumn("version", row_number().over(wk))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(wk))
      .select(col("o_custkey"), col("version"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        col("o_orderdate").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).as("is_current"))
      .orderBy(col("o_custkey"), col("version"))
  }

  /** p08: the DATA-QUALITY AUDIT — the referential/shape assertions a
    * warehouse runs before trusting a load (the reference's whole
    * premise is "ingestion errors before they affect customer
    * decisions"; this is the relational side of that contract):
    * orphan foreign keys across the star schema (anti-join counts
    * against the DISTINCT dim key, so a dirty dim cannot fan the fact
    * out), primary-key duplicate excess (rows − distinct keys), null
    * and range violations on the value columns. One row per check:
    * violations, total, 1e-6-floored integer ratio.
    *
    * Scale shape: each FK check is one hash join keyed on the FK +
    * one map-side-combined count — AQE broadcasts the deduped dim
    * key table when small; the PK checks are one exact distinct each
    * (the d01 digest-distinct posture is the documented swap-in for
    * key sets beyond memory); the null/range checks ride a single
    * scan each. The audit of a 100 TB load is a fixed number of
    * scan-shaped passes with sub-row-count output.
    */
  def p08DqAudit(s: SparkSession, dir: String): DataFrame = {
    def fkCheck(name: String, fact: DataFrame, fk: String,
        dim: DataFrame, pk: String): DataFrame =
      fact.select(col(fk))
        .join(dim.select(col(pk)).distinct(), col(fk) === col(pk), "left")
        .agg(count(lit(1)).as("total"),
          sum(when(col(pk).isNull, 1L).otherwise(0L)).as("violations"))
        .select(lit(name).as("check_name"), col("violations"), col("total"))
    def pkCheck(name: String, fact: DataFrame, keys: Seq[String]): DataFrame =
      fact.agg(count(lit(1)).as("total"),
        (count(lit(1)) - count_distinct(col(keys.head),
          keys.tail.map(col): _*)).as("violations"))
        .select(lit(name).as("check_name"), col("violations"), col("total"))
    def ruleCheck(name: String, fact: DataFrame, bad: Column): DataFrame =
      fact.agg(count(lit(1)).as("total"),
        sum(when(bad, 1L).otherwise(0L)).as("violations"))
        .select(lit(name).as("check_name"), col("violations"), col("total"))
    val orders = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val ev = Tables.events(s, dir)
    Seq(
      fkCheck("fk_orders_customer", orders, "o_custkey",
        Tables.customer(s, dir), "c_custkey"),
      fkCheck("fk_lineitem_orders", li, "l_orderkey", orders, "o_orderkey"),
      fkCheck("fk_lineitem_part", li, "l_partkey",
        Tables.part(s, dir), "p_partkey"),
      fkCheck("fk_lineitem_supplier", li, "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey"),
      pkCheck("pk_orders_unique", orders, Seq("o_orderkey")),
      pkCheck("pk_lineitem_unique", li, Seq("l_orderkey", "l_linenumber")),
      ruleCheck("null_events_value", ev, col("value").isNull),
      ruleCheck("range_lineitem_quantity", li,
        col("l_quantity") <= 0 || col("l_quantity") > 10000),
      ruleCheck("range_lineitem_discount", li,
        col("l_discount") < 0 || col("l_discount") > 1))
      .reduce(_.unionByName(_))
      .select(col("check_name"), col("violations"), col("total"),
        expr("violations * 1000000L div total").as("ratio6"))
      .orderBy(col("check_name"))
  }

  /** q81: EXCEPT / INTERSECT set operations — the remaining ANSI set
    * surface beside q30's UNION: the customer retention slice (lapsed
    * = ordered only in the first half of the date span, new = only in
    * the second, retained = both) computed with Spark's
    * EXCEPT/INTERSECT DISTINCT operators. Catalyst plans them as
    * distinct aggregates + left-anti / left-semi joins hashed on the
    * key — exactly the distributed shape one would hand-write, so
    * covering the operators costs nothing at scale.
    *
    * Scale shape: each era reduces orders to a DISTINCT custkey table
    * (map-side combined) BEFORE any set op and is checkpointed so the
    * two uses share one computation; the set ops then hash
    * key-cardinality tables only. The 1-row span pivot is a broadcast
    * cross join (q69's posture).
    */
  /** q87: SEMI-STRUCTURED extraction — the JSON surface the events
    * feed actually carries (`props` holds a JSON document): parse
    * `$.k` with the native `get_json_object` path expression
    * (row-local in the scan, codegen'd — never a UDF) and roll it up
    * per event type: parse coverage, exact min/max/sum, the exact
    * integer-division mean and the distinct-k count. The BigQuery
    * JSON_EXTRACT usage class the reference's warehouse implies,
    * Spark-first.
    *
    * Scale shape: JSON parse never leaves the scan; distinct-k comes
    * from a (type, k) pre-aggregate (map-side combined, Zipf-compact)
    * rolled up per type — never a count_distinct expand.
    */
  def q87JsonExtract(s: SparkSession, dir: String): DataFrame = {
    val kk = Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("c"))
    kk.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_events"),
        sum(when(col("k").isNotNull, col("c")).otherwise(lit(0L)))
          .as("n_with_k"),
        sum(when(col("k").isNotNull, lit(1L)).otherwise(lit(0L)))
          .as("k_distinct"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"),
        sum(col("k") * col("c")).as("k_sum"))
      .withColumn("k_avg6",
        when(col("n_with_k") > 0,
          expr("k_sum * 1000000L div n_with_k")))
      .select(col("event_type"), col("n_events"), col("n_with_k"),
        col("k_distinct"), col("k_min"), col("k_max"), col("k_sum"),
        col("k_avg6"))
      .orderBy(col("event_type"))
  }

  def q81SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
    val span = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("pivot",
        expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"))
      .select(col("pivot"))
    val tagged = o.crossJoin(broadcast(span))
    val a = tagged.filter(col("day") <= col("pivot"))
      .select("o_custkey").distinct().localCheckpoint()
    val b = tagged.filter(col("day") > col("pivot"))
      .select("o_custkey").distinct().localCheckpoint()
    a.except(b).select(lit("lapsed").as("status"), col("o_custkey"))
      .unionByName(
        b.except(a).select(lit("new").as("status"), col("o_custkey")))
      .unionByName(
        a.intersect(b)
          .select(lit("retained").as("status"), col("o_custkey")))
      .orderBy(col("status"), col("o_custkey"))
  }
}
