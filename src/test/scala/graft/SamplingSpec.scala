package graft

import graft.operators.Sampling
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SamplingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("d07 split partitions the corpus ~80/10/10 and is reproducible") {
    val split = Sampling.trainSplit(spark, dir)
    val total = Tables.documents(spark, dir).count()
    val bySplit = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.values.sum == total, "split must cover every doc once")
    assert(bySplit.keySet == Set("train", "val", "test"))
    // md5 is uniform: 80/10/10 ±10 points even on a 100-doc corpus
    assert(math.abs(bySplit("train").toDouble / total - 0.8) < 0.1,
      s"train share ${bySplit("train")}/$total")
    val again = Sampling.trainSplit(spark, dir).collect()
    assert(Sampling.trainSplit(spark, dir).collect().sameElements(again))
  }

  test("d09 importance sampling ranks target-like docs first") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dsir").toString
    // target slice (doc_id % 20 == 0) speaks "alpha beta gamma";
    // doc 1 shares that vocabulary, docs 2-10 are off-domain junk
    val docs = Seq(
      (20L, "alpha beta alpha beta gamma", "en", "t", 27L),
      (1L, "alpha beta gamma", "en", "s", 16L)
    ) ++ (2L to 10L).map(i =>
      (i, s"junk$i word$i noise$i filler$i", "en", "s", 20L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Sampling.importanceSample(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == (1L to 10L).toSet, "one row per train doc")
    // the target-like doc outweighs every off-domain doc…
    val w1 = out(1L).getAs[Double]("weight")
    (2L to 10L).foreach { i =>
      assert(w1 > out(i).getAs[Double]("weight"), s"doc 1 must beat doc $i")
    }
    // …and is the single selected doc at frac = 0.1 (k = ⌊10·0.1⌋ = 1)
    assert(out(1L).getAs[Int]("selected") == 1)
    (2L to 10L).foreach(i => assert(out(i).getAs[Int]("selected") == 0))
    // reproducible: content-determined, no rand()
    val again = Sampling.importanceSample(spark, tmp).collect()
    assert(Sampling.importanceSample(spark, tmp).collect()
      .sameElements(again))
  }

  test("d09 selection is threshold-based: no global window, no " +
      "single-partition exchange") {
    val plan = Sampling.importanceSample(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("d09 threshold selection matches the rank rule on weight ties") {
    import spark.implicits._
    // ten identical raw docs (one shared weight) + one target doc;
    // k = ⌊10·0.3⌋ = 3 must pick exactly the 3 SMALLEST doc_ids of the
    // tie group — the (w_e9 desc, doc_id asc) rank rule's tie-break
    val raw = (1L to 10L).map(i => (i, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val target = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val out = Sampling.importanceSample(raw, target, 0.3).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("selected")).toMap
    assert((1L to 3L).forall(out(_) == 1), out.toString)
    assert((4L to 10L).forall(out(_) == 0), out.toString)
  }

  test("d09 local-tier boundary ranks extreme weights like the radix " +
      "tier (w_e9 desc, doc_id asc)") {
    val rows = Array((Long.MinValue, 1L), (0L, 2L), (Long.MaxValue, 3L),
      (0L, 4L), (Long.MinValue + 1, 5L))
    val expected = Seq((Long.MaxValue, 3L), (0L, 2L), (0L, 4L),
      (Long.MinValue + 1, 5L), (Long.MinValue, 1L))
    expected.zipWithIndex.foreach { case (want, i) =>
      assert(Sampling.localBoundary(rows, i + 1) == want, s"k=${i + 1}")
    }
  }

  test("d09 external-target overload scores against a disjoint corpus") {
    import spark.implicits._
    // target corpus is a SEPARATE table (overlapping ids with raw —
    // the overload must key counts by side, not doc_id)
    val raw = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "junk noise filler junk"),
      (3L, "other words here too")).toDF("doc_id", "text")
    val target = Seq(
      (1L, "alpha beta gamma"),
      (2L, "beta gamma alpha")).toDF("doc_id", "text")
    val rows = Sampling.importanceSample(raw, target, 0.34).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("weight"),
        r.getAs[Int]("selected"))).sortBy(_._1)
    assert(rows.map(_._1).sameElements(Array(1L, 2L, 3L)))
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 > byId(2L)._2 && byId(1L)._2 > byId(3L)._2,
      s"target-like doc must outweigh off-domain docs: $rows")
    assert(byId(1L)._3 == 1 && byId(2L)._3 == 0 && byId(3L)._3 == 0)
  }

  test("d13 sequence packing: contiguous per-shard offsets, spanning docs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("pack").toString
    def text(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    Seq(
      (0L, text(4)),  // shard 0: tokens 0..3
      (2L, text(8)),  // shard 0: tokens 4..11 — spans seqs 0 and 1
      (4L, text(25)), // shard 0: tokens 12..36 — spans seqs 1..3
      (1L, text(3)),  // shard 1: tokens 0..2
      (3L, "")        // shard 1: empty doc occupies no tokens
    ).map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Sampling.sequencePack(spark, tmp, nShards = 2, seqLen = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    def row(id: Long) = {
      val r = out(id)
      (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
    }
    assert(row(0L) == (0L, 4, 0L, 0L, 0L, 1L))
    assert(row(2L) == (0L, 8, 4L, 0L, 1L, 2L))
    assert(row(4L) == (0L, 25, 12L, 1L, 3L, 3L))
    assert(row(1L) == (1L, 3, 0L, 0L, 0L, 1L))
    // empty doc: zero tokens, both seq bounds collapse to its offset
    assert(row(3L) == (1L, 0, 3L, 0L, 0L, 1L))
  }

  test("q52 stratified sample keeps all purchases and thins other strata") {
    val ev = Tables.events(spark, dir)
    val sampled = Sampling.stratifiedSample(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase").count()
    assert(sampled.filter(col("event_type") === "purchase").count() ==
      purchases, "purchase stratum must be kept whole")
    Seq("click", "signup", "view").foreach { t =>
      val full = ev.filter(col("event_type") === t).count()
      val kept = sampled.filter(col("event_type") === t).count()
      assert(kept < full, s"$t stratum must be downsampled ($kept/$full)")
    }
    // sampled rows are a subset of the source (same event ids)
    val extra = sampled.select("event_id")
      .join(ev.select("event_id"), Seq("event_id"), "left_anti").count()
    assert(extra == 0)
  }

  test("sampling operators are shuffle-free row-local filters") {
    val plan = Sampling.stratifiedSample(spark, dir)
      .queryExecution.executedPlan.toString
    // the only exchange allowed is the final presentation sort
    assert(!plan.contains("hashpartitioning"), plan)
  }

  test("d12 domain cap keeps at most N docs per source, reproducibly") {
    val cap = 10
    val kept = Sampling.domainCap(spark, dir, cap)
    val bySrc = kept.groupBy(col("source"))
      .agg(count(lit(1)).as("k"), max(col("rk")).as("maxrk"),
        max(col("n_source")).as("n")).collect()
    assert(bySrc.nonEmpty)
    bySrc.foreach { r =>
      assert(r.getLong(1) <= cap, s"${r.getString(0)} kept ${r.getLong(1)}")
      assert(r.getInt(2) <= cap)
      // a domain larger than the cap is trimmed to exactly cap
      if (r.getLong(3) > cap) assert(r.getLong(1) == cap)
    }
    // deterministic: a second run selects the identical doc set
    val again = Sampling.domainCap(spark, dir, cap)
    assert(kept.select("doc_id").except(again.select("doc_id")).count() == 0)
    // kept docs are a subset of the corpus
    val extra = kept.select("doc_id").join(
      Tables.documents(spark, dir).select("doc_id"),
      Seq("doc_id"), "left_anti").count()
    assert(extra == 0)
  }

  test("d16 mixture sampling: sqrt-temperature quotas, exact floor seats") {
    import spark.implicits._
    // sizes 100/25/4/1 → isqrt weights 10/5/2/1 (W = 18), total 130,
    // target (130·2) div 5 = 52 → quotas 28/14/least(4,5)=4/least(1,2)=1:
    // the 4:1 size ratio of A:B lands as the 2:1 SAMPLE ratio (T = 2)
    val tmp = java.nio.file.Files.createTempDirectory("mix").toString
    val sizes = Seq("a" -> 100, "b" -> 25, "c" -> 4, "d" -> 1)
    sizes.flatMap { case (src, n) =>
      (1 to n).map(i => (src.hashCode * 1000L + i, s"doc $src $i", "en",
        src, 10L))
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Sampling.mixtureSample(spark, tmp)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("a" -> 28L, "b" -> 14L, "c" -> 4L, "d" -> 1L),
      bySrc.toString)
    // quota column agrees with the kept count per source
    val q = out.select("source", "quota").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(q == bySrc)
    // deterministic membership across runs
    val again = Sampling.mixtureSample(spark, tmp)
    assert(out.select("doc_id").except(again.select("doc_id")).count() == 0)
  }

  test("d16 external weights table drives the mix directly") {
    import spark.implicits._
    // equal-size sources, explicit 3:1 weights → 24/8 of the 32-target
    val docs = (1 to 40).map(i => (i.toLong, "a")) ++
      (41 to 80).map(i => (i.toLong, "b"))
    val docsDf = docs.toDF("doc_id", "source")
    val weights = Seq(("a", 3L), ("b", 1L)).toDF("source", "w")
    val out = Sampling.mixtureSample(docsDf, weights, 2, 5)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 24L, "b" -> 8L), out.toString)
    // a source absent from the weights table draws nothing
    val partial = Sampling.mixtureSample(docsDf,
      Seq(("a", 1L)).toDF("source", "w"), 2, 5)
    assert(partial.select("source").distinct().collect()
      .map(_.getString(0)).toSet == Set("a"))
  }

  test("d16 plans source-keyed exchanges only, quota side broadcast") {
    val plan = Sampling.mixtureSample(spark, dir)
      .queryExecution.executedPlan.toString
    // two source-keyed exchanges (count groupBy + rank window) at most,
    // counted by distinct plan_id (reuse renders per consumer)
    val distinctHash =
      "Exchange hashpartitioning.*?plan_id=(\\d+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSet.size
    assert(distinctHash <= 2, s"expected <=2 hash exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // the quota table joins back as a broadcast hash join, never a
    // shuffle join (the 1-row total rides a broadcast nested loop)
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("d12 plans one source exchange shared by rank and count") {
    val plan = Sampling.domainCap(spark, dir)
      .queryExecution.executedPlan.toString
    val srcExchanges = plan.split("\n")
      .count(l => l.contains("Exchange hashpartitioning") &&
        l.contains("source"))
    assert(srcExchanges <= 1, s"expected one source exchange:\n$plan")
  }

  test("d13 plans exactly one hash exchange (the shard window)") {
    val plan = Sampling.sequencePack(spark, dir)
      .queryExecution.executedPlan.toString
    val distinctHash =
      "Exchange hashpartitioning.*?plan_id=(\\d+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSet.size
    assert(distinctHash <= 1, s"expected one shard exchange:\n$plan")
  }

  test("p02 plans three survivor-set hash exchanges, no cartesian") {
    val plan = graft.operators.CorpusPipeline.curate(spark, dir)
      .queryExecution.executedPlan.toString
    val distinctHash =
      "Exchange hashpartitioning.*?plan_id=(\\d+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSet.size
    assert(distinctHash <= 3, s"expected <=3 hash exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("p10 quality mix: shares sum to ~1 per source and corpus-wide, " +
      "cells partition the corpus") {
    val out = Sampling.p10QualityMix(spark, dir).collect()
    assert(out.nonEmpty)
    val nDocs = out.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs == Tables.documents(spark, dir).count())
    // per-source shares sum to 1 within floor-division slack
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val s = rows.map(_.getAs[Long]("src_share6")).sum
      assert(s > 1000000L - rows.length && s <= 1000000L,
        s"$src shares sum $s")
    }
    val c = out.map(_.getAs[Long]("corpus_share6")).sum
    assert(c > 1000000L - out.length && c <= 1000000L, s"corpus sum $c")
    // quality levels are the discrete t02 lattice
    val okLevels = (for {
      a <- Seq(0.0, 0.4); b <- Seq(0.0, 0.3)
      d <- Seq(0.0, 0.2); e <- Seq(0.0, 0.1)
    } yield math.floor((a + b + d + e) * 1e6 + 0.5) / 1e6).toSet
    out.foreach(r =>
      assert(okLevels.contains(r.getAs[Double]("quality")), r.toString))
  }

  test("d18 token budget: radix boundary equals the global-sort prefix " +
      "rule, boundary group splits by doc_id") {
    import org.apache.spark.sql.expressions.Window
    // reference = the window-cumsum prefix the engine must NOT plan:
    // recompute it here over the same features and compare sets
    val feats = Tables.documents(spark, dir)
      .select(col("doc_id"),
        floor(graft.text.TextFns.qualityCol(col("text")) * lit(1000000.0)
          + lit(0.5)).cast("long").as("q6"),
        graft.text.TextFns.reTokensCol(col("text")).cast("long")
          .as("n_tok"))
    val total = feats.agg(sum("n_tok")).head().getLong(0)
    val budget = total / 2
    val ref = feats
      .withColumn("cum", sum(col("n_tok")).over(
        Window.orderBy(col("q6").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Sampling.d18TokenBudget(spark, dir, budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == ref,
      s"missing=${(ref -- got).take(5)} extra=${(got -- ref).take(5)}")
    assert(got.nonEmpty && got.size < feats.count(),
      "half-budget must select a strict subset")
    // a budget ending mid-group picks the doc_id prefix of the
    // boundary-quality group
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("d18spec").toString
    val text = "one two three four five" // 5 tokens, same quality each
    (0L until 5L).map(i => (i, text, "en", "w", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sel = Sampling.d18TokenBudget(spark, tmp, 12L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(sel == Set(0L, 1L), sel.toString) // 2x5 <= 12 < 3x5
    // everything-fits path
    val all = Sampling.d18TokenBudget(spark, tmp, 1000L).count()
    assert(all == 5)
    // the engine never plans a global (un-partitioned) window or a
    // single-partition exchange over the corpus
    val plan = Sampling.d18TokenBudget(spark, dir, budget)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window ["), s"no window expected:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"no single-partition exchange expected:\n$plan")
  }
}
