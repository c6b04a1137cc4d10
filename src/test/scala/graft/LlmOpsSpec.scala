package graft

import graft.dedup.{Dedup, MinHashLSH, SimHash}
import graft.multimodal.Multimodal
import graft.similarity.Ann
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LlmOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  /** A corpus with planted exact + near duplicates. */
  lazy val plantedDir: String = {
    import spark.implicits._
    // 60 distinct words; a one-word edit keeps shingle-Jaccard ~0.94,
    // inside MinHash's 8x8-band near-dup collision regime.
    val base = (0 until 60).map(i => s"word$i").mkString(" ")
    val near = base.replace("word30", "changed") // one-word edit
    val other = "completely different content about spark query engines " * 5
    val docs = Seq(
      (1L, base, "en", "s1", base.length.toLong),
      (2L, base, "en", "s2", base.length.toLong),   // exact dup of 1
      (3L, near, "en", "s3", near.length.toLong),   // near dup of 1
      (4L, other, "en", "s4", other.length.toLong),
      (5L, "tiny doc", "en", "s5", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("planted").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("d01 exact dedup collapses identical docs") {
    val groups = Dedup.exactDedup(spark, plantedDir).collect()
    val dupGroup = groups.filter(_.getLong(2) > 1)
    assert(dupGroup.length == 1 && dupGroup.head.getLong(1) == 1L)
  }

  test("d02 minhash LSH finds planted exact and near dups") {
    val pairs = MinHashLSH.nearDupPairs(spark, plantedDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"exact dup missed: $pairs")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"near dup missed: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated doc flagged: $pairs")
  }

  test("d03 simhash: exact dups at distance 0, distinct docs not paired") {
    // One-word edits on short (~13 distinct-token) docs flip > 3 of 60
    // bits — SimHash's hamming radius targets long documents, so the
    // contract here is: identical docs collide, unrelated docs don't,
    // and every reported pair respects the radius.
    val rows = SimHash.nearDupPairs(spark, plantedDir).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 4L))
    rows.foreach(r => assert(r.getInt(2) <= 3))
  }

  test("d04 jaccard gives 1.0 for exact dups, high for near dups") {
    val rows = Dedup.ngramJaccard(spark, plantedDir, tau = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5))).toMap
    assert(rows((1L, 2L)) == 1.0)
    assert(rows((1L, 3L)) > 0.6 && rows((1L, 3L)) < 1.0)
  }

  test("d06 clusters: planted dup trio lands in one component, keeper is min id") {
    val comps = graft.dedup.Dedup.dedupClusters(spark, plantedDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    // docs 1,2,3 are mutual near-dups (jaccard >= 0.8 pairwise)
    assert(comps(1L) == (1L, 1) && comps(2L) == (1L, 0) && comps(3L) == (1L, 0))
    assert(!comps.contains(4L), "unrelated doc must not join a cluster")
  }

  test("d06 distributed star loop equals the adaptive local union-find") {
    val local = graft.dedup.Dedup.dedupClusters(spark, plantedDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val dist = graft.dedup.Dedup
      .dedupClusters(spark, plantedDir, localSolveMaxEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(dist == local, s"paths diverge: dist=$dist local=$local")
  }

  test("d05 embedding dedup is thresholded, ordered, and non-empty") {
    val pairs = Dedup.embeddingDedup(spark, dir).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4 - 1e-6)
    }
  }

  test("d05 plan is equi-join block-matrix — no cartesian / nested-loop node") {
    val plan = Dedup.embeddingDedup(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("d05 guard refuses corpora beyond the exact-tier cap") {
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingDedup(spark, dir, maxExactRows = 3)
    }
    assert(e.getMessage.contains("MinHashLSH"), e.getMessage)
  }

  test("t05 entropy is row-local: no join, no aggregate, no hash exchange") {
    val plan = graft.text.TextFns.entropyScore(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    // only the deterministic-output sort may exchange (range partition)
    assert(!plan.contains("hashpartitioning"), plan)
  }

  test("d03 signatures are row-local: no aggregate before the chunk join") {
    val plan = SimHash.signatures(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("Exchange"), plan)
  }

  test("s01 brute-force top-k returns k ranked neighbours per query") {
    val rows = Ann.bruteForceTopK(spark, dir).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.values.foreach { g =>
      assert(g.map(_.getInt(1)).sorted.sameElements(1 to 5))
      val cosines = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
  }

  test("s02 multi-probe LSH achieves recall >= 0.7 against s01") {
    val exact = Ann.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Ann.lshTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // Hamming-1 multi-probe over 6 tables: measured 0.98 here, 0.94
    // at sf0.1 — the published bar is 0.7
    assert(recall >= 0.7, s"LSH recall too low: $recall")
  }

  test("s03 IVF achieves recall against s01 and beats random probing") {
    val exact = Ann.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Ann.ivfTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // nProbe/nCentroids = 1/2 of the corpus scanned (the synthetic
    // embeddings are near-uniform — see the op docstring); measured
    // 0.82 here, 0.76 at sf0.1 — the published bar is 0.7
    assert(recall >= 0.7, s"IVF recall too low: $recall")
  }

  test("d14 SemDeDup flags planted semantic duplicates, keeps min id") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("semd").toString
    // 8-dim embeddings: 10 exact, 11 near (cos > 0.99), 12 a second
    // copy; 20/21 an unrelated orthogonal pair; rest near-orthogonal
    def e(i: Int, v: Array[Float]) = (i.toLong, v, s"l$i")
    val base = Array(1f, 2f, 3f, 4f, 0f, 0f, 0f, 0f)
    val near = Array(1.01f, 2f, 3f, 4f, 0.05f, 0f, 0f, 0f)
    def axis(d: Int) =
      Array.tabulate(8)(j => if (j == d) 1f else 0f)
    val rows = Seq(
      e(10, base), e(11, near), e(12, base),
      e(20, axis(5)), e(21, axis(6)),
      e(30, axis(7)), e(31, Array.tabulate(8)(j => (j + 1).toFloat))
    )
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = Ann.semDedup(spark, tmp, nCentroids = 3, tau = 0.95)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 7, "one row per vector")
    assert(out(10L).getInt(2) == 0, "group representative kept")
    assert(out(11L).getInt(2) == 1 && out(11L).getLong(3) == 10L)
    assert(out(12L).getInt(2) == 1 && out(12L).getLong(3) == 10L)
    assert(out(20L).getInt(2) == 0 && out(21L).getInt(2) == 0,
      "orthogonal pair is not a semantic dup")
    // deterministic across runs (seeds are content-addressed)
    val again = Ann.semDedup(spark, tmp, nCentroids = 3, tau = 0.95)
      .collect().map(_.toString)
    assert(Ann.semDedup(spark, tmp, nCentroids = 3, tau = 0.95)
      .collect().map(_.toString).sameElements(again))
  }

  test("centroid assignment fails loudly on a NaN embedding or an empty bank") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("nanemb").toString
    val r = new scala.util.Random(7)
    val rows = (0 until 40).map(i =>
      (i.toLong, Array.fill(64)(r.nextGaussian().toFloat), s"l$i")) :+
      ((40L, Array.fill(64)(Float.NaN), "l40"))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    def messages(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    Seq[(String, () => Any)](
      "semDedup NaN" -> (() => Ann.semDedup(spark, tmp, nCentroids = 4).collect()),
      "ivfTopK NaN" -> (() =>
        Ann.ivfTopK(spark, tmp, nCentroids = 4, nProbe = 2).collect()),
      "ivfPqTopK NaN" -> (() =>
        Ann.ivfPqTopK(spark, tmp, nCentroids = 4, nProbe = 2).collect()),
      "semDedup empty bank" -> (() =>
        Ann.semDedup(spark, dir, nCentroids = 0).collect())
    ).foreach { case (name, call) =>
      val e = intercept[Exception](call())
      assert(messages(e).contains("no finite distance"), s"$name: ${messages(e)}")
    }
  }

  /** An embeddings table with the real schema and no rows. */
  private lazy val emptyEmbDir: String = {
    val tmp = java.nio.file.Files.createTempDirectory("emptyemb").toString
    Tables.embeddings(spark, dir).limit(0)
      .write.parquet(s"$tmp/embeddings.parquet")
    tmp
  }

  // each builder that trains on the table names the empty table, where
  // a bare "key not found: 0" or an empty top-k used to come out
  Seq[(String, String => org.apache.spark.sql.DataFrame)](
    "ivfTopK" -> (Ann.ivfTopK(spark, _)),
    "pqTopK" -> (Ann.pqTopK(spark, _)),
    "ivfPqTopK" -> (Ann.ivfPqTopK(spark, _))
  ).foreach { case (name, topK) =>
    test(s"$name fails on an empty embeddings table, naming it") {
      val e = intercept[IllegalArgumentException](topK(emptyEmbDir).collect())
      assert(e.getMessage.contains("the embeddings table is empty"),
        s"$name: ${e.getMessage}")
    }
  }

  test("lshTopK returns no rows on an empty embeddings table") {
    assert(Ann.lshTopK(spark, emptyEmbDir).collect().isEmpty)
  }

  test("s05 PQ ADC achieves recall against the exact L2 top-k") {
    import graft.dedup.Dedup.dot
    import org.apache.spark.sql.expressions.Window
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("vec_id"))
    val exact = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2",
        col("qn") - lit(2.0) * dot(col("qv"), col("v")) + col("n2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.pqTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // m=8 subspaces x 16 codewords, ADC shortlist 40·k re-ranked
    // exactly; measured 0.96 here, 0.76 at sf0.1 — published bar 0.7
    assert(recall >= 0.7, s"PQ recall too low: $recall")
    // schema sanity: 5 ranked rows per query, distances ascending
    val rows = Ann.pqTopK(spark, dir).collect()
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(1)).sorted.sameElements(1 to 5))
      val ds = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
  }

  test("s13 composed IVF-PQ achieves recall against the exact L2 top-k " +
    "and is deterministic") {
    import graft.dedup.Dedup.dot
    import org.apache.spark.sql.expressions.Window
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("vec_id"))
    val exact = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2",
        col("qn") - lit(2.0) * dot(col("qv"), col("v")) + col("n2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Ann.ivfPqTopK(spark, dir).collect()
    val approx = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // coarse nProbe=10/16 lists pruned, residual-PQ ADC shortlist 80·k
    // re-ranked exactly (the ivfPqTopK defaults; oracle prk<=10 /
    // ark<=400) — recall is bounded by the IVF probe set, so the
    // published bar matches s03's 0.7
    assert(recall >= 0.7, s"IVF-PQ recall too low: $recall")
    // 5 ranked rows per query, distances ascending
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(1)).sorted.sameElements(1 to 5))
      val ds = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
    // deterministic across runs (content-addressed seeds, decimal
    // means, struct-min ties)
    assert(Ann.ivfPqTopK(spark, dir).collect().map(_.toString)
      .sameElements(rows.map(_.toString)))
  }

  test("s06 RRF output: exact reciprocal-rank sums, ranked per query") {
    val out = Ann.hybridRrf(spark, dir).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { g =>
      assert(g.map(_.getInt(1)).sorted.sameElements(1 to 10))
      g.foreach { r =>
        def c(i: Int): Long =
          if (r.isNullAt(i)) 0L
          else math.floor(1.0e9 / (60 + r.getInt(i))).toLong
        assert(r.getLong(3) == c(4) + c(5), r.toString)
        // every fused hit came from at least one modality pool
        assert(!r.isNullAt(4) || !r.isNullAt(5), r.toString)
      }
      val sc = g.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b })
    }
  }

  test("s06 planted: agreement in both modalities wins the fused ranking") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("s06spec").toString
    Seq(
      (0L, "alpha beta gamma delta", "en", "w", 22L),
      (1L, "alpha beta gamma delta epsilon", "en", "w", 28L),
      (2L, "alpha zeta eta theta iota", "en", "w", 25L),
      (3L, "omega psi chi", "en", "w", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.1f, 0.9f, 0.1f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = Ann.hybridRrf(spark, tmp, nQueries = 1, kPool = 3, topN = 4)
      .collect()
    // doc1 is rank-1 in BOTH modalities → fused rank 1; doc2 is
    // mid-pack in both and still outranks doc3's single dense rank-2
    // (RRF's agreement property); doc3 shares no token with the seed,
    // so it is dense-only
    val rk = out.map(r => r.getLong(2) -> r.getInt(1)).toMap
    assert(rk == Map(1L -> 1, 2L -> 2, 3L -> 3), out.mkString("; "))
    val d3 = out.find(_.getLong(2) == 3L).get
    assert(d3.isNullAt(5) && !d3.isNullAt(4), d3.toString)
  }

  test("s07 MMR: diverse pick outranks the redundant higher-relevance one") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("s07spec").toString
    // query 0 = x-axis; 1 and 2 are near-dups straddling the top
    // relevance spot, 3 mirrors 1 across the axis (same relevance,
    // far from 1), 4 is orthogonal (zero relevance, zero sims)
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.2f, 0.0f), 0),
      (2L, Array(0.9f, 0.21f, 0.0f), 0),
      (3L, Array(0.9f, -0.2f, 0.0f), 0),
      (4L, Array(0.0f, 0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = Ann.mmrDiverse(spark, tmp, nQueries = 1, poolK = 4, k = 4)
      .collect()
    val order = out.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    // pure relevance would rank 2 second (cos ≈ .974 vs 3's penalty-
    // free mirror); MMR charges 2 its ≈1.0 similarity to the first
    // pick, so the mirror 3 and even the orthogonal 4 come first
    assert(order == Seq(1L, 3L, 4L, 2L), out.mkString("; "))
    // first pick's score is its pure (positive) relevance; the
    // redundant doc's final score is negative — penalty > relevance
    assert(out.find(_.getInt(1) == 1).get.getLong(3) > 900000L,
      out.mkString("; "))
    assert(out.find(_.getLong(2) == 2L).get.getLong(3) < 0L,
      out.mkString("; "))
  }

  test("p06 diff card: identical source scores 0, shifted/new flag") {
    import spark.implicits._
    def docs(rows: Seq[(Long, String, String)]) =
      rows.map { case (id, src, t) => (id, t, "en", src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val a = docs(Seq(
      (1L, "same", "alpha beta gamma"),
      (2L, "same", "beta gamma delta"),
      (10L, "grown", "alpha beta alpha beta")))
    val b = docs(Seq(
      (1L, "same", "alpha beta gamma"),
      (2L, "same", "beta gamma delta"),
      (10L, "grown", "alpha beta alpha beta"),
      (11L, "grown", "omega psi chi omega psi"),
      (12L, "grown", "omega psi chi omega psi"), // exact dup of 11
      (20L, "fresh", "zeta eta theta")))
    val out = graft.operators.CorpusPipeline.corpusDiff(spark, a, b)
      .collect().map(r => r.getString(0) -> r).toMap
    val same = out("same")
    assert(same.getAs[Long]("kl9_shift") == 0L,
      s"identical snapshot content must score exactly 0: $same")
    assert(same.getAs[Long]("new_docs") == 0L && same.getAs[Int]("new_source") == 0)
    val grown = out("grown")
    assert(grown.getAs[Long]("new_docs") == 2L &&
      grown.getAs[Long]("dups_b") == 1L && grown.getAs[Long]("dups_a") == 0L,
      grown.toString)
    assert(grown.getAs[Long]("kl9_shift") > 100000000L,
      s"off-vocabulary arrivals must shift the distribution: $grown")
    val fresh = out("fresh")
    assert(fresh.getAs[Int]("new_source") == 1 &&
      fresh.getAs[Long]("docs_a") == 0L && fresh.getAs[Long]("docs_b") == 1L,
      fresh.toString)
  }

  test("m01 PNG encode/decode roundtrip recovers exact dims and pixel stats") {
    val df = Multimodal.q(spark, dir)
    val rows = df.collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getLong(0)
      val w = r.getInt(1)
      val h = r.getInt(2)
      // decoded dims must equal the synthesis formulas (PNG roundtrip)
      assert(w == 8 + (id % 25).toInt && h == 8 + ((id * 7) % 25).toInt)
      // exact grayscale sum recomputed in closed form
      var expected = 0L
      for (y <- 0 until h; x <- 0 until w)
        expected += (id * 31 + x * 7 + y * 13) % 256
      assert(r.getLong(3) == expected, s"px_sum mismatch for media $id")
      assert(r.getInt(4) >= 0 && r.getInt(5) <= 255 &&
        r.getInt(4) <= r.getInt(5))
    }
    assert(df.collect().sameElements(rows), "decode must be deterministic")
  }

  test("m01 payloads are genuine PNG bytes with queryable metadata") {
    val media = Multimodal.mediaTable(spark, dir).limit(20).collect()
    media.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      // PNG magic: 89 50 4E 47
      assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
        bytes(2) == 'N' && bytes(3) == 'G')
      val meta = r.getStruct(r.fieldIndex("meta"))
      assert(meta.getAs[Int]("n_bytes") == bytes.length)
      assert(meta.getAs[String]("mime") == "image/png")
    }
  }

  test("m02 WAV roundtrip recovers exact samples and audio features") {
    import graft.multimodal.Audio
    val rows = Audio.q(spark, dir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val n = (200 + (id * 11) % 300).toInt
      assert(r.getAs[Int]("sample_rate") == 8000 + (id % 3).toInt * 4000)
      assert(r.getAs[Long]("n_samples") == n.toLong)
      // energy recomputed in closed form (PCM is lossless)
      var sq = 0L
      for (i <- 0 until n) {
        val v = (id * 31 + i.toLong * 17) % 65536 - 32768
        sq += v * v
      }
      assert(r.getAs[Long]("sq_sum") == sq, s"energy mismatch for $id")
      assert(r.getAs[Int]("peak") <= 32768)
    }
  }

  test("m07 audio segmentation: planted silence, clipping, trim runs") {
    import spark.implicits._
    import graft.multimodal.Audio
    def wav(samples: Seq[Int]): Array[Byte] = {
      val dataLen = samples.length * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      buf.put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      buf.putShort(1).putShort(1).putInt(8000).putInt(16000)
      buf.putShort(2).putShort(16)
      buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(v => buf.putShort(v.toShort))
      buf.array()
    }
    // frame 0 silent, frame 1 clipped (and loud), frame 2 silent;
    // 5-sample tail is a partial frame and must be dropped
    val planted = Seq.fill(25)(0) ++ Seq.fill(25)(32760) ++
      Seq.fill(25)(100) ++ Seq.fill(5)(32760)
    val df = Seq(
      (1L, wav(planted)),
      (2L, "not a riff".getBytes("US-ASCII"))
    ).toDF("media_id", "payload")
    val out = Audio.segment(df).collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Int]("n_frames") == 3)
    assert(r1.getAs[Int]("n_silent") == 2)
    assert(r1.getAs[Int]("n_clipped") == 1)
    assert(r1.getAs[Int]("lead_silent") == 1)
    assert(r1.getAs[Int]("tail_silent") == 1)
    assert(r1.getAs[Int]("_corrupt") == 0)
    assert(out(2L).getAs[Int]("_corrupt") == 1, "garbage flags, not throws")
  }

  test("m02 payloads are genuine RIFF/WAVE bytes with queryable metadata") {
    import graft.multimodal.Audio
    val media = Audio.audioTable(spark, dir).limit(20).collect()
    media.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
      assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
      val meta = r.getStruct(r.fieldIndex("meta"))
      assert(meta.getAs[Int]("n_bytes") == bytes.length)
      assert(meta.getAs[String]("mime") == "audio/wav")
    }
    // the parser is a real chunk walk, not an offset assumption: an
    // extra chunk before fmt/data still decodes
    val id = 7L
    val canonical = Audio.wavBytes(id)
    val junk = "JUNK".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ Array[Byte](1, 2, 3, 4)
    val padded = canonical.take(12) ++ junk ++ canonical.drop(12)
    val fixed = java.nio.ByteBuffer.wrap(padded)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fixed.putInt(4, padded.length - 8) // fix riff size
    val (rate, bits, ch, smp) = Audio.parseWav(fixed.array())
    val (r0, b0, c0, s0) = Audio.parseWav(canonical)
    assert(rate == r0 && bits == b0 && ch == c0 && smp.sameElements(s0))
  }

  test("m04 NN resize maps thumbnail pixels to exact source pixels") {
    val t = Multimodal.ThumbSize
    val rows = Multimodal.qResize(spark, dir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val w = 8 + (id % 25).toInt
      val h = 8 + ((id * 7) % 25).toInt
      assert(r.getAs[Int]("src_width") == w &&
        r.getAs[Int]("src_height") == h)
      assert(r.getAs[Int]("width") == t && r.getAs[Int]("height") == t)
      // recompute the thumbnail in closed form: NN forward map both
      // up- (w < 16) and down-samples (w > 16) correctly
      var sum = 0L
      for (y <- 0 until t; x <- 0 until t)
        sum += (id * 31 + (x * w / t) * 7 + (y * h / t) * 13) % 256
      assert(r.getAs[Long]("px_sum") == sum, s"thumb mismatch for $id")
    }
  }

  test("m03 frame sampling decodes only every stride-th frame, exactly") {
    import graft.multimodal.Video
    val rows = Video.q(spark, dir).collect()
    // one row per SAMPLED frame: ceil(n_frames / stride) per video
    val byVideo = rows.groupBy(_.getAs[Long]("media_id"))
    assert(byVideo.size == 500)
    byVideo.foreach { case (id, frames) =>
      val n = (4 + id % 9).toInt
      val expectedIdx = (0 until n).filter(_ % Video.FrameStride == 0)
      assert(frames.map(_.getAs[Int]("frame_idx")).sorted
        .sameElements(expectedIdx), s"wrong sampled frames for $id")
      frames.foreach { r =>
        val f = r.getAs[Int]("frame_idx")
        val w = r.getAs[Int]("width")
        val h = r.getAs[Int]("height")
        assert(w == 8 + (id % 17).toInt && h == 8 + ((id * 5) % 17).toInt)
        assert(r.getAs[Int]("n_frames") == n)
        // decoded pixel sum equals the synthesis closed form (PNG lossless)
        var expected = 0L
        for (y <- 0 until h; x <- 0 until w)
          expected += (id * 31 + f * 17 + x * 7 + y * 13) % 256
        assert(r.getAs[Long]("px_sum") == expected)
      }
    }
  }

  test("m05 scene deltas equal the closed-form pixel differences") {
    import graft.multimodal.Video
    val rows = Video.qScenes(spark, dir).collect()
    val byVideo = rows.groupBy(_.getAs[Long]("media_id"))
    assert(byVideo.size == 500)
    // exact on a sample of videos: every adjacent pair emitted once,
    // delta = Σ|p(f) − p(f−1)| over the synthesis closed form
    Seq(1L, 7L, 42L).foreach { id =>
      val frames = byVideo(id).sortBy(_.getAs[Int]("frame_idx"))
      val n = (4 + id % 9).toInt
      assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == (1 until n))
      val w = 8 + (id % 17).toInt
      val h = 8 + ((id * 5) % 17).toInt
      frames.foreach { r =>
        val f = r.getAs[Int]("frame_idx")
        var expected = 0L
        for (y <- 0 until h; x <- 0 until w)
          expected += math.abs((id * 31 + f * 17 + x * 7 + y * 13) % 256 -
            (id * 31 + (f - 1) * 17 + x * 7 + y * 13) % 256)
        assert(r.getAs[Long]("abs_delta_sum") == expected, s"video $id pair $f")
        val mean6 = math.floor(expected.toDouble / (w * h) * 1e6 + 0.5) / 1e6
        assert(r.getAs[Double]("mean_delta6") == mean6)
        assert(r.getAs[Int]("scene_change") == (if (mean6 > 30.0) 1 else 0))
      }
    }
    // the threshold is live on this corpus: both outcomes occur
    assert(rows.exists(_.getAs[Int]("scene_change") == 1))
    assert(rows.exists(_.getAs[Int]("scene_change") == 0))
  }

  test("m03 container skips unsampled frames without decoding them") {
    import graft.multimodal.Video
    // corrupt every frame the stride does NOT sample: if the sampler
    // decoded them it would throw; skipping by length prefix must not
    javax.imageio.ImageIO.setUseCache(false)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("png").next()
    val bos = new java.io.ByteArrayOutputStream(4096)
    val id = 11L // 4 + 11 % 9 = 6 frames; samples 0 and 3
    val bytes = Video.videoBytes(id, writer, bos)
    val buf = java.nio.ByteBuffer.wrap(bytes)
    buf.getInt(); val n = buf.getInt()
    for (f <- 0 until n) {
      val len = buf.getInt()
      if (f % Video.FrameStride != 0)
        buf.put(buf.position(), Array[Byte](0, 0, 0, 0), 0, 4) // smash magic
      buf.position(buf.position() + len)
    }
    import spark.implicits._
    val corrupted = Seq((id, buf.array())).toDF("media_id", "payload")
    val out = Video.sampleFrames(corrupted, Video.FrameStride).collect()
    assert(out.map(_.getAs[Int]("frame_idx")).sorted.sameElements(Seq(0, 3)))
  }

  test("d11 clean excises the shared passage, keeps unique text intact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("subclean").toString
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    Seq(
      (1L, s"u1 u2 u3 $boiler u4 u5", "en", "s", 1L),
      (2L, s"v1 $boiler v2 v3 v4 v5 v6", "en", "s", 1L),
      (3L, "completely unrelated text with many words here indeed",
        "en", "s", 1L),
      (4L, boiler, "en", "s", 1L) // pure boilerplate → empty after clean
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.substringClean(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "manifest stays complete")
    assert(out(1L).getAs[String]("cleaned_text") == "u1 u2 u3 u4 u5")
    assert(out(1L).getAs[Long]("n_removed") == 10L)
    assert(out(2L).getAs[String]("cleaned_text") == "v1 v2 v3 v4 v5 v6")
    // untouched doc: zero removed, normalized text preserved in order
    assert(out(3L).getAs[Long]("n_removed") == 0L &&
      out(3L).getAs[String]("cleaned_text") ==
        "completely unrelated text with many words here indeed")
    assert(out(4L).getAs[String]("cleaned_text") == "" &&
      out(4L).getAs[Long]("n_removed") == 10L)
  }

  test("d11 substring dedup finds a shared passage with exact span " +
      "coverage") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("subdup").toString
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    Seq(
      // 10-token boilerplate block embedded in two distinct docs
      (1L, s"u1 u2 u3 $boiler u4 u5", "en", "s", 1L),   // 15 tokens
      (2L, s"v1 $boiler v2 v3 v4 v5 v6", "en", "s", 1L), // 16 tokens
      (3L, "completely unrelated text with many words here indeed",
        "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.substringDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    // only the two docs sharing the passage are reported
    assert(out.keySet == Set(1L, 2L), out.toString)
    // the 6 five-grams fully inside the block repeat; they merge into
    // ONE maximal span covering exactly the 10 boilerplate tokens
    for ((id, n) <- Seq((1L, 15), (2L, 16))) {
      val r = out(id)
      assert(r.getAs[Int]("n_tokens") == n)
      assert(r.getAs[Long]("n_rep_pos") == 6L, s"doc $id: $r")
      assert(r.getAs[Long]("n_spans") == 1L, s"doc $id: $r")
      assert(r.getAs[Long]("covered_tokens") == 10L, s"doc $id: $r")
      val frac = math.floor(10.0 / n * 1e6 + 0.5) / 1e6
      assert(r.getAs[Double]("dup_frac6") == frac, s"doc $id: $r")
    }
    // two DISJOINT shared blocks in one doc stay two spans
    val block2 = (1 to 6).map(i => s"c$i").mkString(" ")
    Seq(
      (1L, s"$boiler x1 x2 x3 $block2", "en", "s", 1L),
      (2L, s"y1 $boiler y2", "en", "s", 1L),
      (3L, s"z1 z2 $block2 z3", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val two = Dedup.substringDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(two(1L).getAs[Long]("n_spans") == 2L, two.toString)
    assert(two(1L).getAs[Long]("covered_tokens") == 16L, two.toString)
  }

  test("d22 span catalog: the shared passage is one verbatim row with " +
      "exact multiplicity; disjoint blocks stay separate rows") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("spancat").toString
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val block2 = (1 to 6).map(i => s"c$i").mkString(" ")
    Seq(
      (1L, s"u1 u2 u3 $boiler u4 u5", "en", "s", 1L),
      (2L, s"v1 $boiler v2 v3 v4 v5 v6", "en", "s", 1L),
      (3L, s"w1 $boiler w2 $block2", "en", "s", 1L),
      (4L, s"z1 z2 $block2 z3", "en", "s", 1L),
      (5L, "completely unrelated text with many words here indeed",
        "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.spanCatalog(spark, tmp).collect()
      .map(r => r.getAs[String]("span_text") -> r).toMap
    // exactly two distinct repeated passages are cataloged
    assert(out.keySet == Set(boiler, block2), out.keySet.toString)
    val b = out(boiler)
    assert(b.getAs[Int]("span_tokens") == 10 &&
      b.getAs[Long]("n_occurrences") == 3L &&
      b.getAs[Long]("n_docs") == 3L &&
      b.getAs[Long]("first_doc_id") == 1L &&
      b.getAs[Int]("dup_verbatim") == 1, b.toString)
    val c = out(block2)
    assert(c.getAs[Int]("span_tokens") == 6 &&
      c.getAs[Long]("n_occurrences") == 2L &&
      c.getAs[Long]("n_docs") == 2L &&
      c.getAs[Long]("first_doc_id") == 3L &&
      c.getAs[Int]("dup_verbatim") == 1, c.toString)
    // fingerprint is the md5 of the exact span text
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(boiler.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(b.getAs[String]("span_fp") == md, b.toString)
  }

  test("media decoders flag corrupt payloads instead of failing the job") {
    import graft.multimodal.{Audio, Multimodal, Video}
    val garbage = lit("definitely not a media payload".getBytes("US-ASCII"))
    // tamper ONE row per table: replace its payload with garbage (and,
    // for the second victim, a TRUNCATED but well-prefixed payload)
    def tamper(df: org.apache.spark.sql.DataFrame, garbageId: Long,
        truncId: Long) =
      df.withColumn("payload",
        when(col("media_id") === garbageId, garbage)
          .when(col("media_id") === truncId,
            expr("substring(payload, 1, 12)"))
          .otherwise(col("payload")))

    val media = Multimodal.mediaTable(spark, dir)
    val total = media.count()
    val m01 = Multimodal.decode(tamper(media, 1L, 2L))
    assert(m01.count() == total, "one row per asset, corrupt included")
    assert(m01.filter(col("_corrupt") === 1)
      .select("media_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(m01.filter(col("_corrupt") === 1 && col("px_sum").isNotNull)
      .count() == 0)
    val m04 = Multimodal.resize(tamper(media, 1L, 2L))
    assert(m04.filter(col("_corrupt") === 1).count() == 2)

    val audio = Audio.audioTable(spark, dir)
    val m02 = Audio.decode(tamper(audio, 1L, 2L))
    assert(m02.count() == total)
    assert(m02.filter(col("_corrupt") === 1)
      .select("media_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))

    val videos = Video.videoTable(spark, dir)
    val m03 = Video.sampleFrames(tamper(videos, 1L, 2L), Video.FrameStride)
    assert(m03.filter(col("_corrupt") === 1)
      .select("media_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    val m05 = Video.sceneChanges(tamper(videos, 1L, 2L))
    assert(m05.filter(col("_corrupt") === 1)
      .select("media_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // untampered assets decode exactly as before — same sampled frames
    val clean = Video.sampleFrames(videos, Video.FrameStride)
      .filter(col("media_id") > 2L).count()
    assert(m03.filter(col("_corrupt") === 0 && col("media_id") > 2L)
      .count() == clean)
  }

  test("m08 video near-dup: a re-labeled copy overlaps 1.0; clipped " +
      "copy still 1.0 via the min denominator") {
    import graft.multimodal.Video
    import spark.implicits._
    javax.imageio.ImageIO.setUseCache(false)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("png").next()
    val bos = new java.io.ByteArrayOutputStream(4096)
    val p5 = Video.videoBytes(5L, writer, bos)  // 4+5%9 = 9 frames
    val p8 = Video.videoBytes(8L, writer, bos)
    // a "clipped" copy of video 5: drop the trailing frames past the
    // second sampled one — its hash set is a strict subset of 5's
    val buf = java.nio.ByteBuffer.wrap(p5)
    buf.getInt(); buf.getInt()
    var keepEnd = 8
    for (f <- 0 until 4) { // frames 0..3 (samples 0 and 3)
      val len = buf.getInt()
      buf.position(buf.position() + len)
      keepEnd = buf.position()
    }
    val clipped = java.nio.ByteBuffer.allocate(keepEnd)
    clipped.putInt(0x47564944).putInt(4)
      .put(java.util.Arrays.copyOfRange(p5, 8, keepEnd))
    val vids = Seq(
      (1L, p5), (2L, p5),                 // exact re-label
      (3L, clipped.array()),              // trimmed copy of 5
      (9L, p8)                            // unrelated
    ).toDF("media_id", "payload")
    val out = Video.videoNearDup(vids, 0.5, 100).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out.contains((1L, 2L)) &&
      out((1L, 2L)).getAs[Double]("overlap") == 1.0)
    assert(out.contains((1L, 3L)) &&
      out((1L, 3L)).getAs[Double]("overlap") == 1.0,
      s"clipped copy must hit via min(|A|,|B|): ${out.keySet}")
    assert(!out.keys.exists { case (a, b) => a == 9L || b == 9L })
  }

  test("m06 band join finds exactly the brute-force hamming pairs") {
    val r = 3
    val hs = Multimodal.phashTable(Multimodal.mediaTable(spark, dir))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(hs.length > 10)
    val expect = (for {
      (a, alo, ahi) <- hs
      (b, blo, bhi) <- hs
      if a < b
      d = java.lang.Long.bitCount(alo ^ blo) +
        java.lang.Long.bitCount(ahi ^ bhi)
      if d <= r
    } yield (a, b, d)).toSet
    assert(expect.nonEmpty, "test corpus must contain near-dup images")
    val got = Multimodal.phashDedup(spark, dir, r).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  test("d19 semantic clusters: components match a local union-find " +
      "over the d05 pair graph, sizes and keepers consistent") {
    val pairs = Dedup.embeddingDedup(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.nonEmpty, "sf0.001 must have cosine pairs")
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(v => v -> find(v)).toMap
    val got = Dedup.semanticClusters(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (v, row) =>
      assert(row.getAs[Long]("component_id") == expect(v),
        s"vec $v: ${row.getAs[Long]("component_id")} vs ${expect(v)}")
      assert(row.getAs[Int]("is_kept") ==
        (if (expect(v) == v) 1 else 0))
    }
    // sizes: each component's size equals its member count
    val bySize = expect.values.groupBy(identity).view.mapValues(_.size)
    got.foreach { case (v, row) =>
      assert(row.getAs[Long]("cluster_size") == bySize(expect(v)).toLong)
    }
  }

  test("m11 dhash: band join equals brute force; a smooth exposure " +
      "ramp keeps dHash at 0 where aHash drifts past the radius") {
    import spark.implicits._
    val r = 3
    val hs = Multimodal.dhashTable(Multimodal.mediaTable(spark, dir))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(hs.length > 10)
    val expect = (for {
      (a, alo, ahi) <- hs
      (b, blo, bhi) <- hs
      if a < b
      d = java.lang.Long.bitCount(alo ^ blo) +
        java.lang.Long.bitCount(ahi ^ bhi)
      if d <= r
    } yield (a, b, d)).toSet
    val got = Multimodal.dhashDedup(spark, dir, r).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
    // planted re-render: strong column structure + a smooth exposure
    // ramp — every adjacent-sample comparison survives (dHash 0) but
    // many samples cross the global mean (aHash drifts)
    def png(v: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 16)
        img.getRaster.setSample(x, y, 0, v(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val colv = Seq(60, 190, 70, 180, 110, 150, 90, 170, 100, 160, 80,
      185, 105, 155, 65, 175)
    val media = Seq(
      (1L, png((x, _) => colv(x))),
      (2L, png((x, y) => math.min(255, colv(x) + y * 3 + x * 2))))
      .toDF("media_id", "payload")
    def ham(t: org.apache.spark.sql.DataFrame): Int = {
      val m = t.collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2))).toMap
      java.lang.Long.bitCount(m(1L)._1 ^ m(2L)._1) +
        java.lang.Long.bitCount(m(1L)._2 ^ m(2L)._2)
    }
    assert(ham(Multimodal.dhashTable(media)) == 0, "dHash invariant")
    assert(ham(Multimodal.phashTable(media)) > r, "aHash drifts")
  }

  test("m06 hashes flag corrupt payloads and dedup excludes them") {
    val media = Multimodal.mediaTable(spark, dir)
    val garbage = lit("not a png".getBytes("US-ASCII"))
    val tampered = media.withColumn("payload",
      when(col("media_id") === 1L, garbage).otherwise(col("payload")))
    val hs = Multimodal.phashTable(tampered)
    assert(hs.count() == media.count())
    val bad = hs.filter(col("_corrupt") === 1).collect()
    assert(bad.map(_.getLong(0)).toSet == Set(1L))
    assert(bad.forall(_.isNullAt(1)))
  }

  test("p02 curation: every stage filters; survivors pack contiguously") {
    import graft.operators.CorpusPipeline
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("p02").toString
    def uniq(n: Int, off: Int) =
      (1 to n).map(i => s"tok${off + i}").mkString(" ")
    Seq(
      (1L, uniq(24, 0), "en", "a", 0L),          // passes
      (2L, uniq(24, 100), "en", "a", 0L),        // passes
      (3L, uniq(24, 200), "en", "a", 0L),        // passes; cap=2 drops one
      (4L, uniq(24, 0), "en", "a", 0L),          // dup of 1 → dedup drops
      (5L, Seq.fill(24)("dup").mkString(" "), "en", "b", 0L), // dup2 ≈ 1
      (6L, uniq(20, 300) + " # # # #", "en", "b", 0L), // symbols 4/24
      (7L, "short doc", "en", "b", 0L)           // n_words < 20
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = CorpusPipeline
      .curate(spark, tmp, cap = 2, nShards = 2, seqLen = 10).collect()
    val ids = out.map(_.getLong(0)).toSet
    assert(ids.subsetOf(Set(1L, 2L, 3L)), s"survivors $ids")
    assert(out.length == 2, "per-source cap must bite")
    assert(!ids.contains(4L))
    out.foreach(r => assert(r.getInt(2) == 24, "n_tok of a 24-token doc"))
    // packing: per shard, offsets are the contiguous cumsum in id order
    out.groupBy(_.getLong(3)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(0))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(4) == 24L * i, s"start_off ${r.toSeq}")
        assert(r.getLong(5) == 24L * i / 10)       // first_seq
        assert(r.getLong(6) == (24L * (i + 1) - 1) / 10) // last_seq
      }
    }
  }

  test("p03 ingest: quality gate, index + in-batch admission, packing") {
    import graft.operators.CorpusPipeline
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("p03").toString
    def uniq(n: Int, off: Int) =
      (1 to n).map(i => s"tok${off + i}").mkString(" ")
    // index = doc_id % 10 != 7; arrivals = % 10 == 7
    Seq(
      (1L, uniq(24, 0), "en", "a", 0L),            // existing corpus
      (2L, uniq(24, 100), "en", "a", 0L),          // existing corpus
      (7L, uniq(24, 0).toUpperCase, "en", "b", 0L), // index dup (folded)
      (17L, uniq(24, 200), "en", "b", 0L),         // admitted
      (27L, "short doc", "en", "b", 0L),           // quality gate drops
      (37L, uniq(24, 200), "en", "c", 0L),         // in-batch dup of 17
      (47L, uniq(24, 300), "en", "c", 0L)          // admitted
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = CorpusPipeline.ingest(spark, tmp).collect()
    assert(out.map(_.getLong(0)).toSet == Set(17L, 47L), out.mkString(";"))
    // 17 and 47 land in different shards (id mod 8) → both start at 0
    out.foreach { r =>
      assert(r.getInt(2) == 24)
      assert(r.getLong(4) == 0L && r.getLong(5) == 0L && r.getLong(6) == 0L)
    }
  }

  test("p07 release manifest composes d13 packing and t04 checksums") {
    import graft.operators.CorpusPipeline
    val man = CorpusPipeline.p07ReleaseManifest(spark, dir).collect()
      .map(r => r.getAs[Long]("shard") -> r).toMap
    val pack = graft.operators.Sampling.sequencePack(spark, dir).collect()
    val byShard = pack.groupBy(_.getAs[Long]("shard"))
    assert(man.keySet == byShard.keySet)
    byShard.foreach { case (sh, rows) =>
      val m = man(sh)
      assert(m.getAs[Long]("n_docs") == rows.length, m.toString)
      val tokens = rows.map(_.getAs[Int]("n_tok").toLong).sum
      assert(m.getAs[Long]("n_tokens") == tokens, m.toString)
      // ceil(total/512) = the packing's last chunk index + 1
      assert(m.getAs[Long]("n_seqs") ==
        rows.map(_.getAs[Long]("last_seq")).max + 1, m.toString)
      assert(m.getAs[Long]("pad_tokens") ==
        m.getAs[Long]("n_seqs") * 512 - tokens, m.toString)
    }
    // checksum = order-free sum of t04's full-text fingerprints
    val ck = graft.text.TextFns.fingerprint(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id") % 8)
      .view.mapValues(_.collect {
        case r if !r.isNullAt(r.fieldIndex("fp_full")) =>
          r.getAs[Long]("fp_full")
      }.sum).toMap
    man.foreach { case (sh, m) =>
      assert(m.getAs[Long]("checksum") == ck(sh), m.toString)
    }
  }

  test("p04 data card: exact planted statistics per source") {
    import graft.operators.CorpusPipeline
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("p04spec").toString
    def txt(k: Int) = Seq.fill(k)("x").mkString(" ")
    // docs 0..8 have 1..9 tokens; doc 9 duplicates doc 8's text; langs
    // 6 en / 4 de → top_lang en @ 0.6, dup_frac 0.1, deciles 1/5/9
    val rows = (0 until 9).map(k => (k.toLong, txt(k + 1),
        if (k < 6) "en" else "de", "sA", 0L)) :+
      (9L, txt(9), "de", "sA", 0L)
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = CorpusPipeline.p04DataCard(spark, tmp).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("source") == "sA")
    assert(r.getAs[Long]("n_docs") == 10L)
    assert(r.getAs[Long]("n_tokens") == 54L)
    assert(r.getAs[Double]("avg_tokens4") == 5.4)
    assert(r.getAs[Long]("p10_tok") == 1L)
    assert(r.getAs[Long]("p50_tok") == 5L)
    assert(r.getAs[Long]("p90_tok") == 9L)
    assert(r.getAs[String]("top_lang") == "en")
    assert(r.getAs[Double]("top_lang_share4") == 0.6)
    assert(r.getAs[Double]("dup_frac4") == 0.1)
  }

  test("p01 pipeline keeps only en docs above quality with unique content") {
    import graft.operators.CorpusPipeline
    val kept = CorpusPipeline.prepare(spark, dir).collect()
    assert(kept.nonEmpty)
    assert(kept.forall(_.getString(1) == "en"))
    assert(kept.forall(_.getDouble(2) >= 0.5))
    // no two kept docs share normalized content
    import org.apache.spark.sql.functions.{col, md5}
    val keptIds = kept.map(_.getLong(0)).toSet
    val hashes = Tables.documents(spark, dir)
      .filter(col("doc_id").isin(keptIds.toSeq: _*))
      .select(md5(graft.dedup.Dedup.normText(col("text")))).collect()
      .map(_.getString(0))
    assert(hashes.length == hashes.distinct.length)
  }

  test("t04 fingerprints: identical docs share fp, distinct docs differ") {
    val fps = graft.text.TextFns.fingerprint(spark, plantedDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(4L))
  }

  test("t09 pii redact: planted emails/phones counted and replaced") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("pii").toString
    // 7 → email, 11 → phone, 77 → both, 3 → clean
    Seq(7L, 11L, 77L, 3L).map(id => (id, "hello world", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.text.TextFns.piiRedact(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(7L).getAs[Int]("n_emails") == 1 && out(7L).getAs[Int]("n_phones") == 0)
    assert(out(11L).getAs[Int]("n_emails") == 0 && out(11L).getAs[Int]("n_phones") == 1)
    assert(out(77L).getAs[Int]("n_pii") == 2)
    assert(out(3L).getAs[Int]("n_pii") == 0)
    out.values.foreach { r =>
      val red = r.getAs[String]("redacted")
      assert(!red.contains("@example.com") && !red.contains("415-555-"))
    }
    assert(out(77L).getAs[String]("redacted").contains("<EMAIL>"))
    assert(out(77L).getAs[String]("redacted").contains("<PHONE>"))
  }

  test("t10 ngram repetition: dup fractions are exact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("rep").toString
    Seq(
      (1L, "a b a b a b", "en", "s", 11L), // bigrams 3/5 dup, trigrams 2/4
      (2L, "w x y z", "en", "s", 7L)       // all distinct → 0.0
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.text.TextFns.ngramRepetition(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(math.abs(out(1L).getAs[Double]("dup_bigram_frac") - 0.6) < 1e-9)
    assert(math.abs(out(1L).getAs[Double]("dup_trigram_frac") - 0.5) < 1e-9)
    assert(out(2L).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(out(2L).getAs[Double]("dup_trigram_frac") == 0.0)
  }

  test("t11/m07 are shuffle-free row-local scans") {
    val t11 = graft.text.TextFns.gopherQuality(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!t11.contains("hashpartitioning"), t11)
    val m07 = graft.multimodal.Audio.qSegment(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!m07.contains("hashpartitioning"), m07)
  }

  test("m10 exposure: planted dark/bright/flat/split images bin exactly, " +
      "corrupt flagged, plan shuffle-free") {
    import spark.implicits._
    def png(v: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 16)
        img.getRaster.setSample(x, y, 0, v(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, png((_, _) => 5)),              // crushed shadows
      (2L, png((_, _) => 250)),            // blown highlights
      (3L, png((_, _) => 128)),            // flat gray
      (4L, png((x, y) => if ((x + y) % 2 == 0) 0 else 255)), // full range
      (5L, Array[Byte](1, 2, 3)))          // garbage
      .toDF("media_id", "payload")
    val out = Multimodal.exposure(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_under") == 256 &&
      out(1L).getAs[Long]("n_over") == 0)
    assert(out(2L).getAs[Long]("n_over") == 256)
    assert(out(3L).getAs[Int]("px_min") == 128 &&
      out(3L).getAs[Int]("px_max") == 128)
    assert(out(4L).getAs[Long]("n_under") == 128 &&
      out(4L).getAs[Long]("n_over") == 128 &&
      out(4L).getAs[Int]("px_max") - out(4L).getAs[Int]("px_min") == 255)
    assert(out(5L).getAs[Int]("_corrupt") == 1, "garbage flags, not throws")
    // the graded query agrees with the closed-form pixel function
    val q = Multimodal.qExposure(spark, dir).collect()
    assert(q.length == 500)
    q.take(20).foreach { r =>
      val id = r.getLong(0)
      val w = 8 + (id % 25).toInt
      val h = 8 + ((id * 7) % 25).toInt
      var s = 0L; var nu = 0L; var no = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = (id * 31 + x * 7 + y * 13) % 256
        s += v; if (v < 32) nu += 1; if (v >= 224) no += 1
      }
      assert(r.getAs[Long]("mean_l6") == s * 1000000L / (w * h), r.toString)
      assert(r.getAs[Long]("n_under") == nu && r.getAs[Long]("n_over") == no)
    }
    val plan = Multimodal.qExposure(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), plan)
  }

  test("m09 audio near-dup: planted re-uploads at overlap 1.0; corrupt tolerated") {
    import graft.multimodal.Audio
    val out = Audio.audioNearDup(spark, dir).collect()
    // exactly the planted (id, id+10000) re-encodings — a doubled
    // rate header and a 3/5 trim change every payload byte, yet the
    // min-denominator overlap over lossless frame fingerprints is 1.0
    val expected = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 0).count()
    assert(out.length == expected, s"${out.length} vs $expected")
    out.foreach { r =>
      val a = r.getAs[Long]("id_a")
      assert(r.getAs[Long]("id_b") == a + 10000L && a % 10 == 0, r.toString)
      assert(r.getAs[Double]("overlap") == 1.0, r.toString)
      assert(r.getAs[Long]("n_b") < r.getAs[Long]("n_a"), r.toString)
    }
    // corrupt-payload policy: a garbage payload is skipped, the true
    // pair in the same table is still found
    import spark.implicits._
    val tbl = Seq((1L, Audio.wavBytes(1L)),
      (2L, Array[Byte](1, 2, 3)),
      (10001L, Audio.wavBytes(1L)))
      .toDF("media_id", "payload")
    val dup = Audio.audioNearDup(tbl, 0.5, 100).collect()
    assert(dup.length == 1 && dup.head.getAs[Long]("id_a") == 1L &&
      dup.head.getAs[Long]("id_b") == 10001L, dup.mkString("; "))
  }

  test("t12 source KL: identical mix scores exactly 0; off-mix source dominates") {
    import graft.text.TextFns
    import spark.implicits._
    // single-source corpus: p_s == p term-for-term, so every 1e-9
    // term floors to exactly 0
    val tmp1 = java.nio.file.Files.createTempDirectory("t12a").toString
    Seq((0L, "aa bb aa cc", "en", "sA", 0L), (1L, "aa bb dd", "en", "sA", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp1/documents.parquet")
    val one = TextFns.sourceKl(spark, tmp1).collect()
    assert(one.length == 1 && one.head.getAs[Long]("kl9") == 0L,
      one.mkString("; "))
    // majority source ≈ corpus mix (small |KL|); tiny disjoint-vocab
    // source diverges hard
    val tmp2 = java.nio.file.Files.createTempDirectory("t12b").toString
    val major = (0 until 9).map(i =>
      (i.toLong, "aa bb aa cc dd aa bb", "en", "big", 0L))
    val odd = Seq((9L, "zz yy zz xx zz", "en", "odd", 0L))
    (major ++ odd).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    val kl = TextFns.sourceKl(spark, tmp2).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("kl9")).toMap
    assert(kl("odd") > 10 * math.abs(kl("big")), kl.toString)
    assert(kl("odd") > 0L, kl.toString)
  }

  test("t11 gopher rules: planted bullets/ellipses/symbols measured exactly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("gopher").toString
    Seq(
      // 60 words of the/data/and: in every bound, 2 required stops → pass
      (1L, Seq.fill(20)("the data and").mkString(" "), "en", "s", 0L),
      // 4 lines, 3 bullets
      (2L, "- one\n- two\n- three\nplain", "en", "s", 0L),
      // both lines end in '...'; 3 ellipses over 4 words
      (3L, "wait... what...\nno more... ", "en", "s", 0L),
      // no alphabetic words, one '#'
      (4L, "# 123 456 789 000", "en", "s", 0L),
      // CRLF terminators: line counts must match the \n-only doc 2
      (5L, "- one\r\n- two\r\n- three\r\nplain", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.text.TextFns.gopherQuality(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("n_words") == 60)
    assert(out(1L).getAs[Int]("n_req_stops") == 2)
    assert(out(1L).getAs[Int]("gopher_pass") == 1)
    assert(out(2L).getAs[Double]("bullet_line_frac") == 0.75)
    assert(out(2L).getAs[Int]("gopher_pass") == 0) // too short
    assert(out(3L).getAs[Double]("ellipsis_line_frac") == 1.0)
    assert(out(3L).getAs[Double]("symbol_word_ratio") == 0.75)
    assert(out(4L).getAs[Double]("alpha_word_frac") == 0.0)
    assert(out(4L).getAs[Double]("symbol_word_ratio") == 0.2)
    assert(out(4L).getAs[Int]("gopher_pass") == 0)
    assert(out(5L).getAs[Double]("bullet_line_frac") == 0.75,
      "CRLF doc counts lines like its LF twin")
  }

  test("d08 decontaminate: train docs sharing a benchmark trigram are flagged") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("decon").toString
    Seq(
      (20L, "alpha beta gamma delta", "en", "s", 22L), // benchmark doc
      (1L, "x alpha beta gamma y", "en", "s", 20L),    // shares a trigram
      (2L, "p q r s t u", "en", "s", 11L)              // disjoint
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.dedup.Decontaminate.contaminated(spark, tmp).collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L)
    assert(out.head.getAs[Long]("n_shared") == 1L)
    assert(out.head.getAs[String]("example_gram") == "alpha beta gamma")
    // clean(): the contaminated doc and the bench slice are gone, the
    // disjoint doc survives with its full row intact
    val kept = graft.dedup.Decontaminate.clean(spark, tmp).collect()
    assert(kept.map(_.getLong(0)).toSet == Set(2L))
    assert(kept.head.getAs[String]("text") == "p q r s t u")
  }

  test("d08 external-benchmark overload scrubs against a disjoint " +
      "eval table") {
    import spark.implicits._
    // the benchmark is a genuinely SEPARATE table — ids overlap the
    // train side (1L) to prove only the bench n-gram SET matters
    val train = Seq(
      (1L, "x alpha beta gamma y"),
      (2L, "p q r s t u"),
      (3L, "delta epsilon zeta eta")).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta epsilon zeta theta")).toDF("doc_id", "text")
    val out = graft.dedup.Decontaminate.contaminated(train, bench, 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_shared")).toMap
    assert(out == Map(1L -> 1L, 3L -> 1L), out.toString)
    val kept = graft.dedup.Decontaminate.clean(train, bench, 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("d10 containment finds a doc embedded in a larger one that " +
      "Jaccard misses") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("contain").toString
    val small = (1 to 10).map(i => s"w$i").mkString(" ")
    val big = small + " " + (11 to 60).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, small, "en", "s", small.length.toLong),
      (2L, big, "en", "s", big.length.toLong),
      (3L, "completely unrelated text here", "en", "s", 30L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.ngramContainment(spark, tmp).collect()
    // doc 1's 9 bigrams all occur in doc 2 → containment 1.0, one
    // DIRECTIONAL row; doc 2 is not contained in doc 1
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("doc_contained") == 1L &&
      p.getAs[Long]("doc_container") == 2L)
    assert(p.getAs[Double]("containment") == 1.0)
    assert(p.getAs[Long]("n_contained") == 9L)
    // symmetric Jaccard (9 / 59) structurally misses the same pair
    assert(Dedup.ngramJaccard(spark, tmp).collect().isEmpty)
  }

  test("s08 kNN graph: agrees with s01 on the probe nodes, k rows each, " +
      "no cartesian") {
    val g = Ann.knnGraph(spark, dir)
    val rows = g.collect()
    val byNode = rows.groupBy(_.getAs[Long]("node_id"))
    assert(byNode.values.forall(_.length == 5))
    assert(rows.forall(r =>
      r.getAs[Long]("node_id") != r.getAs[Long]("nbr_id")))
    // the graph restricted to s01's query nodes IS s01's answer
    val s01 = Ann.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos6"))).sorted
    val sub = rows.filter(_.getAs[Long]("node_id") < 10)
      .map(r => (r.getAs[Long]("node_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("nbr_id"), r.getAs[Double]("cos6"))).sorted
    assert(sub.sameElements(s01))
    val plan = g.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("d17 edit-distance dedup: exact distance on a planted edit pair") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("editdup").toString
    val a = "the quick brown fox jumps over the lazy dog near the river"
    // two substitutions: fox -> fax, dog -> dig
    val b = "the quick brown fax jumps over the lazy dig near the river"
    val other = "completely unrelated content with disjoint vocabulary only"
    Seq(
      (1L, a, "en", "s", a.length.toLong),
      (2L, b, "en", "s", b.length.toLong),
      (3L, other, "en", "s", other.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.editDistanceDedup(spark, tmp).collect()
    assert(pairs.length == 1, pairs.mkString(";"))
    val p = pairs.head
    assert(p.getAs[Long]("doc_a") == 1L && p.getAs[Long]("doc_b") == 2L)
    assert(p.getAs[Int]("dist") == 2, p.toString)
    assert(p.getAs[Int]("len_a") == a.length && p.getAs[Int]("len_b") == b.length)
    val sim = math.floor((1.0 - 2.0 / a.length) * 1e6 + 0.5) / 1e6
    assert(p.getAs[Double]("sim6") == sim, p.toString)
  }

  test("d15 incremental dedup admits only novel arrivals") {
    import spark.implicits._
    val base = (0 until 12).map(i => s"tok$i").mkString(" ")
    // last-word edit: 11-bigram sets share 10 → J = 10/12 ≈ 0.833 ≥ 0.8
    val near = base.replace("tok11", "altered")
    val index = Seq(
      (1L, base),
      (2L, "completely different material about engines and pipelines")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (101L, base.toUpperCase),                                 // exact vs index (normalized)
      (103L, near),                                             // near-dup of index doc 1
      (105L, "the quick brown fox jumps over a lazy dog today"), // novel
      (107L, "the quick brown fox jumps over a lazy dog today")  // exact dup of 105 within batch
    ).toDF("doc_id", "text")
    val out = graft.dedup.Incremental.incrementalDedup(index, batch, 0.8, 100)
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(101L, 103L, 105L, 107L))
    assert(rows(101L).getAs[Int]("exact_index") == 1 &&
      rows(101L).getAs[Int]("kept") == 0)
    // exact dups never reach the near tier — flags stay 0/null
    assert(rows(101L).getAs[Int]("near_dup") == 0 &&
      rows(101L).isNullAt(rows(101L).fieldIndex("max_jaccard")))
    assert(rows(103L).getAs[Int]("near_dup") == 1 &&
      rows(103L).getAs[Long]("n_near") == 1L &&
      math.abs(rows(103L).getAs[Double]("max_jaccard") - 10.0 / 12) < 1e-12 &&
      rows(103L).getAs[Int]("kept") == 0)
    assert(rows(105L).getAs[Int]("kept") == 1)
    assert(rows(107L).getAs[Int]("exact_batch") == 1 &&
      rows(107L).getAs[Int]("kept") == 0)
    // no all-pairs anywhere: equi-keyed candidate join only
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // the composable artifact admits exactly the novel doc
    val admitted = graft.dedup.Incremental.admit(index, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(105L))
  }

  test("d08 plan: train side streams into the join with no pre-join shuffle") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val df = graft.dedup.Decontaminate.contaminated(spark, dir)
    val lp = df.queryExecution.optimizedPlan
    val join = lp.collect { case j: Join => j }.head
    // the train side is the one carrying doc_id; the bench side's
    // distinct Aggregate is intended (it is the broadcast-sized suite)
    val trainSide = Seq(join.left, join.right)
      .find(_.output.exists(_.name == "doc_id")).get
    assert(trainSide.collect { case a: Aggregate => a }.isEmpty,
      s"train side aggregates (= shuffles) before the join:\n$lp")
    // physical: AQE picks a broadcast join for the MB-sized gram set,
    // so the exploded corpus streams scan→join with no exchange at all
    df.collect()
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"gram-set join did not broadcast:\n$phys")
  }

  test("t03 bpe tokens: greedy longest-match segmentation is exact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe").toString
    Seq(
      // "the"(vocab) = 1; "table" = t + able = 2            -> 3
      (1L, "the table", "en", "s", 9L),
      // "spark" = s + p + ar + k = 4; "2024" = 20 + 2 + 4 = 3 -> 7
      (2L, "spark 2024", "en", "s", 10L),
      (3L, "", "en", "s", 0L) // no words -> 0
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.text.TextFns.tokenCount(spark, tmp)
      .select("doc_id", "bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 7L, 3L -> 0L))
    // longest-match beats any shorter prefix: "ing" (3) not "in" (2)
    val one = Seq((9L, "sing", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp2 = java.nio.file.Files.createTempDirectory("bpe2").toString
    one.write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    val sing = graft.text.TextFns.tokenCount(spark, tmp2)
      .select("bpe_tokens").head().getLong(0)
    assert(sing == 2L, s"sing = s + ing, got $sing") // not s+in+g = 3
  }

  test("p12 media card: metrics equal direct component aggregates") {
    val dir = "/root/testdata/sf0.001"
    val card = graft.operators.CorpusPipeline.p12MediaCard(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(card.size == 10)
    val img = graft.multimodal.Multimodal.q(spark, dir)
    assert(card(("image", "n_assets")) == img.count())
    val px = img.agg(sum(col("width").cast("long") * col("height")))
      .head.getLong(0)
    assert(card(("image", "total_px")) == px)
    val au = graft.multimodal.Audio.q(spark, dir)
    assert(card(("audio", "n_assets")) == au.count())
    assert(card(("audio", "total_duration_ms")) ==
      au.agg(sum(col("duration_ms"))).head.getLong(0))
  }

  test("d20 source overlap: exact pair matrix incl. zero rows") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("d20").toString
    // sa/sb share exactly ONE 8-gram (the a1..a8 prefix); sc disjoint
    val a8 = (1 to 8).map(i => s"a$i").mkString(" ")
    Seq((0L, s"$a8 x1 x2", "en", "sa", 10L),
      (1L, s"$a8 y1 y2", "en", "sb", 10L),
      (2L, (1 to 9).map(i => s"c$i").mkString(" "), "en", "sc", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.dedup.Dedup.d20SourceOverlap(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 3, out.keySet.toString) // full spine, zeros kept
    val ab = out(("sa", "sb"))
    assert(ab.getAs[Long]("n_grams_a") == 3L &&
      ab.getAs[Long]("n_grams_b") == 3L &&
      ab.getAs[Long]("n_shared") == 1L, ab.toString)
    assert(ab.getAs[Long]("jaccard6") == 200000L &&
      ab.getAs[Long]("containment6") == 333333L, ab.toString)
    assert(out(("sa", "sc")).getAs[Long]("n_shared") == 0L)
    assert(out(("sb", "sc")).getAs[Long]("containment6") == 0L)
  }

  test("p11 dedup funnel: per-stage attribution on a planted corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("p11").toString
    // 19 shared words -> 18 bigrams; doc1 = exact copy of doc0;
    // doc2 = doc0 + 6-word tail (containment 1.0, Jaccard 18/24 = .75);
    // doc3 swaps the last two words (16 shared bigrams of 18 each:
    // Jaccard 16/20 = .8 exactly, containment 16/18 = .889 < .9);
    // doc4 unrelated
    val base = (1 to 19).map(i => s"a$i").mkString(" ")
    val d2 = base + " " + (1 to 6).map(i => s"b$i").mkString(" ")
    val d3 = (1 to 17).map(i => s"a$i").mkString(" ") + " c1 c2"
    Seq((0L, base, "en", "s", base.length.toLong),
      (1L, base, "en", "s", base.length.toLong),
      (2L, d2, "en", "s", d2.length.toLong),
      (3L, d3, "en", "s", d3.length.toLong),
      (4L, "zz yy xx ww vv", "en", "s", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.operators.CorpusPipeline.p11DedupFunnel(spark, tmp)
      .collect().map(r => r.getInt(0) -> r).toMap
    // exact flags {1}; containment flags {0,1} (0<->1 mutual, 0->2,
    // 1->2); jaccard flags {1,3} — so new-per-stage is 1/1/1
    def chk(st: Int, nf: Long, nn: Long, cum: Long): Unit = {
      val r = out(st)
      assert(r.getAs[Long]("n_flagged") == nf &&
        r.getAs[Long]("n_new") == nn &&
        r.getAs[Long]("cum_removed") == cum &&
        r.getAs[Long]("survivors") == 5L - cum, s"stage $st: $r")
    }
    chk(1, 1L, 1L, 1L)
    chk(2, 2L, 1L, 2L)
    chk(3, 2L, 1L, 3L)
  }
  test("s11 LOF: a point off a tight cluster scores high, the cluster " +
    "scores ~1, duplicate clusters are NULL not infinite") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("s11spec").toString
    def e(i: Int, v: Array[Float]) = (i.toLong, v, i)
    // 8-point jittered cluster along axis 0, one orthogonal outlier
    val cluster = (0 until 8).map { i =>
      e(i, Array(1f, 0.01f * i, 0.005f * ((i % 3) + 1), 0f))
    }
    val rows = cluster :+ e(99, Array(0f, 0f, 0f, 1f))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = graft.similarity.Ann.s11Lof(spark, tmp)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 9)
    val outlier = out(99L)
    assert(outlier.getAs[Int]("outlier_flag") == 1 &&
      outlier.getAs[Long]("lof6") > 1500000L, outlier.toString)
    (0L until 8L).foreach { i =>
      val r = out(i)
      assert(r.getAs[Int]("outlier_flag") == 0 &&
        math.abs(r.getAs[Long]("lof6") - 1000000L) < 500000L, r.toString)
    }
    // all-identical cluster: zero distances -> NULL lrd/LOF, flag 0
    val dup = (0 until 6).map(i => e(i, Array(1f, 0f, 0f, 0f)))
    dup.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val d = graft.similarity.Ann.s11Lof(spark, tmp).collect()
    assert(d.length == 6)
    d.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("lrd9")) &&
        r.isNullAt(r.fieldIndex("lof6")) &&
        r.getAs[Int]("outlier_flag") == 0, r.toString)
    }
  }

  test("d21 Bloom admission: no false negatives by construction, " +
    "planted duplicate is caught, FPR stays tiny at m=2^20") {
    import spark.implicits._
    // planted: batch doc 7 duplicates (normalized) index doc 10
    val index = Seq((10L, "Shared   Boilerplate\tText"),
      (12L, "unique corpus material one"),
      (14L, "unique corpus material two")).toDF("doc_id", "text")
      .select(col("doc_id"),
        md5(graft.dedup.Dedup.normText(col("text"))).as("h"))
    val batch = Seq((7L, "shared boilerplate text"),
      (17L, "novel arrival alpha"),
      (27L, "novel arrival beta")).toDF("doc_id", "text")
      .select(col("doc_id"),
        md5(graft.dedup.Dedup.normText(col("text"))).as("h"))
    val out = graft.dedup.BloomAdmission.bloomAdmission(index, batch)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(7L).getAs[Int]("bloom_hit") == 1 &&
      out(7L).getAs[Int]("exact_dup") == 1 &&
      out(7L).getAs[Int]("admitted") == 0, out(7L).toString)
    // on the real corpus: exact_dup = 1 implies bloom_hit = 1 (no
    // false negatives), and false positives are rare at this load
    val full = graft.dedup.BloomAdmission
      .d21BloomAdmission(spark, dir).collect()
    assert(full.nonEmpty)
    full.foreach { r =>
      if (r.getAs[Int]("exact_dup") == 1)
        assert(r.getAs[Int]("bloom_hit") == 1, r.toString)
      assert(r.getAs[Int]("admitted") ==
        (if (r.getAs[Int]("bloom_hit") == 1) 0 else 1), r.toString)
    }
    val fpr = full.count(_.getAs[Int]("false_positive") == 1).toDouble /
      math.max(1, full.count(_.getAs[Int]("exact_dup") == 0))
    assert(fpr < 0.05, s"false-positive rate $fpr")
  }

  test("s12 kNN PageRank: a planted hub everyone points at tops the " +
      "ranking, and the full vector replays the integer recursion") {
    import spark.implicits._
    // star in cosine space: v0 = e0; vi = e0 + 0.3*ei so cos(vi, v0)
    // beats cos(vi, vj) — every node's nearest neighbour is the hub
    val dim = 10
    val vecs = (0 until 9).map { i =>
      val a = Array.fill(dim)(0.0f)
      a(0) = 1.0f
      if (i > 0) a(i) = 0.3f
      (i.toLong, a.toSeq, 0)
    }
    val tmp = java.nio.file.Files.createTempDirectory("s12spec").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = Ann.s12KnnPagerank(spark, tmp).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("pagerank9"))
      .toMap
    assert(out.size == 9)
    assert(out(0L) == out.values.max, out.toString)
    assert(out.values.forall(_ > 0), out.toString)
    // exact integer replay from the graph's edge list
    val edges = Ann.knnGraph(spark, tmp).collect()
      .map(r => (r.getAs[Long]("node_id"), r.getAs[Long]("nbr_id")))
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length }
    val n = 9L
    val r0 = 1000000000L / n
    val tele = 15L * r0 / 100L
    var r = (0L until n).map(_ -> r0).toMap
    for (_ <- 1 to 5) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / deg(u) }.sum
      }
      r = (0L until n).map(v =>
        v -> (tele + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    (0L until n).foreach(v =>
      assert(out(v) == r(v), s"node $v: ${out(v)} vs ${r(v)}"))
  }

  test("p15 embedding card: every cell recounts from the component " +
      "outputs (labels, LOF flags, PageRank argmax, d05 pairs)") {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val lof = Ann.s11Lof(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("outlier_flag"))
      .toMap
    val pr = Ann.s12KnnPagerank(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("pagerank9"))
      .toMap
    val dup = Dedup.embeddingDedup(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    val out = graft.operators.CorpusPipeline.p15EmbeddingCard(spark, dir)
      .collect()
    assert(out.map(_.getAs[Int]("label")).toSet == labels.values.toSet)
    out.foreach { r =>
      val lab = r.getAs[Int]("label")
      val members = labels.collect { case (v, l) if l == lab => v }.toSeq
      assert(r.getAs[Long]("n_vecs") == members.size, r.toString)
      val outl = members.map(v => lof.getOrElse(v, 0).toLong).sum
      assert(r.getAs[Long]("n_outliers") == outl, r.toString)
      assert(r.getAs[Long]("outlier_rate6") == math.floor(
        outl.toDouble / members.size * 1e6 + 0.5).toLong, r.toString)
      val top = members.map(v => (v, pr(v)))
        .minBy { case (v, p) => (-p, v) }
      assert(r.getAs[Long]("top_central_vec_id") == top._1 &&
        r.getAs[Long]("top_pagerank9") == top._2, r.toString)
      val dp = dup.count { case (a, b) =>
        labels(a) == lab && labels(b) == lab }
      assert(r.getAs[Long]("dup_pairs") == dp, r.toString)
    }
  }

  test("a warm corpus + report round compiles no generated classes") {
    import graft.operators.{CorpusPipeline, TickerAnomaly}
    import org.apache.spark.metrics.source.CodegenMetrics
    // the round plans more distinct generated classes than Spark's
    // default 100-entry cache holds: with it, every warm round
    // recompiled 156 of them
    def round(): Unit = {
      CorpusPipeline.curate(spark, dir).collect()
      MinHashLSH.nearDupPairs(spark, dir).collect()
      Ann.semDedup(spark, dir).collect()
      TickerAnomaly.report(spark, dir).collect()
    }
    round()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"the warm round compiled $compiled classes")
  }
}
