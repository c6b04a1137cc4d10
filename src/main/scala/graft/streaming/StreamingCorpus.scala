package graft.streaming

import graft.Tables
import graft.dedup.Dedup
import graft.text.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import StreamRunner.{collect, stagedStream}

/** st07: the corpus-prep pipeline (p01) as a STREAM — documents arrive
  * continuously, get language-ID'd, token-counted, and deduplicated on
  * normalized-content hash inside the stream. This is the ingest shape
  * of a continuously-fed training-data pipeline: all features are
  * row-local codegen'd expressions (no shuffle on the feature pass),
  * and the only stateful operator is the digest `dropDuplicates`.
  *
  * Determinism: which PHYSICAL row survives dedup depends on arrival
  * order, so the projection keeps only columns that are functions of
  * the normalized text (hash, language, token count) — identical for
  * every duplicate, hence a deterministic result set with a plain
  * SELECT DISTINCT oracle. On an unbounded feed the dedup state would
  * carry a watermark (as st03 does); the staged corpus is bounded.
  */
object StreamingCorpus {

  /** The driver's documents.parquet is a single file; the file stream
    * source needs a directory, so stage a copy once (gated on
    * _SUCCESS, like the events stage).
    */
  private def stageDocs(s: SparkSession, dir: String): java.io.File = {
    val staged = new java.io.File(
      s"${StreamingAnomaly.StageRoot}/" +
        s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_docs")
    if (!new java.io.File(staged, "_SUCCESS").exists()) {
      Tables.documents(s, dir).write.mode("overwrite")
        .parquet(staged.getAbsolutePath)
    }
    staged
  }

  /** Bench warm-up hook — see StreamingAnomaly.ensureStaged. */
  def ensureStaged(s: SparkSession, dir: String): Unit = {
    stageDocs(s, dir)
    stageEmb(s, dir)
  }

  def st07StreamCorpus(s: SparkSession, dir: String): DataFrame = {
    val norm = Dedup.normText(col("text"))
    val dedup = stagedStream(s, dir, Tables.documents(s, dir).schema,
        stageDocs(s, dir))
      .select(
        md5(norm).as("norm_hash"),
        TextFns.predictedLangCol(col("text")).as("predicted_lang"),
        TextFns.reTokensCol(col("text")).as("re_tokens"))
      .dropDuplicates("norm_hash")
    collect(s, "st07", dedup).orderBy(col("norm_hash"))
  }

  /** st12: streaming ADMISSION — d15's exact tier as the stream it is
    * in production: arrivals flow continuously and each doc is admitted
    * only if its normalized digest is in neither the EXISTING corpus
    * index (stream-static LEFT ANTI join against the maintained digest
    * table) nor the stream's own history (digest `dropDuplicates`
    * state). The graded entry streams the doc_id % 10 == 7 slice
    * (d15's synthetic arrivals) against the rest as the index.
    *
    * Determinism (st07's posture): which physical row survives depends
    * on arrival order, so the projection keeps only digest-functional
    * columns — the admitted SET is deterministic with a plain SQL
    * oracle.
    *
    * Scale shape: the feature pass is row-local; the anti join's
    * static side re-executes per micro-batch (Spark's stream-static
    * contract), so at corpus scale the index digest table must be the
    * PERSISTED artifact d15's two-DataFrame API maintains — bucketed
    * parquet read once into cache, or compacted to an approximate
    * pre-filter (Bloom) with the exact anti join behind it. The
    * in-stream dedup state is one digest per ADMITTED doc (hits never
    * enter state), watermark-evictable on an unbounded feed (st03).
    */
  def st12StreamAdmission(s: SparkSession, dir: String): DataFrame = {
    val norm = Dedup.normText(col("text"))
    val index = Tables.documents(s, dir)
      .filter(col("doc_id") % 10 =!= 7)
      .select(md5(norm).as("norm_hash")).distinct()
    val admitted = stagedStream(s, dir, Tables.documents(s, dir).schema,
        stageDocs(s, dir))
      .filter(col("doc_id") % 10 === 7)
      .select(md5(norm).as("norm_hash"),
        TextFns.reTokensCol(col("text")).as("re_tokens"))
      .join(index, Seq("norm_hash"), "left_anti")
      .dropDuplicates("norm_hash")
    collect(s, "st12", admitted).orderBy(col("norm_hash"))
  }

  /** The embeddings table staged as a directory for the file stream
    * source (stageDocs' gate).
    */
  private def stageEmb(s: SparkSession, dir: String): java.io.File = {
    val staged = new java.io.File(
      s"${StreamingAnomaly.StageRoot}/" +
        s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_emb")
    if (!new java.io.File(staged, "_SUCCESS").exists()) {
      Tables.embeddings(s, dir).write.mode("overwrite")
        .parquet(staged.getAbsolutePath)
    }
    staged
  }

  /** st40: streaming VECTOR ADMISSION — s13's IVF-PQ index served
    * LIVE, the similarity pillar's batch/live asymmetry closed: in
    * production the index is rebuilt on a cadence but vectors arrive
    * continuously, so each arrival must be admitted per-print against
    * the FROZEN banks of the last build — coarse-assigned to its
    * inverted list and residual-PQ-encoded to its 8 codes — and
    * appended to the code lists s13's ADC scan reads.
    *
    * Plan shape: the frozen banks ([[graft.similarity.Ann
    * .ivfPqCodebooks]] — the exact 'km'/'pqr'-seeded chains s13
    * trains, parameter-sized) embed as LITERAL arrays, so the whole
    * encode is row-local expressions: cid = the argmin of
    * norm2 − 2·v·c + |c|² over 16 literal centroids (Ann.argminOver's
    * interpreted fold — s13's tie-to-smaller-cid), residual by one
    * zip_with against the cid-selected literal, each subspace's code
    * the same argmin over 16 literal codewords. ZERO state, zero
    * shuffle, no stream-static join — per-print cost is m·codes
    * native array_dot calls on length-(64/m) slices. Admission
    * ordering is irrelevant (the encode is a pure function of the
    * frozen banks), so the output SET is deterministic with a batch
    * SQL oracle: LlmOracle.st40 replays training + encode and filters
    * to the streamed slice. Training-set membership of an arrival
    * does not change the encode path — the banks are frozen inputs.
    *
    * The graded entry streams the vec_id % 10 == 7 slice (st12's
    * arrival split) and emits one (vec_id, cid, m_idx, code) row per
    * subspace — the append shape the code lists consume.
    */
  def st40StreamVectorAdmit(s: SparkSession, dir: String): DataFrame = {
    val schema = Tables.embeddings(s, dir).schema
    val staged = stageEmb(s, dir)
    val arrivals = s.readStream
      .schema(schema)
      .parquet(staged.getAbsolutePath)
      .filter(col("vec_id") % 10 === 7)
    collect(s, "st40", st40Encode(s, dir, arrivals))
      .orderBy(col("vec_id"), col("m_idx"))
  }

  /** The row-local encode transform (shared by the memory-sink entry
    * and the file-sink restart path): arrivals (vec_id, embedding) →
    * (vec_id, cid, m_idx, code) appends against the frozen banks.
    */
  def st40Encode(s: SparkSession, dir: String,
      arrivals: DataFrame, m: Int = 8): DataFrame = {
    val dot = graft.dedup.Dedup.dot _
    val sub = 64 / m
    val (cents, cb) = graft.similarity.Ann.ivfPqCodebooks(s, dir, m = m)
    // Each bank is ONE typedlit array of (id, vector) structs and each
    // argmin ONE aggregate() fold over it (Ann.argminOver, the batch
    // index build's own fold) — an unrolled least() over
    // per-codeword (dist, id) structs inlined 16 literal vectors per
    // bank and pushed the stage past the 64 KB codegen method limit
    // (whole-stage codegen fell back to interpreted for the whole
    // plan). The fold keeps the earlier (smaller) id on ties —
    // exactly the batch min(struct(dist, id)) order — and the dist
    // chain inside the lambda is the bank-join chain verbatim.
    import graft.similarity.Ann.{argminOver, bankLit}
    val cidCol = argminOver(bankLit(cents.toSeq),
      c => col("norm2") - lit(2.0) * dot(col("v"), c) + dot(c, c))
    val centMap = typedlit(cents.map { case (cid, c) =>
      cid -> c.toSeq }.toMap)
    val cbByM = cb.groupBy(_._1)
    def codeCol(mi: Int): Column = {
      val sv = slice(col("rv"), mi * sub + 1, sub)
      val sn2 = dot(sv, sv)
      argminOver(bankLit(cbByM(mi).toSeq.map { case (_, code, cw) =>
        (code, cw) }),
        c => sn2 - lit(2.0) * dot(sv, c) + dot(c, c))
    }
    arrivals
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("norm2", dot(col("v"), col("v")))
      .withColumn("cid", cidCol)
      .withColumn("rv",
        zip_with(col("v"), element_at(centMap, col("cid")),
          (x, y) => x - y))
      .select(col("vec_id"), col("cid"),
        posexplode(array((0 until m).map(codeCol): _*)))
      .withColumnRenamed("pos", "m_idx")
      .withColumnRenamed("col", "code")
  }

  /** st40 into a fault-tolerant parquet sink with a durable
    * checkpoint: a later call with the same (path, checkpoint)
    * RESUMES — offsets skip committed source files and the sink's
    * file log keeps output exactly-once (the encode itself is
    * stateless, so restart-proofness is pure source/sink contract).
    * StreamingSpec proves resumed output equals a single run.
    */
  def st40ToFileSink(s: SparkSession, dir: String, arrivals: DataFrame,
      path: String, checkpoint: String): String =
    StreamRunner.toFileSink(s, st40Encode(s, dir, arrivals), path, checkpoint)
}
