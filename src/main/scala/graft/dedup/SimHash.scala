package graft.dedup

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** d03: SimHash near-duplicate detection.
  *
  * 60-bit SimHash per document: each distinct token votes ±1 on every
  * bit of its 60-bit hash; the signature takes the sign of each bit
  * sum. Near-dups are pairs within Hamming distance `maxHamming`,
  * found by the pigeonhole trick: split the signature into 4 chunks —
  * any pair within distance 3 must agree on at least one chunk, so the
  * candidate join is on (chunk index, chunk value), never O(n²).
  *
  * Signature construction is ROW-LOCAL: tokens never leave their row —
  * the native `simhash_pack` expression folds each token hash's ±1 bit
  * votes in one pass (vs the earlier exploded token table + 60-column
  * aggregation buffer per doc, which shuffled every token of the
  * corpus). The only shuffle left is the candidate chunk join.
  *
  * The per-token hash is d21/d02's explicit md5 digest₆₀ (first 15
  * hex chars as a long) rather than engine-seeded xxhash64, so the
  * votes, signature, chunking and Hamming verdicts all replay in ANSI
  * SQL — the entry is fully oracle-backed (graduated from the
  * rows-only class like d02/s02/st11 before it).
  */
object SimHash {

  val Bits = 60
  val Chunks = 4
  val ChunkBits = Bits / Chunks // 15

  /** Per-doc signature: sign of the per-bit ±1 vote sums over the
    * distinct-token md5-digest₆₀ values, packed into one long —
    * computed entirely inside the row.
    */
  def signatures(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.simhash_pack(
          transform(array_distinct(split(Dedup.normText(col("text")), " ")),
            t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")),
          Bits).as("simhash"))

  def nearDupPairs(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < Chunks,
      s"pigeonhole candidate generation with $Chunks chunks only " +
        s"guarantees recall for hamming < $Chunks (got $maxHamming)")
    // materialized once (localCheckpoint, NOT cache: no CacheManager
    // entry to leak across the session; blocks are GC-reclaimed when
    // the query's RDD goes out of scope), referenced by both join sides
    val sigs = signatures(s, dir).localCheckpoint()
    // chunk value = bits [c*15, (c+1)*15)
    val withChunks = sigs.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until Chunks).map(c =>
        shiftrightunsigned(col("simhash"), c * ChunkBits)
          .bitwiseAND(lit((1L << ChunkBits) - 1))): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "ch_val")
    val cand = withChunks.as("x")
      .join(withChunks.as("y"),
        col("x.chunk") === col("y.chunk") &&
          col("x.ch_val") === col("y.ch_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.simhash").as("sig_a"),
        col("y.doc_id").as("doc_b"), col("y.simhash").as("sig_b"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def q(s: SparkSession, dir: String): DataFrame = nearDupPairs(s, dir)
}
