package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Local testing runs `local[32]` on one JVM; the settings below are the
  * ones that also matter on a real cluster: AQE (runtime re-planning +
  * skew-join splitting), a shuffle partition count sized to the
  * parallelism actually available, UTC session time, and a broadcast
  * threshold large enough that every dimension table in the star schema
  * broadcasts instead of shuffling.
  *
  * It also sizes Spark's generated-class cache. That cache is JVM-wide:
  * `CodeGenerator` builds it once, from the
  * `spark.sql.codegen.cache.maxEntries` of the session that first
  * generates code, and later sessions cannot resize it. At Spark's
  * default of 100 entries (LRU), one corpus operation (curate, near-dup
  * pairs and SemDeDup plan ~120 distinct classes) evicts what its next
  * call needs, and every call recompiles them. Every graft entry
  * point (`Verify`, `Bench`, the specs, the `perfbench` harness) builds
  * its session here, so the size set below is the one the JVM keeps.
  *
  * It also registers the streaming checkpoint file manager, for the
  * same reason: a query's offset and commit logs and its state store
  * read `spark.sql.streaming.checkpointFileManagerClass` from the
  * session that runs it, so only the builder reaches every entry
  * point. [[graft.streaming.GraftCheckpointFileManager]] writes `file:`
  * checkpoints without the processes Hadoop starts on a JVM without
  * `libhadoop` (a `readlink` per side of every rename, a `chmod` per
  * created file: together most of a `ticker_stream` micro-batch) and
  * leaves every other scheme to Spark's own choice.
  */
object GraftSession {
  def builder(master: String = "local[32]"): SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(new GraftExtensions)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // events.ts is parquet TIMESTAMP(NANOS); read as raw int64 once,
      // session-wide, instead of mutating the conf per Tables.events call
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // a name, not classOf: batch-only sessions load no streaming class
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.GraftCheckpointFileManager")

  def get(master: String = "local[32]"): SparkSession = {
    val s = builder(master).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
