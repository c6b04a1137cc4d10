package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One traced interval: a call into a graft module, made by the
  * benchmark. `op` groups the spans of one operation; `parent` is the
  * enclosing span (-1 at the top). `gcMs` is JVM collection time inside
  * the interval.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, gcMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task counters summed over the Spark jobs a span submitted. */
final class Counters {
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val runTimeMs = new AtomicLong
  val tasks = new AtomicLong
  val jobs = new AtomicLong
}

/** Spans around calls into graft's public functions, kept in memory and
  * written out at the end. A Spark listener attributes task counters to
  * the span that was open when the job was submitted, through a local
  * property that jobs inherit from the submitting thread.
  */
final class Tracer(spark: SparkSession) {
  private val Key = "graftbench.span"
  private val spans = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Stack.empty[Int]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private var nextId = 0
  private var opId = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { id =>
        e.stageIds.foreach(stageSpan.put(_, id.toInt))
        counters.computeIfAbsent(id.toInt, _ => new Counters).jobs.incrementAndGet()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobsEnded.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (stageSpan.containsKey(e.stageId) && m != null) {
        val c = counters.computeIfAbsent(stageSpan.get(e.stageId), _ => new Counters)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.runTimeMs.addAndGet(m.executorRunTime)
        c.tasks.incrementAndGet()
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Starts a new operation; later spans carry its id. */
  def nextOp(): Int = { opId += 1; opId }

  /** Times `body` as span `name`, nested in the currently open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(Key)
    val parent = open.headOption.getOrElse(-1)
    sc.setLocalProperty(Key, id.toString)
    open.push(id)
    val gc0 = Jvm.gcMs()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans += Span(id, name, parent, opId, t0, t1, Jvm.gcMs() - gc0)
      open.pop()
      sc.setLocalProperty(Key, before)
    }
  }

  /** Records an interval measured elsewhere (e.g. a streaming batch). */
  def record(name: String, startNs: Long, endNs: Long): Unit = {
    spans += Span(nextId, name, open.headOption.getOrElse(-1), opId,
      startNs, endNs, 0L)
    nextId += 1
  }

  /** Waits until the listener has seen the end of every job it saw
    * start, so counters are complete. Bounded at five seconds.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var stableSince = System.nanoTime()
    var last = -1L
    while (System.nanoTime() < deadline &&
        (jobsEnded.get != jobsStarted.get ||
          System.nanoTime() - stableSince < 200000000L)) {
      val now = jobsStarted.get
      if (now != last) { last = now; stableSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Task counters of the jobs `s` submitted (zeros if none). */
  def countersOf(s: Span): Counters =
    Option(counters.get(s.id)).getOrElse(new Counters)

  /** Writes every span as one JSON object per line. */
  def write(path: String): Unit = {
    drain()
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f)
    try spans.foreach { s =>
      val c = countersOf(s)
      w.println(
        s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"gc_ms":${s.gcMs},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes.get},"spill_bytes":${c.spillBytes.get},""" +
        s""""run_time_ms":${c.runTimeMs.get},"tasks":${c.tasks.get},"jobs":${c.jobs.get}}""")
    } finally w.close()
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

/** Every per-layer metric, in one place so each traced run prints all
  * of them. A layer a workload does not call reads 0: the benchmark
  * predicts no effect there, and the zero is what the listener saw.
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "sources.events_scan_s" -> "s",
    "sources.bytes_read" -> "bytes",
    "session.plan_ms" -> "ms",
    "operators.row_data_self_s" -> "s",
    "operators.detrended_self_s" -> "s",
    "operators.stats_self_s" -> "s",
    "operators.zscored_self_s" -> "s",
    "operators.repetitions_self_s" -> "s",
    "operators.flags_self_s" -> "s",
    "operators.report_self_s" -> "s",
    "operators.shuffle_bytes" -> "bytes",
    "operators.spill_bytes" -> "bytes",
    "operators.exchanges" -> "count",
    "operators.core_busy_frac" -> "ratio",
    "streaming.batch_ms_p50" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms",
    "streaming.state_rows" -> "rows",
    "streaming.state_mem_bytes" -> "bytes",
    "streaming.rows_per_batch" -> "rows",
    "streaming.backlog_max_events" -> "events",
    "streaming.generator_late_max_ms" -> "ms",
    "text.curate_s" -> "s",
    "text.kept_frac" -> "ratio",
    "functions.minhash_signatures_s" -> "s",
    "dedup.lsh_pairs_s" -> "s",
    "dedup.pairs_out" -> "count",
    "dedup.neardup_recall" -> "ratio",
    "similarity.semdedup_s" -> "s",
    "similarity.semdup_recall" -> "ratio",
    "jvm.gc_s" -> "s",
    "trace.overhead_ms" -> "ms")

  /** All per-layer metrics, taking measured values from `measured` and
    * 0 for layers the workload does not call.
    */
  def metrics(measured: Map[String, Double]): Seq[Metric] = {
    val unknown = measured.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    units.map { case (n, u) => Metric(n, measured.getOrElse(n, 0.0), u) }
  }
}
