package graftbench

import java.lang.management.ManagementFactory
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line options of one benchmark run. `work` is a scratch
  * directory owned by this run: generated tables, Spark local dirs and
  * the streaming checkpoint all live under it.
  */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, "options come in --name value pairs")
    val kv = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"unexpected argument $k")
      k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val seconds = need("seconds").toDouble
    require(seconds > 0, "--seconds must be positive")
    Opts(need("workload"), need("seed").toLong, seconds,
      kv.getOrElse("trace", "0") match {
        case "0" => false
        case "1" => true
        case t => sys.error(s"--trace takes 0 or 1, not $t")
      },
      need("work"), need("cores").toInt)
  }
}

/** One metric as printed: name, measured value and unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run reports. `attempted` counts operations (or
  * events, for the stream); `failed` counts those that failed or whose
  * output check did not hold. `notes` are human-readable lines printed
  * before the result.
  */
final case class Result(attempted: Long, failed: Long,
    metrics: Seq[Metric], notes: Seq[String])

trait Workload {
  def run(o: Opts): Result
}

object Rng {
  /** A generator for item `k` of stream `stream` under `seed`: the same
    * triple always gives the same draws, on any thread.
    */
  def of(seed: Long, stream: Long, k: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + k)
}

object Time {
  val DayUs: Long = 86400L * 1000000L
  val HourUs: Long = 3600L * 1000000L

  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Per-key medians of per-operation measurements. */
  def medians(per: Seq[Map[String, Double]]): Map[String, Double] =
    per.head.keys.map(k => k -> median(per.map(_(k)))).toMap
}

object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** Cumulative collection time of every collector, ms. */
  def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after a full collection, MB. The first collection
    * lets Spark's context cleaner drop the blocks, shuffles and
    * broadcasts of dead plans; the second, after it has had time to,
    * frees them.
    */
  def heapLiveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Session {
  /** The engine's tuned session (graft.GraftSession) on `local[cores]`,
    * with the shuffle width sized to the cores and every scratch write
    * kept under the run's work directory.
    */
  def build(o: Opts): SparkSession = {
    val s = graft.GraftSession.builder(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Executes every row and column of `df` without keeping it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Closed loop with one client: the next operation starts when the
  * previous one has returned. `op` runs one timed operation and returns
  * whether its output checks held; a full GC between operations
  * (outside the timing) samples the live heap.
  */
final class ClosedLoop {
  val latencyMs = ArrayBuffer.empty[Double]
  val heapMb = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L

  /** Runs `op` until `seconds` have passed, at least `minOps` times. */
  def run(seconds: Double, minOps: Int)(op: () => Boolean): Unit = {
    // every timed operation, the first too, starts after a full GC, so
    // none pays for the garbage of the warm-up
    Jvm.heapLiveMb()
    val t0 = System.nanoTime()
    var n = 0
    while (n < minOps || Jvm.secondsSince(t0) < seconds) {
      val s = System.nanoTime()
      val ok = try op() catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"operation failed: $e")
          false
      }
      latencyMs += (System.nanoTime() - s) / 1e6
      attempted += 1
      if (!ok) failed += 1
      heapMb += Jvm.heapLiveMb()
      n += 1
    }
  }

  def note: String =
    s"operations $attempted, failed $failed, failed_frac ${failed.toDouble / attempted}, " +
      s"latencies ms ${latencyMs.map(x => f"$x%.0f").mkString(" ")}"

  def endToEnd(setupS: Double, recall: Double): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("latency_p50_ms", Stats.median(latencyMs.toSeq), "ms"),
    Metric("latency_p99_ms", Stats.quantile(latencyMs.toSeq, 0.99), "ms"),
    Metric("heap_live_mb", Stats.median(heapMb.toSeq), "MB"),
    Metric("recall", recall, "ratio"))
}
