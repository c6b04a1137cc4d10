package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.operators.AnomalyConfig
import graft.streaming.StreamingAnomaly
import graft.streaming.StreamingAnomaly.{Flagged, TickEvent}

/** The live feed: every ticker prints once per round, a round is one
  * day of event time, and rounds follow each other at the offered rate.
  * A backfill of `BackfillRounds` rounds gives every ticker a full
  * z-score window before the live rounds start. Planted: about 1% of
  * tickers stop printing after the second live round (only the timeout
  * path can flag them stale), 1% spike by 500 step deviations in the
  * middle round, 1% hold their value for four rounds just after it.
  */
final class Feed(seed: Long, tickers: Int, liveRounds: Int) {
  import Feed._
  val base: Long = TickerData.EvalUs
  private val kind = Array.tabulate(tickers) { k =>
    val p = Rng.of(seed, 11, k).nextDouble()
    if (p < 0.01) TickerData.Stale else if (p < 0.02) TickerData.Spike
    else if (p < 0.03) TickerData.Repeat else TickerData.Normal
  }
  private val order: Array[Int] = {
    val r = Rng.of(seed, 12, 0)
    val a = Array.range(0, tickers)
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val offsetUs = Array.tabulate(tickers)(k =>
    (Rng.of(seed, 13, k).nextDouble() * 50 * 60 * 1e6).toLong)
  private val step = Array.tabulate(tickers)(k => 0.5 + 1.5 * Rng.of(seed, 14, k).nextDouble())
  private val walk = Array.tabulate(tickers)(k => 20.0 + 80.0 * Rng.of(seed, 15, k).nextDouble())
  private val noise = Rng.of(seed, 16, 0)

  val staleFrom: Int = BackfillRounds + 2
  val spikeRound: Int = BackfillRounds + liveRounds / 2
  val repeatFrom: Int = spikeRound + 2
  val stale: Set[Int] = kind.indices.filter(kind(_) == TickerData.Stale).toSet

  /** Event ids whose output row must carry a flag, and which flag. */
  val mustFlag = scala.collection.mutable.Map.empty[Long, Int]

  private var round = 0
  private var pos = 0
  private var nextId = 0L
  private val held = new Array[Double](tickers)

  def emitted: Long = nextId

  /** The next `n` events in feed order. */
  def next(n: Int): Seq[TickEvent] = {
    val out = new ArrayBuffer[TickEvent](n)
    while (out.size < n) {
      if (pos == tickers) { pos = 0; round += 1 }
      val k = order(pos)
      pos += 1
      if (!(kind(k) == TickerData.Stale && round >= staleFrom)) {
        walk(k) += step(k) * noise.nextGaussian()
        var v = math.rint(walk(k) * 100.0) / 100.0
        if (kind(k) == TickerData.Spike && round == spikeRound) {
          v = math.rint((walk(k) + 500.0 * step(k)) * 100.0) / 100.0
          mustFlag(nextId) = TickerData.Spike
        }
        if (kind(k) == TickerData.Repeat) {
          if (round == repeatFrom - 1) held(k) = v
          if (round >= repeatFrom && round < repeatFrom + 4) v = held(k)
          if (round == repeatFrom + 2) mustFlag(nextId) = TickerData.Repeat
        }
        val us = base + round * Time.DayUs + offsetUs(k)
        out += TickEvent(nextId, Time.ts(us), k / 4L, TickerData.Types(k % 4), v)
        nextId += 1
      }
    }
    out.toSeq
  }
}

object Feed {
  val BackfillRounds = 32
  def key(userId: Long, eventType: String): Int =
    (userId * 4 + TickerData.Types.indexOf(eventType)).toInt
}

/** `ticker_stream`: StreamingAnomaly.st02Transform fed through an
  * in-memory source by one generator thread at a fixed offered rate
  * (open loop), into a foreachBatch sink owned by the benchmark. Every
  * event's alert latency runs from the time it was due at the
  * generator to the moment the batch carrying its output row has been
  * collected at the sink.
  */
object TickerStream extends Workload {
  val Tickers = 10000
  val Rate = 20000.0
  val WarmupS = 3.0
  val ChunkNs = 20000000L
  val Cfg: AnomalyConfig = TickerData.Cfg

  def run(o: Opts): Result = {
    val t0 = System.nanoTime()
    val spark = Session.build(o)
    val liveEvents = (Rate * (WarmupS + o.seconds)).toLong
    val liveRounds = (liveEvents / Tickers).toInt
    require(liveRounds >= 16,
      s"ticker_stream needs --seconds of at least ${16.0 * Tickers / Rate - WarmupS}")
    val feed = new Feed(o.seed, Tickers, liveRounds)
    val backfill = Feed.BackfillRounds.toLong * Tickers
    val total = backfill + liveEvents
    val seen = new Array[Byte](total.toInt)
    // written by the sink (the stream thread), read after the query stops
    val staleRows = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    val sdFlagged = scala.collection.mutable.Set.empty[Long]
    val repFlagged = scala.collection.mutable.Set.empty[Long]
    val sinkCount = new AtomicLong
    val latency = ArrayBuffer.empty[(Long, Double)]
    @volatile var liveStart = Long.MaxValue
    val nsPerEvent = 1e9 / Rate

    val sink: (Dataset[Flagged], Long) => Unit = (batch, _) => {
      val rows = batch.collect()
      val t = System.nanoTime()
      rows.foreach { r =>
        if (r.event_id >= 0) {
          val id = r.event_id.toInt
          if (seen(id) < 100) seen(id) = (seen(id) + 1).toByte
          if (r.stddev_flag == 1) sdFlagged += r.event_id
          if (r.repetition_flag == 1) repFlagged += r.event_id
          if (r.event_id >= backfill) {
            val due = liveStart + ((r.event_id - backfill) * nsPerEvent).toLong
            latency += ((due, (t - due) / 1e6))
          }
        } else if (r.staleness_flag == 1)
          staleRows(Feed.key(r.user_id, r.event_type)) += 1
      }
      sinkCount.addAndGet(rows.count(_.event_id >= 0))
    }

    val src = MemoryStream[TickEvent](1, spark, Some(o.cores))(Encoders.product[TickEvent])
    spark.conf.set("spark.sql.shuffle.partitions", (o.cores * 2).toString)
    val q = StreamingAnomaly.st02Transform(spark, src.toDF(), Cfg, 8.0)
      .writeStream
      .option("checkpointLocation", s"${o.work}/checkpoint")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch(sink)
      .start()
    src.addData(feed.next(backfill.toInt))
    q.processAllAvailable()

    // Generator: one thread, chunks every 20 ms, each chunk holding the
    // events due by its end; it never waits for the query.
    val late = ArrayBuffer.empty[(Long, Double)]
    val backlog = ArrayBuffer.empty[(Long, Long)]
    val start = System.nanoTime()
    liveStart = start
    val gen = new Thread(() => {
      var c = 1L
      while (feed.emitted < total) {
        val at = start + c * ChunkNs
        var now = System.nanoTime()
        while (now < at) {
          java.util.concurrent.locks.LockSupport.parkNanos(at - now)
          now = System.nanoTime()
        }
        late += ((at, math.max(0L, now - at) / 1e6))
        val due = math.min(total, backfill + ((at - start) / nsPerEvent).toLong)
        if (due > feed.emitted) src.addData(feed.next((due - feed.emitted).toInt))
        backlog += ((at, feed.emitted - sinkCount.get))
        c += 1
      }
    }, "graftbench-generator")
    gen.setDaemon(true)

    val mStart = start + (WarmupS * 1e9).toLong
    val mEnd = mStart + (o.seconds * 1e9).toLong
    val mMid = if (o.trace) mStart + (o.seconds * 0.5e9).toLong else mEnd
    // (progress, nanoTime when it arrived: the batch's end, near enough)
    val progress = ArrayBuffer.empty[(StreamingQueryProgress, Long)]
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += ((e.progress, System.nanoTime())) }
    }
    gen.start()
    def sleepUntil(t: Long): Unit = {
      val d = t - System.nanoTime()
      if (d > 0) Thread.sleep(d / 1000000L, (d % 1000000L).toInt)
    }
    sleepUntil(mStart)
    val setupS = Jvm.secondsSince(t0)
    sleepUntil(mMid)
    if (o.trace) spark.streams.addListener(listener)
    val gc0 = Jvm.gcMs()
    sleepUntil(mEnd)
    val gcS = (Jvm.gcMs() - gc0) / 1000.0
    if (o.trace) spark.streams.removeListener(listener)
    gen.join()
    q.processAllAvailable()
    val heap = Seq.fill(3)(Jvm.heapLiveMb())
    q.stop()

    // checks
    val generated = feed.emitted.toInt
    val notOnce = (0 until generated).count(i => seen(i) != 1)
    val found = feed.mustFlag.count { case (id, kind) =>
      if (kind == TickerData.Spike) sdFlagged(id) else repFlagged(id)
    } + feed.stale.count(staleRows(_) == 1)
    val wrongStale = staleRows.keys.count(!feed.stale(_))
    val planted = feed.mustFlag.size + feed.stale.size
    val attempted = generated.toLong + planted
    val failed = notOnce.toLong + (planted - found) + wrongStale
    val inWindow = latency.filter { case (d, _) => d >= mStart && d < mEnd }
    val lat = inWindow.map(_._2).toSeq
    val untraced = inWindow.filter(_._1 < mMid).map(_._2).toSeq
    val traced = inWindow.filter(_._1 >= mMid).map(_._2).toSeq
    val lateMax = late.filter(l => l._1 >= mStart && l._1 < mEnd).map(_._2).maxOption.getOrElse(0.0)
    val backlogMax = backlog.filter(b => b._1 >= mStart && b._1 < mEnd).map(_._2).maxOption.getOrElse(0L)
    val notes = Seq(
      s"tickers $Tickers, offered ${Rate.toLong} events/s, backfill $backfill events, " +
        s"live $liveEvents events over $liveRounds rounds, latency samples ${lat.size}",
      s"generator late max ${lateMax} ms, backlog max $backlogMax events",
      f"events not emitted exactly once $notOnce, planted flagged $found/$planted, " +
        f"stale rows for live tickers $wrongStale, failed_frac ${failed.toDouble / attempted}%.6f")
    val metrics =
      if (!o.trace) Seq(
        Metric("setup_s", setupS, "s"),
        Metric("latency_p50_ms", Stats.median(lat), "ms"),
        Metric("latency_p99_ms", Stats.quantile(lat, 0.99), "ms"),
        Metric("heap_live_mb", Stats.median(heap), "MB"),
        Metric("recall", found.toDouble / planted, "ratio"))
      else {
        val ps = progress.synchronized(progress.map(_._1).toSeq)
        def med(f: StreamingQueryProgress => Double) =
          if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
        def dur(k: String)(p: StreamingQueryProgress) =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        val st = (p: StreamingQueryProgress) => p.stateOperators.head
        val tr = tracer.get
        progress.synchronized(progress.toSeq).foreach { case (p, end) =>
          tr.record(s"streaming.batch", end - (dur("triggerExecution")(p) * 1e6).toLong, end)
        }
        tr.close()
        tr.write(s"${o.work}/../traces/ticker_stream-seed${o.seed}.jsonl")
        Layers.metrics(Map(
          // the batch's incremental execution: analysis is done once at
          // start, optimization and physical planning again every batch
          "session.plan_ms" -> med(dur("queryPlanning")),
          "streaming.batch_ms_p50" -> med(dur("triggerExecution")),
          "streaming.add_batch_ms" -> med(dur("addBatch")),
          "streaming.query_planning_ms" -> med(dur("queryPlanning")),
          "streaming.wal_commit_ms" -> med(dur("walCommit")),
          "streaming.state_commit_ms" -> med(p => st(p).commitTimeMs.toDouble),
          "streaming.state_rows" -> med(p => st(p).numRowsTotal.toDouble),
          "streaming.state_mem_bytes" -> med(p => st(p).memoryUsedBytes.toDouble),
          "streaming.rows_per_batch" -> med(_.numInputRows.toDouble),
          "streaming.backlog_max_events" -> backlogMax.toDouble,
          "streaming.generator_late_max_ms" -> lateMax,
          "jvm.gc_s" -> gcS,
          "trace.overhead_ms" -> (Stats.median(traced) - Stats.median(untraced))))
      }
    Result(attempted, failed, metrics, notes)
  }
}
