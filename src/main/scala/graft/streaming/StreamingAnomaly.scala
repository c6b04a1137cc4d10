package graft.streaming

import graft.FixedPoint.{eventUs, fromLimbs, longAt, putLong, scale4,
  toLimbs, usOf, windowStartUs}
import graft.operators.AnomalyConfig
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import StreamRunner.{collect, pinStatePartitions, stagedStream}

/** Structured Streaming operators (SURVEY.md §2D) — the streaming
  * rendering of the ticker pipeline, which is what the reference's
  * daily BigQuery batch becomes when run continuously.
  *
  * Every entry runs the events parquet through a real `readStream` →
  * `writeStream` graph driven by [[StreamRunner]], which owns the state
  * sizing and both sinks; the stateful detectors share one keyed-state
  * prelude ([[keyed]]), and the per-key staleness-segment detectors
  * one fold ([[segments]]), so such an entry is its per-event step
  * plus its output projection ([[eventRows]]).
  */
// Serializable: closures over this module's defs (e.g. the segment
// fold's call to inOrder) capture MODULE$ as the lambda receiver;
// the module carries no meaningful state, so serializing it is free
object StreamingAnomaly extends Serializable {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** Staging-layout version for the /tmp stream-stage caches: bump
    * whenever the staged BYTES for the same source dir can change
    * (v2 = the Tables.load TIMESTAMP_NTZ normalization — a pre-fix
    * stage written from NTZ frames must not be reused against the
    * TimestampType eventSchema). Without the version in the path, the
    * _SUCCESS gate would pin the stale copy forever.
    */
  val StageRoot = "/tmp/graft_stream_stage/v2"

  /** One-time staging of the µs-timestamp events copy the streaming
    * readers consume. Gated on _SUCCESS: a bare directory check would
    * reuse a partial write left by a killed JVM forever.
    */
  private def stageEvents(s: SparkSession, dir: String): java.io.File = {
    val staged = new java.io.File(
      s"$StageRoot/${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    if (!new java.io.File(staged, "_SUCCESS").exists()) {
      graft.Tables.events(s, dir).write.mode("overwrite")
        .parquet(staged.getAbsolutePath)
    }
    staged
  }

  /** One-time staging of the st06 copy with the watermark-flush
    * sentinel row appended (see st06SessionWindow).
    */
  private def stageFlush(s: SparkSession, dir: String): java.io.File = {
    val staged = new java.io.File(
      s"$StageRoot/${dir.replaceAll("[^a-zA-Z0-9]", "_")}_flush")
    if (!new java.io.File(staged, "_SUCCESS").exists()) {
      val ev = graft.Tables.events(s, dir)
      val sentinel = ev.sparkSession.range(1)
        .select(lit(-1L).as("event_id"),
          (max_ts(ev) + expr("INTERVAL 10 DAYS")).as("ts"),
          lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
          lit(0.0).as("value"), lit(null).cast("string").as("props"))
      ev.unionByName(sentinel).write.mode("overwrite")
        .parquet(staged.getAbsolutePath)
    }
    staged
  }

  /** Pre-stage both streaming copies — bench warm-up calls this so the
    * per-query timings measure the query, not the one-time staging
    * write it happens to trigger first.
    */
  def ensureStaged(s: SparkSession, dir: String): Unit = {
    stageEvents(s, dir)
    stageFlush(s, dir)
    // warm the state-partition key estimate here (one cached scan per
    // dir) so the harness's FIRST timed streaming entry measures its
    // operator, not the one-time derivation
    pinStatePartitions(s, dir)
  }

  /** Events as a file stream over the staged µs copy. */
  private def eventStream(s: SparkSession, dir: String): DataFrame =
    stagedStream(s, dir, eventSchema, stageEvents(s, dir))

  /** st01: sliding-window aggregation with a watermark — events per
    * (6h window, event_type) with value sums.
    */
  def st01WindowAgg(s: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
    // Update mode: the watermark can evict closed windows (Complete
    // would pin every window forever); the staged source arrives as one
    // micro-batch so the memory table still holds each group once.
    collect(s, "st01", agg, OutputMode.Update)
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** st03: streaming deduplication — `dropDuplicates` keyed on the
    * content identity with a watermark bounding the dedup state (the
    * streaming half of d01: late duplicates beyond the watermark age
    * out of state instead of growing it forever).
    */
  def st03StreamDedup(s: SparkSession, dir: String): DataFrame = {
    val dedup = eventStream(s, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "value")
      // project to the dedup key only: WHICH physical row survives
      // depends on shuffle arrival order (nondeterministic across
      // runs), but the surviving key set is exactly the distinct keys
      .select(col("user_id"), col("event_type"), col("value"))
    collect(s, "st03", dedup)
      .orderBy(col("user_id"), col("event_type"), col("value"))
  }

  /** st04: stream-stream interval join — click-to-purchase
    * attribution: each purchase joined to the same user's clicks in
    * the preceding hour. Both streams carry watermarks plus the
    * time-range predicate, which is exactly what lets Spark bound the
    * join state on both sides (rows older than watermark + interval
    * are evicted).
    */
  def st04StreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val purchases = eventStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("user_id"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    val clicks = eventStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
        col("user_id").as("click_user"))
      .withWatermark("click_ts", "2 hours")
    val joined = purchases.join(
      clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("purchase_value"), col("click_id"), col("click_ts"))
    collect(s, "st04", joined).orderBy(col("purchase_id"), col("click_id"))
  }

  /** st05: stream-static join — the streaming events enriched against
    * a static broadcast dimension (customer), then aggregated per
    * (segment, event_type). The static side is re-planned per
    * micro-batch (so a dim refresh is picked up) and broadcast, so the
    * stream side never shuffles for the join — the canonical
    * enrichment shape for a 100 TB/day event feed.
    */
  def st05StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = eventStream(s, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .withWatermark("ts", "1 hour")
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
    collect(s, "st05", enriched, OutputMode.Update)
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** st06: streaming sessionization — `session_window` with a 30-min
    * gap per user (the streaming rendering of q32). Sessions merge
    * while successive events are < gap apart; window end = last event
    * + gap. State per key is one open session, closed and emitted once
    * the watermark passes its end — bounded regardless of stream
    * length.
    */
  def st06SessionWindow(s: SparkSession, dir: String): DataFrame = {
    // Session windows only support Append mode, which emits a session
    // when the watermark passes its end — so stage a copy of events
    // with one far-future sentinel row (user_id = -1). The sentinel
    // drags the watermark past every real session's end (the no-data
    // micro-batch after the file batch then flushes them all); its own
    // open session stays in state and is never emitted.
    // NOTE: the sentinel must reach the watermark node (do not filter
    // it stream-side) — its session simply never closes, so it never
    // reaches the sink; the batch-side filter below is belt-and-braces.
    val agg = stagedStream(s, dir, eventSchema, stageFlush(s, dir))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,6)")).cast("double")
          .as("session_value"))
    collect(s, "st06", agg)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"),
        col("session_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Scalar max(ts) as a literal column (driver-side, one tiny scan of
    * the stats footer) — used only to place the st06 sentinel.
    */
  private def max_ts(ev: DataFrame): org.apache.spark.sql.Column =
    lit(ev.agg(max(col("ts"))).head().getTimestamp(0))

  case class TickEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** The stateful prelude of every event detector: the event columns,
    * the 1 h watermark, events grouped by `key` and folded through
    * `update` in Append mode. On an event-time timeout Spark drops each
    * input row at or below the watermark before `update` runs, and the
    * first batch's watermark is 0, so an event before 1970 would vanish
    * without a trace: the grouping key, which sees every row first,
    * fails the query on one instead ([[FixedPoint.eventUs]]).
    */
  private[streaming] def keyed[K: Encoder, S: Encoder, U: Encoder](
      stream: DataFrame,
      timeout: GroupStateTimeout = GroupStateTimeout.EventTimeTimeout)(
      key: TickEvent => K)(
      update: (K, Iterator[TickEvent], GroupState[S]) => Iterator[U])
      : Dataset[U] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .withWatermark("ts", "1 hour")
      .as[TickEvent]
      .groupByKey(
        if (timeout != GroupStateTimeout.EventTimeTimeout) key
        else { e => eventUs(e.ts, e.event_id); key(e) })
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update)
  }

  /** [[keyed]] per ticker: state keyed on (user_id, event_type). */
  private[streaming] def perTicker[S: Encoder, U: Encoder](
      stream: DataFrame,
      timeout: GroupStateTimeout = GroupStateTimeout.EventTimeTimeout)(
      update: ((Long, String), Iterator[TickEvent], GroupState[S])
        => Iterator[U]): Dataset[U] = {
    val spark = stream.sparkSession
    import spark.implicits._
    keyed(stream, timeout)(e => (e.user_id, e.event_type))(update)
  }

  private[streaming] type Ticker = (Long, String)

  /** The rows a keyed fold emits for one key in one call. */
  private[streaming] type Out[U] =
    scala.collection.mutable.Builder[U, Vector[U]]

  /** One key's events of a micro-batch in (event-time µs, event_id)
    * order: the in-order contract every per-key fold relies on.
    */
  private def inOrder(events: Iterator[TickEvent]): Seq[TickEvent] =
    events.toSeq.sortBy(e => (usOf(e.ts), e.event_id))

  /** One event of a [[segments]] fold: `v4` is the event's value on
    * the 1e-4 grid, `prev` the open segment's state (None when `e`
    * starts a segment). Appends the event's rows to `out` and returns
    * the segment's next state. A trait rather than a function type so
    * `v4` stays an unboxed long.
    */
  private[streaming] trait Step[K, S, U] extends Serializable {
    def apply(key: K, e: TickEvent, v4: Long, prev: Option[S],
        out: Out[U]): S
  }

  /** The staleness-segment fold of the per-key detectors: each key's
    * events form segments, and a segment ends when the key is quiet
    * longer than `staleDays` of event time. Both ways of seeing that
    * quiet period run the same `close(key, state, out)`:
    *  - the watermark passes the segment's last event + `staleDays`
    *    (EventTimeTimeout): close, then remove the key's state, so key
    *    churn on an unbounded feed cannot grow the state store;
    *  - an arriving event lies more than `staleDays` after the last
    *    one: close, then `step` starts a fresh segment at that event.
    * So a timeout and an in-data gap emit identical rows. Per batch the
    * fold sorts the key's events into (µs, event_id) order, scales each
    * value to the 1e-4 grid (failing the query on a value with no grid
    * point, see [[FixedPoint.scale4]]), and stores the state and its
    * timeout once. Timeout arithmetic is ms-floor, as Spark's watermark
    * is (ms-floor(max event ts) − delay, firing on strict <).
    * `lastUs` reads a stored state's last event µs.
    */
  private[streaming] def segments[K, S, U](staleDays: Double,
      lastUs: S => Long,
      close: (K, S, Out[U]) => Unit = (_: K, _: S, _: Out[U]) => ())(
      step: Step[K, S, U]): (K, Iterator[TickEvent], GroupState[S])
        => Iterator[U] = {
    val staleUs = (staleDays * 86400e6).toLong
    val staleMs = (staleDays * 86400e3).toLong
    (key, events, state) => {
      val out = Vector.newBuilder[U]
      if (state.hasTimedOut) {
        close(key, state.get, out)
        state.remove()
      } else {
        var cur = state.getOption
        var last = cur.fold(0L)(lastUs)
        inOrder(events).foreach { e =>
          val us = usOf(e.ts)
          if (cur.isDefined && us - last > staleUs) {
            close(key, cur.get, out)
            cur = None
          }
          cur = Some(step(key, e, scale4(e.value, key, e.event_id), cur, out))
          last = us
        }
        state.update(cur.get)
        state.setTimeoutTimestamp(Math.floorDiv(last, 1000L) + staleMs)
      }
      out.result().iterator
    }
  }

  /** A per-event detector's output: the key columns, `event_id`, `ts`
    * as `date_recorded`, then `cols`, ordered by key, time and
    * event_id.
    */
  private def eventRows(s: SparkSession, entry: String, ds: Dataset[_],
      key: Seq[String] = Seq("user_id", "event_type"))(
      cols: String*): DataFrame =
    collect(s, entry, ds)
      .select(((key :+ "event_id").map(col) ++
        (col("ts").as("date_recorded") +: cols.map(col))): _*)
      .orderBy((key ++ Seq("date_recorded", "event_id")).map(col): _*)

  /** st02's per-ticker baseline, shared by st30 and st35. `diffs` is
    * the window of |diffs| between consecutive prints on the 1e-4
    * grid, newest first, as longs packed 8 bytes each
    * ([[FixedPoint.longAt]]). A binary field, not an `Array[Long]`:
    * Spark decodes an array field through `MapObjects`, whose lambda
    * variable gets a fresh id in every micro-batch's re-planned state
    * decoder, so the generated classes that build this state missed
    * the JVM-wide codegen cache and recompiled on every batch. A
    * binary field's decoder compiles once, and it serializes as one
    * copy, as the primitive array did.
    */
  case class TickerState(lastTs: java.sql.Timestamp, lastValue: Double,
      lastScaled: Long, runLength: Int, diffs: Array[Byte])

  case class Flagged(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, zscore: Double,
      stddev_flag: Int, repetition_flag: Int, staleness_flag: Int,
      anomaly: Int)

  /** st02's baseline at a segment's first print. */
  private def seedBase(e: TickEvent, v4: Long): TickerState =
    TickerState(e.ts, e.value, v4, 1, Array.emptyByteArray)

  /** st02's baseline after one more print: its |diff| to the last
    * print joins the front of the `periods`-deep diff window, and a
    * zero diff extends the repetition run. Shared by st02, st30 and
    * st35, with [[zscore]].
    */
  private def advance(st: TickerState, e: TickEvent, v4: Long,
      periods: Int): TickerState = {
    val dl = math.abs(v4 - st.lastScaled)
    val n = math.min(st.diffs.length / 8 + 1, periods)
    val ds = new Array[Byte](n * 8)
    putLong(ds, 0, dl)
    System.arraycopy(st.diffs, 0, ds, 8, (n - 1) * 8)
    TickerState(e.ts, e.value, v4, if (dl == 0L) st.runLength + 1 else 1,
      ds)
  }

  /** The z-score of the newest diff, long 0 of `diffs`, against the
    * window.
    * Σd and Σd² are exact integers converted to double ONCE each (the
    * §8 fixed-point discipline the oracle mirrors): Σd in a long, Σd²
    * as an unsigned 128-bit (hi, lo) pair, because one ×10 decimal-
    * point error at an index near 35,000 already squares past
    * Long.MaxValue. A sum that fits a long converts exactly as
    * `Long.toDouble`; a wider one through BigInteger, also correctly
    * rounded.
    */
  private def zscore(diffs: Array[Byte]): Double = {
    val n = diffs.length / 8
    var sumdL = 0L
    var hi = 0L
    var lo = 0L
    var j = 0
    while (j < n) {
      // d >= 0, so the signed high word of d·d is the unsigned one
      val d = longAt(diffs, j)
      sumdL = Math.addExact(sumdL, d)
      val lo2 = lo + d * d
      hi += Math.multiplyHigh(d, d) +
        (if (java.lang.Long.compareUnsigned(lo2, lo) < 0) 1L else 0L)
      lo = lo2
      j += 1
    }
    val sumd = sumdL.toDouble
    val sumsq =
      if (hi == 0L && lo >= 0L) lo.toDouble
      else ((BigInt(hi) << 64) +
        BigInt(java.lang.Long.toUnsignedString(lo))).toDouble
    val num = sumsq - sumd * sumd / n
    if (n >= 2 && num > 0)
      math.abs(longAt(diffs, 0).toDouble - sumd / n) / math.sqrt(num / (n - 1))
    else 0.0
  }

  /** st02: the q09 flag semantics as continuously-updating state —
    * per-ticker rolling window of one-period diffs, z-score and
    * repetition-run flags per arriving event. State is O(dataPeriods)
    * per key AND BOUNDED IN KEY COUNT: it runs on the [[segments]]
    * fold, so a ticker quiet longer than `staleDays` (event time) is
    * declared stale via `EventTimeTimeout` — one staleness-flag row is
    * emitted (q09's third flag, rendered in event time) and the key's
    * state is REMOVED, so key churn on an unbounded feed cannot leak
    * the state store. A ticker that resumes after staleness starts a
    * fresh baseline (segment semantics). The stale row is st02's
    * `close`, which the fold runs both on the timeout and on a quiet
    * period observed within arriving data, so timeout-eviction and
    * in-data gaps produce identical output — exactly one staleness row
    * per closed segment, plus one for final segments the watermark
    * outlives.
    *
    * The z-score is over the last `cfg.dataPeriods` diffs, so with the
    * default `AnomalyConfig()` (10 diffs) it is at most 9/√10 ≈ 2.85
    * (Samuelson's bound) and the default 4.5σ stddev flag never fires;
    * it needs `dataPeriods` ≥ 23 (the registered st02 passes 28).
    *
    * Values are rounded to 4 decimals and held as scaled longs; the
    * rolling mean/variance come from EXACT integer sums converted to
    * double once (Σd² in 128 bits, see [[zscore]]), so the z-score is
    * bit-identical to the windowed SQL a DuckDB oracle computes (§8
    * fixed-point discipline — the scale factor cancels in the z ratio,
    * so no 1e-4 division ever happens). A NaN or infinite value fails
    * the query, naming the ticker and event_id, instead of entering
    * the baseline as 0.0 or Long.MaxValue. Timeout arithmetic is
    * ms-floor on both sides (Timestamp.getTime ↔ DuckDB epoch_ms; Spark
    * watermark = ms-floor(max event ts) − delay, timeout fires on
    * strict <) so the staleness row set is exact too.
    *
    * In-order contract: within a micro-batch events sort by event time;
    * ACROSS batches the source must deliver each key's events
    * non-decreasing in event time up to the watermark delay (true of
    * the staged time-sliced file source and of any log-compacted feed;
    * StreamingSpec proves batch-split invariance with
    * maxFilesPerTrigger=1).
    *
    * Cost profile (sf0.1, local[32], warm session): st02 runs within
    * ~0.3 s of st08 — whose state is O(1) per key — so the time is the
    * streaming harness floor, not the 28-period frame or the timeout
    * registration. Most of that floor was fixed work per micro-batch:
    *  - checkpoint-file processes: Hadoop's local file system (no
    *    `libhadoop`) started a `readlink` for each side of every
    *    checkpoint rename and a `chmod` for every created checkpoint
    *    file (36 a `ticker_stream` batch), state delta files and the
    *    offset and commit logs alike. [[GraftCheckpointFileManager]]
    *    starts neither;
    *  - state decoder recompiles: each batch re-plans the query, and
    *    while `diffs` was an `Array[Long]` the classes decoding
    *    [[TickerState]] missed the codegen cache and recompiled (2 per
    *    data batch, 48–82 ms each). With the binary field the one
    *    compile left per batch is the watermark filter, whose literal
    *    changes every batch.
    * What is left is query start/stop, the per-batch group sort and
    * that filter's compile; the 4 s "intrinsic" reading in round 5 was
    * cold-JVM streaming JIT that the bench session hygiene now absorbs
    * in warm-up. The staleness semantics themselves add only the extra
    * emitted rows.
    */
  def st02StatefulFlags(s: SparkSession, dir: String,
      cfg: AnomalyConfig = AnomalyConfig(),
      staleDays: Double = 8.0): DataFrame =
    st02FromStream(s, eventStream(s, dir), cfg, staleDays)

  /** The st02 stateful transform as a streaming Dataset — shared by
    * the memory-sink collector below and the fault-tolerant
    * [[StreamRunner.toFileSink]] (the memory sink cannot recover from a
    * checkpoint, so the kill-and-restart path needs a real sink).
    */
  def st02Transform(s: SparkSession, stream: DataFrame,
      cfg: AnomalyConfig = AnomalyConfig(),
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[Flagged] = {
    import s.implicits._
    // a closed segment (timeout or in-data gap) flags the ticker stale
    def staleRow(key: Ticker, st: TickerState, out: Out[Flagged]): Unit =
      out += Flagged(key._1, key._2, -1L, st.lastTs, st.lastValue, 0.0, 0, 0,
        1, 1)
    perTicker(stream)(segments[Ticker, TickerState, Flagged](staleDays,
        st => usOf(st.lastTs), staleRow) { (key, e, v4, prev, out) =>
      prev match {
        case None =>
          out += Flagged(key._1, key._2, e.event_id, e.ts, e.value, 0.0, 0,
            0, 0, 0)
          seedBase(e, v4)
        case Some(st) =>
          val next = advance(st, e, v4, cfg.dataPeriods)
          val z = zscore(next.diffs)
          val sdFlag = if (z >= cfg.stddevLim) 1 else 0
          val repFlag = if (next.runLength >= cfg.repLim) 1 else 0
          out += Flagged(key._1, key._2, e.event_id, e.ts, e.value, z,
            sdFlag, repFlag, 0, if (sdFlag == 1 || repFlag == 1) 1 else 0)
          next
      }
    })
  }

  /** Core of st02 over any streaming events frame (spec entry point for
    * the multi-batch file source): memory sink, driven to completion.
    */
  def st02FromStream(s: SparkSession, stream: DataFrame,
      cfg: AnomalyConfig = AnomalyConfig(),
      staleDays: Double = 8.0): DataFrame =
    collect(s, "st02", st02Transform(s, stream, cfg, staleDays))
      .orderBy(col("user_id"), col("event_type"), col("ts"), col("event_id"))

  /** State-encoding format version, namespacing every durable
    * checkpoint location. The custom-state encodings are NOT
    * checkpoint-compatible across format changes (v2: TickerState.diffs
    * List→Array[Long]; CusumState/HoltState s2 BigDecimal→two long
    * limbs; v3: TickerState.diffs Array[Long]→packed binary) — a
    * resume against an old-format checkpoint fails on state
    * deserialization, not gracefully. Namespacing by version means an
    * upgraded job starts a fresh checkpoint instead of crashing on
    * restore; old-version directories are dead data to clean up.
    */
  val StateFormatVersion = 3
  def versionedCheckpoint(checkpoint: String): String =
    s"$checkpoint/state-format-v$StateFormatVersion"

  /** The sink OUTPUT path is versioned in lockstep with the checkpoint:
    * a format upgrade starts a fresh checkpoint that replays batch ids
    * from 0, and FileStreamSink silently SKIPS batch ids already
    * committed in the output dir's _spark_metadata log — so an upgraded
    * run writing into the old output directory would silently drop its
    * first batches instead of restarting cleanly. Pairing the paths
    * makes (checkpoint, output) one atomic versioned unit: stateful
    * callers pass both to [[StreamRunner.toFileSink]] and read the
    * versioned path back.
    */
  def versionedSink(path: String): String =
    s"$path/state-format-v$StateFormatVersion"

  /** Per-ticker streaming CUSUM state: O(1) per key — prefix moment
    * sums (exact fixed-point), the two CUSUM accumulators, last event
    * time for the eviction timeout. `s2` (sum of squared 1e-4-scaled
    * values) is held as two base-1e18 long limbs (s2Hi·1e18 + s2Lo) so
    * the moment stays an EXACT integer with ~9e36 headroom — a
    * BigDecimal field would encode as Decimal(38,18) whose ~1e20
    * integer ceiling OVERFLOWS TO NULL on state.update (a crash on the
    * key's next batch, not a graceful trim), and pure-long state is
    * also what the RocksDB provider serializes cheapest.
    */
  case class CusumState(lastUs: Long, n: Long, s1: Long, s2Hi: Long,
      s2Lo: Long, sPos: Long, sNeg: Long)

  case class CusumOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, zscore6: Double,
      cusum_pos: Double, cusum_neg: Double, changepoint_flag: Int)

  /** st08: q19's CUSUM change-point detector as continuously-updating
    * state — the streaming twin, standardizing each point against the
    * PREFIX (causal) mean/stddev instead of q19's full-series stats,
    * which is the only information a stream has at arrival time.
    *
    * State is O(1) per key (three exact moment sums + two CUSUM
    * accumulators) and BOUNDED IN KEY COUNT: quiet tickers evict via
    * `EventTimeTimeout` after `staleDays`, and a resumed ticker
    * restarts its baseline — on an unbounded feed neither key churn
    * nor per-key history can grow the state store.
    *
    * Determinism contract (§8 fixed-point discipline): values quantize
    * to 1e-4 longs; z comes from exact integer moments with ONE
    * correctly-rounded decimal→double conversion; z quantizes to 1e-6
    * longs; the CUSUM recursion then runs in pure integer arithmetic —
    * so the DuckDB oracle (running-window prefix stats + the
    * runningSum − min(runningSum) closed form) matches bit-for-bit.
    * Same in-order contract as st02.
    */
  def st08StreamCusum(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st08FromStream(s, eventStream(s, dir), staleDays)

  /** st09 per-ticker streaming Holt state: O(1) per key — the dyadic
    * level/trend pair, prefix moments of the forecast errors (s2 as
    * two base-1e18 limbs, st08's exact representation), last event
    * time for eviction.
    */
  case class HoltState(lastUs: Long, l: Long, b: Long, n: Long, s1: Long,
      s2Hi: Long, s2Lo: Long)

  case class HoltOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double,
      forecast: Option[Double], resid: Option[Double],
      holt_z6: Option[Double], holt_flag: Int)

  /** st09: q54's Holt forecast-error detector as continuously-updating
    * state — the streaming twin (as st08 is to q19), standardizing
    * each forecast error against the PREFIX (causal) error moments.
    * The dyadic ⌊·⌋ recursion is identical to q54's, so the state is
    * exact integers; O(1) per key, EventTimeTimeout eviction and the
    * in-data staleness gap restart the baseline exactly like st02/st08
    * (segment semantics the oracle's recursive CTE replays per
    * segment). Same in-order contract as st02.
    */
  def st09StreamHolt(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st09FromStream(s, eventStream(s, dir), staleDays)

  def st09Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[HoltOut] = {
    import s.implicits._
    perTicker(stream)(segments[Ticker, HoltState, HoltOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      prev match {
        case None =>
          out += HoltOut(key._1, key._2, e.event_id, e.ts, vl / 10000.0,
            None, None, None, 0)
          HoltState(usOf(e.ts), vl, 0L, 0L, 0L, 0L, 0L)
        case Some(st) =>
          val pred = st.l + st.b
          val err = vl - pred
          val n = st.n + 1
          val s1 = st.s1 + err
          val s2 = fromLimbs(st.s2Hi, st.s2Lo) + BigInt(err) * BigInt(err)
          val c = BigInt(n) * s2 - BigInt(s1) * BigInt(s1)
          val z6 =
            if (n > 1 && c > 0) {
              // BigInt like c (q54's exact-moment discipline):
              // Long would wrap where the BIGINT oracle raises
              val a = (BigInt(n) * BigInt(err) - BigInt(s1)).toDouble
              math.floor(a / math.sqrt(c.toDouble * n / (n - 1)) *
                1000000.0 + 0.5).toLong
            } else 0L
          // q54's dyadic fixed-point recursion, bit-for-bit
          val l2 = math.floor((vl + st.l + st.b) / 2.0).toLong
          val b2 = math.floor((l2 - st.l + 3.0 * st.b) / 4.0).toLong
          out += HoltOut(key._1, key._2, e.event_id, e.ts, vl / 10000.0,
            Some(pred / 10000.0), Some(err / 10000.0), Some(z6 / 1000000.0),
            if (math.abs(z6) >= 3000000L) 1 else 0)
          val (s2Hi, s2Lo) = toLimbs(s2)
          HoltState(usOf(e.ts), l2, b2, n, s1, s2Hi, s2Lo)
      }
    })
  }

  def st09FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st09", st09Transform(s, stream, staleDays))("value",
      "forecast", "resid", "holt_z6", "holt_flag")

  /** st14 per-ticker streaming Kalman state: O(1) per key and the
    * SMALLEST in the stateful family — just the level and its
    * posterior variance (both exact longs from q62's integer-gain
    * recursion) plus last event time for eviction. No prefix moments:
    * the normalized innovation standardizes against the PREDICTIVE
    * variance the state already carries, so z needs nothing beyond
    * (l, p).
    */
  case class KalmanState(lastUs: Long, l: Long, p: Long)

  case class KalmanOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, level: Double,
      kgain6: Option[Double], innovation: Option[Double],
      kalman_z6: Option[Double], kalman_flag: Int)

  /** st14: q62's local-level Kalman filter as continuously-updating
    * state — the streaming twin (as st09 is to q54). The integer-gain
    * recursion is identical to q62's, so state is exact; a staleness
    * gap (or EventTimeTimeout eviction) restarts the diffuse prior
    * P0 = R exactly like st02/st08/st09 restart their baselines —
    * segment semantics the oracle's recursive CTE replays per segment.
    * Same in-order contract as st02.
    */
  def st14StreamKalman(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st14FromStream(s, eventStream(s, dir), staleDays)

  def st14Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[KalmanOut] = {
    import s.implicits._
    val Qc = 10000000L
    val Rc = 100000000L
    // a new segment restarts the diffuse prior
    perTicker(stream)(segments[Ticker, KalmanState, KalmanOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      prev match {
        case None =>
          out += KalmanOut(key._1, key._2, e.event_id, e.ts,
            vl / 10000.0, vl / 10000.0, None, None, None, 0)
          KalmanState(usOf(e.ts), vl, Rc)
        case Some(st) =>
          // q62's integer-gain recursion, bit-for-bit
          val pp = st.p + Qc
          val err = vl - st.l
          val k6 = math.floor(pp * 1000000.0 / (pp + Rc)).toLong
          val l2 = st.l + math.floor(k6 * err / 1000000.0).toLong
          val p2 = math.floor((1000000L - k6) * pp / 1000000.0).toLong
          val z6 = math.floor(err / math.sqrt((pp + Rc).toDouble) *
            1000000.0 + 0.5).toLong
          out += KalmanOut(key._1, key._2, e.event_id, e.ts,
            vl / 10000.0, l2 / 10000.0, Some(k6 / 1000000.0),
            Some(err / 10000.0), Some(z6 / 1000000.0),
            if (math.abs(z6) >= 3000000L) 1 else 0)
          KalmanState(usOf(e.ts), l2, p2)
      }
    })
  }

  /** st15 per-ticker streaming trend state: the last `window`
    * (event-time µs, 1e-4 long) observations as primitive-array ring
    * contents plus last event time — bounded O(window) per key however
    * long the stream runs.
    */
  case class TrendState(lastUs: Long, tus: Array[Long], v4l: Array[Long])

  case class TrendOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, n_window: Int,
      mk_s: Option[Long], mk_tau6: Option[Double],
      sen_slope_day: Option[Double])

  /** st15: q64's Mann–Kendall/Theil–Sen trend verdict answered LIVE
    * over a sliding window of the last `window` observations — the
    * streaming twin (as st14 is to q62): is this ticker trending RIGHT
    * NOW, and at what robust median rate? Each arrival recomputes the
    * exact pairwise statistics over the bounded buffer (O(window²)
    * integer/one-division work in-task), so every emitted row carries
    * q64's determinism: integer S, half-up τ6, the exact-rank lower
    * median of per-pair IEEE slope divisions, one shared per-day
    * constant multiply. Staleness gaps and EventTimeTimeout eviction
    * clear the buffer (the family's segment-restart rule); rows with
    * fewer than 2 in-window points emit NULL statistics. Same
    * in-order contract as st02; fully oracle-backed (the CTE replays
    * the per-segment sliding window).
    */
  def st15StreamTrend(s: SparkSession, dir: String,
      staleDays: Double = 8.0, window: Int = 16): DataFrame =
    st15FromStream(s, eventStream(s, dir), staleDays, window)

  def st15Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0,
      window: Int = 16): org.apache.spark.sql.Dataset[TrendOut] = {
    import s.implicits._
    // a new segment's window starts empty
    val empty = TrendState(0L, Array.empty[Long], Array.empty[Long])
    perTicker(stream)(segments[Ticker, TrendState, TrendOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      val st = prev.getOrElse(empty)
      val ts2 = (st.tus :+ usOf(e.ts)).takeRight(window)
      val vs2 = (st.v4l :+ vl).takeRight(window)
      val m = ts2.length
      if (m < 2) {
        out += TrendOut(key._1, key._2, e.event_id, e.ts,
          vl / 10000.0, m, None, None, None)
      } else {
        // q64's exact pairwise pass over the bounded window
        var sStat = 0L
        val slopes = Vector.newBuilder[Double]
        var i = 0
        while (i < m) {
          var j = i + 1
          while (j < m) {
            val dv = vs2(j) - vs2(i)
            sStat += java.lang.Long.signum(dv)
            val dt = ts2(j) - ts2(i)
            if (dt != 0L) slopes += dv.toDouble / dt.toDouble
            j += 1
          }
          i += 1
        }
        val np = m.toLong * (m - 1) / 2
        val tau6 = math.floor(sStat * 1000000.0 / np + 0.5).toLong
        val sl = slopes.result().sorted
        val sen = if (sl.isEmpty) None
          else Some(sl((sl.size + 1) / 2 - 1) * 8.64e6)
        out += TrendOut(key._1, key._2, e.event_id, e.ts,
          vl / 10000.0, m, Some(sStat), Some(tau6 / 1000000.0), sen)
      }
      TrendState(usOf(e.ts), ts2, vs2)
    })
  }

  def st15FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0, window: Int = 16): DataFrame =
    eventRows(s, "st15", st15Transform(s, stream, staleDays, window))(
      "value", "n_window", "mk_s", "mk_tau6", "sen_slope_day")

  def st14FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st14", st14Transform(s, stream, staleDays))("value",
      "level", "kgain6", "innovation", "kalman_z6", "kalman_flag")

  def st08Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[CusumOut] = {
    import s.implicits._
    val slack = 500000L // k = 0.5 sigma in 1e6 fixed point
    val thresh = 5000000L // h = 5 sigma
    // a new segment restarts the baseline
    val empty = CusumState(0L, 0L, 0L, 0L, 0L, 0L, 0L)
    perTicker(stream)(segments[Ticker, CusumState, CusumOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      val st = prev.getOrElse(empty)
      val n = st.n + 1
      val s1 = st.s1 + vl
      // exact integer moments in BigInt; s2 round-trips through the
      // two-limb state representation losslessly
      val s2 = fromLimbs(st.s2Hi, st.s2Lo) + BigInt(vl) * BigInt(vl)
      val c = BigInt(n) * s2 - BigInt(s1) * BigInt(s1)
      val zf =
        if (n > 1 && c > 0) {
          val a = (n * vl - s1).toDouble
          math.floor(a / math.sqrt(c.toDouble * n / (n - 1)) *
            1000000.0 + 0.5).toLong
        } else 0L
      val sPos = math.max(0L, st.sPos + zf - slack)
      val sNeg = math.max(0L, st.sNeg - zf - slack)
      out += CusumOut(key._1, key._2, e.event_id, e.ts, vl / 10000.0,
        zf / 1000000.0, sPos / 1000000.0, sNeg / 1000000.0,
        if (sPos > thresh || sNeg > thresh) 1 else 0)
      val (s2Hi, s2Lo) = toLimbs(s2)
      CusumState(usOf(e.ts), n, s1, s2Hi, s2Lo, sPos, sNeg)
    })
  }

  def st08FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st08", st08Transform(s, stream, staleDays))("value",
      "zscore6", "cusum_pos", "cusum_neg", "changepoint_flag")

  /** st10 SpaceSaving counter bank for one tumbling window: parallel
    * arrays (primitive encoders, TickerState's lesson), capacity-k
    * regardless of stream cardinality.
    */
  case class SSState(keys: Array[Long], counts: Array[Long],
      errs: Array[Long], total: Long)

  case class HeavyHit(win_start: java.sql.Timestamp, rank: Int,
      user_id: Long, est_count: Long, max_err: Long, n_events: Long)

  /** st10: streaming heavy hitters — the SpaceSaving sketch (Metwally
    * et al. 2005) over each 6 h tumbling window: which users dominate
    * the feed, answered with k counters per window NO MATTER how many
    * distinct users flow through (the unbounded-cardinality question
    * a windowed groupBy count cannot answer without O(users) state).
    * Invariants carried per counter: est_count ≥ true count and
    * est_count − max_err ≤ true count; a true heavy hitter with
    * count > min-counter is GUARANTEED present (spec-proven).
    *
    * Emission is timeout-FINALIZED (Append discipline): when the
    * watermark passes the window end the top `topN` counters emit
    * once — ranked (count desc, user asc) — and the window's state
    * is evicted; an in-flight final window emits when later data
    * advances the watermark past it. Same in-order contract as st02
    * (events sorted in-batch; SpaceSaving is order-sensitive, so
    * determinism holds under the staged time-sliced source).
    *
    * State: k longs ×3 + 1 per LIVE window — bounded in windows by
    * eviction and in width by k; no key-cardinality term anywhere.
    */
  def st10Transform(s: SparkSession, stream: DataFrame, k: Int = 16,
      topN: Int = 5): org.apache.spark.sql.Dataset[HeavyHit] = {
    import s.implicits._
    val winUs = 6L * 3600 * 1000000L

    def update(winStartUs: Long, events: Iterator[TickEvent],
        state: GroupState[SSState]): Iterator[HeavyHit] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        val ts = new java.sql.Timestamp(winStartUs / 1000L)
        st.keys.indices
          .sortBy(i => (-st.counts(i), st.keys(i)))
          .take(topN).iterator.zipWithIndex
          .map { case (i, r) =>
            HeavyHit(ts, r + 1, st.keys(i), st.counts(i), st.errs(i),
              st.total)
          }
      } else {
        val st = state.getOption
          .getOrElse(SSState(Array.empty, Array.empty, Array.empty, 0L))
        val keys = scala.collection.mutable.ArrayBuffer(st.keys: _*)
        val counts = scala.collection.mutable.ArrayBuffer(st.counts: _*)
        val errs = scala.collection.mutable.ArrayBuffer(st.errs: _*)
        var total = st.total
        inOrder(events).foreach { e =>
          total += 1
          val idx = keys.indexOf(e.user_id)
          if (idx >= 0) counts(idx) += 1
          else if (keys.length < k) {
            keys += e.user_id; counts += 1L; errs += 0L
          } else {
            // evict the min counter (ties: smallest key) — the new
            // item inherits its count as the overestimate bound
            var mi = 0
            var i = 1
            while (i < counts.length) {
              if (counts(i) < counts(mi) ||
                (counts(i) == counts(mi) && keys(i) < keys(mi))) mi = i
              i += 1
            }
            val m = counts(mi)
            keys(mi) = e.user_id; errs(mi) = m; counts(mi) = m + 1
          }
        }
        state.update(SSState(keys.toArray, counts.toArray, errs.toArray,
          total))
        // fire when the watermark passes the window END; any event
        // that reached us has ts ≥ watermark, so end > watermark and
        // the registration is always legal
        state.setTimeoutTimestamp((winStartUs + winUs) / 1000L)
        Iterator.empty
      }
    }

    keyed(stream)(e => windowStartUs(e.ts, winUs, e.event_id))(update)
  }

  /** st11 histogram state: 64 fixed long counters + total/min/max —
    * O(1) regardless of how many events or distinct values flow
    * through the window.
    */
  case class HistState(counts: Array[Long], total: Long,
      minV4: Long, maxV4: Long, nOut: Long)

  case class QuantOut(win_start: java.sql.Timestamp, event_type: String,
      n_events: Long, min_v: Double, max_v: Double,
      p50_est: Double, p99_est: Double, err_bound: Double,
      n_clamped: Long)

  /** st11: streaming percentile monitor — q56's tail-quantile question
    * answered LIVE with bounded state: per (6 h window, event_type) a
    * fixed 64-bucket histogram over the value domain accumulates
    * counts; when the watermark closes the window, the p50/p99
    * selection ranks (q56's exact ceil(p·n) integer rule) are located
    * in bucket space and emitted with the histogram's error bound
    * (one bucket width). Exact min/max ride along. The batch q56 is
    * the exact companion; this is what a 100 TB/day feed can afford
    * per-window — state is 64 longs however many events arrive.
    * Same timeout-finalized Append discipline and eviction as st10.
    */
  def st11Transform(s: SparkSession, stream: DataFrame,
      buckets: Int = 64, domainMax: Double = 1000.0)
      : org.apache.spark.sql.Dataset[QuantOut] = {
    import s.implicits._
    val winUs = 6L * 3600 * 1000000L
    val dom4 = scale4(domainMax, "domainMax")
    val width = math.max(1L, dom4 / buckets)

    def update(key: (String, Long), events: Iterator[TickEvent],
        state: GroupState[HistState]): Iterator[QuantOut] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        val ts = new java.sql.Timestamp(key._2 / 1000L)
        // q56's integer ceil(p·n) rank, located in bucket space: the
        // estimate is the bucket's UPPER edge — a one-sided bound with
        // error ≤ one bucket width
        def est(num: Long, den: Long): Double = {
          val rank = (num * st.total + den - 1) / den
          var cum = 0L
          var b = 0
          while (b < st.counts.length && cum + st.counts(b) < rank) {
            cum += st.counts(b); b += 1
          }
          ((b + 1).toLong * width).toDouble / 10000.0
        }
        Iterator.single(QuantOut(ts, key._1, st.total,
          st.minV4 / 10000.0, st.maxV4 / 10000.0,
          est(1, 2), est(99, 100), width.toDouble / 10000.0,
          st.nOut))
      } else {
        val evs = events.toSeq
        val st = state.getOption.getOrElse(
          HistState(new Array[Long](buckets), 0L, Long.MaxValue,
            Long.MinValue, 0L))
        val counts = st.counts.clone()
        var total = st.total
        var mn = st.minV4
        var mx = st.maxV4
        var nOut = st.nOut
        evs.foreach { e =>
          val v4 = scale4(e.value, key, e.event_id)
          // out-of-domain values ([0, domainMax] is CLOSED — the
          // endpoint belongs to the top bucket) clamp into the edge
          // buckets — count them so the one-bucket-width error bound
          // stays HONEST: a nonzero n_clamped says the edge-bucket
          // estimates are one-sided bounds only (exact min_v/max_v
          // show how far)
          if (v4 < 0L || v4 > dom4) nOut += 1
          val b = math.min(buckets - 1L, math.max(0L, v4 / width)).toInt
          counts(b) += 1
          total += 1
          if (v4 < mn) mn = v4
          if (v4 > mx) mx = v4
        }
        state.update(HistState(counts, total, mn, mx, nOut))
        state.setTimeoutTimestamp((key._2 + winUs) / 1000L)
        Iterator.empty
      }
    }

    keyed(stream)(
      e => (e.event_type, windowStartUs(e.ts, winUs, e.event_id)))(update)
  }

  def st11FromStream(s: SparkSession, stream: DataFrame,
      buckets: Int = 64, domainMax: Double = 1000.0): DataFrame =
    collect(s, "st11", st11Transform(s, stream, buckets, domainMax))
      .orderBy(col("win_start"), col("event_type"))

  def st11StreamQuantiles(s: SparkSession, dir: String): DataFrame =
    st11FromStream(s, eventStream(s, dir))

  def st10FromStream(s: SparkSession, stream: DataFrame, k: Int = 16,
      topN: Int = 5): DataFrame =
    collect(s, "st10", st10Transform(s, stream, k, topN))
      .orderBy(col("win_start"), col("rank"))

  def st10HeavyHitters(s: SparkSession, dir: String): DataFrame =
    st10FromStream(s, eventStream(s, dir))

  case class DriftOut(win_start: java.sql.Timestamp, event_type: String,
      n_events: Long, psi9: Long, drift: Int)

  /** st13 maintained reference: per event_type, the fixed-bucket
    * occupancy of the FIRST ERA (q61's midpoint split) — the artifact
    * a deployment refreshes offline and ships to the monitor. The
    * collect is types × buckets rows (the s03-centroid class of
    * driver traffic, not data-sized).
    */
  def st13Reference(s: SparkSession, dir: String, buckets: Int = 10,
      domainMax: Double = 1000.0): Map[String, Array[Long]] = {
    val dom4 = scale4(domainMax, "domainMax")
    val width = math.max(1L, dom4 / buckets)
    val ev = graft.Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("v4l"))
    val piv = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("pivot",
        expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"))
      .select(col("pivot")).collect()(0).getDate(0)
    val rows = ev.filter(col("day") <= lit(piv))
      .withColumn("b",
        least(lit(buckets - 1L), greatest(lit(0L), expr(s"v4l div $width"))))
      .groupBy(col("event_type"), col("b")).agg(count(lit(1)).as("c"))
      .collect()
    rows.groupBy(_.getString(0)).map { case (t, rs) =>
      val arr = new Array[Long](buckets)
      rs.foreach(r => arr(r.getLong(1).toInt) = r.getLong(2))
      t -> arr
    }
  }

  /** st13: streaming DRIFT monitor — q61's PSI question answered LIVE:
    * per (6 h window, event_type) the same fixed-bucket histogram
    * state as st11 (`buckets` longs however many events arrive), and
    * on watermark-close the window's occupancy is scored against the
    * maintained reference occupancy with add-one-smoothed PSI. Terms
    * are 1e-9 fixed-point longs summed in fixed bucket order inside
    * the state function (one task — deterministic), so the emitted
    * `psi9` is exact and the whole entry is DuckDB-oracle-backed
    * (the oracle replays window assignment, bucket counts, the
    * timeout-eligibility rule and the PSI closed form). A type absent
    * from the reference scores against the flat smoothed prior —
    * loudly, which is the point.
    */
  def st13Transform(s: SparkSession, stream: DataFrame,
      ref: Map[String, Array[Long]], buckets: Int = 10,
      domainMax: Double = 1000.0)
      : org.apache.spark.sql.Dataset[DriftOut] = {
    import s.implicits._
    val winUs = 6L * 3600 * 1000000L
    val dom4 = scale4(domainMax, "domainMax")
    val width = math.max(1L, dom4 / buckets)

    def update(key: (String, Long), events: Iterator[TickEvent],
        state: GroupState[HistState]): Iterator[DriftOut] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        val ts = new java.sql.Timestamp(key._2 / 1000L)
        val rc = ref.getOrElse(key._1, new Array[Long](buckets))
        val rTot = rc.sum
        var psi9 = 0L
        var b = 0
        while (b < buckets) {
          val p = (rc(b) + 1).toDouble / (rTot + buckets)
          val q = (st.counts(b) + 1).toDouble / (st.total + buckets)
          psi9 += math.floor((p - q) * math.log(p / q) * 1e9 + 0.5).toLong
          b += 1
        }
        Iterator.single(DriftOut(ts, key._1, st.total, psi9,
          if (psi9 > 200000000L) 1 else 0))
      } else {
        val evs = events.toSeq
        val st = state.getOption.getOrElse(
          HistState(new Array[Long](buckets), 0L, Long.MaxValue,
            Long.MinValue, 0L))
        val counts = st.counts.clone()
        var total = st.total
        evs.foreach { e =>
          val v4 = scale4(e.value, key, e.event_id)
          val b = math.min(buckets - 1L, math.max(0L, v4 / width)).toInt
          counts(b) += 1
          total += 1
        }
        state.update(HistState(counts, total, st.minV4, st.maxV4, st.nOut))
        state.setTimeoutTimestamp((key._2 + winUs) / 1000L)
        Iterator.empty
      }
    }

    keyed(stream)(
      e => (e.event_type, windowStartUs(e.ts, winUs, e.event_id)))(update)
  }

  def st13FromStream(s: SparkSession, stream: DataFrame,
      ref: Map[String, Array[Long]]): DataFrame =
    collect(s, "st13", st13Transform(s, stream, ref))
      .orderBy(col("win_start"), col("event_type"))

  def st13StreamDrift(s: SparkSession, dir: String): DataFrame =
    st13FromStream(s, eventStream(s, dir), st13Reference(s, dir))

  case class BenfordOut(win_start: java.sql.Timestamp, event_type: String,
      n_events: Long, n_skipped: Long, chi9: Long, benford_flag: Int,
      worst_digit: Int, worst_dev9: Long)

  /** st16: q66's BENFORD screen answered LIVE — per (6 h window,
    * event_type) the first-digit occupancy as st11/st13's fixed
    * histogram state (9 longs + 2 counters however many events
    * arrive), scored on watermark-close with q66's exact chain: each
    * chi-square term one identical IEEE expression over (obs, n·p)
    * floored to a 1e-9 long, summed in fixed digit order inside the
    * one state task — `chi9`, the 20.09 flag, and the worst digit
    * replay bit-for-bit in the DuckDB oracle (window assignment,
    * the timeout-eligibility rule, digit counts, the literal table).
    * Non-positive values can't have a first significant digit: they
    * are counted in `n_skipped`, never in the statistic; a window
    * with ONLY skipped values emits nothing on either engine.
    *
    * Scale shape: st11/st13's posture — state bounded at 11 longs per
    * LIVE (window, type) group regardless of event volume; value skew
    * lands in digit counters, never in state size; timeout eviction.
    */
  def st16Transform(s: SparkSession, stream: DataFrame)
      : org.apache.spark.sql.Dataset[BenfordOut] = {
    import s.implicits._
    val winUs = 6L * 3600 * 1000000L
    // q66's nine first-digit expectations — the same shortest-repr
    // double literals embedded in the oracle (no libm at query time);
    // METHOD-LOCAL so the state closure serializes without capturing
    // the enclosing object
    val benfordP: Array[Double] = Array(
      0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
      0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
      0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

    def update(key: (String, Long), events: Iterator[TickEvent],
        state: GroupState[HistState]): Iterator[BenfordOut] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        if (st.total == 0L) Iterator.empty
        else {
          val ts = new java.sql.Timestamp(key._2 / 1000L)
          var chi9 = 0L
          var worstD = 0
          var worstDev = -1L
          var d = 0
          while (d < 9) {
            val np = st.total * benfordP(d)
            val obs = st.counts(d)
            chi9 += math.floor(
              (obs - np) * (obs - np) / np * 1e9 + 0.5).toLong
            val dev = math.abs(math.floor((obs - np) * 1e9 + 0.5).toLong)
            if (dev > worstDev) { worstDev = dev; worstD = d + 1 }
            d += 1
          }
          Iterator.single(BenfordOut(ts, key._1, st.total, st.nOut, chi9,
            if (chi9 > 20090000000L) 1 else 0, worstD, worstDev))
        }
      } else {
        val evs = events.toSeq
        val st = state.getOption.getOrElse(
          HistState(new Array[Long](9), 0L, Long.MaxValue,
            Long.MinValue, 0L))
        val counts = st.counts.clone()
        var total = st.total
        var nSkip = st.nOut
        evs.foreach { e =>
          val v4 = scale4(e.value, key, e.event_id)
          if (v4 <= 0L) nSkip += 1
          else {
            var x = v4
            while (x >= 10L) x /= 10L
            counts(x.toInt - 1) += 1; total += 1
          }
        }
        state.update(HistState(counts, total, st.minV4, st.maxV4, nSkip))
        state.setTimeoutTimestamp((key._2 + winUs) / 1000L)
        Iterator.empty
      }
    }

    keyed(stream)(
      e => (e.event_type, windowStartUs(e.ts, winUs, e.event_id)))(update)
  }

  def st16FromStream(s: SparkSession, stream: DataFrame): DataFrame =
    collect(s, "st16", st16Transform(s, stream))
      .orderBy(col("win_start"), col("event_type"))

  def st16StreamBenford(s: SparkSession, dir: String): DataFrame =
    st16FromStream(s, eventStream(s, dir))

  /** st23 per-(ticker, day) bar state: the open/close carry their
    * (µs, event_id) order keys so late in-window arrivals can still
    * claim first/last print deterministically; 9 longs per LIVE bar
    * however many prints arrive.
    */
  case class BarState(oUs: Long, oEid: Long, oV: Long, hV: Long, lV: Long,
      cUs: Long, cEid: Long, cV: Long, n: Long)

  case class BarOut(win_start: java.sql.Timestamp, user_id: Long,
      event_type: String, open: Double, high: Double, low: Double,
      close: Double, n_trades: Long)

  /** st23: q86's OHLC bars answered LIVE — the daily bar emitted the
    * moment the watermark closes its day (timeout-finalized, st16's
    * pattern), not at tomorrow's batch. A built-in streaming
    * first()/last() is arrival-order-dependent; the state carries the
    * open's and close's (event-time µs, event_id) keys, so a late
    * in-window print claims first/last EXACTLY as q86's windows rank
    * them and the entry is fully oracle-backed (q86's bar selection +
    * the watermark eligibility rule). State = 9 longs per LIVE
    * (ticker, day) regardless of print volume; closed bars evict.
    */
  def st23Transform(s: SparkSession, stream: DataFrame)
      : org.apache.spark.sql.Dataset[BarOut] = {
    import s.implicits._
    val dayUs = 86400000000L

    def update(key: (Long, String, Long), events: Iterator[TickEvent],
        state: GroupState[BarState]): Iterator[BarOut] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        Iterator.single(BarOut(new java.sql.Timestamp(key._3 / 1000L),
          key._1, key._2, st.oV / 10000.0, st.hV / 10000.0,
          st.lV / 10000.0, st.cV / 10000.0, st.n))
      } else {
        var st = state.getOption.getOrElse(
          BarState(Long.MaxValue, Long.MaxValue, 0L, Long.MinValue,
            Long.MaxValue, Long.MinValue, Long.MinValue, 0L, 0L))
        events.foreach { e =>
          val us = usOf(e.ts)
          val vl = scale4(e.value, key, e.event_id)
          var (oUs, oEid, oV) = (st.oUs, st.oEid, st.oV)
          if (us < oUs || (us == oUs && e.event_id < oEid)) {
            oUs = us; oEid = e.event_id; oV = vl
          }
          var (cUs, cEid, cV) = (st.cUs, st.cEid, st.cV)
          if (us > cUs || (us == cUs && e.event_id > cEid)) {
            cUs = us; cEid = e.event_id; cV = vl
          }
          st = BarState(oUs, oEid, oV, math.max(st.hV, vl),
            math.min(st.lV, vl), cUs, cEid, cV, st.n + 1)
        }
        state.update(st)
        state.setTimeoutTimestamp((key._3 + dayUs) / 1000L)
        Iterator.empty
      }
    }

    keyed(stream)(e =>
      (e.user_id, e.event_type, windowStartUs(e.ts, dayUs, e.event_id)))(
      update)
  }

  def st23FromStream(s: SparkSession, stream: DataFrame): DataFrame =
    collect(s, "st23", st23Transform(s, stream))
      .orderBy(col("win_start"), col("user_id"), col("event_type"))

  def st23StreamBars(s: SparkSession, dir: String): DataFrame =
    st23FromStream(s, eventStream(s, dir))

  /** st24: streaming SCD2 TEMPORAL enrichment — st05's stream-static
    * join upgraded from "latest attributes" to AS-OF-event-time
    * attributes: each live event joins the q76 slowly-changing
    * dimension on key AND validity interval (valid_from ≤ event day <
    * valid_to, half-open — the standard warehouse lookup), so a
    * replayed or late event gets the version that was TRUE at its
    * event time, not today's row. The join is stateless (static side
    * broadcast, re-planned per micro-batch so a dim rebuild is picked
    * up live); intervals partition time per key, so each event emits
    * at most one enriched row the moment it arrives.
    *
    * Scale shape: the stream side NEVER shuffles — broadcast hash
    * join against the version table (dims are key-cardinality-sized,
    * the st05 posture); the validity predicate rides the same
    * broadcast probe. No watermark/state: temporal lookup is a pure
    * enrichment. Fully oracle-backed (the batch temporal join over
    * the composed q76 SQL).
    */
  def st24StreamScd2(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.operators.Relational.q76Scd2(s, dir)
      .select(col("o_custkey"), col("version"), col("status"),
        col("priority"), col("valid_from"), col("valid_to"))
    val enriched = eventStream(s, dir)
      .withColumn("day", to_date(col("ts")))
      .join(broadcast(dim),
        col("user_id") === col("o_custkey") &&
          col("day") >= col("valid_from") &&
          (col("valid_to").isNull || col("day") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("version"), col("status"), col("priority"))
    collect(s, "st24", enriched).orderBy(col("event_id"), col("version"))
  }

  /** st17 per-ticker streaming Holt-Winters state: the dyadic
    * level/trend pair, the 7-slot seasonal ring (Long.MinValue =
    * phase not yet seen this segment), the segment-local row index
    * that drives the phase, st09's prefix error moments (two-limb
    * s2), and the last event time for eviction.
    */
  case class HwState(lastUs: Long, l: Long, b: Long, idx: Long,
      season: Array[Long], n: Long, s1: Long, s2Hi: Long, s2Lo: Long)

  case class HwOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double,
      forecast: Option[Double], resid: Option[Double],
      season: Option[Double], hw_z6: Option[Double], hw_flag: Int)

  /** st17: q67's Holt-Winters forecaster as continuously-updating
    * state — the streaming twin (as st09 is to q54) for SEASONAL
    * feeds: the state carries q67's exact dyadic level/trend/ring
    * recursion plus st09's prefix (causal) error moments, so each
    * forecast error is standardized against everything seen so far in
    * the segment. Staleness gaps and EventTimeTimeout eviction restart
    * the segment — the ring re-warms phase by phase, exactly as the
    * oracle's per-segment recursive CTE replays. Same in-order
    * contract as st02/st09.
    */
  def st17Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[HwOut] = {
    import s.implicits._
    val Unseen = Long.MinValue
    perTicker(stream)(segments[Ticker, HwState, HwOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      prev match {
        case None =>
          val ring = Array.fill(7)(Unseen)
          ring(0) = 0L // s = v − l' = 0 at the segment seed
          out += HwOut(key._1, key._2, e.event_id, e.ts, vl / 10000.0,
            None, None, None, None, 0)
          HwState(usOf(e.ts), vl, 0L, 1L, ring, 0L, 0L, 0L, 0L)
        case Some(st) =>
          val ph = (st.idx % 7).toInt
          val sp = st.season(ph)
          val ring = st.season.clone()
          if (sp == Unseen) {
            // q67's warm-up: non-seasonal level step, seed phase
            val l2 = math.floor((vl + st.l + st.b) / 2.0).toLong
            val b2 = math.floor((l2 - st.l + 3.0 * st.b) / 4.0).toLong
            ring(ph) = vl - l2
            out += HwOut(key._1, key._2, e.event_id, e.ts,
              vl / 10000.0, None, None, None, None, 0)
            HwState(usOf(e.ts), l2, b2, st.idx + 1, ring,
              st.n, st.s1, st.s2Hi, st.s2Lo)
          } else {
            val pred = st.l + st.b + sp
            val err = vl - pred
            val n = st.n + 1
            val s1 = st.s1 + err
            val s2 = fromLimbs(st.s2Hi, st.s2Lo) + BigInt(err) * BigInt(err)
            val c = BigInt(n) * s2 - BigInt(s1) * BigInt(s1)
            val z6 =
              if (n > 1 && c > 0) {
                val a = (BigInt(n) * BigInt(err) - BigInt(s1)).toDouble
                math.floor(a / math.sqrt(c.toDouble * n / (n - 1)) *
                  1000000.0 + 0.5).toLong
              } else 0L
            val l2 = math.floor((vl - sp + st.l + st.b) / 2.0).toLong
            val b2 = math.floor((l2 - st.l + 3.0 * st.b) / 4.0).toLong
            ring(ph) = math.floor((vl - l2 + 3.0 * sp) / 4.0).toLong
            out += HwOut(key._1, key._2, e.event_id, e.ts,
              vl / 10000.0, Some(pred / 10000.0), Some(err / 10000.0),
              Some(sp / 10000.0), Some(z6 / 1000000.0),
              if (math.abs(z6) >= 3000000L) 1 else 0)
            val (s2Hi, s2Lo) = toLimbs(s2)
            HwState(usOf(e.ts), l2, b2, st.idx + 1, ring, n, s1, s2Hi, s2Lo)
          }
      }
    })
  }

  def st17FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st17", st17Transform(s, stream, staleDays))("value",
      "forecast", "resid", "season", "hw_z6", "hw_flag")

  def st17StreamHoltWinters(s: SparkSession, dir: String): DataFrame =
    st17FromStream(s, eventStream(s, dir))

  /** st18 per-ticker heartbeat state: ONLY the last event-time µs —
    * 8 bytes per live ticker, the smallest state in the family (st14
    * keeps two longs). Deliberately NO timeout eviction: the gap
    * monitor's whole job is the long-silence case, and evicting a
    * quiet key would turn its eventual resumption gap into an
    * indistinguishable first-arrival NULL. Key-cardinality × 8 bytes
    * is the bound (10⁸ tickers ≈ 1.6 GB across a cluster's state
    * stores with key overhead) — bounded by the FLEET, not the feed.
    */
  case class GapState(lastUs: Long)

  case class GapOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, gap_us: Option[Long],
      gap_days6: Option[Double], stale_flag: Int)

  /** st18: the LIVE staleness/heartbeat monitor — q08's
    * `days_since_last_update` verdict answered at arrival time
    * instead of at report time (reference anomaly_proj_query.sql's
    * measured inter-arrival gap, func.R's staleness flag): every
    * event carries the exact µs gap to its predecessor on the same
    * ticker, the 1e-6-floored gap in days, and a stale flag when the
    * gap exceeds `staleDays`. First arrival on a ticker emits NULL
    * gap, flag 0.
    *
    * Determinism: the gap is an exact long difference of event-time
    * µs; `gap_days6` is one shared IEEE divide-and-floor chain; the
    * flag is an integer compare — so the emitted rows are
    * bit-identical to the batch lag() over (ts, event_id) order and
    * the oracle replays exactly that (no segmentation CTE: state
    * never resets). Same in-order contract as st02.
    */
  def st18Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[GapOut] = {
    import s.implicits._
    val staleUs = (staleDays * 86400e6).toLong

    def update(key: (Long, String), events: Iterator[TickEvent],
        state: GroupState[GapState]): Iterator[GapOut] = {
      val out = Vector.newBuilder[GapOut]
      var last = state.getOption.map(_.lastUs)
      inOrder(events).foreach { e =>
        val us = usOf(e.ts)
        last match {
          case None =>
            out += GapOut(key._1, key._2, e.event_id, e.ts, e.value,
              None, None, 0)
          case Some(p) =>
            val g = us - p
            val gd6 = math.floor(
              g / 86400000000.0 * 1000000.0 + 0.5) / 1000000.0
            out += GapOut(key._1, key._2, e.event_id, e.ts, e.value,
              Some(g), Some(gd6), if (g > staleUs) 1 else 0)
        }
        last = Some(us)
      }
      state.update(GapState(last.get))
      out.result().iterator
    }

    perTicker(stream, GroupStateTimeout.NoTimeout)(update)
  }

  def st18FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st18", st18Transform(s, stream, staleDays))("value",
      "gap_us", "gap_days6", "stale_flag")

  def st18StreamGap(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st18FromStream(s, eventStream(s, dir), staleDays)

  /** st19 per-ticker Page–Hinkley state: (last event µs, count,
    * value sum, cumulative m, running min of m) — five longs, O(1)
    * per key forever. The running mean lives IN the state as (s1, n),
    * so the online recursion is exactly q70's windowed closed form.
    */
  case class PhState(lastUs: Long, n: Long, s1: Long, m: Long, minm: Long)

  case class PhOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, ph9: Long, ph_flag: Int)

  /** st19: q70's Page–Hinkley drift monitor answered LIVE — the
    * mean-shift alarm an online feed wants the moment it trips, not
    * at the nightly batch. Each arrival updates the exact long state
    * (n, Σv4l), computes the one shared 1e-9-quantized term chain
    * (v4l − S/n − δ4)·1e5, accumulates m and its running min, and
    * emits ph9 = m − min with the λ flag. Staleness gaps (> 8 days)
    * and EventTimeTimeout eviction restart the statistics — the
    * family's segment rule — so a resumed ticker re-learns its mean
    * instead of alarming on the calendar. Fully oracle-backed: the
    * batch CTE replays the identical chain per segment (no recursion
    * needed — q70's closed form windows within each segment).
    */
  def st19Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0, delta: Double = 0.05,
      lambda: Double = 5.0): org.apache.spark.sql.Dataset[PhOut] = {
    import s.implicits._
    val d4 = scale4(delta, "delta").toDouble
    val l9 = math.floor(lambda * 1e9 + 0.5).toLong
    // a new segment re-learns its mean
    val empty = PhState(Long.MinValue, 0L, 0L, 0L, Long.MaxValue)
    perTicker(stream)(segments[Ticker, PhState, PhOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      val st = prev.getOrElse(empty)
      val n = st.n + 1
      val s1 = st.s1 + vl
      val c9 = math.floor(
        (vl - s1.toDouble / n - d4) * 100000.0 + 0.5).toLong
      val m = st.m + c9
      val minm = math.min(st.minm, m)
      val ph9 = m - minm
      out += PhOut(key._1, key._2, e.event_id, e.ts, vl / 10000.0,
        ph9, if (ph9 > l9) 1 else 0)
      PhState(usOf(e.ts), n, s1, m, minm)
    })
  }

  def st19FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st19", st19Transform(s, stream, staleDays))("value",
      "ph9", "ph_flag")

  def st19StreamPageHinkley(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st19FromStream(s, eventStream(s, dir), staleDays)

  /** st25 per-ticker variance-ratio state: the ≤4-deep value ring
    * (the lag-4 diff's whole lookback) + exact prefix moments of BOTH
    * diff streams (squares as st08's two-limb base-1e18 pairs).
    * Bounded: 12 longs however long the stream.
    */
  case class VrState(lastUs: Long, ring: Array[Long],
      n1: Long, s11: Long, s21Hi: Long, s21Lo: Long,
      nq: Long, s1q: Long, s2qHi: Long, s2qLo: Long)

  case class VrOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, vr6: Option[Long],
      vr_flag: Int)

  /** st25: q91's variance-ratio random-walk test answered LIVE — the
    * CAUSAL VR after every arrival: a feed that flips from random
    * walk to oscillation (an upstream interpolator kicking in, a
    * stuck-then-corrected gauge) drags the running VR toward 0 within
    * a few prints, and this emits the verdict at the print, not at
    * the nightly batch. Each arrival updates the 4-value ring and the
    * exact prefix moments of the lag-1 and lag-4 diff streams, then
    * runs q91's identical IEEE chain over the exact integers seen so
    * far. Staleness gaps (> 8 days) and EventTimeTimeout eviction
    * restart the segment (the family rule). Fully oracle-backed: the
    * batch chain windows the same cumulative moments per segment.
    */
  def st25Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[VrOut] = {
    import s.implicits._
    val empty = VrState(Long.MinValue, Array.empty[Long],
      0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    perTicker(stream)(segments[Ticker, VrState, VrOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      val st = prev.getOrElse(empty)
      var n1 = st.n1; var s11 = st.s11
      var s21 = fromLimbs(st.s21Hi, st.s21Lo)
      var nq = st.nq; var s1q = st.s1q
      var s2q = fromLimbs(st.s2qHi, st.s2qLo)
      if (st.ring.nonEmpty) {
        val r1 = vl - st.ring.last
        n1 += 1; s11 += r1; s21 += BigInt(r1) * r1
      }
      if (st.ring.length == 4) {
        val rq = vl - st.ring.head
        nq += 1; s1q += rq; s2q += BigInt(rq) * rq
      }
      val vr6 =
        if (nq >= 2) {
          val num = BigInt(nq) * s2q - BigInt(s1q) * BigInt(s1q)
          val den = BigInt(n1) * s21 - BigInt(s11) * BigInt(s11)
          if (den > 0)
            Some(math.floor(
              (num.toDouble / (nq * (nq - 1)).toDouble) /
                (4.0 * (den.toDouble / (n1 * (n1 - 1)).toDouble)) *
                1000000.0 + 0.5).toLong)
          else None
        } else None
      out += VrOut(key._1, key._2, e.event_id, e.ts, vl / 10000.0,
        vr6, vr6 match {
          case Some(v) if v > 1200000L => 1
          case Some(v) if v < 800000L  => -1
          case _                       => 0
        })
      val (s21Hi, s21Lo) = toLimbs(s21)
      val (s2qHi, s2qLo) = toLimbs(s2q)
      VrState(usOf(e.ts), (st.ring :+ vl).takeRight(4),
        n1, s11, s21Hi, s21Lo, nq, s1q, s2qHi, s2qLo)
    })
  }

  def st25FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st25", st25Transform(s, stream, staleDays))("value",
      "vr6", "vr_flag")

  def st25StreamVr(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st25FromStream(s, eventStream(s, dir), staleDays)

  /** st31 per-ticker ADF state: previous value + exact prefix moments
    * of the (y₁, Δy) transition stream — squares and the signed
    * cross-product as st08's two-limb base-1e18 pairs (BigInt
    * truncating div/mod reconstructs negatives exactly). Bounded:
    * 12 longs however long the stream.
    */
  case class AdfState(lastUs: Long, lastV: Long, nVals: Long,
      m: Long, s1: Long, sd: Long, s11Hi: Long, s11Lo: Long,
      s1dHi: Long, s1dLo: Long, sddHi: Long, sddLo: Long)

  case class AdfOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, n_trans: Long,
      rho6: Option[Long], adf_t6: Option[Long], stationary_flag: Int)

  /** st31: q113's Dickey–Fuller unit-root verdict answered LIVE — the
    * causal "is this ticker mean-reverting RIGHT NOW" after every
    * arrival: a feed that flips from reverting to drifting (a pairs
    * trade losing its anchor, a gauge starting to integrate noise)
    * drags the running ADF t above the −2.86 bar within a few prints,
    * and this emits the verdict at the print, not at the nightly
    * batch. Each arrival extends the exact transition moments
    * (Δy_t on (1, y_{t−1})), then runs q113's identical IEEE chain
    * over the exact integers seen so far (BigInt.toDouble and the
    * batch's decimal→double cast are both correctly rounded, so the
    * chains agree bit-for-bit). Staleness gaps (> 8 days) and
    * EventTimeTimeout eviction restart the segment (the family
    * rule); stats stay NULL until q113's minObs=12 transitions.
    * Fully oracle-backed: the batch chain windows the same
    * cumulative moments per segment.
    */
  def st31Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0, minObs: Long = 12L):
      org.apache.spark.sql.Dataset[AdfOut] = {
    import s.implicits._
    val empty = AdfState(Long.MinValue, 0L, 0L,
      0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    perTicker(stream)(segments[Ticker, AdfState, AdfOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      val st = prev.getOrElse(empty)
      var m = st.m; var s1 = st.s1; var sd = st.sd
      var s11 = fromLimbs(st.s11Hi, st.s11Lo)
      var s1d = fromLimbs(st.s1dHi, st.s1dLo)
      var sdd = fromLimbs(st.sddHi, st.sddLo)
      if (st.nVals > 0) {
        val y1 = st.lastV; val dy = vl - y1
        m += 1; s1 += y1; sd += dy
        s11 += BigInt(y1) * y1
        s1d += BigInt(y1) * dy
        sdd += BigInt(dy) * dy
      }
      // q113's exact chain over the moments seen so far
      val den = BigInt(m) * s11 - BigInt(s1) * BigInt(s1)
      val (rho6, adfT6) =
        if (m >= minObs && den > 0) {
          val num = BigInt(m) * s1d - BigInt(s1) * BigInt(sd)
          val rho = num.toDouble / den.toDouble
          val alpha =
            (sd.toDouble - rho * s1.toDouble) / m.toDouble
          val rss = sdd.toDouble - alpha * sd.toDouble -
            rho * s1d.toDouble
          val r6 = Some(math.floor(rho * 1000000.0 + 0.5).toLong)
          if (rss > 0) {
            val t = rho / math.sqrt(
              rss / (m.toDouble - 2.0) * m.toDouble / den.toDouble)
            (r6, Some(math.floor(t * 1000000.0 + 0.5).toLong))
          } else (r6, None)
        } else (None, None)
      out += AdfOut(key._1, key._2, e.event_id, e.ts, vl / 10000.0,
        m, rho6, adfT6,
        adfT6 match {
          case Some(t) if t < -2860000L => 1
          case _                        => 0
        })
      val (s11Hi, s11Lo) = toLimbs(s11)
      val (s1dHi, s1dLo) = toLimbs(s1d)
      val (sddHi, sddLo) = toLimbs(sdd)
      AdfState(usOf(e.ts), vl, st.nVals + 1, m, s1, sd,
        s11Hi, s11Lo, s1dHi, s1dLo, sddHi, sddLo)
    })
  }

  def st31FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st31", st31Transform(s, stream, staleDays))("value",
      "n_trans", "rho6", "adf_t6", "stationary_flag")

  def st31StreamAdf(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st31FromStream(s, eventStream(s, dir), staleDays)

  /** st26 per-(ticker, day) TWAP state: first/last print µs, the live
    * value, and the weighted sum Σ(v·Δt) as two base-1e18 limbs
    * (v4l·µs products overflow a single long). 6 longs per LIVE day.
    */
  case class TwapState(firstUs: Long, lastUs: Long, lastV: Long,
      accHi: Long, accLo: Long, n: Long)

  case class TwapOut(win_start: java.sql.Timestamp, user_id: Long,
      event_type: String, n_prints: Long, twap4: Long, twap: Double)

  /** st26: q96's TWAP answered LIVE — the daily time-weighted average
    * emitted the moment the watermark closes the day (st23's
    * timeout-finalized pattern): each arrival banks the PREVIOUS
    * print's value times the µs it was live; day close banks the last
    * print to midnight and divides once by (midnight − first print),
    * exactly q96's weights. State = 6 longs per live (ticker, day)
    * however many prints arrive; closed days evict. In-order contract
    * per key within the day (st02/st09's documented contract — a
    * retro-print would need retro-weights no streaming TWAP gives).
    * Fully oracle-backed: q96's chain + st23's watermark eligibility.
    */
  def st26Transform(s: SparkSession, stream: DataFrame)
      : org.apache.spark.sql.Dataset[TwapOut] = {
    import s.implicits._
    val dayUs = 86400000000L

    def update(key: (Long, String, Long), events: Iterator[TickEvent],
        state: GroupState[TwapState]): Iterator[TwapOut] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        val dayEnd = key._3 + dayUs
        val acc = fromLimbs(st.accHi, st.accLo) +
          BigInt(st.lastV) * (dayEnd - st.lastUs)
        val twap4 = (acc / (dayEnd - st.firstUs)).toLong
        Iterator.single(TwapOut(new java.sql.Timestamp(key._3 / 1000L),
          key._1, key._2, st.n, twap4, twap4 / 10000.0))
      } else {
        var st = state.getOption.getOrElse(
          TwapState(Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L))
        inOrder(events).foreach { e =>
          val us = usOf(e.ts)
          val vl = scale4(e.value, key, e.event_id)
          if (st.n == 0L) {
            st = TwapState(us, us, vl, 0L, 0L, 1L)
          } else {
            val (accHi, accLo) = toLimbs(fromLimbs(st.accHi, st.accLo) +
              BigInt(st.lastV) * (us - st.lastUs))
            st = TwapState(st.firstUs, us, vl, accHi, accLo, st.n + 1)
          }
        }
        state.update(st)
        state.setTimeoutTimestamp((key._3 + dayUs) / 1000L)
        Iterator.empty
      }
    }

    keyed(stream)(e =>
      (e.user_id, e.event_type, windowStartUs(e.ts, dayUs, e.event_id)))(
      update)
  }

  def st26FromStream(s: SparkSession, stream: DataFrame): DataFrame =
    collect(s, "st26", st26Transform(s, stream))
      .orderBy(col("win_start"), col("user_id"), col("event_type"))

  def st26StreamTwap(s: SparkSession, dir: String): DataFrame =
    st26FromStream(s, eventStream(s, dir))

  /** st21 per-ticker SPC state: prefix moments (st08's exact two-limb
    * s2) + the ring of the last ≤7 standardized points — the zone
    * rules' whole lookback. Bounded: 7 longs however long the stream.
    */
  case class SpcState(lastUs: Long, n: Long, s1: Long, s2Hi: Long,
      s2Lo: Long, ring: Array[Long])

  case class SpcOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, zscore6: Double,
      rule1: Int, rule2: Int, rule3: Int, rule4: Int, spc_flag: Int)

  /** st21: q74's Western Electric zone rules answered LIVE — the
    * control-chart screen run at arrival time: one point beyond 3σ
    * (rule 1), 2-of-3 beyond 2σ same side (rule 2), 4-of-5 beyond 1σ
    * same side (rule 3), 8 consecutive same side (rule 4). Where the
    * batch q74 standardizes against the WHOLE series (a batch-only
    * luxury), the live chart standardizes each arrival against the
    * PREFIX moments — st08's causal convention — and the zone
    * lookbacks come from a bounded ring of the last 7 standardized
    * points; each rule stays silent until its full lookback exists in
    * the current segment (q74's i ≥ 3/5/8 rule). Staleness gaps and
    * EventTimeTimeout eviction restart the segment. Fully
    * oracle-backed: prefix moments, zf and the trailing zone counts
    * are all plain windows per 8-day segment.
    */
  def st21Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[SpcOut] = {
    import s.implicits._
    val empty = SpcState(0L, 0L, 0L, 0L, 0L, Array.empty[Long])
    perTicker(stream)(segments[Ticker, SpcState, SpcOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      val st = prev.getOrElse(empty)
      val n = st.n + 1
      val s1 = st.s1 + vl
      val s2 = fromLimbs(st.s2Hi, st.s2Lo) + BigInt(vl) * BigInt(vl)
      val c = BigInt(n) * s2 - BigInt(s1) * BigInt(s1)
      val zf =
        if (n > 1 && c > 0) {
          val a = (n * vl - s1).toDouble
          math.floor(a / math.sqrt(c.toDouble * n / (n - 1)) *
            1000000.0 + 0.5).toLong
        } else 0L
      def zone(win: Int, lim: Long, need: Int): Boolean = {
        val w = st.ring.takeRight(win - 1) :+ zf
        n >= win && (w.count(_ > lim) >= need ||
          w.count(_ < -lim) >= need)
      }
      val r1 = if (math.abs(zf) > 3000000L) 1 else 0
      val r2 = if (zone(3, 2000000L, 2)) 1 else 0
      val r3 = if (zone(5, 1000000L, 4)) 1 else 0
      val r4 = if (n >= 8 && {
        val w = st.ring.takeRight(7) :+ zf
        w.forall(_ > 0L) || w.forall(_ < 0L)
      }) 1 else 0
      out += SpcOut(key._1, key._2, e.event_id, e.ts, vl / 10000.0,
        zf / 1000000.0, r1, r2, r3, r4,
        if (r1 + r2 + r3 + r4 > 0) 1 else 0)
      val (s2Hi, s2Lo) = toLimbs(s2)
      SpcState(usOf(e.ts), n, s1, s2Hi, s2Lo, (st.ring :+ zf).takeRight(7))
    })
  }

  def st21FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st21", st21Transform(s, stream, staleDays))("value",
      "zscore6", "rule1", "rule2", "rule3", "rule4", "spc_flag")

  def st21StreamSpc(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st21FromStream(s, eventStream(s, dir), staleDays)

  /** st22 per-ticker streaming EWMA state: O(1) per key — the dyadic
    * level plus prefix error moments (two-limb s2), last event time
    * for eviction. The level-only sibling of st09's Holt state.
    */
  case class EwmaState(lastUs: Long, l: Long, n: Long, s1: Long,
      s2Hi: Long, s2Lo: Long)

  case class EwmaOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, ewma: Double,
      resid: Option[Double], ewma_z6: Option[Double], ewma_flag: Int)

  /** st22: the EWMA control chart (Roberts 1959) as continuously-
    * updating state — the level-only member completing the streaming
    * control-chart family (st08 CUSUM, st09 Holt, st17 Holt-Winters,
    * st14 Kalman, st21 zone rules): s_t = ⌊(v + 3·s_{t−1})/4⌋ with
    * the dyadic α = ¼ keeping the recursion EXACT in fixed point,
    * each arrival scored by its one-step residual v − s_{t−1}
    * standardized against the PREFIX error moments (st08's causal
    * convention), flagged at 3σ. Where the batch q49 approximates
    * the chart with a truncated 10-tap kernel (the windowable form),
    * the stream runs the TRUE recursion — state makes it free.
    * Staleness gaps and EventTimeTimeout eviction restart the
    * segment; fully oracle-backed (recursive CTE per 8-day segment).
    */
  def st22Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[EwmaOut] = {
    import s.implicits._
    perTicker(stream)(segments[Ticker, EwmaState, EwmaOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      prev match {
        case None =>
          out += EwmaOut(key._1, key._2, e.event_id, e.ts,
            vl / 10000.0, vl / 10000.0, None, None, 0)
          EwmaState(usOf(e.ts), vl, 0L, 0L, 0L, 0L)
        case Some(st) =>
          val err = vl - st.l
          val n = st.n + 1
          val s1 = st.s1 + err
          val s2 = fromLimbs(st.s2Hi, st.s2Lo) + BigInt(err) * BigInt(err)
          val c = BigInt(n) * s2 - BigInt(s1) * BigInt(s1)
          val z6 =
            if (n > 1 && c > 0) {
              val a = (BigInt(n) * BigInt(err) - BigInt(s1)).toDouble
              Some(math.floor(a / math.sqrt(c.toDouble * n / (n - 1)) *
                1000000.0 + 0.5).toLong)
            } else Some(0L)
          val l2 = math.floor((vl + 3.0 * st.l) / 4.0).toLong
          out += EwmaOut(key._1, key._2, e.event_id, e.ts,
            vl / 10000.0, l2 / 10000.0, Some(err / 10000.0),
            z6.map(_ / 1000000.0),
            if (z6.exists(z => math.abs(z) >= 3000000L)) 1 else 0)
          val (s2Hi, s2Lo) = toLimbs(s2)
          EwmaState(usOf(e.ts), l2, n, s1, s2Hi, s2Lo)
      }
    })
  }

  def st22FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st22", st22Transform(s, stream, staleDays))("value",
      "ewma", "resid", "ewma_z6", "ewma_flag")

  def st22StreamEwma(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st22FromStream(s, eventStream(s, dir), staleDays)

  /** st20 per-user funnel state: the three stage timestamps (µs,
    * None = not reached). Deliberately no timeout and no staleness
    * reset — a conversion funnel is a lifetime property of the user,
    * not a windowed statistic; state is key-cardinality × three
    * optional longs, the st18 bound.
    */
  case class FunnelState(t1: Option[Long], t2: Option[Long],
      t3: Option[Long])

  case class FunnelOut(user_id: Long, stage: Int, ts: java.sql.Timestamp)

  /** st20: q73's three-stage funnel answered LIVE — a row is emitted
    * the MOMENT a user advances a stage (first s1; first s2 strictly
    * after t1; first s3 strictly after t2), which is what an
    * activation dashboard actually wants: the conversion event, not
    * tomorrow's recount. Stage list = the three lexicographically
    * smallest event types (q73's deterministic rule), resolved from
    * the static table once at submit. Same in-order contract as st02;
    * the emitted (user, stage, ts) rows equal q73's non-null stage
    * timestamps unpivoted — fully oracle-backed.
    */
  def st20Transform(s: SparkSession, stream: DataFrame,
      stages: (String, String, String))
      : org.apache.spark.sql.Dataset[FunnelOut] = {
    import s.implicits._
    val (s1, s2, s3) = stages

    def update(key: Long, events: Iterator[TickEvent],
        state: GroupState[FunnelState]): Iterator[FunnelOut] = {
      val out = Vector.newBuilder[FunnelOut]
      var st = state.getOption.getOrElse(FunnelState(None, None, None))
      inOrder(events).foreach { e =>
        val us = usOf(e.ts)
        if (st.t1.isEmpty && e.event_type == s1) {
          st = st.copy(t1 = Some(us))
          out += FunnelOut(key, 1, e.ts)
        } else if (st.t1.isDefined && st.t2.isEmpty &&
            e.event_type == s2 && us > st.t1.get) {
          st = st.copy(t2 = Some(us))
          out += FunnelOut(key, 2, e.ts)
        } else if (st.t2.isDefined && st.t3.isEmpty &&
            e.event_type == s3 && us > st.t2.get) {
          st = st.copy(t3 = Some(us))
          out += FunnelOut(key, 3, e.ts)
        }
      }
      state.update(st)
      out.result().iterator
    }

    keyed(stream, GroupStateTimeout.NoTimeout)(_.user_id)(update)
  }

  def st20FromStream(s: SparkSession, stream: DataFrame,
      stages: (String, String, String)): DataFrame =
    collect(s, "st20", st20Transform(s, stream, stages))
      .select(col("user_id"), col("stage"), col("ts"))
      .orderBy(col("user_id"), col("stage"))

  def st20StreamFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stages = graft.Tables.events(s, dir)
      .select(col("event_type")).distinct()
      .orderBy(col("event_type")).limit(3).as[String].collect()
    require(stages.length == 3,
      s"funnel needs 3 event types, got ${stages.length}")
    st20FromStream(s, eventStream(s, dir),
      (stages(0), stages(1), stages(2)))
  }

  /** st27 per-ticker ensemble state: prefix moments (st08's exact
    * two-limb s2) + the two CUSUM accumulators + the ≤6-value Hampel
    * ring — all three detectors' entire lookback in ~11 longs per LIVE
    * key however long the stream runs.
    */
  case class EnsState(lastUs: Long, n: Long, s1: Long, s2Hi: Long,
      s2Lo: Long, sPos: Long, sNeg: Long, ring: Array[Long])

  case class EnsOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, zscore6: Double,
      z_flag: Int, cusum_flag: Int, hampel_flag: Int, votes: Int,
      ensemble_flag: Int)

  /** st27: q95's detector ENSEMBLE answered LIVE — three causal
    * detectors sharing ONE state pass and one shuffle instead of the
    * three-way join the batch twin runs: the prefix z-test (st08's
    * causal standardization), the CUSUM persistence test (st08's
    * integer recursion on the quantized z), and a causal Hampel
    * (q53's selection-median/MAD over the trailing ≤7 prints — the
    * ring IS the whole lookback). Votes ∈ 0..3, page at the ≥ 2
    * majority: a seasonal level-step that fools the z-test still
    * needs a second detector to agree before anyone is woken up.
    *
    * Determinism contract (§8): values quantize to 1e-4 longs; z from
    * exact BigInt moments with one correctly-rounded conversion,
    * 1e-6-floored; the CUSUM runs in pure integers; the Hampel
    * median/MAD use q53's exact rank-selection formula ((a+b)/2.0 on
    * the exact long pair) so the DuckDB oracle (prefix windows + the
    * closed-form CUSUM + list-frame selection medians per segment)
    * matches bit-for-bit. EventTimeTimeout eviction + the in-data
    * staleness gap restart the segment exactly like st02/st08; same
    * in-order contract.
    */
  def st27Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[EnsOut] = {
    import s.implicits._
    val k = 500000L // CUSUM slack: 0.5 sigma in 1e6 fixed point
    val h = 5000000L // CUSUM decision threshold: 5 sigma
    // a new segment restarts every detector
    val empty = EnsState(Long.MinValue, 0L, 0L, 0L, 0L, 0L, 0L,
      Array.empty[Long])

    // q53's selection median: 1-indexed picks (k+1)//2 and k//2+1
    // averaged over the EXACT long sum — the oracle's (a + b) / 2.0
    def medLong(sorted: Array[Long]): Double = {
      val m = sorted.length
      (sorted((m + 1) / 2 - 1) + sorted(m / 2)) / 2.0
    }
    def medDouble(sorted: Array[Double]): Double = {
      val m = sorted.length
      (sorted((m + 1) / 2 - 1) + sorted(m / 2)) / 2.0
    }

    perTicker(stream)(segments[Ticker, EnsState, EnsOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      val st = prev.getOrElse(empty)
      // detector 1: causal z against prefix moments incl. current
      val n = st.n + 1
      val s1 = st.s1 + vl
      val s2 = fromLimbs(st.s2Hi, st.s2Lo) + BigInt(vl) * vl
      val c = BigInt(n) * s2 - BigInt(s1) * BigInt(s1)
      val zf =
        if (n > 1 && c > 0) {
          val a = (BigInt(n) * BigInt(vl) - BigInt(s1)).toDouble
          math.floor(a / math.sqrt(c.toDouble * n / (n - 1)) *
            1000000.0 + 0.5).toLong
        } else 0L
      val zFlag = if (math.abs(zf) >= 3000000L) 1 else 0
      // detector 2: CUSUM persistence on the quantized z
      val sPos = math.max(0L, st.sPos + zf - k)
      val sNeg = math.max(0L, st.sNeg - zf - k)
      val cusumFlag = if (sPos > h || sNeg > h) 1 else 0
      // detector 3: causal Hampel over the trailing <=7 prints
      val win = st.ring :+ vl
      val med = medLong(win.sorted)
      val dev = math.abs(vl.toDouble - med)
      val mad = medDouble(win.map(x => math.abs(x.toDouble - med)).sorted)
      val hampelFlag =
        if (mad == 0.0) { if (dev > 0.0) 1 else 0 }
        else { if (dev > 3.0 * 1.4826 * mad) 1 else 0 }
      val votes = zFlag + cusumFlag + hampelFlag
      out += EnsOut(key._1, key._2, e.event_id, e.ts, vl / 10000.0,
        zf / 1000000.0, zFlag, cusumFlag, hampelFlag, votes,
        if (votes >= 2) 1 else 0)
      val (s2Hi, s2Lo) = toLimbs(s2)
      EnsState(usOf(e.ts), n, s1, s2Hi, s2Lo, sPos, sNeg, win.takeRight(6))
    })
  }

  def st27FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st27", st27Transform(s, stream, staleDays))("value",
      "zscore6", "z_flag", "cusum_flag", "hampel_flag", "votes",
      "ensemble_flag")

  def st27StreamEnsemble(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st27FromStream(s, eventStream(s, dir), staleDays)

  /** st28 per-ticker MACD state: the three dyadic EMA levels (fast ½,
    * slow ⅛, signal ¼ over the spread) + the previous histogram for
    * the cross test — 5 longs per LIVE key.
    */
  case class MacdState(lastUs: Long, lf: Long, ls: Long, g: Long,
      prevHist: Long)

  case class MacdOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, macd4: Long, signal4: Long,
      hist4: Long, cross_flag: Int)

  /** st28: q98's MACD answered LIVE with the TRUE recursions — where
    * the batch twin approximates each EMA with a truncated kernel
    * (the windowable form), the stream carries the real geometric
    * state: dyadic α = ½/⅛/¼ keep all three recursions EXACT in
    * fixed point (st22's discipline), the spread and histogram are
    * exact long differences, and the zero-cross flag an exact sign
    * test. First print seeds both levels at the print (spread 0) —
    * the standard warm-up. Staleness gaps / EventTimeTimeout restart
    * the segment; fully oracle-backed (recursive CTE per segment
    * carrying the three levels + previous histogram).
    */
  def st28Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[MacdOut] = {
    import s.implicits._
    perTicker(stream)(segments[Ticker, MacdState, MacdOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      prev match {
        case None =>
          out += MacdOut(key._1, key._2, e.event_id, e.ts,
            vl / 10000.0, 0L, 0L, 0L, 0)
          MacdState(usOf(e.ts), vl, vl, 0L, 0L)
        case Some(st) =>
          val lf = math.floor((vl + st.lf) / 2.0).toLong
          val ls = math.floor((vl + 7.0 * st.ls) / 8.0).toLong
          val macd = lf - ls
          val g = math.floor((macd + 3.0 * st.g) / 4.0).toLong
          val hist = macd - g
          val cross =
            if (hist > 0 && st.prevHist <= 0) 1
            else if (hist < 0 && st.prevHist >= 0) -1
            else 0
          out += MacdOut(key._1, key._2, e.event_id, e.ts,
            vl / 10000.0, macd, g, hist, cross)
          MacdState(usOf(e.ts), lf, ls, g, hist)
      }
    })
  }

  def st28FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st28", st28Transform(s, stream, staleDays))("value",
      "macd4", "signal4", "hist4", "cross_flag")

  def st28StreamMacd(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st28FromStream(s, eventStream(s, dir), staleDays)

  /** st29 per-user state: the previous event type + its µs — ONE
    * string and one long per live user, the smallest state in the
    * family.
    */
  case class LastTypeState(lastUs: Long, lastType: String)

  case class TransOut(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, from_type: String, to_type: String,
      p6: Long, rare_flag: Int)

  /** st29: RARE-TRANSITION detector — q107's Markov profile consulted
    * LIVE: each arrival closes a (from → to) behavioral transition
    * for its user, looks up the corpus-trained conditional
    * probability (the q107 table, catalog²-bounded, shipped into the
    * state operator as a broadcast-sized map — st24's stream-static
    * posture with the dimension folded into the task), and pages when
    * the user walks a path the corpus rarely walks. The "user 7 never
    * does X then Z" alert a threshold detector on values cannot
    * express.
    *
    * Semantics contract: a transition is emitted only when the gap to
    * the previous event is ≤ staleDays — the SAME rule the state
    * eviction enforces — so the DuckDB oracle (lag + gap filter +
    * the q107 chain joined back) replays it exactly; every observed
    * transition exists in the table by construction, so p6 is never
    * null. In-order contract per user (family rule).
    */
  def st29Transform(s: SparkSession, stream: DataFrame,
      probs: Map[(String, String), Long], rareBelow: Long,
      staleDays: Double): org.apache.spark.sql.Dataset[TransOut] = {
    import s.implicits._
    // a segment's first event closes no transition
    keyed(stream)(_.user_id)(segments[Long, LastTypeState, TransOut](
        staleDays, _.lastUs) { (key, e, _, prev, out) =>
      prev.foreach { st =>
        val p6 = probs.getOrElse((st.lastType, e.event_type), 0L)
        out += TransOut(key, e.event_id, e.ts, st.lastType,
          e.event_type, p6, if (p6 < rareBelow) 1 else 0)
      }
      LastTypeState(usOf(e.ts), e.event_type)
    })
  }

  def st29FromStream(s: SparkSession, stream: DataFrame,
      transitions: DataFrame, rareBelow: Long = 100000L,
      staleDays: Double = 8.0): DataFrame = {
    // catalog²-bounded profile — the broadcast dimension
    val probs = transitions
      .select(col("from_type"), col("to_type"), col("p6"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    eventRows(s, "st29",
      st29Transform(s, stream, probs, rareBelow, staleDays),
      Seq("user_id"))("from_type", "to_type", "p6", "rare_flag")
  }

  def st29StreamRareTransition(s: SparkSession, dir: String,
      rareBelow: Long = 100000L, staleDays: Double = 8.0): DataFrame =
    st29FromStream(s, eventStream(s, dir),
      graft.operators.SignalOps.q107MarkovTransitions(s, dir), rareBelow,
      staleDays)

  /** st30 state: st02's rolling-diff baseline plus the OPEN incident
    * accumulator (incN == 0 ⇔ no incident open).
    */
  case class IncidentState(base: TickerState, incN: Long,
      incStart: java.sql.Timestamp, incEnd: java.sql.Timestamp,
      peakZ: Double, nSd: Long, nRep: Long)

  case class IncidentOut(user_id: Long, event_type: String,
      start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp,
      duration_us: Long, n_events: Long, peak_z: Double, n_sd: Long,
      n_rep: Long)

  /** st30: LIVE INCIDENT TRACKER — q103's incident report with q103's
    * stated consumer (on-call) served live: st02's per-event anomaly
    * verdict (same exact fixed-point z and repetition run over the
    * same 28-diff baseline) is chained into contiguous incidents
    * INSIDE the state, and ONE row per incident is emitted when the
    * incident CLOSES — a clean observation arrives (data-driven
    * close), the staleness gap splits the segment (st02's in-data gap
    * rule), or the watermark outlives the key (EventTimeTimeout, same
    * eviction discipline as st02, so key churn cannot leak state). A
    * 3-day degradation pages once, with its shape — not 17 times.
    *
    * Determinism: every closure path is replayable — data closes are
    * islands followed by a non-flagged row; gap and timeout closes
    * reuse st02's PROVEN ms-floor staleness arithmetic, so the oracle
    * is st02's replay chain + gaps-and-islands + that eligibility
    * rule. Open incidents at the watermark frontier are NOT emitted
    * (they are not closed — exactly the rows the oracle excludes).
    *
    * Scale shape: state is O(dataPeriods) per LIVE key (the incident
    * accumulator is 6 scalars); output is incident-cardinality, not
    * event-cardinality.
    */
  def st30Transform(s: SparkSession, stream: DataFrame,
      cfg: AnomalyConfig = AnomalyConfig(),
      staleDays: Double = 8.0)
      : org.apache.spark.sql.Dataset[IncidentOut] = {
    import s.implicits._
    // a closed incident emits its row; a closed segment closes its
    // open incident
    def emit(key: Ticker, st: IncidentState, out: Out[IncidentOut]): Unit =
      if (st.incN > 0)
        out += IncidentOut(key._1, key._2, st.incStart, st.incEnd,
          usOf(st.incEnd) - usOf(st.incStart), st.incN, st.peakZ,
          st.nSd, st.nRep)

    perTicker(stream)(segments[Ticker, IncidentState, IncidentOut](
        staleDays, st => usOf(st.base.lastTs), emit) {
        (key, e, v4, prev, out) =>
      prev match {
        case None =>
          IncidentState(seedBase(e, v4), 0L, e.ts, e.ts, 0.0, 0L, 0L)
        case Some(st0) =>
          // st02's exact chain and flags
          val nb = advance(st0.base, e, v4, cfg.dataPeriods)
          val z = zscore(nb.diffs)
          val sdFlag = if (z >= cfg.stddevLim) 1L else 0L
          val repFlag = if (nb.runLength >= cfg.repLim) 1L else 0L
          if (sdFlag == 1L || repFlag == 1L) {
            if (st0.incN == 0L)
              IncidentState(nb, 1L, e.ts, e.ts, z, sdFlag, repFlag)
            else
              IncidentState(nb, st0.incN + 1, st0.incStart, e.ts,
                math.max(st0.peakZ, z), st0.nSd + sdFlag,
                st0.nRep + repFlag)
          } else {
            emit(key, st0, out)
            IncidentState(nb, 0L, e.ts, e.ts, 0.0, 0L, 0L)
          }
      }
    })
  }

  def st30FromStream(s: SparkSession, stream: DataFrame,
      cfg: AnomalyConfig = AnomalyConfig(),
      staleDays: Double = 8.0): DataFrame =
    collect(s, "st30", st30Transform(s, stream, cfg, staleDays))
      .orderBy(col("user_id"), col("event_type"), col("start_ts"),
        col("end_ts"))

  def st30StreamIncidents(s: SparkSession, dir: String,
      cfg: AnomalyConfig = AnomalyConfig(),
      staleDays: Double = 8.0): DataFrame =
    st30FromStream(s, eventStream(s, dir), cfg, staleDays)

  /** st32 per-ticker turning-point state: O(1) — the last two grid
    * values, the print count and the confirmed interior-turn count;
    * last event time for the staleness segment restart.
    */
  case class TurnState(lastUs: Long, prev2: Long, hasPrev2: Boolean,
      prev: Long, n: Long, turns: Long)

  case class TurnOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, n_obs: Long, n_turns: Long,
      tp_z6: Option[Long], nonrandom_flag: Int)

  /** st32: q122's turning-point randomness screen answered LIVE —
    * each arrival CONFIRMS (or not) the previous print as a strict
    * interior extremum, so the turn count among the first n prints is
    * exact at every n and z_n = (3T−2n+4)/(3√((16n−29)/90)) streams
    * with three longs of state per key. Too few turns = the feed is
    * trending/momentum-driven; too many = oscillating (an
    * over-differenced upstream), both flagged at |z| > 1.96 once
    * n ≥ 8. Staleness gaps and EventTimeTimeout eviction restart the
    * segment (st08's convention); fully oracle-backed — the turn
    * confirmations and prefix counts replay as segmented lag windows.
    */
  def st32Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[TurnOut] = {
    import s.implicits._
    perTicker(stream)(segments[Ticker, TurnState, TurnOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      prev match {
        case None =>
          out += TurnOut(key._1, key._2, e.event_id, e.ts,
            vl / 10000.0, 1L, 0L, None, 0)
          TurnState(usOf(e.ts), 0L, hasPrev2 = false, vl, 1L, 0L)
        case Some(st) =>
          val turned = st.hasPrev2 &&
            ((st.prev2 < st.prev && st.prev > vl) ||
             (st.prev2 > st.prev && st.prev < vl))
          val turns = st.turns + (if (turned) 1L else 0L)
          val n = st.n + 1
          val z6 =
            if (n >= 8)
              Some(math.floor(
                (3 * turns - 2 * n + 4).toDouble /
                  (3.0 * math.sqrt((16 * n - 29).toDouble / 90.0)) *
                  1000000.0 + 0.5).toLong)
            else None
          out += TurnOut(key._1, key._2, e.event_id, e.ts,
            vl / 10000.0, n, turns, z6,
            if (z6.exists(z => math.abs(z) > 1960000L)) 1 else 0)
          TurnState(usOf(e.ts), st.prev, hasPrev2 = true, vl, n, turns)
      }
    })
  }

  def st32FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st32", st32Transform(s, stream, staleDays))("value",
      "n_obs", "n_turns", "tp_z6", "nonrandom_flag")

  def st32StreamTurningPoints(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st32FromStream(s, eventStream(s, dir), staleDays)

  /** st33 per-ticker drawdown state: O(1) — the running peak, the
    * worst drawdown so far and the current underwater run length;
    * last event time for the staleness segment restart.
    */
  case class DrawdownState(lastUs: Long, peak4: Long, maxDd4: Long,
      uwRun: Long)

  case class DrawdownOut(user_id: Long, event_type: String,
      event_id: Long, ts: java.sql.Timestamp, value: Double,
      peak: Double, drawdown: Double, dd_frac6: Option[Long],
      underwater_run: Long, max_drawdown: Double)

  /** st33: q89's drawdown report answered LIVE — the running peak,
    * the current drawdown (peak − value, the number a risk desk
    * watches tick by tick), its fraction of peak (q89's exact
    * integer-div convention), the current underwater run length and
    * the worst drawdown SO FAR, all from three longs of state per
    * key. The batch report summarizes after the fact; the live twin
    * is what pages someone while the drawdown is still deepening.
    * Staleness gaps and EventTimeTimeout eviction restart the
    * segment; fully oracle-backed — running max windows and q89's
    * run-grouping trick replay it exactly per segment.
    */
  def st33Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[DrawdownOut] = {
    import s.implicits._
    perTicker(stream)(segments[Ticker, DrawdownState, DrawdownOut](
        staleDays, _.lastUs) { (key, e, vl, prev, out) =>
      val st = prev.getOrElse(DrawdownState(0L, vl, 0L, 0L))
      val peak = math.max(st.peak4, vl)
      val dd = peak - vl
      val maxDd = math.max(st.maxDd4, dd)
      val uwRun = if (dd > 0) st.uwRun + 1 else 0L
      val frac =
        if (peak > 0) Some(dd * 1000000L / peak) else None
      out += DrawdownOut(key._1, key._2, e.event_id, e.ts,
        vl / 10000.0, peak / 10000.0, dd / 10000.0, frac, uwRun,
        maxDd / 10000.0)
      DrawdownState(usOf(e.ts), peak, maxDd, uwRun)
    })
  }

  def st33FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st33", st33Transform(s, stream, staleDays))("value",
      "peak", "drawdown", "dd_frac6", "underwater_run", "max_drawdown")

  def st33StreamDrawdown(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st33FromStream(s, eventStream(s, dir), staleDays)

  /** st34 per-ticker interarrival state: O(1) — last event time, gap
    * count, gap sum and the two-limb gap square sum (st22's base-1e18
    * pair; gaps reach 6.9e11 µs so squares need 128 bits).
    */
  case class BurstState(lastUs: Long, n: Long, s1: Long,
      s2Hi: Long, s2Lo: Long)

  case class BurstOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, gap_us: Long, n_gaps: Long,
      mean_gap_us: Long, sd_gap_us: Option[Long], cv6: Option[Long],
      burstiness6: Option[Long], bursty_flag: Int)

  /** st34: q106's interarrival burstiness answered LIVE — the feed-
    * health number an ingestion on-call watches as prints arrive:
    * each gap extends the exact prefix gap moments and re-emits
    * B = (σ−μ)/(σ+μ) (Goh & Barabási 2008's bounded burstiness), so
    * a feed drifting from steady (B < 0) toward bursty batching
    * (B → 1) pages at the print where it crossed 0.3, not at the
    * nightly batch. State is five longs per key; staleness gaps /
    * EventTimeTimeout restart the segment (the 8-day horizon would
    * otherwise dominate every moment). Exactness: gaps are exact µs
    * longs, s2 exact via the two-limb pair, c = n·s2 − s1² exact
    * BigInt, and q106's identical IEEE chain (BigInt.toDouble ≡ the
    * batch's decimal→double cast, both correctly rounded) emits the
    * same 1e-6-floored fixed points. Fully oracle-backed: segmented
    * prefix gap moments + the q106 chain per row.
    */
  def st34Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0, minGaps: Int = 4):
      org.apache.spark.sql.Dataset[BurstOut] = {
    import s.implicits._
    perTicker(stream)(segments[Ticker, BurstState, BurstOut](staleDays,
        _.lastUs) { (key, e, _, prev, out) =>
      prev match {
        case None =>
          BurstState(usOf(e.ts), 0L, 0L, 0L, 0L)
        case Some(st) =>
          val g = usOf(e.ts) - st.lastUs
          val n = st.n + 1
          val s1 = st.s1 + g
          val s2 = fromLimbs(st.s2Hi, st.s2Lo) + BigInt(g) * BigInt(g)
          val mean = s1 / n
          val c = BigInt(n) * s2 - BigInt(s1) * BigInt(s1)
          val sd =
            if (n >= minGaps)
              Some(math.floor(math.sqrt(
                c.max(BigInt(0)).toDouble / (n * (n - 1))) +
                0.5).toLong)
            else None
          val cv = sd.flatMap(sdv =>
            if (mean > 0)
              Some(math.floor(
                sdv.toDouble / mean * 1000000.0 + 0.5).toLong)
            else None)
          val burst = sd.flatMap(sdv =>
            if (sdv + mean > 0)
              Some(math.floor((sdv - mean).toDouble / (sdv + mean) *
                1000000.0 + 0.5).toLong)
            else None)
          out += BurstOut(key._1, key._2, e.event_id, e.ts, g, n,
            mean, sd, cv, burst,
            if (burst.exists(_ > 300000L)) 1 else 0)
          val (s2Hi, s2Lo) = toLimbs(s2)
          BurstState(usOf(e.ts), n, s1, s2Hi, s2Lo)
      }
    })
  }

  def st34FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st34", st34Transform(s, stream, staleDays))("gap_us",
      "n_gaps", "mean_gap_us", "sd_gap_us", "cv6", "burstiness6",
      "bursty_flag")

  def st34StreamBurstiness(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st34FromStream(s, eventStream(s, dir), staleDays)

  /** st35 per-ticker flap state: st02's baseline (TickerState) plus
    * four scalars — prints seen, alerts, verdict transitions and the
    * last verdict.
    */
  case class FlapState(base: TickerState, n: Long, nAlerts: Long,
      flips: Long, lastVerdict: Int)

  case class FlapOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, anomaly: Int, n_obs: Long, n_alerts: Long,
      n_flips: Long, flip_rate6: Option[Long], flapping_flag: Int,
      suppressed_flag: Int)

  /** st35: q126's flap suppression answered LIVE — the page-or-hold
    * decision made AT THE PRINT: st02's exact per-event verdict (the
    * same 28-diff fixed-point z and repetition run st30 rides) feeds
    * a per-key transition counter, and once the verdict has toggled
    * past q126's bar (rate > 0.3 over ≥ 6 flips) the ticker is
    * declared FLAPPING and its further alert prints carry
    * suppressed_flag = 1 — the on-call pages on st30's incidents,
    * not on a marginal z oscillating at the threshold. State is
    * st02's baseline plus four scalars; staleness gaps /
    * EventTimeTimeout restart both the baseline and the flap
    * counters. Fully oracle-backed — st30's replay chain emits the
    * identical verdict per print, and the flip statistics are lag
    * windows over it.
    */
  def st35Transform(s: SparkSession, stream: DataFrame,
      cfg: AnomalyConfig = AnomalyConfig(),
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[FlapOut] = {
    import s.implicits._
    perTicker(stream)(segments[Ticker, FlapState, FlapOut](staleDays,
        st => usOf(st.base.lastTs)) { (key, e, v4, prev, out) =>
      prev match {
        case None =>
          out += FlapOut(key._1, key._2, e.event_id, e.ts, 0, 1L,
            0L, 0L, None, 0, 0)
          FlapState(seedBase(e, v4), 1L, 0L, 0L, 0)
        case Some(st0) =>
          // st02/st30's exact chain and flags
          val nb = advance(st0.base, e, v4, cfg.dataPeriods)
          val z = zscore(nb.diffs)
          val verdict =
            if (z >= cfg.stddevLim || nb.runLength >= cfg.repLim) 1 else 0
          val flip = if (verdict != st0.lastVerdict) 1L else 0L
          val nObs = st0.n + 1
          val alerts = st0.nAlerts + verdict
          val flips = st0.flips + flip
          val rate = Some(math.floor(
            flips.toDouble / (nObs - 1) * 1000000.0 + 0.5).toLong)
          val flapping =
            if (rate.exists(_ > 300000L) && flips >= 6) 1 else 0
          out += FlapOut(key._1, key._2, e.event_id, e.ts, verdict,
            nObs, alerts, flips, rate, flapping,
            if (flapping == 1 && verdict == 1) 1 else 0)
          FlapState(nb, nObs, alerts, flips, verdict)
      }
    })
  }

  def st35FromStream(s: SparkSession, stream: DataFrame,
      cfg: AnomalyConfig = AnomalyConfig(),
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st35", st35Transform(s, stream, cfg, staleDays))(
      "anomaly", "n_obs", "n_alerts", "n_flips", "flip_rate6",
      "flapping_flag", "suppressed_flag")

  /** st36 per-ticker extreme state: O(1) — last event time, count,
    * value sum, two-limb square sum, running min and max.
    */
  case class ExtremeState(lastUs: Long, n: Long, s1: Long,
      s2Hi: Long, s2Lo: Long, minY: Long, maxY: Long)

  case class ExtremeOut(user_id: Long, event_type: String,
      event_id: Long, ts: java.sql.Timestamp, value: Double,
      n_obs: Long, run_min: Double, run_max: Double, g6: Option[Long],
      extreme_flag: Int)

  /** st36: q119's Grubbs question answered LIVE — "is the WORST
    * print seen so far surprising, given everything seen so far."
    * The batch statistic needs the full series, but the extreme
    * deviation collapses to the running ENVELOPE: max_s|y_s − ȳ_t| =
    * max(maxY − ȳ_t, ȳ_t − minY), so G_t streams with six longs of
    * state (count, sum, two-limb square sum, min, max). A feed whose
    * envelope G crosses the 3.0 bar is carrying a print its own
    * history cannot explain — the live version of the fat-finger
    * audit, complementing st02's z (which scores the CURRENT print,
    * not the worst one on record). Exactness: n·maxY − S1 and S1 −
    * n·minY are exact longs, M2 = nS2 − S1² exact via the two-limb
    * pair, and G is q119's identical IEEE chain (BigInt.toDouble ≡
    * decimal→double) 1e-6-floored; constant-so-far series (M2 = 0)
    * report NULL. Staleness gaps / EventTimeTimeout restart the
    * segment. Fully oracle-backed: segmented prefix min/max/moment
    * windows + the q119 chain per row.
    */
  def st36Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0, minObs: Int = 3):
      org.apache.spark.sql.Dataset[ExtremeOut] = {
    import s.implicits._
    perTicker(stream)(segments[Ticker, ExtremeState, ExtremeOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      val st = prev.getOrElse(ExtremeState(0L, 0L, 0L, 0L, 0L, vl, vl))
      val n = st.n + 1
      val s1 = st.s1 + vl
      val s2 = fromLimbs(st.s2Hi, st.s2Lo) + BigInt(vl) * BigInt(vl)
      val mn = math.min(st.minY, vl)
      val mx = math.max(st.maxY, vl)
      val m2 = BigInt(n) * s2 - BigInt(s1) * BigInt(s1)
      // maxdev = max(n*max - S1, S1 - n*min), q119's integer form
      val maxdev = (BigInt(n) * mx - BigInt(s1))
        .max(BigInt(s1) - BigInt(n) * mn)
      val g6 =
        if (n >= minObs && m2 > 0)
          Some(math.floor(maxdev.toDouble /
            math.sqrt(m2.toDouble * n / (n - 1)) *
            1000000.0 + 0.5).toLong)
        else None
      out += ExtremeOut(key._1, key._2, e.event_id, e.ts,
        vl / 10000.0, n, mn / 10000.0, mx / 10000.0, g6,
        if (g6.exists(_ > 3000000L)) 1 else 0)
      val (s2Hi, s2Lo) = toLimbs(s2)
      ExtremeState(usOf(e.ts), n, s1, s2Hi, s2Lo, mn, mx)
    })
  }

  def st36FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st36", st36Transform(s, stream, staleDays))("value",
      "n_obs", "run_min", "run_max", "g6", "extreme_flag")

  def st36StreamExtremes(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st36FromStream(s, eventStream(s, dir), staleDays)

  /** st30's sensitive per-event bar (2.5σ, 2-run, 28-diff frame) is
    * the right default here too: flap SUPPRESSION is what makes a
    * sensitive bar tolerable, and the 4.5/3 pager bar never toggles
    * on this feed (a vacuous flap detector). The oracle hard-codes
    * the same bar.
    */
  def st35StreamFlap(s: SparkSession, dir: String,
      cfg: AnomalyConfig =
        AnomalyConfig(dataPeriods = 28, stddevLim = 2.5, repLim = 2),
      staleDays: Double = 8.0): DataFrame =
    st35FromStream(s, eventStream(s, dir), cfg, staleDays)

  /** st37 state: st09's exact dyadic Holt pair plus the running
    * backtest integers — previous print (the naive forecaster),
    * Σ|model error| and Σ|naive error| over the scored prints.
    */
  case class MaseState(lastUs: Long, l: Long, b: Long, prevV: Long,
      sae: Long, san: Long, n: Long)

  case class MaseOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, n_scored: Long,
      mase6: Option[Long], beats_naive_flag: Int)

  /** st37: q127's forecast backtest answered LIVE — "is the
    * forecaster earning its keep RIGHT NOW", per print: the same
    * dyadic Holt recursion st09 runs (bit-for-bit) also scores each
    * print against the naive lag-1 forecaster, and the running
    * MASE = Σ|e_model|/Σ|e_naive| over the segment's scored prints
    * is published with every event — the moment it crosses 1 the
    * consumer knows yesterday's print has started beating the model
    * (q127 renders that verdict once per batch; an on-call decision
    * needs it at the print). State is SEVEN longs per key: st09's
    * (lastUs, l, b) plus prevV and the two exact error sums. The
    * running MASE is ONE IEEE division of exact longs, 1e-6-floored.
    * Staleness gaps / EventTimeTimeout restart the segment exactly
    * like st09 (the oracle replays per segment). Same in-order
    * contract as st02.
    */
  def st37Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): org.apache.spark.sql.Dataset[MaseOut] = {
    import s.implicits._
    perTicker(stream)(segments[Ticker, MaseState, MaseOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      prev match {
        case None =>
          out += MaseOut(key._1, key._2, e.event_id, e.ts,
            vl / 10000.0, 0L, None, 0)
          MaseState(usOf(e.ts), vl, 0L, vl, 0L, 0L, 0L)
        case Some(st) =>
          val err = vl - (st.l + st.b)
          val d = vl - st.prevV
          val sae = st.sae + math.abs(err)
          val san = st.san + math.abs(d)
          val n = st.n + 1
          val mase6 =
            if (san > 0)
              Some(math.floor(sae.toDouble / san.toDouble *
                1000000.0 + 0.5).toLong)
            else None
          val l2 = math.floor((vl + st.l + st.b) / 2.0).toLong
          val b2 = math.floor((l2 - st.l + 3.0 * st.b) / 4.0).toLong
          out += MaseOut(key._1, key._2, e.event_id, e.ts,
            vl / 10000.0, n, mase6,
            if (mase6.exists(_ < 1000000L)) 1 else 0)
          MaseState(usOf(e.ts), l2, b2, vl, sae, san, n)
      }
    })
  }

  def st37FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st37", st37Transform(s, stream, staleDays))("value",
      "n_scored", "mase6", "beats_naive_flag")

  def st37StreamMase(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st37FromStream(s, eventStream(s, dir), staleDays)

  /** st38 per-type streaming PSI state: `buckets` longs + a total +
    * the last event time for eviction — st13's histogram shape, but
    * ACCUMULATING per print instead of resetting per window.
    */
  case class PsiState(lastUs: Long, counts: Array[Long], total: Long)

  case class PsiOut(event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, n_seen: Long, psi9: Long,
      drift_flag: Int)

  /** st38: q61's Population-Stability drift served PER PRINT — the
    * last batch drift family with no per-arrival live twin (st13
    * answers it per closed 6 h window; an operator watching a feed
    * cut over mid-window wants the verdict to move with EVERY print).
    * Per event_type the state is st13's fixed-domain 10-bucket
    * histogram, accumulated since the segment started; each arrival
    * bumps its bucket and re-scores the PREFIX occupancy against the
    * staged-history reference (st13Reference — first-half-of-span
    * counts) with the add-one-smoothed PSI, terms 1e-9 fixed-point
    * longs summed in fixed bucket order (q61/st13's exact chain), so
    * `psi9` is exact and the entry replays in SQL with NO recursion:
    * prefix bucket counts are ten conditional running window sums
    * (SignalOracle.st38). Flag at the conventional 0.2 bar.
    *
    * Restart-proofness is st22's segment convention: an 8-day in-data
    * gap resets the histogram (a feed silent that long is a new
    * regime), and EventTimeTimeout eviction at the same horizon means
    * a processing restart can never produce output a cold replay of
    * the data wouldn't — the segment id is a pure function of the
    * (ts, event_id) order. A type absent from the reference scores
    * against the flat smoothed prior — loudly, which is the point.
    */
  def st38Transform(s: SparkSession, stream: DataFrame,
      ref: Map[String, Array[Long]], buckets: Int = 10,
      domainMax: Double = 1000.0, staleDays: Double = 8.0)
      : org.apache.spark.sql.Dataset[PsiOut] = {
    import s.implicits._
    val width = math.max(1L, scale4(domainMax, "domainMax") / buckets)
    val flat = new Array[Long](buckets)
    val refTotal = ref.map { case (t, rc) => t -> rc.sum }
    // a quiet type's next arrival starts a new segment
    keyed(stream)(_.event_type)(segments[String, PsiState, PsiOut](
        staleDays, _.lastUs) { (key, e, v4, prev, out) =>
      val rc = ref.getOrElse(key, flat)
      val rTot = refTotal.getOrElse(key, 0L)
      val st = prev.getOrElse(
        PsiState(usOf(e.ts), new Array[Long](buckets), 0L))
      val b = math.min(buckets - 1L, math.max(0L, v4 / width)).toInt
      val counts = st.counts.clone()
      counts(b) += 1
      val total = st.total + 1
      var psi9 = 0L
      var j = 0
      while (j < buckets) {
        val p = (rc(j) + 1).toDouble / (rTot + buckets)
        val q = (counts(j) + 1).toDouble / (total + buckets)
        psi9 += math.floor((p - q) * math.log(p / q) * 1e9 + 0.5).toLong
        j += 1
      }
      out += PsiOut(key, e.event_id, e.ts, v4 / 10000.0, total, psi9,
        if (psi9 > 200000000L) 1 else 0)
      PsiState(usOf(e.ts), counts, total)
    })
  }

  def st38FromStream(s: SparkSession, stream: DataFrame,
      ref: Map[String, Array[Long]], staleDays: Double = 8.0): DataFrame =
    eventRows(s, "st38",
      st38Transform(s, stream, ref, staleDays = staleDays),
      Seq("event_type"))("value", "n_seen", "psi9", "drift_flag")

  def st38StreamPsi(s: SparkSession, dir: String,
      staleDays: Double = 8.0): DataFrame =
    st38FromStream(s, eventStream(s, dir), st13Reference(s, dir), staleDays)

  case class SpearOut(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, n_window: Int,
      rho6: Option[Long], mono_flag: Int)

  /** st39: WINDOWED SPEARMAN rank trend — the rank-correlation
    * family's live twin, closing the last documented batch/live
    * asymmetry: q80's statistic (ρ = 1 − 6Σd²/(n³−n), permutation
    * ranks with a deterministic tie order) cannot stream over full
    * history because every arrival re-ranks everything; over st15's
    * bounded 16-obs ring it re-ranks 16 values per print — O(w log w)
    * in-task — and answers "is this feed moving MONOTONELY right
    * now", robust to any re-scale that would decay st15's Sen slope
    * magnitude or a rolling Pearson. Rank axes: arrival position
    * (the (ts, event_id) ring order — q80's day axis, never tied)
    * vs value with the (value, position) deterministic tie order
    * (q80's (value, day) convention). Exactness: both rank vectors
    * and Σd² are exact integers (w ≤ 16 ⇒ M = w³−w ≤ 4080), ρ is ONE
    * double division floored to 1e-6; fewer than `minWin` in-window
    * points emit NULL. |ρ| ≥ 0.8 flags a monotone move. Staleness
    * gaps and EventTimeTimeout eviction clear the ring (the family's
    * segment-restart rule); fully oracle-backed — the replay needs NO
    * recursion, just a seq-bounded self-join per 8-day segment and
    * two rank windows per anchor (SignalOracle.st39).
    */
  def st39Transform(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0, window: Int = 16,
      minWin: Int = 5): org.apache.spark.sql.Dataset[SpearOut] = {
    import s.implicits._
    // a new segment's ring starts empty
    val empty = TrendState(0L, Array.empty[Long], Array.empty[Long])
    perTicker(stream)(segments[Ticker, TrendState, SpearOut](staleDays,
        _.lastUs) { (key, e, vl, prev, out) =>
      val st = prev.getOrElse(empty)
      val ts2 = (st.tus :+ usOf(e.ts)).takeRight(window)
      val vs2 = (st.v4l :+ vl).takeRight(window)
      val m = vs2.length
      if (m < minWin) {
        out += SpearOut(key._1, key._2, e.event_id, e.ts,
          vl / 10000.0, m, None, 0)
      } else {
        // ry(i) = permutation rank of (value, position); rx = i+1
        var dd = 0L
        var i = 0
        while (i < m) {
          var below = 0
          var j = 0
          while (j < m) {
            if (vs2(j) < vs2(i) || (vs2(j) == vs2(i) && j < i)) below += 1
            j += 1
          }
          val d = (i + 1).toLong - (below + 1).toLong
          dd += d * d
          i += 1
        }
        val bigM = m.toLong * m * m - m
        val rho6 = math.floor((bigM - 6L * dd).toDouble / bigM.toDouble *
          1000000.0 + 0.5).toLong
        out += SpearOut(key._1, key._2, e.event_id, e.ts,
          vl / 10000.0, m, Some(rho6),
          if (math.abs(rho6) >= 800000L) 1 else 0)
      }
      TrendState(usOf(e.ts), ts2, vs2)
    })
  }

  def st39FromStream(s: SparkSession, stream: DataFrame,
      staleDays: Double = 8.0, window: Int = 16): DataFrame =
    eventRows(s, "st39", st39Transform(s, stream, staleDays, window))(
      "value", "n_window", "rho6", "mono_flag")

  def st39StreamSpearman(s: SparkSession, dir: String,
      staleDays: Double = 8.0, window: Int = 16): DataFrame =
    st39FromStream(s, eventStream(s, dir), staleDays, window)
}
