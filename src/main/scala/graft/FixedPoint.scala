package graft

/** The fixed-point rules the per-key folds share (§8 discipline):
  * event time as exact µs, values on the 1e-4 grid, and wide exact
  * sums held in state as two base-1e18 long limbs. One copy of each,
  * so the batch walks, the stream detectors and their oracles cannot
  * drift apart.
  */
private[graft] object FixedPoint {

  /** Epoch µs of a µs-precision Timestamp: the (µs, event_id) sort key
    * the per-key walks and stream folds share with their oracles'
    * (ts, event_id) ORDER BY. `getTime` is the ms floor and `getNanos`
    * the non-negative sub-second part, so the whole seconds are the
    * FLOOR of getTime / 1000 — truncating division would put a pre-1970
    * instant one second late.
    */
  def usOf(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** Epoch µs of event `eventId` at `t`, failing on event time before
    * 1970 and naming the event. A stream detector on an event-time
    * timeout needs ts >= 0: Spark's first-batch watermark is 0, so it
    * drops such an event as late before the detector's `update` sees
    * it, and a window ending at or before the epoch can never time out
    * (Spark requires a positive timeout timestamp). The check therefore
    * runs in the grouping key, which sees every event before that
    * filter (`StreamingAnomaly.keyed`).
    */
  def eventUs(t: java.sql.Timestamp, eventId: Long): Long = {
    val us = usOf(t)
    if (us < 0L)
      throw new IllegalArgumentException(s"event_id $eventId: event time " +
        s"$t is before 1970-01-01; event-time stream detectors need ts >= 0")
    us
  }

  /** Start µs of the `widthUs`-wide window holding event `eventId`
    * at `t`: the key of the windowed stream detectors, which close a
    * window by an event-time timeout at its end. Event time before
    * 1970 throws ([[eventUs]]): truncating division would put it in
    * the 1970-01-01 window.
    */
  def windowStartUs(t: java.sql.Timestamp, widthUs: Long,
      eventId: Long): Long =
    (eventUs(t, eventId) / widthUs) * widthUs

  /** 2^53: the first magnitude at which a double stops holding every
    * integer, so the 1e-4 grid is exact only below it.
    */
  private val MaxScaled = 9007199254740992.0

  /** `v` rounded half up to 4 decimals, as a long count of 1e-4 units
    * (batch q09's `round(v, 4)` before differencing). A NaN, an
    * infinity or |v·1e4| ≥ 2^53 has no such long — `toLong` would turn
    * NaN into 0 and ±Inf into ±Long.MaxValue, a silent spike — so it
    * throws, naming `key` and `eventId` (omit `eventId` for a
    * parameter that is not an event's value).
    */
  def scale4(v: Double, key: Any, eventId: Long = Long.MinValue): Long = {
    val x = math.floor(v * 10000.0 + 0.5)
    if (math.abs(x) < MaxScaled) x.toLong
    else {
      val at =
        if (eventId == Long.MinValue) s"$key" else s"key $key, event_id $eventId"
      throw new IllegalArgumentException(s"$at: value $v is not on the " +
        "1e-4 fixed-point grid (NaN, infinite or |value·1e4| >= 2^53)")
    }
  }

  private val Limb = BigInt(1000000000000000000L) // 1e18

  /** An exact integer held in state as two base-1e18 long limbs
    * (hi·1e18 + lo, both truncated toward zero, so negatives round-trip
    * too): ~9.2e36 of headroom in pure-long state, where a Decimal(38,18)
    * field would overflow to NULL past ~1e20.
    */
  def fromLimbs(hi: Long, lo: Long): BigInt = Limb * hi + lo

  /** [[fromLimbs]]'s inverse; throws where the high limb would leave
    * the long range instead of wrapping it.
    */
  def toLimbs(s: BigInt): (Long, Long) = {
    val (hi, lo) = s /% Limb
    if (!hi.isValidLong)
      throw new ArithmeticException(s"$s exceeds two base-1e18 limbs")
    (hi.toLong, lo.toLong)
  }

  /** Long `i` of a window of longs held in state as one byte array,
    * 8 big-endian bytes each. A binary state field decodes without
    * `MapObjects`, whose lambda variable is renamed on every
    * micro-batch's re-plan, so its decoder compiles once per JVM where
    * an `Array[Long]` field's recompiles on every batch.
    */
  def longAt(bytes: Array[Byte], i: Int): Long =
    java.nio.ByteBuffer.wrap(bytes).getLong(i * 8)

  /** [[longAt]]'s inverse: writes `v` as long `i` of `bytes`. */
  def putLong(bytes: Array[Byte], i: Int, v: Long): Unit =
    java.nio.ByteBuffer.wrap(bytes).putLong(i * 8, v)
}
