package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** CDC materialization re-expressed on Spark 4's `transformWithState`
  * (arbitrary stateful processing v2) — the same LWW fold contract as
  * [[CdcMaterializer]] (#32: upsert/delete, `(tsUs, seq)` stale-drop,
  * batching-invariant), kept semantically interchangeable so either
  * engine can own the view.
  *
  * What the v2 API buys over `flatMapGroupsWithState`:
  *  - NAMED state variables (`getValueState("materialized", ...)`) instead
  *    of one opaque state blob per key — additional per-key state (say, a
  *    change counter) becomes another named variable, not a wider case
  *    class rewriting every stored row;
  *  - FIRST-CLASS TIMERS, decoupled from state writes: a tombstone
  *    schedules its own expiry and a livening re-insert cancels it
  *    (`deleteTimer`), where the v1 fold could only overload the single
  *    per-key timeout;
  *  - runs on the RocksDB state store provider (required), the backend
  *    that keeps 100 TB-scale key cardinality off-heap with changelog
  *    checkpointing.
  */
class CdcStateProcessor(tombstoneTtlMs: Long)
    extends StatefulProcessor[Long, Change, KeyState] {

  @transient private var state: ValueState[KeyState]   = _
  @transient private var timerAt: ValueState[Long]      = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    // TTLConfig.NONE deliberately: a blanket value-state TTL would expire
    // LIVE keys that simply stopped changing — the wrong semantic for a
    // materialized view. Expiry is tombstone-only, via timers below.
    state = getHandle.getValueState("materialized", Encoders.product[KeyState], TTLConfig.NONE)
    // Second NAMED state variable: the expiry this key's tombstone timer
    // was armed at. The registered instant includes a watermark clamp, so
    // it is not recomputable from KeyState alone — remembering it lets a
    // livening re-insert disarm exactly that timer instead of range-scanning
    // the timer column family (`listTimers`) on every batch.
    timerAt = getHandle.getValueState("timerAt", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[Change],
      timers: TimerValues): Iterator[KeyState] = {
    CdcMaterializer.applyKeyState(key, rows, if (state.exists()) Option(state.get()) else None) match {
      case Some(s) =>
        state.update(s)
        // Timer work ONLY on tombstone transitions — the upsert-dominated
        // hot path (live key stays live) never touches the timer CF.
        if (tombstoneTtlMs > 0L && (s.deleted || timerAt.exists())) {
          if (timerAt.exists()) { // an old tombstone timer is armed: disarm it
            getHandle.deleteTimer(timerAt.get())
            timerAt.clear()
          }
          if (s.deleted) { // (re-)arm the GC timer for the new tombstone
            val at = math.max(s.tsUs / 1000L + tombstoneTtlMs, timers.getCurrentWatermarkInMs() + 1L)
            getHandle.registerTimer(at)
            timerAt.update(at)
          }
        }
        Iterator.single(s)
      case None => Iterator.empty
    }
  }

  /** Only tombstones arm timers, so an expiry always means "drop the
    * tombstone". The purged tombstone is re-emitted as the key's final
    * row — a GC marker downstream consumers can observe (idempotent for
    * them: the key was already deleted) and the observable proof the
    * state left the store, since event-time mode filters any late probe
    * a test could send. Stragglers older than watermark+ttl then
    * re-materialize as new — the documented tradeoff, same as
    * [[CdcMaterializer.foldExpiring]].
    */
  override def handleExpiredTimer(
      key: Long,
      timers: TimerValues,
      info: ExpiredTimerInfo): Iterator[KeyState] = {
    val last = if (state.exists()) Iterator.single(state.get()) else Iterator.empty
    state.clear()
    timerAt.clear()
    last
  }
}

object StateMaterializer {

  /** [[CdcMaterializer.materialize]] on the v2 engine. With
    * `tombstoneTtlMs > 0` the input must carry event time (a watermark is
    * applied) and tombstones self-expire via timers; with 0 the state
    * lives forever (TimeMode.None, no watermark needed).
    */
  def materialize(
      changes: Dataset[Change],
      watermarkDelay: String = "10 minutes",
      tombstoneTtlMs: Long = 0L): Dataset[KeyState] = {
    implicit val keyEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[KeyState]
    val (in, timeMode) =
      if (tombstoneTtlMs > 0L)
        (changes.withWatermark("ts", watermarkDelay), TimeMode.EventTime())
      else (changes, TimeMode.None())
    in.groupByKey(_.key)
      .transformWithState(new CdcStateProcessor(tombstoneTtlMs), timeMode, OutputMode.Update())
  }
}
