package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Current materialized row for a key (the fold of its changefeed).
  * `(tsUs, seq)` is the commit position of the winning change — kept in
  * state so stale-detection orders ties exactly like the in-batch fold.
  */
case class KeyState(
    key: Long,
    tsUs: Long,
    seq: Long,
    payload: Map[String, String],
    deleted: Boolean,
) extends LwwState

/** A change event [[CdcMaterializer.applyLww]] orders: commit time `ts`
  * plus source LSN `seq`, and the `op`/`payload` a fold step reads.
  */
trait LwwEvent {
  def op: String
  def ts: java.sql.Timestamp
  def payload: Map[String, String]
  def seq: Long
}

/** A per-key fold state: `(tsUs, seq)` is the commit position of the
  * change that produced it, the position later changes are judged
  * stale against.
  */
trait LwwState {
  def tsUs: Long
  def seq: Long
}

/** CDC materialization (SURVEY.md §2.3 #32): fold a changefeed into
  * current-state rows with last-writer-wins upsert/delete semantics.
  *
  * State lives in Spark's keyed state store — one entry per live key,
  * partitioned by key hash, so state size scales with key cardinality and
  * executors, never with feed length. Out-of-order changes are resolved by
  * commit position `(tsUs, seq)`: a stale change (older position than the
  * state) is ignored. Because both the in-batch sort and the stale check
  * use the same total order, the fold is batching-invariant — the same
  * feed materializes identically however the changes are micro-batched.
  * Emitted rows are the post-batch state (Update output mode), i.e. the
  * materialized view's own changefeed.
  */
object CdcMaterializer {

  /** Full-precision commit time: java.sql.Timestamp.getTime is only
    * ms-accurate, which would make sub-ms changes tie (and stale-detection
    * blind) on high-rate feeds; getNanos carries the rest.
    */
  private[streaming] def micros(ts: java.sql.Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** The per-key last-writer-wins apply every stage-1 fold shares: order
    * the batch by commit position `(tsUs, seq)`, skip each event whose
    * position is strictly older than the current state's, and step each
    * accepted event through `next(prev, event, tsUs)`. Returns the
    * post-batch state. The sort is stable and the stale test strict, so
    * events at equal positions apply in arrival order and the last wins.
    *
    * The caller persists the result, and persists it even when it is a
    * first-seen tombstone (a delete, or a row the view filters out, before
    * any live row): that position is what stale-drops an out-of-order
    * OLDER upsert arriving in a later batch, which would otherwise
    * resurrect the row. Only [[IncrementalView]] skips it, as a documented
    * TTL-bounded trade.
    */
  private[graft] def applyLww[E <: LwwEvent, S <: LwwState](prev: Option[S], events: Iterator[E])(
      next: (Option[S], E, Long) => S): Option[S] = {
    var cur = prev
    events.map(e => (micros(e.ts), e)).toSeq
      .sortWith((a, b) => a._1 < b._1 || (a._1 == b._1 && a._2.seq < b._2.seq))
      .foreach { case (tsUs, e) =>
        if (!cur.exists(s => s.tsUs > tsUs || (s.tsUs == tsUs && s.seq > e.seq)))
          cur = Some(next(cur, e, tsUs))
      }
    cur
  }

  /** The later of two commit positions `(tsUs, seq)`, `a` on a tie: the
    * one step every emission high-water takes. A fold that re-emits rows
    * other keys' changes caused stamps them with the later of its stored
    * high-water and its batch's positions, so a batch carrying an older
    * change never emits a row older than one it emitted before (a
    * downstream [[applyLww]] would keep the stale row).
    */
  private[graft] def laterPos(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    if (b._1 > a._1 || (b._1 == a._1 && b._2 > a._2)) b else a

  /** [[applyLww]] into a [[KeyState]]: a delete parks a tombstone, any
    * other op puts the change's after-image. Shared with the
    * `transformWithState` engine ([[CdcStateProcessor]]).
    */
  private[streaming] def applyKeyState(key: Long, changes: Iterator[Change], prev: Option[KeyState]): Option[KeyState] =
    applyLww(prev, changes) { (_, c, tsUs) =>
      val deleted = c.op == "delete"
      KeyState(key, tsUs, c.seq, if (deleted) Map.empty else c.payload, deleted)
    }

  /** The per-group fold. Exposed for direct unit exercise. */
  def fold(key: Long, changes: Iterator[Change], state: GroupState[KeyState]): Iterator[KeyState] = {
    applyKeyState(key, changes, state.getOption) match {
      case Some(s) => state.update(s); Iterator.single(s)
      case None    => Iterator.empty
    }
  }

  /** Wire the fold over a streaming Dataset[Change]. Run with
    * `OutputMode.Update` ([[outputMode]]).
    */
  def materialize(changes: Dataset[Change]): Dataset[KeyState] = {
    implicit val stateEnc = Encoders.product[KeyState]
    implicit val longEnc  = Encoders.scalaLong
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fold)
  }

  /** [[materialize]] bootstrapped from a batch snapshot — the
    * backfill/catch-up path: the batch engine materializes history (q21),
    * the streaming query starts FROM that state and applies only live
    * changes. Stale-drop works against the bootstrapped positions, so a
    * replayed change older than the snapshot's `(tsUs, seq)` is ignored
    * exactly as if the stream had been running all along — the kappa
    * handoff without reprocessing the feed's history.
    */
  def materializeFrom(
      initial: Dataset[KeyState],
      changes: Dataset[Change]): Dataset[KeyState] = {
    implicit val stateEnc = Encoders.product[KeyState]
    implicit val longEnc  = Encoders.scalaLong
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout(),
        initial.groupByKey(_.key))(fold)
  }

  /** [[fold]] plus tombstone expiry: a deleted key's state is only needed
    * to stale-drop stragglers, so once the event-time watermark passes
    * `delete ts + ttl` the tombstone is removed from the store — state
    * size is bounded by LIVE keys + recently-deleted ones, not by every
    * key ever deleted (on an unbounded feed the difference is the engine
    * staying up). The documented tradeoff of any tombstone GC: a change
    * for an expired key that arrives later than watermark+ttl
    * re-materializes the key as if new.
    */
  def foldExpiring(ttlMs: Long)(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[KeyState]): Iterator[KeyState] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val out = fold(key, changes, state)
      state.getOption.foreach { s =>
        // timeout must sit beyond the current watermark or Spark rejects it
        if (s.deleted) state.setTimeoutTimestamp(
          math.max(s.tsUs / 1000L + ttlMs, state.getCurrentWatermarkMs() + 1L))
      }
      out
    }
  }

  /** [[materialize]] with watermarked input and tombstone TTL (event-time
    * timeout). `watermarkDelay` bounds how late a change may arrive;
    * `tombstoneTtl` how long a delete keeps stale-dropping stragglers.
    */
  def materializeExpiring(
      changes: Dataset[Change],
      watermarkDelay: String = "10 minutes",
      tombstoneTtlMs: Long = 10L * 60 * 1000): Dataset[KeyState] = {
    implicit val stateEnc = Encoders.product[KeyState]
    implicit val longEnc  = Encoders.scalaLong
    changes
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.EventTimeTimeout())(
        foldExpiring(tombstoneTtlMs))
  }

  val outputMode: OutputMode = OutputMode.Update()
}
