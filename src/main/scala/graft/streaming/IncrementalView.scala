package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A key's last applied contribution to the derived view: which group it
  * currently counts toward, with what value, at which commit position.
  * `live=false` after a delete (the key contributes nothing).
  */
case class Contribution(group: String, value: Double, tsUs: Long, seq: Long, live: Boolean) extends LwwState

/** Signed delta a micro-batch applies to one group of the derived view. */
case class GroupDelta(group: String, d_keys: Long, d_value: Double)

/** A key's contribution to a group changed: `live=true` (re)sets the key's
  * value in the group, `live=false` removes it. A group move is two of
  * these (remove from old, set in new).
  */
case class ContribChange(group: String, key: Long, value: Double, live: Boolean)

/** One emitted change of a non-invertible-aggregate view ([[IncrementalView.liveExtremes]]):
  * the group's current key count, min/max/sum of live values, and distinct
  * value count. `min_value`/`max_value` are None when the group emptied.
  */
case class GroupExtremes(
    group: String,
    n_keys: Long,
    min_value: Option[Double],
    max_value: Option[Double],
    total_value: Double,
    n_distinct_values: Long)

/** Stage-2 state for [[IncrementalView.liveExtremes]]: the group's live
  * contributions BY KEY — the per-group keyed state that makes min/max
  * retraction possible (subtracting is meaningless for an extremum; the
  * group re-aggregates from this map when touched).
  */
case class GroupExtremesState(contribs: Map[Long, Double])

/** Incrementally maintained derived views (SURVEY.md §2.3 #39) with FULL
  * retraction/delta semantics — the changefeed engine's defining concept:
  * a grouped aggregate view over the feed where an update MOVES a key's
  * contribution (retract from the old group, add to the new) and a delete
  * RETRACTS it, and whose per-batch output is the view's own changefeed
  * (only groups actually touched by the batch are re-emitted).
  *
  * Two stages, both with state sharded across executors:
  *  1. `flatMapGroupsWithState` keyed by change key holds each key's last
  *     [[Contribution]] and emits SIGNED [[GroupDelta]]s (Append mode —
  *     deltas are events, so a downstream aggregate is allowed);
  *  2. a streaming aggregation folds the deltas into running per-group
  *     totals (map-side-combined partials into the aggregation state
  *     store) and, in Update output mode, re-emits only touched groups.
  */
object IncrementalView {

  /** Shared stage-1 fold: apply the batch to the key's [[Contribution]]
    * ([[CdcMaterializer.applyLww]]), update the store, and return the
    * (pre-batch, post-batch) contributions for the caller to diff.
    */
  private def applyBatch(groupKey: String)(
      changes: Iterator[Change],
      state: GroupState[Contribution]): (Option[Contribution], Option[Contribution]) = {
    val before = state.getOption
    val cur = CdcMaterializer.applyLww(before, changes) { (prev, c, tsUs) =>
      if (c.op == "delete") Contribution(prev.map(_.group).getOrElse(""), 0.0, tsUs, c.seq, live = false)
      else {
        // malformed numeric payloads contribute 0 instead of killing
        // the task — a poison change must not stall the whole view
        val v = c.payload.get("value").flatMap(s => scala.util.Try(s.toDouble).toOption)
        Contribution(c.payload.getOrElse(groupKey, ""), v.getOrElse(0.0), tsUs, c.seq, live = true)
      }
    }
    // A delete for a never-seen key has nothing to retract and would only
    // park a dead Contribution in the store forever — skip the update (the
    // documented tradeoff: an out-of-order insert OLDER than that delete,
    // arriving later, re-adds the key; same class of tradeoff as tombstone
    // TTL expiry in CdcMaterializer.foldExpiring).
    cur.filter(c => c.live || before.nonEmpty).foreach(state.update)
    (before, cur)
  }

  /** Stage-1 fold: apply the batch's changes to the key's contribution
    * (same batching-invariant `(tsUs, seq)` order as
    * [[CdcMaterializer.fold]]), then emit the net signed delta between
    * the pre-batch and post-batch contribution, per affected group.
    */
  def deltas(groupKey: String)(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[Contribution]): Iterator[GroupDelta] = {
    val (before, cur) = applyBatch(groupKey)(changes, state)
    // net deltas: retract the pre-batch contribution, add the new one;
    // groups whose net effect is zero emit nothing (untouched downstream)
    val net = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Double)]
    def add(g: String, dk: Long, dv: Double): Unit = {
      val (k, v) = net.getOrElse(g, (0L, 0.0)); net(g) = (k + dk, v + dv)
    }
    before.filter(_.live).foreach(b => add(b.group, -1L, -b.value))
    cur.filter(_.live).foreach(a => add(a.group, 1L, a.value))
    net.iterator.collect { case (g, (dk, dv)) if dk != 0L || dv != 0.0 => GroupDelta(g, dk, dv) }
  }

  /** [[deltas]] plus tombstone expiry (mirrors
    * [[CdcMaterializer.foldExpiring]]): a dead (live=false) Contribution is
    * only needed to stale-drop straggler re-inserts, so once the event-time
    * watermark passes `delete ts + ttl` it leaves the store — state is
    * bounded by live keys + recently-deleted ones on an unbounded feed.
    */
  def deltasExpiring(groupKey: String, ttlMs: Long)(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[Contribution]): Iterator[GroupDelta] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val out = deltas(groupKey)(key, changes, state)
      state.getOption.foreach { s =>
        // timeout must sit beyond the current watermark or Spark rejects it
        if (!s.live) state.setTimeoutTimestamp(
          math.max(s.tsUs / 1000L + ttlMs, state.getCurrentWatermarkMs() + 1L))
      }
      out
    }
  }

  /** Stage-1 fold for NON-INVERTIBLE views: same LWW apply as [[deltas]],
    * but the emission is the key-level contribution change (who, which
    * group, what value) rather than a pre-summed signed delta — min/max
    * downstream needs to know WHICH contribution left, not just by how
    * much the sum moved.
    */
  def contribChanges(groupKey: String)(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[Contribution]): Iterator[ContribChange] = {
    val (before, cur) = applyBatch(groupKey)(changes, state)
    (before.filter(_.live), cur.filter(_.live)) match {
      case (Some(b), Some(a)) if b.group == a.group && b.value == a.value => Iterator.empty
      case (Some(b), Some(a)) if b.group == a.group =>
        Iterator.single(ContribChange(a.group, key, a.value, live = true))
      case (Some(b), Some(a)) => // group move: remove from old, set in new
        Iterator(ContribChange(b.group, key, 0.0, live = false),
          ContribChange(a.group, key, a.value, live = true))
      case (Some(b), None) => Iterator.single(ContribChange(b.group, key, 0.0, live = false))
      case (None, Some(a)) => Iterator.single(ContribChange(a.group, key, a.value, live = true))
      case (None, None)    => Iterator.empty
    }
  }

  /** Stage-2 fold: maintain the group's per-key contribution map and
    * RE-AGGREGATE the group when touched — the retraction strategy for
    * aggregates where subtraction doesn't exist (min/max/count-distinct).
    * Cost is O(live keys in the touched group) per batch, paid only by
    * groups the batch touched; at 100 TB the state is sharded by group
    * across executors and a group's map lives on exactly one shard.
    * (A sorted-multiset state would cut the rescan to O(log n) per change;
    * the map keeps the store layout trivial and the scan is mapPartitions-
    * local — measure before complicating.)
    */
  def foldGroupExtremes(
      group: String,
      changes: Iterator[ContribChange],
      state: GroupState[GroupExtremesState]): Iterator[GroupExtremes] = {
    val before = state.getOption.map(_.contribs).getOrElse(Map.empty[Long, Double])
    val after  = changes.foldLeft(before) { (m, c) =>
      if (c.live) m + (c.key -> c.value) else m - c.key
    }
    if (after == before) Iterator.empty // batch net-cancelled: don't re-emit
    else if (after.isEmpty) {
      state.remove() // emptied group leaves the store entirely
      Iterator.single(GroupExtremes(group, 0L, None, None, 0.0, 0L))
    } else {
      state.update(GroupExtremesState(after))
      val vs = after.values
      Iterator.single(GroupExtremes(
        group, after.size.toLong, Some(vs.min), Some(vs.max), vs.sum, vs.toSet.size.toLong))
    }
  }

  /** Live per-group min/max/sum/count-distinct over a Change stream with
    * FULL retraction (SURVEY.md §2.3 #107) — the view a signed-delta fold
    * cannot maintain: deleting the group's current maximum re-emits the
    * next-best from the group's keyed state. Two chained stateful stages,
    * both Append-mode (emissions are the view's changefeed): per-key LWW
    * fold → per-group re-aggregation. Only groups a batch touches re-emit;
    * untouched groups' state is never read.
    */
  def liveExtremes(changes: Dataset[Change], groupKey: String = "event_type"): Dataset[GroupExtremes] = {
    implicit val contribEnc   = Encoders.product[Contribution]
    implicit val changeEnc    = Encoders.product[ContribChange]
    implicit val stateEnc     = Encoders.product[GroupExtremesState]
    implicit val extremesEnc  = Encoders.product[GroupExtremes]
    implicit val longEnc      = Encoders.scalaLong
    implicit val stringEnc    = Encoders.STRING
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(contribChanges(groupKey))
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(foldGroupExtremes)
  }

  /** Live per-group aggregate over a Change stream, retraction-capable:
    * `n_changes` is the number of live keys currently contributing to the
    * group, `total_value` the sum of their last values. Deletes decrement
    * both; group-moving updates shift the contribution between groups.
    * Run with [[outputMode]] (Update): each micro-batch re-emits exactly
    * the groups it touched.
    */
  def liveTotals(changes: Dataset[Change], groupKey: String = "event_type"): DataFrame = {
    implicit val contribEnc = Encoders.product[Contribution]
    implicit val deltaEnc   = Encoders.product[GroupDelta]
    implicit val longEnc    = Encoders.scalaLong
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(deltas(groupKey))
      .toDF()
      .groupBy(col("group").as(groupKey))
      .agg(sum("d_keys").as("n_changes"), sum("d_value").as("total_value"))
  }

  /** [[liveTotals]] with watermarked input and tombstone TTL: deleted
    * keys' contributions leave the state store once the watermark passes
    * `delete ts + ttl`, so view state is bounded by live + recently-
    * deleted keys on an unbounded feed (the retraction itself was already
    * emitted when the delete was applied — expiry changes state size, not
    * view contents).
    */
  def liveTotalsExpiring(
      changes: Dataset[Change],
      groupKey: String = "event_type",
      watermarkDelay: String = "10 minutes",
      tombstoneTtlMs: Long = 10L * 60 * 1000): DataFrame = {
    implicit val contribEnc = Encoders.product[Contribution]
    implicit val deltaEnc   = Encoders.product[GroupDelta]
    implicit val longEnc    = Encoders.scalaLong
    // NOTE: starting this view trips the global-watermark correctness
    // checker — wrap the `.start()` call in [[withRelaxedWatermarkCheck]]
    // (which scopes the opt-out and restores the session conf) instead of
    // disabling the checker session-wide.
    changes
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        deltasExpiring(groupKey, tombstoneTtlMs))
      .toDF()
      .groupBy(col("group").as(groupKey))
      .agg(sum("d_keys").as("n_changes"), sum("d_value").as("total_value"))
  }

  /** Starts a streaming query with the global-watermark correctness
    * checker disabled, then RESTORES the previous session setting — the
    * opt-out applies only to queries started inside `startQuery` (a
    * streaming query snapshots the session conf at start), never to other
    * streams on the shared session.
    *
    * Why the opt-out is sound for [[liveTotalsExpiring]]: the checker
    * conservatively rejects ANY watermarked flatMapGroupsWithState feeding
    * a stateful aggregation, assuming the downstream op might discard its
    * emissions as late. Here that cannot happen: GroupDeltas carry NO
    * event-time column, so the downstream aggregate is a plain keyed
    * running total with no late-row filter — signed deltas are applied
    * whenever they arrive.
    */
  def withRelaxedWatermarkCheck[T](spark: org.apache.spark.sql.SparkSession)(startQuery: => T): T = {
    val key  = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try startQuery
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  val outputMode: OutputMode = OutputMode.Update()
}
