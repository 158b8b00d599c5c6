package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{MultiAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.unsafe.types.UTF8String

/** A key's current contribution to a PLANNED aggregate view: which
  * group(s) it counts toward and its value for every aggregate slot.
  * Plural groups because a SLIDING `window(ts, dur, slide)` grouping
  * places one row in dur/slide windows at once; scalar groupings always
  * yield exactly one.
  */
case class PlannedContrib(groups: Seq[String], slots: Seq[Double], tsUs: Long, seq: Long, live: Boolean,
    svals: Seq[String] = Nil) extends LwwState

/** Signed per-group delta of a planned aggregate view (one slot per
  * aggregate in the SELECT list; `d_keys` tracks live-row count).
  */
case class PlannedDelta(group: String, d_keys: Long, d_slots: Seq[Double], tsUs: Long = 0L, seq: Long = 0L)

/** A stage-2 group state of a planned aggregate view: the path's
  * contents plus the group's emission high-water `(posTs, posSeq)`, the
  * position every row the group emits is stamped with (see
  * [[IncrementalPlanner.groupStage]]).
  */
trait GroupPosState[S] {
  def posTs: Long
  def posSeq: Long
  /** False once the group holds no live row. */
  def live: Boolean
  /** The same contents at emission position `pos`. */
  def at(pos: (Long, Long)): S
}

/** Running totals of one group of a planned aggregate view. */
case class PlannedGroupState(n: Long, sums: Seq[Double], posTs: Long = 0L, posSeq: Long = 0L)
    extends GroupPosState[PlannedGroupState] {
  def live: Boolean = n > 0L
  def at(pos: (Long, Long)): PlannedGroupState = copy(posTs = pos._1, posSeq = pos._2)
}

/** Signed per-group delta of an approx-percentile (DDSketch) view:
  * [[PlannedDelta]] plus, per sketch slot, the net bucket-count deltas of
  * the batch, flattened as `[key1, d1, key2, d2, …]` pairs.
  */
case class DdqDelta(group: String, d_keys: Long, d_slots: Seq[Double],
    d_buckets: Seq[Seq[Long]], tsUs: Long = 0L, seq: Long = 0L)

/** Per-group state of an approx-percentile view: running plain totals +
  * one sparse DDSketch bucket→count map per percentile operand. Bounded
  * by the sketch's bucket space (≤ a few thousand keys at α = 0.01 over
  * the full double range), NOT by live rows — the scale trade vs the
  * holistic path's exact multiset.
  */
case class DdqGroupState(n: Long, sums: Seq[Double], buckets: Seq[Map[Long, Long]],
    posTs: Long = 0L, posSeq: Long = 0L) extends GroupPosState[DdqGroupState] {
  def live: Boolean = n > 0L
  def at(pos: (Long, Long)): DdqGroupState = copy(posTs = pos._1, posSeq = pos._2)
}

/** One key-level contribution change of a planned keyed view (flat
  * min/max, holistic, session, approx): which group, which key, the
  * key's slot values, live=false when the key leaves the group.
  */
case class PlannedKeyChange(group: String, key: Long, slots: Seq[Double], live: Boolean, tsUs: Long = 0L, seq: Long = 0L,
    svals: Seq[String] = Nil)

/** One emitted change of a planned aggregate view: the group's current
  * live-row count and aggregate slot totals (`live_rows = 0` is the
  * group's tombstone — it left the view).
  */
case class PlannedGroupRow(group: String, live_rows: Long, sums: Seq[Double], tsUs: Long = 0L, seq: Long = 0L)

/** State of a planned ORDER BY…LIMIT view: every live group's current
  * output row, plus the emission counter (consumers take the max-`_emit`
  * rows as the current list) — full-group state, because exact top-k
  * under retraction must PROMOTE a group from below the cut when a
  * leader drops, which k-bounded state cannot do.
  */
case class PlannedTopKState(entries: Map[Long, Map[String, String]], emit: Long)

/** One row of a planned top-k view's refreshed list. */
case class PlannedTopKRow(_emit: Long, rank: Long, row: Map[String, String])

/** Per-group state of a planned APPROX aggregate view (append-only):
  * live-row count, append-only aggregate slots, and one HLL register
  * array per approx_count_distinct item. Sketch state is O(4 KiB) per
  * group regardless of value cardinality — the reason this path exists.
  */
case class ApproxGroupState(n: Long, sums: Seq[Double], hlls: Seq[Array[Byte]],
    posTs: Long = 0L, posSeq: Long = 0L) extends GroupPosState[ApproxGroupState] {
  def live: Boolean = n > 0L
  def at(pos: (Long, Long)): ApproxGroupState = copy(posTs = pos._1, posSeq = pos._2)
}

/** One live contribution in a HOLISTIC aggregate view's group state:
  * the key's numeric slot values plus its string values (listagg
  * operands and order keys).
  */
case class HContrib(slots: Seq[Double], svals: Seq[String])

/** Per-group state of a planned HOLISTIC aggregate view (exact
  * percentile/median/listagg under retraction), and of a flat view with
  * min/max: every live key's raw contribution — order statistics,
  * extrema and ordered concatenation are not invertible, so the group's
  * full value multiset is the honest state (the session/exact-top-k
  * class), guarded on the holistic path by
  * `spark.graft.holistic.maxRowsPerGroup`.
  */
case class HolisticContribs(contribs: Map[Long, HContrib], posTs: Long = 0L, posSeq: Long = 0L)
    extends GroupPosState[HolisticContribs] {
  def live: Boolean = contribs.nonEmpty
  def at(pos: (Long, Long)): HolisticContribs = copy(posTs = pos._1, posSeq = pos._2)
}

/** One emitted change of a planned holistic aggregate view: numeric
  * results ride `sums` (value slots first, percentile results after),
  * string results (listagg) ride `strs`.
  */
case class HolisticGroupRow(group: String, live_rows: Long, sums: Seq[Double],
    strs: Seq[String], tsUs: Long, seq: Long)

/** A key's current projected row in a PLANNED select-where view. */
case class PlannedRow(proj: Map[String, String], tsUs: Long, seq: Long, live: Boolean) extends LwwState

/** One change of a planned mixed-OVER view's changefeed ([[IncrementalPlanner]]'s
  * `mixedWinFold`); the row and generator folds emit [[Change]] directly.
  */
case class PlannedRowChange(op: String, key: Long, proj: Map[String, String], ts_us: Long, seq: Long)

/** A key's current exploded FAMILY in a planned generator view
  * (`explode`/`posexplode` select item): the shared scalar projection
  * plus the ordered element renderings — what the per-ordinal diff
  * compares against when the family changes shape.
  */
case class PlannedGenRow(scalars: Map[String, String], elems: Seq[String],
    tsUs: Long, seq: Long, live: Boolean) extends LwwState

/** One live contribution inside a planned SESSION-window view's group
  * state: the row's event time and its aggregate slot values.
  */
case class SessionContrib(evUs: Long, slots: Seq[Double], svals: Seq[String] = Nil)

/** One session row as last emitted (keyed by session start micros):
  * what the diff against the recomputed session set compares to.
  */
case class SessionEmitted(endUs: Long, n: Long, sums: Seq[Double])

/** Per-scalar-group state of a planned session-window view: every live
  * key's contribution (sessions merge and split on ANY membership
  * change, so the exact view needs the full per-group timestamp set —
  * the same honest full-state class as exact top-k under retraction),
  * plus the session rows last emitted, for diff-only re-emission.
  */
case class SessionGroupState(contribs: Map[Long, SessionContrib], emitted: Map[Long, SessionEmitted],
    posTs: Long = 0L, posSeq: Long = 0L) extends GroupPosState[SessionGroupState] {
  def live: Boolean = contribs.nonEmpty
  def at(pos: (Long, Long)): SessionGroupState = copy(posTs = pos._1, posSeq = pos._2)
}

/** One emitted change of a planned session-window view: the session's
  * identity is `(group, startUs)`; `live_rows = 0` is its tombstone
  * (the session merged away, split, or lost its last row).
  */
case class SessionRow(group: String, startUs: Long, endUs: Long, live_rows: Long,
    sums: Seq[Double], tsUs: Long, seq: Long)

/** Stage-1 state of a planned RANKED view (one per change key): the
  * row's partition key, its ORDER BY values, and its projected payload.
  */
case class RankedContrib(group: String, sortVals: Seq[String], proj: Map[String, String],
    tsUs: Long, seq: Long, live: Boolean) extends LwwState

/** Stage-1 → stage-2 wire of a planned ranked view: one key's
  * entry/exit/change within one partition.
  */
case class RankedKeyChange(group: String, key: Long, sortVals: Seq[String],
    proj: Map[String, String], live: Boolean, tsUs: Long, seq: Long)

/** One live member of a ranked partition's state. */
case class RankedEntry(sortVals: Seq[String], proj: Map[String, String])

/** A ranked row as last emitted for one key — the diff target (a key
  * re-emits only when its visible output changed). `proj` carries the
  * window columns too; `rn` is vestigial (kept 0 — the absolute sort
  * position must NOT join the identity, or tie-group-internal shifts
  * re-emit byte-identical rows).
  */
case class RankedEmit(rn: Long, proj: Map[String, String])

/** Per-partition state of a planned ranked view: every live member
  * (a retraction can promote ANY member, so exact ranks need the full
  * partition — the same honest full-state class as exact top-k), plus
  * the rows last emitted for diff-only re-emission. `posTs`/`posSeq`
  * are the partition's emission high-water mark: re-emissions caused by
  * OTHER keys' changes carry no own-change position, so the partition's
  * changefeed stamps them monotonically (a straggler batch must not
  * emit "older" view changes than an earlier batch did).
  */
case class RankedGroupState(contribs: Map[Long, RankedEntry], emitted: Map[Long, RankedEmit],
    posTs: Long = 0L, posSeq: Long = 0L)

/** One change of a planned ranked view's changefeed: `op` upsert/delete
  * identified by `(key, group)` — the partition is part of the change
  * identity (multiset-diff semantics), because a partition MOVE emits a
  * delete from the old partition and an upsert in the new one from two
  * independent shards whose emission positions are not mutually
  * ordered; keyed by `key` alone, a consumer could fold them in the
  * wrong order and lose the row. `rn` is the window function's value.
  */
case class RankedRowChange(op: String, key: Long, group: String, rn: Long,
    proj: Map[String, String], ts_us: Long, seq: Long)

/** Stage-2 → merge wire of a mixed-OVER view (see
  * IncrementalPlanner.compileRankedView): one spec's ranked dataflow
  * reporting the row's current (partition, outputs) under
  * `entry` = "<specIdx>\u0001<partition>".
  */
case class MixedWinEvent(key: Long, entry: String,
    proj: Map[String, String], live: Boolean, tsUs: Long, seq: Long)

/** Merge state of one row across a mixed-OVER view's spec dataflows:
  * its live entries plus the last emitted merged projection (and a
  * monotone emission high-water mark).
  */
case class MixedWinState(entries: Map[String, Map[String, String]],
    emitted: Map[String, String], live: Boolean, posTs: Long, posSeq: Long)

/** The generic changefeed-of-a-query planner (the r5 verdict's #1 gap):
  * `materialize(sql)` compiles a broad SQL subset — filter, project,
  * joins (key-equi, FK-shaped, and general VALUE-equi incl. composite
  * `AND` conditions with inner-join non-equi residuals; all four ANSI
  * types), grouped aggregation (count/sum/avg/min/max/stddev/variance,
  * DISTINCT forms, tumbling/sliding/session windows), set operations,
  * derived tables, scalar/IN/EXISTS subqueries (correlated equi forms
  * included), ranked window functions, HAVING, and ORDER BY..LIMIT —
  * into retraction-capable incremental dataflows: the join shapes wire
  * [[JoinView]]'s dataflows, while aggregate, row, generator and ranked
  * views run the planner's own two-stage folds, whose stage 1 is the
  * same per-key LWW apply as every hand-built view
  * ([[CdcMaterializer.applyLww]]). A user writes the VIEW as SQL and
  * gets its continuously-maintained changefeed without hand-assembling
  * folds. This is the `query.changes()`
  * abstraction of the RethinkDB/Materialize engine class, built
  * Spark-first: the SQL is parsed by Spark's own Catalyst parser and
  * the plan pattern-matched into `flatMapGroupsWithState` stages.
  *
  * Semantics (all inherited from the hand-built views and spec'd):
  *  - per-key LWW apply in `(ts, seq)` order — batching-invariant, the
  *    [[CdcMaterializer]] contract;
  *  - an update that MOVES a key between groups (or in/out of the WHERE
  *    predicate) retracts the old contribution and adds the new;
  *  - a delete retracts; a group whose live-row count reaches zero
  *    re-emits with `_live_rows = 0` (the view's own delete tombstone);
  *  - both view shapes run in Append output mode: every emission is one
  *    change of the VIEW's changefeed (touched groups / changed rows
  *    only), so downstream transforms compose;
  *  - emission position: every row a view emits is stamped `(ts, seq)`
  *    no older than any row it emitted before for the same group
  *    (aggregate stage 2: [[groupStage]]'s high-water; ranked and mixed
  *    OVER folds: the same discipline). A group re-emitted because a
  *    batch carried an older-positioned change gets its high-water, and
  *    an emptied group keeps its position in state, so a downstream
  *    last-writer-wins consumer (`FeedSink.stateAsOf`, a view over the
  *    view) folds split batches exactly as one batch. Equal positions
  *    are possible; such consumers take the later emission.
  *
  * Feed payloads are stringly-typed (`Map[String,String]`, the Change
  * wire contract). Every view expression compiles through one
  * evaluator, [[PlannerExpr]]: Spark's analyzer resolves it and Spark
  * evaluates it, so function bodies are Spark's own, while the
  * planner's value contract coerces each operand — comparisons go
  * numeric when both operands parse as numbers, else lexicographic;
  * arithmetic runs on the parsed doubles and a non-finite result is
  * NULL; a boolean operand is `true`/`false` only — the documented
  * semantic of a schema-on-read feed (README "Value contract").
  *
  * Temporal views: `GROUP BY window(<ts>, '<dur>'[, '<slide>'])` groups
  * by the containing time window(s) — the window start (epoch micros)
  * is a derived group-key column, so windows inherit the full
  * retraction contract (a late update MOVES the key across windows, an
  * emptied window tombstones). `<ts>` may be a payload field (epoch
  * micros or `yyyy-mm-dd hh:mm:ss`) or the reserved `ts_us` (the
  * change's own commit position). Bounded state on unbounded feeds
  * comes from [[materializeExpiring]], exactly as for scalar groups.
  * `GROUP BY session_window(<ts>, '<gap>')` compiles too — sessions
  * merge and split under retraction via a dedicated full-group-state
  * dataflow (see [[compileSessionAggregate]]); the session select item
  * emits `<name>_start_us` / `<name>_end_us` epoch-micros columns.
  *
  * Scale shape: identical to the hand-built views — stage-1 state is
  * sharded by change key, stage-2 by group / join key. The planner's
  * own folds keep that two-stage layout and the join shapes only wire
  * [[JoinView]]'s, so no shuffle or driver-side loop is added beyond
  * what those two stages pay.
  */
object IncrementalPlanner {
  import PlannerExpr.{asBool, asNum, cmpVals, litValue, unsupported, Env, Eval}

  /** Internal null marker inside group-key strings (a grouping column may
    * legitimately evaluate to SQL NULL; NULL is one group).
    */
  private val NullMark = "\u0000"
  private val Sep      = "\u0001"

  /** Internal ROLLED-UP marker inside group-key strings: a grouping
    * column inactive at this ROLLUP/CUBE/GROUPING SETS level. Distinct
    * from [[NullMark]] -- both display as SQL NULL, but `grouping()`
    * answers 1 only for this one (the standard's disambiguation).
    */
  private val RollMark = "\u0002"

  /** Fixed-point scale of the signed-delta aggregate path: slot values
    * fold as micro-unit integers (exact in a Double to 2^53, i.e.
    * totals to ~9.0e9), so add/retract cycles cancel bit-exactly.
    */
  private val SlotScale = 1e6

  /** One-time (per JVM — driver or executor) guard for the
    * skewness/kurtosis power-sum overflow warn: the Σx⁴ slot loses
    * exact add/retract cancellation once a contribution exceeds 2^53
    * in scaled space, and that trade must be loud, not silent.
    */
  private val powSumOverflowWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** A compiled streaming view: the DataFrame to start, and the output
    * mode it needs ([[OutputMode.Update]] for aggregate views,
    * [[OutputMode.Append]] for changefeed views).
    */
  final case class PlannedView(df: DataFrame, outputMode: OutputMode)

  // ------------------------------------------------------------------
  // Expressions: one evaluator, [[PlannerExpr]] — Spark evaluates every
  // view expression under the planner's value contract.
  // ------------------------------------------------------------------
  private def compileExpr(e: Expression): Eval = PlannerExpr.compile(e)

  // ------------------------------------------------------------------
  // Source compiler: the FROM/WHERE part of the plan → a Change stream
  // whose payload is env-ready (qualified + bare field names merged in),
  // plus the conjunction of WHERE predicates.
  // ------------------------------------------------------------------
  private final case class Source(changes: Dataset[Change], filters: Seq[Expression])

  /** `ASOF [LEFT] JOIN` surface syntax: Spark's parser has no ASOF rule,
    * so [[parseStatement]] strips the keyword pre-parse and flags the
    * statement — the (single) JOIN then compiles through the as-of
    * dataflow. One ASOF JOIN per statement.
    */
  private val AsofRe = "(?i)\\bASOF\\s+(LEFT\\s+)?JOIN\\b".r

  /** GROUPS-frame surface (SURVEY §2.3 #250 live form): Spark's SQL
    * grammar has no GROUPS token, so the frame is textually rewritten
    * before parsing — each occurrence becomes a SENTINEL ROWS frame
    * (`ROWS BETWEEN <sent+i> PRECEDING AND <sent+i> PRECEDING`, a shape
    * no real query writes: a 2-billion-row offset) and its decoded
    * [[GroupsF]] rides the [[groupsFrames]] side channel keyed by `i`,
    * scoped to the one compile via DynamicVariable exactly like
    * [[asofStatement]]. [[parseWinFns]] maps the sentinel back.
    */
  private val GroupsSentinel = 2000000000
  private val groupsFrames =
    new scala.util.DynamicVariable[Map[Int, WFrame]](Map.empty)

  private val GroupsRe =
    ("(?i)\\bGROUPS\\s+(?:BETWEEN\\s+(UNBOUNDED\\s+PRECEDING|CURRENT\\s+ROW|\\d+\\s+PRECEDING|" +
      "\\d+\\s+FOLLOWING)\\s+AND\\s+(UNBOUNDED\\s+FOLLOWING|CURRENT\\s+ROW|\\d+\\s+PRECEDING|" +
      "\\d+\\s+FOLLOWING)|(UNBOUNDED\\s+PRECEDING|\\d+\\s+PRECEDING))" +
      "(?:\\s+EXCLUDE\\s+(GROUP|TIES|CURRENT\\s+ROW|NO\\s+OTHERS))?").r

  /** `ROWS/RANGE … EXCLUDE …` — exclusion on the OTHER frame types,
    * which Spark's grammar also lacks (only matched when EXCLUDE is
    * present; a plain ROWS/RANGE frame parses natively).
    */
  private val ExclRe =
    ("(?i)\\b(ROWS|RANGE)\\s+(BETWEEN\\s+(?:UNBOUNDED\\s+PRECEDING|CURRENT\\s+ROW|" +
      "[0-9.]+\\s+PRECEDING|[0-9.]+\\s+FOLLOWING)\\s+AND\\s+(?:UNBOUNDED\\s+FOLLOWING|" +
      "CURRENT\\s+ROW|[0-9.]+\\s+PRECEDING|[0-9.]+\\s+FOLLOWING)|" +
      "(?:UNBOUNDED|[0-9.]+)\\s+PRECEDING)" +
      "\\s+EXCLUDE\\s+(GROUP|TIES|CURRENT\\s+ROW|NO\\s+OTHERS)").r

  /** Rewrite every GROUPS frame — and every ROWS/RANGE frame carrying
    * an EXCLUDE clause — to its sentinel ROWS form, returning the
    * parser-legal SQL and the side-channel map. Shapes:
    * `GROUPS BETWEEN a AND b`, the single-bound
    * `GROUPS [UNBOUNDED|n] PRECEDING` (= `BETWEEN … AND CURRENT ROW`),
    * each optionally `EXCLUDE GROUP|TIES|CURRENT ROW|NO OTHERS`; and
    * `ROWS/RANGE … EXCLUDE …` (exclusion is the current row's peer
    * group regardless of frame type, per the standard).
    */
  private[streaming] def stripGroupsSyntax(sql: String): (String, Map[Int, WFrame]) = {
    if (GroupsRe.findFirstIn(sql).isEmpty && ExclRe.findFirstIn(sql).isEmpty)
      return (sql, Map.empty)
    val frames = scala.collection.mutable.Map.empty[Int, WFrame]
    def boundNum(text: String): Option[Double] = {
      val t = text.trim.replaceAll("\\s+", " ").toUpperCase
      if (t == "UNBOUNDED PRECEDING" || t == "UNBOUNDED FOLLOWING") None
      else if (t == "CURRENT ROW") Some(0.0)
      else {
        val parts = t.split(" ")
        Some(if (parts(1) == "PRECEDING") -parts(0).toDouble else parts(0).toDouble)
      }
    }
    def bound(text: String): Option[Int] = boundNum(text).map(_.toInt)
    def exclOf(kw: String): String =
      Option(kw).map(_.replaceAll("\\s+", " ").toUpperCase) match {
        case None | Some("NO OTHERS") => "none"
        case Some("CURRENT ROW")      => "current"
        case Some("TIES")             => "ties"
        case Some("GROUP")            => "group"
        case Some(other)              => throw unsupported(s"EXCLUDE $other")
      }
    // EQUAL frames share one sentinel: select items that shared their
    // OVER clause textually must still compare as the SAME
    // WindowSpecDefinition after the rewrite, or the single-spec ranked
    // view would falsely split into a mixed-spec compilation
    val byContent = scala.collection.mutable.Map.empty[WFrame, Int]
    def sentinel(f: WFrame): String = {
      val id = byContent.getOrElseUpdate(f, byContent.size)
      frames(id) = f
      val s = GroupsSentinel + id
      s"ROWS BETWEEN $s PRECEDING AND $s PRECEDING"
    }
    val pass1 = GroupsRe.replaceAllIn(sql, m => {
      val (lo, hi) =
        if (m.group(3) != null) (bound(m.group(3)), Some(0))
        else (bound(m.group(1)), bound(m.group(2)))
      (lo, hi) match {
        case (Some(a), Some(b)) =>
          require(a <= b, s"empty-by-construction frame GROUPS BETWEEN $a AND $b")
        case _ => ()
      }
      sentinel(GroupsF(lo, hi, exclOf(m.group(4))))
    })
    val out = ExclRe.replaceAllIn(pass1, m => {
      val boundsText = m.group(2).trim
      val (lo, hi) =
        if (boundsText.toUpperCase.startsWith("BETWEEN")) {
          val parts = "(?i)^BETWEEN\\s+(.+?)\\s+AND\\s+(.+)$".r
            .findFirstMatchIn(boundsText).get
          (boundNum(parts.group(1)), boundNum(parts.group(2)))
        } else (boundNum(boundsText), Some(0.0))
      (lo, hi) match {
        case (Some(a), Some(b)) =>
          require(a <= b, s"empty-by-construction frame ${m.group(1)} BETWEEN $a AND $b")
        case _ => ()
      }
      val inner: WFrame =
        if (m.group(1).equalsIgnoreCase("ROWS")) RowsF(lo.map(_.toInt), hi.map(_.toInt))
        else RangeF(lo, hi)
      sentinel(ExclF(inner, exclOf(m.group(3))))
    })
    (out, frames.toMap)
  }

  /** [[stripAsofSyntax]] + GROUPS-frame stripping, for callers that only
    * need PARSEABLE SQL — the side-channel map is dropped. Inside the
    * package, [[parseStatement]] is the parse.
    */
  def stripPlannerSyntax(sql: String): String = stripGroupsSyntax(stripAsofSyntax(sql))._1
  private val asofStatement = new scala.util.DynamicVariable[Boolean](false)

  /** Statement-scoped PROJECTION PUSHDOWN into join dataflows: every
    * attribute name the statement references anywhere (select list,
    * WHERE, ON, HAVING, OVER, subqueries — both its qualified spelling
    * and its bare last part, so either resolution form survives). Join
    * leaves prune their feed payloads to this set before stage 1, so
    * unreferenced source fields never enter the arrangement: stage-1
    * state, the bucket shuffle, bucket state, and every pair emission
    * shrink to the referenced width, and payload churn in unreferenced
    * fields stops re-emitting pairs at all (a view cannot observe fields
    * it never reads). None (direct JoinView users, internal rewrites) =
    * no pruning.
    */
  private val neededAttrs = new scala.util.DynamicVariable[Option[Set[String]]](None)

  private def attrNamesOf(plan: LogicalPlan): Set[String] = {
    val buf = scala.collection.mutable.Set.empty[String]
    def fromExpr(e: Expression): Unit = e.foreach {
      case a: UnresolvedAttribute =>
        buf += a.nameParts.mkString(".")
        buf += a.nameParts.last
      case s: SubqueryExpression => buf ++= attrNamesOf(s.plan)
      case _                     => ()
    }
    plan.foreach(p => p.expressions.foreach(fromExpr))
    buf.toSet
  }

  private def compileSource(spark: SparkSession, plan: LogicalPlan,
      feeds: Map[String, Dataset[Change]]): Source = plan match {
    case f: Filter =>
      val s = compileSource(spark, f.child, feeds)
      hoistSubqueries(spark, f.condition, s, feeds)
    case sa: SubqueryAlias =>
      val inner = compileSource(spark, sa.child, feeds)
      Source(qualify(inner.changes, sa.alias), inner.filters)
    case r: UnresolvedRelation =>
      val name = r.multipartIdentifier.last
      val feed = feeds.getOrElse(name,
        throw new IllegalArgumentException(s"IncrementalPlanner: unknown feed '$name'; have ${feeds.keys.mkString(", ")}"))
      Source(qualify(feed, name), Nil)
    case j: Join =>
      // preserve flags: which side stays visible while unmatched — the
      // one-axis encoding of all four ANSI join types
      val (pLeft, pRight) = j.joinType match {
        case org.apache.spark.sql.catalyst.plans.Inner      => (false, false)
        case org.apache.spark.sql.catalyst.plans.LeftOuter  => (true, false)
        case org.apache.spark.sql.catalyst.plans.RightOuter => (false, true)
        case org.apache.spark.sql.catalyst.plans.FullOuter  => (true, true)
        case org.apache.spark.sql.catalyst.plans.Cross      => (false, false)
        case other => throw unsupported(s"join type $other")
      }
      implicit val changeEnc = Encoders.product[Change]
      // projection pushdown (see [[neededAttrs]]): prune each side's
      // payload to the statement's referenced names BEFORE stage 1
      val neededSet: Option[Set[String]] = neededAttrs.value
      def pruneFeed(t: (Dataset[Change], String)): (Dataset[Change], String) = neededSet match {
        case None    => t
        case Some(s) => (t._1.map(c =>
          if (c.payload.isEmpty) c
          else c.copy(payload = c.payload.filter(kv => s(kv._1)))), t._2)
      }
      val (lside, rside) = (leaf(spark, j.left, feeds), leaf(spark, j.right, feeds))
      val (lsrc, rsrc) = (pruneFeed((lside._1.changes, lside._2)), pruneFeed((rside._1.changes, rside._2)))
      // a nested-join side has no alias of its own (its fields are
      // already qualified by the inner sides) — don't re-qualify with ""
      def qual(alias: String, p: Map[String, String]): Map[String, String] =
        if (alias.isEmpty) Map.empty else p.map { case (k, v) => s"$alias.$k" -> v }
      // one builder pass, not four map concats — this runs once per pair
      // EMISSION on the join hot path (the 140k/s-knee profile), where
      // the intermediate maps were real allocation pressure; qualified
      // spellings land only when the statement references them
      val (lAlias, rAlias) = (lsrc._2, rsrc._2)
      def merged(lp: Map[String, String], rp: Map[String, String]): Map[String, String] = {
        val b = Map.newBuilder[String, String]
        b.sizeHint((lp.size + rp.size) * 2)
        b ++= lp
        b ++= rp
        if (lAlias.nonEmpty) lp.foreach { case (k, v) =>
          val q = lAlias + "." + k
          if (neededSet.forall(_.contains(q))) b += q -> v
        }
        if (rAlias.nonEmpty) rp.foreach { case (k, v) =>
          val q = rAlias + "." + k
          if (neededSet.forall(_.contains(q))) b += q -> v
        }
        b.result()
      }
      def rejectAggSide(shape: String): Unit =
        if (!lside._1.sourceKeys || !rside._1.sourceKeys) throw unsupported(
          s"$shape join of a re-keyed subquery (aggregate, union, generator and ranked views " +
            "key by group-identity hashes, not source row keys); join on the subquery's " +
            "columns instead (a.city = b.city)")
      // the composite VALUE-equi dataflow: one arrangement on the
      // Sep-joined tuple of equality values (SQL semantics fall out: a
      // NULL in ANY equality operand → no tuple → never matches)
      def valueJoin(pairs: Seq[(Expression, Expression)],
          maxRowsOverride: Option[Int] = None,
          residual: Seq[Expression] = Nil,
          asof: Option[JoinView.AsofSpec] = None): Dataset[Change] = {
        val maxRows = maxRowsOverride.getOrElse(
          spark.conf.get("spark.graft.equijoin.maxRowsPerValue", "1000000").toInt)
        // a non-empty residual routes the buckets through the visible-set
        // diff fold (the residual decides MATCH STATUS, required for
        // preserved sides) — evaluated over the merged pair environment,
        // same field resolution as a post-filter would see
        val resFn = if (residual.isEmpty) None else {
          val resPreds = residual.map(compileExpr)
          val mergeFn  = merged _
          Some((lp: Map[String, String], rp: Map[String, String]) => {
            val env = mergeFn(lp, rp)
            resPreds.forall(p => p(env).contains(true))
          })
        }
        JoinView.materializeValueJoin(lsrc._1, rsrc._1,
          joinValExtract(pairs.map(_._1), lsrc._2), joinValExtract(pairs.map(_._2), rsrc._2),
          pLeft, pRight, maxRows, resFn, asof).map { jc =>
          Change(if (jc.op == "delete") "delete" else "upsert", jc.key,
            tsOfMicros(jc.tsUs), merged(jc.l_payload, jc.r_payload), jc.seq)
        }
      }
      // a pair failing the ON residual is NOT in the view: its upsert
      // becomes a (possibly redundant, idempotent) delete of the same
      // pair identity
      def applyResidual(base: Dataset[Change], residual: Seq[Expression]): Dataset[Change] = {
        val resPreds = residual.map(compileExpr)
        implicit val changeEnc = Encoders.product[Change]
        base.map { ch =>
          if (ch.op == "delete") ch
          else {
            val env = envOf(ch)
            if (resPreds.forall(p => p(env).contains(true))) ch
            else ch.copy(op = "delete", payload = Map.empty)
          }
        }
      }
      // a PURE non-equi ON (`e.v BETWEEN b.lo AND b.hi`, `a.x < b.y`)
      // has no value to shard by: both feeds arrange under ONE constant
      // join value — the incrementally maintained N:M cross product —
      // and the entire ON condition decides pair survival as a live
      // residual (either side moving across the cut retracts/admits the
      // pair). INNER runs the cheap transition fold + post-filter;
      // OUTER routes the residual into the bucket's visible-set diff
      // fold, where a residual-failed pair leaves the preserved row
      // visible as a solo (match status IS the residual there). The
      // arrangement guard counts EVERY live row of both feeds, so
      // `spark.graft.crossjoin.maxRows` (default 100k, deliberately
      // tighter than the per-value equi bound) is the explicit scale
      // contract: past it the state RAISES, pointing at banding — add a
      // derived equi conjunct (e.g. a shared coarse bucket of the range
      // column) to shard the arrangement — instead of OOMing one shard
      // at 100 TB. Aggregate subquery sides join fine (a cross pair
      // never reads keys): `JOIN (SELECT avg(x) AS cut FROM t) s ON
      // e.v > s.cut` is the dynamic-threshold view in join form.
      def crossResidual(conj: Seq[Expression]): Dataset[Change] = {
        val maxRows = spark.conf.get("spark.graft.crossjoin.maxRows", "100000").toInt
        if ((pLeft || pRight) && conj.nonEmpty)
          valueJoin(Seq((Literal(0), Literal(0))), Some(maxRows), residual = conj)
        else {
          val base = valueJoin(Seq((Literal(0), Literal(0))), Some(maxRows))
          if (conj.isEmpty) base else applyResidual(base, conj)
        }
      }
      def singleCond(c0: Expression): Dataset[Change] = c0 match {
        // table ⋈ table on the shared change key — the #85 dataflow; an
        // outer join preserves its flagged side(s) (unmatched keys carry
        // no partner fields → their env lookups are SQL NULL)
        case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute)
            if l.nameParts.last == "key" && r.nameParts.last == "key" =>
          rejectAggSide("key-equi")
          JoinView.materializeJoinType(lsrc._1, rsrc._1, pLeft, pRight).map { jc =>
            Change(if (jc.op == "delete") "delete" else "upsert", jc.key,
              tsOfMicros(jc.tsUs), merged(jc.l_payload, jc.r_payload), jc.seq)
          }
        // fact.fkField = dim.key (either way round) — the #108 two-hop
        // FK-join dataflow: facts keyed by own PK, dim fan-out on update,
        // FK moves re-subscribe. Output keyed by FACT, so only the
        // FACT-preserving outer form is expressible (LEFT with the fact
        // on the left, RIGHT with the fact on the right); a preserved
        // DIM side would need rows keyed by a dim with zero facts, which
        // a fact-keyed changefeed cannot carry — rejected with the
        // rewrite hint instead of answered wrong.
        case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute)
            if l.nameParts.last != "key" && r.nameParts.last == "key" =>
          rejectAggSide("FK")
          if (pRight) throw unsupported(
            s"${j.joinType} would preserve the dim side of <fact>.<fk> = <dim>.key; " +
              "the FK view is keyed by fact — for dims without facts, define a separate " +
              "anti-join view (dim WHERE key NOT IN fact fks) and union downstream")
          // qualified fkField (o.custkey): a nested-join fact side may
          // carry the same bare field from both inner feeds
          fkJoin(lsrc, rsrc, l.nameParts.mkString("."), factIsLeft = true, pLeft)
        case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute)
            if l.nameParts.last == "key" && r.nameParts.last != "key" =>
          rejectAggSide("FK")
          if (pLeft) throw unsupported(
            s"${j.joinType} would preserve the dim side of <dim>.key = <fact>.<fk>; " +
              "the FK view is keyed by fact — put the fact on the preserved side " +
              "(<fact>.<fk> = <dim>.key LEFT JOIN, or keep RIGHT JOIN with the fact right)")
          fkJoin(rsrc, lsrc, r.nameParts.mkString("."), factIsLeft = false, pRight)
        // the general VALUE-equi join — `<expr over a> = <expr over b>`
        // where neither side is the change key: both feeds re-shard BY
        // JOIN VALUE (the arrangement-class N:M join), all four ANSI
        // types via the preserve flags. Also the ONLY join shape an
        // aggregate subquery side supports (join on its group columns).
        case EqualTo(e1, e2) =>
          valueJoin(Seq(assignJoinSides(e1, e2, lsrc._2, rsrc._2)))
        // anything else is a pure non-equi condition — the guarded
        // cross arrangement (compileExpr rejects genuinely unsupported
        // vocabulary inside it with its own message)
        case other => crossResidual(Seq(other))
      }
      def splitAnd(e: Expression): Seq[Expression] = e match {
        case And(a, b) => splitAnd(a) ++ splitAnd(b)
        case o         => Seq(o)
      }
      // AS-OF join (statement pre-marked by [[materialize]]): the ON
      // clause carries equality match keys plus ONE ordering inequality
      // `<event>.ts >= <version>.ts` — each event row pairs with the
      // LATEST admissible version row (the "version valid at event
      // time" semantic, the planner-SQL surface of
      // [[VersionedFeed.enrichAsOf]]). The right feed is a VERSION feed:
      // every change key is one immutable version row — republishing a
      // version (an update to its key) re-enriches the events it backs,
      // and a late event joins the version valid at ITS time by
      // construction (the bucket holds the version history). `ASOF LEFT
      // JOIN` preserves unmatched events (version side NULL); the
      // version side is never preserved (output is event-keyed pairs).
      def asofJoin(cond: Expression): Dataset[Change] = {
        if (pRight) throw unsupported(
          "ASOF JOIN preserving the version side (the output is keyed by event-version " +
            "pairs; put the event feed on the left — ASOF [LEFT] JOIN only)")
        val conj             = splitAnd(cond)
        val (equis, nonEqui) = conj.partition(_.isInstanceOf[EqualTo])
        if (equis.isEmpty) throw unsupported(
          "ASOF JOIN needs at least one equality in ON (the match key: e.sym = v.sym)")
        val isOrd: Expression => Boolean = {
          case _: GreaterThanOrEqual | _: GreaterThan | _: LessThanOrEqual | _: LessThan => true
          case _ => false
        }
        val (ords, residual) = nonEqui.partition(isOrd)
        if (ords.length != 1) throw unsupported(
          "ASOF JOIN needs exactly ONE ordering inequality in ON (e.ts >= v.ts); " +
            s"found ${ords.length}")
        // orient: the GREATER operand is the event (left) side
        val (geExpr, leExpr, inclusive) = ords.head match {
          case GreaterThanOrEqual(a, b) => (a, b, true)
          case GreaterThan(a, b)        => (a, b, false)
          case LessThanOrEqual(a, b)    => (b, a, true)
          case LessThan(a, b)           => (b, a, false)
          case other                    => throw unsupported(s"ASOF ordering ${other.sql}")
        }
        val (evTs, dimTs) = assignJoinSides(geExpr, leExpr, lsrc._2, rsrc._2)
        if (!(evTs eq geExpr)) throw unsupported(
          "ASOF JOIN with the version feed on the greater side of the inequality — the " +
            "event feed must be the LEFT side and the greater operand (e.ts >= v.ts)")
        val evF     = compileExpr(evTs)
        val dimF    = compileExpr(dimTs)
        val mergeFn = merged _
        val sel = (lp: Map[String, String], rp: Map[String, String]) => {
          val env = mergeFn(lp, rp)
          for {
            e <- evF(env); d <- dimF(env)
            c = cmpVals(d, e)
            if c < 0 || (inclusive && c == 0)
          } yield String.valueOf(d)
        }
        val spec = JoinView.AsofSpec(sel, (a: String, b: String) => cmpVals(a, b))
        valueJoin(equis.map { case EqualTo(a, b) => assignJoinSides(a, b, lsrc._2, rsrc._2) },
          residual = residual, asof = Some(spec))
      }
      if (asofStatement.value)
        return Source(asofJoin(j.condition.getOrElse(
          throw unsupported("ASOF JOIN requires an ON clause"))), Nil)
      // an explicit CROSS JOIN (no ON at all) is the unfiltered cross
      // arrangement — same dataflow, same maxRows guard
      val joined = j.condition.map(splitAnd).getOrElse(Seq.empty) match {
        case s if s.isEmpty => crossResidual(Nil)
        case Seq(single) => singleCond(single)
        // multi-conjunct ON: all equalities arrange ONE composite value
        // (a.x = b.x AND a.y = b.y shards by the (x, y) tuple); non-equi
        // conjuncts post-filter pairs on INNER joins, and route into the
        // bucket's visible-set diff fold on OUTER joins — there the
        // residual decides MATCH STATUS (a residual-failed pair leaves
        // the preserved row visible as a solo, which a post-filter
        // cannot see: it would have to resurrect a row it already
        // mapped to a delete)
        case conj =>
          val (equis, residual) = conj.partition(_.isInstanceOf[EqualTo])
          def isKeyEq(e: Expression) = e match {
            case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
              l.nameParts.last == "key" || r.nameParts.last == "key"
            case _ => false
          }
          val keyEqs = equis.filter(isKeyEq)
          if (keyEqs.nonEmpty) {
            // key/fk-shaped equality + extra conjuncts: compile the
            // key/fk dataflow and post-filter the rest — EXACT for
            // INNER (ON residual ≡ WHERE there); an OUTER's residual
            // decides match status, which these fact/dim-keyed folds
            // do not carry — rejected with the rewrite
            if (pLeft || pRight) throw unsupported(
              "key/fk-shaped OUTER join with extra ON conjuncts (the residual decides match " +
                "status; rewrite as INNER plus WHERE, or use a value-equi join on the column)")
            if (keyEqs.length > 1) throw unsupported(
              "two key-shaped equalities in one ON (join on one key/fk condition)")
            return Source(applyResidual(singleCond(keyEqs.head),
              conj.filterNot(_ eq keyEqs.head)), Nil)
          }
          if (equis.isEmpty) crossResidual(conj)
          else {
            val equiPairs = equis.map { case EqualTo(a, b) => assignJoinSides(a, b, lsrc._2, rsrc._2) }
            if (residual.nonEmpty && (pLeft || pRight)) valueJoin(equiPairs, residual = residual)
            else {
              val base = valueJoin(equiPairs)
              if (residual.isEmpty) base else applyResidual(base, residual)
            }
          }
      }
      Source(joined, Nil)
    // a DERIVED TABLE — `FROM (SELECT …) x`: the subquery compiles to
    // its OWN maintained changefeed (any view shape) which then serves
    // as this query's source — view-over-view composition INSIDE one
    // SQL string. An aggregate subquery's changefeed carries its output
    // columns as the payload and tombstones exiting groups, so an outer
    // `WHERE n > 5` behaves exactly like HAVING (threshold exits emit
    // deletes downstream).
    case view => Source(keyedPlan(spark, view, feeds).changes, Nil)
  }

  /** Subqueries in WHERE predicates and SELECT lists, hoisted onto the
    * planner's own join dataflows. Each subquery becomes one dim-join
    * LAYER over the fact feed (layers chain when an expression carries
    * several), and the expression is rewritten to read the layer's
    * injected fields — absence is SQL NULL, so three-valued logic falls
    * out of [[compileExpr]] unchanged. Three classes:
    *
    *  - '''Scalar''' — `amount > (SELECT avg(x) FROM s)`, the
    *    DYNAMIC-THRESHOLD view class (a filter whose cut moves as the
    *    data moves): the uncorrelated global-aggregate subquery
    *    compiles to its one-group changefeed ([[keyedPlan]]), every
    *    fact subscribes with a constant FK, and the fact-preserving
    *    FK-join dataflow pairs each row with the CURRENT scalar; the
    *    downstream no-change suppression emits only rows that actually
    *    crossed the threshold. Empty (or emptied) subquery table = the
    *    scalar is SQL NULL and the comparison filters every row —
    *    batch `x > NULL` semantics. The EQUI-CORRELATED form
    *    (`SELECT …, (SELECT count(*) FROM ord WHERE ord.cid = c.id)`)
    *    groups the subquery by its correlation exprs and probes by the
    *    outer attrs — the classic decorrelation, with the COUNT BUG
    *    handled: a `count` item coalesces the absent group to 0 (batch
    *    count over zero rows), while sum/avg/min/max stay NULL.
    *  - '''Membership''' — `x [NOT] IN (SELECT y FROM u [WHERE …])`:
    *    the subquery compiles to a maintained per-VALUE count view
    *    (`GROUP BY y`, NULL values excluded); each fact subscribes with
    *    fk = hash of its probe value and the join injects a presence
    *    marker — an incremental SEMI join whose state shards by VALUE
    *    (unlike the scalar's single shard). NOT IN additionally joins
    *    the subquery's (total, non-null) counts to apply SQL's
    *    null-aware rule exactly: any NULL in the subquery → no row
    *    passes; empty subquery → EVERY row passes (even NULL probes);
    *    else non-null probes without a match pass. Equi-correlated IN
    *    adds the correlation exprs to the grouping (probe = outer attrs
    *    + value); correlated NOT IN keys the counter view by the
    *    correlation exprs, so the null-aware rule applies PER GROUP —
    *    an absent group is an empty subquery for that row (passes).
    *  - '''Existential''' — `[NOT] EXISTS (SELECT … FROM u WHERE
    *    u.f = t.g [AND inner-only …])`: each outer-referencing conjunct
    *    must be `<inner expr> = <outer attr>`; the inner exprs become
    *    the membership grouping (multi-key correlation supported, probe
    *    = the outer attrs), inner-only conjuncts stay the subquery's
    *    WHERE. Uncorrelated EXISTS degenerates to a constant-keyed
    *    global count ("is the subquery non-empty"). NULL correlation
    *    values never match (equi semantics), so NOT EXISTS passes them
    *    — batch SQL agreement.
    *
    * Correlation detection happens HERE on the parsed tree (outerAttrs
    * is an analysis-time artifact, empty in a parsed-only plan):
    * qualified refs whose qualifier is no relation/alias inside the
    * subquery are outer references; bare names bind innermost-first
    * (standard SQL scoping), so they are the inner feed's. Outer refs
    * anywhere but a WHERE equi-conjunct — select items, FROM, non-equi
    * predicates — are rejected with a rewrite hint.
    *
    * Equality discipline: membership and correlation compare the
    * planner's group-key STRING form of both sides (the GROUP BY
    * discipline of this engine), and dim keys are the fnv64 group
    * hash — the same collision caveat as every keyed view here.
    *
    * Scale shape: membership/existential/correlated layers shard their
    * join state by probe VALUE — they distribute. The uncorrelated
    * scalar and NOT-IN-counter layers are constant-FK: hop 2 holds
    * every subscribed row on ONE state shard, the honest cost of a
    * total predicate over a moving global scalar (Materialize's
    * cross-join lowering class). `spark.graft.subquery.maxRowsPerShard`
    * (default 1e6) bounds every layer's per-shard subscription state —
    * past the bound the fold RAISES (naming the derived-table-prefilter
    * rewrite) instead of letting one shard OOM silently, the same
    * discipline as the session/ranked/value-join/cross guards.
    */
  private final class SubqueryHoister(spark: SparkSession, feeds: Map[String, Dataset[Change]]) {
    private implicit val changeEnc: org.apache.spark.sql.Encoder[Change] = Encoders.product[Change]
    private val layers = scala.collection.mutable.ArrayBuffer.empty[Dataset[Change] => Dataset[Change]]
    private val maxShardRows =
      spark.conf.get("spark.graft.subquery.maxRowsPerShard", "1000000").toInt
    private var n = 0

    def isEmpty: Boolean = layers.isEmpty
    def wire(changes: Dataset[Change]): Dataset[Change] =
      layers.foldLeft(changes)((f, l) => l(f))

    def rewrite(e: Expression): Expression = e.transform {
      case sq: ScalarSubquery  => scalarLayer(sq)
      case Not(in: InSubquery) => inLayers(in, negated = true)
      case in: InSubquery      => inLayers(in, negated = false)
      case Not(ex: Exists)     => existsLayer(ex, negated = true)
      case ex: Exists          => existsLayer(ex, negated = false)
    }

    private def attr(nm: String) = UnresolvedAttribute(Seq(nm))
    private def cnt(arg: Expression, nm: String): NamedExpression =
      Alias(UnresolvedFunction(Seq("count"), Seq(arg), isDistinct = false), nm)()
    private def probeEnc(probes: Seq[Eval]): Env => String =
      env => probes.map(f => f(env).map(String.valueOf(_)).getOrElse(NullMark)).mkString(Sep)

    // one dim-join layer: every live fact subscribes with fk =
    // fnv64(probe encoding); the dim side arrives keyed by fnv64(_group)
    // from viewChanges, so the probe encoding IS the group-key encoding
    // (String.valueOf / NullMark / Sep). The dim's injected fields merge
    // into the fact payload; a missing dim row = absent fields = SQL
    // NULL downstream.
    private def layer(dimFeed: Dataset[Change],
        inject: Map[String, String] => Map[String, String], probe: Env => String): Unit = {
      val fkField = s"_h${n}_fk"
      val dim = dimFeed.map(c => if (c.op == "delete") c else c.copy(payload = inject(c.payload)))
      layers += { facts =>
        val subscribed = facts.map(c =>
          if (c.op == "delete") c
          else c.copy(payload = c.payload + (fkField -> fnv64(probe(envOf(c))).toString)))
        JoinView.materializeFkJoin(subscribed, dim, fkField, leftOuter = true,
            maxFactsPerKey = maxShardRows).map { jc =>
          Change(if (jc.op == "delete") "delete" else "upsert", jc.fact_key,
            tsOfMicros(jc.tsUs), (jc.fact_payload - fkField) ++ jc.dim_payload, jc.seq)
        }
      }
    }

    private def innerRelsOf(plan: LogicalPlan): Set[String] = plan.collect {
      case r: UnresolvedRelation => r.multipartIdentifier.last
      case sa: SubqueryAlias     => sa.alias
    }.toSet
    private def outerRefsIn(plan: LogicalPlan, e: Expression): Seq[UnresolvedAttribute] = {
      val inner = innerRelsOf(plan)
      e.collect {
        case a: UnresolvedAttribute
            if a.nameParts.length > 1 && !inner.contains(a.nameParts.head) => a
      }
    }
    private def outerRefsOf(plan: LogicalPlan): Seq[UnresolvedAttribute] =
      plan.collect { case node => node.expressions }.flatten.flatMap(outerRefsIn(plan, _))

    /** Split a subquery plan into (equi-correlation pairs, inner-only
      * WHERE conjuncts, select items, FROM child). Every outer
      * reference must live in a WHERE conjunct of the exact shape
      * `<inner expr> = <outer attr>`; outer refs in the select list or
      * below the WHERE are rejected (`what` names the construct in the
      * error). The Nil-pairs result is the uncorrelated case.
      */
    private def decorrelate(plan: LogicalPlan, what: String, allowNonEqui: Boolean = false)
        : (Seq[(Expression, Expression)], Seq[Expression], Seq[Expression], Seq[NamedExpression], LogicalPlan) = {
      val (items, condOpt, subChild) = plan match {
        case Project(is, f: Filter) => (is, Some(f.condition), f.child)
        case Project(is, c)         => (is, None, c)
        case other => throw unsupported(
          s"$what shape ${other.getClass.getSimpleName} (need SELECT … FROM … [WHERE …])")
      }
      val strays = outerRefsOf(subChild) ++ items.flatMap(outerRefsIn(plan, _))
      require(strays.isEmpty,
        s"$what outer reference ${strays.headOption.map(_.sql).getOrElse("")} outside the WHERE clause is unsupported")
      val inner = innerRelsOf(plan)
      def isOuter(a: UnresolvedAttribute) =
        a.nameParts.length > 1 && !inner.contains(a.nameParts.head)
      def refsOuter(e: Expression) =
        e.collect { case a: UnresolvedAttribute if isOuter(a) => a }.nonEmpty
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case x         => Seq(x)
      }
      val (outerCs, innerCs) = condOpt.map(conjuncts).getOrElse(Nil).partition(refsOuter)
      // (inner expr, outer attr) per equi-correlated conjunct; anything
      // else outer-referencing is a NON-EQUI correlation conjunct
      val (equiCs, nonEquiCs) = outerCs.partition {
        case EqualTo(l, r: UnresolvedAttribute) if !refsOuter(l) && isOuter(r) => true
        case EqualTo(l: UnresolvedAttribute, r) if !refsOuter(r) && isOuter(l) => true
        case _ => false
      }
      val pairs: Seq[(Expression, Expression)] = equiCs.map {
        case EqualTo(l, r: UnresolvedAttribute) if !refsOuter(l) && isOuter(r) => (l, r)
        case EqualTo(l: UnresolvedAttribute, r) => (r, l)
      }
      if (!allowNonEqui && nonEquiCs.nonEmpty) throw unsupported(
        s"$what correlation ${nonEquiCs.head.sql} (each outer-referencing conjunct must be " +
          "<inner expr> = <outer attr> — equi-correlation only here)")
      (pairs, nonEquiCs, innerCs, items, subChild)
    }

    /** The per-correlation-group dim plan: GROUP BY the correlation
      * exprs (NULL keys excluded — equi semantics, a NULL never
      * matches), re-applying the subquery's inner-only WHERE, with
      * `extra` as the aggregated output columns.
      */
    private def groupedDim(corrExprs: Seq[Expression], innerCs: Seq[Expression],
        extra: Seq[NamedExpression], subChild: LogicalPlan): LogicalPlan = {
      val aliases: Seq[NamedExpression] =
        corrExprs.zipWithIndex.map { case (e, i) => Alias(e, s"_v$i")() }
      val filterCond = (innerCs ++ corrExprs.map(IsNotNull(_))).reduceOption(And)
      Aggregate(corrExprs, aliases ++ extra,
        filterCond.map(Filter(_, subChild)).getOrElse(subChild))
    }

    private def scalarLayer(sq: ScalarSubquery): Expression = {
      val nm = s"_sq$n"
      if ((sq.outerAttrs ++ outerRefsOf(sq.plan)).isEmpty) {
        sq.plan match {
          case p: Project if globalAgg(p).isDefined          => ()
          case a: Aggregate if a.groupingExpressions.isEmpty => ()
          case _ => throw unsupported(
            "scalar subquery (must be a GLOBAL aggregate, e.g. (SELECT avg(x) FROM s), or an " +
              "equi-correlated one; a grouped subquery has many rows and is not a scalar)")
        }
        val Keyed(aggFeed, outNames, _) = keyedPlan(spark, sq.plan, feeds)
        require(outNames.length == 1,
          s"scalar subquery must select exactly one column; got ${outNames.mkString(", ")}")
        val scalarName = outNames.head
        layer(aggFeed, p => p.get(scalarName).map(v => Map(nm -> v)).getOrElse(Map.empty), _ => "")
        n += 1
        attr(nm)
      } else {
        val (pairs, nonEquis, innerCs, items, subChild) =
          decorrelate(sq.plan, "correlated scalar subquery", allowNonEqui = true)
        require(items.length == 1,
          s"scalar subquery must select exactly one column; got ${items.length}")
        val core = coreOf(items.head)
        val isCount = core match {
          case f: UnresolvedFunction => f.nameParts.last.toLowerCase == "count"
          case _ => throw unsupported(
            "correlated scalar subquery item (must be one aggregate call, e.g. count(*) or avg(x))")
        }
        if (nonEquis.isEmpty)
          layer(keyedPlan(spark, groupedDim(pairs.map(_._1), innerCs,
              Seq(Alias(core, "_s")()), subChild), feeds).changes,
            p => p.get("_s").map(v => Map(nm -> v)).getOrElse(Map.empty),
            probeEnc(pairs.map(p => compileExpr(p._2))))
        else nonEquiScalarLayer(nm, pairs, nonEquis, innerCs, core, subChild)
        n += 1
        // the COUNT bug: an absent correlation group is count = 0 in
        // batch SQL (every other aggregate over zero rows is NULL)
        if (isCount) UnresolvedFunction(Seq("coalesce"), Seq(attr(nm), Literal("0")), isDistinct = false)
        else attr(nm)
      }
    }

    /** NON-EQUI correlated scalar aggregate — `(SELECT agg(x) FROM s
      * WHERE s.k = o.k AND s.v < o.cut)`: the classic decorrelation is a
      * LEFT JOIN with the non-equi conjuncts as the ON residual, then an
      * aggregate per outer row — and both pieces already exist here. The
      * layer pairs the fact feed with the subquery's row feed through the
      * residual-aware value-join (equi-correlation values arrange the
      * buckets; non-equi + inner-only conjuncts are the live residual;
      * facts are PRESERVED so a fact with zero admissible rows still
      * groups — count 0, sum/avg/min/max NULL, batch semantics), then an
      * internal aggregate view grouped by the fact's change key computes
      * the scalar, which the standard fk-hop injects back onto the fact.
      *
      * `count(*)` counts a dim-side marker (`_dm`) so preserved solos
      * count 0, not 1. Scale: with no equi conjunct every row shares ONE
      * bucket (the cross-arrangement class) — `maxRowsPerShard` raises
      * past the bound, same discipline as the other layers; with equi
      * conjuncts the buckets shard by correlation value.
      */
    private def nonEquiScalarLayer(nm: String, pairs: Seq[(Expression, Expression)],
        nonEquis: Seq[Expression], innerCs: Seq[Expression],
        core: Expression, subChild: LogicalPlan): Unit = {
      val (dimFeed0, dimAlias) = subChild match {
        case sa: SubqueryAlias => (feeds.getOrElse(relNameOf(sa.child),
          throw new IllegalArgumentException(s"unknown feed '${relNameOf(sa.child)}'")), sa.alias)
        case r: UnresolvedRelation =>
          val name = r.multipartIdentifier.last
          (feeds.getOrElse(name, throw new IllegalArgumentException(s"unknown feed '$name'")), name)
        case other => throw unsupported(
          s"non-equi correlated subquery FROM ${other.getClass.getSimpleName} (named feed only)")
      }
      // dim marker: lets count(*) count PAIRS (a preserved solo's dim
      // side is empty, so its marker is NULL and counts 0)
      val dimFeed = dimFeed0.map(c =>
        if (c.op == "delete") c else c.copy(payload = c.payload + ("_dm" -> "1")))
      def qualDim(rp: Map[String, String]): Map[String, String] =
        rp ++ rp.map { case (k, v) => s"$dimAlias.$k" -> v }
      // join values: outer attrs on the fact side, inner exprs on the dim
      val lVal = joinValExtract(pairs.map(_._2), "")
      val rVal = joinValExtract(pairs.map(_._1), dimAlias)
      // residual = non-equi correlation + the subquery's inner-only WHERE
      // (a row failing either pairs with nobody → contributes nothing)
      val resPreds = (nonEquis ++ innerCs).map(compileExpr)
      val resFn = (lp: Map[String, String], rp: Map[String, String]) => {
        val env = lp ++ qualDim(rp)
        resPreds.forall(p => p(env).contains(true))
      }
      // count(*) → count(_dm) so preserved solos count 0, not 1; the
      // parser renders a subquery's count(*) as count(1), so literal
      // arguments rewrite too. Other aggregates read dim fields, which
      // are NULL on solos and drop out naturally.
      val aggCore = core match {
        case f: UnresolvedFunction
            if f.nameParts.last.equalsIgnoreCase("count") &&
              f.arguments.forall(a => a.isInstanceOf[UnresolvedStar] || a.isInstanceOf[Literal]) =>
          f.copy(arguments = Seq(attr("_dm")))
        case other => other
      }
      val fkField = s"_h${n}_fk"
      layers += { facts =>
        // the fact's change key rides the pair payload so the internal
        // aggregate can group by it
        val factsCk = facts.map(c =>
          if (c.op == "delete") c else c.copy(payload = c.payload + ("_ck" -> c.key.toString)))
        val pairFeed: Dataset[Change] = JoinView.materializeValueJoin(
            factsCk, dimFeed, lVal, rVal,
            preserveLeft = true, preserveRight = false,
            maxRowsPerValue = maxShardRows, residual = Some(resFn))
          .map(jc => Change(if (jc.op == "delete") "delete" else "upsert", jc.key,
            tsOfMicros(jc.tsUs), jc.l_payload ++ qualDim(jc.r_payload), jc.seq))
        // SQL sum over ZERO matching rows is NULL, but the flat fold's
        // sum slot reads 0.0 for an all-solo group — a hidden count of
        // the sum's own operand distinguishes "no contributions" from a
        // real zero, and the inject withholds the field (= SQL NULL)
        val sumOperand: Option[Expression] = aggCore match {
          case f: UnresolvedFunction if f.nameParts.last.equalsIgnoreCase("sum") =>
            f.arguments.headOption
          case _ => None
        }
        val aggItems = Seq(Alias(attr("_ck"), "_ck")(), Alias(aggCore, "_s")()) ++
          sumOperand.map(op =>
            Alias(UnresolvedFunction(Seq("count"), Seq(op), isDistinct = false), "_n")())
        val aggDim = keyedPlan(spark,
          Aggregate(Seq(attr("_ck")), aggItems, UnresolvedRelation(Seq("__corr"))),
          Map("__corr" -> pairFeed)).changes
          .map(c => if (c.op == "delete") c
            else if (sumOperand.nonEmpty && c.payload.get("_n").contains("0"))
              c.copy(payload = Map.empty)
            else c.copy(payload = c.payload.get("_s").map(v => Map(nm -> v)).getOrElse(Map.empty)))
        val subscribed = facts.map(c =>
          if (c.op == "delete") c
          else c.copy(payload = c.payload + (fkField -> fnv64(c.key.toString).toString)))
        JoinView.materializeFkJoin(subscribed, aggDim, fkField, leftOuter = true,
            maxFactsPerKey = maxShardRows).map { jc =>
          Change(if (jc.op == "delete") "delete" else "upsert", jc.fact_key,
            tsOfMicros(jc.tsUs), (jc.fact_payload - fkField) ++ jc.dim_payload, jc.seq)
        }
      }
    }

    private def relNameOf(plan: LogicalPlan): String = plan match {
      case r: UnresolvedRelation => r.multipartIdentifier.last
      case other                 => throw unsupported(
        s"non-equi correlated subquery FROM ${other.getClass.getSimpleName} (named feed only)")
    }

    private def inLayers(in: InSubquery, negated: Boolean): Expression = {
      val probeExpr = in.values match {
        case Seq(v) => v
        case vs     => throw unsupported(s"${vs.length}-column IN tuple (single-value IN only)")
      }
      val (pairs, nonEquis, innerCs, items, subChild) = in.query.plan match {
        case Distinct(p: Project) => decorrelate(p, "IN subquery", allowNonEqui = true)
        case p                    => decorrelate(p, "IN subquery", allowNonEqui = true)
      }
      val vExpr = items match {
        case Seq(item) => coreOf(item)
        case is => throw unsupported(s"IN subquery selects ${is.length} columns (need exactly one)")
      }
      if (nonEquis.nonEmpty) return nonEquiInExpr(probeExpr, vExpr, pairs, nonEquis, innerCs, subChild, negated)
      val corrExprs = pairs.map(_._1)
      val mk = s"_h${n}_m"
      layer(keyedPlan(spark, groupedDim(corrExprs :+ vExpr, innerCs,
          Seq(cnt(Literal(1), "_n")), subChild), feeds).changes,
        _ => Map(mk -> "1"),
        probeEnc((pairs.map(_._2) :+ probeExpr).map(compileExpr)))
      n += 1
      if (!negated) IsNotNull(attr(mk))
      else {
        // null-aware NOT IN needs the subquery's shape too: _t = total
        // live rows (IsNull ⟺ subquery empty FOR THIS ROW'S GROUP, via
        // the aggregate's tombstone / absent group), _nn = non-null
        // rows (_t = _nn ⟺ no NULL candidate could make every
        // comparison unknown). Uncorrelated = one constant-keyed
        // global counter; correlated = a counter per correlation group.
        val (tN, nnN) = (s"_h${n}_t", s"_h${n}_nn")
        val counts = Seq(cnt(Literal(1), "_t"), cnt(vExpr, "_nn"))
        val cntPlan =
          if (corrExprs.isEmpty)
            Aggregate(Nil, counts, innerCs.reduceOption(And).map(Filter(_, subChild)).getOrElse(subChild))
          else groupedDim(corrExprs, innerCs, counts, subChild)
        layer(keyedPlan(spark, cntPlan, feeds).changes,
          p => Seq("_t" -> tN, "_nn" -> nnN).flatMap { case (f, o) => p.get(f).map(o -> _) }.toMap,
          probeEnc(pairs.map(p => compileExpr(p._2))))
        n += 1
        Or(IsNull(attr(tN)),
          And(And(IsNotNull(probeExpr), IsNull(attr(mk))), EqualTo(attr(tN), attr(nnN))))
      }
    }

    private def existsLayer(ex: Exists, negated: Boolean): Expression = {
      val (pairs, nonEquis, innerCs, _, subChild) =
        decorrelate(ex.plan, "EXISTS subquery", allowNonEqui = true)
      if (nonEquis.nonEmpty) {
        // EXISTS with a non-equi correlation ⟺ the #212 correlated
        // count > 0 (no three-valued subtlety: EXISTS is never UNKNOWN)
        val nm = s"_sq$n"
        nonEquiScalarLayer(nm, pairs, nonEquis, innerCs,
          UnresolvedFunction(Seq("count"), Seq(Literal(1)), isDistinct = false), subChild)
        n += 1
        val cnt = UnresolvedFunction(Seq("coalesce"), Seq(attr(nm), Literal("0")), isDistinct = false)
        return if (negated) LessThanOrEqual(cnt, Literal("0")) else GreaterThan(cnt, Literal("0"))
      }
      val mk = s"_h${n}_m"
      if (pairs.isEmpty) {
        // uncorrelated EXISTS: "is the (filtered) subquery non-empty" —
        // one global count, constant-keyed like a scalar
        val filtered = innerCs.reduceOption(And).map(Filter(_, subChild)).getOrElse(subChild)
        layer(keyedPlan(spark, Aggregate(Nil, Seq(cnt(Literal(1), "_n")), filtered), feeds).changes,
          _ => Map(mk -> "1"), _ => "")
      } else {
        layer(keyedPlan(spark, groupedDim(pairs.map(_._1), innerCs,
            Seq(cnt(Literal(1), "_n")), subChild), feeds).changes,
          _ => Map(mk -> "1"),
          probeEnc(pairs.map(p => compileExpr(p._2))))
      }
      n += 1
      if (negated) IsNull(attr(mk)) else IsNotNull(attr(mk))
    }

    /** `x [NOT] IN (SELECT y FROM s WHERE … AND s.v < o.cut)` — IN with
      * a NON-EQUI correlation, with EXACT SQL three-valued logic. The
      * candidate set depends on the outer row (its non-equi cut), so
      * membership decomposes into THREE #212 correlated counts per
      * outer row, each its own layer:
      *
      *  - `cMatch` — candidates with y = x (the probe joins the
      *    equality tuple): > 0 ⟹ TRUE;
      *  - `cNull`  — candidates whose y IS NULL: > 0 ⟹ UNKNOWN when
      *    no match (a NULL candidate could equal x);
      *  - `cAny`   — all candidates: decides NULL-probe rows (x NULL
      *    vs a non-empty set is UNKNOWN, vs an empty set FALSE).
      *
      * NOT IN is the Kleene negation of the same expression. Honest
      * cost: three pair dataflows over the subquery feed — the price
      * of exact 3VL when the membership set is per-outer-row.
      */
    private def nonEquiInExpr(probeExpr: Expression, vExpr: Expression,
        pairs: Seq[(Expression, Expression)], nonEquis: Seq[Expression],
        innerCs: Seq[Expression], subChild: LogicalPlan, negated: Boolean): Expression = {
      val count1 = UnresolvedFunction(Seq("count"), Seq(Literal(1)), isDistinct = false)
      def layerCnt(extraPairs: Seq[(Expression, Expression)], extraInner: Seq[Expression]): Expression = {
        val nm = s"_sq$n"
        nonEquiScalarLayer(nm, pairs ++ extraPairs, nonEquis, innerCs ++ extraInner, count1, subChild)
        n += 1
        GreaterThan(
          UnresolvedFunction(Seq("coalesce"), Seq(attr(nm), Literal("0")), isDistinct = false),
          Literal("0"))
      }
      val hasMatch = layerCnt(Seq((vExpr, probeExpr)), Nil)
      val hasNull  = layerCnt(Nil, Seq(IsNull(vExpr)))
      val hasAny   = layerCnt(Nil, Nil)
      val nullLit  = Literal(null, org.apache.spark.sql.types.NullType)
      val inExpr = CaseWhen(Seq(
        (IsNull(probeExpr), CaseWhen(Seq((hasAny, nullLit)), Literal(false))),
        (hasMatch, Literal(true)),
        (hasNull, nullLit)),
        Literal(false))
      if (negated) Not(inExpr) else inExpr
    }
  }

  private def hoistSubqueries(spark: SparkSession, cond: Expression, src: Source,
      feeds: Map[String, Dataset[Change]]): Source = {
    val h = new SubqueryHoister(spark, feeds)
    val rewritten = h.rewrite(cond)
    if (h.isEmpty) src.copy(filters = src.filters :+ cond)
    else Source(h.wire(src.changes), src.filters :+ rewritten)
  }

  /** UNION ALL of SELECT branches as ONE changefeed: each branch
    * compiles to its own row view ([[rowChangesOf]] — per-branch
    * projection and WHERE applied, per-branch keyed state sharded like
    * any row view), then branches re-key into DISJOINT key spaces (FNV
    * of the branch ordinal + source key) so same-valued keys from
    * different feeds stay distinct rows and a delete routes to ITS
    * branch's row — multiset semantics, which is what UNION ALL means.
    * Branch column lists must match by NAME: positional alignment over
    * a schema-on-read payload would silently mis-wire fields, so it is
    * rejected instead. Nested unions (`a UNION ALL b UNION ALL c`)
    * flatten, ordinals following the SQL's branch order.
    */
  private def unionChanges(spark: SparkSession, u: Union,
      feeds: Map[String, Dataset[Change]]): Keyed = {
    def flatten(p: LogicalPlan): Seq[LogicalPlan] = p match {
      case un: Union => un.children.flatMap(flatten)
      case other     => Seq(other)
    }
    val branches = flatten(u).map {
      case p: Project => rowChangesOf(spark, p, feeds, None)
      case other => throw unsupported(
        s"UNION branch ${other.getClass.getSimpleName} (each branch must be a plain SELECT; " +
          "for UNION DISTINCT write SELECT DISTINCT over the UNION ALL)")
    }
    val nameLists = branches.map(_.names)
    require(nameLists.distinct.length == 1,
      s"UNION branches must project the same column names; got " +
        nameLists.distinct.map(_.mkString("(", ",", ")")).mkString(" vs "))
    implicit val changeEnc = Encoders.product[Change]
    val rekeyed = branches.zipWithIndex.map { case (b, i) =>
      b.changes.map(c => c.copy(key = fnv64("u" + i + Sep + c.key)))
    }
    Keyed(rekeyed.reduce(_ union _), nameLists.head, sourceKeys = false)
  }

  /** Wire [[JoinView.materializeFkJoin]] for the planner: facts carry
    * `fkField` in the payload, dims are keyed by the FK space; the
    * joined changefeed is keyed by fact. `factIsLeft` preserves the
    * SQL's left/right order for the unqualified field merge (right
    * wins collisions, like the key-equi-join path).
    */
  private def fkJoin(fact: (Dataset[Change], String), dim: (Dataset[Change], String),
      fkField: String, factIsLeft: Boolean, factPreserving: Boolean = false): Dataset[Change] = {
    implicit val changeEnc = Encoders.product[Change]
    JoinView.materializeFkJoin(fact._1, dim._1, fkField, factPreserving).map { jc =>
      val (lp, la, rp, ra) =
        if (factIsLeft) (jc.fact_payload, fact._2, jc.dim_payload, dim._2)
        else (jc.dim_payload, dim._2, jc.fact_payload, fact._2)
      def qual(alias: String, p: Map[String, String]): Map[String, String] =
        if (alias.isEmpty) Map.empty else p.map { case (k, v) => s"$alias.$k" -> v }
      val payload = lp ++ rp ++ qual(la, lp) ++ qual(ra, rp)
      Change(if (jc.op == "delete") "delete" else "upsert", jc.fact_key,
        tsOfMicros(jc.tsUs), payload, jc.seq)
    }
  }

  /** Decide which side of `e1 = e2` reads which feed of a VALUE-equi
    * join, by the alias qualifiers the expressions carry: an expression
    * qualifying any attribute with the left feed's alias is the left
    * expression (and symmetrically), either orientation. Unqualified
    * (or cross-qualified) conditions are rejected with the fix — this
    * is a parse-time planner with no schema to resolve bare names
    * against, so the qualification IS the binding.
    */
  private def assignJoinSides(e1: Expression, e2: Expression,
      lAlias: String, rAlias: String): (Expression, Expression) = {
    def quals(e: Expression): Set[String] = e.collect {
      case a: UnresolvedAttribute if a.nameParts.length > 1 => a.nameParts.head
    }.toSet
    val (q1, q2) = (quals(e1), quals(e2))
    require(lAlias.nonEmpty && rAlias.nonEmpty,
      "value-equi join sides must be named feeds or aliased subqueries " +
        "(qualify the join columns: a.city = b.city)")
    if (q1.contains(lAlias) && !q1.contains(rAlias) && q2.contains(rAlias) && !q2.contains(lAlias))
      (e1, e2)
    else if (q1.contains(rAlias) && !q1.contains(lAlias) && q2.contains(lAlias) && !q2.contains(rAlias))
      (e2, e1)
    else throw unsupported(
      s"value-equi join condition ${e1.sql} = ${e2.sql}: each side must qualify its own feed's " +
        s"columns (one side $lAlias.*, the other $rAlias.*)")
  }

  /** Compile one side's join-value expression tuple to a
    * `Change => value` closure over that feed's alias-qualified
    * environment. None = SQL NULL in ANY component, which never matches
    * (composite equality is an AND of equalities).
    */
  private def joinValExtract(es: Seq[Expression], alias: String): Change => Option[String] = {
    val fs = es.map(compileExpr)
    (c: Change) => {
      val env0 = envOf(c)
      val env  = env0 ++ env0.map { case (k, v) => (s"$alias.$k", v) }
      val vs   = fs.map(f => f(env))
      if (vs.exists(_.isEmpty)) None
      else Some(vs.map(v => String.valueOf(v.get)).mkString(Sep))
    }
  }

  /** A join side and its alias: a bare (possibly aliased) feed, ANOTHER
    * JOIN — `a JOIN b ... JOIN c ...` parses left-deep, so the inner
    * join's changefeed feeds the outer hop and 3+-feed views layer out
    * of the same two-feed dataflows; its payload already carries both
    * sides' qualified fields, so outer conditions like `f.fk2 = d2.key`
    * resolve through it — or a derived table of any view shape. A side
    * whose keys are not source row keys (aggregate, union, generator,
    * ranked) joins only through the VALUE-equi shape (join on its
    * columns — `a.city = b.city`); the key/fk-shaped conditions reject
    * it instead of silently joining hash garbage.
    */
  private def leaf(spark: SparkSession, plan: LogicalPlan,
      feeds: Map[String, Dataset[Change]]): (Keyed, String) = plan match {
    case sa: SubqueryAlias => (leaf(spark, sa.child, feeds)._1, sa.alias)
    case r: UnresolvedRelation =>
      val name = r.multipartIdentifier.last
      (Keyed(feeds.getOrElse(name, throw new IllegalArgumentException(s"unknown feed '$name'")),
        Nil, sourceKeys = true), name)
    case j: Join => (Keyed(compileSource(spark, j, feeds).changes, Nil, sourceKeys = true), "")
    case view    => (keyedPlan(spark, view, feeds), "")
  }

  /** Merge qualified copies of every payload field into the payload so
    * the compiled env lookup resolves both `alias.field` and `field`.
    */
  private def qualify(feed: Dataset[Change], alias: String): Dataset[Change] = {
    implicit val changeEnc = Encoders.product[Change]
    feed.map(c => c.copy(payload = c.payload ++ c.payload.map { case (k, v) => s"$alias.$k" -> v }))
  }

  private def tsOfMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** The change's field environment: payload fields plus the reserved
    * names `key` (the change key) and `ts_us` (the change's commit /
    * event position as epoch micros) — the latter is what a
    * `GROUP BY window(ts_us, '1 hour')` grouping reads when the feed's
    * event time IS its commit time.
    */
  private def envOf(c: Change): Env =
    c.payload + ("key" -> c.key.toString) + ("ts_us" -> CdcMaterializer.micros(c.ts).toString)

  // ------------------------------------------------------------------
  // Time-window grouping: `window(<tsExpr>, '<dur>'[, '<slide>'])` as a
  // GROUP BY expression. The window is a DERIVED GROUP KEY (its start
  // micros), so the whole retraction machinery applies unchanged: a
  // late UPDATE moves the key's contribution from the wrong window to
  // the right one (retract + add), a delete retracts, an emptied window
  // emits its _live_rows=0 tombstone. Semantics: each KEY counts toward
  // the window(s) of its CURRENT version — the changefeed-native
  // reading of a windowed view (Materialize's temporal GROUP BY), not
  // the append-only-event reading (that is [[WindowedAggs]]).
  // ------------------------------------------------------------------
  private final case class WindowGrouping(tsF: Eval, durUs: Long, slideUs: Long)

  /** One grouping slot: a scalar expression (one key part) or a window
    * (one part per containing window — several when sliding).
    */
  private sealed trait GroupSlot extends Serializable
  private final case class ScalarSlot(f: Eval) extends GroupSlot
  private final case class WindowSlot(w: WindowGrouping) extends GroupSlot

  private def durationUs(s: String): Long = {
    val pat = "(?i)\\s*(\\d+)\\s*(day|hour|minute|min|second|sec|millisecond|ms|microsecond)s?\\s*".r
    s match {
      case pat(n, unit) =>
        val scale = unit.toLowerCase match {
          case "day"                => 86400000000L
          case "hour"               => 3600000000L
          case "minute" | "min"     => 60000000L
          case "second" | "sec"     => 1000000L
          case "millisecond" | "ms" => 1000L
          case "microsecond"        => 1L
        }
        n.toLong * scale
      case _ => throw unsupported(s"window duration '$s' (use '<n> <unit>', e.g. '1 hour')")
    }
  }

  /** Event-time coercion for the window's ts argument: Timestamp
    * payloads convert, numeric values are taken as epoch MICROS, and
    * strings try micros-then-`Timestamp.valueOf`. NULL (or unparseable)
    * event time places the row in NO window — Spark's own windowed
    * aggregation drops null-timestamp rows the same way.
    */
  private def tsMicrosOf(v: Any): Option[Long] = v match {
    case t: Timestamp => Some(CdcMaterializer.micros(t))
    case s: String =>
      s.toLongOption.orElse(
        scala.util.Try(Timestamp.valueOf(s)).toOption.map(CdcMaterializer.micros))
    case other => asNum(other).map(_.toLong)
  }

  /** Start micros of every window containing `t`: the floor-aligned
    * latest start, walking back by slide while the window still covers
    * t. Tumbling (slide == dur) yields exactly one.
    */
  private def windowStartsOf(w: WindowGrouping, env: Env): Seq[String] =
    w.tsF(env).flatMap(tsMicrosOf) match {
      case None => Nil
      case Some(t) =>
        val last = Math.floorDiv(t, w.slideUs) * w.slideUs
        Iterator.iterate(last)(_ - w.slideUs)
          .takeWhile(s => s > t - w.durUs)
          .map(_.toString)
          .toSeq
    }

  private def compileGroupSlot(e: Expression): GroupSlot = e match {
    case f: UnresolvedFunction if f.nameParts.last.equalsIgnoreCase("window") =>
      f.arguments match {
        case Seq(tsE, Literal(d, _)) =>
          val dur = durationUs(String.valueOf(litValue(d).getOrElse("")))
          WindowSlot(WindowGrouping(compileExpr(tsE), dur, dur))
        case Seq(tsE, Literal(d, _), Literal(sl, _)) =>
          val dur   = durationUs(String.valueOf(litValue(d).getOrElse("")))
          val slide = durationUs(String.valueOf(litValue(sl).getOrElse("")))
          require(slide > 0 && dur > 0, "window duration and slide must be positive")
          WindowSlot(WindowGrouping(compileExpr(tsE), dur, slide))
        case other => throw unsupported(
          s"window(${other.map(_.sql).mkString(",")}) (need window(<ts>, '<dur>'[, '<slide>']))")
      }
    case other => ScalarSlot(compileExpr(other))
  }

  // ------------------------------------------------------------------
  // Aggregate view compilation
  // ------------------------------------------------------------------
  private sealed trait OutCol { def name: String }
  private final case class GroupOut(idx: Int, name: String) extends OutCol
  /** `grouping(e)` / `grouping_id(...)`: bits answering "is this base
    * grouping column ROLLED UP at this output row's level?" — arg order
    * gives bit order, first argument most significant (the standard).
    */
  private final case class GroupingOut(idxs: Seq[Int], name: String) extends OutCol
  private final case class CountOut(slot: Int, name: String) extends OutCol
  private final case class SumOut(slot: Int, name: String) extends OutCol
  private final case class AvgOut(sumSlot: Int, cntSlot: Int, name: String) extends OutCol
  private final case class MinOut(slot: Int, name: String) extends OutCol
  private final case class MaxOut(slot: Int, name: String) extends OutCol
  /** Variance-family output: (Σx, Σx², n) slots — the second moment is
    * INVERTIBLE, so stddev/variance ride the same signed-delta fold as
    * sum (retraction subtracts the identical scaled integers).
    * `sample` applies Bessel's correction; `sqrt` emits stddev.
    */
  private final case class VarOut(sumSlot: Int, sqSlot: Int, cntSlot: Int,
      name: String, sample: Boolean, root: Boolean) extends OutCol

  /** Boolean-aggregate output: `bool_and/every/bool_or/any/some(pred)`
    * from TWO indicator-count slots (n_true, n_false) — plain sums, so
    * both are INVERTIBLE under retraction; NULL predicates contribute to
    * neither (SQL ignores them), and n_true + n_false = 0 emits NULL.
    * `count_if` needs no case of its own: it compiles to a [[CountOut]]
    * over the true-indicator.
    */
  private final case class BoolOut(tSlot: Int, fSlot: Int, name: String,
      isAnd: Boolean) extends OutCol

  /** Covariance-family output: `corr/covar_samp/covar_pop/regr_slope/
    * regr_intercept/regr_r2/regr_count(y, x)` from six sufficient-
    * statistic slots (n, Σx, Σy, Σxy, Σx², Σy²) — all plain sums, so
    * the whole family is INVERTIBLE and rides the same signed-delta
    * fold as sum/stddev; `kind` picks the emitted statistic.
    */
  private final case class CorrOut(cntSlot: Int, sxSlot: Int, sySlot: Int,
      sxySlot: Int, sx2Slot: Int, sy2Slot: Int, name: String, kind: String) extends OutCol

  /** Third/fourth-moment output: `skewness/kurtosis(x)` from five
    * invertible raw power sums (n, Σx, Σx², Σx³, Σx⁴) on the
    * signed-delta fold — central moments derive on emission (Spark's
    * population forms: skew = √n·m₃/m₂^1.5, kurt = n·m₄/m₂² − 3; n=0 or
    * m₂=0 → NULL, Spark's own degenerate convention). Higher
    * powers spend the micro-unit fixed-point range faster than VarOut's
    * squares — the same documented quantization trade, raised to the
    * fourth power: keep operands small (normalize upstream) when exact
    * retraction cancellation matters at 2^53.
    */
  private final case class MomOut(cntSlot: Int, sSlot: Int, s2Slot: Int,
      s3Slot: Int, s4Slot: Int, name: String, kurt: Boolean) extends OutCol

  /** `product(x)` from four invertible slots: non-NULL count, zero
    * count, negative count, Σln|x| over the nonzero operands —
    * product = 0 when any live zero, else (−1)^negCount · exp(Σln|x|).
    * The counts retract exactly; the log-sum reconstruction is floating
    * (~1e-6 relative after micro-unit quantization) — product is not
    * decimal-exact, by construction.
    */
  private final case class ProdOut(cntSlot: Int, zeroSlot: Int, negSlot: Int,
      logSlot: Int, name: String) extends OutCol

  /** Session-window select item: expands to TWO output columns,
    * `<name>_start_us` / `<name>_end_us` (epoch micros — the planner's
    * stringly-feed convention, mirroring how `window(...)` groupings
    * emit their start micros).
    */
  private final case class SessionOut(name: String) extends OutCol

  /** `count/sum/avg(DISTINCT x)` in a SESSION view (session path only):
    * `sIdx` indexes the per-member distinct-value vector; the result
    * rides the session's sums vector AFTER the value slots.
    */
  private final case class DistinctOut(op: String, sIdx: Int, name: String) extends OutCol

  /** Exact percentile select item (holistic path only): `slot` holds the
    * operand (NaN = SQL NULL, excluded), `frac` the requested fraction,
    * `disc` picks percentile_disc's nearest-element rule over
    * percentile_cont's interpolation, `desc` the WITHIN GROUP direction.
    * The result rides the sums vector AFTER the value slots.
    */
  private final case class PercOut(slot: Int, frac: Double, disc: Boolean,
      desc: Boolean, name: String) extends OutCol

  /** `listagg/string_agg` select item (holistic path only): `valIdx` /
    * `ordIdx` index the per-key string-value vector (the operand and the
    * WITHIN GROUP order key — the operand itself when no ORDER BY is
    * given, so output is deterministic either way; ties break by change
    * key). The result rides the `strs` vector.
    */
  private final case class ListAggOut(valIdx: Int, ordIdx: Int, desc: Boolean,
      sep: String, name: String) extends OutCol

  /** `min_by/max_by(x, y)` select item (holistic path only): the x of
    * the live row with extreme y — an argmax is not invertible (deleting
    * the winner must re-derive from the remaining multiset), so it rides
    * the holistic full-value stage-2. `valIdx` indexes the per-key
    * string-value vector (the returned expression — the planner's
    * stringly-feed convention, numeric callers cast downstream),
    * `ordSlot` the numeric ordering operand. Ties break by change key
    * (batch-invariant determinism). Result rides `strs` after the
    * listagg entries.
    */
  private final case class ArgExtOut(valIdx: Int, ordSlot: Int, max: Boolean,
      name: String) extends OutCol

  /** `mode(x)` select item (holistic path only): the most frequent live
    * non-NULL value — a frequency argmax is not invertible (deleting a
    * winner's row must re-count the survivors), so it rides the full
    * multiset. Ties break by SMALLEST value under the listagg sort
    * order (numeric when both parse, else lexical) — deterministic
    * however batches sliced the history, matching the batch engine's
    * deterministic-mode convention (q56). Result rides `strs`.
    */
  private final case class ModeOut(valIdx: Int, name: String) extends OutCol

  /** `bit_and/bit_or/bit_xor(x)` select item (holistic path): AND/OR
    * are not invertible per bit (a retracted row's cleared bit needs
    * the survivors' count), so the family re-derives from the live
    * multiset; operands fold as longs, result rides `strs` as the
    * decimal string (cast to LONG on emission). Operand coercion is
    * integral-only, fail-fast: "6" and "6.0" coerce to 6L, but a
    * fractional ("2.7") or unparseable non-NULL operand THROWS —
    * Spark restricts bit aggregates to integral types at analysis,
    * and a dynamically-typed feed can only enforce that at fold time.
    */
  private final case class BitOut(valIdx: Int, op: String, name: String) extends OutCol

  /** The aggregate functions that need the group's full value multiset
    * (order statistics, ordered concatenation, argmax, frequency argmax,
    * bitwise folds) — routed to [[compileHolisticAgg]].
    */
  private val HolisticFns =
    Set("percentile_cont", "percentile_disc", "median", "percentile", "listagg", "string_agg",
      "min_by", "max_by", "mode", "bit_and", "bit_or", "bit_xor")

  /** Approx-percentile select item (DDSketch path): `qIdx` indexes the
    * per-view sketch array (one sketch per distinct operand expression —
    * several fractions over one operand share a sketch), `frac` the
    * requested quantile. The estimate rides the `sums` vector after the
    * plain slots, one entry per select item.
    */
  private final case class DdqPercOut(qIdx: Int, frac: Double, name: String) extends OutCol

  /** The bounded-state approximate quantile functions — routed to
    * [[compileDdqAgg]] (DDSketch), the O(sketch)-per-group alternative
    * to the holistic path's exact O(live rows).
    */
  private val DdqFns = Set("approx_percentile", "percentile_approx")

  /** Compile one aggregate-function select item to its [[OutCol]],
    * registering its value slots in `regs` — shared by all five
    * aggregate paths (through [[compileGrouped]]), which differ only in
    * HOW the slots fold downstream, not in what a select item means.
    * Each operand registers once per item, and its slots are transforms
    * of the operand's (number-parsed) value, so a change evaluates and
    * parses the operand once however many slots read it.
    * `nullSumAsNaN`: re-aggregating paths (session) mark a NULL sum
    * operand with NaN — filtered per session, so an all-NULL session
    * yields SQL NULL, not 0 — where the signed-delta fold must encode
    * it as 0 (NaN cannot be retracted; its all-NULL case is instead
    * indistinguishable from sum=0, the documented flat-path trade).
    */
  private def compileAggFnOut(fn: String, args: Seq[Expression], name: String,
      regs: AggRegs, nullSumAsNaN: Boolean = false): OutCol = {
    def num(a: Expression): Env => Option[Double] = { val ca = compileExpr(a); env => ca(env).flatMap(asNum) }
    def bool(a: Expression): Env => Option[Boolean] = { val ca = compileExpr(a); env => ca(env).flatMap(asBool) }
    val isSome = (v: Option[Any]) => if (v.isDefined) 1.0 else 0.0
    (fn, args) match {
      case ("count", Seq(_: UnresolvedStar)) =>
        CountOut(regs.addSlot((_: Env) => ())(_ => 1.0), name)
      case ("count", Seq(a)) =>
        CountOut(regs.addSlot(compileExpr(a))(isSome), name)
      case ("sum", Seq(a)) =>
        val nullMark = if (nullSumAsNaN) Double.NaN else 0.0
        SumOut(regs.addSlot(num(a))(_.getOrElse(nullMark)), name)
      case ("avg", Seq(a)) =>
        val Seq(s, c) = regs.addSlots(num(a))(_.getOrElse(0.0), isSome)
        AvgOut(s, c, name)
      // min/max slots carry NaN for SQL NULL (excluded from the
      // extremum, distinguishable from a real 0)
      case ("min", Seq(a)) =>
        MinOut(regs.addSlot(num(a))(_.getOrElse(Double.NaN)), name)
      case ("max", Seq(a)) =>
        MaxOut(regs.addSlot(num(a))(_.getOrElse(Double.NaN)), name)
      case ("stddev" | "stddev_samp" | "stddev_pop" | "variance" | "var_samp" | "var_pop", Seq(a)) =>
        val Seq(s, sq, c) = regs.addSlots(num(a))(
          _.getOrElse(0.0), _.map(x => x * x).getOrElse(0.0), isSome)
        VarOut(s, sq, c, name,
          sample = fn != "stddev_pop" && fn != "var_pop",
          root = fn.startsWith("stddev"))
      // boolean aggregates: NULL predicates join neither count (SQL's
      // ignore-NULLs rule); count_if counts Some(true) only
      case ("bool_and" | "every" | "bool_or" | "any" | "some", Seq(a)) =>
        val Seq(t, f) = regs.addSlots(bool(a))(
          v => if (v.contains(true)) 1.0 else 0.0, v => if (v.contains(false)) 1.0 else 0.0)
        BoolOut(t, f, name, isAnd = fn == "bool_and" || fn == "every")
      case ("count_if", Seq(a)) =>
        CountOut(regs.addSlot(bool(a))(v => if (v.contains(true)) 1.0 else 0.0), name)
      // two-argument covariance family — pairwise-complete rows only: a
      // row where EITHER operand is NULL contributes to NO slot,
      // including the pair count (SQL's pairwise-deletion rule). SQL
      // argument order is (y, x) with y the dependent variable;
      // corr/covar are symmetric, so order matters only for regr_*.
      case ("corr" | "covar_samp" | "covar_pop" | "regr_slope" | "regr_intercept"
          | "regr_r2" | "regr_count" | "regr_avgx" | "regr_avgy", Seq(argY, argX)) =>
        val (ny, nx) = (num(argY), num(argX))
        val both: Env => Option[(Double, Double)] =
          env => for { y <- ny(env); x <- nx(env) } yield (y, x)
        val Seq(c, sx, sy, sxy, sxx, syy) = regs.addSlots(both)(isSome,
          _.map(_._2).getOrElse(0.0),
          _.map(_._1).getOrElse(0.0),
          _.map(t => t._1 * t._2).getOrElse(0.0),
          _.map(t => t._2 * t._2).getOrElse(0.0),
          _.map(t => t._1 * t._1).getOrElse(0.0))
        CorrOut(c, sx, sy, sxy, sxx, syy, name, fn)
      // third/fourth standardized moments: five raw power sums, all
      // plain (invertible) adds — NULL operands join no slot. A single
      // power contribution past 2^53 in scaled space (|x|^p·1e6 — for
      // p=4 that is |x| ≳ 310) loses the fold's exact add/retract
      // cancellation; the doc trade is made LOUD with a one-time
      // per-JVM stderr warn so retraction drift on large-valued feeds
      // is no longer silent.
      case ("skewness" | "kurtosis", Seq(a)) =>
        def pow(p: Int)(v: Option[Double]): Double = v.map { x =>
          val y = math.pow(x, p)
          if (math.abs(y) * SlotScale > 9.007199254740992e15 &&
              powSumOverflowWarned.compareAndSet(false, true))
            System.err.println(
              s"[graft] WARN skewness/kurtosis power-sum contribution |$x|^$p " +
                "exceeds the 2^53 micro-unit exactness bound: add/retract " +
                "cancellation is no longer exact for this feed (normalize " +
                "operands upstream if exact retraction matters)")
          y
        }.getOrElse(0.0)
        val Seq(c, s1, s2, s3, s4) = regs.addSlots(num(a))(isSome, pow(1), pow(2), pow(3), pow(4))
        MomOut(c, s1, s2, s3, s4, name, kurt = fn == "kurtosis")
      // product: zero/negative counts + Σln|x| — zeros and signs ride
      // exact counters, magnitude rides the log sum
      case ("product", Seq(a)) =>
        val Seq(c, z, neg, lg) = regs.addSlots(num(a))(isSome,
          v => if (v.contains(0.0)) 1.0 else 0.0,
          v => if (v.exists(_ < 0.0)) 1.0 else 0.0,
          _.filter(_ != 0.0).map(x => math.log(math.abs(x))).getOrElse(0.0))
        ProdOut(c, z, neg, lg, name)
      // internal (DISTINCT rewrite only): reaggregation of inner
      // partials — sum of per-value counts emitted as LONG, and
      // sum(a)/sum(b) for plain avg decomposed through the levels
      case ("graft_sumlong", Seq(a)) =>
        CountOut(regs.addSlot(num(a))(_.getOrElse(0.0)), name)
      case ("graft_ratio", Seq(a, b)) =>
        AvgOut(regs.addSlot(num(a))(_.getOrElse(0.0)), regs.addSlot(num(b))(_.getOrElse(0.0)), name)
      case other => throw unsupported(s"aggregate $fn(${args.map(_.sql).mkString(",")})")
    }
  }

  /** One OutCol → its output Column, shared by every aggregate path;
    * `slotCol` supplies the path's slot access (descaled for the
    * signed-delta fold, raw for the keyed and session folds). The
    * path-owned columns ([[SessionOut]] expands to two columns in the
    * session path) throw here: their path's render must claim them.
    */
  private def outColExpr(oc: OutCol, slotCol: Int => Column, groupParts: Column): Column = oc match {
    case GroupOut(idx, name) =>
      val p = element_at(groupParts, idx + 1)
      // NullMark = the value was SQL NULL; RollMark = the column is
      // rolled up at this level — both display NULL (grouping() tells)
      when(p === NullMark || p === RollMark, lit(null)).otherwise(p).as(name)
    case GroupingOut(idxs, name) =>
      idxs.foldLeft(lit(0L)) { (acc, i) =>
        acc * 2 + when(element_at(groupParts, i + 1) === RollMark, lit(1L)).otherwise(lit(0L))
      }.as(name)
    case CountOut(slot, name) => slotCol(slot).cast("long").as(name)
    case SumOut(slot, name)   => slotCol(slot).as(name)
    case AvgOut(sumSlot, cntSlot, name) =>
      (slotCol(sumSlot) / when(slotCol(cntSlot) =!= 0.0, slotCol(cntSlot))).as(name)
    // NaN marks "no non-null value in the group" → SQL NULL
    case MinOut(slot, name) => nullIfNaN(slotCol(slot)).as(name)
    case MaxOut(slot, name) => nullIfNaN(slotCol(slot)).as(name)
    // all rows NULL-predicate (both counts 0) → SQL NULL; the counts
    // themselves survive micro-unit descaling exactly (integers)
    case BoolOut(t, f, name, isAnd) =>
      val n = slotCol(t) + slotCol(f)
      (if (isAnd) when(n > 0.0, slotCol(f) === 0.0)
       else when(n > 0.0, slotCol(t) > 0.0)).as(name)
    case VarOut(s, sq, c, name, sample, root) =>
      val n = slotCol(c)
      // var = (Σx² − (Σx)²/n) / denom; SQL NULLs: n=0 → NULL, sample
      // n=1 → NULL (division by a NULL-guarded denominator). Tiny
      // negative residue from micro-unit quantization clamps to 0.
      val denom = if (sample) when(n > 1.0, n - 1.0) else when(n > 0.0, n)
      val raw   = (slotCol(sq) - slotCol(s) * slotCol(s) / when(n > 0.0, n)) / denom
      val v     = when(raw < 0.0, lit(0.0)).otherwise(raw)
      (if (root) sqrt(v) else v).as(name)
    case CorrOut(cnt, sx, sy, sxy, sx2, sy2, name, kind) =>
      val n = slotCol(cnt)
      // centered sums from the raw moments; tiny negative residue from
      // micro-unit quantization clamps to 0 (the VarOut discipline)
      def pos(c: Column) = when(c < 0.0, lit(0.0)).otherwise(c)
      val sxyC = slotCol(sxy) - slotCol(sx) * slotCol(sy) / when(n > 0.0, n)
      val sxxC = pos(slotCol(sx2) - slotCol(sx) * slotCol(sx) / when(n > 0.0, n))
      val syyC = pos(slotCol(sy2) - slotCol(sy) * slotCol(sy) / when(n > 0.0, n))
      (kind match {
        case "regr_count" => n.cast("long")
        case "covar_pop"  => sxyC / when(n > 0.0, n)
        case "covar_samp" => sxyC / when(n > 1.0, n - 1.0)
        case "regr_avgx"  => slotCol(sx) / when(n > 0.0, n)
        case "regr_avgy"  => slotCol(sy) / when(n > 0.0, n)
        // corr: NULL when either variance is 0 (Spark/standard SQL)
        case "corr"       => sxyC / when(sxxC * syyC > 0.0, sqrt(sxxC * syyC))
        case "regr_slope" => sxyC / when(sxxC > 0.0, sxxC)
        case "regr_intercept" =>
          (slotCol(sy) - sxyC / when(sxxC > 0.0, sxxC) * slotCol(sx)) / when(n > 0.0, n)
        // regr_r2: NULL if var(x)=0; 1 if var(y)=0; else r²
        case "regr_r2" =>
          when(sxxC > 0.0,
            when(syyC > 0.0, sxyC * sxyC / (sxxC * syyC)).otherwise(lit(1.0)))
      }).as(name)
    case MomOut(cnt, s, s2, s3, s4, name, kurt) =>
      val n  = slotCol(cnt)
      val mu = slotCol(s) / when(n > 0.0, n)
      def pos(c: Column) = when(c < 0.0, lit(0.0)).otherwise(c)
      // central moments from the raw power sums (S1 = nμ):
      // m2 = S2 − nμ²; m3 = S3 − 3μS2 + 2nμ³; m4 = S4 − 4μS3 + 6μ²S2 − 3nμ⁴
      val m2 = pos(slotCol(s2) - n * mu * mu)
      val m3 = slotCol(s3) - lit(3.0) * mu * slotCol(s2) + lit(2.0) * n * mu * mu * mu
      val m4 = pos(slotCol(s4) - lit(4.0) * mu * slotCol(s3) +
        lit(6.0) * mu * mu * slotCol(s2) - lit(3.0) * n * mu * mu * mu * mu)
      // Spark's population conventions: n=0 or m2=0 → NULL (its batch
      // divide-by-zero rule under default non-ANSI semantics). The
      // zero-variance test gates on a QUANTIZATION epsilon, not 0: a
      // constant NON-micro-exact group (every x = 1.4142…) leaves a
      // POSITIVE residue in m2 — S2's per-row half-unit rounding plus
      // the nμ² subtraction's 2nμ·δμ term, both bounded by
      // n·1e-6·(1+μ²) — and m2 sits in the denominator raised to
      // 1.5/2, so that residue would emit huge garbage where batch
      // yields NULL. Variance below the micro-unit resolution is
      // outside the fold's documented precision contract anyway.
      val m2eps = n * lit(1e-6) * (lit(1.0) + mu * mu)
      val res =
        if (kurt) when(m2 > m2eps, n * m4 / (m2 * m2) - lit(3.0))
        else when(m2 > m2eps, sqrt(n) * m3 / pow(m2, 1.5))
      when(n > 0.0, res).as(name)
    case ProdOut(cnt, zero, neg, lg, name) =>
      val sign = lit(1.0) - lit(2.0) * pmod(slotCol(neg), lit(2.0))
      when(slotCol(cnt) > 0.0,
        when(slotCol(zero) > 0.0, lit(0.0)).otherwise(sign * exp(slotCol(lg)))).as(name)
    // path-owned columns render only in their own path's AggPath.render
    case oc @ (_: SessionOut | _: DistinctOut | _: DdqPercOut | _: PercOut | _: ListAggOut |
        _: ArgExtOut | _: ModeOut | _: BitOut) =>
      val path = oc match {
        case _: SessionOut  => "session"
        case _: DistinctOut => "session or approx (HLL)"
        case _: DdqPercOut  => "DDSketch"
        case _              => "holistic"
      }
      throw new IllegalStateException(
        s"${oc.getClass.getSimpleName} '${oc.name}' must be rendered by the $path path's AggPath.render")
  }

  private def outName(ne: Expression, fallback: String): String = ne match {
    case a: Alias               => a.name
    case a: UnresolvedAttribute => a.nameParts.last
    case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAlias => outName(ua.child, fallback)
    case _                      => fallback
  }

  /** Unwrap a select item to its core expression: explicit aliases AND
    * the parser's UnresolvedAlias (a bare `avg(x)` with no AS — what a
    * scalar subquery's select list carries).
    */
  private def coreOf(ne: Expression): Expression = ne match {
    case a: Alias => a.child
    case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAlias => ua.child
    case e => e
  }

  /** Aggregate-view dispatcher: DISTINCT aggregation routes to the
    * two-level composition (the planner's own view-over-view machinery);
    * everything else compiles flat. Before r7 `count(DISTINCT x)`
    * silently compiled as plain `count(x)` — a wrong-answer class, now
    * structurally impossible.
    */
  private def compileAggregate(spark: SparkSession, agg: Aggregate,
      feeds: Map[String, Dataset[Change]],
      ttl: Option[(String, Long)] = None,
      having: Option[Expression] = None,
      keepMeta: Boolean = false): PlannedView = {
    // `agg(x) FILTER (WHERE p)` ≡ agg(CASE WHEN p THEN x END): every
    // supported aggregate skips NULL operands, so routing the predicate
    // through a CASE is the exact standard semantics (count(*) FILTER
    // becomes count(CASE WHEN p THEN 1 END); DISTINCT composes — NULLs
    // never join the distinct multiset). Without this rewrite the
    // parser-accepted filter clause would be silently DROPPED — a
    // wrong-answer class, like the pre-r7 count(DISTINCT) hole.
    // Only DATA operands get the CASE wrap. Trailing literal arguments
    // are CONFIGURATION (percentile's fraction, listagg's separator) —
    // wrapping them in CaseWhen breaks the downstream literal-only
    // checks with a misleadingly attributed error. The first argument
    // is always data even when literal (`count(1) FILTER` must still
    // honor the predicate); later arguments are data iff non-literal
    // (corr/covar's second column wraps; the NULL-skipping semantics
    // stay exact because both operands carry the SAME predicate).
    def stripAggFilter(e: Expression): Expression = e.transform {
      case f: UnresolvedFunction if f.filter.isDefined =>
        val p = f.filter.get
        def wrap(a: Expression): Expression = CaseWhen(Seq((p, a)), None)
        if (f.orderingWithinGroup.nonEmpty && f.arguments.forall(_.isInstanceOf[Literal])) {
          // inverted form — percentile_cont(0.5) WITHIN GROUP (ORDER BY
          // x): the DATA operand rides the ordering, the arguments are
          // config literals (the fraction). Wrap the sort expression;
          // filtered rows evaluate NULL → excluded from the multiset.
          f.copy(orderingWithinGroup =
            f.orderingWithinGroup.map(so => so.copy(child = wrap(so.child))), filter = None)
        } else {
          val args2 = f.arguments.zipWithIndex.map {
            case (_: UnresolvedStar, _)   => CaseWhen(Seq((p, Literal(1))), None)
            case (a: Literal, i) if i > 0 => a
            case (a, _)                   => wrap(a)
          }
          f.copy(arguments = args2, filter = None)
        }
    }
    // min/max(DISTINCT x) ≡ min/max(x): normalize before dispatch so the
    // extremum forms never force the two-level rewrite on their own
    val norm0 = agg.copy(aggregateExpressions = agg.aggregateExpressions.map(ne =>
      stripAggFilter(ne).transform {
        case f: UnresolvedFunction
            if f.isDistinct && Set("min", "max")(f.nameParts.last.toLowerCase) =>
          f.copy(isDistinct = false)
      }.asInstanceOf[NamedExpression]))
    // HAVING may aggregate columns the SELECT list doesn't (`HAVING
    // sum(x) > 5` with no `sum(x)` item): hoist each such call into a
    // HIDDEN select item (`__h<i>`) and rewrite the condition to read
    // it — the hidden columns are dropped from the view after the
    // HAVING filter applies
    val havingAggFns = Set("count", "sum", "avg", "min", "max",
      "stddev", "stddev_samp", "stddev_pop", "variance", "var_samp", "var_pop",
      "corr", "covar_samp", "covar_pop", "regr_slope", "regr_intercept",
      "regr_r2", "regr_count", "regr_avgx", "regr_avgy",
      "bool_and", "every", "bool_or", "count_if",
      "skewness", "kurtosis", "product") ++
      HolisticFns ++ DdqFns
    val (norm, having1, hidden) = having match {
      case Some(cond) if cond.exists {
          case f: UnresolvedFunction => havingAggFns(f.nameParts.last.toLowerCase)
          case _                     => false
        } =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
        val rewritten = cond.transform {
          case f: UnresolvedFunction if havingAggFns(f.nameParts.last.toLowerCase) =>
            val nm = s"__h${buf.size}"
            buf += Alias(stripAggFilter(f), nm)()
            UnresolvedAttribute(Seq(nm))
        }
        (norm0.copy(aggregateExpressions = norm0.aggregateExpressions ++ buf),
          Some(rewritten), buf.map(_.name).toSeq)
      case other => (norm0, other, Nil)
    }
    val hasDistinct = norm.aggregateExpressions.exists(_.exists {
      case f: UnresolvedFunction => f.isDistinct
      case _                     => false
    })
    val hasApprox = norm.aggregateExpressions.exists(_.exists {
      case f: UnresolvedFunction => f.nameParts.last.equalsIgnoreCase("approx_count_distinct")
      case _                     => false
    })
    val hasHolistic = norm.aggregateExpressions.exists(_.exists {
      case f: UnresolvedFunction => HolisticFns(f.nameParts.last.toLowerCase)
      case _                     => false
    })
    val hasDdq = norm.aggregateExpressions.exists(_.exists {
      case f: UnresolvedFunction => DdqFns(f.nameParts.last.toLowerCase)
      case _                     => false
    })
    if (hasApprox) {
      require(!hasDistinct, "approx_count_distinct does not mix with exact DISTINCT " +
        "aggregates in one view — split into two views over the same feed")
      require(!hasHolistic, "approx_count_distinct does not mix with exact percentile/" +
        "listagg in one view — sketches cannot retract, the holistic path must; split " +
        "into two views over the same feed")
      require(!hasDdq, "approx_count_distinct (append-only HLL) does not mix with " +
        "approx_percentile (retractable DDSketch) in one view — split into two views " +
        "over the same feed")
      require(ttl.isEmpty, "approx_count_distinct views are append-only; they do not " +
        "compose with materializeExpiring (there is no dead state to expire)")
      require(!keepMeta, "approx views do not compose with materializeAggChanges/" +
        "materializeTopK — sketches cannot retract, so the layered view could not either")
      return dropHidden(compileApproxAgg(spark, norm, feeds, having1), hidden)
    }
    val hasSession = norm.groupingExpressions.exists(_.exists {
      case f: UnresolvedFunction => f.nameParts.last.equalsIgnoreCase("session_window")
      case _                     => false
    })
    if (hasDdq) {
      require(!hasDistinct, "approx_percentile does not mix with DISTINCT aggregates " +
        "in one view — split into two views over the same feed")
      require(!hasHolistic, "approx_percentile does not mix with exact percentile/" +
        "listagg in one view — use the exact holistic forms alone, or split into two " +
        "views over the same feed")
      require(!hasSession, "approx_percentile does not combine with session_window " +
        "groupings — aggregate the session view's changefeed in a second layered view")
      return dropHidden(compileDdqAgg(spark, norm, feeds, ttl, having1, keepMeta), hidden)
    }
    if (hasSession) {
      // DISTINCT aggregates compose here WITHOUT the two-level rewrite:
      // the session stage-2 already holds every member's raw values, so
      // count/sum/avg(DISTINCT x) is a distinct-multiset aggregation
      // over the session's members — recomputed exactly on every merge/
      // split (lifted r9; the value rides stage 1 as `svals`)
      require(!hasHolistic, "exact percentile/listagg does not combine with " +
        "session_window groupings yet — aggregate the session view's changefeed in a " +
        "second layered view instead")
      // keepMeta composes (r11): the session's change identity is
      // (level-key, session start), emitted as one combined `_group`
      // string — superseded session starts tombstone with _live_rows=0,
      // exactly the contract viewChanges folds
      dropHidden(compileSessionAggregate(spark, norm, feeds, ttl, having1, keepMeta), hidden)
    }
    else if (hasHolistic) {
      require(!hasDistinct, "exact percentile/listagg does not mix with DISTINCT " +
        "aggregates in one view — split into two views over the same feed")
      dropHidden(compileHolisticAgg(spark, norm, feeds, ttl, having1, keepMeta), hidden)
    }
    else if (!hasDistinct)
      dropHidden(compileAggregateFlat(spark, norm, feeds, ttl, having1, keepMeta), hidden)
    else {
      require(ttl.isEmpty,
        "DISTINCT views do not compose with materializeExpiring: the internal " +
          "distinct view holds exact per-value state that a tombstone TTL would corrupt; " +
          "bound the value space upstream (WHERE / HAVING) instead")
      dropHidden(compileDistinctAgg(spark, norm, feeds, having1, keepMeta), hidden)
    }
  }

  /** Drop the HAVING hoist's hidden `__h<i>` columns once the filter has
    * applied — they are implementation detail, not view output.
    */
  private def dropHidden(pv: PlannedView, hidden: Seq[String]): PlannedView =
    if (hidden.isEmpty) pv else pv.copy(df = pv.df.drop(hidden: _*))

  /** DISTINCT-aggregate views, compiled as the planner's OWN composition:
    * an internal maintained view over (group keys, x) — the #171m
    * DISTINCT dataflow exposed as a changefeed — feeding an outer
    * aggregate. A value's LAST contributing row leaving the source
    * tombstones its (group, value) row in the inner view, which retracts
    * exactly one contribution downstream: distinct counts/sums FALL as
    * rows delete, which no single-level signed-delta fold can do (you
    * cannot know a value is gone without per-value state — this is the
    * standard two-level materialization, per-value state sharded by
    * (group, value) across the cluster rather than one heavy per-group
    * blob). NULL x contributes no inner payload field and therefore no
    * contribution, matching SQL DISTINCT-aggregate NULL exclusion.
    *
    * Supported shape: any group keys (window included), any number of
    * `count/sum/avg(DISTINCT <expr>)` over ANY arguments
    * (`min/max(DISTINCT)` is the plain extremum, normalized upstream),
    * MIXED freely with plain count(*)/count/sum/avg/min/max — each plain
    * aggregate decomposes through the inner level as a partial:
    * count → sum of per-value counts, sum → sum of per-value sums,
    * avg → ratio of the two, min/max → extremum of per-value extrema
    * (the classic two-level reaggregation; every decomposition is exact,
    * not approximate). DIFFERENT distinct arguments (lifted r9) get one
    * inner per-value view each, `_arg`-tagged into one union feed; the
    * outer's distinct items read their own rows through a CASE gate and
    * plain partials ride argument 0's inner only.
    *
    * ROLLUP/CUBE/GROUPING SETS compose (since r8): the two-level
    * decomposition runs PER GROUPING LEVEL — each level gets its own
    * inner (active groups, value) view (per-value distinctness cannot
    * be reaggregated across levels: a value under two sub-groups is ONE
    * distinct value of the rolled-up group, which only per-level
    * per-value state can know), the level feeds are re-keyed into
    * disjoint spaces (the UNION discipline) with [[RollMark]] tagged
    * into inactive `_dg` positions, and ONE flat outer aggregate over
    * the union regroups all levels — its key parts then carry RollMark
    * exactly like the flat grouping-sets path, so NULL-vs-rolled
    * disambiguation and grouping()/grouping_id() rendering are the
    * same code. Honest cost: L levels = L inner dataflows over the
    * source feed (ROLLUP(a,b) = 3), each sharded by (level groups,
    * value) — the distributed shape, not a per-group blob.
    */
  private def compileDistinctAgg(spark: SparkSession, agg: Aggregate,
      feeds: Map[String, Dataset[Change]],
      having: Option[Expression],
      keepMeta: Boolean): PlannedView = {
    val (baseExprs, levels) = expandGroupingSets(agg.groupingExpressions)
    require(levels.length == 1 || !baseExprs.exists(_.exists {
        case f: UnresolvedFunction =>
          Set("window", "session_window")(f.nameParts.last.toLowerCase)
        case _ => false
      }),
      "window(...) groupings do not combine with ROLLUP/CUBE/GROUPING SETS")
    val groupSql = baseExprs.map(_.sql)
    val cores: Seq[(Expression, String)] = agg.aggregateExpressions.zipWithIndex.map {
      case (ne, i) =>
        (coreOf(ne), outName(ne, s"col$i"))
    }
    val dArgs0 = cores.collect {
      case (f: UnresolvedFunction, _) if f.isDistinct =>
        require(Set("count", "sum", "avg")(f.nameParts.last.toLowerCase) && f.arguments.length == 1,
          s"DISTINCT aggregation supports count/sum/avg(DISTINCT <one expr>); got ${f.sql}")
        f.arguments.head
    }
    // DIFFERENT distinct arguments compose (lifted r9): one inner
    // per-value view PER ARGUMENT, re-keyed into disjoint spaces and
    // `_arg`-tagged; the one flat outer regroups them all, each
    // distinct item reading only its argument's rows via a CASE gate
    // (plain partials ride argument 0's inner only). Honest cost:
    // levels × arguments inner dataflows over the source feed.
    val dArgList: Seq[Expression] = dArgs0.foldLeft(Vector.empty[Expression]) { (acc, e) =>
      if (acc.exists(_.sql == e.sql)) acc else acc :+ e
    }
    val dArgIdx: Map[String, Int] = dArgList.map(_.sql).zipWithIndex.toMap
    val multiArg = dArgList.length > 1
    val n        = baseExprs.length

    // inner partials for the plain aggregates, one column per need
    val innerExtra = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
    def partial(fn: String, args: Seq[Expression]): UnresolvedAttribute = {
      val nm = s"_p${innerExtra.size}"
      innerExtra += Alias(UnresolvedFunction(Seq(fn), args, isDistinct = false), nm)()
      UnresolvedAttribute(Seq(nm))
    }
    def call(fn: String, args: Expression*): UnresolvedFunction =
      UnresolvedFunction(Seq(fn), args.toSeq, isDistinct = false)

    val outerOut: Seq[NamedExpression] = cores.map { case (core, name) =>
      core match {
        case e if groupSql.indexOf(e.sql) >= 0 =>
          Alias(UnresolvedAttribute(Seq(s"_dg${groupSql.indexOf(e.sql)}")), name)()
        case f: UnresolvedFunction
            if Set("grouping", "grouping_id")(f.nameParts.last.toLowerCase) =>
          // rewrite args onto the outer's _dg columns: the flat outer
          // computes grouping()/grouping_id() from its own key parts
          // (RollMark-tagged by the level feeds below)
          val args = f.arguments.map { a =>
            val i = groupSql.indexOf(a.sql)
            if (i < 0) throw unsupported(
              s"${f.nameParts.last}(${a.sql}) (argument must be a grouping column)")
            UnresolvedAttribute(Seq(s"_dg$i"))
          }
          Alias(f.copy(arguments = args), name)()
        case f: UnresolvedFunction if f.isDistinct =>
          // count/sum/avg over the maintained distinct values themselves;
          // with several distinct arguments, gate on the row's `_arg` tag
          val dx: Expression =
            if (!multiArg) UnresolvedAttribute(Seq("_dx"))
            else CaseWhen(Seq((
              EqualTo(UnresolvedAttribute(Seq("_arg")),
                Literal(dArgIdx(f.arguments.head.sql).toString)),
              UnresolvedAttribute(Seq("_dx")))), None)
          Alias(call(f.nameParts.last.toLowerCase, dx), name)()
        case f: UnresolvedFunction =>
          (f.nameParts.last.toLowerCase, f.arguments) match {
            case ("count", args @ Seq(_: UnresolvedStar)) =>
              Alias(call("graft_sumlong", partial("count", args)), name)()
            case ("count", Seq(a)) =>
              Alias(call("graft_sumlong", partial("count", Seq(a))), name)()
            case ("sum", Seq(a)) =>
              Alias(call("sum", partial("sum", Seq(a))), name)()
            case ("avg", Seq(a)) =>
              Alias(call("graft_ratio", partial("sum", Seq(a)), partial("count", Seq(a))), name)()
            case ("min", Seq(a)) =>
              Alias(call("min", partial("min", Seq(a))), name)()
            case ("max", Seq(a)) =>
              Alias(call("max", partial("max", Seq(a))), name)()
            case (fn, args) => throw unsupported(
              s"aggregate $fn(${args.map(_.sql).mkString(",")}) alongside DISTINCT aggregation")
          }
        case other => throw unsupported(s"select item ${other.sql} in a DISTINCT aggregate view")
      }
    }
    // one inner (active groups, value) view per (level, distinct
    // argument); the feeds are re-keyed into disjoint spaces and tagged
    // with RollMark at inactive positions (so the outer's key parts
    // carry the level) and with `_arg` (so each distinct item reads
    // only its argument's per-value rows). Plain partials ride
    // argument 0's inner only — on other arguments' rows the partial
    // fields are absent and the outer's null-skipping folds ignore them.
    implicit val changeEnc: org.apache.spark.sql.Encoder[Change] = Encoders.product[Change]
    val innerFeed: Dataset[Change] = (for {
      (active, li)  <- levels.zipWithIndex
      (dArg, ai)    <- dArgList.zipWithIndex
    } yield {
      val innerOut: Seq[NamedExpression] =
        (active.map(i => Alias(baseExprs(i), s"_dg$i")()) :+
          Alias(dArg, "_dx")()) ++ (if (ai == 0) innerExtra.toSeq else Nil)
      val inner = Aggregate(active.map(baseExprs(_)) :+ dArg, innerOut, agg.child)
      val feed = keyedPlan(spark, inner, feeds).changes
      val inactive = (0 until n).filterNot(active.contains)
      val tag      = inactive.map(i => s"_dg$i" -> RollMark) ++
        (if (multiArg) Seq("_arg" -> ai.toString) else Nil)
      feed.map { c =>
        // single-argument views keep the pre-multi-arg key shape (no
        // `ai` segment): a checkpoint taken before multi-argument
        // DISTINCT support restarts onto the SAME state-store keys —
        // including the segment unconditionally would orphan that state
        // and double-count. Multi-arg views postdate the change, so
        // their keys carry the argument index from birth.
        val keyed =
          if (multiArg) c.copy(key = fnv64(s"D$li$Sep$ai$Sep${c.key}"))
          else c.copy(key = fnv64(s"D$li$Sep${c.key}"))
        if (c.op == "delete" || tag.isEmpty) keyed
        else keyed.copy(payload = keyed.payload ++ tag)
      }
    }).reduce(_ union _)
    val outerGroups: Seq[Expression] = (0 until n).map(i => UnresolvedAttribute(Seq(s"_dg$i")))
    val outer = Aggregate(outerGroups, outerOut, UnresolvedRelation(Seq("__distinct")))
    compileAggregateFlat(spark, outer, Map("__distinct" -> innerFeed),
      ttl = None, having = having, keepMeta = keepMeta)
  }

  /** ROLLUP/CUBE/GROUPING SETS expansion, shared by the flat and the
    * DISTINCT aggregate paths: one [[BaseGroupingSets]] grouping expands
    * to (deduped base exprs, per-level active base indices); a plain
    * GROUP BY is the one-level special case.
    */
  private def expandGroupingSets(ges: Seq[Expression]): (Seq[Expression], Seq[Seq[Int]]) =
    ges match {
      case Seq(b: BaseGroupingSets) =>
        // NOT b.groupByExprs — that asserts resolved children, and this
        // is a parse-only plan; dedup the sets' exprs by sql instead
        val sets    = b.selectedGroupByExprs
        val base    = sets.flatten.foldLeft(Vector.empty[Expression]) { (acc, e) =>
          if (acc.exists(_.sql == e.sql)) acc else acc :+ e
        }
        val baseSql = base.map(_.sql)
        val lvls    = sets.map(_.map(e => baseSql.indexOf(e.sql)).filter(_ >= 0))
        // duplicate levels (GROUPING SETS ((a),(a)), ROLLUP(a,a), or
        // order-permuted sets) would double-count into ONE group key,
        // where batch SQL emits duplicate ROWS — a shape a keyed
        // changefeed cannot represent; reject instead of answer wrong
        require(lvls.map(_.toSet).distinct.length == lvls.length,
          "duplicate grouping sets (two levels grouping the same columns) are unsupported: " +
            "a keyed changefeed has one row per group, where batch SQL emits duplicates — " +
            "drop the repeated set")
        (base, lvls)
      case Seq(one, rest @ _*) if (one +: rest).exists(_.isInstanceOf[BaseGroupingSets]) =>
        throw unsupported("mixing plain GROUP BY expressions with ROLLUP/CUBE/GROUPING SETS " +
          "(put every grouping column inside the GROUPING SETS clause)")
      case _ => (ges, Seq(ges.indices))
    }

  // ------------------------------------------------------------------
  // The grouped-aggregate skeleton. All five aggregate paths — flat
  // (signed-delta, or keyed when a min/max is present), holistic, session,
  // approx (HLL) and DDSketch — run one pipeline: the source and its WHERE,
  // grouping-set expansion with group slots and the window refusals,
  // select-item parsing, the group-key builder, the TTL-aware stage-1
  // keying, and the output tail (`_live_rows`, keepMeta, HAVING). A path
  // supplies only its own parts ([[AggPath]]). The extractor closures
  // capture plain values only.
  // ------------------------------------------------------------------

  /** The value vectors a view's select items register into: numeric
    * `slots`, each a transform of one registered `operand` (evaluated
    * once per change however many slots read it), string `svals`, and
    * `tail` operands that ride AFTER the slots in every contribution (the
    * DDSketch percentile operands; NaN = SQL NULL).
    */
  private final class AggRegs {
    val operands = scala.collection.mutable.ArrayBuffer.empty[Env => Any]
    val slots    = scala.collection.mutable.ArrayBuffer.empty[(Int, Any => Double)]
    val svals, tail = scala.collection.mutable.ArrayBuffer.empty[Eval]
    /** Register `operand` and one slot per transform of its value. */
    def addSlots[A](operand: Env => A)(fs: (A => Double)*): Seq[Int] = {
      operands += operand
      val o = operands.size - 1
      fs.map { f => slots += ((o, (v: Any) => f(v.asInstanceOf[A]))); slots.size - 1 }
    }
    def addSlot[A](operand: Env => A)(f: A => Double): Int = addSlots(operand)(f).head
    def addSval(f: Eval): Int = { svals += f; svals.size - 1 }
    def addTail(f: Eval): Int = { tail += f; tail.size - 1 }
  }

  /** What the skeleton hands a path's dataflow: the parsed output
    * columns, the register counts, the per-slot fold op (sum/min/max),
    * whether the slots fold as scaled signed deltas, the contribution
    * extractor, and the (watermarked) changes keyed by change key.
    */
  private final case class AggParts(outCols: Seq[OutCol], nSlots: Int, nSvals: Int, nTail: Int,
      slotOps: Seq[String], scaled: Boolean,
      extract: Change => Option[(Seq[String], Seq[Double], Seq[String])],
      keyed: KeyValueGroupedDataset[Long, Change], timeout: GroupStateTimeout,
      ttl: Option[(String, Long)])

  /** One aggregate path's own parts:
    *  - `flow`: its two stages (see [[twoStage]]);
    *  - `item`: its own select items, tried before [[compileAggFnOut]];
    *  - `render`: its own output columns; `extra()` reads the next result
    *    the stage-2 fold appends to `sums` after the slots;
    *  - `nullSumAsNaN`: see [[compileAggFnOut]]; such NaN sums render NULL;
    *  - `deltas`: count/sum/avg fold as signed micro-unit deltas unless a
    *    min/max slot is present (then the slots stay raw);
    *  - `evTs`: session_window's event time, prefixed to every
    *    contribution (NULL = dead); the grouping must then be scalar;
    *  - `groupCol`: the keepMeta change identity.
    */
  private final case class AggPath(
      flow: AggParts => DataFrame,
      item: AggRegs => PartialFunction[(UnresolvedFunction, String), OutCol] =
        (_: AggRegs) => PartialFunction.empty,
      render: (AggParts, () => Column) => PartialFunction[OutCol, Seq[Column]] =
        (_: AggParts, _: () => Column) => PartialFunction.empty,
      nullSumAsNaN: Boolean = false,
      deltas: Boolean = false,
      evTs: Option[Eval] = None,
      groupCol: Column = col("group"))

  private def nullIfNaN(c: Column): Column = when(isnan(c), lit(null)).otherwise(c)

  /** The one group-key builder: per base expr its part value(s), then
    * one key per LEVEL with [[RollMark]] in the level's inactive
    * positions — the cartesian of the parts, so a sliding window yields
    * dur/slide keys and a NULL window time none (a dead contribution).
    * One level with every position active is the plain GROUP BY.
    */
  private def groupKeysOf(slots: Seq[GroupSlot], levels: Seq[Seq[Int]], env: Env): Seq[String] = {
    val parts: Seq[Seq[String]] = slots.map {
      case ScalarSlot(f) => Seq(f(env).map(String.valueOf(_)).getOrElse(NullMark))
      case WindowSlot(w) => windowStartsOf(w, env)
    }
    levels.flatMap { active =>
      parts.zipWithIndex
        .map { case (ps, i) => if (active.contains(i)) ps else Seq(RollMark) }
        .foldLeft(Seq(Vector.empty[String])) { (acc, p) =>
          for (a <- acc; x <- p) yield a :+ x
        }
        .map(_.mkString(Sep))
    }
  }

  /** The skeleton: compile `agg` through `path` (see the section note). */
  private def compileGrouped(spark: SparkSession, agg: Aggregate,
      feeds: Map[String, Dataset[Change]], ttl: Option[(String, Long)],
      having: Option[Expression], keepMeta: Boolean, path: AggPath): PlannedView = {
    val src   = compileSource(spark, agg.child, feeds)
    val preds = src.filters.map(compileExpr)
    // ROLLUP/CUBE/GROUPING SETS: one BaseGroupingSets grouping expands
    // to its levels — each row contributes to EVERY level's group (the
    // plural-groups contract the sliding window already uses)
    val (baseExprs, levels) = expandGroupingSets(agg.groupingExpressions)
    val groupSlots = baseExprs.map(compileGroupSlot)
    require(path.evTs.isEmpty || groupSlots.forall(_.isInstanceOf[ScalarSlot]),
      "session_window does not combine with window(...) groupings")
    require(groupSlots.count(_.isInstanceOf[WindowSlot]) <= 1,
      "at most one window(...) grouping per view (Spark's own windowed-aggregation rule)")
    require(levels.length == 1 || groupSlots.forall(_.isInstanceOf[ScalarSlot]),
      "window(...) groupings do not combine with ROLLUP/CUBE/GROUPING SETS")
    val groupSql = baseExprs.map(_.sql)
    def groupIdx(fn: String, e: Expression): Int = groupSql.indexOf(e.sql) match {
      case -1 => throw unsupported(s"$fn(${e.sql}) (argument must be a grouping column)")
      case i  => i
    }

    val regs  = new AggRegs
    val items = path.item(regs)
    val outCols: Seq[OutCol] = agg.aggregateExpressions.zipWithIndex.map { case (ne, i) =>
      val name = outName(ne, s"col$i")
      coreOf(ne) match {
        case e if groupSql.contains(e.sql) => GroupOut(groupSql.indexOf(e.sql), name)
        case f: UnresolvedFunction if f.nameParts.last.equalsIgnoreCase("grouping") =>
          f.arguments match {
            case Seq(e) => GroupingOut(Seq(groupIdx("grouping", e)), name)
            case other  => throw unsupported(
              s"grouping(${other.map(_.sql).mkString(",")}) (one grouping column)")
          }
        case f: UnresolvedFunction if f.nameParts.last.equalsIgnoreCase("grouping_id") =>
          GroupingOut(if (f.arguments.isEmpty) groupSql.indices
            else f.arguments.map(groupIdx("grouping_id", _)), name)
        case f: UnresolvedFunction =>
          items.lift((f, name)).getOrElse(compileAggFnOut(f.nameParts.last.toLowerCase,
            f.arguments, name, regs, path.nullSumAsNaN))
        case other => throw unsupported(
          s"select item ${other.sql} (neither grouping expr nor a supported aggregate)")
      }
    }

    val operands = regs.operands.toIndexedSeq
    val slotFns  = regs.slots.toIndexedSeq
    val tails    = regs.tail.toIndexedSeq
    val strings  = regs.svals.toIndexedSeq
    val evTs    = path.evTs
    // serializable extractor: Change → Option[(group keys, slot values,
    // string values)]; None = the row does not contribute (filtered out,
    // NULL session time); an empty key list (NULL window time) is
    // likewise a dead contribution. Operands coerce themselves (asNum,
    // which rejects NaN/Inf parses) and each slot transforms its
    // operand's value; do NOT re-coerce here — a min/max slot's NaN is
    // the deliberate "SQL NULL, excluded" marker, and asNum would
    // flatten it into a real 0.0
    val extract: Change => Option[(Seq[String], Seq[Double], Seq[String])] = { c =>
      val env = envOf(c)
      if (!preds.forall(p => p(env).contains(true))) None
      else {
        val ev = evTs.map(_(env).flatMap(tsMicrosOf))
        if (ev.contains(None)) None
        else {
          val ops  = operands.map(_(env))
          val vals = slotFns.map { case (o, f) => f(ops(o)) } ++
            tails.map(s => s(env) match { case Some(d: Double) => d; case _ => 0.0 })
          Some((groupKeysOf(groupSlots, levels, env),
            ev.flatten.fold(vals)(t => t.toDouble +: vals),
            strings.map(s => s(env).map(String.valueOf(_)).getOrElse(NullMark))))
        }
      }
    }
    val slotOps: Seq[String] = outCols.foldLeft(Vector.fill(regs.slots.length)("sum")) {
      case (ops, MinOut(s, _)) => ops.updated(s, "min")
      case (ops, MaxOut(s, _)) => ops.updated(s, "max")
      case (ops, _)            => ops
    }
    val scaled = path.deltas && slotOps.forall(_ == "sum")
    val parts  = AggParts(outCols, regs.slots.length, strings.length, regs.tail.length, slotOps,
      scaled, extract, watermarked(src.changes, ttl).groupByKey(_.key)(Encoders.scalaLong),
      timeoutOf(ttl), ttl)
    val groupRows = path.flow(parts)

    val groupParts = split(col("group"), Sep)
    def sumsAt(i: Int) = element_at(col("sums"), i + 1)
    // the signed-delta folds carry micro-unit integers ([[SlotScale]] in
    // aggFold/ddqFold) — descale on emission; the other folds emit raw
    def slotCol(i: Int) = if (scaled) sumsAt(i) / lit(SlotScale) else sumsAt(i)
    var extras = regs.slots.length - 1
    val own = path.render(parts, () => { extras += 1; sumsAt(extras) })
    val outExprs = outCols.flatMap(oc => own.applyOrElse(oc, (_: OutCol) => Seq(oc match {
      case SumOut(slot, name) if path.nullSumAsNaN => nullIfNaN(slotCol(slot)).as(name)
      case _ => outColExpr(oc, slotCol, groupParts)
    })))
    // _live_rows rides along as the view's tombstone signal: a group
    // whose live-row count reaches 0 re-emits once with _live_rows = 0,
    // which IS the "group left the view" change of the view's changefeed.
    // `keepMeta` additionally carries the group identity + commit position
    // for the changefeed conversion (materializeAggChanges).
    val metaCols =
      if (keepMeta) Seq(path.groupCol.as("_group"), col("tsUs").as("_ts_us"), col("seq").as("_seq"))
      else Nil
    val selected = groupRows.select(outExprs ++ (col("live_rows").as("_live_rows") +: metaCols): _*)
    // HAVING: evaluated over the emitted output columns — a group that
    // stops satisfying it re-emits AS ITS TOMBSTONE (the view-exit
    // change), while its state stays (it must: the group can re-enter).
    // The predicate must reference selected output columns/aliases
    // (standard for a view definition); anything else fails resolution
    // with Spark's own error.
    val withHaving = having match {
      case Some(cond) =>
        selected.withColumn("_live_rows",
          when(coalesce(expr(cond.sql), lit(false)), col("_live_rows")).otherwise(lit(0L)))
      case None => selected
    }
    PlannedView(withHaving, OutputMode.Append())
  }

  /** The two keyed stages of every aggregate path: stage 1 folds each
    * change key's contribution (tombstone-TTL aware via [[expiring]]),
    * stage 2 folds per group. Stage 2 is a keyed FOLD, not a streaming
    * aggregation: Spark allows chained flatMapGroupsWithState stages only
    * when every stage (and the sink) is Append — the liveExtremes
    * precedent — and Append is also the right semantic: each emission is
    * one change of the view's changefeed (touched groups only).
    */
  private def twoStage[M <: Product : TypeTag, S <: Product : TypeTag, R <: Product : TypeTag](
      p: AggParts, stage1: (Long, Iterator[Change], GroupState[PlannedContrib]) => Iterator[M])(
      groupOf: M => String, stage2: (String, Iterator[M], GroupState[S]) => Iterator[R]): DataFrame =
    p.keyed
      .flatMapGroupsWithState(OutputMode.Append(), p.timeout)(expiring(p.ttl, stage1))(
        Encoders.product[PlannedContrib], Encoders.product[M])
      .groupByKey(groupOf)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(stage2)(
        Encoders.product[S], Encoders.product[R])
      .toDF()

  /** The flat path. Two stage-2 strategies, picked by the SELECT list:
    * count/sum/avg only → signed-delta running totals (O(1) state per
    * group); any min/max → per-group keyed contributions re-aggregated
    * on touch by [[holisticFold]] with no holistic items (subtracting
    * an extremum is meaningless; deleting the group's max must re-emit
    * the next best — the liveExtremes strategy, O(live keys in touched
    * groups) per batch, unbounded as before).
    */
  private def compileAggregateFlat(spark: SparkSession, agg: Aggregate,
      feeds: Map[String, Dataset[Change]],
      ttl: Option[(String, Long)] = None,
      having: Option[Expression] = None,
      keepMeta: Boolean = false): PlannedView =
    compileGrouped(spark, agg, feeds, ttl, having, keepMeta, AggPath(deltas = true, flow = p =>
      if (p.scaled) twoStage(p, aggFold(p.extract))(_.group, groupFold)
      else twoStage(p, keyFold(p.extract))(_.group, holisticFold(p.slotOps, p.outCols, Int.MaxValue))))

  /** HOLISTIC aggregate views: exact `percentile_cont/percentile_disc
    * (f) WITHIN GROUP (ORDER BY x [DESC])`, `median(x)`, `percentile(x,
    * f)`, and `listagg/string_agg(x[, sep]) [WITHIN GROUP (ORDER BY o
    * [DESC])]` per group under FULL retraction — the live-p95 dashboard
    * shape no signed-delta fold can maintain (order statistics are not
    * invertible: deleting the current median must re-derive it from the
    * remaining multiset). Compiled as:
    *
    *  - stage 1: the shared per-change-key LWW fold ([[keyFold]] — the
    *    min/max path's key-level diff), numeric operands riding the
    *    slot vector (NaN = SQL NULL, excluded) and string operands /
    *    order keys riding `svals`;
    *  - stage 2: per group, maintain every live key's raw contribution
    *    and RE-DERIVE each result on touch: percentiles sort the slot's
    *    non-NULL values (disc picks the ceil(f·n)-th element, cont
    *    interpolates at (n−1)·f; DESC folds as the mirrored position),
    *    listagg sorts (order key, change key) — deterministic even
    *    without WITHIN GROUP (the operand itself orders, ties by key) —
    *    and concatenates. Plain count/sum/avg/min/max/stddev ride along,
    *    re-aggregated exactly from the same contributions.
    *
    * State is O(live rows per group) — the honest cost of exact order
    * statistics under retraction (the session/exact-top-k class, NOT the
    * O(1)-per-group signed-delta class), sharded one group per state
    * shard. `spark.graft.holistic.maxRowsPerGroup` (default 1e6) bounds
    * it: the fold RAISES past the bound naming the mitigations instead
    * of silently OOMing one shard at 100 TB. HAVING, ROLLUP/CUBE/
    * GROUPING SETS, window(...) groupings, materializeExpiring (stage-1
    * tombstone TTL), and keepMeta (named/layered views) all compose —
    * each level holds its own contribution copy, the grouping-sets cost
    * already documented on the session path.
    */
  private def compileHolisticAgg(spark: SparkSession, agg: Aggregate,
      feeds: Map[String, Dataset[Change]],
      ttl: Option[(String, Long)],
      having: Option[Expression],
      keepMeta: Boolean): PlannedView = {
    val maxRows = spark.conf.get("spark.graft.holistic.maxRowsPerGroup", "1000000").toInt
    compileGrouped(spark, agg, feeds, ttl, having, keepMeta, AggPath(nullSumAsNaN = true,
      item = r => {
        case (f, name) if HolisticFns(f.nameParts.last.toLowerCase) =>
          compileHolisticFnOut(f, name, r)
      },
      flow = p => twoStage(p, keyFold(p.extract))(_.group, holisticFold(p.slotOps, p.outCols, maxRows)),
      render = (p, extra) => {
        // string results ride `strs` in holisticFold's order: listaggs,
        // then min_by/max_by, then modes, then bit folds
        def rank(oc: OutCol): Int = oc match {
          case _: ListAggOut => 0
          case _: ArgExtOut  => 1
          case _: ModeOut    => 2
          case _: BitOut     => 3
          case _             => -1
        }
        val strOuts = p.outCols.filter(rank(_) >= 0).sortBy(rank)
        val own: PartialFunction[OutCol, Seq[Column]] = {
          case PercOut(_, _, _, _, name) => Seq(nullIfNaN(extra()).as(name))
          case oc if rank(oc) >= 0 =>
            val c = element_at(col("strs"), strOuts.indexOf(oc) + 1)
            // bit folds ride as decimal strings, emitted as LONG
            Seq(when(c === NullMark, lit(null))
              .otherwise(if (rank(oc) == 3) c.cast("long") else c).as(oc.name))
        }
        own
      }))
  }

  /** A percentile fraction: a numeric literal in [0, 1]. */
  private def fracOf(e: Expression): Double = e match {
    case l: Literal =>
      val d = litValue(l.value).map(String.valueOf).flatMap(_.toDoubleOption)
        .getOrElse(throw unsupported(s"percentile fraction ${e.sql} (numeric literal)"))
      require(d >= 0.0 && d <= 1.0, s"percentile fraction $d out of [0, 1]")
      d
    case other => throw unsupported(s"percentile fraction ${other.sql} (literal only)")
  }

  /** Parse one holistic select item. Fractions must be literals in
    * [0, 1]; `median(x)` ≡ `percentile_cont(0.5) WITHIN GROUP (ORDER BY
    * x)`; Spark's `percentile(x, f)` is the same interpolating form.
    */
  private def compileHolisticFnOut(f: UnresolvedFunction, name: String, regs: AggRegs): OutCol = {
    val fn = f.nameParts.last.toLowerCase
    require(!f.isDistinct, s"$fn(DISTINCT ...) is unsupported in planner views")
    def numSlot(e: Expression): Int = {
      val ca = compileExpr(e)
      regs.addSlot((env: Env) => ca(env).flatMap(asNum))(_.getOrElse(Double.NaN))
    }
    (fn, f.arguments, f.orderingWithinGroup) match {
      case ("median", Seq(e), Seq()) =>
        PercOut(numSlot(e), 0.5, disc = false, desc = false, name)
      case ("percentile", Seq(e, fr), Seq()) =>
        PercOut(numSlot(e), fracOf(fr), disc = false, desc = false, name)
      case ("percentile_cont" | "percentile_disc", Seq(fr), Seq(so)) =>
        PercOut(numSlot(so.child), fracOf(fr), disc = fn.endsWith("disc"),
          desc = so.direction == Descending, name)
      case ("listagg" | "string_agg", args, owg) =>
        val (vE, sep) = args match {
          case Seq(e)             => (e, "")
          case Seq(e, l: Literal) => (e, litValue(l.value).map(String.valueOf).getOrElse(""))
          case other => throw unsupported(
            s"$fn(${other.map(_.sql).mkString(",")}) (need $fn(<expr>[, '<sep>']))")
        }
        val vIdx = regs.addSval(compileExpr(vE))
        owg match {
          case Seq()   => ListAggOut(vIdx, vIdx, desc = false, sep, name)
          case Seq(so) => ListAggOut(vIdx, regs.addSval(compileExpr(so.child)),
            desc = so.direction == Descending, sep, name)
          case _ => throw unsupported(
            s"$fn WITHIN GROUP with multiple sort keys (order by one expression)")
        }
      // min_by/max_by(x, y): x of the live row with extreme NON-NULL y
      // (rows with NULL y are ignored — Spark's own rule)
      case ("min_by" | "max_by", Seq(vE, oE), Seq()) =>
        ArgExtOut(regs.addSval(compileExpr(vE)), numSlot(oE), max = fn == "max_by", name)
      case ("mode", Seq(e), Seq()) =>
        ModeOut(regs.addSval(compileExpr(e)), name)
      case ("bit_and" | "bit_or" | "bit_xor", Seq(e), Seq()) =>
        BitOut(regs.addSval(compileExpr(e)), fn, name)
      case _ => throw unsupported(s"holistic aggregate ${f.sql}")
    }
  }

  /** Stage-2 fold of the holistic path, and of the flat path with
    * min/max (no holistic items, `maxRows` unbounded): maintain the
    * group's per-key raw contributions and RE-DERIVE every result on
    * touch — plain slots through [[reaggregate]], order statistics from
    * the sorted non-NULL slot values, listagg from the (order key,
    * change key)-sorted string values. Cost O(live rows in the touched
    * group · log) per batch, paid only by touched groups.
    */
  private def holisticFold(slotOps: Seq[String], outCols: Seq[OutCol], maxRows: Int)
      : (String, Iterator[PlannedKeyChange], GroupState[HolisticContribs]) => Iterator[HolisticGroupRow] = {
    val pSpecs = outCols.collect { case PercOut(s, f, d, de, _) => (s, f, d, de) }
    val lSpecs = outCols.collect { case ListAggOut(v, o, d, sep, _) => (v, o, d, sep) }
    val aSpecs = outCols.collect { case ArgExtOut(v, o, mx, _) => (v, o, mx) }
    val mSpecs = outCols.collect { case ModeOut(v, _) => v }
    val bSpecs = outCols.collect { case BitOut(v, op, _) => (v, op) }
    val nStrs  = lSpecs.length + aSpecs.length + mSpecs.length + bSpecs.length
    groupStage(HolisticContribs(Map.empty), (c: PlannedKeyChange) => (c.tsUs, c.seq)) { (s, cs) =>
      val after = keyStep(s.contribs, cs)(c => HContrib(c.slots, c.svals))
      require(after.size <= maxRows,
        s"holistic view group has ${after.size} live rows, over " +
          s"spark.graft.holistic.maxRowsPerGroup=$maxRows — exact percentile/listagg under " +
          "retraction holds the group's full value multiset; prefilter with WHERE, raise " +
          "the bound deliberately, or accept approximation (approx_count_distinct-class " +
          "sketches) if exactness is not required")
      s.copy(contribs = after)
    } { (group, _, s, pos) =>
      val after = s.contribs
      if (!s.live) Iterator.single(HolisticGroupRow(group, 0L,
        Seq.fill(slotOps.length + pSpecs.length)(0.0), Seq.fill(nStrs)(NullMark), pos._1, pos._2))
      else {
        val sums = reaggregate(slotOps, after.values.map(_.slots))
        val psums = pSpecs.map { case (slot, frac, disc, desc) =>
          val xs = after.values.iterator
            .map(h => if (slot < h.slots.length) h.slots(slot) else Double.NaN)
            .filterNot(_.isNaN).toArray
          if (xs.isEmpty) Double.NaN
          else {
            java.util.Arrays.sort(xs)
            val n = xs.length
            if (disc) {
              // the first value (walking the requested direction) whose
              // cumulative share reaches frac: ceil(frac·n)-th element
              val k = math.max(0, math.min(n - 1, math.ceil(frac * n).toInt - 1))
              if (desc) xs(n - 1 - k) else xs(k)
            } else {
              // linear interpolation at (n−1)·f over the ascending sort;
              // DESC mirrors the position (cont over the reversed order ≡
              // cont at 1−f over the ascending one)
              val fAsc = if (desc) 1.0 - frac else frac
              val h    = (n - 1).toDouble * fAsc
              val lo   = math.floor(h).toInt
              val hi   = math.min(lo + 1, n - 1)
              xs(lo) + (h - lo) * (xs(hi) - xs(lo))
            }
          }
        }
        val strs = lSpecs.map { case (vIdx, oIdx, desc, sep) =>
          val items = after.iterator.map { case (k, h) =>
            val v = if (vIdx < h.svals.length) h.svals(vIdx) else NullMark
            val o = if (oIdx < h.svals.length) h.svals(oIdx) else NullMark
            (v, o, k)
          }.filter(_._1 != NullMark).toSeq // SQL listagg skips NULL operands
          if (items.isEmpty) NullMark
          else items.sortWith { case ((_, o1, k1), (_, o2, k2)) =>
            // ASC defaults NULLS FIRST, DESC defaults NULLS LAST (Spark's
            // own rule); ties (and the no-ORDER-BY case's equal operands)
            // break by change key for batch-invariant determinism
            val c = cmpSort(o1, o2, asc = !desc, nullsFirst = !desc)
            if (c != 0) c < 0 else k1 < k2
          }.map(_._1).mkString(sep)
        }
        val astrs = aSpecs.map { case (vIdx, oSlot, mx) =>
          // rows with NULL (NaN) ordering operand are ignored; among the
          // rest pick the extreme, ties by SMALLEST change key either way
          // (deterministic however batches sliced the history)
          val items = after.iterator.map { case (k, h) =>
            val o = if (oSlot < h.slots.length) h.slots(oSlot) else Double.NaN
            val v = if (vIdx < h.svals.length) h.svals(vIdx) else NullMark
            (v, o, k)
          }.filterNot(_._2.isNaN).toSeq
          if (items.isEmpty) NullMark
          else items.minBy { case (_, o, k) => (if (mx) -o else o, k) }._1
        }
        val mstrs = mSpecs.map { vIdx =>
          // frequency argmax over the live non-NULL values; ties break by
          // smallest value under the listagg comparator (numeric when
          // both sides parse, else lexical) — the q56 deterministic-mode
          // convention, batch-invariant. Buckets key on the NUMERIC value
          // when the rendering parses (so "6" and "6.0" count as one
          // value, mirroring cmpSort's numeric-first comparator — not
          // string identity, which would split them and diverge from
          // batch mode over numeric columns); the emitted representative
          // is the lexically smallest live rendering of the bucket
          // (deterministic however batches sliced the history).
          val vs = after.values.iterator
            .map(h => if (vIdx < h.svals.length) h.svals(vIdx) else NullMark)
            .filter(_ != NullMark).toSeq
          if (vs.isEmpty) NullMark
          else vs.groupBy(s => s.toDoubleOption.filter(d => !d.isNaN && !d.isInfinite)
              .map(_.toString).getOrElse(s))
            .view.mapValues(g => (g.min, g.size)).values.toSeq.sortWith {
            case ((v1, c1), (v2, c2)) =>
              if (c1 != c2) c1 > c2
              else cmpSort(v1, v2, asc = true, nullsFirst = false) < 0
          }.head._1
        }
        val bstrs = bSpecs.map { case (vIdx, op) =>
          // integral operands only, fail-fast (Spark rejects non-integral
          // bit-aggregate operands at analysis; a stringly feed can only
          // enforce that at fold time): integral-VALUED renderings
          // ("6", "6.0") coerce, fractional or unparseable non-NULL
          // operands throw instead of silently truncating/dropping
          val xs = after.values.iterator
            .map(h => if (vIdx < h.svals.length) h.svals(vIdx) else NullMark)
            .filter(_ != NullMark)
            .map(s => s.toLongOption.getOrElse {
              s.toDoubleOption match {
                case Some(d) if d == math.rint(d) && math.abs(d) <= 9.007199254740992e15 =>
                  d.toLong
                case _ => throw new IllegalArgumentException(
                  s"$op operand '$s' is not integral: bit aggregates accept integral values only")
              }
            })
            .toSeq
          if (xs.isEmpty) NullMark
          else String.valueOf(op match {
            case "bit_and" => xs.reduce(_ & _)
            case "bit_or"  => xs.reduce(_ | _)
            case "bit_xor" => xs.reduce(_ ^ _)
          })
        }
        Iterator.single(HolisticGroupRow(group, after.size.toLong, sums ++ psums,
          strs ++ astrs ++ mstrs ++ bstrs, pos._1, pos._2))
      }
    }
  }

  /** SESSION-window views: `GROUP BY session_window(<ts>, '<gap>')`
    * (plus any scalar keys) — the window class a per-row derived group
    * key CANNOT express, because a row's session depends on the whole
    * per-group timestamp set: an arriving row can MERGE two sessions
    * into one, and a deleted row can SPLIT one into two. Compiled as:
    *
    *  - stage 1: the shared per-change-key LWW fold ([[keyFold]] — the
    *    min/max path's key-level diff), with the row's event time
    *    riding as slot 0 (epoch micros are exact in a Double to 2^53 ≈
    *    year 2255);
    *  - stage 2: per scalar group, maintain every live contribution,
    *    re-derive the session partition (ascending event time; two
    *    adjacent rows share a session iff `next < prevMax + gap`,
    *    Spark's own [start, ev+gap) overlap rule), re-aggregate each
    *    session from raw values (so min/max/stddev are exact with no
    *    invertibility requirement), and emit ONLY the diff against the
    *    sessions last emitted: changed/new sessions upsert, vanished
    *    session starts tombstone with `_live_rows = 0`. A session's
    *    changefeed identity is `(group keys, <name>_start_us)`.
    *
    * State is O(live rows per scalar group) — the honest cost of exact
    * sessionization under retraction (same class as exact top-k), and
    * the reason this is a separate dataflow rather than a [[GroupSlot]].
    * `spark.graft.session.maxRowsPerGroup` (default 1e6) bounds it: the
    * fold RAISES past the bound, naming the mitigations, instead of
    * silently OOMing one state shard at 100 TB. Append-only feeds that
    * need no retraction should use [[WindowedAggs.sessionize]] (Spark's
    * native watermark-evicting session_window) instead.
    */
  private def compileSessionAggregate(spark: SparkSession, agg: Aggregate,
      feeds: Map[String, Dataset[Change]],
      ttl: Option[(String, Long)],
      having: Option[Expression],
      keepMeta: Boolean = false): PlannedView = {
    val (sessionExprs, restExprs) = agg.groupingExpressions.partition {
      case f: UnresolvedFunction => f.nameParts.last.equalsIgnoreCase("session_window")
      case _                     => false
    }
    require(sessionExprs.length == 1,
      "exactly one session_window(...) grouping per view (Spark's own rule)")
    val (tsF, gapUs) = sessionExprs.head match {
      case f: UnresolvedFunction => f.arguments match {
        case Seq(tsE, Literal(g, _)) =>
          (compileExpr(tsE), durationUs(String.valueOf(litValue(g).getOrElse(""))))
        case other => throw unsupported(
          s"session_window(${other.map(_.sql).mkString(",")}) (need session_window(<ts>, '<gap>'))")
      }
      case _ => throw new IllegalStateException("unreachable: partitioned on UnresolvedFunction")
    }
    require(gapUs > 0, "session_window gap must be positive")
    val sessionSql = sessionExprs.head.sql
    val maxRows = spark.conf.get("spark.graft.session.maxRowsPerGroup", "1000000").toInt
    // ROLLUP/CUBE/GROUPING SETS over the scalar keys compose (since r8):
    // each LEVEL is its own session space — sessions are derived per
    // (level, level-key) group, so the rolled-up level sessionizes the
    // UNION of its sub-groups' rows (an adjacent pair from two cities
    // can share a rolled-up session that neither city-level session
    // has — the batch GROUP BY session_window, ROLLUP semantic).
    // Honest cost: L levels hold L copies of the live rows, each on its
    // level-group's shard (same maxRowsPerGroup guard per shard).
    compileGrouped(spark, agg.copy(groupingExpressions = restExprs), feeds, ttl, having, keepMeta,
      AggPath(evTs = Some(tsF), nullSumAsNaN = true,
        item = r => {
          case (f, name) if f.sql == sessionSql => SessionOut(name)
          // DISTINCT aggregates: the member's value string rides stage 1;
          // stage 2 aggregates the session's distinct multiset exactly
          // (min/max(DISTINCT) were normalized to plain upstream)
          case (f, name) if f.isDistinct =>
            (f.nameParts.last.toLowerCase, f.arguments) match {
              case (fn @ ("count" | "sum" | "avg"), Seq(e)) =>
                DistinctOut(fn, r.addSval(compileExpr(e)), name)
              case _ => throw unsupported(
                s"session DISTINCT aggregate ${f.sql} (count/sum/avg(DISTINCT <one expr>))")
            }
        },
        // distinct results land in `sums` after the value slots, in
        // output-column order, one per dOps entry
        flow = p => twoStage(p, keyFold(p.extract))(_.group, sessionFold(gapUs, p.slotOps,
          p.outCols.collect { case DistinctOut(op, sIdx, _) => (op, sIdx) }, maxRows)),
        render = (_, extra) => {
          case SessionOut(name) =>
            Seq(col("startUs").as(s"${name}_start_us"), col("endUs").as(s"${name}_end_us"))
          case DistinctOut(op, _, name) =>
            val c = extra()
            Seq(if (op == "count") c.cast("long").as(name) else nullIfNaN(c).as(name))
        },
        // the session's change identity is (level-key, start) — one
        // combined `_group` string, so the generic viewChanges fold and
        // everything downstream of it (named views, materializeAggChanges,
        // materializeTopK) treats each session as a keyed row
        groupCol = concat_ws(Sep, col("group"), col("startUs"))))
  }

  /** `approx_count_distinct(x)` in a SESSION-less aggregate view:
    * compiled onto an HLL register array living in per-group state —
    * O(4 KiB) per group at ANY value cardinality, where exact
    * `count(DISTINCT x)` holds the per-(group, value) multiset. The
    * honest trade is the APPEND-ONLY contract: sketches cannot retract,
    * so the stage-1 fold RAISES on the first delete, value-changing
    * update, or group move (naming exact DISTINCT as the alternative)
    * instead of silently over-counting forever after. Idempotent
    * re-inserts (a snapshot `r` record replayed, a byte-identical
    * update) are tolerated — HLL inserts are naturally idempotent.
    * Plain count/sum/avg/min/max/stddev ride along (append-only makes
    * the extremum slots monotone). Estimate error is the standard
    * 1.04/√m ≈ 1.6% at m = 4096 registers (p = 12), spec-bounded.
    */
  private def compileApproxAgg(spark: SparkSession, agg: Aggregate,
      feeds: Map[String, Dataset[Change]],
      having: Option[Expression]): PlannedView = {
    require(!agg.groupingExpressions.exists(_.exists {
      case f: UnresolvedFunction => f.nameParts.last.equalsIgnoreCase("session_window")
      case _                     => false
    }), "approx_count_distinct does not combine with session_window groupings")
    compileGrouped(spark, agg, feeds, None, having, keepMeta = false, AggPath(
      item = r => {
        case (f, name) if f.nameParts.last.equalsIgnoreCase("approx_count_distinct") =>
          f.arguments match {
            case Seq(e) => DistinctOut("approx", r.addSval(compileExpr(e)), name)
            case other  => throw unsupported(
              s"approx_count_distinct(${other.map(_.sql).mkString(",")}) (one argument)")
          }
      },
      flow = p => twoStage(p, appendOnlyKeyFold(p.extract))(_.group, approxFold(p.slotOps, p.nSvals)),
      render = (_, extra) => { case DistinctOut(_, _, name) => Seq(extra().cast("long").as(name)) }))
  }

  /** Stage-1 fold of the approx path: [[keyFold]], but RAISE on any
    * retraction — delete, predicate/group exit, or contribution-changing
    * update — because downstream sketch state cannot un-see a value.
    * Byte-identical re-application is a no-op (allowed).
    */
  private def appendOnlyKeyFold(extract: Change => Option[(Seq[String], Seq[Double], Seq[String])])(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[PlannedContrib]): Iterator[PlannedKeyChange] = {
    val (before, cur) = applyContrib(extract)(changes, state)
    val aOpt = cur.filter(_.live)
    if (before.filter(_.live).exists(b =>
        !aOpt.exists(a => b.groups == a.groups && b.slots == a.slots && b.svals == a.svals)))
      throw new IllegalStateException(
        "approx_count_distinct view received a RETRACTION (delete, group move, or " +
          "value-changing update) — sketches cannot retract. This view requires an " +
          "append-only feed; for retraction-bearing sources use exact count(DISTINCT x).")
    keyDiff(key, before, cur)
  }

  /** Stage-2 fold of the approx path: bump the group's append-only
    * totals and HLL registers, re-emit the group's current row. The
    * sketch is plain HLL (Flajolet et al.): register j keeps the max
    * leading-zero rank of hashes routed to it; the estimate applies the
    * harmonic mean with small-range linear counting. p = 12 → 4096
    * registers → σ ≈ 1.6%.
    */
  private[streaming] val HllP = 12
  private[streaming] val HllM = 1 << HllP

  /** splitmix64 finalizer over the shared fnv64 — HLL needs avalanched
    * high bits, which raw FNV-1a lacks (SplitMix64's public mixing
    * constants).
    */
  private[streaming] def hllHash(s: String): Long = {
    var z = JoinView.fnv64(s) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private[streaming] def hllEstimate(regs: Array[Byte]): Double = {
    val m = regs.length
    var invSum = 0.0
    var zeros  = 0
    var i = 0
    while (i < m) {
      invSum += java.lang.Math.scalb(1.0, -regs(i))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val e = alpha * m * m / invSum
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
  }

  private def approxFold(slotOps: Seq[String], nSketch: Int)
      : (String, Iterator[PlannedKeyChange], GroupState[ApproxGroupState]) => Iterator[PlannedGroupRow] =
    groupStage(ApproxGroupState(0L, Seq.fill(slotOps.length)(Double.NaN), Seq.fill(nSketch)(new Array[Byte](HllM))),
        (c: PlannedKeyChange) => (c.tsUs, c.seq)) { (s, cs) =>
      val sums = s.sums.toArray
      val hlls = s.hlls.map(_.clone())
      cs.foreach { c =>
        slotOps.indices.foreach { i =>
          val v = if (i < c.slots.length) c.slots(i) else Double.NaN
          if (!v.isNaN) sums(i) = slotOps(i) match {
            case _ if sums(i).isNaN => v
            case "sum"              => sums(i) + v
            case "min"              => math.min(sums(i), v)
            case "max"              => math.max(sums(i), v)
          }
        }
        (0 until nSketch).foreach { j =>
          val sv = if (j < c.svals.length) c.svals(j) else NullMark
          if (sv != NullMark) { // SQL NULLs never count toward DISTINCT
            val h   = hllHash(sv)
            val idx = (h >>> (64 - HllP)).toInt
            val rho = (java.lang.Long.numberOfLeadingZeros(h << HllP) + 1).min(64 - HllP + 1).toByte
            if (rho > hlls(j)(idx)) hlls(j)(idx) = rho
          }
        }
      }
      s.copy(n = s.n + cs.length, sums = sums.toSeq, hlls = hlls)
    } { (group, _, s, pos) =>
      // NaN slots (no non-null min/max operand yet) ride through — the
      // output layer's isnan→NULL handles them, the keyed convention
      Iterator.single(PlannedGroupRow(group, s.n, s.sums ++ s.hlls.map(r => math.rint(hllEstimate(r))),
        pos._1, pos._2))
    }

  // ------------------------------------------------------------------
  // approx_percentile: the DDSketch path (Masson, Lee & Rim, VLDB 2019)
  // ------------------------------------------------------------------
  // Relative-error sketch on a fixed log-γ bucket grid. Integer bucket
  // counts make it everything HLL is not: order-insensitive AND fully
  // RETRACTABLE (a delete decrements the value's bucket), so the path
  // rides the same signed-delta folds as plain count/sum/avg — O(sketch
  // buckets) state per group at ANY row count, the live-p95 shape that
  // survives 100 TB where the holistic path's exact multiset is the
  // bounded-cardinality tool.
  private[streaming] val DdqAlpha = 0.01
  private[streaming] val DdqGamma = (1.0 + DdqAlpha) / (1.0 - DdqAlpha)
  private val DdqLnGamma = math.log(DdqGamma)
  // |x| below this collapses into the zero bucket (estimate 0); the
  // relative-error contract holds outside it
  private val DdqZeroEps = 1e-9
  // key-space offset separating the positive / zero / negative regions
  // while keeping ascending Long key ⇔ ascending value
  private val DdqKeyOff = 1L << 21

  private[streaming] def ddqKey(x: Double): Long =
    if (x > DdqZeroEps) DdqKeyOff + math.ceil(math.log(x) / DdqLnGamma).toLong
    else if (x < -DdqZeroEps) -DdqKeyOff - math.ceil(math.log(-x) / DdqLnGamma).toLong
    else 0L

  /** Midpoint estimate of a bucket: relative error ≤ α for every value
    * the bucket covers (the paper's 2γ^i/(γ+1) form).
    */
  private[streaming] def ddqValue(key: Long): Double =
    if (key == 0L) 0.0
    else if (key > 0L)
      2.0 * math.pow(DdqGamma, (key - DdqKeyOff).toDouble) / (DdqGamma + 1.0)
    else
      -2.0 * math.pow(DdqGamma, (-key - DdqKeyOff).toDouble) / (DdqGamma + 1.0)

  /** Quantile readout: rank ⌊f·(n−1)⌋+1 over ascending buckets — the
    * value whose rank-neighborhood the fraction addresses, within α
    * relative error. NaN (→ SQL NULL downstream) on an empty sketch.
    */
  private[streaming] def ddqQuantile(buckets: Map[Long, Long], frac: Double): Double = {
    var n = 0L
    buckets.valuesIterator.foreach(n += _)
    if (n <= 0L) Double.NaN
    else {
      val rank = math.min(n, math.floor(frac * (n - 1)).toLong + 1L)
      val keys = buckets.keysIterator.toArray
      java.util.Arrays.sort(keys)
      var cum = 0L
      var i   = 0
      var res = Double.NaN
      while (cum < rank && i < keys.length) {
        cum += buckets(keys(i)); res = ddqValue(keys(i)); i += 1
      }
      res
    }
  }

  /** `approx_percentile(x, f)` / `percentile_approx(x, f)` views:
    * bounded-state live quantiles under FULL retraction. Compiled as the
    * flat signed-delta path with one extra payload: each contribution's
    * percentile operands bucketize at STAGE 1 (a pure function of the
    * value), so stage 2 only ever folds integer bucket-count deltas —
    * retraction subtracts the identical integer the insert added, zero
    * residue, order-insensitive, replay-deterministic. Plain
    * count/sum/avg/stddev/var ride along on the same delta stream;
    * min/max are rejected by name (not invertible — use a separate
    * view, or exact percentile_cont in a holistic view). HAVING,
    * ROLLUP/CUBE/GROUPING SETS, window(...) groupings, tombstone-TTL
    * (materializeExpiring) and keepMeta (named/layered views) compose
    * exactly as on the flat path. Accuracy is the DDSketch contract:
    * every estimate within α = 1% RELATIVE error of an exact quantile's
    * neighborhood, at O(buckets ≤ ~4k) state per group.
    */
  private def compileDdqAgg(spark: SparkSession, agg: Aggregate,
      feeds: Map[String, Dataset[Change]],
      ttl: Option[(String, Long)],
      having: Option[Expression],
      keepMeta: Boolean): PlannedView = {
    // one sketch per DISTINCT operand sql — approx_percentile(x, 0.5)
    // and approx_percentile(x, 0.95) share x's sketch; the operands ride
    // AFTER the plain slots in the contribution (NaN = SQL NULL, excluded
    // from the sketch), so [[applyContrib]]'s stored PlannedContrib carries
    // what a later retraction must un-bucket
    val qSqls = scala.collection.mutable.ArrayBuffer.empty[String]
    compileGrouped(spark, agg, feeds, ttl, having, keepMeta, AggPath(deltas = true,
      item = r => {
        case (f, name) if DdqFns(f.nameParts.last.toLowerCase) =>
          require(!f.isDistinct,
            s"${f.nameParts.last}(DISTINCT ...) is unsupported in planner views")
          f.arguments match {
            case Seq(e, fr) =>
              val q = qSqls.indexOf(e.sql) match {
                case -1 =>
                  qSqls += e.sql
                  val ca = compileExpr(e)
                  r.addTail(env => Some(ca(env).flatMap(asNum).getOrElse(Double.NaN)))
                case i => i
              }
              DdqPercOut(q, fracOf(fr), name)
            case Seq(_, _, acc) => throw unsupported(
              s"approx_percentile accuracy argument ${acc.sql} — the planner's DDSketch " +
                "is fixed at α = 1% relative error; drop the third argument")
            case other => throw unsupported(
              s"approx_percentile(${other.map(_.sql).mkString(",")}) (need (expr, fraction))")
          }
        case (f, _) if Set("min", "max")(f.nameParts.last.toLowerCase) => throw unsupported(
          "min/max alongside approx_percentile (extrema are not invertible; put " +
            "them in a second view over the same feed, or use a holistic view)")
      },
      flow = p => twoStage(p, ddqFold(p.extract, p.nSlots, p.nTail))(_.group,
        ddqGroupFold(p.nSlots, p.nTail, p.outCols.collect { case DdqPercOut(q, f, _) => (q, f) })),
      render = (_, extra) => { case DdqPercOut(_, _, name) => Seq(nullIfNaN(extra()).as(name)) }))
  }

  /** Stage-1 fold of the DDSketch path: [[aggFold]]'s LWW + signed
    * netting, plus per-sketch bucket deltas — the OLD contribution's
    * operand (held in the stored [[PlannedContrib]]) un-buckets with
    * −1, the new one buckets with +1, netting within the batch. NaN
    * operands (SQL NULL) never touch a sketch.
    */
  private def ddqFold(extract: Change => Option[(Seq[String], Seq[Double], Seq[String])],
      nPlain: Int, nQ: Int)(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[PlannedContrib]): Iterator[DdqDelta] = {
    val (before, cur) = applyContrib(extract)(changes, state)
    val net = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Array[Double], Array[scala.collection.mutable.Map[Long, Long]])]
    def add(g: String, dk: Long, vs: Seq[Double], sign: Double): Unit = {
      val (k0, a0, b0) = net.getOrElse(g,
        (0L, Array.fill(nPlain)(0.0),
          Array.fill(nQ)(scala.collection.mutable.Map.empty[Long, Long])))
      var i = 0
      while (i < nPlain) {
        val v = if (i < vs.length) vs(i) else 0.0
        a0(i) += sign * math.rint(v * SlotScale)
        i += 1
      }
      var j = 0
      while (j < nQ) {
        val x = if (nPlain + j < vs.length) vs(nPlain + j) else Double.NaN
        if (!x.isNaN) {
          val k = ddqKey(x)
          val d = b0(j).getOrElse(k, 0L) + (if (sign > 0) 1L else -1L)
          if (d == 0L) b0(j) -= k else b0(j)(k) = d
        }
        j += 1
      }
      net(g) = (k0 + dk.toLong, a0, b0)
    }
    before.filter(_.live).foreach(b => b.groups.foreach(g => add(g, -1L, b.slots, -1.0)))
    cur.filter(_.live).foreach(a => a.groups.foreach(g => add(g, 1L, a.slots, 1.0)))
    val (posTs, posSeq) = cur.map(c => (c.tsUs, c.seq)).getOrElse((0L, 0L))
    net.iterator.collect {
      case (g, (dk, ds, bs)) if dk != 0L || ds.exists(_ != 0.0) || bs.exists(_.nonEmpty) =>
        DdqDelta(g, dk, ds.toIndexedSeq,
          bs.toIndexedSeq.map(m => m.iterator.flatMap { case (k, d) => Iterator(k, d) }.toSeq),
          posTs, posSeq)
    }
  }

  /** Stage-2 fold of the DDSketch path: apply integer bucket deltas to
    * the group's sparse sketches + [[groupFold]]'s running plain totals,
    * re-read each requested quantile, emit the group's current row.
    * State O(plain slots + sketch buckets) per group — never O(rows).
    */
  private def ddqGroupFold(nPlain: Int, nQ: Int, qOuts: Seq[(Int, Double)])
      : (String, Iterator[DdqDelta], GroupState[DdqGroupState]) => Iterator[PlannedGroupRow] =
    groupStage(DdqGroupState(0L, Seq.fill(nPlain)(0.0), Seq.fill(nQ)(Map.empty[Long, Long])),
        (d: DdqDelta) => (d.tsUs, d.seq)) { (s, ds) =>
      val sums = s.sums.toArray
      val bks  = s.buckets.map(m => scala.collection.mutable.Map.empty[Long, Long] ++= m).toArray
      ds.foreach { d =>
        d.d_slots.zipWithIndex.foreach { case (v, i) => if (i < nPlain) sums(i) += v }
        var j = 0
        while (j < nQ) {
          if (j < d.d_buckets.length) {
            val pairs = d.d_buckets(j)
            var p = 0
            while (p + 1 < pairs.length) {
              val k = pairs(p); val dd = pairs(p + 1)
              val c = bks(j).getOrElse(k, 0L) + dd
              if (c < 0L) throw new IllegalStateException(
                s"approx_percentile sketch undercount (bucket $k of sketch $j) — a " +
                  "retraction arrived for a value the sketch never saw; state is corrupt")
              if (c == 0L) bks(j) -= k else bks(j)(k) = c
              p += 2
            }
          }
          j += 1
        }
      }
      s.copy(n = s.n + ds.map(_.d_keys).sum, sums = sums.toSeq, buckets = bks.map(_.toMap).toSeq)
    } { (group, _, s, pos) =>
      Iterator.single(
        if (s.live) PlannedGroupRow(group, s.n,
          s.sums ++ qOuts.map { case (q, f) => ddqQuantile(s.buckets(q), f) }, pos._1, pos._2)
        // plain slots zero explicitly (no float residue in the tombstone);
        // estimates NaN → SQL NULL downstream
        else PlannedGroupRow(group, 0L,
          Seq.fill(nPlain)(0.0) ++ Seq.fill(qOuts.length)(Double.NaN), pos._1, pos._2))
    }

  /** Stage-2 fold of a session-window view: maintain the group's live
    * contributions, re-derive + re-aggregate its sessions, and emit the
    * diff against the sessions last emitted. Cost O(live rows in the
    * touched group) per batch, paid only by touched groups; at scale
    * each group's state lives on exactly one shard, guarded by
    * `maxRows`. (A NaN slot value — min/max's NULL marker — defeats the
    * emitted-session equality below because NaN ≠ NaN; the cost is a
    * redundant idempotent re-emission, never a wrong row.)
    */
  private def sessionFold(gapUs: Long, slotOps: Seq[String], dOps: Seq[(String, Int)], maxRows: Int)
      : (String, Iterator[PlannedKeyChange], GroupState[SessionGroupState]) => Iterator[SessionRow] =
    groupStage(SessionGroupState(Map.empty, Map.empty), (c: PlannedKeyChange) => (c.tsUs, c.seq)) { (s, cs) =>
      val after = keyStep(s.contribs, cs)(c => SessionContrib(c.slots.head.toLong, c.slots.tail, c.svals))
      if (after == s.contribs) s // batch net-cancelled: nothing to re-derive
      else {
        require(after.size <= maxRows,
          s"session view group has ${after.size} live rows, over spark.graft.session.maxRowsPerGroup=" +
            s"$maxRows — exact sessionization under retraction holds the full per-group row set; " +
            "prefilter with WHERE, raise the bound deliberately, or use WindowedAggs.sessionize " +
            "(append-only, watermark-evicting) if retraction is not needed")
        // ascending event time; a row joins the open session iff its event
        // time falls strictly inside [start, lastEv + gap) — Spark's own
        // session-merge rule — else it opens a new one
        var sessions = Vector.empty[(Long, Long, Vector[SessionContrib])] // (startUs, maxEvUs, members)
        after.toSeq.sortBy { case (k, c) => (c.evUs, k) }.foreach { case (_, c) =>
          sessions match {
            case init :+ ((start, maxEv, members)) if c.evUs < maxEv + gapUs =>
              sessions = init :+ ((start, c.evUs, members :+ c))
            case _ =>
              sessions = sessions :+ ((c.evUs, c.evUs, Vector(c)))
          }
        }
        val newEmitted: Map[Long, SessionEmitted] = sessions.map { case (start, maxEv, members) =>
          // NaN is the NULL marker in min/max and sum slots alike: an
          // all-NULL session stays NaN → emitted as SQL NULL
          val sums = reaggregate(slotOps, members.map(_.slots))
          // distinct-multiset aggregations over the session's members
          // (NullMark excluded — SQL DISTINCT-aggregate NULL exclusion);
          // sum/avg read each distinct VALUE numerically, non-numeric
          // distinct values are the engine's NULL stance (excluded)
          val dsums = dOps.map { case (op, sIdx) =>
            val distinct = members.iterator
              .map(m => if (sIdx < m.svals.length) m.svals(sIdx) else NullMark)
              .filter(_ != NullMark).toSet
            op match {
              case "count" => distinct.size.toDouble
              case _ =>
                val nums = distinct.iterator.flatMap(_.toDoubleOption)
                  .filterNot(d => d.isNaN || d.isInfinite).toSeq
                if (nums.isEmpty) Double.NaN
                else if (op == "sum") nums.sum
                else nums.sum / nums.size
            }
          }
          start -> SessionEmitted(maxEv + gapUs, members.size.toLong, sums ++ dsums)
        }.toMap
        s.copy(contribs = after, emitted = newEmitted)
      }
    } { (group, s0, s, pos) =>
      val dead = (s0.emitted.keySet -- s.emitted.keySet).iterator.map { st =>
        SessionRow(group, st, s0.emitted(st).endUs, 0L,
          Seq.fill(slotOps.length + dOps.length)(0.0), pos._1, pos._2)
      }
      val lived = s.emitted.iterator.collect {
        case (st, e) if !s0.emitted.get(st).contains(e) =>
          SessionRow(group, st, e.endUs, e.n, e.sums, pos._1, pos._2)
      }
      dead ++ lived
    }

  /** Stage-2 fold of the signed-delta path: apply the batch's deltas
    * to the group's running totals and re-emit the group's current row —
    * or its tombstone (`live_rows = 0`) when the last live row left.
    * Only groups the batch touched are called, so untouched groups'
    * state is never read (the [[IncrementalView]] contract).
    */
  private def groupFold
      : (String, Iterator[PlannedDelta], GroupState[PlannedGroupState]) => Iterator[PlannedGroupRow] =
    groupStage(PlannedGroupState(0L, Nil), (d: PlannedDelta) => (d.tsUs, d.seq)) { (s, ds) =>
      val sums = scala.collection.mutable.ArrayBuffer(s.sums: _*)
      ds.foreach { d =>
        while (sums.length < d.d_slots.length) sums += 0.0
        d.d_slots.zipWithIndex.foreach { case (v, i) => sums(i) += v }
      }
      s.copy(n = s.n + ds.map(_.d_keys).sum, sums = sums.toSeq)
    } { (group, _, s, pos) =>
      // a tombstone zeroes the slots explicitly: float residue from
      // retraction arithmetic must not leak into it
      Iterator.single(
        if (s.live) PlannedGroupRow(group, s.n, s.sums, pos._1, pos._2)
        else PlannedGroupRow(group, 0L, Seq.fill(s.sums.length)(0.0), pos._1, pos._2))
    }

  /** The stage-2 skeleton every aggregate path's group fold runs, once
    * per group the batch touched. It owns, once:
    *  - the emission high-water: the later of the stored position and
    *    every input's ([[CdcMaterializer.laterPos]]), stamped on the
    *    rows and kept in state, so a batch carrying an older-positioned
    *    change never re-emits the group older than its last emission;
    *  - the no-op: a batch that leaves the contents unchanged emits and
    *    writes nothing;
    *  - the emptied group: its state resets to `empty` and keeps only
    *    the position, so a repopulated group cannot emit "older" rows;
    *  - the state write.
    * The path supplies `step`, its contents update (the input state's
    * position rides through untouched), and `rows`, its result rows
    * from the pre- and post-batch states at the stamp — the tombstone
    * when the post-batch state is not live.
    */
  private def groupStage[I, S <: GroupPosState[S], R](empty: S, posOf: I => (Long, Long))(
      step: (S, Seq[I]) => S)(
      rows: (String, S, S, (Long, Long)) => Iterator[R])(
      group: String, inputs: Iterator[I], state: GroupState[S]): Iterator[R] = {
    val s0    = state.getOption.getOrElse(empty)
    val batch = inputs.toSeq
    val s1    = step(s0, batch)
    if (s1 == s0) Iterator.empty
    else {
      val pos = batch.iterator.map(posOf).foldLeft((s0.posTs, s0.posSeq))(CdcMaterializer.laterPos)
      state.update((if (s1.live) s1 else empty).at(pos))
      rows(group, s0, s1, pos)
    }
  }

  /** A keyed stage-2 step: each key change puts or removes the key's
    * contribution.
    */
  private def keyStep[V](m: Map[Long, V], cs: Seq[PlannedKeyChange])(v: PlannedKeyChange => V): Map[Long, V] =
    cs.foldLeft(m)((acc, c) => if (c.live) acc + (c.key -> v(c)) else acc - c.key)

  /** Re-aggregate each slot from a group's (or a session's) live raw
    * contributions; `slotOps` says how — sum for count/sum/avg slots,
    * min/max for extremum slots. NaN is the NULL marker: skipped, and a
    * slot with no non-NULL value stays NaN.
    */
  private def reaggregate(slotOps: Seq[String], rows: Iterable[Seq[Double]]): Seq[Double] =
    slotOps.zipWithIndex.map { case (op, i) =>
      val xs = rows.iterator.map(r => if (i < r.length) r(i) else Double.NaN).filterNot(_.isNaN).toSeq
      if (xs.isEmpty) Double.NaN
      else op match {
        case "sum" => xs.sum
        case "min" => xs.min
        case "max" => xs.max
      }
    }

  /** Wrap a stage-1 fold with tombstone-TTL expiry (the
    * [[IncrementalView.deltasExpiring]] mechanics): a DEAD contribution
    * schedules its own event-time timeout at `death ts + ttl` (clamped
    * past the watermark), the firing timeout removes it silently, and a
    * livening change before expiry implicitly rescinds (the new state
    * is live → no re-arm). No-op without a ttl.
    */
  private[streaming] def expiring[O](
      ttl: Option[(String, Long)],
      inner: (Long, Iterator[Change], GroupState[PlannedContrib]) => Iterator[O])
      : (Long, Iterator[Change], GroupState[PlannedContrib]) => Iterator[O] =
    expiringState[PlannedContrib, O](ttl, !_.live, _.tsUs)(inner)

  /** Generic stage-1 dead-state expiry (the foldExpiring contract over
    * any state type): once the watermark passes a dead state's
    * `ts + ttl` it is removed -- retractions were already emitted when
    * the death applied, so expiry changes state size, not view
    * contents. Live states never expire.
    */
  private[streaming] def expiringState[S, O](
      ttl: Option[(String, Long)], deadOf: S => Boolean, tsOf: S => Long)(
      inner: (Long, Iterator[Change], GroupState[S]) => Iterator[O])
      : (Long, Iterator[Change], GroupState[S]) => Iterator[O] =
    ttl match {
      case None => inner
      case Some((_, ttlMs)) => (key, changes, state) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val out = inner(key, changes, state)
          state.getOption.foreach { s =>
            if (deadOf(s)) state.setTimeoutTimestamp(
              math.max(tsOf(s) / 1000L + ttlMs, state.getCurrentWatermarkMs() + 1L))
          }
          out
        }
    }

  /** Shared stage-1 apply of the aggregate paths: fold the batch into
    * the key's contribution ([[CdcMaterializer.applyLww]]), update the
    * store, return (pre-batch, post-batch) for the caller to diff.
    */
  private def applyContrib(extract: Change => Option[(Seq[String], Seq[Double], Seq[String])])(
      changes: Iterator[Change],
      state: GroupState[PlannedContrib]): (Option[PlannedContrib], Option[PlannedContrib]) = {
    val before = state.getOption
    val cur = CdcMaterializer.applyLww(before, changes) { (_, c, tsUs) =>
      if (c.op == "delete") PlannedContrib(Nil, Nil, tsUs, c.seq, live = false)
      else extract(c) match {
        // empty group list (NULL window time) = contributes nowhere
        case Some((gs, vs, sv)) => PlannedContrib(gs, vs, tsUs, c.seq, live = gs.nonEmpty, sv)
        case None               => PlannedContrib(Nil, Nil, tsUs, c.seq, live = false)
      }
    }
    cur.foreach(state.update)
    (before, cur)
  }

  /** Stage-1 fold of a planned aggregate view: LWW-apply the batch to
    * the key's contribution (same `(tsUs, seq)` order as
    * [[CdcMaterializer.fold]]), then emit the net signed delta between
    * pre- and post-batch contributions, per touched group.
    */
  private def aggFold(extract: Change => Option[(Seq[String], Seq[Double], Seq[String])])(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[PlannedContrib]): Iterator[PlannedDelta] = {
    val (before, cur) = applyContrib(extract)(changes, state)
    val net = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Array[Double])]
    def add(g: String, dk: Long, vs: Seq[Double], sign: Double): Unit = {
      val n = vs.length
      val (k0, a0) = net.getOrElse(g, (0L, Array.fill(n)(0.0)))
      // widening must PRESERVE already-accumulated deltas (slot arity is
      // constant per query today, but a silent zero-fill here would be
      // state corruption if stored arity ever differed)
      val a = if (a0.length >= n) a0 else java.util.Arrays.copyOf(a0, n)
      vs.zipWithIndex.foreach { case (v, i) => a(i) += sign * v }
      net(g) = (k0 + dk, a)
    }
    // a sliding-window contribution nets per WINDOW: deltas for windows
    // the key stays in cancel to zero below and never emit.
    // FIXED-POINT: slot values enter the signed-delta stream as
    // micro-unit INTEGERS (rint(v·1e6), exact in a Double up to 2^53 ≈
    // totals of 9e9) so a later retraction subtracts the identical
    // integer and running totals carry ZERO float residue under churn —
    // the q12/q80/Lloyd discipline. The trade is micro-unit resolution
    // on aggregate inputs, documented on [[materialize]]; the min/max
    // (keyed) path re-aggregates raw values per touch and is exempt.
    val scaled = (vs: Seq[Double]) => vs.map(v => math.rint(v * SlotScale))
    before.filter(_.live).foreach(b => b.groups.foreach(g => add(g, -1L, scaled(b.slots), -1.0)))
    cur.filter(_.live).foreach(a => a.groups.foreach(g => add(g, 1L, scaled(a.slots), 1.0)))
    val (posTs, posSeq) = cur.map(c => (c.tsUs, c.seq)).getOrElse((0L, 0L))
    net.iterator.collect {
      case (g, (dk, ds)) if dk != 0L || ds.exists(_ != 0.0) =>
        PlannedDelta(g, dk, ds.toIndexedSeq, posTs, posSeq)
    }
  }

  /** Stage-1 fold of the keyed paths (flat min/max, holistic, session;
    * approx through [[appendOnlyKeyFold]]): same LWW apply as [[aggFold]],
    * but emitting the KEY-level contribution change (which key, which
    * group, what slot values) — the downstream re-aggregation needs to
    * know WHICH contribution left, not by how much a sum moved.
    */
  private def keyFold(extract: Change => Option[(Seq[String], Seq[Double], Seq[String])])(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[PlannedContrib]): Iterator[PlannedKeyChange] = {
    val (before, cur) = applyContrib(extract)(changes, state)
    keyDiff(key, before, cur)
  }

  /** [[keyFold]]'s key-level diff of a key's pre- and post-batch
    * contributions, stamped with the post-batch position: a per-group
    * set diff (a sliding-window key lives in several groups) — leave
    * groups it left, enter groups it entered, re-emit groups it stays in
    * only when the slot (or distinct-arg) values changed.
    */
  private def keyDiff(key: Long, before: Option[PlannedContrib],
      cur: Option[PlannedContrib]): Iterator[PlannedKeyChange] = {
    val (posTs, posSeq) = cur.map(c => (c.tsUs, c.seq)).getOrElse((0L, 0L))
    val bOpt = before.filter(_.live)
    val aOpt = cur.filter(_.live)
    val bg = bOpt.map(_.groups.toSet).getOrElse(Set.empty[String])
    val ag = aOpt.map(_.groups.toSet).getOrElse(Set.empty[String])
    val slotsChanged = bOpt.map(_.slots) != aOpt.map(_.slots) ||
      bOpt.map(_.svals) != aOpt.map(_.svals)
    val exits  = (bg -- ag).iterator.map(g => PlannedKeyChange(g, key, Nil, live = false, posTs, posSeq))
    val enters = (ag -- bg).iterator.map(g =>
      PlannedKeyChange(g, key, aOpt.get.slots, live = true, posTs, posSeq, aOpt.get.svals))
    val stays  =
      if (slotsChanged) (ag intersect bg).iterator.map(g =>
        PlannedKeyChange(g, key, aOpt.get.slots, live = true, posTs, posSeq, aOpt.get.svals))
      else Iterator.empty
    exits ++ enters ++ stays
  }

  // ------------------------------------------------------------------
  // Non-aggregate (select-where / join) view compilation
  // ------------------------------------------------------------------

  /** A projected ROW view (filter + project over a feed, join, or
    * derived table) as a keyed changefeed, keyed by source row key —
    * every position compiles a row view here. SELECT-list subqueries
    * hoist exactly like WHERE-clause ones: each becomes a dim-join layer
    * and the item reads the injected field — `SELECT c.name, (SELECT
    * count(*) FROM ord WHERE ord.cid = c.id)` is a live per-parent child
    * count (0 included, the COUNT bug handled in the hoister). Layers
    * compose with any WHERE layers already wired by compileSource.
    */
  private def rowChangesOf(spark: SparkSession, proj: Project,
      feeds: Map[String, Dataset[Change]], ttl: Option[(String, Long)]): Keyed = {
    val src0 = compileSource(spark, proj.child, feeds)
    val h = new SubqueryHoister(spark, feeds)
    val items = proj.projectList.map { ne =>
      if (ne.isInstanceOf[UnresolvedStar]) throw unsupported("SELECT * (name the projected fields)")
      (ne, h.rewrite(ne))
    }
    val src   = if (h.isEmpty) src0 else src0.copy(changes = h.wire(src0.changes))
    val preds = src.filters.map(compileExpr)
    val cols: Seq[(String, Eval)] = items.zipWithIndex.map { case ((ne, rw), i) =>
      (outName(ne, s"col$i"), compileExpr(coreOf(rw)))
    }
    val names = cols.map(_._1)
    val fns   = cols.map(_._2)
    val extract: Change => Option[Map[String, String]] = { c =>
      val env = envOf(c)
      if (!preds.forall(p => p(env).contains(true))) None
      else Some(names.zip(fns).flatMap { case (n, f) => f(env).map(v => n -> String.valueOf(v)) }.toMap)
    }
    implicit val rowEnc    = Encoders.product[PlannedRow]
    implicit val changeEnc = Encoders.product[Change]
    implicit val longEnc   = Encoders.scalaLong
    val changes = watermarked(src.changes, ttl)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutOf(ttl))(
        expiringState[PlannedRow, Change](ttl, !_.live, _.tsUs)(rowFold(extract)))
    Keyed(changes, names, sourceKeys = true)
  }

  /** A stage-1 input under `ttl`: watermarked by its delay, with stage 1
    * under EventTimeTimeout ([[timeoutOf]]), so DEAD contributions
    * (deletes, filtered-out rows) leave the store once the watermark
    * passes their ts + ttl — state bounded by live + recently-dead keys
    * on an unbounded feed. Retractions were already emitted when the
    * death applied, so expiry changes state size, not view contents, at
    * the documented cost that a straggler older than an expired
    * tombstone re-materializes ([[expiringState]]).
    */
  private def watermarked(changes: Dataset[Change], ttl: Option[(String, Long)]): Dataset[Change] =
    ttl.fold(changes) { case (delay, _) => changes.withWatermark("ts", delay) }

  private def timeoutOf(ttl: Option[(String, Long)]): GroupStateTimeout =
    if (ttl.isDefined) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()

  /** Stage-1 fold of a planned row view: LWW apply, then emit the net
    * row change — upsert when the projected row (re)appears or changes,
    * delete when it leaves the view (delete, or update out of the WHERE
    * predicate). Same minimal-changefeed contract as [[JoinView.fold]].
    */
  private def rowFold(extract: Change => Option[Map[String, String]])(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[PlannedRow]): Iterator[Change] = {
    val before = state.getOption
    val cur = CdcMaterializer.applyLww(before, changes) { (_, c, tsUs) =>
      if (c.op == "delete") PlannedRow(Map.empty, tsUs, c.seq, live = false)
      else extract(c) match {
        case Some(m) => PlannedRow(m, tsUs, c.seq, live = true)
        case None    => PlannedRow(Map.empty, tsUs, c.seq, live = false)
      }
    }
    cur.foreach(state.update)
    val (at, posSeq) = cur.map(r => (tsOfMicros(r.tsUs), r.seq)).getOrElse((tsOfMicros(0L), 0L))
    (before.filter(_.live), cur.filter(_.live)) match {
      case (Some(b), Some(a)) if b.proj == a.proj => Iterator.empty
      case (_, Some(a))       => Iterator.single(Change("upsert", key, at, a.proj, posSeq))
      case (Some(_), None)    => Iterator.single(Change("delete", key, at, Map.empty, posSeq))
      case (None, None)       => Iterator.empty
    }
  }

  // ------------------------------------------------------------------
  // Generator (explode / posexplode) view compilation
  // ------------------------------------------------------------------

  private val GeneratorFns = Set("explode", "posexplode")

  /** Is there a generator function anywhere in the select list? Used
    * only for dispatch — [[genChangesOf]] then enforces the supported
    * top-level shape and rejects the rest loudly.
    */
  private def hasGeneratorItem(p: Project): Boolean =
    p.projectList.exists(_.exists {
      case f: UnresolvedFunction => GeneratorFns(f.nameParts.last.toLowerCase)
      case _                     => false
    })

  /** The one supported array constructor under a generator:
    * `split(<string expr>, '<regex>')` — feeds carry string payloads, so
    * the delimited-list field is THE array shape a changefeed actually
    * has. Spark's own `split` computes the elements; a NULL string (or a
    * row the WHERE rejected) explodes to nothing, exactly like batch
    * `explode` of a NULL array. The regex is checked here, so a bad one
    * is refused at compile time.
    */
  private def compileArrayExpr(e: Expression): Env => Option[Seq[String]] = e match {
    case f: UnresolvedFunction if f.nameParts.last.equalsIgnoreCase("split") =>
      f.arguments match {
        case Seq(_, Literal(v: UTF8String, _)) =>
          try java.util.regex.Pattern.compile(v.toString)
          catch { case x: java.util.regex.PatternSyntaxException => throw unsupported(s"split regex: ${x.getMessage}") }
        case args => throw unsupported(s"split(${args.map(_.sql).mkString(", ")}) (need a literal regex delimiter)")
      }
      val arr = PlannerExpr.compile(f, generator = true)
      env => arr(env).map(_.asInstanceOf[Seq[String]])
    case other => throw unsupported(
      s"generator argument ${other.sql} (supported: explode(split(<expr>, '<regex>')))")
  }

  /** A generator (#296) SELECT-list item — `explode(split(…)) AS item`
    * or `posexplode(split(…)) AS (pos, item)` — turns a ROW view into a
    * FAMILY view: each source key materializes N output rows, one per
    * array element, re-keyed into disjoint spaces per ordinal
    * (`fnv64("g" + pos + key)`, the UNION-branch discipline) so an
    * element is a first-class changefeed row a downstream view can
    * aggregate or join. The stage-1 fold diffs the family BY ORDINAL:
    * an element whose rendering (and shared scalars) didn't move emits
    * nothing, a changed/new ordinal upserts, a shrunken tail deletes —
    * the minimal-changefeed contract at element granularity, which is
    * what keeps a 10k-element family's one-element edit from re-emitting
    * 10k rows. One generator per statement (Spark's own batch rule);
    * scalars ride every element's row, `pos` is emitted for posexplode.
    */
  private def genChangesOf(spark: SparkSession, proj: Project,
      feeds: Map[String, Dataset[Change]], ttl: Option[(String, Long)]): Keyed = {
    val src   = compileSource(spark, proj.child, feeds)
    val preds = src.filters.map(compileExpr)

    // split the select list: exactly one generator item; everything else
    // compiles as a plain scalar column riding each element row
    final case class GenItem(fn: String, arg: Expression, names: Seq[String])
    var gen: Option[(GenItem, Int)] = None
    val scalarCols = scala.collection.mutable.ArrayBuffer.empty[(String, Eval)]
    val outNames   = scala.collection.mutable.ArrayBuffer.empty[String]
    proj.projectList.zipWithIndex.foreach {
      case (ne, i) if ne.exists {
            case f: UnresolvedFunction => GeneratorFns(f.nameParts.last.toLowerCase)
            case _                     => false
          } =>
        val item = ne match {
          case Alias(f: UnresolvedFunction, name)
              if GeneratorFns(f.nameParts.last.toLowerCase) =>
            GenItem(f.nameParts.last.toLowerCase, f.arguments.head, Seq(name))
          case MultiAlias(f: UnresolvedFunction, names)
              if GeneratorFns(f.nameParts.last.toLowerCase) =>
            require(names.length == 2, "posexplode aliases as (pos, item)")
            GenItem(f.nameParts.last.toLowerCase, f.arguments.head, names)
          case other => throw unsupported(
            s"generator shape ${other.sql} (write explode(split(…)) AS item " +
              "or posexplode(split(…)) AS (pos, item), at the top of the select item)")
        }
        require(item.fn != "explode" || item.names.length == 1, "explode aliases one column")
        require(item.fn != "posexplode" || item.names.length == 2, "posexplode aliases as (pos, item)")
        require(gen.isEmpty, "one generator per statement (Spark's own batch rule)")
        gen = Some((item, i))
        outNames ++= item.names
      case (ne, i) =>
        val n = outName(ne, s"col$i")
        scalarCols += ((n, compileExpr(coreOf(ne))))
        outNames += n
    }
    val (genItem, _) = gen.getOrElse(throw unsupported("no generator item (use a plain row view)"))
    val arrF   = compileArrayExpr(genItem.arg)
    val sNames = scalarCols.map(_._1).toSeq
    val sFns   = scalarCols.map(_._2).toSeq

    val extract: Change => Option[(Map[String, String], Seq[String])] = { c =>
      val env = envOf(c)
      if (!preds.forall(p => p(env).contains(true))) None
      else {
        val scalars = sNames.zip(sFns).flatMap { case (n, f) => f(env).map(v => n -> String.valueOf(v)) }.toMap
        Some((scalars, arrF(env).getOrElse(Nil)))
      }
    }

    implicit val rowEnc    = Encoders.product[PlannedGenRow]
    implicit val changeEnc = Encoders.product[Change]
    implicit val longEnc   = Encoders.scalaLong
    val posName  = if (genItem.fn == "posexplode") Some(genItem.names.head) else None
    val itemName = genItem.names.last
    val changes = watermarked(src.changes, ttl)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutOf(ttl))(
        expiringState[PlannedGenRow, Change](ttl, !_.live, _.tsUs)(
          genFold(extract, itemName, posName)))
    Keyed(changes, outNames.toSeq, sourceKeys = false)
  }

  /** Stage-1 fold of a generator view: LWW apply (identical discipline
    * to [[rowFold]]), then per-ordinal family diff. Ordinal i's output
    * key is `fnv64("g" + i + Sep + key)` — stable across batches, so an
    * unchanged element never re-emits and a delete routes to exactly
    * the ordinals that died.
    */
  private def genFold(extract: Change => Option[(Map[String, String], Seq[String])],
      itemName: String, posName: Option[String])(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[PlannedGenRow]): Iterator[Change] = {
    val before = state.getOption
    val cur = CdcMaterializer.applyLww(before, changes) { (_, c, tsUs) =>
      if (c.op == "delete") PlannedGenRow(Map.empty, Nil, tsUs, c.seq, live = false)
      else extract(c) match {
        case Some((m, es)) => PlannedGenRow(m, es, tsUs, c.seq, live = true)
        case None          => PlannedGenRow(Map.empty, Nil, tsUs, c.seq, live = false)
      }
    }
    cur.foreach(state.update)
    val (at, posSeq) = cur.map(r => (tsOfMicros(r.tsUs), r.seq)).getOrElse((tsOfMicros(0L), 0L))
    def okey(i: Int): Long = JoinView.fnv64("g" + i + Sep + key)
    def rowOf(r: PlannedGenRow, i: Int): Map[String, String] =
      r.scalars + (itemName -> r.elems(i)) ++ posName.map(_ -> i.toString)
    val bElems = before.filter(_.live).map(_.elems).getOrElse(Nil)
    val aElems = cur.filter(_.live).map(_.elems).getOrElse(Nil)
    val bScal  = before.filter(_.live).map(_.scalars)
    val aScal  = cur.filter(_.live).map(_.scalars)
    val ups = (0 until aElems.length).iterator.collect {
      case i if i >= bElems.length || bElems(i) != aElems(i) || bScal != aScal =>
        Change("upsert", okey(i), at, rowOf(cur.get, i), posSeq)
    }
    val dels = (aElems.length until bElems.length).iterator.map(i =>
      Change("delete", okey(i), at, Map.empty, posSeq))
    ups ++ dels
  }

  // ------------------------------------------------------------------
  // Ranked (window-function) view compilation
  // ------------------------------------------------------------------

  /** Does a select item carry a window function (`... OVER (...)`)? */
  private def hasWindowItem(p: Project): Boolean =
    p.projectList.exists(_.exists {
      case _: WindowExpression => true
      case _                   => false
    })

  private val RankFns = Set("row_number", "rank", "dense_rank")

  /** One compiled window-function select item of a ranked view. `WRank`
    * reads the rank arrays; `WNav` (lag/lead) reads a neighbor row's
    * operand (`valIdx` into the shipped operand vector); `WAgg` is an
    * aggregate over the partition — whole-partition when the shared
    * OVER clause has no ORDER BY, else RUNNING with SQL's default
    * RANGE-peers frame (ties share the value).
    */
  private sealed trait WinOut extends Serializable { def name: String }
  private final case class WRank(fn: String, name: String) extends WinOut
  private final case class WNav(valIdx: Int, offset: Int, dflt: Option[String],
      lead: Boolean, name: String, ignoreNulls: Boolean = false) extends WinOut
  /** An explicit window frame: `RowsF` is `ROWS BETWEEN … AND …` as
    * signed row offsets relative to the current row — `(Some(-2),
    * Some(0))` is `2 PRECEDING AND CURRENT ROW`; `RangeF` is a
    * VALUE-distance `RANGE BETWEEN x PRECEDING AND y FOLLOWING` over
    * the (single, numeric) ORDER BY key — the time-based moving-window
    * idiom. `None` on a side is UNBOUNDED.
    */
  private[streaming] sealed trait WFrame extends Serializable
  private final case class RowsF(lo: Option[Int], hi: Option[Int]) extends WFrame
  private final case class RangeF(lo: Option[Double], hi: Option[Double]) extends WFrame

  /** `GROUPS BETWEEN a AND b [EXCLUDE …]` as PEER-GROUP offsets relative
    * to the current row's peer group (`None` = UNBOUNDED) — the
    * standard-SQL frame class Spark's own grammar lacks (batch q92
    * composes it from dense_rank + RANGE over the ordinal; the live
    * dataflow carries the same ordinal identity natively: peer-group
    * boundaries already exist in the rank fold). Enters through
    * [[stripGroupsSyntax]]'s textual rewrite + the [[groupsFrames]]
    * side channel, since the Spark parser has no GROUPS token.
    * `exclude`: `none | current | ties | group` (EXCLUDE NO OTHERS /
    * CURRENT ROW / TIES / GROUP).
    */
  private[streaming] final case class GroupsF(lo: Option[Int], hi: Option[Int],
      exclude: String = "none") extends WFrame

  /** `ROWS/RANGE BETWEEN … AND … EXCLUDE …` — the standard's frame
    * exclusion on the OTHER frame types (the exclusion span is the
    * current row's PEER GROUP regardless of how the frame bounds were
    * drawn, per SQL:2011). Same parser gap and side channel as
    * [[GroupsF]]; `inner` is the plain ROWS/RANGE frame.
    */
  private[streaming] final case class ExclF(inner: WFrame, exclude: String) extends WFrame

  /** `frame` absent = the default frame (whole partition, or
    * RANGE-peers running when the clause has ORDER BY).
    */
  private final case class WAgg(op: String, valIdx: Int, running: Boolean, name: String,
      frame: Option[WFrame] = None) extends WinOut
  /** ntile(buckets): SQL's as-even-as-possible distribution (the first
    * `n mod buckets` buckets take one extra row).
    */
  private final case class WNtile(buckets: Int, name: String) extends WinOut
  /** first/last/nth_value under the default frame: `first` reads the
    * frame start (partition row 0), `last` the current PEER GROUP's
    * last row (the famous default-frame semantic), `nth` the frame's
    * k-th row if already inside it. An explicit ROWS `frame` (same
    * encoding as [[WAgg]]) repoints all three at the frame's rows.
    */
  private final case class WPos(kind: String, valIdx: Int, nth: Int, name: String,
      frame: Option[RowsF] = None, ignoreNulls: Boolean = false) extends WinOut
  /** percent_rank = (rank−1)/(n−1) (0 when n=1); cume_dist = peers-through-me / n. */
  private final case class WRel(fn: String, name: String) extends WinOut

  /** WINDOW-FUNCTION views — ranking (`row_number/rank/dense_rank`),
    * navigation (`lag/lead`), and aggregates (`count/sum/avg/min/max
    * OVER`) over one shared `OVER (PARTITION BY … [ORDER BY …])`
    * clause in the select list, optionally bounded by an outer
    * `WHERE <rn> <= k` around the subquery (the TOP-K PER GROUP idiom —
    * the per-partition form of [[materializeTopK]], and the better scale
    * story: state shards BY PARTITION instead of one global fold).
    * Aggregates without ORDER BY are whole-partition (every row carries
    * the partition's current total — a total moving re-emits every row,
    * the honest SQL semantic); with ORDER BY they are RUNNING under
    * SQL's default RANGE frame (sort-value ties share the running
    * value). `lag/lead` are row-based over the deterministic total
    * order (change-key tiebreak), so a neighbor arriving, moving, or
    * dying re-emits exactly the rows whose neighbor values changed.
    * Compiled as:
    *
    *  - stage 1 ([[rankedKeyFold]]): per-change-key LWW with the row's
    *    partition key, ORDER BY values, and projected payload; emits
    *    entry/exit/change (a partition move exits the old partition and
    *    enters the new);
    *  - stage 2 ([[rankFold]]): per partition, maintain every live
    *    member, re-sort, re-rank, and emit ONLY the diff against the
    *    rows last emitted — `op=upsert` with the new rank, `op=delete`
    *    when a row leaves the view (deleted, out of the bound, or out
    *    of the partition). Deleting a bounded view's leader PROMOTES
    *    the first row below the cut (it upserts with its new rank).
    *
    * The changefeed identity is `(key, _partition)` — multiset-diff
    * semantics (see [[RankedRowChange]]): a partition move's delete and
    * upsert come from two shards whose positions are not mutually
    * ordered, so the old-partition delete must not be foldable over the
    * new-partition upsert. Within one partition, emission positions are
    * monotone (the state keeps a high-water mark), so per-identity
    * `(ts_us, seq)` folding is safe.
    *
    * Ranks are exact under retraction, which requires the full live
    * partition in state (a retraction can promote ANY member) — the
    * same honest cost as exact top-k, but paid PER PARTITION on that
    * partition's shard, so the view scales with the largest partition,
    * not the table. `spark.graft.ranked.maxRowsPerGroup` (default 1e6)
    * raises past the bound. Ordering: numeric when both values parse as
    * numbers else lexicographic (the stringly-feed contract), SQL
    * null-ordering defaults (ASC→NULLS FIRST, DESC→NULLS LAST), ties
    * broken by change key for a deterministic `row_number`; `rank`/
    * `dense_rank` tie on equal ORDER BY values, and a bound keeps
    * ties (`rank() <= k` is top-k WITH ties, the SQL meaning).
    *
    * MIXED OVER clauses — window functions over two or more DISTINCT
    * `(PARTITION BY, ORDER BY)` specs: each spec runs its OWN two-stage
    * dataflow ([[rankStages]], unbounded), and a final per-row-key
    * [[mixedWinFold]] joins the spec outputs on the change key. The
    * merged view has no `_partition` column (whole-row identity),
    * because entry identities inside the merge already carry the
    * partition. Each spec pays the single-spec price, plus one keyed
    * shuffle for the merge. A top-k bound (`WHERE rn <= k`) reads ONE
    * spec's rank and is rejected — bound the single-spec subquery, then
    * join.
    */
  private def compileRankedView(spark: SparkSession, inner: Project,
      feeds: Map[String, Dataset[Change]],
      outerCond: Option[Expression],
      outerNames: Option[Seq[String]]): PlannedView = {
    val src   = compileSource(spark, inner.child, feeds)
    val preds = src.filters.map(compileExpr)

    val (winItems, plainItems) = inner.projectList.partition(_.exists {
      case _: WindowExpression => true
      case _                   => false
    })
    plainItems.foreach(ne => if (ne.isInstanceOf[UnresolvedStar])
      throw unsupported("SELECT * alongside a window function (name the projected fields)"))
    val parsed: Seq[(String, UnresolvedFunction, WindowSpecDefinition)] = winItems.map { ne =>
      coreOf(ne) match {
        case WindowExpression(f: UnresolvedFunction, s: WindowSpecDefinition) =>
          (outName(ne, "win"), f, s)
        case other => throw unsupported(s"window item ${other.sql}")
      }
    }
    // two or more DISTINCT OVER clauses route to the mixed-spec merge
    // dataflow (each spec its own ranked pipeline, joined on change key)
    val specs = parsed.map(_._3).distinct
    if (specs.length > 1 && outerCond.nonEmpty) throw unsupported(
      "top-k bound over mixed OVER clauses (the bound reads one spec's rank) — bound a " +
        "single-spec subquery and join the views on key")
    val cols: Seq[(String, Eval)] = plainItems.zipWithIndex.map { case (ne, i) =>
      (outName(ne, s"col$i"), compileExpr(coreOf(ne)))
    }
    val maxRows = spark.conf.get("spark.graft.ranked.maxRowsPerGroup", "1000000").toInt
    val stages = specs.map(spec => rankStages(src.changes, preds, cols,
      parsed.collect { case (n, f, sp) if sp == spec => (n, f) }, spec, outerCond, maxRows))
    val names    = cols.map(_._1)
    val wins     = stages.flatMap(_._2)
    val winNames = wins.map(_.name)
    require((names ++ winNames).distinct.length == names.length + winNames.length,
      s"duplicate output columns among ${(names ++ winNames).mkString(", ")}")
    outerNames.foreach(_.foreach(n => require((names ++ winNames).contains(n),
      s"outer select column $n is not an output of the subquery")))

    implicit val eventEnc   = Encoders.product[MixedWinEvent]
    implicit val mergeEnc   = Encoders.product[MixedWinState]
    implicit val plannedEnc = Encoders.product[PlannedRowChange]
    implicit val longEnc    = Encoders.scalaLong
    // one spec: its rows carry `_partition` as part of the change
    // identity (a partition move emits delete(old partition) +
    // upsert(new partition) from two independent shards — consumers fold
    // per (key, _partition)); several: [[mixedWinFold]] merges the specs'
    // rows per change key, whose entry identities carry the partition
    val (rows, partition) =
      if (stages.length == 1) (stages.head._1.toDF(), Seq(col("group").as("_partition")))
      else (stages.zipWithIndex.map { case ((ranked, _), i) =>
        val prefix = i.toString + "\u0001"
        ranked.map(rc => MixedWinEvent(rc.key, prefix + rc.group,
          if (rc.op == "delete") Map.empty else rc.proj, rc.op != "delete", rc.ts_us, rc.seq))
      }.reduce(_ union _)
        .groupByKey(_.key)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          mixedWinFold(specs.length))
        .toDF(), Nil)
    // ranking columns come back typed LONG; navigation/aggregate values
    // keep the stringly payload convention (operands are payload strings)
    val projected: Seq[(String, org.apache.spark.sql.Column)] =
      names.map(n => n -> element_at(col("proj"), n).as(n)) ++
        wins.map {
          case WRank(_, nm)  => nm -> element_at(col("proj"), nm).cast("long").as(nm)
          case WNtile(_, nm) => nm -> element_at(col("proj"), nm).cast("long").as(nm)
          case WRel(_, nm)   => nm -> element_at(col("proj"), nm).cast("double").as(nm)
          case w             => w.name -> element_at(col("proj"), w.name).as(w.name)
        }
    val keep = outerNames match {
      case Some(ns) => ns.map(n => projected.find(_._1 == n).get._2)
      case None     => projected.map(_._2)
    }
    val outExprs = (col("op") +: col("key") +: partition) ++ keep :+ col("ts_us") :+ col("seq")
    PlannedView(rows.select(outExprs: _*), OutputMode.Append())
  }

  /** One OVER spec's two ranked stages: [[rankedKeyFold]] by change key,
    * then [[rankFold]] by partition. `outerCond` is the outer `WHERE rn
    * <= k`: it bounds ONE ranking item (top-k per partition; rank() <= k
    * keeps ties, the SQL meaning).
    */
  private def rankStages(changes: Dataset[Change], preds: Seq[Eval], cols: Seq[(String, Eval)],
      items: Seq[(String, UnresolvedFunction)], spec: WindowSpecDefinition,
      outerCond: Option[Expression], maxRows: Int): (Dataset[RankedRowChange], Seq[WinOut]) = {
    val valFns = scala.collection.mutable.ArrayBuffer.empty[Eval]
    def addVal(f: Eval): Int = { valFns += f; valFns.size - 1 }
    val wins: Seq[WinOut] = parseWinFns(items, spec, addVal)
    val partFs = spec.partitionSpec.map { e =>
      compileGroupSlot(e) match {
        case ScalarSlot(f) => f
        case _             => throw unsupported(s"PARTITION BY ${e.sql} (scalar expressions only)")
      }
    }
    val sortFs       = spec.orderSpec.map(so => compileExpr(so.child))
    val sortAsc      = spec.orderSpec.map(_.direction == Ascending)
    val sortNullsFst = spec.orderSpec.map(_.nullOrdering == NullsFirst)
    val bound: Option[(String, Long)] = outerCond.map { cond =>
      val rankAliases = wins.collect { case WRank(rk, nm) => nm -> rk }.toMap
      val (alias, k)  = rankBoundOf(cond, rankAliases.keySet)
      (rankAliases(alias), k)
    }
    val valFnsSeq = valFns.toIndexedSeq
    val extract: Change => Option[(String, Seq[String], Map[String, String])] = { c =>
      val env = envOf(c)
      if (!preds.forall(p => p(env).contains(true))) None
      else Some((
        partFs.map(f => f(env).map(String.valueOf(_)).getOrElse(NullMark)).mkString(Sep),
        sortFs.map(f => f(env).map(String.valueOf(_)).getOrElse(NullMark)) ++
          valFnsSeq.map(f => f(env).map(String.valueOf(_)).getOrElse(NullMark)),
        cols.flatMap { case (n, f) => f(env).map(v => n -> String.valueOf(v)) }.toMap))
    }
    implicit val contribEnc = Encoders.product[RankedContrib]
    implicit val keyChEnc   = Encoders.product[RankedKeyChange]
    implicit val stateEnc   = Encoders.product[RankedGroupState]
    implicit val rowChEnc   = Encoders.product[RankedRowChange]
    implicit val longEnc    = Encoders.scalaLong
    implicit val stringEnc  = Encoders.STRING
    val ranked = changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(rankedKeyFold(extract))
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        rankFold(wins, sortFs.length, sortAsc, sortNullsFst, bound, maxRows))
    (ranked, wins)
  }

  /** Parse one OVER clause's window items into [[WinOut]] descriptors;
    * `addVal` registers operand evaluators into the caller's operand
    * vector (shipped to stage 2 alongside the ORDER BY values).
    */
  private def parseWinFns(items: Seq[(String, UnresolvedFunction)], spec: WindowSpecDefinition,
      addVal: Eval => Int): Seq[WinOut] = {
    // explicit frames: `ROWS BETWEEN a AND b` becomes signed row
    // offsets; `RANGE UNBOUNDED PRECEDING .. CURRENT ROW` IS the
    // default running frame (tie-peers share), so it maps to None;
    // `RANGE BETWEEN x PRECEDING AND y FOLLOWING` with numeric offsets
    // becomes a VALUE-distance frame over the single ORDER BY key
    // (the time-based moving-window idiom).
    def numBound(e: Expression, lower: Boolean): Option[Double] = e match {
      case UnboundedPreceding if lower  => None
      case UnboundedFollowing if !lower => None
      case CurrentRow                   => Some(0.0)
      case UnaryMinus(l: Literal, _)    =>
        Some(-litValue(l.value).flatMap(asNum).getOrElse(
          throw unsupported(s"frame bound ${e.sql}")))
      case l: Literal                   =>
        Some(litValue(l.value).flatMap(asNum).getOrElse(
          throw unsupported(s"frame bound ${e.sql}")))
      case other => throw unsupported(s"frame bound ${other.sql}")
    }
    def rowBound(e: Expression, lower: Boolean): Option[Int] = numBound(e, lower).map(_.toInt)
    val frame: Option[WFrame] = spec.frameSpecification match {
      case UnspecifiedFrame => None
      case SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow) => None
      case SpecifiedWindowFrame(RowFrame, lo, hi) =>
        val f = RowsF(rowBound(lo, lower = true), rowBound(hi, lower = false))
        f match {
          // a [[stripGroupsSyntax]] sentinel: decode the side-channel
          // GROUPS / EXCLUDE frame it stands for (see [[GroupsSentinel]])
          case RowsF(Some(a), Some(b)) if a == b && a <= -GroupsSentinel &&
              groupsFrames.value.contains(-a - GroupsSentinel) =>
            val decoded = groupsFrames.value(-a - GroupsSentinel)
            decoded match {
              case ExclF(RangeF(lo, hi), _) if lo.isDefined || hi.isDefined =>
                require(spec.orderSpec.length == 1,
                  "a value-distance RANGE frame needs exactly ONE ORDER BY key (its numeric axis)")
              case _ => ()
            }
            Some(decoded)
          case _ =>
            (f.lo, f.hi) match {
              case (Some(a), Some(b)) => require(a <= b, s"empty-by-construction frame ROWS BETWEEN $a AND $b")
              case _                  => ()
            }
            // ROWS UNBOUNDED..UNBOUNDED only equals the DEFAULT frame when
            // the clause has no ORDER BY (the default then is the whole
            // partition); under ORDER BY the default is running/peer-group,
            // so the explicit whole-partition frame must stay explicit
            if (f == RowsF(None, None) && spec.orderSpec.isEmpty) None else Some(f)
        }
      case SpecifiedWindowFrame(RangeFrame, lo, hi) =>
        val f = RangeF(numBound(lo, lower = true), numBound(hi, lower = false))
        (f.lo, f.hi) match {
          case (Some(a), Some(b)) => require(a <= b, s"empty-by-construction frame RANGE BETWEEN $a AND $b")
          case _                  => ()
        }
        // RANGE UNBOUNDED..UNBOUNDED has no value-distance left in it —
        // it IS the whole partition (nulls included), which the ROWS
        // unbounded frame expresses exactly; collapsing to the default
        // would wrongly yield the running/peer frame under ORDER BY.
        // Only value-bounded RANGE frames need the single numeric axis.
        if (f == RangeF(None, None))
          (if (spec.orderSpec.isEmpty) None else Some(RowsF(None, None)))
        else {
          require(spec.orderSpec.length == 1,
            "a value-distance RANGE frame needs exactly ONE ORDER BY key (its numeric axis)")
          Some(f)
        }
      case other => throw unsupported(s"window frame ${other.sql}")
    }
    val rowsFrame: Option[RowsF] = frame.collect { case r: RowsF => r }
    def intLit(e: Any, what: String): Int =
      litValue(e).flatMap(asNum).map(_.toInt).getOrElse(throw unsupported(what))
    val wins: Seq[WinOut] = items.map { case (name, f) =>
      val fn = f.nameParts.last.toLowerCase
      if (f.ignoreNulls) require(
        Set("lag", "lead", "first_value", "last_value", "nth_value")(fn),
        s"IGNORE NULLS applies to navigation/positional window functions, not $fn")
      (fn, f.arguments) match {
        case (rk, Seq()) if RankFns(rk) => WRank(rk, name)
        case ("lag" | "lead", args) =>
          val (e, off, dflt) = args match {
            case Seq(e0)                             => (e0, 1, None)
            case Seq(e0, o: Literal)                 => (e0, intLit(o.value, s"$fn offset"), None)
            case Seq(e0, o: Literal, d: Literal)     =>
              (e0, intLit(o.value, s"$fn offset"), litValue(d.value).map(String.valueOf))
            case other => throw unsupported(s"$fn(${other.map(_.sql).mkString(",")})")
          }
          require(off >= 0, s"$fn offset must be >= 0")
          WNav(addVal(compileExpr(e)), off, dflt, lead = fn == "lead", name, f.ignoreNulls)
        case ("count", Seq(_: UnresolvedStar)) =>
          WAgg("count", addVal(_ => Some(1)), running = spec.orderSpec.nonEmpty, name, frame)
        case ("count" | "sum" | "avg" | "min" | "max", Seq(e)) =>
          WAgg(fn, addVal(compileExpr(e)), running = spec.orderSpec.nonEmpty, name, frame)
        // exact order statistics over the WHOLE partition — the rank
        // fold already holds every live member, so the partition's
        // sorted operand multiset is one O(n log n) pass per emission
        // (the same cost class as the re-rank itself). Running/framed
        // forms are rejected: a per-row framed percentile is O(n·f log f)
        // and the useful shape is the partition statistic.
        case ("median", Seq(e)) =>
          require(spec.orderSpec.isEmpty && frame.isEmpty,
            "median OVER supports whole-partition windows only (no ORDER BY / frame)")
          WAgg("percentile:0.5", addVal(compileExpr(e)), running = false, name, None)
        case ("percentile", Seq(e, p: Literal)) =>
          val frac = litValue(p.value).flatMap(asNum).getOrElse(
            throw unsupported("percentile fraction"))
          require(frac >= 0.0 && frac <= 1.0, "percentile fraction must be in [0, 1]")
          require(spec.orderSpec.isEmpty && frame.isEmpty,
            "percentile OVER supports whole-partition windows only (no ORDER BY / frame)")
          WAgg(s"percentile:$frac", addVal(compileExpr(e)), running = false, name, None)
        case ("ntile", Seq(b: Literal)) =>
          val n = intLit(b.value, "ntile buckets")
          require(n >= 1, "ntile buckets must be >= 1")
          WNtile(n, name)
        // relative-rank family: values in [0,1], emitted as doubles
        case ("percent_rank" | "cume_dist", Seq()) => WRel(fn, name)
        case ("first_value" | "last_value", Seq(e)) =>
          require(frame.isEmpty || rowsFrame.isDefined,
            s"$fn with a value-distance RANGE or GROUPS frame (use a ROWS frame, or the default)")
          WPos(fn.stripSuffix("_value"), addVal(compileExpr(e)), 1, name, rowsFrame, f.ignoreNulls)
        case ("nth_value", Seq(e, k: Literal)) =>
          val nth = intLit(k.value, "nth_value position")
          require(nth >= 1, "nth_value position must be >= 1")
          require(frame.isEmpty || rowsFrame.isDefined,
            s"nth_value with a value-distance RANGE or GROUPS frame (use a ROWS frame, or the default)")
          WPos("nth", addVal(compileExpr(e)), nth, name, rowsFrame, f.ignoreNulls)
        case _ => throw unsupported(
          s"window function $fn (row_number/rank/dense_rank/ntile/percent_rank/cume_dist/" +
            "lag/lead/first_value/last_value/nth_value/count/sum/avg/min/max/median/percentile)")
      }
    }
    if (wins.exists(w => w.isInstanceOf[WRank] || w.isInstanceOf[WNav] ||
        w.isInstanceOf[WNtile] || w.isInstanceOf[WRel]))
      require(spec.orderSpec.nonEmpty, "ORDER BY is required for ranking/navigation window functions")
    if (frame.isDefined)
      require(spec.orderSpec.nonEmpty, "an explicit ROWS frame requires ORDER BY in its OVER clause")
    wins
  }

  /** Per-ROW-KEY merge fold of a mixed-OVER view (see
    * [[compileRankedView]]): apply each spec dataflow's entry
    * changes, then emit the row's merged output diff. Entry identities
    * are (spec, partition), so a partition move's delete (old
    * partition's shard) and upsert (new partition's shard) target
    * DIFFERENT entries and commute — the cross-shard position skew
    * that forces the single-spec view's (key, _partition) identity
    * cannot misfold here. The row is visible while EVERY spec holds a
    * live entry for it; all spec dataflows process the same
    * micro-batch, so visibility converges within the batch.
    */
  private def mixedWinFold(nSpecs: Int)(key: Long, events: Iterator[MixedWinEvent],
      state: GroupState[MixedWinState]): Iterator[PlannedRowChange] = {
    val s0      = state.getOption.getOrElse(MixedWinState(Map.empty, Map.empty, live = false, 0L, 0L))
    var entries = s0.entries
    var pos     = (s0.posTs, s0.posSeq)
    events.toSeq.sortBy(e => (e.tsUs, e.seq)).foreach { e =>
      pos = CdcMaterializer.laterPos(pos, (e.tsUs, e.seq))
      if (e.live) entries += (e.entry -> e.proj) else entries -= e.entry
    }
    val (posTs, posSeq) = pos
    def specOf(id: String) = id.substring(0, id.indexOf('\u0001')).toInt
    val bySpec  = entries.groupBy { case (id, _) => specOf(id) }
    val nowLive = (0 until nSpecs).forall(bySpec.contains)
    // deterministic pick if a spec transiently holds two partitions
    // (move legs straddling an application order): max partition wins
    val nowProj: Map[String, String] =
      if (!nowLive) Map.empty
      else (0 until nSpecs).iterator.flatMap(sp => bySpec(sp).toSeq.maxBy(_._1)._2).toMap
    val out =
      if (nowLive && (!s0.live || s0.emitted != nowProj))
        Iterator.single(PlannedRowChange("upsert", key, nowProj, posTs, posSeq))
      else if (!nowLive && s0.live)
        Iterator.single(PlannedRowChange("delete", key, Map.empty, posTs, posSeq))
      else Iterator.empty
    // state persists even when emptied: the high-water mark must survive
    // so a repopulated row cannot emit positions older than its own past
    state.update(MixedWinState(entries, nowProj, nowLive, posTs, posSeq))
    out
  }

  /** Stage-1 fold of a ranked view: LWW apply, then emit the key's net
    * partition entry/exit/change — the [[rowFold]] contract extended
    * with the partition key and ORDER BY values.
    */
  private def rankedKeyFold(extract: Change => Option[(String, Seq[String], Map[String, String])])(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[RankedContrib]): Iterator[RankedKeyChange] = {
    val before = state.getOption
    val cur = CdcMaterializer.applyLww(before, changes) { (_, c, tsUs) =>
      if (c.op == "delete") RankedContrib("", Nil, Map.empty, tsUs, c.seq, live = false)
      else extract(c) match {
        case Some((g, sv, m)) => RankedContrib(g, sv, m, tsUs, c.seq, live = true)
        case None             => RankedContrib("", Nil, Map.empty, tsUs, c.seq, live = false)
      }
    }
    cur.foreach(state.update)
    val (posTs, posSeq) = cur.map(r => (r.tsUs, r.seq)).getOrElse((0L, 0L))
    val b = before.filter(_.live)
    val a = cur.filter(_.live)
    (b, a) match {
      case (Some(x), Some(y)) if x.group == y.group && x.sortVals == y.sortVals && x.proj == y.proj =>
        Iterator.empty
      case (Some(x), Some(y)) if x.group == y.group =>
        Iterator.single(RankedKeyChange(y.group, key, y.sortVals, y.proj, live = true, posTs, posSeq))
      case (bo, ao) => // partition move, entry, or exit
        bo.iterator.map(x => RankedKeyChange(x.group, key, Nil, Map.empty, live = false, posTs, posSeq)) ++
          ao.iterator.map(y => RankedKeyChange(y.group, key, y.sortVals, y.proj, live = true, posTs, posSeq))
    }
  }

  /** One ORDER BY column comparison in FINAL order: direction applied to
    * values, null ordering NOT direction-flipped (SQL: NULLS FIRST means
    * first, whatever the direction).
    */
  private def cmpSort(a: String, b: String, asc: Boolean, nullsFirst: Boolean): Int = {
    val an = a == NullMark
    val bn = b == NullMark
    if (an && bn) 0
    else if (an) { if (nullsFirst) -1 else 1 }
    else if (bn) { if (nullsFirst) 1 else -1 }
    else { val c = cmpVals(a, b); if (asc) c else -c }
  }

  /** Stage-2 fold of a ranked view: maintain the partition's live
    * members, re-sort, re-rank, and emit the diff vs the rows last
    * emitted. Cost O(live rows in the touched partition · log) per
    * batch, paid only by touched partitions; each partition's state
    * lives on exactly one shard, guarded by `maxRows`.
    */
  private def rankFold(wins: Seq[WinOut], nSort: Int, asc: Seq[Boolean], nullsFirst: Seq[Boolean],
      bound: Option[(String, Long)], maxRows: Int)(
      group: String,
      changes: Iterator[RankedKeyChange],
      state: GroupState[RankedGroupState]): Iterator[RankedRowChange] = {
    val s0     = state.getOption.getOrElse(RankedGroupState(Map.empty, Map.empty))
    // monotone per-partition position: max of the stored high-water mark
    // and this batch's changes, so derived re-emissions never time-travel
    var pos = (s0.posTs, s0.posSeq)
    val after = changes.foldLeft(s0.contribs) { (m, c) =>
      pos = CdcMaterializer.laterPos(pos, (c.tsUs, c.seq))
      if (c.live) m + (c.key -> RankedEntry(c.sortVals, c.proj)) else m - c.key
    }
    val (posTs, posSeq) = pos
    if (after == s0.contribs) Iterator.empty // batch net-cancelled
    else {
      require(after.size <= maxRows,
        s"ranked view partition has ${after.size} live rows, over spark.graft.ranked.maxRowsPerGroup=" +
          s"$maxRows — exact ranks under retraction hold the full live partition; prefilter with " +
          "WHERE, partition finer, or raise the bound deliberately")
      val ord: Ordering[(Long, RankedEntry)] = (x, y) => {
        var i = 0
        var c = 0
        while (c == 0 && i < asc.length) {
          val xv = if (i < x._2.sortVals.length) x._2.sortVals(i) else NullMark
          val yv = if (i < y._2.sortVals.length) y._2.sortVals(i) else NullMark
          c = cmpSort(xv, yv, asc(i), nullsFirst(i))
          i += 1
        }
        if (c != 0) c else java.lang.Long.compare(x._1, y._1)
      }
      val sorted = after.toSeq.sorted(ord)
      val n      = sorted.length
      // ties are on the SORT PREFIX only (operand values ride behind it)
      val tiedWithPrev = Array.tabulate(n)(i =>
        i > 0 && sorted(i)._2.sortVals.take(nSort) == sorted(i - 1)._2.sortVals.take(nSort))
      val rankArr  = new Array[Long](n)
      val denseArr = new Array[Long](n)
      var i = 0
      while (i < n) {
        rankArr(i)  = if (i == 0) 1L else if (tiedWithPrev(i)) rankArr(i - 1) else i + 1L
        denseArr(i) = if (i == 0) 1L else if (tiedWithPrev(i)) denseArr(i - 1) else denseArr(i - 1) + 1L
        i += 1
      }
      def rankOf(fn: String)(idx: Int): Long = fn match {
        case "row_number" => idx + 1L
        case "rank"       => rankArr(idx)
        case _            => denseArr(idx)
      }
      def opRaw(valIdx: Int)(idx: Int): String = {
        val vs = sorted(idx)._2.sortVals
        val j  = nSort + valIdx
        if (j < vs.length) vs(j) else NullMark
      }
      // the [lo, hi] row range of an explicit ROWS frame at `idx`
      // (clamped; lo > hi = empty frame)
      def frameRange(fr: RowsF)(idx: Int): (Int, Int) = (
        math.max(0, fr.lo.map(idx + _).getOrElse(0)),
        math.min(n - 1, fr.hi.map(idx + _).getOrElse(n - 1)))
      // a VALUE-distance RANGE frame's [lo, hi] row ranges, all rows at
      // once: key(j) = ±num(order value j) is monotone nondecreasing
      // along the sort (the sign folds the direction in, so "x
      // PRECEDING" is key − x whatever the direction), and two
      // monotone pointers sweep the bounds in O(n) total. NULL order
      // keys frame with their fellow NULLs (the SQL RANGE rule: the
      // NULL peer group is its own frame).
      lazy val rangeKeys: Array[Double] = Array.tabulate(n) { j =>
        val v = sorted(j)._2.sortVals.headOption.getOrElse(NullMark)
        if (v == NullMark) Double.NaN
        else v.toDoubleOption.map(d => if (asc.head) d else -d).getOrElse(Double.NaN)
      }
      def rangeRanges(fr: RangeF): Array[(Int, Int)] = {
        val res = new Array[(Int, Int)](n)
        // the non-NULL region is contiguous (nulls sort entirely first
        // or last under cmpSort)
        val firstNum = rangeKeys.indexWhere(!_.isNaN)
        val lastNum  = rangeKeys.lastIndexWhere(!_.isNaN)
        var loPtr  = math.max(firstNum, 0) // first index with key >= k+lo
        var endPtr = math.max(firstNum, 0) // first index with key >  k+hi
        var j = 0
        while (j < n) {
          if (rangeKeys(j).isNaN) {
            // value-bounded sides frame the NULL peer group (the SQL
            // RANGE rule: NULLs are peers of each other); an UNBOUNDED
            // side spans to the partition edge, exactly as for non-NULL
            // rows — RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            // on a NULLS FIRST key must include the partition head
            val lo = if (fr.lo.isEmpty) 0 else rangeKeys.indexWhere(_.isNaN)
            val hi = if (fr.hi.isEmpty) n - 1 else rangeKeys.lastIndexWhere(_.isNaN)
            res(j) = (lo, hi)
          } else {
            val k = rangeKeys(j)
            val lo = fr.lo match {
              case None    => 0 // UNBOUNDED PRECEDING includes leading NULL rows
              case Some(d) =>
                while (loPtr <= lastNum && rangeKeys(loPtr) < k + d) loPtr += 1
                loPtr
            }
            val hi = fr.hi match {
              case None    => n - 1 // UNBOUNDED FOLLOWING includes trailing NULL rows
              case Some(d) =>
                while (endPtr <= lastNum && rangeKeys(endPtr) <= k + d) endPtr += 1
                endPtr - 1 // may fall below lo: an empty frame
            }
            res(j) = (lo, hi)
          }
          j += 1
        }
        res
      }
      // peer-group geometry (GROUPS frames): grpOf(row) = its peer-group
      // ordinal — the dense_rank identity batch q92 composes by hand —
      // with grpStart/grpEndEx (exclusive) indexed by ordinal
      lazy val (grpOf: Array[Int], grpStart: Array[Int], grpEndEx: Array[Int]) = {
        val of     = new Array[Int](n)
        val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
        var j = 0
        while (j < n) {
          if (j == 0 || !tiedWithPrev(j)) starts += j
          of(j) = starts.length - 1
          j += 1
        }
        val st = starts.toArray
        (of, st, Array.tabulate(st.length)(g => if (g + 1 < st.length) st(g + 1) else n))
      }
      // explicit framed aggregate: count/sum/avg in O(1) per row off
      // prefix arrays; min/max scan the frame. Diff-only emission
      // upstream means a neighbor's arrival/death re-emits exactly the
      // rows whose frame value changed. GROUPS frames map peer-group
      // offsets to row ranges through the group geometry; EXCLUDE
      // (GROUPS only) carves the current row's contiguous exclusion
      // span back out of the prefix difference (adding the row itself
      // back for EXCLUDE TIES).
      def framedAggArray(w: WAgg, fr: WFrame): Array[String] = {
        // ExclF wraps a plain ROWS/RANGE frame with an exclusion mode;
        // GroupsF carries its own — the exclusion SPAN is the current
        // row's peer group either way (SQL:2011's rule for every frame
        // type)
        val (baseFr, exclMode) = fr match {
          case ExclF(inner, ex) => (inner, ex)
          case g: GroupsF       => (g: WFrame, g.exclude)
          case other            => (other, "none")
        }
        val ranges: Int => (Int, Int) = baseFr match {
          case r: RowsF  => frameRange(r)
          case r: RangeF => val a = rangeRanges(r); a(_)
          case g: GroupsF => idx => {
            val gi  = grpOf(idx)
            val nG  = grpStart.length
            val loG = g.lo.map(gi + _).getOrElse(0)
            val hiG = g.hi.map(gi + _).getOrElse(nG - 1)
            if (loG >= nG || hiG < 0 || loG > hiG) (1, 0) // empty frame
            else (grpStart(math.max(0, loG)), grpEndEx(math.min(nG - 1, hiG)) - 1)
          }
          case e: ExclF => throw new IllegalStateException(s"nested $e")
        }
        val excl: Int => (Int, Int, Boolean) = exclMode match {
          case "none"    => _ => (1, 0, false) // no exclusion
          case "current" => idx => (idx, idx, false)
          case "group"   => idx => (grpStart(grpOf(idx)), grpEndEx(grpOf(idx)) - 1, false)
          case _         => idx => (grpStart(grpOf(idx)), grpEndEx(grpOf(idx)) - 1, true) // ties
        }
        val pCnt  = new Array[Long](n + 1)   // non-null operands
        val pSum  = new Array[Double](n + 1) // numeric operands
        val pSumN = new Array[Long](n + 1)
        var j = 0
        while (j < n) {
          val v = opRaw(w.valIdx)(j)
          val num = if (v == NullMark) None
            else v.toDoubleOption.filter(d => !d.isNaN && !d.isInfinite)
          pCnt(j + 1)  = pCnt(j) + (if (v == NullMark) 0 else 1)
          pSum(j + 1)  = pSum(j) + num.getOrElse(0.0)
          pSumN(j + 1) = pSumN(j) + (if (num.isDefined) 1 else 0)
          j += 1
        }
        Array.tabulate(n) { idx =>
          val (lo, hi) = ranges(idx)
          if (lo > hi) { if (w.op == "count") "0" else null }
          else {
            val (e0, e1, keep) = excl(idx)
            val eLo    = math.max(e0, lo)
            val eHi    = math.min(e1, hi)
            val hasEx  = eLo <= eHi
            val selfIn = hasEx && keep && idx >= lo && idx <= hi
            lazy val selfV = opRaw(w.valIdx)(idx)
            lazy val selfNum = if (selfV == NullMark) None
              else selfV.toDoubleOption.filter(d => !d.isNaN && !d.isInfinite)
            w.op match {
              case "count" =>
                (pCnt(hi + 1) - pCnt(lo) -
                  (if (hasEx) pCnt(eHi + 1) - pCnt(eLo) else 0L) +
                  (if (selfIn && selfV != NullMark) 1L else 0L)).toString
              case "sum" | "avg" =>
                val k = pSumN(hi + 1) - pSumN(lo) -
                  (if (hasEx) pSumN(eHi + 1) - pSumN(eLo) else 0L) +
                  (if (selfIn && selfNum.isDefined) 1L else 0L)
                val s = pSum(hi + 1) - pSum(lo) -
                  (if (hasEx) pSum(eHi + 1) - pSum(eLo) else 0.0) +
                  (if (selfIn) selfNum.getOrElse(0.0) else 0.0)
                if (k == 0) null else if (w.op == "sum") s.toString else (s / k).toString
              case _ => // min | max — scan the frame, skipping excluded rows
                var best: String = null
                var m = lo
                while (m <= hi) {
                  if (!(hasEx && m >= eLo && m <= eHi && !(keep && m == idx))) {
                    val v = opRaw(w.valIdx)(m)
                    if (v != NullMark && (best == null ||
                        (if (w.op == "min") cmpVals(v, best) < 0 else cmpVals(v, best) > 0))) best = v
                  }
                  m += 1
                }
                best
            }
          }
        }
      }
      // aggregate window values: whole-partition = one value for every
      // row; running = SQL's default RANGE frame (tie groups share)
      def aggArray(w: WAgg): Array[String] = {
        // exact interpolated percentile over the whole partition
        // (median = percentile:0.5): one sort of the live operand
        // multiset per emission — the same O(n log n) class as the
        // re-rank that already ran. Spark's own `percentile`
        // interpolation (h = (n−1)·f between adjacent order stats).
        if (w.op.startsWith("percentile:")) {
          val f  = w.op.stripPrefix("percentile:").toDouble
          val xs = (0 until n).iterator.map(opRaw(w.valIdx)).filter(_ != NullMark)
            .flatMap(_.toDoubleOption).filter(d => !d.isNaN && !d.isInfinite).toArray
          java.util.Arrays.sort(xs)
          val out = new Array[String](n)
          val v =
            if (xs.isEmpty) null
            else {
              val h  = (xs.length - 1) * f
              val lo = math.floor(h).toInt
              val hi = math.min(lo + 1, xs.length - 1)
              (xs(lo) + (h - lo) * (xs(hi) - xs(lo))).toString
            }
          java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], v)
          return out
        }
        val res  = new Array[String](n)
        var cnt  = 0L
        var sum  = 0.0
        var sumN = 0L
        var mn: String = null
        var mx: String = null
        def add(v: String): Unit = if (v != NullMark) {
          cnt += 1
          v.toDoubleOption.filter(d => !d.isNaN && !d.isInfinite).foreach { d => sum += d; sumN += 1 }
          if (mn == null || cmpVals(v, mn) < 0) mn = v
          if (mx == null || cmpVals(v, mx) > 0) mx = v
        }
        def value: String = w.op match {
          case "count" => cnt.toString
          case "sum"   => if (sumN == 0) null else sum.toString
          case "avg"   => if (sumN == 0) null else (sum / sumN).toString
          case "min"   => mn
          case "max"   => mx
        }
        if (!w.running) {
          var j = 0
          while (j < n) { add(opRaw(w.valIdx)(j)); j += 1 }
          val v = value
          java.util.Arrays.fill(res.asInstanceOf[Array[AnyRef]], v)
        } else {
          var lo = 0
          while (lo < n) {
            var hi = lo + 1
            while (hi < n && tiedWithPrev(hi)) hi += 1 // [lo, hi) is one tie group
            var j = lo
            while (j < hi) { add(opRaw(w.valIdx)(j)); j += 1 }
            val v = value
            j = lo
            while (j < hi) { res(j) = v; j += 1 }
            lo = hi
          }
        }
        res
      }
      val aggVals: Map[String, Array[String]] =
        wins.collect { case w: WAgg => w.name -> (w.frame match {
          case Some(fr) => framedAggArray(w, fr)
          case None     => aggArray(w)
        }) }.toMap
      def navVal(w: WNav)(idx: Int): String =
        if (!w.ignoreNulls) {
          val j = if (w.lead) idx + w.offset else idx - w.offset
          if (j >= 0 && j < n) { val v = opRaw(w.valIdx)(j); if (v == NullMark) null else v }
          else w.dflt.orNull
        } else if (w.offset == 0) { // lag/lead(x, 0) IGNORE NULLS reads the row itself
          val v = opRaw(w.valIdx)(idx); if (v == NullMark) w.dflt.orNull else v
        } else {
          // the offset-th NON-NULL value scanning away from the row
          val step = if (w.lead) 1 else -1
          var j      = idx + step
          var remain = w.offset
          var res: String = null
          while (remain > 0 && j >= 0 && j < n) {
            val v = opRaw(w.valIdx)(j)
            if (v != NullMark) { remain -= 1; if (remain == 0) res = v }
            j += step
          }
          if (res == null) w.dflt.orNull else res
        }
      // the current row's peer-group end (exclusive) — the default
      // frame's end for last_value/nth_value; with no ORDER BY all rows
      // are peers, so the frame is the whole partition
      lazy val groupEnd: Array[Int] = {
        val res = new Array[Int](n)
        var hi = n
        var j  = n - 1
        while (j >= 0) {
          res(j) = hi
          if (!tiedWithPrev(j)) hi = j
          j -= 1
        }
        res
      }
      def posVal(w: WPos)(idx: Int): String = {
        // frame rows: explicit ROWS frame if given, else the default
        // frame [0, peer-group end)
        val (flo, fhi) = w.frame match {
          case Some(fr) => frameRange(fr)(idx)
          case None     => (0, groupEnd(idx) - 1)
        }
        if (!w.ignoreNulls) {
          val j = w.kind match {
            case "first" => flo
            case "last"  => fhi
            case _       => flo + w.nth - 1 // nth: the frame's k-th row or absent
          }
          if (j >= flo && j <= fhi) { val v = opRaw(w.valIdx)(j); if (v == NullMark) null else v }
          else null
        } else {
          // IGNORE NULLS: the first/last/nth NON-NULL value inside the frame
          val (from, step, remain0) = w.kind match {
            case "first" => (flo, 1, 1)
            case "last"  => (fhi, -1, 1)
            case _       => (flo, 1, w.nth)
          }
          var j      = from
          var remain = remain0
          var res: String = null
          while (remain > 0 && j >= flo && j <= fhi) {
            val v = opRaw(w.valIdx)(j)
            if (v != NullMark) { remain -= 1; if (remain == 0) res = v }
            j += step
          }
          res
        }
      }
      def ntileOf(b: Int)(idx: Int): Long = {
        val q = n / b
        val r = n % b
        val boundary = r * (q + 1)
        if (idx < boundary) idx / (q + 1) + 1L
        else r + (idx - boundary) / q + 1L
      }
      val newEmit: Map[Long, RankedEmit] = sorted.iterator.zipWithIndex.collect {
        case ((k, e), idx) if bound.forall { case (bfn, bk) => rankOf(bfn)(idx) <= bk } =>
          val winPairs = wins.flatMap {
            case WRank(fn, nm)  => Seq(nm -> rankOf(fn)(idx).toString)
            case WNtile(b, nm)  => Seq(nm -> ntileOf(b)(idx).toString)
            case WRel(fn, nm)   =>
              val v =
                if (fn == "percent_rank")
                  if (n == 1) 0.0 else (rankArr(idx) - 1).toDouble / (n - 1)
                else groupEnd(idx).toDouble / n // cume_dist: peers through me / n
              Seq(nm -> v.toString)
            case w: WNav        => Option(navVal(w)(idx)).map(w.name -> _)
            case w: WPos        => Option(posVal(w)(idx)).map(w.name -> _)
            case w: WAgg        => Option(aggVals(w.name)(idx)).map(w.name -> _)
          }
          // rn is NOT part of the diff identity: a selected ranking
          // column already lives in the map, and storing the absolute
          // position would re-emit byte-identical rows whenever a
          // tie-group's internal order shifts
          k -> RankedEmit(0L, e.proj ++ winPairs)
      }.toMap
      val dead = (s0.emitted.keySet -- newEmit.keySet).iterator.map(k =>
        RankedRowChange("delete", k, group, 0L, Map.empty, posTs, posSeq))
      val lived = newEmit.iterator.collect {
        case (k, e) if !s0.emitted.get(k).contains(e) =>
          RankedRowChange("upsert", k, group, e.rn, e.proj, posTs, posSeq)
      }
      if (after.isEmpty && s0.emitted.isEmpty && newEmit.isEmpty) state.remove()
      else state.update(RankedGroupState(after, newEmit, posTs, posSeq))
      dead ++ lived
    }
  }

  /** The outer `WHERE <rn> <= k` of a bounded ranked view: every
    * conjunct must bound ONE ranking column (both orientations of
    * `<=`/`<`); the tightest bound wins. Payload predicates belong in
    * the subquery's own WHERE (where they prefilter stage-1 state too).
    */
  private def rankBoundOf(cond: Expression, rankNames: Set[String]): (String, Long) = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last).filter(rankNames)
      case _                      => None
    }
    def litLong(e: Expression): Option[Long] = e match {
      case l: Literal => litValue(l.value).flatMap(asNum).map(_.toLong)
      case _          => None
    }
    val bounds = conjuncts(cond).map {
      case LessThanOrEqual(l, r) if attrName(l).isDefined && litLong(r).isDefined =>
        (attrName(l).get, litLong(r).get)
      case LessThan(l, r) if attrName(l).isDefined && litLong(r).isDefined =>
        (attrName(l).get, litLong(r).get - 1)
      case GreaterThanOrEqual(l, r) if attrName(r).isDefined && litLong(l).isDefined =>
        (attrName(r).get, litLong(l).get)
      case GreaterThan(l, r) if attrName(r).isDefined && litLong(l).isDefined =>
        (attrName(r).get, litLong(l).get - 1)
      case other => throw unsupported(
        s"outer predicate ${other.sql} over a ranked subquery (<ranking column> <= k bounds only; " +
          "payload predicates belong in the subquery's WHERE)")
    }
    require(bounds.map(_._1).distinct.length == 1,
      s"outer bounds must target one ranking column (got ${bounds.map(_._1).distinct.mkString(", ")})")
    val k = bounds.map(_._2).min
    require(k >= 1, s"rank bound $k must be >= 1")
    (bounds.head._1, k)
  }

  // ------------------------------------------------------------------
  // Front end: one statement parse, one shape classifier, one keyed
  // changefeed per shape. Every entry point and every nested position
  // (derived table, join side, UNION / set-op branch, subquery layer)
  // compiles through these, so a view shape compiles the same way
  // wherever it appears.
  // ------------------------------------------------------------------

  /** A GROUP-BY-less SELECT whose list contains an aggregate function is
    * a GLOBAL aggregate — the parser leaves it a [[Project]] (aggregates
    * are a resolution-time concept), so [[shapeOf]] rewrites it to an
    * empty-grouping [[Aggregate]]: one global group (empty group key),
    * full retraction contract included. An all-rows-deleted view emits
    * its `_live_rows = 0` tombstone — the changefeed's "the view is
    * empty" change (batch SQL's global `count` answers 0 over an empty
    * table; a CHANGEFEED says it by tombstoning the one group).
    */
  private val AggFnNames = Set("count", "sum", "avg", "min", "max", "approx_count_distinct")
  private def globalAgg(p: Project): Option[Aggregate] = {
    val hasAgg = p.projectList.exists(_.exists {
      case f: UnresolvedFunction => AggFnNames(f.nameParts.last.toLowerCase)
      case _                     => false
    })
    if (hasAgg) Some(Aggregate(Nil, p.projectList, p.child)) else None
  }

  /** A parsed planner statement: the plan (ASOF and GROUPS syntax
    * stripped), whether it carried an ASOF JOIN, and the GROUPS-frame
    * side channel ([[stripGroupsSyntax]]).
    */
  private[streaming] final case class Statement(plan: LogicalPlan, asof: Boolean,
      groups: Map[Int, WFrame])

  /** Parse a planner statement — the one place planner SQL meets Spark's
    * parser; [[ViewCatalog]] reads a definition's table references from
    * the same parse.
    */
  private[streaming] def parseStatement(spark: SparkSession, sql: String): Statement = {
    val (cleaned, groups) = stripGroupsSyntax(stripAsofSyntax(sql))
    Statement(spark.sessionState.sqlParser.parsePlan(cleaned), AsofRe.findFirstIn(sql).nonEmpty, groups)
  }

  /** Run `body` on a statement's plan with its statement-scoped side
    * channels set: the GROUPS frames, the ASOF flag, and the referenced
    * attribute names (join projection pushdown, [[neededAttrs]]).
    */
  private def inStatement[A](spark: SparkSession, sql: String)(body: LogicalPlan => A): A = {
    val st = parseStatement(spark, sql)
    if (st.asof) require(st.plan.collect { case j: Join => j }.length == 1,
      "one ASOF JOIN per statement (layer further joins as a second view over this one)")
    groupsFrames.withValue(st.groups) {
      asofStatement.withValue(st.asof) {
        neededAttrs.withValue(Some(attrNamesOf(st.plan)))(body(st.plan))
      }
    }
  }

  /** [[inStatement]] over the statement's view shape, refusing a `ttl`
    * the shape cannot honour ([[checkTtl]]) before anything compiles.
    */
  private def compileStatement[A](spark: SparkSession, sql: String,
      ttl: Option[(String, Long)])(body: Shape => A): A = inStatement(spark, sql) { plan =>
    val shape = shapeOf(plan)
    if (ttl.isDefined) checkTtl(shape)
    body(shape)
  }

  /** The view shapes the planner compiles. */
  private sealed trait Shape
  /** Filter + project over a feed, a join, or a derived table. */
  private final case class RowShape(p: Project) extends Shape
  /** explode / posexplode in the select list: the family view (#296). */
  private final case class GenShape(p: Project) extends Shape
  /** UNION ALL of plain SELECT branches. */
  private final case class UnionShape(u: Union) extends Shape
  /** The aggregate-class shapes: one typed group-row view each, keyed
    * by group hash as a changefeed.
    */
  private sealed trait GroupedShape extends Shape
  /** GROUP BY, HAVING, a global aggregate, or SELECT DISTINCT. */
  private final case class AggShape(agg: Aggregate, having: Option[Expression]) extends GroupedShape
  /** UNION DISTINCT: the distinct view over the UNION ALL changefeed. */
  private final case class DistinctUnionShape(u: Union) extends GroupedShape
  /** EXCEPT / INTERSECT [ALL]. */
  private final case class SetOpShape(l: LogicalPlan, r: LogicalPlan, isAll: Boolean,
      isExcept: Boolean) extends GroupedShape
  /** Window functions in the select list, optionally bounded by an outer
    * `WHERE rn <= k` around the subquery (top-k per partition) that keeps
    * `outerNames` (None = `*`).
    */
  private final case class RankedShape(inner: Project, bound: Option[Expression],
      outerNames: Option[Seq[String]]) extends Shape

  /** Classify a plan into its view shape — the one dispatcher behind
    * every entry point and nested position.
    */
  private def shapeOf(plan: LogicalPlan): Shape = plan match {
    case a: Aggregate => AggShape(a, None)
    case h: org.apache.spark.sql.catalyst.analysis.UnresolvedHaving => h.child match {
      case a: Aggregate => AggShape(a, Some(h.havingCondition))
      case other        => throw unsupported(s"HAVING over ${other.getClass.getSimpleName}")
    }
    // SELECT DISTINCT a, b ≡ GROUP BY a, b with no aggregates: the
    // maintained distinct-values view, tombstoning a value when its
    // last contributing row leaves
    case Distinct(p: Project) => AggShape(Aggregate(p.projectList, p.projectList, p.child), None)
    // UNION DISTINCT: a value present in BOTH branches appears once and
    // survives one branch's delete (its other contributor holds it)
    case Distinct(u: Union) => DistinctUnionShape(u)
    case e: Except          => SetOpShape(e.left, e.right, e.isAll, isExcept = true)
    case i: Intersect       => SetOpShape(i.left, i.right, i.isAll, isExcept = false)
    case u: Union           => UnionShape(u)
    case p: Project if hasWindowItem(p) => RankedShape(p, None, None)
    case Project(outer, Filter(cond, SubqueryAlias(_, inner: Project))) if hasWindowItem(inner) =>
      RankedShape(inner, Some(cond), outer match {
        case Seq(_: UnresolvedStar) => None
        case items => Some(items.map {
          case a: UnresolvedAttribute => a.nameParts.last
          case other => throw unsupported(
            s"outer select item ${other.sql} over a ranked subquery (plain column names or *)")
        })
      })
    case p: Project if hasGeneratorItem(p) => GenShape(p)
    case p: Project => globalAgg(p).fold[Shape](RowShape(p))(AggShape(_, None))
    case other      => throw unsupported(s"plan node ${other.getClass.getSimpleName}")
  }

  /** The TTL rules, one set for every entry (`materializeExpiring`, an
    * expiring named view): stage-1 tombstone expiry bounds aggregate,
    * row and generator folds; every other state below has no sound TTL.
    */
  private def checkTtl(shape: Shape): Unit = {
    def joinTtl = unsupported(
      "a TTL over a JOIN (the join arrangements hold their own state; use " +
        "JoinView.materializeValueJoinExpiring for the value-join form, or bound the feeds upstream)")
    def hasJoin(p: Project) = p.exists(_.isInstanceOf[Join])
    if (asofStatement.value) throw unsupported(
      "a TTL over an ASOF JOIN (the as-of arrangement holds versioned right-side state; bound it upstream)")
    shape match {
      case _: RankedShape => throw unsupported(
        "a TTL over a ranked view (an expiring NAMED ranked view, or materializeExpiring over one: " +
          "rank state is whole-partition; bound the partition upstream)")
      case _: UnionShape | _: DistinctUnionShape => throw unsupported(
        "a TTL over a UNION (bound the branches upstream: each branch is its own named view " +
          "with its own TTL)")
      case _: SetOpShape => throw unsupported(
        "a TTL over EXCEPT/INTERSECT (per-side multiset state has no sound tombstone TTL; " +
          "bound the branches upstream)")
      case RowShape(p) if hasJoin(p) => throw joinTtl
      case GenShape(p) if hasJoin(p) => throw joinTtl
      case _                         => ()
    }
  }

  /** A view's keyed changefeed: its output column names (empty for a raw
    * feed, whose payload is open), and whether its keys are source row
    * keys. Aggregate, union, generator and ranked views re-key (group or
    * branch/ordinal/partition hashes), so the key/fk join shapes refuse
    * them as sides.
    */
  private final case class Keyed(changes: Dataset[Change], names: Seq[String], sourceKeys: Boolean)

  /** Any view shape as its keyed changefeed: row-class views keep their
    * change key (generator and union views their per-ordinal / per-branch
    * keys), aggregate-class views key by the stable group hash, ranked
    * views by the hash of `(partition, key)` ([[rankedChangesOf]]).
    */
  private def keyedOf(spark: SparkSession, shape: Shape, feeds: Map[String, Dataset[Change]],
      ttl: Option[(String, Long)]): Keyed = shape match {
    case RowShape(p)    => rowChangesOf(spark, p, feeds, ttl)
    case GenShape(p)    => genChangesOf(spark, p, feeds, ttl)
    case UnionShape(u)  => unionChanges(spark, u, feeds)
    case r: RankedShape  => rankedChangesOf(viewOf(spark, r, feeds, ttl))
    case g: GroupedShape => viewChanges(groupedView(spark, g, feeds, ttl, keepMeta = true).df)
  }

  /** A nested plan (derived table, join side, subquery layer) as its
    * keyed changefeed.
    */
  private def keyedPlan(spark: SparkSession, plan: LogicalPlan,
      feeds: Map[String, Dataset[Change]]): Keyed = keyedOf(spark, shapeOf(plan), feeds, None)

  /** A view shape as [[materialize]]'s output: aggregate-class and ranked
    * views keep their typed outputs; row, generator and union views
    * render their keyed changefeed as `op, key, cols…, ts_us, seq`.
    */
  private def viewOf(spark: SparkSession, shape: Shape, feeds: Map[String, Dataset[Change]],
      ttl: Option[(String, Long)]): PlannedView = shape match {
    case RankedShape(inner, bound, names) => compileRankedView(spark, inner, feeds, bound, names)
    case g: GroupedShape => groupedView(spark, g, feeds, ttl, keepMeta = false)
    case rows =>
      val k = keyedOf(spark, rows, feeds, ttl)
      PlannedView(k.changes.toDF().select(
        col("op") +: col("key") +:
          k.names.map(n => element_at(col("payload"), n).as(n)) :+
          expr("unix_micros(ts)").as("ts_us") :+ col("seq"): _*), OutputMode.Append())
  }

  /** An aggregate-class shape's typed view; `keepMeta` adds the group
    * identity and position columns its changefeed is keyed by.
    */
  private def groupedView(spark: SparkSession, shape: GroupedShape, feeds: Map[String, Dataset[Change]],
      ttl: Option[(String, Long)], keepMeta: Boolean): PlannedView = shape match {
    case AggShape(a, having) => compileAggregate(spark, a, feeds, ttl, having, keepMeta)
    case DistinctUnionShape(u) =>
      val k = unionChanges(spark, u, feeds)
      val attrs: Seq[NamedExpression] = k.names.map(n => UnresolvedAttribute(Seq(n)))
      compileAggregate(spark, Aggregate(attrs, attrs, UnresolvedRelation(Seq("__union"))),
        Map("__union" -> k.changes), keepMeta = keepMeta)
    case SetOpShape(l, r, isAll, isExcept) =>
      compileSetOp(spark, l, r, isAll, isExcept, feeds, keepMeta)
  }

  /** Compile `sql` over the named change feeds into a continuously
    * maintained streaming view. See the object doc for the supported
    * subset and semantics; unsupported SQL fails fast with a message
    * naming the offending construct.
    *
    * Reserved characters: the engine encodes group keys as strings with
    * the control characters U+0000 (SQL NULL value), U+0001 (part
    * separator), and U+0002 (rolled-up grouping column) as in-band
    * markers. A GROUPING VALUE that itself contains one of these three
    * control characters can collide with the markers (a value equal to
    * U+0002 renders as a rolled-up NULL level, for example). Real data
    * virtually never carries C0 controls — but if yours can, strip or
    * escape them upstream; this contract line is the honest boundary.
    */
  def materialize(spark: SparkSession, sql: String,
      feeds: Map[String, Dataset[Change]]): PlannedView =
    compileStatement(spark, sql, None)(viewOf(spark, _, feeds, None))

  /** [[materialize]] with BOUNDED state on an unbounded feed: the input
    * is watermarked and dead stage-1 contributions (deletes, rows that
    * left the WHERE predicate) expire once the watermark passes their
    * death + `tombstoneTtlMs` — the [[IncrementalView.liveTotalsExpiring]]
    * contract behind the one-call SQL API. Retractions are emitted when
    * the death applies, so expiry changes state size, not view
    * contents; a straggler older than an expired tombstone
    * re-materializes (the documented TTL trade). Aggregate (including
    * DISTINCT), row and generator views compile; ranked, union, set-op,
    * ASOF and row-over-join views refuse ([[checkTtl]], the same rules
    * as an expiring named view). Start the query inside
    * [[IncrementalView.withRelaxedWatermarkCheck]] (same soundness
    * argument: the emitted deltas carry no event-time column, so
    * nothing downstream drops them as late).
    */
  def materializeExpiring(spark: SparkSession, sql: String,
      feeds: Map[String, Dataset[Change]],
      watermarkDelay: String = "10 minutes",
      tombstoneTtlMs: Long = 10L * 60 * 1000): PlannedView = {
    val ttl = Some((watermarkDelay, tombstoneTtlMs))
    compileStatement(spark, sql, ttl)(viewOf(spark, _, feeds, ttl))
  }

  /** `SELECT … GROUP BY … ORDER BY <col> [ASC|DESC] LIMIT k` as a LIVE
    * top-k view (the Materialize TOP K shape): the aggregate compiles
    * to its changefeed ([[keyedPlan]]) and a final fold holds EVERY
    * live group's current row, re-emitting the refreshed k-list (rank
    * column + output columns; consumers keep the max-`_emit` rows)
    * whenever the batch changed any group. Full-group state is the
    * correctness requirement, not an accident: deleting a leader must
    * PROMOTE the best group below the cut, which k-bounded state cannot
    * see — so state is O(live groups × row width) on ONE shard. That is
    * the honest cost of exact global top-k under retraction; group
    * cardinality (not feed size) bounds it, and a deployment needing
    * bigger group spaces pre-filters with HAVING or runs the
    * monotone-total [[TopKView]] instead. Sort values coerce
    * numerically when they parse as numbers, else lexicographic; ties
    * break by group hash for determinism.
    *
    * `maxGroups` bounds the global fold's state: the fold RAISES when
    * the live-group count would exceed it, naming the HAVING-prefilter /
    * TopKView alternatives — an unbounded group space must fail loudly
    * at the state boundary, not OOM one shard silently at scale.
    */
  def materializeTopK(spark: SparkSession, sql: String,
      feeds: Map[String, Dataset[Change]],
      maxGroups: Int = 1000000): PlannedView = inStatement(spark, sql) { plan =>
    val (k, sortCol, asc, inner) = plan match {
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_, Sort(Seq(so), true, child, _))) =>
        val colName = so.child match {
          case a: UnresolvedAttribute => a.nameParts.last
          case other                  => throw unsupported(s"ORDER BY over ${other.sql} (name an output column)")
        }
        (n, colName, so.direction == Ascending, child)
      case other => throw unsupported(
        s"materializeTopK needs SELECT … ORDER BY <col> LIMIT k (got ${other.getClass.getSimpleName})")
    }
    val Keyed(changes, outNames, _) = keyedPlan(spark, inner, feeds)
    require(outNames.contains(sortCol),
      s"ORDER BY column '$sortCol' must be one of the view's output columns ${outNames.mkString(", ")}")
    implicit val stateEnc = Encoders.product[PlannedTopKState]
    implicit val rowEnc   = Encoders.product[PlannedTopKRow]
    implicit val longEnc  = Encoders.scalaLong
    val topRows = changes
      .groupByKey(_ => 0L) // the one global fold — state ∝ live groups
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        topKFold(k, sortCol, asc, maxGroups))
      .toDF()
    val outExprs = col("_emit") +: col("rank") +:
      outNames.map(n => element_at(col("row"), n).as(n))
    PlannedView(topRows.select(outExprs: _*), OutputMode.Append())
  }

  private def topKFold(k: Int, sortCol: String, asc: Boolean, maxGroups: Int)(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[PlannedTopKState]): Iterator[PlannedTopKRow] = {
    val s0 = state.getOption.getOrElse(PlannedTopKState(Map.empty, 0L))
    val after = changes.toSeq.sortBy(c => (CdcMaterializer.micros(c.ts), c.seq))
      .foldLeft(s0.entries) { (m, c) =>
        if (c.op == "delete") m - c.key else m + (c.key -> c.payload)
      }
    if (after.size > maxGroups) throw new IllegalStateException(
      s"materializeTopK: ${after.size} live groups exceed maxGroups=$maxGroups — exact top-k under " +
        "retraction holds EVERY live group on one state shard; prefilter the group space with HAVING, " +
        "raise maxGroups deliberately, or use the monotone-total TopKView")
    if (after == s0.entries) Iterator.empty
    else {
      val emit = s0.emit + 1
      state.update(PlannedTopKState(after, emit))
      def sortKey(gh: Long, row: Map[String, String]): (Double, Long) = {
        val v = row.get(sortCol).flatMap(_.toDoubleOption).getOrElse(
          if (asc) Double.PositiveInfinity else Double.NegativeInfinity)
        (if (asc) v else -v, gh)
      }
      after.toSeq.sortBy { case (gh, row) => sortKey(gh, row) }.take(k)
        .zipWithIndex.iterator
        .map { case ((_, row), i) => PlannedTopKRow(emit, i + 1L, row) }
    }
  }

  /** FNV-1a 64 content addresses — the one shared implementation
    * ([[JoinView.fnv64]]); two copies would let a future tweak silently
    * diverge sibling dataflows' addresses.
    */
  private def fnv64(s: String): Long = JoinView.fnv64(s)

  /** Any view as its keyed [[Change]] stream — the composition
    * primitive: the view's upsert/delete changefeed is itself a feed, so
    * planner views LAYER (`materialize` over `materializeChanges` over a
    * raw feed — Materialize-class view-over-view), and every downstream
    * operator in this package (CdcMaterializer, JoinView, the planner
    * itself) consumes it unchanged. Row views keep their change key;
    * aggregate views key by the group's stable hash, with the output
    * columns as the payload and a `_live_rows=0` (or HAVING-exit)
    * emission as the group's delete. Emitted changes carry their commit
    * position (`ts`, `seq`), so the LWW / stale-drop contract survives
    * the hop.
    */
  def materializeChanges(spark: SparkSession, sql: String,
      feeds: Map[String, Dataset[Change]]): Dataset[Change] =
    compileStatement(spark, sql, None)(keyedOf(spark, _, feeds, None).changes)

  /** [[materializeChanges]] under its aggregate-layering name: a per-city
    * totals view feeding a totals-distribution view, retractions
    * crossing both layers.
    */
  def materializeAggChanges(spark: SparkSession, sql: String,
      feeds: Map[String, Dataset[Change]]): Dataset[Change] = materializeChanges(spark, sql, feeds)

  /** ANY planner-compilable view as its keyed changefeed, plus its
    * output column names — the one entry point [[ViewCatalog]] uses, so a
    * named view's shape is an implementation detail of its SQL, not of
    * its name. Row-class views keep their change key; aggregate-class
    * views key by the stable group hash; ranked views fold their `(key,
    * partition)` identity into one stable key ([[rankedChangesOf]]), so
    * partition moves land as delete(old identity) + upsert(new identity)
    * and the sink's LWW fold is exact.
    *
    * `ttl`: BOUNDED state on an unbounded feed — stage-1 dead
    * contributions (deletes, rows that left the WHERE) expire once the
    * watermark passes their death + ttl, the [[materializeExpiring]]
    * contract and refusals behind a NAMED view. Start the query inside
    * [[IncrementalView.withRelaxedWatermarkCheck]] (the [[ViewCatalog]]
    * does).
    */
  def namedChanges(spark: SparkSession, sql: String,
      feeds: Map[String, Dataset[Change]],
      ttl: Option[(String, Long)] = None): (Dataset[Change], Seq[String]) =
    compileStatement(spark, sql, ttl) { shape =>
      val k = keyedOf(spark, shape, feeds, ttl)
      (k.changes, k.names)
    }

  /** Rewrite `ASOF [LEFT] JOIN` into parser-legal `[LEFT] JOIN` syntax
    * (the first step of [[parseStatement]]).
    */
  def stripAsofSyntax(sql: String): String =
    if (AsofRe.findFirstIn(sql).isEmpty) sql
    else AsofRe.replaceAllIn(sql, m => if (m.group(1) != null) "LEFT JOIN" else "JOIN")

  /** A ranked [[PlannedView]] (op, key, _partition, cols…, ts_us, seq) as
    * a NAMED changefeed: identity = xxhash64(_partition, key) — stable
    * across rank shifts, distinct across partition moves, 64-bit
    * collision odds. A mixed-OVER view has no `_partition` (its rows are
    * whole-row identities), so it keeps its change key. Delete rows keep
    * only their identity (their payload values are already gone from
    * the rank state).
    */
  private def rankedChangesOf(view: PlannedView): Keyed = {
    val meta  = Set("op", "key", "_partition", "ts_us", "seq")
    val names = view.df.columns.filterNot(meta).toSeq
    val byRow = !view.df.columns.contains("_partition")
    val payload = map_filter(
      map_from_arrays(
        array(names.map(lit): _*),
        array(names.map(n => col(n).cast("string")): _*)),
      (_, v) => v.isNotNull)
    implicit val changeEnc = Encoders.product[Change]
    val changes = view.df.select(
      col("op"),
      (if (byRow) col("key") else xxhash64(col("_partition"), col("key"))).as("key"),
      expr("timestamp_micros(ts_us)").as("ts"),
      payload.as("payload"),
      col("seq")).as[Change]
    Keyed(changes, names, sourceKeys = byRow)
  }

  /** The keepMeta form of an aggregate-class view as its changefeed:
    * live group rows become upserts keyed by the stable group hash,
    * `_live_rows = 0` emissions become deletes, commit positions
    * propagate. Shared by every aggregate-class shape ([[keyedOf]]).
    */
  private def viewChanges(df: DataFrame): Keyed = {
    val outNames = df.columns.filterNot(Set("_live_rows", "_group", "_ts_us", "_seq")).toSeq
    implicit val changeEnc = Encoders.product[Change]
    val changes = df.map { r =>
      val live = r.getAs[Long]("_live_rows") > 0L
      val payload =
        if (!live) Map.empty[String, String]
        else outNames.flatMap(n => Option(r.getAs[Any](n)).map(v => n -> String.valueOf(v))).toMap
      Change(
        if (live) "upsert" else "delete",
        fnv64(r.getAs[String]("_group")),
        tsOfMicros(r.getAs[Long]("_ts_us")),
        payload,
        r.getAs[Long]("_seq"))
    }
    Keyed(changes, outNames, sourceKeys = false)
  }

  /** EXCEPT / INTERSECT [ALL] as a maintained view — the set-operation
    * tier of the Materialize surface, compiled entirely onto the
    * planner's own aggregate machinery: each branch becomes its own row
    * view re-keyed into a disjoint space (the UNION discipline) with a
    * side marker injected into the payload, and one aggregate over the
    * combined feed counts per-side live contributions per value tuple
    * (`_na`/`_nb`). The variant's liveness rule rides the HAVING gate —
    * EXCEPT: `_na > 0 AND _nb = 0`; INTERSECT: both positive; EXCEPT
    * ALL: `_na − _nb > 0`; INTERSECT ALL: both positive — so threshold
    * crossings emit the view-exit tombstone exactly like any HAVING
    * view. ALL variants carry the multiset `multiplicity` column
    * (`_na − _nb` / `least(_na, _nb)`) — the changefeed rendering of
    * duplicate rows (k identical rows ARE one group row with
    * multiplicity k); helper counters are dropped from the output.
    * NULL-bearing tuples group as values (NullMark group parts), which
    * matches SQL set-operation semantics: set ops treat NULLs as equal,
    * unlike ordinary comparisons.
    */
  private def compileSetOp(spark: SparkSession, l: LogicalPlan, r: LogicalPlan,
      isAll: Boolean, isExcept: Boolean,
      feeds: Map[String, Dataset[Change]], keepMeta: Boolean): PlannedView = {
    implicit val changeEnc = Encoders.product[Change]
    def branch(p: LogicalPlan, i: Int): (Dataset[Change], Seq[String]) = p match {
      case proj: Project =>
        val Keyed(ds, names, _) = rowChangesOf(spark, proj, feeds, None)
        (ds.map(c => c.copy(
          key = fnv64("s" + i + Sep + c.key),
          payload = if (c.op == "delete") c.payload else c.payload + ("_side" -> i.toString))),
          names)
      case other => throw unsupported(
        s"set-operation branch ${other.getClass.getSimpleName} (each side must be a plain SELECT)")
    }
    val (lc, ln) = branch(l, 0)
    val (rc, rn) = branch(r, 1)
    require(ln == rn,
      s"EXCEPT/INTERSECT sides must project the same column names; got " +
        s"${ln.mkString("(", ",", ")")} vs ${rn.mkString("(", ",", ")")}")
    require(!ln.contains("_side"), "column name _side is reserved in set-operation views")
    val attrs: Seq[NamedExpression] = ln.map(n => UnresolvedAttribute(Seq(n)))
    def sideCount(side: Int, nm: String): NamedExpression =
      Alias(UnresolvedFunction(Seq("count"),
        Seq(CaseWhen(Seq((EqualTo(UnresolvedAttribute(Seq("_side")), Literal(side.toString)),
          Literal(1))), None)), isDistinct = false), nm)()
    val agg = Aggregate(attrs, attrs ++ Seq(sideCount(0, "_na"), sideCount(1, "_nb")),
      UnresolvedRelation(Seq("__setop")))
    val na = UnresolvedAttribute(Seq("_na"))
    val nb = UnresolvedAttribute(Seq("_nb"))
    val liveness: Expression =
      if (isExcept && isAll) GreaterThan(Subtract(na, nb), Literal(0))
      else if (isExcept)     And(GreaterThan(na, Literal(0)), EqualTo(nb, Literal(0)))
      else                   And(GreaterThan(na, Literal(0)), GreaterThan(nb, Literal(0)))
    val view = compileAggregateFlat(spark, agg, Map("__setop" -> (lc union rc)),
      ttl = None, having = Some(liveness), keepMeta = keepMeta)
    // re-select to keep the standard layout: tuple cols [, multiplicity],
    // _live_rows [, meta] — a bare withColumn would append after
    // _live_rows and break every consumer's column contract
    val metaCols = if (keepMeta) Seq(col("_group"), col("_ts_us"), col("_seq")) else Nil
    val out =
      if (!isAll)
        view.df.select(ln.map(col) ++ (col("_live_rows") +: metaCols): _*)
      else {
        val mult =
          if (isExcept) col("_na") - col("_nb")
          else least(col("_na"), col("_nb"))
        view.df.select(
          ln.map(col) ++ (mult.cast("long").as("multiplicity") +: col("_live_rows") +: metaCols): _*)
      }
    PlannedView(out, view.outputMode)
  }
}
