package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incrementally maintained JOIN view (SURVEY.md §2.3 #85): materialize the
  * equi-join of TWO changefeeds and emit the joined view's own changefeed —
  * the Materialize/Kafka-Streams "table ⋈ table" semantic:
  *
  *  - a key joins when BOTH sides hold a live row → `upsert` with both
  *    payloads;
  *  - an update on either side re-emits the joined row;
  *  - a delete on either side (or a side going stale-dead) RETRACTS the
  *    joined row → `delete`;
  *  - batches that leave the joined row unchanged emit nothing (minimal
  *    changefeed).
  *
  * State is one [[JoinPairState]] per key — the latest row of each side
  * plus whether the join was last emitted — sharded by key hash like every
  * other keyed fold here, so a 100 TB join view is as partitionable as its
  * inputs. Per-side ordering is the same batching-invariant `(tsUs, seq)`
  * order as [[CdcMaterializer]], applied independently per side (each side
  * is its own changefeed with its own LSNs).
  */
object JoinView {

  /** A change tagged with which feed it came from ("L"/"R"). */
  case class Sided(side: String, op: String, key: Long, ts: java.sql.Timestamp, payload: Map[String, String], seq: Long)
      extends LwwEvent

  /** Latest state of one side of the pair. */
  case class SideState(tsUs: Long, seq: Long, payload: Map[String, String], deleted: Boolean) extends LwwState

  /** One side's LWW step: a delete parks a tombstone, any other op puts
    * the change's after-image.
    */
  private def sideStep(prev: Option[SideState], e: LwwEvent, tsUs: Long): SideState = {
    val deleted = e.op == "delete"
    SideState(tsUs, e.seq, if (deleted) Map.empty else e.payload, deleted)
  }

  case class JoinPairState(left: Option[SideState], right: Option[SideState], joined: Boolean)

  /** One change of the joined view's changefeed. */
  case class JoinedChange(
      op: String,
      key: Long,
      l_payload: Map[String, String],
      r_payload: Map[String, String],
      tsUs: Long,
      seq: Long,
  )

  /** Per-key fold. Exposed for direct unit exercise.
    *
    * The preserve flags pick the outer-join semantic — one fold covers
    * all four ANSI join types of the key-equi shape:
    * `(false, false)` inner, `(true, false)` LEFT (the key is visible
    * whenever the LEFT side is live, right payload empty → SQL NULL
    * downstream while unmatched), `(false, true)` RIGHT (mirror),
    * `(true, true)` FULL (visible while EITHER side is live). A
    * preserved side's partner arriving, changing, or dying is then just
    * an UPSERT with the new pair — in a keyed changefeed, "retract the
    * NULL row and emit the joined one" collapses to a single upsert of
    * the key.
    */
  def fold(preserveLeft: Boolean, preserveRight: Boolean)(key: Long, changes: Iterator[Sided], state: GroupState[JoinPairState]): Iterator[JoinedChange] = {
    val s0  = state.getOption.getOrElse(JoinPairState(None, None, joined = false))
    val evs = changes.toSeq
    val l   = CdcMaterializer.applyLww(s0.left, evs.iterator.filter(_.side == "L"))(sideStep)
    val r   = CdcMaterializer.applyLww(s0.right, evs.iterator.filter(_.side == "R"))(sideStep)
    val liveL = l.filter(!_.deleted)
    val liveR = r.filter(!_.deleted)
    // the triggering commit position: the max position across both sides
    val (posTs, posSeq) = (l.toSeq ++ r.toSeq)
      .map(s => (s.tsUs, s.seq))
      .foldLeft((0L, 0L))(CdcMaterializer.laterPos)
    val prevPair = (s0.left.filter(!_.deleted).map(_.payload), s0.right.filter(!_.deleted).map(_.payload))
    val nowPair  = (liveL.map(_.payload), liveR.map(_.payload))
    val joined   = (liveL.nonEmpty && liveR.nonEmpty) ||
      (preserveLeft && liveL.nonEmpty) || (preserveRight && liveR.nonEmpty)
    val out =
      if (joined && (!s0.joined || prevPair != nowPair))
        Iterator.single(JoinedChange("upsert", key,
          liveL.map(_.payload).getOrElse(Map.empty),
          liveR.map(_.payload).getOrElse(Map.empty), posTs, posSeq))
      else if (!joined && s0.joined)
        Iterator.single(JoinedChange("delete", key, Map.empty, Map.empty, posTs, posSeq))
      else Iterator.empty
    state.update(JoinPairState(l, r, joined))
    out
  }

  /** Wire the fold over two streaming changefeeds. Append mode: the
    * emissions are the joined view's changefeed (events, not state), so
    * any downstream transform — including [[CdcMaterializer]]-style
    * re-materialization or a streaming aggregate — composes.
    */
  def materializeJoin(left: Dataset[Change], right: Dataset[Change],
      leftOuter: Boolean = false): Dataset[JoinedChange] =
    materializeJoinType(left, right, preserveLeft = leftOuter, preserveRight = false)

  /** [[materializeJoin]] generalized to all four ANSI join types of the
    * key-equi shape via the preserve flags (see [[fold]]).
    */
  def materializeJoinType(left: Dataset[Change], right: Dataset[Change],
      preserveLeft: Boolean, preserveRight: Boolean): Dataset[JoinedChange] = {
    implicit val sidedEnc  = Encoders.product[Sided]
    implicit val stateEnc  = Encoders.product[JoinPairState]
    implicit val joinedEnc = Encoders.product[JoinedChange]
    implicit val longEnc   = Encoders.scalaLong
    val tagged = left
      .map(c => Sided("L", c.op, c.key, c.ts, c.payload, c.seq))
      .union(right.map(c => Sided("R", c.op, c.key, c.ts, c.payload, c.seq)))
    tagged
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        fold(preserveLeft, preserveRight))
  }

  val outputMode: OutputMode = OutputMode.Append()

  // ---------------------------------------------------------------------
  // #108: GENERAL-KEY (foreign-key) incremental join view — facts keyed by
  // their own PK carrying an FK in the payload, dims keyed by the FK's key
  // space. The N:1 "orders ⋈ customers" shape [[materializeJoin]] cannot
  // express (it requires both feeds to share key VALUES). Two chained
  // keyed folds, the classic two-hop FK-join dataflow:
  //   hop 1 (by fact PK): LWW-fold each fact and emit SUBSCRIPTION changes
  //     keyed by the fact's CURRENT fk — an FK move unsubscribes the old
  //     dim key and subscribes the new one;
  //   hop 2 (by dim PK): hold the dim row (LWW) plus the subscribed fact
  //     set, and diff the group's VISIBLE set (dim live × subscribed
  //     facts) before/after the batch — a dim update fans out to every
  //     subscribed fact, a dim delete retracts them all.
  // Move semantics (same resolution as Kafka Streams' FK-join
  // no-propagate instruction): the old group suppresses its retraction —
  // the NEW group emits the authoritative change for the fact, a joined
  // upsert if its dim is live or a tombstone if not (the tombstone may be
  // redundant when the fact wasn't previously visible; redundant
  // tombstones are idempotent downstream, stale rows would not be).
  // ---------------------------------------------------------------------

  /** Hop-1 state: the fact's latest row. */
  case class FactState(tsUs: Long, seq: Long, fk: Long, payload: Map[String, String], live: Boolean)
      extends LwwState

  /** Event routed to a dim-key group: a dim change (`kind="dim"`) or a
    * fact (un)subscription (`kind="sub"/"unsub"`, `moved` marking FK-move
    * legs whose retraction hop 2 must suppress).
    */
  case class FkEvent(fk: Long, kind: String, factKey: Long, op: String,
      ts: java.sql.Timestamp, payload: Map[String, String], seq: Long, moved: Boolean) extends LwwEvent

  /** A fact subscribed to a dim key: its payload and the position of
    * its last joined-view emission (0 before the first).
    */
  case class FkFact(payload: Map[String, String], posTs: Long = 0L, posSeq: Long = 0L)

  /** Hop-2 state: the dim row, the subscribed facts, and the group's
    * emission high-water `(posTs, posSeq)`, the floor for facts that
    * (re-)enter the group.
    */
  case class FkState(dim: Option[SideState], facts: Map[Long, FkFact], posTs: Long = 0L, posSeq: Long = 0L)

  /** One change of the FK-joined view's changefeed, keyed by FACT.
    * `tsUs`/`seq` are the later of the batch's max commit position and
    * the fact's last emission (see [[foldFkGroup]]), so downstream LWW
    * consumers (the planner layering this feed) keep their ordering
    * contract.
    */
  case class FkJoinedChange(op: String, fact_key: Long, fk: Long,
      fact_payload: Map[String, String], dim_payload: Map[String, String],
      tsUs: Long = 0L, seq: Long = 0L)

  /** Hop-1 fold (by fact PK): LWW-apply the batch, then emit the net
    * subscription change. A fact whose payload lacks a parseable fk is
    * treated as unsubscribed (poison tolerance, same stance as
    * IncrementalView's value parse). A QUALIFIED `fkField` (`o.custkey`)
    * resolves qualified-first then bare — the planner passes qualified
    * names so a nested-join fact carrying the same bare field from two
    * inner feeds stays unambiguous.
    */
  def factSubs(fkField: String)(
      factKey: Long,
      changes: Iterator[Change],
      state: GroupState[FactState]): Iterator[FkEvent] = {
    val bareField = fkField.substring(fkField.lastIndexOf('.') + 1)
    def parseFk(p: Map[String, String]): Option[Long] =
      p.get(fkField).orElse(p.get(bareField)).flatMap(s => scala.util.Try(s.toLong).toOption)
    val before = state.getOption
    val cur = CdcMaterializer.applyLww(before, changes) { (prev, c, tsUs) =>
      if (c.op == "delete") FactState(tsUs, c.seq, prev.map(_.fk).getOrElse(0L), Map.empty, live = false)
      else parseFk(c.payload) match {
        case Some(fk) => FactState(tsUs, c.seq, fk, c.payload, live = true)
        case None     => FactState(tsUs, c.seq, 0L, Map.empty, live = false)
      }
    }
    cur.foreach(state.update)
    val ats = new java.sql.Timestamp(cur.map(_.tsUs).getOrElse(0L) / 1000L)
    val seq = cur.map(_.seq).getOrElse(0L)
    (before.filter(_.live), cur.filter(_.live)) match {
      case (Some(b), Some(a)) if b.fk == a.fk && b.payload == a.payload => Iterator.empty
      case (Some(b), Some(a)) if b.fk == a.fk =>
        Iterator.single(FkEvent(a.fk, "sub", factKey, "upsert", ats, a.payload, seq, moved = false))
      case (Some(b), Some(a)) => // FK move: old group suppresses, new group owns the change
        Iterator(
          FkEvent(b.fk, "unsub", factKey, "delete", ats, Map.empty, seq, moved = true),
          FkEvent(a.fk, "sub", factKey, "upsert", ats, a.payload, seq, moved = true))
      case (Some(b), None) =>
        Iterator.single(FkEvent(b.fk, "unsub", factKey, "delete", ats, Map.empty, seq, moved = false))
      case (None, Some(a)) =>
        Iterator.single(FkEvent(a.fk, "sub", factKey, "upsert", ats, a.payload, seq, moved = false))
      case (None, None) => Iterator.empty
    }
  }

  /** Hop-2 fold (by dim PK): apply dim changes (LWW) and subscription
    * changes, then emit the difference between the group's visible joined
    * set before and after the batch. Per-batch cost is O(subscribed facts)
    * only when the DIM side changed; a fact-only batch touches just the
    * facts it changed.
    *
    * `leftOuter = true` is the FACT-preserving semantic: every live
    * subscribed fact is visible with the dim payload empty (SQL NULL)
    * while the dim is absent or dead — the dim arriving/dying fans an
    * upsert (joined ↔ NULL row) out to the subscribed facts instead of
    * inserting/retracting them.
    */
  def foldFkGroup(leftOuter: Boolean, maxFacts: Int = Int.MaxValue)(fk: Long, events: Iterator[FkEvent], state: GroupState[FkState]): Iterator[FkJoinedChange] = {
    val s0       = state.getOption.getOrElse(FkState(None, Map.empty))
    var facts    = s0.facts
    val movedIn  = scala.collection.mutable.Set.empty[Long]
    val movedOut = scala.collection.mutable.Set.empty[Long]
    val evs      = events.toSeq
    val dim      = CdcMaterializer.applyLww(s0.dim, evs.iterator.filter(_.kind == "dim"))(sideStep)
    evs.filter(_.kind != "dim").foreach { e =>
      if (e.kind == "sub") {
        facts += (e.factKey -> facts.get(e.factKey).fold(FkFact(e.payload))(_.copy(payload = e.payload)))
        if (e.moved) movedIn += e.factKey
      } else {
        facts -= e.factKey
        if (e.moved) movedOut += e.factKey
      }
    }
    def visibleSet(d: Option[SideState], fs: Map[Long, FkFact]) = {
      val dimPayload = d.filter(!_.deleted).map(_.payload)
      if (leftOuter) fs.map { case (k, f) => k -> (f.payload, dimPayload.getOrElse(Map.empty[String, String])) }
      else dimPayload.map(dp => fs.map { case (k, f) => k -> (f.payload, dp) }).getOrElse(Map.empty)
    }
    require(facts.size <= maxFacts,
      s"fk-join group holds ${facts.size} subscribed rows, over the maxRowsPerShard bound " +
        s"$maxFacts — a constant- or hot-FK subscription arranges every subscribed row on ONE " +
        "state shard (the total-predicate cost of an uncorrelated scalar / NOT-IN counter " +
        "layer); bound the row space with an inner derived-table prefilter " +
        "(FROM (SELECT ... WHERE <selective>)), or raise spark.graft.subquery.maxRowsPerShard " +
        "deliberately")
    val prevVisible: Map[Long, (Map[String, String], Map[String, String])] = visibleSet(s0.dim, s0.facts)
    val nowVisible: Map[Long, (Map[String, String], Map[String, String])]  = visibleSet(dim, facts)
    // a fact's stamp: the later of the batch's max event position and the
    // fact's last emission — the group's high-water for a fact new to the
    // group, so a re-subscribed fact cannot emit under its own earlier
    // tombstone. A dim change older than a fact's last emission then
    // still re-emits the fact newer than that emission.
    val batchPos = evs.map(e => (CdcMaterializer.micros(e.ts), e.seq)).foldLeft((0L, 0L))(CdcMaterializer.laterPos)
    val groupPos = (s0.posTs, s0.posSeq)
    def stamp(k: Long): (Long, Long) = CdcMaterializer.laterPos(batchPos,
      s0.facts.get(k).fold(groupPos)(f => (f.posTs, f.posSeq)))
    def change(op: String, k: Long, fp: Map[String, String], dp: Map[String, String]) = {
      val (t, q) = stamp(k)
      FkJoinedChange(op, k, fk, fp, dp, t, q)
    }
    val upserts = nowVisible.iterator.collect {
      case (k, (fp, dp)) if !prevVisible.get(k).contains((fp, dp)) => change("upsert", k, fp, dp)
    }
    val deletes = prevVisible.keysIterator.collect {
      case k if !nowVisible.contains(k) && !movedOut.contains(k) => change("delete", k, Map.empty, Map.empty)
    }
    // moved-in fact with a dead dim: the old group stayed silent, so this
    // group must tombstone the fact to evict any previously-visible row
    val moveTombstones = movedIn.iterator.collect {
      case k if !nowVisible.contains(k) => change("delete", k, Map.empty, Map.empty)
    }
    val out = (upserts ++ deletes ++ moveTombstones).toSeq.sortBy(_.fact_key)
    val emitted = out.foldLeft(groupPos)((p, c) => CdcMaterializer.laterPos(p, (c.tsUs, c.seq)))
    facts = out.foldLeft(facts) { (fs, c) =>
      fs.get(c.fact_key).fold(fs)(f => fs + (c.fact_key -> f.copy(posTs = c.tsUs, posSeq = c.seq)))
    }
    // the state outlives its last fact and dim: the high-water must
    // survive for facts that subscribe again
    state.update(FkState(dim, facts, emitted._1, emitted._2))
    out.iterator
  }

  /** Wire the two hops over a fact changefeed (own PK, fk in
    * `payload(fkField)`) and a dim changefeed (keyed by the fk key space).
    * Emissions are the joined view's changefeed keyed by fact — Append
    * mode, composable downstream like [[materializeJoin]]'s.
    */
  def materializeFkJoin(
      facts: Dataset[Change],
      dims: Dataset[Change],
      fkField: String = "fk",
      leftOuter: Boolean = false,
      maxFactsPerKey: Int = Int.MaxValue): Dataset[FkJoinedChange] = {
    implicit val factStateEnc = Encoders.product[FactState]
    implicit val fkEventEnc   = Encoders.product[FkEvent]
    implicit val fkStateEnc   = Encoders.product[FkState]
    implicit val joinedEnc    = Encoders.product[FkJoinedChange]
    implicit val longEnc      = Encoders.scalaLong
    val subs = facts
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(factSubs(fkField))
    val dimEvents = dims.map(c => FkEvent(c.key, "dim", 0L, c.op, c.ts, c.payload, c.seq, moved = false))
    subs
      .union(dimEvents)
      .groupByKey(_.fk)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(foldFkGroup(leftOuter, maxFactsPerKey))
  }

  // ---------------------------------------------------------------------
  // VALUE-equi incremental join (SURVEY.md §2.3 #200) — `a.x = b.y` where
  // NEITHER side is keyed by the join expression: the general N:M shape
  // [[materializeJoin]] (shared key values) and [[materializeFkJoin]]
  // (fk → unique dim key) cannot express. This is the arrangement-class
  // join of the Materialize/differential-dataflow engines: both feeds are
  // re-sharded ("arranged") BY JOIN VALUE, and each value's bucket holds
  // the live rows of both sides and maintains their cross product
  // incrementally.
  //
  //   stage 1 (per change key, per side): LWW-fold the side's row,
  //     compute its CURRENT join value, and emit bucket entry/exit/change
  //     events — a value move exits the old bucket and enters the new;
  //   stage 2 (per join value): apply both sides' events in (ts, seq)
  //     order and emit the joined changefeed's diff directly from the
  //     transition: a row arriving against k partners emits k pair
  //     upserts, its delete emits k pair deletes, a payload change
  //     re-emits its pairs; under a preserve flag (outer joins) an
  //     UNMATCHED row is visible as a SOLO row (partner payload empty →
  //     SQL NULL downstream), the first partner's arrival deletes the
  //     solos, and the last partner's exit resurrects them.
  //
  // Change identity is content-addressed — fnv64 of (side, keys, bucket)
  // — so a value move's delete (old bucket's shard) and upsert (new
  // bucket's shard) target DIFFERENT identities and commute; within one
  // bucket emissions are stamped with a monotone high-water position, so
  // per-identity (ts, seq) folding is safe. SQL NULL join values never
  // match: non-preserved NULL rows die in stage 1 (no state, no
  // shuffle); preserved ones route to key-salted null buckets (solos
  // are embarrassingly parallel — no single NULL hot shard).
  //
  // Scale: state shards by join value; the honest cost is a HOT VALUE
  // (one bucket holds every row carrying that value, and its cross
  // product is quadratic) — `maxRowsPerValue` raises past the bound
  // instead of letting one shard OOM at 100 TB. Join values with
  // bounded multiplicity (the common FK-like case) cost O(Δ × partners)
  // per batch, paid only by touched buckets. Stage-1 keeps one
  // ValSideState per EVER-SEEN key (dead rows included, for LWW
  // staleness) — the same retention trade as every stage-1 fold here;
  // on an unbounded feed, bound it with [[materializeValueJoinExpiring]]
  // (watermark + EventTimeTimeout on dead stage-1 rows, live rows never
  // expire — the same foldExpiring contract as aggregate views).
  // ---------------------------------------------------------------------

  /** Stage-1 state of one side of a value-equi join (one per change
    * key): the row's current bucket (join value), payload, LWW position.
    */
  case class ValSideState(bucket: String, payload: Map[String, String],
      tsUs: Long, seq: Long, live: Boolean) extends LwwState

  /** Stage-1 → stage-2 wire: one key entering/leaving/changing within
    * one join-value bucket.
    */
  case class ValEvent(bucket: String, leftSide: Boolean, key: Long,
      payload: Map[String, String], live: Boolean, tsUs: Long, seq: Long)

  /** Per-bucket state: live rows of both sides + the bucket's emission
    * high-water mark (derived re-emissions must never time-travel).
    */
  case class ValBucketState(lrows: Map[Long, Map[String, String]],
      rrows: Map[Long, Map[String, String]], posTs: Long, posSeq: Long)

  /** Bucket namespace: every real join value arranges under "V"+value,
    * preserved-NULL rows under "N"+salt — disjoint prefixes, so NULL
    * classification can never collide with a genuine join value (a
    * free-text value starting with any sentinel is still "V"-prefixed).
    * Salting by key spreads NULL solos across shards.
    */
  private val ValueBucketPrefix = "V"
  private val NullBucketPrefix  = "N"
  private val NullSalt          = 64L

  /** FNV-1a 64-bit (public-domain spec), the content address of pair and
    * solo identities. Package-shared — [[IncrementalPlanner]] uses the
    * same addresses for group hashes and branch re-keying.
    */
  private[streaming] def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  private def valSide(leftSide: Boolean, joinValOf: Change => Option[String], preserved: Boolean)(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[ValSideState]): Iterator[ValEvent] = {
    val before = state.getOption
    val cur = CdcMaterializer.applyLww(before, changes) { (_, c, tsUs) =>
      if (c.op == "delete") ValSideState("", Map.empty, tsUs, c.seq, live = false)
      else joinValOf(c) match {
        case Some(v)           => ValSideState(ValueBucketPrefix + v, c.payload, tsUs, c.seq, live = true)
        case None if preserved => // NULL join value, outer-preserved: solo-only salted bucket
          ValSideState(NullBucketPrefix + (key % NullSalt), c.payload, tsUs, c.seq, live = true)
        case None              => ValSideState("", Map.empty, tsUs, c.seq, live = false)
      }
    }
    cur.foreach(state.update)
    val (posTs, posSeq) = cur.map(r => (r.tsUs, r.seq)).getOrElse((0L, 0L))
    val b = before.filter(_.live)
    val a = cur.filter(_.live)
    (b, a) match {
      case (Some(x), Some(y)) if x.bucket == y.bucket && x.payload == y.payload => Iterator.empty
      case (Some(x), Some(y)) if x.bucket == y.bucket =>
        Iterator.single(ValEvent(y.bucket, leftSide, key, y.payload, live = true, posTs, posSeq))
      case (bo, ao) => // bucket move, entry, or exit
        bo.iterator.map(x => ValEvent(x.bucket, leftSide, key, Map.empty, live = false, posTs, posSeq)) ++
          ao.iterator.map(y => ValEvent(y.bucket, leftSide, key, y.payload, live = true, posTs, posSeq))
    }
  }

  private def valBucket(preserveLeft: Boolean, preserveRight: Boolean, maxRows: Int)(
      bucket: String,
      changes: Iterator[ValEvent],
      state: GroupState[ValBucketState]): Iterator[JoinedChange] = {
    val isNull = bucket.startsWith(NullBucketPrefix)
    val s0     = state.getOption.getOrElse(ValBucketState(Map.empty, Map.empty, 0L, 0L))
    var lrows  = s0.lrows
    var rrows  = s0.rrows
    var pos    = (s0.posTs, s0.posSeq)
    // PER-IDENTITY COALESCING (the 140k/s-knee fix): within one
    // micro-batch only an identity's LAST emission ships — intermediate
    // pair states are unobservable downstream (consumers fold
    // per-identity LWW, and every emission of this call carries this
    // batch's monotone positions), so upsert-then-delete nets to the
    // delete, delete-then-upsert to the upsert, and an N-times-touched
    // pair ships once. This is what breaks the backlog spiral: under
    // pressure batches grow, each bucket sees MORE events per batch,
    // and uncoalesced emission cost grew as events x partners — now it
    // is capped by the touched visible-set size however far behind the
    // feed gets.
    val out = scala.collection.mutable.LinkedHashMap.empty[Long, JoinedChange]
    val S = "\u0001" // identity separator (cannot appear in a Long's decimal form)
    def pairKey(lk: Long, rk: Long) = fnv64("P" + S + lk + S + rk + S + bucket)
    def soloKey(left: Boolean, k: Long) = fnv64((if (left) "L" else "R") + S + k + S + bucket)
    def solo(op: String, left: Boolean, k: Long, p: Map[String, String]): Unit = {
      val id = soloKey(left, k)
      out(id) = JoinedChange(op, id,
        if (left) p else Map.empty, if (left) Map.empty else p, pos._1, pos._2)
    }
    def pair(op: String, meLeft: Boolean, myK: Long, myP: Map[String, String],
        otherK: Long, otherP: Map[String, String]): Unit = {
      val id = if (meLeft) pairKey(myK, otherK) else pairKey(otherK, myK)
      out(id) =
        if (meLeft) JoinedChange(op, id, myP, otherP, pos._1, pos._2)
        else JoinedChange(op, id, otherP, myP, pos._1, pos._2)
    }

    changes.toSeq.sortBy(c => (c.tsUs, c.seq)).foreach { c =>
      pos = CdcMaterializer.laterPos(pos, (c.tsUs, c.seq))
      val meLeft        = c.leftSide
      val mine          = if (meLeft) lrows else rrows
      val other         = if (meLeft) rrows else lrows
      val preserveMine  = if (meLeft) preserveLeft else preserveRight
      val preserveOther = if (meLeft) preserveRight else preserveLeft
      val before        = mine.get(c.key)
      if (c.live) {
        if (!before.contains(c.payload)) { // identical re-send is a no-op
          val firstOfMine = mine.isEmpty
          val updated     = mine + (c.key -> c.payload)
          if (meLeft) lrows = updated else rrows = updated
          if (isNull || other.isEmpty) {
            if (preserveMine) solo("upsert", meLeft, c.key, c.payload)
          } else {
            // my side's first arrival unmatches nobody of mine, but it
            // MATCHES the other side: their solos (if preserved) die now
            if (firstOfMine && preserveOther)
              other.foreach { case (ok, op) => solo("delete", !meLeft, ok, op) }
            other.foreach { case (ok, op) => pair("upsert", meLeft, c.key, c.payload, ok, op) }
          }
        }
      } else {
        before.foreach { _ =>
          val updated = mine - c.key
          if (meLeft) lrows = updated else rrows = updated
          if (isNull || other.isEmpty) {
            if (preserveMine) solo("delete", meLeft, c.key, Map.empty)
          } else {
            other.foreach { case (ok, _) => pair("delete", meLeft, c.key, Map.empty, ok, Map.empty) }
            // last of my side gone: the other side is unmatched again
            if (updated.isEmpty && preserveOther)
              other.foreach { case (ok, op) => solo("upsert", !meLeft, ok, op) }
          }
        }
      }
    }
    require(lrows.size + rrows.size <= maxRows,
      s"value-join bucket holds ${lrows.size + rrows.size} live rows, over maxRowsPerValue=$maxRows — " +
        "a hot join value arranges every row carrying it on one shard with a quadratic cross " +
        "product; prefilter the hot value, join on a higher-cardinality expression, or raise " +
        "the bound deliberately")
    // state persists even when emptied: the high-water mark must survive
    // so a repopulated bucket cannot emit positions older than its own
    // past deletes
    state.update(ValBucketState(lrows, rrows, pos._1, pos._2))
    out.valuesIterator
  }

  /** Residual-aware variant of [[valBucket]] for OUTER joins whose ON
    * carries a non-equi residual (`… LEFT JOIN … ON a.x = b.x AND
    * a.v < b.w`): there the residual decides MATCH STATUS — a pair
    * failing it must resurrect the preserved side's solo, which the
    * transition fold's post-filter cannot see. This fold instead diffs
    * the bucket's VISIBLE SET (residual-surviving pairs, plus solos for
    * preserved rows whose surviving-partner count is zero) before and
    * after the batch, under the same content-addressed identities as
    * [[valBucket]] — so a row's payload crossing the residual retracts
    * its pairs and resurrects its partner's solos in one batch.
    *
    * Honest cost: the diff evaluates the residual over the touched
    * bucket's cross product (O(|L|·|R|) per batch that touches it, vs
    * the transition fold's O(Δ·partners)) — inherent, because EITHER
    * side's payload change can flip any pair's match status. Bounded by
    * the same `maxRows` guard; untouched buckets cost nothing.
    */
  /** AS-OF pair selection inside [[valBucketDiff]]: `select` returns the
    * ORDERING KEY of a (left, right) pair when the right row is an
    * admissible version for the left row (None = inadmissible), and
    * each left row pairs with AT MOST the admissible partner whose key
    * is LARGEST under `cmp` (ties broken by partner change key) — the
    * "version valid at event time" semantic. Admissibility composes
    * with the residual (both must hold).
    */
  final case class AsofSpec(
      select: (Map[String, String], Map[String, String]) => Option[String],
      cmp: (String, String) => Int)

  private def valBucketDiff(preserveLeft: Boolean, preserveRight: Boolean, maxRows: Int,
      residual: (Map[String, String], Map[String, String]) => Boolean,
      asof: Option[AsofSpec])(
      bucket: String,
      changes: Iterator[ValEvent],
      state: GroupState[ValBucketState]): Iterator[JoinedChange] = {
    val isNull = bucket.startsWith(NullBucketPrefix)
    val s0     = state.getOption.getOrElse(ValBucketState(Map.empty, Map.empty, 0L, 0L))
    var lrows  = s0.lrows
    var rrows  = s0.rrows
    var pos    = (s0.posTs, s0.posSeq)
    changes.toSeq.sortBy(c => (c.tsUs, c.seq)).foreach { c =>
      pos = CdcMaterializer.laterPos(pos, (c.tsUs, c.seq))
      if (c.live) { if (c.leftSide) lrows += (c.key -> c.payload) else rrows += (c.key -> c.payload) }
      else { if (c.leftSide) lrows -= c.key else rrows -= c.key }
    }
    require(lrows.size + rrows.size <= maxRows,
      s"value-join bucket holds ${lrows.size + rrows.size} live rows, over maxRows=$maxRows — " +
        "a hot join value arranges every row carrying it on one shard with a quadratic cross " +
        "product; prefilter the hot value, add a selective equi conjunct, or raise the bound " +
        "deliberately")
    val S = "\u0001" // identity separator, same addresses as valBucket's
    def pairKey(lk: Long, rk: Long)     = fnv64("P" + S + lk + S + rk + S + bucket)
    def soloKey(left: Boolean, k: Long) = fnv64((if (left) "L" else "R") + S + k + S + bucket)
    def visible(ls: Map[Long, Map[String, String]], rs: Map[Long, Map[String, String]])
        : Map[Long, (Map[String, String], Map[String, String])] =
      if (isNull) // NULL join values never match: every row here is a preserved solo
        ls.map { case (k, p) => soloKey(left = true, k) -> (p, Map.empty[String, String]) } ++
          rs.map { case (k, p) => soloKey(left = false, k) -> (Map.empty[String, String], p) }
      else {
        val pairSeq: Seq[(Long, Long, Map[String, String], Map[String, String])] = asof match {
          case Some(a) => // one partner per left row: the max admissible
            ls.toSeq.flatMap { case (lk, lp) =>
              val cands = rs.toSeq.flatMap { case (rk, rp) =>
                if (residual(lp, rp)) a.select(lp, rp).map(k => (k, rk, rp)) else None
              }
              if (cands.isEmpty) None
              else {
                val (_, rk, rp) = cands.reduceLeft { (x, y) =>
                  val c = a.cmp(x._1, y._1)
                  if (c > 0 || (c == 0 && x._2 > y._2)) x else y
                }
                Some((lk, rk, lp, rp))
              }
            }
          case None =>
            for { (lk, lp) <- ls.toSeq; (rk, rp) <- rs.toSeq if residual(lp, rp) }
              yield (lk, rk, lp, rp)
        }
        val pairs   = pairSeq.map { case (lk, rk, lp, rp) => pairKey(lk, rk) -> (lp, rp) }.toMap
        val pairedL = pairSeq.map(_._1).toSet
        val pairedR = pairSeq.map(_._2).toSet
        val lSolos =
          if (!preserveLeft) Map.empty
          else ls.collect { case (lk, lp) if !pairedL(lk) =>
            soloKey(left = true, lk) -> (lp, Map.empty[String, String]) }
        val rSolos =
          if (!preserveRight) Map.empty
          else rs.collect { case (rk, rp) if !pairedR(rk) =>
            soloKey(left = false, rk) -> (Map.empty[String, String], rp) }
        pairs ++ lSolos ++ rSolos
      }
    val prev = visible(s0.lrows, s0.rrows)
    val now  = visible(lrows, rrows)
    state.update(ValBucketState(lrows, rrows, pos._1, pos._2))
    val ups = now.iterator.collect {
      case (id, (lp, rp)) if !prev.get(id).contains((lp, rp)) =>
        JoinedChange("upsert", id, lp, rp, pos._1, pos._2)
    }
    val dels = prev.keysIterator.collect {
      case id if !now.contains(id) => JoinedChange("delete", id, Map.empty, Map.empty, pos._1, pos._2)
    }
    (ups ++ dels).toSeq.sortBy(_.key).iterator
  }

  /** The value-equi join of two changefeeds (see the section comment):
    * emits the joined view's changefeed with content-addressed change
    * identities. `leftVal`/`rightVal` compute a side's join value from
    * its change (None = SQL NULL, never matches). Preserve flags give
    * the four ANSI join types, as in [[materializeJoinType]].
    *
    * `residual`: an extra live match predicate over the (left, right)
    * payload pair — the ON clause's non-equi conjuncts. When present,
    * buckets run the [[valBucketDiff]] fold, where the residual decides
    * match status (pairs failing it are unmatched: preserved rows with
    * zero surviving partners are visible as solos). When absent, the
    * cheaper transition fold runs.
    */
  def materializeValueJoin(left: Dataset[Change], right: Dataset[Change],
      leftVal: Change => Option[String], rightVal: Change => Option[String],
      preserveLeft: Boolean = false, preserveRight: Boolean = false,
      maxRowsPerValue: Int = 1000000,
      residual: Option[(Map[String, String], Map[String, String]) => Boolean] = None,
      asof: Option[AsofSpec] = None): Dataset[JoinedChange] = {
    implicit val sideStateEnc = Encoders.product[ValSideState]
    implicit val eventEnc     = Encoders.product[ValEvent]
    implicit val bucketEnc    = Encoders.product[ValBucketState]
    implicit val joinedEnc    = Encoders.product[JoinedChange]
    implicit val longEnc      = Encoders.scalaLong
    implicit val stringEnc    = Encoders.STRING
    val lEvents = left
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        valSide(leftSide = true, leftVal, preserveLeft))
    val rEvents = right
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        valSide(leftSide = false, rightVal, preserveRight))
    lEvents.union(rEvents)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (residual, asof) match {
          case (None, None) => valBucket(preserveLeft, preserveRight, maxRowsPerValue)
          case (res, a)     =>
            valBucketDiff(preserveLeft, preserveRight, maxRowsPerValue,
              res.getOrElse((_: Map[String, String], _: Map[String, String]) => true), a)
        })
  }

  /** [[valSide]] with DEAD-STATE TTL (event-time timeout): stage 1 keeps
    * one state per EVER-SEEN key for LWW staleness, which on an
    * unbounded feed with key churn grows without bound in dead
    * tombstones. Once the watermark passes a dead row's `death + ttl`
    * the state is removed — the bucket retraction was already emitted
    * when the death applied, so expiry changes state SIZE, not view
    * contents, at the documented trade that a straggler OLDER than an
    * expired tombstone re-enters (the foldExpiring/closeExpiring
    * contract). Live rows never expire.
    */
  private[streaming] def valSideExpiring(ttlMs: Long, leftSide: Boolean,
      joinValOf: Change => Option[String], preserved: Boolean)(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[ValSideState]): Iterator[ValEvent] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val out = valSide(leftSide, joinValOf, preserved)(key, changes, state)
      state.getOption.foreach { st =>
        // timeout must sit beyond the current watermark or Spark rejects it
        if (!st.live) state.setTimeoutTimestamp(
          math.max(st.tsUs / 1000L + ttlMs, state.getCurrentWatermarkMs() + 1L))
      }
      out
    }
  }

  /** [[materializeValueJoin]] with BOUNDED stage-1 state on unbounded
    * feeds: both inputs are watermarked and dead per-key states (deleted
    * rows, NULL-join-value rows) expire once the watermark passes their
    * death + `tombstoneTtlMs`. Bucket state stays bounded by LIVE rows
    * by construction (dead rows exit their bucket when the death
    * applies); an emptied bucket keeps only its two-long emission
    * high-water mark. Start the query inside
    * IncrementalView.withRelaxedWatermarkCheck: the chained stateful
    * stages trip Spark's global-watermark check, and the usual
    * soundness argument applies (stage 2 consumes stage-1 EVENTS and
    * never drops rows by event time).
    */
  def materializeValueJoinExpiring(left: Dataset[Change], right: Dataset[Change],
      leftVal: Change => Option[String], rightVal: Change => Option[String],
      preserveLeft: Boolean = false, preserveRight: Boolean = false,
      maxRowsPerValue: Int = 1000000,
      residual: Option[(Map[String, String], Map[String, String]) => Boolean] = None,
      asof: Option[AsofSpec] = None,
      watermarkDelay: String = "10 minutes",
      tombstoneTtlMs: Long = 10L * 60 * 1000): Dataset[JoinedChange] = {
    implicit val sideStateEnc = Encoders.product[ValSideState]
    implicit val eventEnc     = Encoders.product[ValEvent]
    implicit val bucketEnc    = Encoders.product[ValBucketState]
    implicit val joinedEnc    = Encoders.product[JoinedChange]
    implicit val longEnc      = Encoders.scalaLong
    implicit val stringEnc    = Encoders.STRING
    val lEvents = left.withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        valSideExpiring(tombstoneTtlMs, leftSide = true, leftVal, preserveLeft))
    val rEvents = right.withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        valSideExpiring(tombstoneTtlMs, leftSide = false, rightVal, preserveRight))
    lEvents.union(rEvents)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (residual, asof) match {
          case (None, None) => valBucket(preserveLeft, preserveRight, maxRowsPerValue)
          case (res, a)     =>
            valBucketDiff(preserveLeft, preserveRight, maxRowsPerValue,
              res.getOrElse((_: Map[String, String], _: Map[String, String]) => true), a)
        })
  }
}
