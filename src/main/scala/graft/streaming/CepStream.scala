package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Per-key NFA state of a CEP pattern: active NFA positions (bitmask)
  * plus the sticky match flag and its trigger position.
  */
case class CepState(mask: Long, matched: Boolean, matchedAtUs: Long, matchedAtEvent: Long, nEvents: Long)

/** One emitted status change of the live pattern view. */
case class CepStatus(key: Long, matched: Boolean, matched_at_us: Long, matched_at_event: Long, n_events: Long)

/** Streaming CEP — the LIVE form of batch q39's MATCH_RECOGNIZE-class
  * event-pattern query (SURVEY.md §2.3 #173): a per-key NFA over the
  * stream of event initials, maintained in `transformWithState`
  * (the #163 one-step-transition shape generalized to k-step patterns
  * with Kleene closures).
  *
  * Pattern grammar (the q39 subset of regex, compiled to token NFA):
  * a SEQUENCE of single-char tokens — literal `s` or class `[vc]` —
  * each optionally starred. `s[vc]*p` is batch q39's funnel verbatim.
  * Matching is unanchored containment (rlike semantics): position 0 is
  * re-injected before every consumed event, and the match flag is
  * sticky once any accept state is reached — so the live answer equals
  * `full_history_string rlike pattern` at every point in time, which
  * is exactly what the equality-with-batch spec asserts.
  *
  * NFA mechanics: token i is a bit; ε-edges skip starred tokens
  * (`closure`), consuming a char advances non-starred tokens and loops
  * starred ones. State per key is ONE bitmask long — O(1) memory per
  * key regardless of history length, the whole point of running CEP as
  * an NFA instead of re-matching collected history (which is what the
  * batch query does, and what a 100 TB key space cannot afford).
  *
  * Ordering: within a batch events sort by `(ts, event_id)`; across
  * batches arrival order is trusted (the per-key Kafka-partition
  * ordering contract, same as [[TransitionView]]). Emission is one
  * status row per touched key per batch (Update-mode view of the
  * pattern state).
  */
object CepStream {

  /** One NFA token: the chars it consumes (`any` = `.` wildcard),
    * whether it loops (`*`), and whether it may be skipped (`?`).
    */
  case class Tok(chars: Set[Char], star: Boolean, opt: Boolean = false, any: Boolean = false) {
    def matches(c: Char): Boolean = any || chars(c)
  }

  /** Expand a character-class body with rlike semantics: `a-z` ranges
    * expand inclusively; `-` as the FIRST or LAST char is a literal
    * (the regex convention). A descending range like `z-a` is rejected
    * rather than silently matching nothing — fail-fast like the
    * planner's unsupported-SQL contract.
    */
  private[streaming] def classChars(body: String, pattern: String): Set[Char] = {
    val out = Set.newBuilder[Char]
    var i   = 0
    while (i < body.length) {
      if (i + 2 < body.length && body.charAt(i + 1) == '-') {
        val (lo, hi) = (body.charAt(i), body.charAt(i + 2))
        require(lo <= hi, s"descending range '$lo-$hi' in CEP pattern '$pattern'")
        (lo to hi).foreach(out += _)
        i += 3
      } else {
        out += body.charAt(i)
        i += 1
      }
    }
    out.result()
  }

  /** Compile `s[vc]*p`-style patterns into the token vector: literal
    * chars, `[abc]` / `[a-z]` classes (ranges expand, `-` first/last is
    * literal), `.` wildcard; postfix `*` (zero-or-more), `+`
    * (one-or-more, desugared to `X X*`), `?` (zero-or-one).
    */
  def compile(pattern: String): Vector[Tok] = {
    val toks = Vector.newBuilder[Tok]
    var i    = 0
    while (i < pattern.length) {
      val (chars, any, next) = pattern.charAt(i) match {
        case '[' =>
          val close = pattern.indexOf(']', i)
          require(close > i, s"unterminated class in CEP pattern '$pattern'")
          (classChars(pattern.substring(i + 1, close), pattern), false, close + 1)
        case '.' => (Set.empty[Char], true, i + 1)
        case c => (Set(c), false, i + 1)
      }
      val quant = if (next < pattern.length) pattern.charAt(next) else ' '
      quant match {
        case '*' => toks += Tok(chars, star = true, any = any); i = next + 1
        case '+' => // X+ = X X*
          toks += Tok(chars, star = false, any = any)
          toks += Tok(chars, star = true, any = any)
          i = next + 1
        case '?' => toks += Tok(chars, star = false, opt = true, any = any); i = next + 1
        case _   => toks += Tok(chars, star = false, any = any); i = next
      }
    }
    val out = toks.result()
    require(out.length < 63, s"CEP pattern too long (${out.length} tokens)")
    out
  }

  /** ε-closure: from a starred or optional token's position you may
    * already be at the next one without consuming.
    */
  def closure(mask: Long, toks: Vector[Tok]): Long = {
    var m       = mask
    var changed = true
    while (changed) {
      changed = false
      var p = 0
      while (p < toks.length) {
        if ((m & (1L << p)) != 0L && (toks(p).star || toks(p).opt) && (m & (1L << (p + 1))) == 0L) {
          m |= 1L << (p + 1)
          changed = true
        }
        p += 1
      }
    }
    m
  }

  /** Consume one char: re-inject start (unanchored), advance matching
    * tokens (starred ones loop), close.
    */
  def step(mask: Long, c: Char, toks: Vector[Tok]): Long = {
    val from = closure(mask | 1L, toks)
    var out  = 0L
    var p    = 0
    while (p < toks.length) {
      if ((from & (1L << p)) != 0L && toks(p).matches(c))
        out |= 1L << (if (toks(p).star) p else p + 1)
      p += 1
    }
    closure(out | 1L, toks)
  }

  def accepts(mask: Long, toks: Vector[Tok]): Boolean =
    (closure(mask, toks) & (1L << toks.length)) != 0L

  /** The live pattern view: one status row per touched key per batch. */
  def matches(events: Dataset[TypedEvent], pattern: String): Dataset[CepStatus] = {
    implicit val keyEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[CepStatus]
    events
      .groupByKey(_.key)
      .transformWithState(new CepProcessor(pattern), TimeMode.None(), OutputMode.Update())
  }

  /** The WATERMARK-ORDERED variant (the interval-join discipline applied
    * to CEP): events buffer per key until the watermark passes their
    * event time, then fold into the NFA in `(ts, event_id)` order — so
    * the live answer equals batch q39's full-history sort even on feeds
    * where arrival order and event-time order diverge across
    * micro-batches, the one divergence [[matches]]' arrival-order
    * contract admits. The trade: emissions wait out the watermark delay
    * (confirmation latency = slack), buffered state is
    * O(events within slack) per key, and an event later than the slack
    * is dropped by Spark's own stateful-operator late-row filter — the
    * standard watermark contract, not a new one.
    */
  def matchesOrdered(events: Dataset[TypedEvent], pattern: String,
      watermarkDelay: String = "10 minutes"): Dataset[CepStatus] = {
    implicit val keyEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[CepStatus]
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .transformWithState(new CepOrderedProcessor(pattern), TimeMode.EventTime(), OutputMode.Update())
  }
}

/** The per-key NFA fold (see [[CepStream]]). The pattern ships as its
  * source string and compiles once per executor instance — tokens are
  * derived state, not serialized.
  */
class CepProcessor(pattern: String) extends StatefulProcessor[Long, TypedEvent, CepStatus] {
  import CepStream._

  @transient private var state: ValueState[CepState] = _
  @transient private lazy val toks: Vector[Tok]      = compile(pattern)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState("cep", Encoders.product[CepState], TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[TypedEvent],
      timers: TimerValues): Iterator[CepStatus] = {
    val ordered = rows.toSeq.sortBy(e => (CdcMaterializer.micros(e.ts), e.eventId))
    var s = if (state.exists()) state.get()
            else CepState(closure(1L, toks), matched = false, -1L, -1L, 0L)
    ordered.foreach { e =>
      e.eventType.headOption.foreach { c =>
        val next    = step(s.mask, c, toks)
        val nowAcc  = accepts(next, toks)
        val tsu     = CdcMaterializer.micros(e.ts)
        s =
          if (nowAcc && !s.matched) CepState(next, matched = true, tsu, e.eventId, s.nEvents + 1)
          else s.copy(mask = next, nEvents = s.nEvents + 1)
      }
    }
    if (ordered.isEmpty) Iterator.empty
    else {
      state.update(s)
      Iterator.single(CepStatus(key, s.matched, s.matchedAtUs, s.matchedAtEvent, s.nEvents))
    }
  }
}

/** The watermark-ordered per-key fold (see [[CepStream.matchesOrdered]]):
  * arrivals buffer in a ListState; the CONFIRMED prefix — events whose
  * time the watermark has passed — folds into the NFA in `(ts, event_id)`
  * order, on arrival batches and on event-time timers (a key with
  * buffered events but no new arrivals still finalizes when the
  * watermark advances). Spark's stateful late-row filter drops events
  * older than the watermark before they reach this operator, so the
  * buffer never sees an event older than anything already folded.
  */
class CepOrderedProcessor(pattern: String) extends StatefulProcessor[Long, TypedEvent, CepStatus] {
  import CepStream._

  @transient private var state: ValueState[CepState]  = _
  @transient private var buf: ListState[TypedEvent]   = _
  @transient private lazy val toks: Vector[Tok]       = compile(pattern)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    state = getHandle.getValueState("cep", Encoders.product[CepState], TTLConfig.NONE)
    buf   = getHandle.getListState("buf", Encoders.product[TypedEvent], TTLConfig.NONE)
  }

  /** Fold every buffered event with ts ≤ watermark; re-arm a timer for
    * the earliest still-pending event. Emits one status row when
    * anything was confirmed.
    */
  private def finalizeUpTo(key: Long, wmMs: Long): Iterator[CepStatus] = {
    val pending      = buf.get().toSeq
    val (ripe, rest) = pending.partition(e => CdcMaterializer.micros(e.ts) <= wmMs * 1000L)
    if (rest.nonEmpty)
      getHandle.registerTimer(rest.map(e => CdcMaterializer.micros(e.ts) / 1000L).min)
    if (ripe.isEmpty) Iterator.empty
    else {
      var s = if (state.exists()) state.get()
              else CepState(closure(1L, toks), matched = false, -1L, -1L, 0L)
      ripe.sortBy(e => (CdcMaterializer.micros(e.ts), e.eventId)).foreach { e =>
        e.eventType.headOption.foreach { c =>
          val next   = step(s.mask, c, toks)
          val nowAcc = accepts(next, toks)
          val tsu    = CdcMaterializer.micros(e.ts)
          s =
            if (nowAcc && !s.matched) CepState(next, matched = true, tsu, e.eventId, s.nEvents + 1)
            else s.copy(mask = next, nEvents = s.nEvents + 1)
        }
      }
      state.update(s)
      buf.clear()
      if (rest.nonEmpty) buf.put(rest.toArray)
      Iterator.single(CepStatus(key, s.matched, s.matchedAtUs, s.matchedAtEvent, s.nEvents))
    }
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[TypedEvent],
      timers: TimerValues): Iterator[CepStatus] = {
    val arrivals = rows.toArray
    if (arrivals.nonEmpty) buf.appendList(arrivals)
    finalizeUpTo(key, timers.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(
      key: Long,
      timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[CepStatus] =
    finalizeUpTo(key, timers.getCurrentWatermarkInMs())
}
