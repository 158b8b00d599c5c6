package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Changefeed / temporal operators, batch-verifiable analogues
  * (SURVEY.md §2.2, q21-q30). The `events` table plays the changefeed:
  * `event_id` is the change LSN, `user_id` the key, `ts` the change time.
  *
  * Time is compared in epoch MICROSECONDS on both sides of the oracle
  * boundary (`unix_micros` here, `epoch_us` in DuckDB) so Spark's ns->us
  * truncation of the source timestamps can never flip an ordering.
  */
object Temporal {

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).withColumn("tsu", unix_micros(col("ts")))

  /** q114: DAU / trailing-WAU stickiness — the canonical product-health
    * ratio (what fraction of the week's actives showed up today): per
    * active day, exact distinct daily actives and exact distinct
    * actives over the trailing 7 days, emitted as the integer pair
    * (the ratio is the consumer's division — no float crosses the
    * hash). The trailing window decomposes as a BOUNDED fan-out, never
    * a 7-day self-join: each (user, day) distinct row casts one vote
    * into each of the 7 window-end days it belongs to (explode of a
    * 7-element literal sequence — ×7 map on the per-day-deduped rows,
    * which are already tiny next to the event scan), then one
    * count-distinct per window end. Window ends are reported only for
    * days that themselves had activity.
    */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables
      .events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
    val wau = ud
      .select(col("user_id"), col("day"), explode(sequence(lit(0), lit(6))).as("o"))
      .select(col("user_id"), date_add(col("day"), col("o")).as("wday"))
      .groupBy("wday")
      .agg(countDistinct(col("user_id")).as("wau7"))
    dau
      .join(wau, col("day") === col("wday"))
      // dates leave as strings (the repo-wide gate convention: a DATE
      // column's pandas dtype differs between the two engines' readers)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("dau"), col("wau7"))
  }

  /** q21: CDC materialization — last-writer-wins latest state per key.
    * Batch analogue of the streaming upsert fold in
    * [[graft.streaming.CdcMaterializer]].
    */
  def cdcLatestState(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tsu").desc, col("event_id").desc)
    events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), round(col("value"), 2).as("value"), col("tsu").as("ts_us"))
  }

  /** q22: change detection — per-key delta versus the previous change. */
  def cdcDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))
    events(spark, dir)
      .select(col("event_id"), col("user_id"), round(col("value") - lag("value", 1).over(w), 2).as("delta"))
  }

  /** q23: tumbling window aggregate (1 hour). */
  def tumblingHour(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))

  /** q24: sliding window aggregate (2h window, 1h slide) via the native
    * `window()` generator — each event lands in exactly two windows.
    */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(window(col("ts"), "2 hours", "1 hour").as("w"), col("value"))
      .groupBy("w")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"), col("n"), col("total"))

  /** q83: OHLC candlesticks — open/high/low/close per (key, hour), the
    * canonical tick-feed downsample every time-series store demos.
    * High/low are plain min/max; open/close take the first/last tick
    * under the deterministic (tsu, event_id) order via two row_number
    * windows that SHARE the aggregate's partitioning — the plan pays
    * one exchange on (user_id, hour), two within-group sorts ride it,
    * and the final aggregate reuses the same partitioning. No sums at
    * all, so there is no float-order question — min/max/first/last are
    * order-insensitive or pinned by the explicit tick order.
    */
  def ohlc(spark: SparkSession, dir: String): DataFrame = {
    val withHour = events(spark, dir)
      .select(
        col("user_id"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("tsu"), col("event_id"), col("value"))
    val wAsc  = Window.partitionBy("user_id", "hour_start").orderBy(col("tsu"), col("event_id"))
    val wDesc = Window.partitionBy("user_id", "hour_start").orderBy(col("tsu").desc, col("event_id").desc)
    withHour
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy("user_id", "hour_start")
      .agg(
        round(max(when(col("rn_a") === 1, col("value"))), 2).as("open"),
        round(max("value"), 2).as("high"),
        round(min("value"), 2).as("low"),
        round(max(when(col("rn_d") === 1, col("value"))), 2).as("close"),
        count(lit(1)).as("n_ticks"))
  }

  /** q82: time-weighted average (TWAP) per key over IRREGULAR samples —
    * the changefeed-native mean: each observation holds until the next
    * one, so the average integrates value·holding-time instead of
    * counting rows (a price that sat unchanged for an hour weighs 60×
    * one that lasted a minute — row-mean q02-style aggregates get this
    * wrong on any irregular feed). One lead() under the per-key window
    * (bounded partitions, the q22 shape), then a map-side-combined
    * sum(value·dt)/sum(dt); dt stays integral µs and value is rounded
    * once at emission, so both engines integrate identical operands.
    * Keys whose feed has a single sample carry no holding interval and
    * drop out (their TWAP is undefined) — on both sides. Likewise keys
    * whose every interval is zero-width (all ticks share one
    * microsecond): span 0 makes the integral undefined, and the two
    * engines disagree on 0/0 (Spark non-ANSI divide → NULL, DuckDB
    * double divide → NaN), so such keys are filtered on BOTH sides
    * (`HAVING sum(dt_us) > 0` in the oracle).
    */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("tsu"), col("value"))
      .withColumn("dt_us", lead("tsu", 1).over(w) - col("tsu"))
      .filter(col("dt_us").isNotNull)
      .groupBy("user_id")
      // value·dt in DECIMAL (q12's lesson): exact, associative sums that
      // no partitioning can drift; the one double op is the final divide
      // of bit-identical operands
      .agg(
        round(
          sum(col("value").cast("decimal(18,6)") * col("dt_us")).cast("double")
            / sum(col("dt_us")).cast("double"),
          4).as("twap"),
        sum("dt_us").as("span_us"),
        count(lit(1)).as("n_intervals"))
      .filter(col("span_us") > 0)
  }

  /** q81: EXACT distinct users per SLIDING window (6h window, 1h slide)
    * — the pattern approximate live views (#116's HLL) trade away:
    * sliding windows overlap, so per-window distincts can't be derived
    * from per-hour distincts (users spanning hours would double-count).
    * The `window()` generator replicates each event into its
    * window/slide = 6 covering windows — a bounded, declared
    * amplification — and ONE distinct aggregate per window does the
    * rest (Spark plans count-distinct two-phase: partial (window, user)
    * dedup map-side, then the count). The exact form is the oracle
    * anchor for #116's sketches; at 100 TB you run this for daily
    * reconciliation and the HLL view for the live dashboard.
    */
  def slidingDistinct(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "6 hours", "1 hour").as("w"))
      .agg(countDistinct("user_id").as("distinct_users"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("distinct_users"))

  /** q25: gap-based sessionization (30 min inactivity gap), the classic
    * new-session-flag + running-sum formulation — one shuffle on the key.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    events(spark, dir)
      .withColumn("prev", lag("tsu", 1).over(order))
      .withColumn("is_new", when(col("prev").isNull || col("tsu") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum("is_new").over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min("tsu").as("session_start"), max("tsu").as("session_end"))
  }

  /** q99: event-time LATENESS profile — the number that sizes a
    * watermark. Per event, lateness = how far its event time sits
    * behind the maximum event time already ARRIVED (arrival order =
    * event_id, the feed's LSN); the per-type percentiles and max of
    * that lateness are exactly what `withWatermark(delay)` must cover,
    * measured instead of guessed. The global running max is the same
    * SinglePartition trap as q96's running sum, broken the same way
    * (banded prefix + broadcast carry) with one extra wrinkle: band
    * width derives from max(arrival)/4096 so the band COUNT is capped
    * at 4096 at any corpus size (an id-range band list, unlike q96's
    * calendar hours, would otherwise grow linearly with the feed).
    * Carry-in = max over strictly-earlier bands' maxima (the
    * triangular broadcast join, q86 discipline).
    *
    * The synthetic feed arrives PERFECTLY ordered (event_id order is
    * ts order at every SF — measured, lateness identically 0), which
    * would make the profile vacuous; arrival therefore simulates
    * bounded network jitter by REVERSING each 10-LSN block
    * (deterministic arithmetic both engines share). On a real feed,
    * arrival order is the raw ingest LSN and this transform drops out.
    */
  def latenessProfile(spark: SparkSession, dir: String, maxBands: Int = 4096): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("event_type"), col("tsu"))
      .withColumn("arr", expr("(event_id div 10) * 10 + (9 - pmod(event_id, 10))"))
    val width = ev.agg(max("arr")).head().getLong(0) / maxBands + 1
    val banded = ev.withColumn("band", expr(s"arr div $width")).localCheckpoint(false)
    val bandMax = banded.groupBy("band").agg(max("tsu").as("bmax"))
    val offsets = bandMax
      .as("a")
      .join(broadcast(bandMax.as("b")), col("b.band") < col("a.band"), "left")
      .groupBy(col("a.band").as("band"))
      .agg(max(col("b.bmax")).as("prior_max"))
    val w = Window.partitionBy("band").orderBy("arr")
      .rowsBetween(Window.unboundedPreceding, -1)
    banded
      .join(broadcast(offsets), Seq("band"))
      .withColumn("seen_max",
        greatest(coalesce(max("tsu").over(w), lit(Long.MinValue)),
          coalesce(col("prior_max"), lit(Long.MinValue))))
      .withColumn("late_us",
        when(col("seen_max") === Long.MinValue, 0L)
          .otherwise(greatest(lit(0L), col("seen_max") - col("tsu"))))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        round(expr("percentile(late_us, 0.5)"), 4).as("p50_late_us"),
        round(expr("percentile(late_us, 0.95)"), 4).as("p95_late_us"),
        max("late_us").as("max_late_us"))
  }

  /** q98: session ATTRIBUTION (first-touch × last-touch) — the
    * marketing-analytics fold over q25's sessions: every purchase
    * credits (a) the event type that OPENED its session (first-touch)
    * and (b) the nearest preceding non-purchase event in-session
    * (last-touch; NULL when the purchase opened the session cold).
    * One q25-shaped shuffle: the session ids derive per user exactly as
    * q25 (gap > 30 min), both touches are window functions over the
    * SAME (user, session) partition — first_value over the full
    * partition, last(non-purchase, ignoreNulls) over the strict
    * prefix — then one tiny (first, last) count aggregate. Scan-shaped
    * at 100 TB: no state beyond the per-user sort q25 already pays.
    */
  def sessionAttribution(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    val sessioned = events(spark, dir)
      .withColumn("prev", lag("tsu", 1).over(order))
      .withColumn("is_new", when(col("prev").isNull || col("tsu") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum("is_new").over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val inSess = Window.partitionBy("user_id", "session_id").orderBy(col("tsu"), col("event_id"))
    sessioned
      .withColumn("first_touch",
        first("event_type").over(inSess.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("last_touch",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(inSess.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("event_type") === "purchase")
      .groupBy("first_touch", "last_touch")
      .agg(count(lit(1)).as("n_purchases"))
  }

  /** q96: GLOBAL peak concurrency per hour — how many q25 sessions were
    * simultaneously open, the capacity-planning sweep every ops team
    * runs on a session table. The textbook form is a single global sort
    * of ±1 endpoint deltas with a running sum — which is a
    * SinglePartition plan. This one is the scalable decomposition (the
    * q86 banded-prefix-sum discipline, zero SinglePartition): net delta
    * per distinct timestamp (one combine), hour bands carry a
    * within-band running sum, and the cross-band carry is the broadcast
    * prefix of band TOTALS (bounded: one row per hour of history, ~90k
    * rows for a decade — broadcastable at any corpus size). Peak within
    * an hour considers the carry-in too (an all-departures hour peaks
    * at its opening concurrency, BEFORE its first delta). Sessions are
    * active on [start, end] inclusive, so the −1 lands at end+1 and a
    * zero-length session still counts at its instant.
    */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val sess = sessionize(spark, dir)
      .select(col("session_start").as("st"), col("session_end").as("en"))
    val deltas = sess.select(col("st").as("t"), lit(1L).as("d"))
      .unionByName(sess.select((col("en") + 1L).as("t"), lit(-1L).as("d")))
    // derived ONCE (lazy localCheckpoint, the q80/q84 idiom): both the
    // band-total carry and the final join read this — without the cut,
    // Catalyst re-derives the whole sessionize pipeline for each
    val net = deltas
      .groupBy("t")
      .agg(sum("d").as("net"))
      .withColumn("band", expr(s"t div $hourUs"))
      .localCheckpoint(false)
    val totals = net.groupBy("band").agg(sum("net").as("tot"))
    // carry-in = Σ net of STRICTLY earlier bands (concurrency standing
    // when the hour opens)
    val offsets = totals
      .as("a")
      .join(broadcast(totals.as("b")), col("b.band") < col("a.band"), "left")
      .groupBy(col("a.band").as("band"))
      .agg(sum(col("b.tot")).as("offset"))
    val w = Window.partitionBy("band").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    net
      .join(broadcast(offsets), Seq("band"))
      .withColumn("off", coalesce(col("offset"), lit(0L)))
      .withColumn("conc", col("off") + sum("net").over(w))
      .groupBy("band")
      .agg(
        greatest(first("off"), max("conc")).as("peak_concurrent"),
        count(lit(1)).as("n_deltas"))
      .select((col("band") * hourUs).as("hour_us"), col("peak_concurrent"), col("n_deltas"))
  }

  /** q26: as-of join — each purchase event matched to the customer's latest
    * order at-or-before the event time (ties on date -> max orderkey).
    *
    * Spark-first formulation: ONE shuffle. Union both sides tagged with a
    * kind bit, sort within key by (time, kind, orderkey), and carry the most
    * recent order forward with `last(ignoreNulls)`. No per-row probe, no
    * O(n*m) key blowup — this survives 100 TB because it is just a
    * sort-merge pass per key.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey").as("k"),
        // o_orderdate arrives as TIMESTAMP_NTZ; with a UTC session the cast
        // to TIMESTAMP is an identity re-tag, matching DuckDB's naive epoch_us.
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"),
        lit(0).as("kind"),
        col("o_orderkey").as("ord_key"),
        lit(null).cast("long").as("event_id"),
      )
    val ev = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("k"), col("tsu").as("t"), lit(1).as("kind"), lit(null).cast("long").as("ord_key"), col("event_id"))
    val w = Window
      .partitionBy("k")
      .orderBy(col("t"), col("kind"), col("ord_key").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord
      .unionByName(ev)
      .withColumn("asof_orderkey", last("ord_key", ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("asof_orderkey"))
  }

  /** q97: as-of join with TOLERANCE (pandas `merge_asof(tolerance=…)` /
    * kdb `wj` semantics) — each purchase event matched LEFT to the
    * customer's latest order at-or-before its time, but only when that
    * order is within 90 days; staler matches (and no-match) surface as
    * NULL, because an enrichment older than the business window is
    * worse than none. Same one-shuffle tagged-union sort-merge pass as
    * q26 — the tolerance is a pure post-predicate on the carried
    * (key, time) pair, so the 100 TB shape is unchanged; `lag_days`
    * rides exact integer microsecond division (no float crosses rows).
    */
  def asofTolerance(spark: SparkSession, dir: String, tolDays: Int = 90): DataFrame = {
    val tolUs = tolDays.toLong * 86400L * 1000000L
    val ord = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey").as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"),
        lit(0).as("kind"),
        col("o_orderkey").as("ord_key"),
        lit(null).cast("long").as("event_id"))
    val ev = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("k"), col("tsu").as("t"), lit(1).as("kind"),
        lit(null).cast("long").as("ord_key"), col("event_id"))
    val w = Window
      .partitionBy("k")
      .orderBy(col("t"), col("kind"), col("ord_key").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inTol = col("a_t").isNotNull && col("t") - col("a_t") <= tolUs
    ord
      .unionByName(ev)
      .withColumn("a_key", last("ord_key", ignoreNulls = true).over(w))
      .withColumn("a_t", last(when(col("kind") === 0, col("t")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(
        col("event_id"),
        when(inTol, col("a_key")).as("asof_orderkey"),
        when(inTol, expr("(t - a_t) div 86400000000")).as("lag_days"))
  }

  /** q89: versioned as-of ENRICHMENT — each event carries the payload of
    * the customer's latest order VERSION at-or-before its time (version
    * table = orders deduped to one row per (customer, date), so the
    * match is fully deterministic — the batch twin of the planner's
    * ASOF JOIN #211, and the oracle is DuckDB's native ASOF JOIN).
    * Same one-shuffle union form as q26: versions and events interleave
    * per key in (time, kind) order and `last(ignoreNulls)` carries the
    * current version forward — a sort-merge pass per key, no per-row
    * probe, which is why it survives 100 TB.
    */
  def asofEnrich(spark: SparkSession, dir: String): DataFrame = {
    val versions = Tables
      .orders(spark, dir)
      .groupBy(
        col("o_custkey").as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
      .agg(max("o_totalprice").as("price"))
      .select(col("k"), col("t"), lit(0).as("kind"), col("price"),
        lit(null).cast("long").as("event_id"))
    val ev = events(spark, dir)
      .select(col("user_id").as("k"), col("tsu").as("t"), lit(1).as("kind"),
        lit(null).cast("double").as("price"), col("event_id"))
    val w = Window
      .partitionBy("k")
      .orderBy(col("t"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versions
      .unionByName(ev)
      .withColumn("v_ts_us", last(when(col("kind") === 0, col("t")), ignoreNulls = true).over(w))
      .withColumn("v_price", last(when(col("kind") === 0, col("price")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("v_ts_us").isNotNull)
      .select(col("event_id"), col("v_ts_us"), col("v_price"))
  }

  /** q27: changefeed compaction — net effect per key (first/last/delta). */
  def feedCompaction(spark: SparkSession, dir: String): DataFrame = {
    val asc  = Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))
    val desc = Window.partitionBy("user_id").orderBy(col("tsu").desc, col("event_id").desc)
    events(spark, dir)
      .withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_changes"),
        round(sum(when(col("rn_a") === 1, col("value"))), 2).as("first_value"),
        round(sum(when(col("rn_d") === 1, col("value"))), 2).as("last_value"),
        round(
          sum(when(col("rn_d") === 1, col("value"))) - sum(when(col("rn_a") === 1, col("value"))),
          2).as("net_delta"),
      )
  }

  /** q28: funnel — purchases strictly after the user's first signup. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val signups = ev
      .filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min("tsu").as("signup_ts"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("tsu").as("p_ts"), col("event_id").as("p_event"))
    signups
      .join(purchases, col("p_user") === col("user_id") && col("p_ts") > col("signup_ts"), "left")
      .groupBy("user_id", "signup_ts")
      .agg(count(col("p_event")).as("purchases_after"))
  }

  /** q29: JSON payload extraction from the change record. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))

  /** q38: time-decayed aggregate — per-user value sum with a 7-day
    * exponential half-life anchored at the user's latest event. The decay
    * argument is an exact integer ratio on both engines, so libm noise in
    * exp() is the only divergence (~1 ulp, absorbed by the rounding).
    */
  def decayedSum(spark: SparkSession, dir: String): DataFrame = {
    val tauUs = 7L * 24 * 3600 * 1000 * 1000
    val mx    = max("tsu").over(Window.partitionBy("user_id"))
    events(spark, dir)
      .withColumn("mx", mx)
      .groupBy("user_id")
      .agg(round(sum(col("value") * exp(-(col("mx") - col("tsu")).cast("double") / tauUs.toDouble)), 4)
        .as("decayed"))
  }

  /** q39: event-sequence pattern matching (MATCH_RECOGNIZE-class) — per
    * user, the time-ordered string of event initials, matched against
    * signup -> (view|click)* -> purchase. Sequences are assembled by
    * sorting (ts, event_id, initial) structs so ordering is deterministic
    * on both engines.
    */
  def eventPattern(spark: SparkSession, dir: String): DataFrame = {
    val seq = concat_ws(
      "",
      transform(
        array_sort(collect_list(struct(col("tsu"), col("event_id"), substring(col("event_type"), 1, 1).as("c")))),
        x => x.getField("c")))
    events(spark, dir)
      .groupBy("user_id")
      .agg(seq.as("seq"))
      .select(col("user_id"), col("seq"), col("seq").rlike("s[vc]*p").as("has_funnel"))
  }

  /** q40: versioned keyed state (SCD2) with an as-of lookup. Every change
    * opens a version valid over `[valid_from_us, valid_to_us)` for its
    * key; the next change (by the `(ts, event_id)` commit order) closes
    * it via `lead()` — one shuffle, the per-key window sort. The lookup
    * then reads the state of ALL keys as of the corpus-midpoint
    * timestamp, computed inside the query so the oracle derives the
    * identical instant at any scale. At 100 TB the version table is the
    * thing you'd persist (partitioned by key range, min/max-pruned on
    * the validity columns); the lookup itself is a scan-side filter.
    */
  def versionedState(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("valid_from_us"), col("event_id"))
    val versions = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("tsu").as("valid_from_us"))
      .withColumn("valid_to_us", lead("valid_from_us", 1).over(w))
    val asOf = events(spark, dir).agg(expr("(min(tsu) + max(tsu)) DIV 2").as("as_of_us"))
    versions
      .crossJoin(broadcast(asOf))
      .filter(col("valid_from_us") <= col("as_of_us")
        && (col("valid_to_us").isNull || col("valid_to_us") > col("as_of_us")))
      .select(col("user_id"), col("event_type"), round(col("value"), 2).as("value"),
        col("valid_from_us"), col("valid_to_us"), col("as_of_us"))
  }

  /** q30: time-bucketed top-K contributors (rank on the rounded total so the
    * oracle ranks identically).
    */
  def hourlyTopUsers(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("user_id"))
      .agg(round(sum("value"), 2).as("total"))
    val w = Window.partitionBy("hour_start").orderBy(col("total").desc, col("user_id"))
    hourly.withColumn("rn", row_number().over(w).cast("long")).filter(col("rn") <= 3)
  }

  /** q51: per-key anomaly detection — events whose value sits more than
    * `sigmas` standard deviations from the key's own mean (the alerting
    * query a changefeed monitor runs). One map-side-combined aggregate
    * per key joined back to the fact scan; z is rounded at 2 decimals so
    * both engines agree despite their different (numerically stable)
    * variance recurrences.
    */
  def anomalies(spark: SparkSession, dir: String, sigmas: Double = 3.0): DataFrame = {
    val stats = events(spark, dir)
      .groupBy("user_id")
      .agg(avg("value").as("mu"), stddev_samp(col("value")).as("sd"), count(lit(1)).as("n"))
      .filter(col("n") >= 10 && col("sd") > 0)
    events(spark, dir)
      .join(stats, Seq("user_id"))
      .withColumn("z", (col("value") - col("mu")) / col("sd"))
      .filter(abs(col("z")) > sigmas)
      .select(col("user_id"), col("event_id"), round(col("value"), 2).as("value"), round(col("z"), 2).as("z"))
  }

  /** q63: MERGE INTO — apply a changefeed delta batch onto a snapshot.
    * The snapshot is the q21-style latest state per key at the corpus
    * midpoint; the delta batch is everything after, folded to its own
    * latest change per key. The merge is ONE full-outer join on the key:
    * a key only in the snapshot keeps its row (`keep`), a key only in the
    * delta inserts (`insert`), a key in both takes the delta (`update`),
    * and a delta whose latest op is `error` acts as a DELETE — the key
    * drops from the merged state entirely.
    *
    * At 100 TB this is the nightly-compaction shape: both sides are
    * pre-folded to one row per key (map-side-combined latest-state
    * windows), so the merge join moves state-sized data, never
    * feed-sized; with the snapshot bucketed by key the join is
    * shuffle-free on that side.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ev  = events(spark, dir)
    val mid = ev.agg(expr("(min(tsu) + max(tsu)) DIV 2").as("mid_us"))
    val w   = Window.partitionBy("user_id").orderBy(col("tsu").desc, col("event_id").desc)
    def latest(df: DataFrame) =
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val tagged = ev.crossJoin(broadcast(mid))
    val snap = latest(tagged.filter(col("tsu") <= col("mid_us")))
      .select(col("user_id"), col("event_type").as("s_type"), col("value").as("s_value"), col("tsu").as("s_ts"))
    val delta = latest(tagged.filter(col("tsu") > col("mid_us")))
      .select(col("user_id"), col("event_type").as("d_type"), col("value").as("d_value"), col("tsu").as("d_ts"))
    snap
      .join(delta, Seq("user_id"), "full_outer")
      .filter(col("d_type").isNull || col("d_type") =!= "error")
      .select(
        col("user_id"),
        coalesce(col("d_type"), col("s_type")).as("event_type"),
        round(coalesce(col("d_value"), col("s_value")), 2).as("value"),
        coalesce(col("d_ts"), col("s_ts")).as("ts_us"),
        when(col("d_type").isNull, "keep")
          .when(col("s_type").isNull, "insert")
          .otherwise("update")
          .as("action"),
      )
  }

  /** q64: gaps-and-islands — longest run of CONSECUTIVE active days per
    * user. Classic island id: for distinct (user, day) rows ordered by
    * day, `day - row_number()` is constant within a consecutive run.
    * Two shuffles (distinct, then the per-user window); the window sorts
    * one row per active day, never raw events.
    */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    events(spark, dir)
      .select(col("user_id"), expr("tsu div 86400000000").as("day"))
      .distinct()
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(
        max("len").as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum("len").as("active_days"),
      )
  }

  /** q65: interval coalescing — merge overlapping validity spans into
    * maximal islands. Each order opens a 30-day span
    * `[orderdate, orderdate + 30)`; per customer, a span starts a new
    * island iff it begins strictly after the running max end of all
    * earlier spans (the exclusive-preceding `max(e)` window). One shuffle
    * (the per-key window); island membership then folds with an ordinary
    * running sum, and the per-customer rollup reuses the same partitioning.
    */
  def coalesceIntervals(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("k").orderBy(col("s"), col("e"), col("okey"))
    Tables
      .orders(spark, dir)
      .select(
        col("o_custkey").as("k"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("s"),
        col("o_orderkey").as("okey"),
      )
      .withColumn("e", col("s") + 30)
      .withColumn("pm", max("e").over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island", when(col("pm").isNull || col("s") > col("pm"), 1L).otherwise(0L))
      .withColumn("island", sum("new_island").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("island"))
      .agg(min("s").as("st"), max("e").as("en"), count(lit(1)).as("n_orders"))
      .groupBy(col("k").as("custkey"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("en") - col("st")).as("covered_days"),
        sum("n_orders").as("n_orders"),
      )
  }

  /** q67: conversion-delay distribution — time from a user's first signup
    * to their first subsequent purchase, quantiled per signup-day cohort
    * (the time-to-convert curve product analytics reads daily). Delays
    * stay in integral MICROSECONDS end-to-end and the quantiles are
    * DISCRETE — value at rank ceil(p·n), pure integer rank arithmetic —
    * because interpolating engines disagree in the low bits (the
    * interpolation fraction 0.9·(n−1) accumulates float error
    * differently per engine, visible at 1e11-µs magnitudes). Two keyed
    * aggregates + one equi-join; the rank window sorts one row per
    * converted user per cohort.
    */
  def conversionDelay(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val signups = ev
      .filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min("tsu").as("s_ts"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu").as("p_ts"))
    val delays = signups
      .join(purchases, Seq("user_id"))
      .filter(col("p_ts") > col("s_ts"))
      .groupBy("user_id", "s_ts")
      .agg(min("p_ts").as("first_p"))
      .withColumn("cohort_day", expr("s_ts div 86400000000"))
      .withColumn("delay_us", col("first_p") - col("s_ts"))
    val w = Window.partitionBy("cohort_day").orderBy(col("delay_us"), col("user_id"))
    delays
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("cohort_day")))
      .groupBy("cohort_day")
      .agg(
        max("n").as("n_converted"),
        // ceil(n/2) and ceil(9n/10) in pure integer arithmetic
        max(when(col("rn") === expr("(n + 1) div 2"), col("delay_us"))).as("p50_delay_us"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("delay_us"))).as("p90_delay_us"),
      )
  }

  /** q70: session-scoped funnel conversion — within each q25-style
    * session (30-min gap), did a purchase land strictly after the
    * session's first view? "Any purchase after the first view" folds to
    * `max(purchase ts) > min(view ts)` — one aggregate per session, no
    * per-event pattern state — and the per-user rollup reuses the same
    * user partitioning. The session-conversion-rate table is how product
    * analytics separates browse sessions from buying sessions.
    */
  def sessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    val sess = events(spark, dir)
      .withColumn("prev", lag("tsu", 1).over(order))
      .withColumn("is_new", when(col("prev").isNull || col("tsu") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum("is_new").over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        min(when(col("event_type") === "view", col("tsu"))).as("first_view"),
        max(when(col("event_type") === "purchase", col("tsu"))).as("last_purchase"),
      )
      .withColumn("converted",
        when(col("first_view").isNotNull && col("last_purchase") > col("first_view"), 1L).otherwise(0L))
    sess
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum("converted").as("n_converting"),
        round(sum("converted").cast("double") / count(lit(1)), 4).as("conv_share"),
      )
  }

  /** q52: cohort retention — users bucketed by first-activity day, counted
    * distinct per (cohort day, day offset): the canonical product-analytics
    * matrix. Day arithmetic stays in integral epoch days end-to-end; two
    * shuffles total (first-day per user, then the cohort-cell count).
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    // integral `div`, not floor(double /): epoch-us values sit near 2^50,
    // where a double quotient can misround exactly at day boundaries
    val byDay = events(spark, dir)
      .select(col("user_id"), expr("tsu div 86400000000").as("day"))
      .distinct()
    val cohort = byDay.groupBy("user_id").agg(min("day").as("cohort_day"))
    byDay
      .join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** q78: event-transition matrix — the Markov view of the feed: for
    * every (event_type → next event_type) step within a user's stream,
    * the count and the per-source transition probability (the table
    * behind funnel discovery and next-action prediction, where q28/q39
    * check KNOWN patterns). One lead() under the per-user window (the
    * q22 shape — partitions bounded by a user's history), one
    * map-side-combined pair count over a (types×types)-sized key space,
    * and per-source totals re-aggregated from those counts — ~types²
    * rows broadcast back, never a second pass over events.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))
    val steps = events(spark, dir)
      .select(col("user_id"), col("event_type"),
        lead("event_type", 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
    val counts = steps
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("src").agg(sum("n").as("tot"))
    counts
      .join(broadcast(totals), Seq("src"))
      .select(col("src"), col("dst"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("p"))
  }

  /** q88: time-grid gap-fill — resample each key's irregular feed onto a
    * dense hourly grid with last-observation-carried-forward (LOCF), the
    * canonical "as-of state at every tick of the clock" view a changefeed
    * store serves to dashboards and joins feature pipelines against.
    *
    * Shape: per (user, hour) keep the LAST tick under the deterministic
    * (tsu, event_id) order; one per-user lead() finds the next observed
    * hour; each observed hour then EXPANDS to the half-open span
    * [hour, next_hour) via sequence+explode, every grid hour carrying the
    * observed value verbatim (no arithmetic — bit-exact across engines).
    * The last observed hour emits only itself (nothing to carry beyond
    * the feed's horizon; grid ends at the key's own last observation).
    *
    * Scale: the dense grid is NEVER joined or shuffled — both windows
    * ride partitions keyed by user over the SPARSE observed-hour rows
    * (bounded by distinct hours with data, not grid size), and the dense
    * rows exist only as generator output on the scan side. Contrast the
    * textbook form (calendar table LEFT JOIN feed, then a window over the
    * dense grid): that shuffles #keys x #grid-hours rows; this shuffles
    * only observed hours. Span expansion is embarrassingly parallel.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    // r16: last-per-hour via the group-boundary flag of ONE
    // user-partitioned window (order h asc, tsu/event_id desc — the
    // first row of each h-run is that hour's last observation), so the
    // LOCF window below reuses the same exchange instead of paying a
    // second (user_id, h) shuffle of every event row
    val wScan = Window.partitionBy("user_id")
      .orderBy(col("h"), col("tsu").desc, col("event_id").desc)
    val lastPerHour = events(spark, dir)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
        col("tsu"), col("event_id"), col("value"))
      .withColumn("ph", lag("h", 1).over(wScan))
      .filter(col("ph").isNull || col("ph") =!= col("h"))
      .drop("ph")
    val wUser = Window.partitionBy("user_id").orderBy(col("h"))
    lastPerHour
      .withColumn("nh", lead("h", 1).over(wUser))
      .select(col("user_id"), col("value"),
        explode(expr(
          "sequence(h, coalesce(nh - interval 1 hour, h), interval 1 hour)"))
          .as("gh"))
      .select(col("user_id"),
        date_format(col("gh"), "yyyy-MM-dd HH:mm:ss").as("grid_hour"),
        col("value").as("value_locf"))
  }

  /** q141: time-grid LINEAR-interpolation resampling — q88's LOCF sibling
    * (timeseries stores ship both modes: LOCF for state-like series,
    * linear for measurements): each key's irregular feed resampled onto
    * the hourly grid with values interpolated between consecutive
    * observations. Same scale shape as q88 — windows ride the SPARSE
    * observed-hour rows, the dense grid exists only as generator output,
    * nothing grid-sized shuffles.
    *
    * Exactness across engines: the interpolation v + Δ·k/n is integer e4
    * arithmetic, and because Δ can be negative while Spark's DIV
    * truncates toward zero and DuckDB's // floors, the division is
    * offset-shifted positive ((Δ·k + B·n) DIV n − B, B = 10⁹ ≫ |Δ|) so
    * both engines compute the same floor. The last observation emits
    * only itself.
    */
  def gapFillLinear(spark: SparkSession, dir: String): DataFrame = {
    // r16: same one-exchange form as q88 (see gapFill)
    val wScan = Window.partitionBy("user_id")
      .orderBy(col("h"), col("tsu").desc, col("event_id").desc)
    val lastPerHour = events(spark, dir)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
        col("tsu"), col("event_id"),
        round(col("value") * 10000).cast("long").as("v4"))
      .withColumn("ph", lag("h", 1).over(wScan))
      .filter(col("ph").isNull || col("ph") =!= col("h"))
      .drop("ph")
    val wUser = Window.partitionBy("user_id").orderBy(col("h"))
    lastPerHour
      .withColumn("nh", lead("h", 1).over(wUser))
      .withColumn("nv4", lead("v4", 1).over(wUser))
      .select(col("user_id"), col("h"), col("v4"), col("nv4"),
        expr("CAST(coalesce((unix_micros(nh) - unix_micros(h)) DIV 3600000000, 1) AS BIGINT)")
          .as("n"),
        posexplode(expr(
          "sequence(h, coalesce(nh - interval 1 hour, h), interval 1 hour)"))
          .as(Seq("k", "gh")))
      .select(col("user_id"),
        date_format(col("gh"), "yyyy-MM-dd HH:mm:ss").as("grid_hour"),
        when(col("nv4").isNull, col("v4")).otherwise(
          col("v4") + expr(
            "((nv4 - v4) * k + 1000000000 * n) DIV n - 1000000000"))
          .as("value_interp_e4"))
  }

  /** q102: interval-OVERLAP pairs per key — which of a customer's orders
    * were open simultaneously (open period = [o_orderdate, last
    * l_shipdate]; closed-interval overlap, half of Allen's algebra in
    * one predicate). Completes the engine's interval family: q65 merges
    * intervals, q46 joins point→range, q96 sweeps global concurrency —
    * this one enumerates overlapping interval PAIRS.
    *
    * Scale shape: intervals derive from one keyed aggregate over the
    * fact scan (max shipdate per order), then the pair enumeration is a
    * WITHIN-KEY self-join — candidates bounded by orders-per-customer
    * (TPC-H ~10, any retail reality ≤ hundreds), partitioned across the
    * cluster by custkey, never a global O(n²). The `<` on orderkey
    * halves the pairs and dedupes. A keyless variant would need the
    * q46 time-grid bucketing; with a key, the key IS the bucket.
    */
  def orderOverlapPairs(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.orders(spark, dir)
      .join(
        Tables.lineitem(spark, dir).groupBy("l_orderkey")
          .agg(max(unix_micros(col("l_shipdate").cast("timestamp"))).as("close_us")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("open_us"), col("close_us"))
    val a = spans.select(col("o_custkey"), col("o_orderkey").as("k1"),
      col("open_us").as("o1"), col("close_us").as("c1"))
    val b = spans.select(col("o_custkey"), col("o_orderkey").as("k2"),
      col("open_us").as("o2"), col("close_us").as("c2"))
    a.join(b, Seq("o_custkey"))
      .filter(col("k1") < col("k2") && col("o1") <= col("c2") && col("o2") <= col("c1"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_overlap_pairs"),
        // longest shared-open stretch: min(close)-max(open), microseconds
        max(least(col("c1"), col("c2")) - greatest(col("o1"), col("o2")))
          .as("max_overlap_us"))
  }

  /** q131: NEAREST-direction as-of join (pandas `merge_asof(direction=
    * 'nearest')` / kdb `aj` both ways) — q26/q97 are BACKWARD-only; the
    * ops question "was there an error NEAR this purchase?" needs the
    * closest reference event on EITHER side, ties broken backward. Probe
    * = purchase events, reference = the same user's error events,
    * tolerance 24 h.
    *
    * Shape: the q26 union + carry idiom run in BOTH directions over ONE
    * key shuffle — references and probes interleave per user in time
    * order; `last(ignoreNulls)` over the ascending window carries the
    * latest reference ≤ t (backward), the same carry over the DESCENDING
    * window carries the earliest reference ≥ t (forward; references sort
    * before probes at equal t in both traversals, so a distance-0 match
    * is visible both ways and the backward tiebreak takes it). No per-row
    * probe, no range join — two sort passes per key partition, which is
    * what survives 100 TB. References are deduped to one per (user, µs)
    * with the min event_id so both engines pick identical winners.
    */
  /** q139: SEASONAL-NAIVE forecast backtest — the baseline every capacity
    * plan / anomaly budget is graded against (M-competition rule: beat
    * seasonal-naive or ship seasonal-naive): forecast(day d) = actual(d−7)
    * per event_type, scored over every day where the lag exists. Errors
    * stay exact e4 integers; the headline is WAPE in ppm (Σ|err| ·10⁶ DIV
    * Σactual — the scale-free aggregate form that never divides by a
    * zero day) plus MAE in e4.
    *
    * Shape: one scan folds to the tiny (type, day) series; the lag join
    * is the series joined to itself on day = day−7 per type (dimension-
    * sized); metrics are one aggregate over it. Pairs with q132 (the
    * split discipline) and q128/q136 (the drift monitors) as the
    * model-ops tier.
    */
  def seasonalNaiveBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("event_type"), expr("tsu DIV 86400000000").as("day"))
      .agg(sum(round(col("value") * 10000).cast("long")).as("tot4"))
    val scored = daily.as("a")
      .join(daily.as("b"),
        col("b.event_type") === col("a.event_type") && col("b.day") === col("a.day") - 7)
      .select(col("a.event_type").as("event_type"),
        col("a.tot4").as("actual4"), col("b.tot4").as("fc4"))
    scored.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_eval_days"),
        sum(abs(col("actual4") - col("fc4"))).as("sum_abs_err_e4"),
        sum("actual4").as("sum_actual_e4"))
      .select(col("event_type"), col("n_eval_days"),
        col("sum_abs_err_e4"),
        expr("sum_abs_err_e4 DIV n_eval_days").as("mae_e4"),
        expr("CAST(CAST(sum_abs_err_e4 AS DECIMAL(38,0)) * 1000000 DIV sum_actual_e4 AS BIGINT)")
          .as("wape_ppm"))
  }

  /** q137: TIMED funnel — q28's ordered sequence with the constraint every
    * product funnel actually carries (GA/Amplitude "within N hours"
    * semantics, MATCH_RECOGNIZE's WITHIN clause): signup → click →
    * purchase where each step lands within 48 h of the PREVIOUS step's
    * completion, earliest-completion greedy (each stage takes its MIN
    * eligible timestamp — the canonical deterministic resolution).
    *
    * Shape: the correlated "min after t, within t+Δ" chain decorrelates to
    * three keyed aggregates stitched by user-keyed joins — one shuffle
    * class (everything is user-partitioned; on a cluster the three stages
    * reuse the partitioning). No window over history, no per-row probe.
    * Output keeps the nullable stage timestamps so the conversion AND the
    * drop-off stage are both visible per user.
    */
  def timedFunnel(spark: SparkSession, dir: String, maxGapHours: Int = 48): DataFrame = {
    val gapUs = maxGapHours.toLong * 3600L * 1000000L
    val ev = events(spark, dir)
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("tsu"))
    val t1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("tsu").as("t1_us"))
    val t2 = ev.filter(col("event_type") === "click").join(t1, Seq("user_id"))
      .filter(col("tsu") > col("t1_us") && col("tsu") <= col("t1_us") + gapUs)
      .groupBy("user_id").agg(min("tsu").as("t2_us"))
    val t3 = ev.filter(col("event_type") === "purchase").join(t2, Seq("user_id"))
      .filter(col("tsu") > col("t2_us") && col("tsu") <= col("t2_us") + gapUs)
      .groupBy("user_id").agg(min("tsu").as("t3_us"))
    t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
      .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
        (lit(1L) + when(col("t2_us").isNotNull, 1L).otherwise(0L)
          + when(col("t3_us").isNotNull, 1L).otherwise(0L)).as("stage"))
  }

  def asofNearest(spark: SparkSession, dir: String, tolHours: Int = 24): DataFrame = {
    val tolUs = tolHours.toLong * 3600L * 1000000L
    val ref = events(spark, dir)
      .filter(col("event_type") === "error")
      .groupBy(col("user_id").as("k"), col("tsu").as("t"))
      .agg(min(col("event_id")).as("ref_id"))
      .withColumn("kind", lit(0))
      .withColumn("event_id", lit(null).cast("long"))
    val probe = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("k"), col("tsu").as("t"),
        lit(null).cast("long").as("ref_id"), lit(1).as("kind"), col("event_id"))
    val wB = Window.partitionBy("k").orderBy(col("t").asc, col("kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("k").orderBy(col("t").desc, col("kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val both = ref.unionByName(probe)
      .withColumn("b_id", last("ref_id", ignoreNulls = true).over(wB))
      .withColumn("b_t", last(when(col("kind") === 0, col("t")), ignoreNulls = true).over(wB))
      .withColumn("f_id", last("ref_id", ignoreNulls = true).over(wF))
      .withColumn("f_t", last(when(col("kind") === 0, col("t")), ignoreNulls = true).over(wF))
      .filter(col("kind") === 1)
    val bd = col("t") - col("b_t")
    val fd = col("f_t") - col("t")
    val bOk = col("b_t").isNotNull && bd <= tolUs
    val fOk = col("f_t").isNotNull && fd <= tolUs
    both.select(
      col("event_id"),
      when(bOk && (!fOk || bd <= fd), col("b_id"))
        .when(fOk, col("f_id")).as("nearest_error_id"),
      when(bOk && (!fOk || bd <= fd), "B")
        .when(fOk, "F").as("direction"),
      when(bOk && (!fOk || bd <= fd), expr(s"(t - b_t) DIV 60000000"))
        .when(fOk, expr(s"(f_t - t) DIV 60000000")).as("dist_min"))
  }
}
