package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** True-streaming specs (SURVEY.md §2.3) — MemoryStream in, memory/parquet
  * sink out, processAllAvailable between asserts.
  */
class StreamingSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def ts(minutes: Int): Timestamp = new Timestamp(1700000000000L + minutes * 60000L)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(new java.io.File("target/streaming-tmp").toPath.toAbsolutePath.tap(p =>
      Files.createDirectories(p)), prefix).toString

  implicit class Tap[A](a: A) { def tap(f: A => Unit): A = { f(a); a } }

  test("#32 CDC materialization: upsert + stale-drop + delete tombstone") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val q = CdcMaterializer
      .materialize(input.toDS())
      .writeStream.format("memory").queryName("cdc_state").outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("cdc")).start()
    try {
      input.addData(
        Change("insert", 1L, ts(0), Map("v" -> "a")),
        Change("update", 1L, ts(10), Map("v" -> "b")),
        Change("insert", 2L, ts(5), Map("v" -> "x")),
      )
      q.processAllAvailable()
      // out-of-order stale update for key 1 must be ignored; delete key 2
      input.addData(
        Change("update", 1L, ts(3), Map("v" -> "STALE")),
        Change("delete", 2L, ts(20), Map.empty),
      )
      q.processAllAvailable()
      val state = spark.table("cdc_state").collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[Map[String, String]]("payload"), r.getAs[Boolean]("deleted")))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last }
      assert(state(1L)._2 == Map("v" -> "b") && !state(1L)._3, "stale update must not win")
      assert(state(2L)._3, "key 2 must be a tombstone")
    } finally q.stop()
  }

  test("#32b CDC fold resolves sub-millisecond ordering (full-precision ts)") {
    import org.apache.spark.sql.streaming.TestGroupState
    def tsNanos(ms: Long, nanos: Int): Timestamp = {
      val t = new Timestamp(ms); t.setNanos(nanos); t
    }
    val state = TestGroupState.create[KeyState](
      optionalState = org.apache.spark.api.java.Optional.empty[KeyState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    // two changes in the SAME millisecond: 500us then 900us — last writer
    // (900us) must win even though getTime collides
    val out = CdcMaterializer.fold(
      1L,
      Iterator(
        Change("update", 1L, tsNanos(1000, 900000), Map("v" -> "late")),
        Change("update", 1L, tsNanos(1000, 500000), Map("v" -> "early")),
      ),
      state)
    assert(out.toSeq.last.payload == Map("v" -> "late"))
    // a sub-ms STALE change must not overwrite the newer state
    val out2 = CdcMaterializer.fold(
      1L, Iterator(Change("update", 1L, tsNanos(1000, 100000), Map("v" -> "stale"))), state)
    assert(out2.toSeq.last.payload == Map("v" -> "late"))
  }

  test("#32c CDC fold is batching-invariant on equal-ts ties (seq totally orders)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val q = CdcMaterializer
      .materialize(input.toDS())
      .writeStream.format("memory").queryName("cdc_seq").outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("cdcseq")).start()
    try {
      // same commit ts; the higher-LSN change arrives FIRST and in an
      // earlier batch — the lower-LSN straggler must lose either way
      input.addData(Change("update", 1L, ts(0), Map("v" -> "winner"), seq = 2L))
      q.processAllAvailable()
      input.addData(Change("update", 1L, ts(0), Map("v" -> "loser"), seq = 1L))
      q.processAllAvailable()
      // and within ONE batch the same pair must resolve identically
      input.addData(
        Change("update", 2L, ts(0), Map("v" -> "loser"), seq = 1L),
        Change("update", 2L, ts(0), Map("v" -> "winner"), seq = 2L),
      )
      q.processAllAvailable()
      val state = spark.table("cdc_seq").collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[Map[String, String]]("payload")))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      assert(state(1L) == Map("v" -> "winner"), "cross-batch tie must resolve by seq")
      assert(state(2L) == Map("v" -> "winner"), "in-batch tie must resolve by seq")
    } finally q.stop()
  }

  test("#32d tombstone TTL: timed-out tombstone is removed; live keys set no timeout") {
    import org.apache.spark.sql.streaming.TestGroupState
    def st(initial: Option[KeyState], timedOut: Boolean) = TestGroupState.create[KeyState](
      optionalState = initial.map(org.apache.spark.api.java.Optional.of[KeyState])
        .getOrElse(org.apache.spark.api.java.Optional.empty[KeyState]()),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout(),
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of[Long](1000L),
      hasTimedOut = timedOut)
    // a deleted key sets a timeout at delete-ts + ttl
    val s1 = st(None, timedOut = false)
    CdcMaterializer.foldExpiring(60000L)(1L,
      Iterator(Change("delete", 1L, ts(0), Map.empty, seq = 1L)), s1).toSeq
    assert(s1.exists && s1.get.deleted)
    assert(s1.getTimeoutTimestampMs.isPresent, "tombstone must schedule its own expiry")
    // when the watermark fires the timeout, the tombstone is removed
    val tomb = KeyState(1L, 0L, 1L, Map.empty, deleted = true)
    val s2 = st(Some(tomb), timedOut = true)
    val out = CdcMaterializer.foldExpiring(60000L)(1L, Iterator.empty, s2).toSeq
    assert(out.isEmpty && s2.isRemoved, "expired tombstone must leave the store")
    // a live (non-deleted) key keeps NO timeout — only tombstones expire
    val s3 = st(None, timedOut = false)
    CdcMaterializer.foldExpiring(60000L)(2L,
      Iterator(Change("insert", 2L, ts(0), Map("v" -> "a"), seq = 1L)), s3).toSeq
    assert(s3.exists && !s3.getTimeoutTimestampMs.isPresent)
  }

  test("#32e materializeExpiring runs end-to-end with watermark + timeouts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val q = CdcMaterializer
      .materializeExpiring(input.toDS(), watermarkDelay = "1 second", tombstoneTtlMs = 1000L)
      .toDF()
      .writeStream.format("memory").queryName("cdc_ttl").outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("ttl")).start()
    try {
      input.addData(
        Change("insert", 1L, ts(0), Map("v" -> "a"), seq = 1L),
        Change("delete", 1L, ts(1), Map.empty, seq = 2L),
      )
      q.processAllAvailable()
      // advance the watermark far past delete+ttl across two batches so
      // the timeout path actually executes inside the running query
      input.addData(Change("insert", 2L, ts(60), Map("v" -> "x"), seq = 3L))
      q.processAllAvailable()
      input.addData(Change("insert", 3L, ts(120), Map("v" -> "y"), seq = 4L))
      q.processAllAvailable()
      val rows = spark.table("cdc_ttl").collect()
      assert(rows.exists(r => r.getAs[Long]("key") == 1L && r.getAs[Boolean]("deleted")))
      assert(rows.exists(r => r.getAs[Long]("key") == 3L))
    } finally q.stop()
  }

  test("#32f bootstrapped materialization: stream continues from a batch snapshot") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the "batch history" snapshot: key 1 at t10, key 2 at t5
    val snapshot = Seq(
      KeyState(1L, CdcMaterializer.micros(ts(10)), 5L, Map("v" -> "hist1"), deleted = false),
      KeyState(2L, CdcMaterializer.micros(ts(5)), 3L, Map("v" -> "hist2"), deleted = false),
    ).toDS()
    val input = MemoryStream[Change]
    val q = CdcMaterializer
      .materializeFrom(snapshot, input.toDS())
      .toDF()
      .writeStream.format("memory").queryName("boot").outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("boot")).start()
    try {
      input.addData(
        // newer than the snapshot -> applies
        Change("update", 1L, ts(20), Map("v" -> "live1"), seq = 6L),
        // OLDER than the snapshot position -> must be stale-dropped
        Change("update", 2L, ts(3), Map("v" -> "REPLAYED"), seq = 1L),
        // key never in the snapshot -> plain insert
        Change("insert", 3L, ts(21), Map("v" -> "new3"), seq = 7L),
      )
      q.processAllAvailable()
      val state = spark.table("boot").collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[Map[String, String]]("payload")))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      assert(state(1L) == Map("v" -> "live1"), "live change newer than snapshot must win")
      assert(state.get(2L).forall(_ == Map("v" -> "hist2")),
        s"replayed pre-snapshot change must lose to bootstrapped state, got ${state.get(2L)}")
      assert(state(3L) == Map("v" -> "new3"))
    } finally q.stop()
  }

  test("#33 watermarked tumbling aggregate finalizes closed windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = WindowedAggs.tumbling(df, watermark = "10 minutes")
      .writeStream.format("memory").queryName("tumbling").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("tum")).start()
    try {
      // base ts is 22:13:20 UTC, so the first hour-aligned window is
      // [22:00, 23:00): keep all three events inside it (offsets < 47 min)
      input.addData((ts(0), "click", 1.0), (ts(30), "click", 2.0), (ts(45), "view", 3.0))
      q.processAllAvailable()
      // advance event time past window end + watermark -> that window closes
      input.addData((ts(75), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling").collect()
      assert(rows.exists(r => r.getAs[String]("event_type") == "click" && r.getAs[Long]("n") == 2
        && r.getAs[Double]("total") == 3.0))
      assert(rows.exists(r => r.getAs[String]("event_type") == "view" && r.getAs[Long]("n") == 1))
    } finally q.stop()
  }

  test("#34 session windows merge activity within the gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "user_id", "value")
    val q = WindowedAggs.sessions(df, gap = "30 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("sess")).start()
    try {
      // user 7: events at 0,20,40 chain into one session; 120 starts another
      input.addData((ts(0), 7L, 1.0), (ts(20), 7L, 1.0), (ts(40), 7L, 1.0), (ts(120), 7L, 1.0))
      q.processAllAvailable()
      input.addData((ts(300), 7L, 0.0)) // push watermark far ahead to close all
      q.processAllAvailable()
      val sessions = spark.table("sessions").collect().filter(_.getAs[Long]("n_events") > 0)
      val chained = sessions.find(_.getAs[Long]("n_events") == 3)
      assert(chained.isDefined, s"expected a merged 3-event session, got ${sessions.mkString(";")}")
    } finally q.stop()
  }

  test("#35 streaming dedup drops replayed ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp)]
    val df = input.toDF().toDF("event_id", "ts")
    val q = WindowedAggs.dedup(df)
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("dd")).start()
    try {
      input.addData((1L, ts(0)), (1L, ts(1)), (2L, ts(2)))
      q.processAllAvailable()
      input.addData((2L, ts(3)), (3L, ts(4)))
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getAs[Long]("event_id")).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("#36 stream-static dimension join enriches the feed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((7L, "GOLD"), (8L, "SILVER")).toDF("user_id", "tier")
    val input = MemoryStream[(Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "user_id", "value")
    val q = df.join(broadcast(dim), Seq("user_id"), "left")
      .writeStream.format("memory").queryName("enriched").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("dim")).start()
    try {
      input.addData((ts(0), 7L, 1.0), (ts(1), 9L, 2.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
      assert(rows.exists(r => r.getAs[Long]("user_id") == 7L && r.getAs[String]("tier") == "GOLD"))
      assert(rows.exists(r => r.getAs[Long]("user_id") == 9L && r.getAs[String]("tier") == null))
    } finally q.stop()
  }

  test("#37 foreachBatch changefeed sink emits upsert/delete deltas") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val feedDir = tmp("feedout")
    val input = MemoryStream[Change]
    val states = CdcMaterializer.materialize(input.toDS()).toDF()
    val q = FeedSink.writeChangefeed(states, feedDir, tmp("feedck")).start()
    try {
      input.addData(Change("insert", 1L, ts(0), Map("v" -> "a")))
      q.processAllAvailable()
      input.addData(Change("delete", 1L, ts(10), Map.empty))
      q.processAllAvailable()
      val feed = spark.read.parquet(feedDir).orderBy("batch_id").collect()
      assert(feed.map(_.getAs[String]("op")).toSeq == Seq("upsert", "delete"))
    } finally q.stop()
  }

  test("#37b FeedSink batch replay is idempotent (partition overwrite, no dupes)") {
    import spark.implicits._
    val feedDir = tmp("feedidem")
    def states(rows: (Long, Long, Long, Map[String, String], Boolean)*) =
      rows.toDF("key", "tsUs", "seq", "payload", "deleted")
    val b0 = states((1L, 1000L, 1L, Map("v" -> "a"), false), (2L, 2000L, 2L, Map("v" -> "b"), false))
    val b1 = states((1L, 3000L, 3L, Map.empty[String, String], true))
    FeedSink.writeBatch(b0, 0L, feedDir)
    FeedSink.writeBatch(b1, 1L, feedDir)
    val before = spark.read.parquet(feedDir).count()
    assert(before == 3L)
    // a crash between sink write and checkpoint commit replays batch 0:
    // the partition is overwritten, not appended
    FeedSink.writeBatch(b0, 0L, feedDir)
    val feed = spark.read.parquet(feedDir)
    assert(feed.count() == before, "replayed batch must not duplicate rows")
    assert(feed.filter(col("batch_id") === 0L).count() == 2L)
    assert(feed.filter(col("op") === "delete").count() == 1L)
  }

  test("#37c stateAsOf time-travels the sink feed with batch-partition pruning") {
    import spark.implicits._
    val feedDir = tmp("feedtt")
    def states(rows: (Long, Long, Long, Map[String, String], Boolean)*) =
      rows.toDF("key", "tsUs", "seq", "payload", "deleted")
    // batch 0: keys 1,2 live; batch 1: key 1 updated; batch 2: key 2 deleted
    FeedSink.writeBatch(states((1L, 1000L, 1L, Map("v" -> "a"), false), (2L, 1500L, 2L, Map("v" -> "b"), false)), 0L, feedDir)
    FeedSink.writeBatch(states((1L, 2000L, 3L, Map("v" -> "a2"), false)), 1L, feedDir)
    FeedSink.writeBatch(states((2L, 3000L, 4L, Map.empty[String, String], true)), 2L, feedDir)
    def snap(b: Long) = FeedSink.stateAsOf(spark, feedDir, b).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Map[String, String]]("payload")).toMap
    assert(snap(0L) == Map(1L -> Map("v" -> "a"), 2L -> Map("v" -> "b")))
    assert(snap(1L) == Map(1L -> Map("v" -> "a2"), 2L -> Map("v" -> "b")))
    assert(snap(2L) == Map(1L -> Map("v" -> "a2")), "tombstone must fold key 2 away")
    // the as-of predicate must prune batch partitions, not scan the history
    val p = FeedSink.stateAsOf(spark, feedDir, 0L).queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("batch_id"),
      s"as-of filter not pruning batch partitions:\n$p")
  }

  test("#125 feed compaction: post-horizon time travel intact, history below the horizon gone, size bounded") {
    import spark.implicits._
    val feedDir = tmp("feedcompact")
    def states(rows: (Long, Long, Long, Map[String, String], Boolean)*) =
      rows.toDF("key", "tsUs", "seq", "payload", "deleted")
    FeedSink.writeBatch(states((1L, 1000L, 1L, Map("v" -> "a"), false), (2L, 1500L, 2L, Map("v" -> "b"), false)), 0L, feedDir)
    FeedSink.writeBatch(states((1L, 2000L, 3L, Map("v" -> "a2"), false)), 1L, feedDir)
    FeedSink.writeBatch(states((2L, 3000L, 4L, Map.empty[String, String], true)), 2L, feedDir)
    FeedSink.writeBatch(states((3L, 4000L, 5L, Map("v" -> "c"), false)), 3L, feedDir)
    def snap(b: Long) = FeedSink.stateAsOf(spark, feedDir, b).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Map[String, String]]("payload")).toMap
    val at2Before = snap(2L)
    val at3Before = snap(3L)
    FeedSink.compact(spark, feedDir, upTo = 2L)
    assert(snap(2L) == at2Before, "state at the horizon must survive compaction")
    assert(snap(3L) == at3Before, "post-horizon time travel must fold base + later deltas")
    assert(snap(2L) == Map(1L -> Map("v" -> "a2")), "tombstoned key 2 must stay gone after compaction")
    val dirs = new java.io.File(feedDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName).toSet
    assert(dirs == Set("batch_id=2", "batch_id=3"),
      s"partitions below the horizon must be deleted: $dirs")
    assert(snap(0L).isEmpty && snap(1L).isEmpty, "pre-horizon history is intentionally gone")
  }

  test("#128 online anomaly flags match the prior-only reference fold; batching-invariant") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // key 7: 12 calm values, then a spike, then calm again; key 8 all calm
    val calm  = (0 until 12).map(i => MetricEvent(i.toLong, 7L, ts(i), 10.0 + (i % 3) * 0.5))
    val spike = MetricEvent(50L, 7L, ts(50), 99.0)
    val after = MetricEvent(51L, 7L, ts(51), 10.5)
    val other = (0 until 12).map(i => MetricEvent(100L + i, 8L, ts(i), 5.0))
    val all   = calm ++ Seq(spike, after) ++ other

    // independent reference: same prior-only Welford semantics
    def reference(evs: Seq[MetricEvent], sigmas: Double, minPrior: Long): Set[Long] = {
      val flagged = Set.newBuilder[Long]
      evs.groupBy(_.key).foreach { case (_, ks) =>
        var (n, mean, m2) = (0L, 0.0, 0.0)
        ks.sortBy(e => (e.ts.getTime, e.eventId)).foreach { e =>
          if (n >= minPrior) {
            val sd = math.sqrt(m2 / (n - 1).toDouble)
            if (sd > 0 && math.abs((e.value - mean) / sd) > sigmas) flagged += e.eventId
          }
          n += 1; val d = e.value - mean; mean += d / n; m2 += d * (e.value - mean)
        }
      }
      flagged.result()
    }
    val expected = reference(all, 3.0, 10L)
    assert(expected == Set(50L), s"the planted spike (and only it) must flag: $expected")

    def run(batches: Seq[Seq[MetricEvent]]): Set[Long] = {
      val input = MemoryStream[MetricEvent]
      val name  = s"anom${batches.length}"
      val q = AnomalyStream.flags(input.toDS(), sigmas = 3.0, minPrior = 10L)
        .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append())
        .option("checkpointLocation", tmp(name)).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(name).collect().map(_.getAs[Long]("eventId")).toSet
      } finally q.stop()
    }
    assert(run(Seq(all)) == expected, "single batch must match the reference")
    assert(run(all.grouped(5).toSeq) == expected, "5-row micro-batches must not change flags")
  }

  test("#131b streaming observability: observed ingest metrics surface in query progress") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val observed = input.toDF().toDF("doc_id", "ts", "text")
      .observe("ingest",
        count(lit(1)).as("rows_in"),
        sum(expr("size(split(trim(text), '\\\\s+'))")).as("words_in"))
    val q = CurationStream.cleanDocs(observed)
      .writeStream.format("memory").queryName("obsclean").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("obsck")).start()
    try {
      input.addData(
        (1L, ts(0), "a perfectly reasonable document with enough tokens to pass"),
        (2L, ts(1), "too short"),
        (3L, ts(2), "another acceptable document that clears the token floor fine"),
      )
      q.processAllAvailable()
      val rowsIn = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("ingest")))
        .map(_.getAs[Long]("rows_in")).sum
      assert(rowsIn == 3, s"observed ingest count must ride the micro-batches: $rowsIn")
      // the metric sees pre-gate traffic; the sink holds post-gate rows
      assert(spark.table("obsclean").count() == 2)
    } finally q.stop()
  }

  test("#132 token-bucket rate limiting: event-time refill, burst rejection, batching-invariant") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def sec(s: Int): Timestamp = new Timestamp(1700000000000L + s * 1000L)
    // key 7: capacity 2, refill 0.5/s. Burst of 4 at t=0 -> 2 admitted.
    // t=10 (fully refilled, capped at 2): 3 more -> 2 admitted.
    // key 8: slow steady 1 per 4 s -> all admitted.
    val k7 = Seq(0, 0, 0, 0).zipWithIndex.map { case (_, i) => MetricEvent(i.toLong, 7L, sec(0), 1.0) } ++
      Seq(MetricEvent(10L, 7L, sec(10), 1.0), MetricEvent(11L, 7L, sec(10), 1.0), MetricEvent(12L, 7L, sec(10), 1.0))
    val k8 = (0 until 4).map(i => MetricEvent(100L + i, 8L, sec(i * 4), 1.0))
    val all = k7 ++ k8

    def run(batches: Seq[Seq[MetricEvent]]): Map[Long, Boolean] = {
      val input = MemoryStream[MetricEvent]
      val name  = s"rate${batches.length}"
      val q = RateLimiter.admissions(input.toDS(), capacity = 2.0, perSec = 0.5)
        .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append())
        .option("checkpointLocation", tmp(name)).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => r.getAs[Long]("eventId") -> r.getAs[Boolean]("admitted")).toMap
      } finally q.stop()
    }
    val got = run(Seq(all))
    assert(got(0L) && got(1L) && !got(2L) && !got(3L), s"burst must admit exactly capacity: $got")
    assert(got(10L) && got(11L) && !got(12L), s"10 s refill caps at capacity 2: $got")
    assert((100L until 104L).forall(got(_)), s"steady under-budget traffic always admits: $got")
    assert(run(all.grouped(3).toSeq) == got, "3-row micro-batches must not change admissions")
  }

  test("#134 wire-format evolution: unknown top-level fields ignored, missing seq defaulted, payload carries new attrs") {
    import spark.implicits._
    // producer generations on one topic: v_old has no seq field; v_now is
    // current; v_next adds an unknown top-level field AND a new payload
    // attribute — a consumer on today's schema must read all three
    val wire = Seq(
      """{"op":"insert","key":1,"ts":"2024-01-01T00:00:00.000000Z","payload":{"v":"old"}}""",
      """{"op":"update","key":1,"ts":"2024-01-01T00:01:00.000000Z","payload":{"v":"now"},"seq":5}""",
      """{"op":"update","key":2,"ts":"2024-01-01T00:02:00.000000Z","payload":{"v":"next","new_attr":"x"},"seq":6,"producer_region":"eu"}""",
    ).toDF("raw").select(lit(null).cast("binary").as("key"), col("raw").cast("binary").as("value"))
    val changes = ChangeFeed.fromWire(wire).collect()
    assert(changes.length == 3, "every generation must parse")
    val bySeq = changes.map(r => r.getAs[Long]("seq")).sorted
    assert(bySeq.sameElements(Array(0L, 5L, 6L)), s"missing seq defaults to 0: ${bySeq.toList}")
    val next = changes.find(_.getAs[Long]("key") == 2L).get
    assert(next.getAs[Map[String, String]]("payload") == Map("v" -> "next", "new_attr" -> "x"),
      "schema-free payload map must carry new attributes through")
    assert(ChangeFeed.deadLetters(wire).count() == 0,
      "forward-compatible records must never dead-letter")
  }

  test("#136 Trigger.AvailableNow drains the backlog and self-terminates (kappa backfill mode)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val srcDir  = tmp("anowsrc")
    val feedDir = tmp("anowfeed")
    Seq(
      ("f1.json", Seq(
        """{"op":"insert","key":1,"ts":"2024-01-01T00:10:00.000Z","payload":{"v":"a"},"seq":1}""",
        """{"op":"insert","key":2,"ts":"2024-01-01T00:20:00.000Z","payload":{"v":"b"},"seq":2}""")),
      ("f2.json", Seq(
        """{"op":"update","key":1,"ts":"2024-01-01T00:30:00.000Z","payload":{"v":"a2"},"seq":3}""",
        """{"op":"delete","key":2,"ts":"2024-01-01T00:40:00.000Z","payload":{},"seq":4}""")),
    ).foreach { case (name, lines) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(srcDir, name), lines.mkString("\n").getBytes("UTF-8"))
    }
    val q = FeedSink.writeChangefeed(
      CdcMaterializer.materialize(ChangeFeed.readJsonDir(spark, srcDir).as[Change]).toDF(),
      feedDir, tmp("anowck"))
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow must stop by itself once the backlog drains")
    assert(!q.isActive)
    val state = FeedSink.stateAsOf(spark, feedDir, Long.MaxValue).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Map[String, String]]("payload")).toMap
    assert(state == Map(1L -> Map("v" -> "a2")), s"drained state wrong: $state")
  }

  test("#141 multi-source feed union: one materialization over two feeds, LWW coherent across sources") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // two independent producers (e.g. two Kafka topics / two regions)
    // merged into ONE materialized view: the (ts, seq) total order must
    // resolve cross-feed races exactly as it does within a feed
    val feedA = MemoryStream[Change]
    val feedB = MemoryStream[Change]
    val q = CdcMaterializer
      .materialize(feedA.toDS().unionByName(feedB.toDS()))
      .writeStream.format("memory").queryName("unionfeed").outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("unionck")).start()
    try {
      feedA.addData(Change("insert", 1L, ts(0), Map("v" -> "a0"), seq = 1L))
      feedB.addData(Change("update", 1L, ts(10), Map("v" -> "b1"), seq = 3L))
      q.processAllAvailable()
      // feed A later delivers a change OLDER than B's winner -> stale-drop
      // must hold across sources; key 2 lives only on feed B
      feedA.addData(Change("update", 1L, ts(5), Map("v" -> "aSTALE"), seq = 2L))
      feedB.addData(Change("insert", 2L, ts(20), Map("v" -> "b2"), seq = 4L))
      q.processAllAvailable()
      val state = spark.table("unionfeed").collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[Map[String, String]]("payload")))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      assert(state(1L) == Map("v" -> "b1"), s"cross-feed stale change must lose: $state")
      assert(state(2L) == Map("v" -> "b2"))
    } finally q.stop()
  }

  test("#37d restart continuity: state store survives stop/start, stale-drop holds across runs") {
    import spark.implicits._
    val srcDir  = tmp("restartsrc")
    val feedDir = tmp("restartfeed")
    val ck      = tmp("restartck")
    def writeFeedFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(srcDir, name),
        lines.mkString("\n").getBytes("UTF-8"))
    def run(): Unit = {
      val q = FeedSink.writeChangefeed(
        CdcMaterializer.materialize(ChangeFeed.readJsonDir(spark, srcDir).as[Change]).toDF(),
        feedDir, ck).start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFeedFile("f1.json", Seq(
      """{"op":"insert","key":1,"ts":"2024-01-01T00:10:00.000Z","payload":{"v":"a"},"seq":1}""",
      """{"op":"insert","key":2,"ts":"2024-01-01T00:20:00.000Z","payload":{"v":"b"},"seq":2}""",
    ))
    run() // first deployment processes f1, then STOPS
    writeFeedFile("f2.json", Seq(
      """{"op":"update","key":1,"ts":"2024-01-01T00:30:00.000Z","payload":{"v":"a2"},"seq":3}""",
      // STALE update for key 2 (older than its state from run 1): only a
      // state store that survived the restart can know to drop it
      """{"op":"update","key":2,"ts":"2024-01-01T00:05:00.000Z","payload":{"v":"STALE"},"seq":0}""",
    ))
    run() // second deployment resumes from the checkpoint
    val feed = spark.read.parquet(feedDir).collect()
    // batch_id comes back as int: partition-directory values are inferred
    val latest = feed.groupBy(_.getAs[Long]("key"))
      .map { case (k, rs) => k -> rs.maxBy(_.getAs[Number]("batch_id").longValue) }
    assert(latest(1L).getAs[Map[String, String]]("payload") == Map("v" -> "a2"),
      "newer change after restart must apply")
    assert(latest(2L).getAs[Map[String, String]]("payload") == Map("v" -> "b"),
      "stale change after restart must lose to pre-restart state")
    assert(!feed.exists(_.getAs[Map[String, String]]("payload") == Map("v" -> "STALE")))
  }

  test("#31b Kafka wire format round-trips Change records exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val subMs = { val t = ts(1); t.setNanos(123456000); t } // 123456 us survives the wire
    val input = MemoryStream[Change]
    val q = ChangeFeed.fromWire(ChangeFeed.toWire(input.toDF()))
      .writeStream.format("memory").queryName("wire").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("wire")).start()
    try {
      val sent = Seq(
        Change("insert", 7L, subMs, Map("v" -> "a", "k" -> "x"), seq = 42L),
        Change("delete", 8L, ts(2), Map.empty, seq = 43L),
      )
      input.addData(sent: _*)
      q.processAllAvailable()
      val got = spark.table("wire").as[Change].collect().sortBy(_.key)
      assert(got.toSeq == sent, s"wire round-trip mismatch: $got")
    } finally q.stop()
  }

  test("#39 incrementally maintained view emits only touched groups per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val q = IncrementalView
      .liveTotals(input.toDS())
      .writeStream.format("memory").queryName("liveview").outputMode(IncrementalView.outputMode)
      .option("checkpointLocation", tmp("iv")).start()
    try {
      input.addData(
        Change("insert", 1L, ts(0), Map("event_type" -> "purchase", "value" -> "10.0")),
        Change("update", 2L, ts(1), Map("event_type" -> "purchase", "value" -> "5.0")),
        Change("update", 3L, ts(2), Map("event_type" -> "view", "value" -> "1.0")),
      )
      q.processAllAvailable()
      val afterB1 = spark.table("liveview").collect().length
      // second batch touches ONLY 'purchase' -> exactly one updated group row
      input.addData(Change("update", 4L, ts(3), Map("event_type" -> "purchase", "value" -> "2.5")))
      q.processAllAvailable()
      val rows = spark.table("liveview").collect()
      assert(rows.length == afterB1 + 1, s"expected one delta row, got ${rows.length - afterB1}")
      val latestPurchase = rows.filter(_.getAs[String]("event_type") == "purchase")
        .maxBy(_.getAs[Long]("n_changes"))
      assert(latestPurchase.getAs[Long]("n_changes") == 3)
      assert(latestPurchase.getAs[Double]("total_value") == 17.5)
    } finally q.stop()
  }

  test("#39b derived view RETRACTS deleted contributions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val q = IncrementalView
      .liveTotals(input.toDS())
      .writeStream.format("memory").queryName("retract").outputMode(IncrementalView.outputMode)
      .option("checkpointLocation", tmp("ret")).start()
    try {
      input.addData(
        Change("insert", 1L, ts(0), Map("event_type" -> "purchase", "value" -> "10.0"), seq = 1L),
        Change("insert", 2L, ts(1), Map("event_type" -> "purchase", "value" -> "5.0"), seq = 2L),
        Change("insert", 3L, ts(1), Map("event_type" -> "view", "value" -> "1.0"), seq = 3L),
      )
      q.processAllAvailable()
      val afterB1 = spark.table("retract").collect().length
      // delete key 1 -> its 10.0 must LEAVE the purchase aggregate, and
      // only the purchase group may re-emit
      input.addData(Change("delete", 1L, ts(2), Map.empty, seq = 4L))
      q.processAllAvailable()
      val rows = spark.table("retract").collect()
      assert(rows.length == afterB1 + 1, "delete must re-emit exactly the touched group")
      val p = rows.last
      assert(p.getAs[String]("event_type") == "purchase")
      assert(p.getAs[Long]("n_changes") == 1, "deleted key must stop counting")
      assert(p.getAs[Double]("total_value") == 5.0, "deleted contribution must be retracted")
    } finally q.stop()
  }

  test("#39c derived view MOVES a key's contribution when its group changes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val q = IncrementalView
      .liveTotals(input.toDS())
      .writeStream.format("memory").queryName("groupmove").outputMode(IncrementalView.outputMode)
      .option("checkpointLocation", tmp("mv")).start()
    try {
      input.addData(Change("insert", 1L, ts(0), Map("event_type" -> "purchase", "value" -> "10.0"), seq = 1L))
      q.processAllAvailable()
      // key 1 re-classifies as a view: purchase loses 10, view gains 4
      input.addData(Change("update", 1L, ts(1), Map("event_type" -> "view", "value" -> "4.0"), seq = 2L))
      q.processAllAvailable()
      val latest = spark.table("groupmove").collect()
        .groupBy(_.getAs[String]("event_type")).map { case (g, vs) => g -> vs.last }
      assert(latest("purchase").getAs[Long]("n_changes") == 0)
      assert(latest("purchase").getAs[Double]("total_value") == 0.0)
      assert(latest("view").getAs[Long]("n_changes") == 1)
      assert(latest("view").getAs[Double]("total_value") == 4.0)
    } finally q.stop()
  }

  test("#68 streaming SCD2 history: versions chain across batches, stale drops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val q = VersionedFeed
      .history(input.toDS())
      .writeStream.format("memory").queryName("scd2").outputMode(VersionedFeed.outputMode)
      .option("checkpointLocation", tmp("scd2")).start()
    try {
      input.addData(Change("insert", 1L, ts(0), Map("v" -> "a"), seq = 1L))
      q.processAllAvailable()
      assert(spark.table("scd2").count() == 0, "an open version must not emit")
      // second batch closes v=a and opens v=b
      input.addData(Change("update", 1L, ts(10), Map("v" -> "b"), seq = 2L))
      q.processAllAvailable()
      // a change arriving AFTER its position was superseded is dropped
      // (LWW history, no rewrite of already-closed versions) ...
      input.addData(Change("update", 1L, ts(5), Map("v" -> "STALE"), seq = 0L))
      q.processAllAvailable()
      // ... and the delete closes v=b
      input.addData(Change("delete", 1L, ts(20), Map.empty, seq = 3L))
      q.processAllAvailable()
      val versions = spark.table("scd2").as[Version].collect().sortBy(_.validFromUs)
      assert(versions.length == 2, s"expected v=a and v=b closed, got ${versions.mkString(";")}")
      assert(versions(0).payload == Map("v" -> "a") && versions(1).payload == Map("v" -> "b"))
      // the validity intervals must chain exactly: [t0,t10) then [t10,t20)
      assert(versions(0).validToUs == versions(1).validFromUs)
      assert(versions(1).validToUs == CdcMaterializer.micros(ts(20)))
      assert(!versions.exists(_.payload == Map("v" -> "STALE")), "stale change must not enter history")
    } finally q.stop()
  }

  test("#38 stream-stream interval join attributes purchases to signups") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val signups   = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = StreamJoins.purchaseAttribution(
      signups.toDF().toDF("s_user", "s_ts"),
      purchases.toDF().toDF("p_user", "p_ts", "p_value"),
      horizon = "1 hour")
    val q = joined.writeStream.format("memory").queryName("attrib").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("ssj")).start()
    try {
      signups.addData((7L, ts(0)), (8L, ts(0)))
      // user 7 purchases inside the horizon, user 8 outside it
      purchases.addData((7L, ts(30), 9.99), (8L, ts(90), 5.0))
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
      assert(rows.map(_.getAs[Long]("s_user")).toSeq == Seq(7L))
      assert(rows.head.getAs[Double]("p_value") == 9.99)
    } finally q.stop()
  }

  test("#38b left-outer interval join emits unmatched signups after the watermark closes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val signups   = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = StreamJoins.purchaseAttributionOuter(
      signups.toDF().toDF("s_user", "s_ts"),
      purchases.toDF().toDF("p_user", "p_ts", "p_value"),
      horizon = "1 hour", watermark = "1 minute")
    val q = joined.writeStream.format("memory").queryName("attrib_outer").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("ssjo")).start()
    try {
      signups.addData((7L, ts(0)), (8L, ts(0)))
      purchases.addData((7L, ts(30), 9.99)) // user 7 converts; user 8 never does
      q.processAllAvailable()
      // push both watermarks far past signup + horizon so the engine can
      // prove user 8 has no match left to wait for
      signups.addData((99L, ts(300)))
      purchases.addData((98L, ts(300), 1.0))
      q.processAllAvailable()
      signups.addData((97L, ts(600)))
      purchases.addData((96L, ts(600), 1.0))
      q.processAllAvailable()
      val rows = spark.table("attrib_outer").collect()
        .map(r => r.getAs[Long]("s_user") -> Option(r.getAs[Any]("p_value"))).toMap
      assert(rows(7L).contains(9.99), "converted signup joins its purchase")
      assert(rows.contains(8L) && rows(8L).isEmpty,
        s"unconverted signup must emit with NULL purchase once provably unmatched: $rows")
    } finally q.stop()
  }

  test("coherence: streaming materializer == batch cdcLatestState on the same feed") {
    import spark.implicits._
    val sfDir = sf
    // the events snapshot, replayed as a changefeed through the REAL file
    // source -> materializer path
    val feedDir = tmp("cohfeed")
    ChangeFeed
      .fromEvents(graft.sources.Tables.events(spark, sfDir))
      .select(to_json(struct(col("op"), col("key"), col("ts"), col("payload"), col("seq")),
        ChangeFeed.wireOptions).as("value"))
      .coalesce(1).write.mode("overwrite").text(feedDir)
    val q = CdcMaterializer
      .materialize(ChangeFeed.readJsonDir(spark, feedDir).as[Change])
      .toDF()
      .writeStream.format("memory").queryName("coh").outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("cohck")).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("coh").collect()
        .groupBy(_.getAs[Long]("key")).map { case (k, vs) => k -> vs.last }
      val batch = graft.operators.Temporal.cdcLatestState(spark, sfDir).collect()
      assert(batch.nonEmpty && streamed.nonEmpty)
      batch.foreach { b =>
        val key = b.getAs[Long]("user_id")
        val s   = streamed(key)
        assert(s.getAs[Long]("tsUs") == b.getAs[Long]("ts_us"),
          s"key $key: streaming ts ${s.getAs[Long]("tsUs")} != batch ts ${b.getAs[Long]("ts_us")}")
        if (b.getAs[String]("event_type") == "error")
          assert(s.getAs[Boolean]("deleted"), s"key $key: last op is a delete, state must be a tombstone")
        else {
          assert(!s.getAs[Boolean]("deleted"))
          val sv = BigDecimal(s.getAs[Map[String, String]]("payload")("value"))
            .setScale(2, BigDecimal.RoundingMode.HALF_UP)
          assert(sv == BigDecimal(b.getAs[Double]("value")).setScale(2, BigDecimal.RoundingMode.HALF_UP),
            s"key $key: value mismatch")
        }
      }
    } finally q.stop()
  }

  test("#95c engine coherence: v2 transformWithState == v1 flatMapGroupsWithState on the full sf feed") {
    import spark.implicits._
    // both materializer generations fold the same real changefeed (the
    // events snapshot through the file source); final state must be
    // row-identical — the property that lets a deployment migrate the
    // view between engines
    val feedDir = tmp("v2cohfeed")
    ChangeFeed
      .fromEvents(graft.sources.Tables.events(spark, sf))
      .select(to_json(struct(col("op"), col("key"), col("ts"), col("payload"), col("seq")),
        ChangeFeed.wireOptions).as("value"))
      .coalesce(1).write.mode("overwrite").text(feedDir)
    def run(name: String, mk: org.apache.spark.sql.Dataset[Change] => org.apache.spark.sql.Dataset[KeyState]) = {
      val q = mk(ChangeFeed.readJsonDir(spark, feedDir).as[Change])
        .toDF()
        .writeStream.format("memory").queryName(name).outputMode(OutputMode.Update())
        .option("checkpointLocation", tmp(s"${name}ck")).start()
      try q.processAllAvailable()
      finally q.stop()
      spark.table(name).collect()
        .groupBy(_.getAs[Long]("key")).map { case (k, vs) =>
          val r = vs.last
          k -> (r.getAs[Long]("tsUs"), r.getAs[Long]("seq"),
            r.getAs[Map[String, String]]("payload"), r.getAs[Boolean]("deleted"))
        }
    }
    val v1 = run("coh_v1", CdcMaterializer.materialize)
    val v2 = withRocksDb(run("coh_v2", ds => StateMaterializer.materialize(ds)))
    assert(v1.nonEmpty && v1 == v2,
      s"engines diverged on ${v1.keySet.union(v2.keySet).count(k => v1.get(k) != v2.get(k))} keys")
  }

  test("#39d delete for a never-seen key parks no state in the view store") {
    import org.apache.spark.sql.streaming.TestGroupState
    val state = TestGroupState.create[Contribution](
      optionalState = org.apache.spark.api.java.Optional.empty[Contribution](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val out = IncrementalView.deltas("event_type")(
      9L, Iterator(Change("delete", 9L, ts(0), Map.empty, seq = 1L)), state).toSeq
    assert(out.isEmpty, "nothing to retract, nothing to emit")
    assert(!state.exists, "a delete with no prior contribution must not create state")
    // but a delete AFTER a live contribution must keep its tombstone (it
    // stale-drops straggler re-inserts)
    val s2 = TestGroupState.create[Contribution](
      optionalState = org.apache.spark.api.java.Optional.of(
        Contribution("purchase", 10.0, CdcMaterializer.micros(ts(0)), 1L, live = true)),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val out2 = IncrementalView.deltas("event_type")(
      9L, Iterator(Change("delete", 9L, ts(1), Map.empty, seq = 2L)), s2).toSeq
    assert(out2 == Seq(GroupDelta("purchase", -1L, -10.0)))
    assert(s2.exists && !s2.get.live, "retraction recorded, tombstone kept for stale-drop")
  }

  test("#39e view tombstone TTL: dead contributions expire, live ones never") {
    import org.apache.spark.sql.streaming.TestGroupState
    def st(initial: Option[Contribution], timedOut: Boolean) = TestGroupState.create[Contribution](
      optionalState = initial.map(org.apache.spark.api.java.Optional.of[Contribution])
        .getOrElse(org.apache.spark.api.java.Optional.empty[Contribution]()),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout(),
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of[Long](1000L),
      hasTimedOut = timedOut)
    // live insert then delete: the dead contribution schedules its expiry
    val s1 = st(Some(Contribution("purchase", 10.0, 0L, 1L, live = true)), timedOut = false)
    val out = IncrementalView.deltasExpiring("event_type", 60000L)(
      1L, Iterator(Change("delete", 1L, ts(0), Map.empty, seq = 2L)), s1).toSeq
    assert(out == Seq(GroupDelta("purchase", -1L, -10.0)), "retraction still emitted")
    assert(s1.getTimeoutTimestampMs.isPresent, "dead contribution must schedule expiry")
    // the timeout fires -> state removed, nothing emitted (retraction
    // already happened when the delete was applied)
    val dead = Contribution("", 0.0, 0L, 2L, live = false)
    val s2 = st(Some(dead), timedOut = true)
    val out2 = IncrementalView.deltasExpiring("event_type", 60000L)(1L, Iterator.empty, s2).toSeq
    assert(out2.isEmpty && s2.isRemoved, "expired dead contribution must leave the store")
    // a live contribution sets NO timeout — it legitimately holds state
    val s3 = st(None, timedOut = false)
    IncrementalView.deltasExpiring("event_type", 60000L)(
      2L, Iterator(Change("insert", 2L, ts(0), Map("event_type" -> "view", "value" -> "1.0"), seq = 1L)), s3).toSeq
    assert(s3.exists && !s3.getTimeoutTimestampMs.isPresent)
  }

  test("#39f liveTotalsExpiring end-to-end: retraction survives expiry") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val checkKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val q = IncrementalView.withRelaxedWatermarkCheck(spark) {
      IncrementalView
        .liveTotalsExpiring(input.toDS(), watermarkDelay = "1 second", tombstoneTtlMs = 1000L)
        .writeStream.format("memory").queryName("liveview_ttl").outputMode(IncrementalView.outputMode)
        .option("checkpointLocation", tmp("ivttl")).start()
    }
    // the opt-out is SCOPED: once the query is started, the shared session
    // has its checker back — other streaming queries still get it
    assert(spark.conf.get(checkKey) != "false",
      "watermark correctness checker must be restored on the shared session")
    try {
      input.addData(
        Change("insert", 1L, ts(0), Map("event_type" -> "purchase", "value" -> "10.0"), seq = 1L),
        Change("insert", 2L, ts(0), Map("event_type" -> "purchase", "value" -> "5.0"), seq = 2L),
      )
      q.processAllAvailable()
      input.addData(Change("delete", 1L, ts(1), Map.empty, seq = 3L))
      q.processAllAvailable()
      // push the watermark far past delete+ttl so the tombstone expires
      input.addData(Change("insert", 3L, ts(60), Map("event_type" -> "view", "value" -> "1.0"), seq = 4L))
      q.processAllAvailable()
      input.addData(Change("insert", 4L, ts(120), Map("event_type" -> "view", "value" -> "2.0"), seq = 5L))
      q.processAllAvailable()
      val latest = spark.table("liveview_ttl").collect()
        .groupBy(_.getAs[String]("event_type")).map { case (g, vs) => g -> vs.last }
      assert(latest("purchase").getAs[Long]("n_changes") == 1, "retraction must survive tombstone expiry")
      assert(latest("purchase").getAs[Double]("total_value") == 5.0)
      assert(latest("view").getAs[Long]("n_changes") == 2)
    } finally q.stop()
  }

  test("#107 liveExtremes: deleting the max re-emits next-best; untouched groups stay silent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val q = IncrementalView.liveExtremes(input.toDS())
      .writeStream.format("memory").queryName("live_extremes").outputMode("append")
      .option("checkpointLocation", tmp("ivext")).start()
    def latest(g: String) = spark.table("live_extremes").collect()
      .filter(_.getAs[String]("group") == g).last
    def emissions(g: String) = spark.table("live_extremes").collect()
      .count(_.getAs[String]("group") == g)
    try {
      input.addData(
        Change("insert", 1L, ts(0), Map("event_type" -> "a", "value" -> "5.0"), seq = 1L),
        Change("insert", 2L, ts(0), Map("event_type" -> "a", "value" -> "9.0"), seq = 2L),
        Change("insert", 3L, ts(0), Map("event_type" -> "a", "value" -> "7.0"), seq = 3L),
        Change("insert", 4L, ts(0), Map("event_type" -> "b", "value" -> "1.0"), seq = 4L),
      )
      q.processAllAvailable()
      assert(latest("a").getAs[Double]("max_value") == 9.0)
      assert(latest("a").getAs[Long]("n_keys") == 3)
      // delete the group's current MAXIMUM — the non-invertible case: no
      // signed delta can produce 7; the group re-aggregates from keyed state
      input.addData(Change("delete", 2L, ts(1), Map.empty, seq = 5L))
      q.processAllAvailable()
      val a2 = latest("a")
      assert(a2.getAs[Double]("max_value") == 7.0, "next-best max must be re-emitted")
      assert(a2.getAs[Double]("min_value") == 5.0 && a2.getAs[Long]("n_keys") == 2)
      assert(a2.getAs[Double]("total_value") == 12.0)
      assert(emissions("b") == 1, "untouched group must not re-emit")
      // group move: key 3 leaves a (max drops to 5) and joins b
      input.addData(Change("update", 3L, ts(2), Map("event_type" -> "b", "value" -> "2.0"), seq = 6L))
      q.processAllAvailable()
      val a3 = latest("a"); val b3 = latest("b")
      assert(a3.getAs[Long]("n_keys") == 1 && a3.getAs[Double]("max_value") == 5.0)
      assert(b3.getAs[Long]("n_keys") == 2 && b3.getAs[Double]("max_value") == 2.0
        && b3.getAs[Double]("min_value") == 1.0 && b3.getAs[Long]("n_distinct_values") == 2)
      // empty the group entirely: the emptied emission carries null extremes
      input.addData(Change("delete", 1L, ts(3), Map.empty, seq = 7L))
      q.processAllAvailable()
      val a4 = latest("a")
      assert(a4.getAs[Long]("n_keys") == 0 && a4.isNullAt(a4.fieldIndex("max_value")))
    } finally q.stop()
  }

  test("#68b SCD2 tombstone TTL: expired tombstone emits its final closed version") {
    import org.apache.spark.sql.streaming.TestGroupState
    def st(initial: Option[VersionedFeed.OpenVersion], timedOut: Boolean) =
      TestGroupState.create[VersionedFeed.OpenVersion](
        optionalState = initial.map(org.apache.spark.api.java.Optional.of[VersionedFeed.OpenVersion])
          .getOrElse(org.apache.spark.api.java.Optional.empty[VersionedFeed.OpenVersion]()),
        timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout(),
        batchProcessingTimeMs = 0L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of[Long](1000L),
        hasTimedOut = timedOut)
    // a delete opens a tombstone version and schedules its expiry
    val s1 = st(None, timedOut = false)
    VersionedFeed.closeExpiring(60000L)(
      1L, Iterator(Change("delete", 1L, ts(0), Map.empty, seq = 1L)), s1).toSeq
    assert(s1.exists && s1.get.deleted && s1.getTimeoutTimestampMs.isPresent)
    // expiry closes it with the sentinel validTo and removes the state
    val tomb = VersionedFeed.OpenVersion(1L, 42L, 1L, Map.empty, deleted = true)
    val s2 = st(Some(tomb), timedOut = true)
    val out = VersionedFeed.closeExpiring(60000L)(1L, Iterator.empty, s2).toSeq
    assert(out.length == 1 && out.head.deleted && out.head.validToUs == VersionedFeed.ExpiredToUs)
    assert(s2.isRemoved, "expired tombstone must leave the store")
    // live open versions set no timeout
    val s3 = st(None, timedOut = false)
    VersionedFeed.closeExpiring(60000L)(
      2L, Iterator(Change("insert", 2L, ts(0), Map("v" -> "a"), seq = 1L)), s3).toSeq
    assert(s3.exists && !s3.getTimeoutTimestampMs.isPresent)
  }

  test("#31c fromWire drops poison records; deadLetters captures them") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val good   = Change("insert", 1L, ts(0), Map("v" -> "a"), seq = 1L)
    val wire   = ChangeFeed.toWire(Seq(good).toDS().toDF())
      .union(Seq("not json at all", """{"op":"update","ts":null,"payload":{}}""")
        .toDF("raw").select(lit(null).cast("binary").as("key"), col("raw").cast("binary").as("value")))
    // batch path: only the good record parses; both poison ones are DLQ'd
    val parsed = ChangeFeed.fromWire(wire).collect()
    assert(parsed.length == 1 && parsed.head.getAs[Long]("key") == 1L)
    assert(ChangeFeed.deadLetters(wire).collect().map(_.getAs[String]("raw")).length == 2)
    // streaming path: a poison record must not kill the materializer
    val input = MemoryStream[String]
    val q = CdcMaterializer
      .materialize(ChangeFeed.fromWire(input.toDF().select(col("value").cast("binary").as("value"))).as[Change])
      .toDF()
      .writeStream.format("memory").queryName("poison").outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("poison")).start()
    try {
      val goodJson = ChangeFeed.toWire(Seq(good).toDS().toDF())
        .select(col("value").cast("string")).as[String].collect().head
      input.addData("garbage{{{", goodJson)
      q.processAllAvailable()
      val rows = spark.table("poison").collect()
      assert(rows.length == 1 && rows.head.getAs[Long]("key") == 1L,
        "good record must materialize, poison one must be dropped")
    } finally q.stop()
  }

  test("#82 streaming curation: normalize + quality-gate + dedup a live doc feed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = CurationStream
      .cleanDocs(input.toDF().toDF("doc_id", "ts", "text"), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("curated").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("cur")).start()
    try {
      input.addData(
        (1L, ts(0), "The Quick   Brown fox jumps over the dog"),
        (2L, ts(1), "tiny"), // under the 5-token quality gate
        (3L, ts(2), "  the quick brown FOX jumps over the dog "), // dup of 1 modulo case/ws
        (4L, ts(3), "a genuinely different document with enough tokens"),
      )
      q.processAllAvailable()
      val ids = spark.table("curated").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L, 4L), s"expected junk + near-line dup dropped, got $ids")
      // a late re-send of doc 1's content within the watermark is still a dup
      input.addData((5L, ts(4), "the quick brown fox jumps over the dog"))
      q.processAllAvailable()
      assert(spark.table("curated").collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L, 4L))
      val row = spark.table("curated").collect().find(_.getAs[Long]("doc_id") == 1L).get
      assert(row.getAs[String]("clean") == "the quick brown fox jumps over the dog")
      assert(row.getAs[Long]("n_tokens") == 8L)
    } finally q.stop()
  }

  test("#85 incremental join view: upserts on both-live, retracts on either delete, minimal re-emits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val left  = MemoryStream[Change]
    val right = MemoryStream[Change]
    val q = JoinView
      .materializeJoin(left.toDS(), right.toDS())
      .toDF()
      .writeStream.format("memory").queryName("joinview").outputMode(JoinView.outputMode)
      .option("checkpointLocation", tmp("jv")).start()
    try {
      // left-only: no joined row yet
      left.addData(Change("insert", 1L, ts(0), Map("l" -> "a"), seq = 1L))
      q.processAllAvailable()
      assert(spark.table("joinview").count() == 0, "half a pair must not join")
      // right arrives: the pair joins
      right.addData(Change("insert", 1L, ts(1), Map("r" -> "x"), seq = 1L))
      q.processAllAvailable()
      var rows = spark.table("joinview").collect()
      assert(rows.length == 1 && rows.last.getAs[String]("op") == "upsert")
      assert(rows.last.getAs[Map[String, String]]("l_payload") == Map("l" -> "a"))
      assert(rows.last.getAs[Map[String, String]]("r_payload") == Map("r" -> "x"))
      // left update re-emits the joined row with the new payload
      left.addData(Change("update", 1L, ts(2), Map("l" -> "b"), seq = 2L))
      q.processAllAvailable()
      rows = spark.table("joinview").collect()
      assert(rows.length == 2 && rows.last.getAs[Map[String, String]]("l_payload") == Map("l" -> "b"))
      // a STALE left change (older position) changes nothing — no emission
      left.addData(Change("update", 1L, ts(1), Map("l" -> "STALE"), seq = 0L))
      q.processAllAvailable()
      assert(spark.table("joinview").count() == 2, "stale change must not re-emit")
      // right delete retracts the joined row
      right.addData(Change("delete", 1L, ts(3), Map.empty, seq = 2L))
      q.processAllAvailable()
      rows = spark.table("joinview").collect()
      assert(rows.length == 3 && rows.last.getAs[String]("op") == "delete")
      // right re-insert joins again with the surviving left row
      right.addData(Change("insert", 1L, ts(4), Map("r" -> "y"), seq = 3L))
      q.processAllAvailable()
      rows = spark.table("joinview").collect()
      assert(rows.length == 4 && rows.last.getAs[String]("op") == "upsert")
      assert(rows.last.getAs[Map[String, String]]("l_payload") == Map("l" -> "b"))
      assert(rows.last.getAs[Map[String, String]]("r_payload") == Map("r" -> "y"))
      // an unmatched key on one side never appears
      right.addData(Change("insert", 2L, ts(5), Map("r" -> "solo"), seq = 4L))
      q.processAllAvailable()
      assert(spark.table("joinview").collect().forall(_.getAs[Long]("key") == 1L))
    } finally q.stop()
  }

  test("#108 FK join view: N:1 fan-out, dim-delete retraction, late dim, FK move") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val facts = MemoryStream[Change]
    val dims  = MemoryStream[Change]
    val q = JoinView
      .materializeFkJoin(facts.toDS(), dims.toDS(), fkField = "custkey")
      .toDF()
      .writeStream.format("memory").queryName("fkjoin").outputMode("append")
      .option("checkpointLocation", tmp("fkj")).start()
    def rows() = spark.table("fkjoin").collect()
    def rowsFor(k: Long) = rows().filter(_.getAs[Long]("fact_key") == k)
    try {
      // distinct key spaces: facts keyed 100.., dims keyed 10/20
      dims.addData(Change("insert", 10L, ts(0), Map("name" -> "X"), seq = 1L))
      facts.addData(
        Change("insert", 100L, ts(0), Map("custkey" -> "10", "v" -> "a"), seq = 1L),
        Change("insert", 101L, ts(0), Map("custkey" -> "10", "v" -> "b"), seq = 2L),
        Change("insert", 102L, ts(0), Map("custkey" -> "20", "v" -> "c"), seq = 3L),
      )
      q.processAllAvailable()
      // N:1 — both facts referencing dim 10 join; fact 102 waits (dim 20 absent)
      assert(rowsFor(100L).map(_.getAs[String]("op")).toSeq == Seq("upsert"))
      assert(rowsFor(100L).last.getAs[Map[String, String]]("dim_payload") == Map("name" -> "X"))
      assert(rowsFor(101L).length == 1 && rowsFor(102L).isEmpty)
      // late dim: fact 102's join materializes when dim 20 arrives
      dims.addData(Change("insert", 20L, ts(1), Map("name" -> "Z"), seq = 2L))
      q.processAllAvailable()
      assert(rowsFor(102L).map(_.getAs[String]("op")).toSeq == Seq("upsert"))
      // dim UPDATE fans out to every subscribed fact, and only to them
      dims.addData(Change("update", 10L, ts(2), Map("name" -> "Y"), seq = 3L))
      q.processAllAvailable()
      assert(rowsFor(100L).length == 2 && rowsFor(101L).length == 2, "dim update must fan out")
      assert(rowsFor(100L).last.getAs[Map[String, String]]("dim_payload") == Map("name" -> "Y"))
      assert(rowsFor(102L).length == 1, "facts of other dims must not re-emit")
      // FK MOVE: fact 100 re-points from dim 10 to dim 20 — one authoritative
      // upsert from the new group, no spurious delete from the old one
      facts.addData(Change("update", 100L, ts(3), Map("custkey" -> "20", "v" -> "a"), seq = 4L))
      q.processAllAvailable()
      val f100 = rowsFor(100L)
      assert(f100.last.getAs[String]("op") == "upsert")
      assert(f100.last.getAs[Long]("fk") == 20L)
      assert(f100.last.getAs[Map[String, String]]("dim_payload") == Map("name" -> "Z"))
      assert(!f100.map(_.getAs[String]("op")).contains("delete"), "move must not emit a stale retraction")
      // dim DELETE retracts ALL its joined facts
      dims.addData(Change("delete", 20L, ts(4), Map.empty, seq = 4L))
      q.processAllAvailable()
      assert(rowsFor(100L).last.getAs[String]("op") == "delete")
      assert(rowsFor(102L).last.getAs[String]("op") == "delete")
      assert(rowsFor(101L).last.getAs[String]("op") == "upsert", "dim 10's fact survives")
      // fact delete retracts just that fact
      facts.addData(Change("delete", 101L, ts(5), Map.empty, seq = 5L))
      q.processAllAvailable()
      assert(rowsFor(101L).last.getAs[String]("op") == "delete")
    } finally q.stop()
  }

  test("#109 streaming SQL surface: spark.sql runs over live changefeed views") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    // raw feed as a SQL view: a SQL AGGREGATE compiles onto the stream
    graft.sources.Catalog.registerStream(input.toDF(), "feed_sql")
    val agg = spark.sql(
      """SELECT payload['event_type'] AS et, count(*) AS n, sum(cast(payload['value'] AS double)) AS total
        |FROM feed_sql WHERE op <> 'delete' GROUP BY payload['event_type']""".stripMargin)
    assert(agg.isStreaming, "SQL over a streaming view must stay streaming")
    val q1 = agg.writeStream.format("memory").queryName("sql_agg").outputMode("complete")
      .option("checkpointLocation", tmp("sqlagg")).start()
    // materialized CDC view as a SQL view: SQL projection/filter over state
    val input2 = MemoryStream[Change]
    graft.sources.Catalog.registerStream(CdcMaterializer.materialize(input2.toDS()).toDF(), "live_state_sql")
    val q2 = spark.sql(
      "SELECT key, payload['v'] AS v FROM live_state_sql WHERE NOT deleted")
      .writeStream.format("memory").queryName("sql_state").outputMode("update")
      .option("checkpointLocation", tmp("sqlstate")).start()
    try {
      input.addData(
        Change("insert", 1L, ts(0), Map("event_type" -> "a", "value" -> "2.0"), seq = 1L),
        Change("insert", 2L, ts(0), Map("event_type" -> "a", "value" -> "3.0"), seq = 2L),
        Change("delete", 3L, ts(0), Map("event_type" -> "b"), seq = 3L),
      )
      q1.processAllAvailable()
      val aggRows = spark.table("sql_agg").collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(aggRows == Map("a" -> (2L, 5.0)), "SQL aggregate must see only non-deletes")
      input2.addData(
        Change("insert", 10L, ts(0), Map("v" -> "x"), seq = 1L),
        Change("update", 10L, ts(1), Map("v" -> "y"), seq = 2L),
      )
      q2.processAllAvailable()
      val state = spark.table("sql_state").collect()
      assert(state.last.getLong(0) == 10L && state.last.getString(1) == "y",
        "SQL over the materialized view must read folded LWW state")
    } finally { q1.stop(); q2.stop() }
  }

  test("#110 wire sink: streaming toWire write is idempotent under replay and round-trips") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input   = MemoryStream[Change]
    val wireDir = tmp("wiresink")
    val q = FeedSink.writeWire(input.toDF(), wireDir, tmp("wiresink_ckpt")).start()
    val changes = Seq(
      Change("insert", 1L, new java.sql.Timestamp(1234567L), Map("v" -> "a"), seq = 1L),
      Change("update", 2L, new java.sql.Timestamp(7654321L), Map("v" -> "b", "w" -> "c"), seq = 2L),
    )
    try {
      input.addData(changes: _*)
      q.processAllAvailable()
    } finally q.stop()
    def readBack() = ChangeFeed.fromWire(spark.read.parquet(wireDir)).as[Change].collect().toSet
    val once = readBack()
    assert(once == changes.toSet, "wire feed must round-trip Changes exactly (µs timestamps included)")
    // crash-replay: the same batch written again overwrites its own
    // partition — consumers never see a duplicate change
    FeedSink.writeWireBatch(changes.toDF(), batchId = 0L, wireDir)
    assert(readBack() == changes.toSet, "replayed batch must overwrite, not append")
    assert(spark.read.parquet(wireDir).count() == 2L)
  }

  /** Runs `body` with the RocksDB state store provider (required by
    * transformWithState), restoring the previous provider after.
    */
  private def withRocksDb[A](body: => A): A = {
    val key  = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("#95 transformWithState materializer: upsert + stale-drop + delete (v1 contract)") { withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val q = StateMaterializer
      .materialize(input.toDS())
      .writeStream.format("memory").queryName("tws_state").outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("tws")).start()
    try {
      input.addData(
        Change("insert", 1L, ts(0), Map("v" -> "a"), seq = 1L),
        Change("update", 1L, ts(10), Map("v" -> "b"), seq = 2L),
        Change("insert", 2L, ts(5), Map("v" -> "x"), seq = 3L),
      )
      q.processAllAvailable()
      input.addData(
        Change("update", 1L, ts(3), Map("v" -> "STALE"), seq = 0L),
        Change("delete", 2L, ts(20), Map.empty, seq = 4L),
      )
      q.processAllAvailable()
      val state = spark.table("tws_state").collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[Map[String, String]]("payload"), r.getAs[Boolean]("deleted")))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last }
      assert(state(1L)._2 == Map("v" -> "b") && !state(1L)._3, "stale update must not win on v2 either")
      assert(state(2L)._3, "key 2 must be a tombstone")
    } finally q.stop()
  } }

  test("#95b v2 tombstone timers: expiry drops state; a livening re-insert cancels the timer") { withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val q = StateMaterializer
      .materialize(input.toDS(), watermarkDelay = "1 second", tombstoneTtlMs = 1000L)
      .toDF()
      .writeStream.format("memory").queryName("tws_ttl").outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("twsttl")).start()
    try {
      // key 1: delete, then let the timer fire. key 2: delete, then
      // re-insert BEFORE expiry — the timer must be cancelled.
      input.addData(
        Change("insert", 1L, ts(0), Map("v" -> "a"), seq = 1L),
        Change("delete", 1L, ts(1), Map.empty, seq = 2L),
        Change("insert", 2L, ts(0), Map("v" -> "b"), seq = 3L),
        Change("delete", 2L, ts(1), Map.empty, seq = 4L),
      )
      q.processAllAvailable()
      input.addData(Change("insert", 2L, ts(2), Map("v" -> "b2"), seq = 5L))
      q.processAllAvailable()
      // advance the watermark far past delete+ttl across two batches so
      // key 1's timer fires (event-time mode filters late rows on input,
      // so the purge MARKER emission is the observable proof of GC)
      input.addData(Change("insert", 9L, ts(60), Map("v" -> "wm"), seq = 6L))
      q.processAllAvailable()
      input.addData(Change("insert", 9L, ts(120), Map("v" -> "wm2"), seq = 7L))
      q.processAllAvailable()
      val rows = spark.table("tws_ttl").collect()
      def tombstones(k: Long) =
        rows.count(r => r.getAs[Long]("key") == k && r.getAs[Boolean]("deleted"))
      assert(tombstones(1L) == 2,
        s"key 1 must emit delete + purge marker, got ${tombstones(1L)} tombstone rows")
      assert(tombstones(2L) == 1,
        s"key 2's livening re-insert must cancel its GC timer, got ${tombstones(2L)} tombstone rows")
      val last2 = rows.filter(_.getAs[Long]("key") == 2L).last
      assert(last2.getAs[Map[String, String]]("payload") == Map("v" -> "b2") && !last2.getAs[Boolean]("deleted"))
    } finally q.stop()
  } }

  test("#38c full-outer interval join emits unmatched rows from BOTH sides") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val signups   = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = StreamJoins.purchaseAttributionFullOuter(
      signups.toDF().toDF("s_user", "s_ts"),
      purchases.toDF().toDF("p_user", "p_ts", "p_value"),
      horizon = "1 hour", watermark = "1 minute")
    val q = joined.writeStream.format("memory").queryName("attrib_full").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("ssjf")).start()
    try {
      signups.addData((7L, ts(0)), (8L, ts(0)))   // 7 converts, 8 never
      purchases.addData((7L, ts(30), 9.99), (66L, ts(30), 5.0)) // 66 has no signup
      q.processAllAvailable()
      signups.addData((99L, ts(300)))
      purchases.addData((98L, ts(300), 1.0))
      q.processAllAvailable()
      signups.addData((97L, ts(600)))
      purchases.addData((96L, ts(600), 1.0))
      q.processAllAvailable()
      val rows = spark.table("attrib_full").collect()
        .map(r => (Option(r.getAs[Any]("s_user")), Option(r.getAs[Any]("p_user")), Option(r.getAs[Any]("p_value"))))
      assert(rows.exists { case (s, _, v) => s.contains(7L) && v.contains(9.99) },
        "matched pair emits joined")
      assert(rows.exists { case (s, p, _) => s.contains(8L) && p.isEmpty },
        s"unconverted signup emits with NULL purchase side: ${rows.mkString(",")}")
      assert(rows.exists { case (s, p, _) => s.isEmpty && p.contains(66L) },
        s"signup-less purchase emits with NULL signup side: ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("#175 3-way stream-stream interval join: chained joins, late arrivals on all three sides") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val views     = MemoryStream[(Long, Timestamp)]
    val clicks    = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = StreamJoins.funnelAttribution3(
      views.toDF().toDF("v_user", "v_ts"),
      clicks.toDF().toDF("c_user", "c_ts"),
      purchases.toDF().toDF("p_user", "p_ts", "p_value"),
      horizon1 = "1 hour", horizon2 = "1 hour", watermark = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("funnel3").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("ssj3")).start()
    try {
      // user 1: full in-horizon chain; user 2: click misses horizon1;
      // user 3: purchase misses horizon2
      views.addData((1L, ts(0)), (2L, ts(0)), (3L, ts(0)))
      clicks.addData((1L, ts(20)), (2L, ts(80)), (3L, ts(10)))
      purchases.addData((1L, ts(40), 9.99), (2L, ts(90), 1.0), (3L, ts(85), 2.0))
      q.processAllAvailable()
      // LATE rows on all three sides, still inside the 30-minute
      // watermark lag (max event time so far = ts(90)): a late view for
      // user 4 whose click+purchase already arrived, a late click for
      // user 5, a late purchase for user 1's second conversion
      views.addData((4L, ts(70)))
      clicks.addData((4L, ts(75)), (5L, ts(72)))
      views.addData((5L, ts(71)))
      purchases.addData((4L, ts(78), 3.0), (5L, ts(74), 4.0), (1L, ts(65), 7.0))
      q.processAllAvailable()
      val rows = spark.table("funnel3").collect()
        .map(r => (r.getAs[Long]("v_user"), r.getAs[Double]("p_value"))).toSet
      assert(rows == Set((1L, 9.99), (1L, 7.0), (4L, 3.0), (5L, 4.0)),
        s"in-horizon chains (incl. all late arrivals) and nothing else: $rows")
      // physical plan: exactly two StreamingSymmetricHashJoin operators
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      val nJoins = "StreamingSymmetricHashJoin".r.findAllIn(plan).size
      assert(nJoins == 2, s"expected 2 chained stream-stream joins in the plan, got $nJoins:\n$plan")
    } finally q.stop()
  }

  test("#96 streaming decontamination: corpus-known content is dropped at ingest") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the standing corpus index: d01-style content hashes of CLEANED text
    val corpus = Seq("a document the corpus already has with enough tokens")
      .toDF("clean").select(md5(col("clean")).as("content_hash"))
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = CurationStream
      .cleanDocsAgainstCorpus(input.toDF().toDF("doc_id", "ts", "text"), corpus)
      .writeStream.format("memory").queryName("decontam").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("dctm")).start()
    try {
      input.addData(
        (1L, ts(0), "A Document  the corpus ALREADY has with enough tokens"), // known, modulo case/ws
        (2L, ts(1), "a fresh document the corpus has never seen before"),
        (3L, ts(2), "a fresh DOCUMENT the corpus has  never seen before"),    // stream-dup of 2
      )
      q.processAllAvailable()
      val ids = spark.table("decontam").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(2L), s"corpus hit and stream dup must both be dropped, got $ids")
    } finally q.stop()
  }

  test("#31 changefeed file source reads Change records as a stream") {
    import spark.implicits._
    val srcDir = tmp("feedsrc")
    Seq(
      """{"op":"insert","key":1,"ts":"2024-01-01T00:00:00.000Z","payload":{"v":"a"}}""",
      """{"op":"update","key":1,"ts":"2024-01-01T00:01:00.000Z","payload":{"v":"b"}}""",
    ).toDF("value").coalesce(1).write.mode("overwrite").text(srcDir)
    val q = ChangeFeed.readJsonDir(spark, srcDir)
      .writeStream.format("memory").queryName("feedsrc").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("feedsrcck")).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("feedsrc").collect()
      assert(rows.length == 2)
      assert(rows.forall(_.getAs[Long]("key") == 1L))
    } finally q.stop()
  }

  test("#115 streaming top-k store tracks the batch answer; eviction recovers on growth; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input    = MemoryStream[(Timestamp, Long, Double)]
    val df       = input.toDF().toDF("ts", "user_id", "value")
    val storeDir = tmp("topkstore")
    val q = TopKView.topK(df, storeDir, tmp("topkck"), k = 2).start()
    try {
      // window [22:00,23:00): users 1,2,3 at totals 10,5,1 -> top2 = {1,2}
      input.addData((ts(0), 1L, 10.0), (ts(5), 2L, 5.0), (ts(10), 3L, 1.0))
      q.processAllAvailable()
      val first = spark.read.parquet(storeDir).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("rn")).toMap
      assert(first == Map(1L -> 1L, 2L -> 2L), s"got $first")
      // user 3 (previously EVICTED) grows past both: update mode re-emits
      // its full total, so it re-enters the bounded candidate set
      input.addData((ts(20), 3L, 20.0))
      q.processAllAvailable()
      val second = spark.read.parquet(storeDir).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("rn"), r.getAs[Double]("total")))
      assert(second.toSet == Set((3L, 1L, 21.0), (1L, 2L, 10.0)), s"got ${second.toSet}")
      // replaying the same totals must leave the store unchanged
      val replay = Seq((ts(20).toInstant.toString, 3L, 21.0)).toDF("t", "user_id", "total")
        .select(expr("cast(date_trunc('hour', cast(t as timestamp)) as timestamp)").as("window_start"),
          col("user_id"), col("total"))
      TopKView.updateBatch(replay, storeDir, k = 2)
      val third = spark.read.parquet(storeDir).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("rn"), r.getAs[Double]("total")))
      assert(third.toSet == second.toSet, s"replay changed the store: ${third.toSet}")
    } finally q.stop()
  }

  test("#124 streaming as-of enrichment: events pick the dim version valid at their event time; republished versions picked up live") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def us(minutes: Int): Long = ts(minutes).getTime * 1000L
    // dim key 7: payload "v1" over [0, 30), "v2" over [30, open)
    Seq(
      (7L, us(0), Option(us(30)), "v1"),
      (7L, us(30), Option.empty[Long], "v2"),
    ).toDF("key", "valid_from_us", "valid_to_us", "dim_payload").createOrReplaceGlobalTempView("dimv")
    val input  = MemoryStream[(Long, Long, Timestamp, Double)]
    val df     = input.toDF().toDF("event_id", "key", "ts", "value")
    val outDir = tmp("asofout")
    val q = VersionedFeed.enrichStream(df, "global_temp.dimv", outDir, tmp("asofck")).start()
    try {
      input.addData((1L, 7L, ts(10), 1.0), (2L, 7L, ts(45), 2.0), (3L, 8L, ts(10), 3.0))
      q.processAllAvailable()
      val got = spark.read.parquet(outDir).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("dim_payload")).toMap
      assert(got == Map(1L -> "v1", 2L -> "v2", 3L -> null),
        s"each event must enrich with the version valid at ITS ts: $got")
      // dim key 7 gains a v3 version from minute 60; key 8 appears —
      // republish the view, no restart
      Seq(
        (7L, us(0), Option(us(30)), "v1"),
        (7L, us(30), Option(us(60)), "v2"),
        (7L, us(60), Option.empty[Long], "v3"),
        (8L, us(0), Option.empty[Long], "w1"),
      ).toDF("key", "valid_from_us", "valid_to_us", "dim_payload").createOrReplaceGlobalTempView("dimv")
      // a LATE event for the old window still gets v2; new events get v3/w1
      input.addData((4L, 7L, ts(70), 4.0), (5L, 7L, ts(40), 5.0), (6L, 8L, ts(70), 6.0))
      q.processAllAvailable()
      val got2 = spark.read.parquet(outDir).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("dim_payload")).toMap
      assert(got2(4L) == "v3" && got2(5L) == "v2" && got2(6L) == "w1",
        s"republished versions must apply without restart, late events as-of correctly: $got2")
    } finally q.stop()
  }

  test("#115b top-k store restart continuity: totals and ranks survive stop/start from the checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val storeDir = tmp("topkrestart")
    val ck       = tmp("topkrestartck")
    val srcDir   = tmp("topkrestartsrc")
    def iso(minutes: Int): String =
      java.time.Instant.ofEpochMilli(ts(minutes).getTime).toString
    def writeFile(name: String, rows: Seq[(String, Long, Double)]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(srcDir, name),
        rows.map { case (t, u, v) => s"""{"ts":"$t","user_id":$u,"value":$v}""" }
          .mkString("\n").getBytes("UTF-8"))
    def run(): Unit = {
      val src = spark.readStream
        .schema("ts TIMESTAMP, user_id LONG, value DOUBLE")
        .json(srcDir)
      val q = TopKView.topK(src, storeDir, ck, k = 2).start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFile("f1.json", Seq((iso(0), 1L, 10.0), (iso(5), 2L, 5.0)))
    run() // first deployment, then STOP
    // second deployment: the windowed-agg state must resume from the
    // checkpoint, so user 2's new event ADDS to its prior total
    writeFile("f2.json", Seq((iso(20), 2L, 7.0), (iso(25), 3L, 1.0)))
    run()
    val store = spark.read.parquet(storeDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("total"), r.getAs[Long]("rn"))).toSet
    assert(store == Set((2L, 12.0, 1L), (1L, 10.0, 2L)),
      s"restart must fold prior state into new totals: $store")
  }

  test("#116 streaming HLL sketch view: per-window estimates exact at this cardinality, union rolls up") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, Double)]
    val df    = input.toDF().toDF("ts", "user_id", "value")
    val q = TopKView.windowedDistinctSketch(df, watermark = "10 minutes")
      .writeStream.format("memory").queryName("hllwin").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("hllck")).start()
    try {
      // window A [22:00,23:00): users 1..5 across TWO micro-batches — the
      // sketch buffer must merge across batches in the state store
      input.addData((ts(0), 1L, 0.0), (ts(1), 2L, 0.0), (ts(2), 3L, 0.0))
      q.processAllAvailable()
      input.addData((ts(3), 4L, 0.0), (ts(4), 5L, 0.0), (ts(5), 1L, 0.0))
      q.processAllAvailable()
      // window B [23:00,24:00): users 5,6; then advance watermark to close both
      input.addData((ts(65), 5L, 0.0), (ts(66), 6L, 0.0))
      q.processAllAvailable()
      input.addData((ts(300), 99L, 0.0))
      q.processAllAvailable()
      val wins = spark.table("hllwin")
      val byWindow = wins.collect()
        .map(r => r.getAs[Timestamp]("window_start") -> r.getAs[Long]("approx_users")).toMap
      assert(byWindow.values.toList.sorted == List(2L, 5L),
        s"HLL is exact in sparse mode at these cardinalities, got $byWindow")
      val total = TopKView.unionSketches(wins).collect()(0).getAs[Long]("approx_total_users")
      assert(total == 6L, s"union over windows must count distinct users across both, got $total")
    } finally q.stop()
  }

  test("#163 live transition matrix equals the batch matrix; micro-batching never changes counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // two users with interleaved journeys; one single-event user (no steps)
    val evs = Seq(
      TypedEvent(1, 7, ts(1), "view"), TypedEvent(2, 8, ts(1), "view"),
      TypedEvent(3, 7, ts(2), "cart"), TypedEvent(4, 8, ts(3), "view"),
      TypedEvent(5, 7, ts(4), "purchase"), TypedEvent(6, 8, ts(5), "cart"),
      TypedEvent(7, 7, ts(6), "view"), TypedEvent(8, 9, ts(6), "view"),
      TypedEvent(9, 8, ts(7), "purchase"), TypedEvent(10, 7, ts(8), "cart"),
    )
    // independent batch reference: per-key ordered consecutive pairs
    val expected = evs.groupBy(_.key).values.flatMap { ks =>
      ks.sortBy(e => (e.ts.getTime, e.eventId)).sliding(2).collect {
        case Seq(a, b) => (a.eventType, b.eventType)
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(expected.values.sum == evs.size - 3, "n-1 steps per key")

    def run(batches: Seq[Seq[TypedEvent]]): Map[(String, String), Long] = {
      val input = MemoryStream[TypedEvent]
      val name  = s"trans${batches.length}"
      val q = TransitionView.matrix(input.toDS())
        .writeStream.format("memory").queryName(name).outputMode(OutputMode.Complete())
        .option("checkpointLocation", tmp(name)).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getAs[String]("src"), r.getAs[String]("dst")) -> r.getAs[Long]("count"))
          .toMap
      } finally q.stop()
    }
    assert(run(Seq(evs)) == expected, "single batch must equal the batch-computed matrix")
    assert(run(evs.grouped(3).toSeq) == expected,
      "3-row micro-batches must produce the identical matrix (cross-batch steps stitched by state)")

    // restart continuity: stop after half the feed, resume from the
    // checkpoint with a NEW query — per-key state reloads, the step at
    // the stop/resume seam is still emitted, the matrix completes
    val ckpt = tmp("transRestart")
    val (h1, h2) = evs.splitAt(5)
    val in1 = MemoryStream[TypedEvent]
    val q1 = TransitionView.matrix(in1.toDS())
      .writeStream.format("memory").queryName("transA").outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt).start()
    try { in1.addData(h1: _*); q1.processAllAvailable() } finally q1.stop()
    val in2 = MemoryStream[TypedEvent]
    in2.addData(h1: _*) // replayed source; checkpointed offsets skip it
    val q2 = TransitionView.matrix(in2.toDS())
      .writeStream.format("memory").queryName("transB").outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt).start()
    try {
      in2.addData(h2: _*); q2.processAllAvailable()
      val resumed = spark.table("transB").collect()
        .map(r => (r.getAs[String]("src"), r.getAs[String]("dst")) -> r.getAs[Long]("count")).toMap
      assert(resumed == expected,
        s"restarted matrix must equal the uninterrupted one: $resumed vs $expected")
    } finally q2.stop()
  }

  test("#200b value-join stage-1 TTL: dead keys expire after watermark + ttl, live keys never; query healthy through the timeout path") {
    import org.apache.spark.sql.streaming.TestGroupState
    def st(initial: Option[JoinView.ValSideState], timedOut: Boolean) =
      TestGroupState.create[JoinView.ValSideState](
        optionalState = initial.map(org.apache.spark.api.java.Optional.of[JoinView.ValSideState])
          .getOrElse(org.apache.spark.api.java.Optional.empty[JoinView.ValSideState]()),
        timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout(),
        batchProcessingTimeMs = 0L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of[Long](1000L),
        hasTimedOut = timedOut)
    val joinVal: Change => Option[String] = c => c.payload.get("g")
    // a delete leaves dead state that schedules its own expiry
    val s1 = st(Some(JoinView.ValSideState("Vg1", Map("g" -> "g1"), 0L, 1L, live = true)), timedOut = false)
    val out1 = JoinView.valSideExpiring(60000L, leftSide = true, joinVal, preserved = false)(
      1L, Iterator(Change("delete", 1L, ts(0), Map.empty, seq = 2L)), s1).toSeq
    assert(out1.map(e => (e.bucket, e.live)) == Seq(("Vg1", false)), "bucket exit still emitted")
    assert(s1.exists && !s1.get.live && s1.getTimeoutTimestampMs.isPresent,
      "dead state kept for stale-drop, expiry scheduled")
    // a live row schedules NO timeout
    val s2 = st(None, timedOut = false)
    JoinView.valSideExpiring(60000L, leftSide = true, joinVal, preserved = false)(
      2L, Iterator(Change("insert", 2L, ts(0), Map("g" -> "g1"), seq = 1L)), s2).toSeq
    assert(s2.exists && s2.get.live && !s2.getTimeoutTimestampMs.isPresent,
      "live rows never expire")
    // the timeout fires: state removed, nothing emitted (retraction
    // already went out with the death)
    val s3 = st(Some(JoinView.ValSideState("", Map.empty, 0L, 2L, live = false)), timedOut = true)
    val out3 = JoinView.valSideExpiring(60000L, leftSide = true, joinVal, preserved = false)(
      1L, Iterator.empty, s3).toSeq
    assert(out3.isEmpty && !s3.exists, "expiry drops the tombstone silently")

    // end-to-end: the expiring variant joins, retracts, and keeps
    // processing through watermark advances that execute the timeout path
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val l = MemoryStream[Change]; val r = MemoryStream[Change]
    val q = IncrementalView.withRelaxedWatermarkCheck(spark) {
      JoinView.materializeValueJoinExpiring(
          l.toDS(), r.toDS(),
          c => c.payload.get("g"), c => c.payload.get("g"),
          watermarkDelay = "1 second", tombstoneTtlMs = 1000L)
        .toDF()
        .writeStream.format("memory").queryName("vj_ttl").outputMode(OutputMode.Append())
        .option("checkpointLocation", tmp("vjttl")).start()
    }
    try {
      l.addData(Change("insert", 1L, ts(0), Map("g" -> "g1", "n" -> "a"), 1L))
      r.addData(Change("insert", 1L, ts(0), Map("g" -> "g1", "t" -> "x"), 1L))
      q.processAllAvailable()
      l.addData(Change("delete", 1L, ts(1), Map.empty, 2L))
      q.processAllAvailable()
      // advance the watermark far past delete+ttl across two batches
      l.addData(Change("insert", 2L, ts(60), Map("g" -> "g2", "n" -> "b"), 3L))
      r.addData(Change("insert", 2L, ts(60), Map("g" -> "g2", "t" -> "y"), 3L))
      q.processAllAvailable()
      l.addData(Change("insert", 3L, ts(120), Map("g" -> "g2", "n" -> "c"), 4L))
      q.processAllAvailable()
      val rows = spark.table("vj_ttl").collect().toSeq
      assert(rows.exists(r0 => r0.getAs[String]("op") == "upsert"
        && r0.getAs[Map[String, String]]("l_payload").get("n").contains("a")), "pair joined")
      assert(rows.exists(_.getAs[String]("op") == "delete"), "pair retracted on delete")
      assert(rows.exists(r0 => r0.getAs[String]("op") == "upsert"
        && r0.getAs[Map[String, String]]("l_payload").get("n").contains("c")),
        "rows after the expiry horizon still join")
    } finally q.stop()
  }

  test("#237 streaming near-dup tier: stream verdicts == Dedup.incrementalDedup batch verdicts on the same boundary") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the EXACT d07 setup on the real documents table: corpus = the
    // standing sources, new batch = src18/src19 — the batch operator and
    // the stream judge the same boundary, against the same published index
    val docs  = graft.sources.Tables.documents(spark, sf)
    val isNew = col("source").isin("src18", "src19")
    val (indexDir, outDir, dlqDir) = (tmp("ndidx"), tmp("ndout"), tmp("nddlq"))
    CurationStream.publishDedupIndex(docs.filter(!isNew), indexDir)
    val newDocs = docs.filter(isNew).select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), ts(0), r.getAs[String]("text"))).toSeq
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = CurationStream.dedupVerdictsStream(spark,
        input.toDF().toDF("doc_id", "ts", "text"), indexDir, outDir, dlqDir)
      .option("checkpointLocation", tmp("ndck")).start()
    try {
      input.addData(newDocs: _*)
      q.processAllAvailable()
    } finally q.stop()
    def tup(r: org.apache.spark.sql.Row) = (r.getAs[Long]("doc_id"), r.getAs[String]("verdict"),
      Option(r.getAs[Any]("match_doc")), Option(r.getAs[Any]("jaccard")))
    val got  = spark.read.parquet(outDir)
      .select("doc_id", "verdict", "match_doc", "jaccard").collect().map(tup).toSet
    val want = graft.operators.Dedup.incrementalDedup(spark, sf).collect().map(tup).toSet
    assert(got == want, s"stream verdicts must equal the batch operator's:\n got ${got.size} rows\n want ${want.size} rows")
    assert(want.exists(_._2 != "novel"), "the fixture must exercise dup verdicts, not only novel")
    val dlqFiles = Option(new java.io.File(dlqDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    assert(dlqFiles.isEmpty, "clean feed must produce no dead letters")
  }

  test("#237b republished index applies at the NEXT micro-batch; poison docs dead-letter, never judged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (indexDir, outDir, dlqDir) = (tmp("nd2idx"), tmp("nd2out"), tmp("nd2dlq"))
    val corpusText = "the quick brown fox jumps over the lazy dog again and again"
    CurationStream.publishDedupIndex(
      Seq((100L, corpusText)).toDF("doc_id", "text"), indexDir)
    val input = MemoryStream[(Option[Long], Timestamp, String)]
    val q = CurationStream.dedupVerdictsStream(spark,
        input.toDF().toDF("doc_id", "ts", "text"), indexDir, outDir, dlqDir)
      .option("checkpointLocation", tmp("nd2ck")).start()
    try {
      // batch 1: an exact dup, a near dup (drops one word: jaccard 7/8),
      // a novel doc, and two POISON rows (null id / empty text)
      input.addData(
        (Some(1L), ts(0), corpusText),
        (Some(2L), ts(0), "the quick brown fox jumps over the lazy dog again and"),
        (Some(3L), ts(0), "completely unrelated words about databases and scala and spark streams"),
        (None, ts(0), "poison row without a doc id"),
        (Some(4L), ts(0), "  "))
      q.processAllAvailable()
      val v1 = spark.read.parquet(outDir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
      assert(v1 == Map(1L -> "exact_dup", 2L -> "near_dup", 3L -> "novel"), s"batch-1 verdicts: $v1")
      val dead = spark.read.parquet(dlqDir).collect().map(_.getAs[String]("reason")).sorted.toSeq
      assert(dead == Seq("empty_text", "null_doc_id"), s"dead letters: $dead")
      // REPUBLISH the index with doc 3's text admitted to the corpus —
      // the running query must see it at its next batch, no restart
      CurationStream.publishDedupIndex(Seq(
        (100L, corpusText),
        (101L, "completely unrelated words about databases and scala and spark streams"))
        .toDF("doc_id", "text"), indexDir)
      input.addData((Some(5L), ts(1), "completely unrelated words about databases and scala and spark streams"))
      q.processAllAvailable()
      val v2 = spark.read.parquet(outDir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
      assert(v2(5L) == "exact_dup", s"republished index must apply to the next batch: $v2")
    } finally q.stop()
  }

  test("#237c versioned index publish: republish never deletes the live version; prune GCs superseded ones") {
    import spark.implicits._
    val indexDir = tmp("ndver")
    val v1 = CurationStream.publishDedupIndex(
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"), indexDir)
    assert(v1.endsWith("v=1"), s"first publish under v=1: $v1")
    assert(CurationStream.resolveIndexDir(spark, indexDir) == v1)
    // an in-flight batch holds a reader on v=1; a republish must not
    // touch its files (the in-place overwrite would FileNotFound it)
    val v1Hashes = spark.read.parquet(s"$v1/hashes")
    val v2 = CurationStream.publishDedupIndex(
      Seq((1L, "alpha beta gamma delta epsilon zeta"),
          (2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text"), indexDir)
    assert(v2.endsWith("v=2") && CurationStream.resolveIndexDir(spark, indexDir) == v2)
    assert(v1Hashes.count() == 1L, "v=1 files must survive the republish for in-flight readers")
    assert(spark.read.parquet(s"$v2/hashes").count() == 2L)
    CurationStream.pruneDedupIndex(spark, indexDir, keep = 1)
    assert(!new java.io.File(v1.stripPrefix("file:")).exists(), "prune GCs the superseded version")
    assert(CurationStream.resolveIndexDir(spark, indexDir) == v2, "prune never drops CURRENT")
  }

  test("#237d crash-replayed micro-batch overwrites its own partition in BOTH sinks (verdicts and DLQ)") {
    import spark.implicits._
    val (indexDir, outDir, dlqDir) = (tmp("ndr_idx"), tmp("ndr_out"), tmp("ndr_dlq"))
    CurationStream.publishDedupIndex(
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"), indexDir)
    val batch = Seq(
      (Some(10L), ts(0), "alpha beta gamma delta epsilon zeta"),
      (Some(11L), ts(0), "totally novel words never seen in the corpus before"),
      (None: Option[Long], ts(0), "poison without an id"))
      .toDF("doc_id", "ts", "text")
    // foreachBatch re-invoked with the SAME batchId = the crash-replay shape
    CurationStream.processVerdictBatch(spark, batch, 7L, indexDir, outDir, dlqDir)
    CurationStream.processVerdictBatch(spark, batch, 7L, indexDir, outDir, dlqDir)
    val verdicts = spark.read.parquet(outDir).collect()
    assert(verdicts.length == 2, s"replay must not duplicate verdicts: ${verdicts.length}")
    val dead = spark.read.parquet(dlqDir).collect()
    assert(dead.length == 1, s"replay must not duplicate dead letters: ${dead.length}")
    assert(dead.head.getAs[String]("reason") == "null_doc_id")
  }
}

class SampleViewSpec extends SparkSpec {
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target/streaming-tmp").toAbsolutePath, prefix).toString

  test("#330 streaming reservoir: store equals the batch bottom-k over any micro-batch split; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Long, String)]
    val df = input.toDF().toDF("stratum", "id", "payload")
    val storeDir = tmp("samplestore")
    val q = SampleView.sample(df, storeDir, tmp("sampleck"), k = 4).start()
    try {
      val all = (1L to 40L).map(i => (if (i % 2 == 0) "a" else "b", i, s"p$i"))
      // three uneven micro-batches
      input.addData(all.take(3): _*); q.processAllAvailable()
      input.addData(all.slice(3, 25): _*); q.processAllAvailable()
      input.addData(all.drop(25): _*); q.processAllAvailable()
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expect = all.groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy(r => (md5hex(r._2.toString), r._2)).take(4)
      }.toSet
      def store() = spark.read.parquet(storeDir).collect()
        .map(r => (r.getAs[String]("stratum"), r.getAs[Long]("id"), r.getAs[String]("payload"))).toSet
      assert(store() == expect, s"store must equal the batch bottom-k: ${store()}")
      // at-least-once: redeliver a batch spanning both strata — unchanged
      SampleView.updateBatch(
        all.slice(10, 30).toDF("stratum", "id", "payload"), storeDir, k = 4)
      assert(store() == expect, "replay changed the reservoir")
    } finally q.stop()
  }
}

class DriftStreamSpec extends SparkSpec {
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target/streaming-tmp").toAbsolutePath, prefix).toString

  test("#336 live CUSUM equals the q128 batch closed form over any in-order micro-batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the real sf0.001 feed, in (ts, event_id) order per key
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_type").as("key"), col("event_id").as("eventId"),
        col("ts"), round(col("value") * 10000).cast("long").as("v4"))
      .as[CusumEvent].collect()
      .sortBy(e => (e.ts.getTime, e.eventId))
    // reference means exactly as q128 trains them (sum DIV n per key)
    val mu4 = ev.groupBy(_.key).map { case (k, es) => k -> es.map(_.v4).sum / es.length }
    // expected: the sequential fold (q128's recursion) per key
    val expect = ev.groupBy(_.key).map { case (k, es) =>
      var s = 0L; var mx = 0L; var al = 0L; var first = -1L
      es.sortBy(e => (CdcMaterializer.micros(e.ts), e.eventId)).foreach { e =>
        s = math.max(0L, s + e.v4 - mu4(k) - 100000L)
        mx = math.max(mx, s)
        if (s > 2000000L) { al += 1; if (first < 0) first = CdcMaterializer.micros(e.ts) }
      }
      k -> (es.length.toLong, mx, al, first)
    }
    val input = MemoryStream[CusumEvent]
    val q = DriftStream.monitor(input.toDS(), mu4).writeStream
      .outputMode("update").format("memory").queryName("cusum_live")
      .option("checkpointLocation", tmp("cusumck")).start()
    try {
      // three uneven in-order batches
      input.addData(ev.take(100).toSeq: _*); q.processAllAvailable()
      input.addData(ev.slice(100, 617).toSeq: _*); q.processAllAvailable()
      input.addData(ev.drop(617).toSeq: _*); q.processAllAvailable()
      val got = spark.sql("select * from cusum_live").as[CusumReport].collect()
        .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.nTotal) }
      expect.foreach { case (k, (n, mx, al, first)) =>
        val g = got(k)
        assert(g.nTotal == n, s"$k n")
        assert(g.maxS == mx, s"$k maxS: got ${g.maxS} want $mx")
        assert(g.alarms == al, s"$k alarms: got ${g.alarms} want $al")
        assert(g.firstAlarmUs == first, s"$k firstAlarm")
      }
      assert(expect.values.map(_._3).sum > 0, "the feed must produce alarms")
    } finally q.stop()
  }
}
