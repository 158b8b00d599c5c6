package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.Row

import graft.SparkSpec

/** SURVEY.md §2.3 #171 — the generic incremental-view planner: SQL in,
  * continuously maintained view out, proven equal to BATCH recompute of
  * the same SQL over the feed's final state, with retraction semantics
  * and batching invariance intact (the #39b contract, now reached
  * through one `materialize(sql)` API instead of hand-built folds).
  */
class IncrementalPlannerSpec extends SparkSpec {

  private def ts(minutes: Int): Timestamp = new Timestamp(1700000000000L + minutes * 60000L)

  private def tmp(prefix: String): String = {
    val root = new java.io.File("target/streaming-tmp").toPath.toAbsolutePath
    Files.createDirectories(root)
    Files.createTempDirectory(root, prefix).toString
  }

  /** Batch LWW fold of a change list → final live payloads by key. */
  private def finalState(changes: Seq[Change]): Map[Long, Map[String, String]] =
    changes
      .groupBy(_.key)
      .view.mapValues { cs =>
        val last = cs.sortBy(c => (CdcMaterializer.micros(c.ts), c.seq)).last
        if (last.op == "delete") None else Some(last.payload)
      }
      .collect { case (k, Some(p)) => k -> p }
      .toMap

  // one shared scenario: users (key space 1-4) and orders (same key
  // space for the #85 join semantic), with group moves, predicate
  // moves, out-of-order stale changes, and deletes on both feeds
  private val userChanges = Seq(
    Change("insert", 1L, ts(0), Map("name" -> "ann", "city" -> "ber"), 1L),
    Change("insert", 2L, ts(1), Map("name" -> "bob", "city" -> "ber"), 2L),
    Change("insert", 3L, ts(2), Map("name" -> "cat", "city" -> "par"), 3L),
    Change("insert", 4L, ts(3), Map("name" -> "dan", "city" -> "par"), 4L),
    Change("update", 2L, ts(10), Map("name" -> "bob", "city" -> "par"), 5L), // group move ber→par
    Change("update", 3L, ts(4), Map("name" -> "STALE", "city" -> "xxx"), 1L), // loses to seq-3 tie rules? ts(4)>ts(2) wins... keep ordered
    Change("delete", 4L, ts(12), Map.empty, 6L),
    Change("update", 3L, ts(3), Map("name" -> "late-stale", "city" -> "old"), 0L), // older than ts(4): stale-dropped
  )
  private val orderChanges = Seq(
    Change("insert", 1L, ts(0), Map("amount" -> "10"), 1L),
    Change("insert", 2L, ts(1), Map("amount" -> "5"), 2L),
    Change("insert", 3L, ts(2), Map("amount" -> "50"), 3L),
    Change("insert", 4L, ts(3), Map("amount" -> "7"), 4L),
    Change("update", 1L, ts(9), Map("amount" -> "25"), 5L),  // moves across the >20 predicate
    Change("delete", 3L, ts(11), Map.empty, 6L),             // retracts the biggest contributor
  )

  /** Run a planned view over `batches` of changes per feed, return the
    * memory-sink table name.
    */
  private def runView(
      sql: String,
      name: String,
      batches: Seq[Map[String, Seq[Change]]]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val feedNames = batches.flatMap(_.keys).distinct
    val inputs    = feedNames.map(n => n -> MemoryStream[Change]).toMap
    val planned   = IncrementalPlanner.materialize(
      spark, sql, inputs.map { case (n, s) => n -> s.toDS() })
    val q = planned.df.writeStream.format("memory").queryName(name)
      .outputMode(planned.outputMode)
      .option("checkpointLocation", tmp(name)).start()
    try {
      batches.foreach { batch =>
        batch.foreach { case (feed, cs) => if (cs.nonEmpty) inputs(feed).addData(cs: _*) }
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  /** Latest emission per group of an Update-mode aggregate view, dropping
    * groups whose live-row count hit zero (the view's tombstone).
    */
  private def aggState(table: String, groupCols: Seq[String]): Map[Seq[Any], Seq[Any]] =
    spark.table(table).collect().toSeq
      .groupBy(r => groupCols.map(c => r.getAs[Any](c)))
      .view.mapValues(_.last)
      .collect {
        case (g, r) if r.getAs[Long]("_live_rows") > 0L =>
          g -> r.toSeq.dropRight(1).drop(groupCols.size)
      }
      .toMap

  /** Fold an Append-mode row-changefeed into the view's final state. */
  private def rowState(table: String, cols: Seq[String]): Map[Long, Seq[Any]] =
    spark.table(table).collect().toSeq
      .sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("seq")))
      .foldLeft(Map.empty[Long, Seq[Any]]) { (m, r) =>
        if (r.getAs[String]("op") == "delete") m - r.getAs[Long]("key")
        else m + (r.getAs[Long]("key") -> cols.map(c => r.getAs[Any](c)))
      }

  test("#171a planned filtered aggregate == batch recompute; retraction + group moves") {
    val sql = "SELECT city, count(*) AS n, sum(amount) AS total FROM activity WHERE amount > 4 GROUP BY city"
    // one feed carrying city+amount per key (join case comes later)
    val feed = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "5"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "50"), 3L),
      Change("insert", 4L, ts(3), Map("city" -> "par", "amount" -> "3"), 4L), // filtered out (amount <= 4)
      Change("update", 2L, ts(10), Map("city" -> "par", "amount" -> "6"), 5L), // group move
      Change("update", 4L, ts(11), Map("city" -> "par", "amount" -> "9"), 6L), // moves INTO the predicate
      Change("update", 1L, ts(4), Map("city" -> "xxx", "amount" -> "999"), 0L), // stale: older than nothing? ts(4)>ts(0) applies
      Change("update", 1L, ts(12), Map("city" -> "ber", "amount" -> "11"), 7L),
      Change("delete", 3L, ts(13), Map.empty, 8L), // retracts par's biggest row
    )
    runView(sql, "pv_agg", Seq(Map("activity" -> feed)))
    val got = aggState("pv_agg", Seq("city"))
    // batch recompute over the feed's final LWW state
    val fs = finalState(feed)
    // (toSeq first: collecting tuples straight from a Map would collapse
    // same-city rows into one entry)
    val live = fs.toSeq.collect { case (_, p) if p("amount").toDouble > 4 => (p("city"), p("amount").toDouble) }
    val want = live.groupBy(_._1).map { case (c, vs) =>
      Seq[Any](c) -> Seq[Any](vs.size.toLong, vs.map(_._2).sum)
    }
    assert(got == want, s"view $got != batch $want")
    // the retraction visibly happened: par's total excludes the deleted 50
    assert(got(Seq("par"))(1) == 6.0 + 9.0)
  }

  test("#171b planned two-feed join == batch join; delete on either side retracts") {
    val sql = "SELECT l.name, r.amount FROM users l JOIN orders r ON l.key = r.key WHERE r.amount > 4"
    runView(sql, "pv_join", Seq(Map("users" -> userChanges, "orders" -> orderChanges)))
    val got = rowState("pv_join", Seq("name", "amount"))
    val (us, os) = (finalState(userChanges), finalState(orderChanges))
    val want = us.keySet.intersect(os.keySet).toSeq
      .filter(k => os(k)("amount").toDouble > 4)
      .map(k => k -> Seq[Any](us(k)("name"), os(k)("amount")))
      .toMap
    assert(got == want, s"view $got != batch $want")
    // order 3 (deleted) and user 4 (deleted) are gone from the view
    assert(!got.contains(3L) && !got.contains(4L))
  }

  test("#171c planned join+aggregate == batch recompute over final states") {
    val sql = "SELECT l.city, count(*) AS n, sum(r.amount) AS total, avg(r.amount) AS mean " +
      "FROM users l JOIN orders r ON l.key = r.key GROUP BY l.city"
    runView(sql, "pv_joinagg", Seq(Map("users" -> userChanges, "orders" -> orderChanges)))
    val got = aggState("pv_joinagg", Seq("city"))
    val (us, os) = (finalState(userChanges), finalState(orderChanges))
    val want = us.keySet.intersect(os.keySet).toSeq
      .map(k => (us(k)("city"), os(k)("amount").toDouble))
      .groupBy(_._1)
      .map { case (c, vs) =>
        Seq[Any](c) -> Seq[Any](vs.size.toLong, vs.map(_._2).sum, vs.map(_._2).sum / vs.size)
      }
    assert(got == want, s"view $got != batch $want")
  }

  test("#171d batching invariance: one batch vs change-by-change yields the same view") {
    val sql = "SELECT city, count(*) AS n, sum(amount) AS total FROM activity GROUP BY city"
    val feed = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "a", "amount" -> "1"), 1L),
      Change("update", 1L, ts(5), Map("city" -> "b", "amount" -> "2"), 2L),
      Change("insert", 2L, ts(1), Map("city" -> "a", "amount" -> "3"), 3L),
      Change("delete", 2L, ts(6), Map.empty, 4L),
      Change("insert", 3L, ts(2), Map("city" -> "b", "amount" -> "4"), 5L),
    )
    runView(sql, "pv_all", Seq(Map("activity" -> feed)))
    runView(sql, "pv_split", feed.map(c => Map("activity" -> Seq(c))))
    assert(aggState("pv_all", Seq("city")) == aggState("pv_split", Seq("city")))
    assert(aggState("pv_all", Seq("city")) ==
      Map(Seq[Any]("b") -> Seq[Any](2L, 6.0)), "a emptied (tombstoned), b holds keys 1+3")
  }

  test("#171f min/max views: deleting the extremum re-emits the next best (keyed re-aggregation)") {
    val sql = "SELECT city, min(amount) AS lo, max(amount) AS hi, count(*) AS n " +
      "FROM activity GROUP BY city"
    val feed1 = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "50"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "ber", "amount" -> "30"), 3L))
    val feed2 = Seq(Change("delete", 2L, ts(10), Map.empty, 4L)) // kills the max
    val feed3 = Seq(Change("update", 1L, ts(11), Map("city" -> "ber", "amount" -> "35"), 5L)) // kills the min
    runView(sql, "pv_minmax",
      Seq(Map("activity" -> feed1), Map("activity" -> feed2), Map("activity" -> feed3)))
    val rows = spark.table("pv_minmax").collect().toSeq
      .map(r => (r.getAs[Double]("lo"), r.getAs[Double]("hi"), r.getAs[Long]("n")))
    // three emissions: initial, max-retracted (next-best 30), min-moved
    assert(rows == Seq((10.0, 50.0, 3L), (10.0, 30.0, 2L), (30.0, 35.0, 2L)),
      s"extremum retraction must re-emit from the group's keyed state: $rows")
    // and equality with batch recompute at the end
    val fs = finalState(feed1 ++ feed2 ++ feed3)
    val amounts = fs.values.map(_("amount").toDouble)
    assert(rows.last == ((amounts.min, amounts.max, amounts.size.toLong)))
  }

  test("#171g view-over-view: a planner row view feeds a planner aggregate view") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val feed = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "3"), 2L),  // filtered at layer 1
      Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "50"), 3L),
      Change("update", 1L, ts(10), Map("city" -> "ber", "amount" -> "2"), 4L), // leaves the layer-1 view
      Change("insert", 4L, ts(11), Map("city" -> "par", "amount" -> "7"), 5L),
      Change("delete", 3L, ts(12), Map.empty, 6L),
    )
    val input = MemoryStream[Change]
    // layer 1: cleaned = filtered projection, AS A CHANGE STREAM
    val cleaned = IncrementalPlanner.materializeChanges(
      spark, "SELECT city, amount FROM activity WHERE amount > 4",
      Map("activity" -> input.toDS()))
    // layer 2: aggregate OVER the derived feed
    val layered = IncrementalPlanner.materialize(
      spark, "SELECT city, count(*) AS n, sum(amount) AS total FROM cleaned GROUP BY city",
      Map("cleaned" -> cleaned))
    val q = layered.df.writeStream.format("memory").queryName("pv_layered")
      .outputMode(layered.outputMode)
      .option("checkpointLocation", tmp("pvlay")).start()
    try {
      feed.grouped(2).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = aggState("pv_layered", Seq("city"))
    // batch truth: final states surviving the layer-1 predicate
    val want = finalState(feed).toSeq
      .collect { case (_, p) if p("amount").toDouble > 4 => (p("city"), p("amount").toDouble) }
      .groupBy(_._1)
      .map { case (c, vs) => Seq[Any](c) -> Seq[Any](vs.size.toLong, vs.map(_._2).sum) }
    // ber emptied (key 1 left the view, key 2 never entered) -> tombstoned;
    // par holds only key 4 after key 3's delete propagated through both layers
    assert(got == want && got == Map(Seq[Any]("par") -> Seq[Any](1L, 7.0)),
      s"layered view must equal batch recompute: $got vs $want")
  }

  test("#171h expiring views: tombstones leave the store after ttl; retraction survives expiry") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val planned = IncrementalPlanner.materializeExpiring(
      spark, "SELECT city, count(*) AS n, sum(amount) AS total FROM activity GROUP BY city",
      Map("activity" -> input.toDS()),
      watermarkDelay = "1 second", tombstoneTtlMs = 1000L)
    val q = IncrementalView.withRelaxedWatermarkCheck(spark) {
      planned.df.writeStream.format("memory").queryName("pv_ttl")
        .outputMode(planned.outputMode)
        .option("checkpointLocation", tmp("pvttl")).start()
    }
    try {
      input.addData(
        Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "10"), 1L),
        Change("insert", 2L, ts(0), Map("city" -> "ber", "amount" -> "5"), 2L))
      q.processAllAvailable()
      input.addData(Change("delete", 1L, ts(1), Map.empty, 3L))
      q.processAllAvailable()
      // advance the watermark far past delete + ttl → tombstone expires
      input.addData(Change("insert", 3L, ts(60), Map("city" -> "par", "amount" -> "1"), 4L))
      q.processAllAvailable()
      input.addData(Change("insert", 4L, ts(120), Map("city" -> "par", "amount" -> "2"), 5L))
      q.processAllAvailable()
      def berState = aggState("pv_ttl", Seq("city")).get(Seq[Any]("ber"))
      assert(berState.contains(Seq[Any](1L, 5.0)), s"retraction must survive tombstone expiry: $berState")
    } finally q.stop()
    // store-removal proof at the fold level (#39e pattern; the watermark
    // filter blocks any end-to-end straggler from reaching the state):
    // a dead contribution schedules its expiry, the firing timeout
    // removes it silently, a live one never arms a timer
    import org.apache.spark.sql.streaming.TestGroupState
    def st(initial: Option[PlannedContrib], timedOut: Boolean) = TestGroupState.create[PlannedContrib](
      optionalState = initial.map(org.apache.spark.api.java.Optional.of[PlannedContrib])
        .getOrElse(org.apache.spark.api.java.Optional.empty[PlannedContrib]()),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout(),
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of[Long](1000L),
      hasTimedOut = timedOut)
    // the wrapper's contract is orthogonal to the inner fold, so a
    // no-op inner isolates exactly the arming/removal behavior
    val fold = IncrementalPlanner.expiring(Some(("1 second", 60000L)),
      (k: Long, cs: Iterator[Change], s: org.apache.spark.sql.streaming.GroupState[PlannedContrib]) =>
        Iterator.empty)
    val live = PlannedContrib(Seq("ber"), Seq(10.0), 0L, 1L, live = true)
    val s1b = st(Some(PlannedContrib(Nil, Nil, 0L, 2L, live = false)), timedOut = false)
    fold(1L, Iterator.empty, s1b)
    assert(s1b.getTimeoutTimestampMs.isPresent, "dead contribution must schedule its expiry")
    val s2 = st(Some(PlannedContrib(Nil, Nil, 0L, 2L, live = false)), timedOut = true)
    assert(fold(1L, Iterator.empty, s2).isEmpty && s2.isRemoved,
      "fired timeout must remove the dead contribution silently")
    val s3 = st(Some(live), timedOut = false)
    fold(2L, Iterator.empty, s3)
    assert(!s3.getTimeoutTimestampMs.isPresent, "live contributions never arm timers")
  }

  test("#171i HAVING: a group crossing the threshold emits its view-exit and re-entry") {
    val sql = "SELECT city, sum(amount) AS total FROM activity GROUP BY city HAVING total > 20"
    val batches = Seq(
      Seq(Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "15"), 1L),
        Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "10"), 2L)), // total 25: in
      Seq(Change("delete", 2L, ts(10), Map.empty, 3L)),                           // total 15: EXITS the view
      Seq(Change("insert", 3L, ts(11), Map("city" -> "ber", "amount" -> "30"), 4L)), // total 45: re-enters
    )
    runView(sql, "pv_having", batches.map(b => Map("activity" -> b)))
    val rows = spark.table("pv_having").collect().toSeq
      .map(r => (r.getAs[Double]("total"), r.getAs[Long]("_live_rows")))
    // emission 2 is the HAVING tombstone: the group still has a live row
    // in the STORE but left the VIEW (_live_rows forced to 0)
    assert(rows == Seq((25.0, 2L), (15.0, 0L), (45.0, 2L)),
      s"threshold crossing must emit exit then re-entry: $rows")
    assert(aggState("pv_having", Seq("city")) == Map(Seq[Any]("ber") -> Seq[Any](45.0)))
  }

  test("#171j FK join (fact.fk = dim.key): dim updates fan out, FK moves re-group, dim delete retracts") {
    val sql = "SELECT c.city, count(*) AS n, sum(o.amount) AS total " +
      "FROM orders o JOIN customers c ON o.cust_id = c.key GROUP BY c.city"
    val customers = Seq(
      Change("insert", 10L, ts(0), Map("city" -> "ber"), 1L),
      Change("insert", 20L, ts(0), Map("city" -> "par"), 2L))
    val orders1 = Seq(
      Change("insert", 1L, ts(1), Map("cust_id" -> "10", "amount" -> "5"), 3L),
      Change("insert", 2L, ts(1), Map("cust_id" -> "10", "amount" -> "7"), 4L),
      Change("insert", 3L, ts(1), Map("cust_id" -> "20", "amount" -> "11"), 5L))
    val moves = Seq(
      Change("update", 2L, ts(10), Map("cust_id" -> "20", "amount" -> "7"), 6L), // FK move 10→20
      Change("delete", 3L, ts(11), Map.empty, 7L))
    val dimChange = Seq(
      Change("update", 10L, ts(20), Map("city" -> "muc"), 8L)) // dim update fans out to order 1
    runView(sql, "pv_fk", Seq(
      Map("customers" -> customers, "orders" -> orders1),
      Map("orders" -> moves),
      Map("customers" -> dimChange)))
    val got = aggState("pv_fk", Seq("city"))
    // batch truth: order 1 → cust 10 (muc, 5); order 2 → cust 20 (par, 7)
    assert(got == Map(
      Seq[Any]("muc") -> Seq[Any](1L, 5.0),
      Seq[Any]("par") -> Seq[Any](1L, 7.0)),
      s"FK-joined aggregate must track moves, deletes, and dim fan-out: $got")
    // and a dim DELETE retracts every subscribed fact
    runView(sql, "pv_fk2", Seq(
      Map("customers" -> customers, "orders" -> orders1),
      Map("customers" -> Seq(Change("delete", 10L, ts(30), Map.empty, 9L)))))
    val got2 = aggState("pv_fk2", Seq("city"))
    assert(got2 == Map(Seq[Any]("par") -> Seq[Any](1L, 11.0)),
      s"dim delete must retract all subscribed facts: $got2")
  }

  test("#171k agg-over-agg: per-city totals feed a totals-distribution view, retractions cross layers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    // layer 1: city -> total (as a changefeed keyed by group hash)
    val cityTotals = IncrementalPlanner.materializeAggChanges(
      spark, "SELECT city, sum(amount) AS total FROM activity GROUP BY city",
      Map("activity" -> input.toDS()))
    // layer 2: how many cities sit at each total
    val dist = IncrementalPlanner.materialize(
      spark, "SELECT total, count(*) AS n_cities FROM city_totals GROUP BY total",
      Map("city_totals" -> cityTotals))
    val q = dist.df.writeStream.format("memory").queryName("pv_dist")
      .outputMode(dist.outputMode)
      .option("checkpointLocation", tmp("pvdist")).start()
    try {
      input.addData(
        Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "10"), 1L),
        Change("insert", 2L, ts(1), Map("city" -> "par", "amount" -> "10"), 2L),
        Change("insert", 3L, ts(2), Map("city" -> "muc", "amount" -> "5"), 3L))
      q.processAllAvailable()
      assert(aggState("pv_dist", Seq("total")) == Map(
        Seq[Any]("10.0") -> Seq[Any](2L), Seq[Any]("5.0") -> Seq[Any](1L)),
        "initial distribution: two cities at 10, one at 5")
      // ber's total moves 10 -> 15: layer 2 must retract ber from the
      // 10-bucket and add it to 15 — a retraction CROSSING both layers
      input.addData(Change("insert", 4L, ts(10), Map("city" -> "ber", "amount" -> "5"), 4L))
      q.processAllAvailable()
      assert(aggState("pv_dist", Seq("total")) == Map(
        Seq[Any]("10.0") -> Seq[Any](1L), Seq[Any]("5.0") -> Seq[Any](1L),
        Seq[Any]("15.0") -> Seq[Any](1L)),
        s"total move must re-bucket the city: ${aggState("pv_dist", Seq("total"))}")
      // muc empties entirely: its layer-1 tombstone must remove it from
      // the distribution
      input.addData(Change("delete", 3L, ts(11), Map.empty, 5L))
      q.processAllAvailable()
      assert(aggState("pv_dist", Seq("total")) == Map(
        Seq[Any]("10.0") -> Seq[Any](1L), Seq[Any]("15.0") -> Seq[Any](1L)),
        s"emptied city must leave the distribution: ${aggState("pv_dist", Seq("total"))}")
    } finally q.stop()
  }

  test("#171l ORDER BY..LIMIT: live top-k; a retracted leader PROMOTES the group below the cut") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val planned = IncrementalPlanner.materializeTopK(
      spark, "SELECT city, sum(amount) AS total FROM activity GROUP BY city ORDER BY total DESC LIMIT 2",
      Map("activity" -> input.toDS()))
    val q = planned.df.writeStream.format("memory").queryName("pv_topk")
      .outputMode(planned.outputMode)
      .option("checkpointLocation", tmp("pvtopk")).start()
    def current(): Seq[(Long, String, Double)] = {
      val rows = spark.table("pv_topk").collect().toSeq
      val last = rows.map(_.getAs[Long]("_emit")).max
      rows.filter(_.getAs[Long]("_emit") == last)
        .map(r => (r.getAs[Long]("rank"), r.getAs[String]("city"), r.getAs[String]("total").toDouble))
        .sortBy(_._1)
    }
    try {
      input.addData(
        Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
        Change("insert", 2L, ts(1), Map("city" -> "par", "amount" -> "30"), 2L),
        Change("insert", 3L, ts(2), Map("city" -> "muc", "amount" -> "20"), 3L))
      q.processAllAvailable()
      assert(current() == Seq((1L, "ber", 50.0), (2L, "par", 30.0)), s"initial top-2: ${current()}")
      // the leader's only contribution is deleted: muc — previously
      // BELOW the cut — must be promoted into the list (full-group
      // state's whole reason to exist)
      input.addData(Change("delete", 1L, ts(10), Map.empty, 4L))
      q.processAllAvailable()
      assert(current() == Seq((1L, "par", 30.0), (2L, "muc", 20.0)),
        s"retraction must promote from below the cut: ${current()}")
      // a growing group overtakes: rank order refreshes
      input.addData(Change("insert", 4L, ts(11), Map("city" -> "muc", "amount" -> "25"), 5L))
      q.processAllAvailable()
      assert(current() == Seq((1L, "muc", 45.0), (2L, "par", 30.0)),
        s"overtake must re-rank: ${current()}")
    } finally q.stop()
  }

  test("#171m SELECT DISTINCT maintains the distinct-values view with retraction") {
    val sql = "SELECT DISTINCT city FROM activity WHERE amount > 4"
    val feed = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "6"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "9"), 3L),
      Change("insert", 4L, ts(3), Map("city" -> "muc", "amount" -> "3"), 4L), // filtered out
      Change("delete", 3L, ts(10), Map.empty, 5L),                            // par's only row
      Change("delete", 1L, ts(11), Map.empty, 6L),                            // ber keeps key 2
    )
    runView(sql, "pv_distinct", feed.map(c => Map("activity" -> Seq(c))))
    val got = aggState("pv_distinct", Seq("city")).keySet.map(_.head)
    assert(got == Set("ber"), s"par retracted with its last row, muc never qualified: $got")
    val parRows = spark.table("pv_distinct").collect()
      .filter(_.getAs[String]("city") == "par").map(_.getAs[Long]("_live_rows"))
    assert(parRows.toSeq == Seq(1L, 0L), "par must have entered then tombstoned")
  }

  /** The full sf0.001 events table as a change feed: each event is a
    * key, commit position = event time (the append-only reading).
    */
  private lazy val eventFeed: Seq[Change] = {
    import org.apache.spark.sql.functions._
    graft.sources.Tables.events(spark, sf).collect().toSeq
      .map { r =>
        Change("insert", r.getAs[Long]("event_id"), r.getAs[java.sql.Timestamp]("ts"),
          Map("event_type" -> r.getAs[String]("event_type"),
            "value" -> r.getAs[Double]("value").toString),
          r.getAs[Long]("event_id"))
      }
      .sortBy(c => (CdcMaterializer.micros(c.ts), c.seq))
  }

  /** Batch recompute of the q23-shaped windowed aggregate over a feed's
    * final LWW state: (hour-start micros, event_type) → (n, total).
    */
  private def windowTruth(changes: Seq[Change], durUs: Long, slideUs: Long,
      byType: Boolean): Map[Seq[Any], (Long, Double)] =
    finalState(changes).toSeq
      .flatMap { case (k, p) =>
        val t = changes.filter(_.key == k)
          .maxBy(c => (CdcMaterializer.micros(c.ts), c.seq))
        val tUs = CdcMaterializer.micros(t.ts)
        val last = Math.floorDiv(tUs, slideUs) * slideUs
        Iterator.iterate(last)(_ - slideUs).takeWhile(_ > tUs - durUs)
          .map(w => (w, p("event_type"), p("value").toDouble)).toSeq
      }
      .groupBy { case (w, et, _) =>
        if (byType) Seq[Any](w.toString, et) else Seq[Any](w.toString)
      }
      // aggregate totals in MICRO-UNIT integers, the engine's documented
      // fixed-point semantic — making the equality below BIT-exact
      .map { case (g, vs) => g -> (vs.size.toLong, vs.map(v => math.rint(v._3 * 1e6)).sum / 1e6) }

  test("#171o planned TUMBLING window view == batch recompute over sf0.001 events; late moves retract") {
    val sql = "SELECT window(ts_us, '1 hour') AS w, event_type, count(*) AS n, sum(value) AS total " +
      "FROM events GROUP BY window(ts_us, '1 hour'), event_type"
    val hourUs = 3600L * 1000000
    def check(table: String, changes: Seq[Change]): Unit = {
      val got  = aggState(table, Seq("w", "event_type"))
      val want = windowTruth(changes, hourUs, hourUs, byType = true)
      assert(got.keySet == want.keySet,
        s"window-group sets diverge: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
      got.foreach { case (g, vs) =>
        val (n, total) = want(g)
        assert(vs.head == n, s"group $g count: ${vs.head} != $n")
        assert(vs(1) == total, s"group $g total: ${vs(1)} != $total (must be BIT-equal, fixed-point)")
      }
    }
    runView(sql, "pv_win_a", Seq(Map("events" -> eventFeed)))
    check("pv_win_a", eventFeed)
    // cross-check against the BATCH q23 operator itself (hour buckets agree)
    import org.apache.spark.sql.functions._
    val q23 = graft.operators.Temporal.tumblingHour(spark, sf)
      .withColumn("w_us", unix_micros(to_timestamp(col("hour_start"))))
      .collect()
      .map(r => Seq[Any](r.getAs[Long]("w_us").toString, r.getAs[String]("event_type")) -> r.getAs[Long]("n"))
      .toMap
    val live = aggState("pv_win_a", Seq("w", "event_type"))
    assert(live.view.mapValues(_.head).toMap == q23, "planned view must agree with the batch q23 operator")
    // LATE-EVENT RETRACTION: updates move 40 keys ~90 minutes forward
    // (window move), 20 keys get deleted — the moved keys must leave
    // their old hour (tombstoning it when emptied) and enter the new one
    val moved = eventFeed.take(40).map { c =>
      Change("update", c.key, new java.sql.Timestamp(c.ts.getTime + 90L * 60000),
        c.payload, c.seq + 1000000L)
    }
    val gone = eventFeed.slice(40, 60).map(c =>
      Change("delete", c.key, new java.sql.Timestamp(c.ts.getTime + 1), Map.empty, c.seq + 1000000L))
    val all = eventFeed ++ moved ++ gone
    runView(sql, "pv_win_b", Seq(Map("events" -> eventFeed), Map("events" -> (moved ++ gone))))
    check("pv_win_b", all)
  }

  test("#171p planned SLIDING window view == batch recompute (2h window, 1h slide)") {
    val sql = "SELECT window(ts_us, '2 hours', '1 hour') AS w, count(*) AS n, sum(value) AS total " +
      "FROM events GROUP BY window(ts_us, '2 hours', '1 hour')"
    runView(sql, "pv_win_c", Seq(Map("events" -> eventFeed)))
    val got  = aggState("pv_win_c", Seq("w"))
    val want = windowTruth(eventFeed, 2 * 3600L * 1000000, 3600L * 1000000, byType = false)
    assert(got.keySet == want.keySet)
    got.foreach { case (g, vs) =>
      val (n, total) = want(g)
      assert(vs.head == n, s"group $g count: ${vs.head} != $n")
      assert(vs(1) == total, s"group $g total: ${vs(1)} != $total (must be BIT-equal, fixed-point)")
    }
    // every event lands in exactly two sliding windows
    assert(got.values.map(_.head.asInstanceOf[Long]).sum == 2L * eventFeed.size)
  }

  test("#171q windowed MIN/MAX: extremum leaving a window re-emits the next best per window") {
    val hourUs = 3600L * 1000000
    def at(h: Int, m: Int) = new Timestamp(3600000L * h + 60000L * m) // epoch-aligned hours
    val sql = "SELECT window(ts_us, '1 hour') AS w, max(v) AS mx, min(v) AS mn FROM f " +
      "GROUP BY window(ts_us, '1 hour')"
    val base = Seq(
      Change("insert", 1L, at(0, 5), Map("v" -> "10"), 1L),
      Change("insert", 2L, at(0, 20), Map("v" -> "50"), 2L), // hour-0 max
      Change("insert", 3L, at(0, 40), Map("v" -> "7"), 3L),  // hour-0 min
      Change("insert", 4L, at(1, 10), Map("v" -> "30"), 4L),
    )
    // key 2 MOVES to hour 1 (its new version's time): hour 0 must
    // re-emit max=10, hour 1 must re-emit max=50; deleting key 3
    // re-emits hour-0 min=10
    val moves = Seq(
      Change("update", 2L, at(1, 30), Map("v" -> "50"), 5L),
      Change("delete", 3L, at(1, 45), Map.empty, 6L),
    )
    runView(sql, "pv_win_mm", Seq(Map("f" -> base), Map("f" -> moves)))
    val got = aggState("pv_win_mm", Seq("w"))
    assert(got == Map(
      Seq[Any]((0L * hourUs).toString) -> Seq[Any](10.0, 10.0),
      Seq[Any]((1L * hourUs).toString) -> Seq[Any](50.0, 30.0)),
      s"windowed extrema after move+delete: $got")
  }

  test("#171r expression breadth: CASE/IN/IS NULL/string functions through a planned view == batch SQL") {
    // every added expression node in one view, verified against Spark's
    // OWN batch evaluation of the identical SQL over the final state
    val body = "upper(city) AS u, substring(name, 2, 3) AS mid, " +
      "concat(city, '-', name) AS cn, " +
      "CASE WHEN amount > 20 THEN 'big' WHEN amount > 5 THEN 'mid' ELSE 'small' END AS band, " +
      "coalesce(nick, name, 'anon') AS alias " +
      "FROM f WHERE city IN ('ber', 'par') AND nick IS NULL AND length(trim(name)) >= 3"
    val sql = s"SELECT $body" // the view's changefeed carries the key itself
    val feed = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "name" -> "annette", "amount" -> "25"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "par", "name" -> "bo ", "amount" -> "10"), 2L),   // length(trim) 2: out
      Change("insert", 3L, ts(2), Map("city" -> "ber", "name" -> "cate", "amount" -> "3"), 3L),
      Change("insert", 4L, ts(3), Map("city" -> "rom", "name" -> "dante", "amount" -> "9"), 4L),  // city out
      Change("insert", 5L, ts(4), Map("city" -> "par", "name" -> "eva", "amount" -> "8", "nick" -> "e"), 5L), // nick set: out
      Change("update", 3L, ts(10), Map("city" -> "par", "name" -> "cate", "amount" -> "21"), 6L), // band move
    )
    runView(sql, "pv_exprs", Seq(Map("f" -> feed)))
    val got = rowState("pv_exprs", Seq("u", "mid", "cn", "band", "alias"))
    // batch truth from Spark SQL itself over the final LWW state
    import spark.implicits._
    val fs = finalState(feed)
    val batch = fs.toSeq.map { case (k, p) =>
      (k, p.getOrElse("city", null), p.getOrElse("name", null), p.getOrElse("amount", null), p.getOrElse("nick", null))
    }.toDF("key", "city", "name", "amount", "nick")
    batch.createOrReplaceTempView("f_batch")
    val want = spark.sql(s"SELECT key, $body".replace("FROM f ", "FROM f_batch ")).collect()
      .map(r => r.getAs[Long]("key") ->
        Seq[Any](r.getAs[String]("u"), r.getAs[String]("mid"), r.getAs[String]("cn"),
          r.getAs[String]("band"), r.getAs[String]("alias")))
      .toMap
    assert(got == want, s"view $got != batch $want")
    assert(got.keySet == Set(1L, 3L), s"WHERE must keep exactly keys 1,3: ${got.keySet}")
    assert(got(3L)(3) == "big", "key 3's update must move its CASE band")
  }

  test("#171s LEFT OUTER key-equi join view: NULL row while unmatched, dim arrival upgrades, dim death downgrades") {
    val sql = "SELECT l.name, r.amount FROM users l LEFT JOIN orders r ON l.key = r.key"
    val batches = Seq(
      // user 1 arrives with NO order: visible with NULL amount
      Map("users" -> Seq(Change("insert", 1L, ts(0), Map("name" -> "ann"), 1L)),
        "orders" -> Seq(Change("insert", 2L, ts(0), Map("amount" -> "5"), 1L))), // order for absent user 2
      // order for user 1 arrives: the NULL row upgrades to the joined row
      Map("orders" -> Seq(Change("insert", 1L, ts(5), Map("amount" -> "10"), 2L)),
        "users" -> Seq(Change("insert", 2L, ts(5), Map("name" -> "bob"), 2L))),
      // order 1 deleted: user 1 DOWNGRADES back to the NULL row;
      // user 2 deleted: row 2 leaves the view entirely
      Map("orders" -> Seq(Change("delete", 1L, ts(10), Map.empty, 3L)),
        "users" -> Seq(Change("delete", 2L, ts(10), Map.empty, 3L))),
    )
    // after batch 2: both users joined
    runView(sql, "pv_lj_mid", batches.take(2))
    assert(rowState("pv_lj_mid", Seq("name", "amount")) ==
      Map(1L -> Seq[Any]("ann", "10"), 2L -> Seq[Any]("bob", "5")))
    // full run: user 1 back to NULL amount, user 2 gone — equal to the
    // batch LEFT JOIN over final states
    runView(sql, "pv_lj", batches)
    val got = rowState("pv_lj", Seq("name", "amount"))
    assert(got == Map(1L -> Seq[Any]("ann", null)),
      s"left join final state must keep the unmatched left row with NULL right: $got")
  }

  test("#171t LEFT OUTER FK join view: facts visible with NULL dim; dim lifecycle fans upserts, not deletes") {
    val sql = "SELECT f.item, d.city FROM facts f LEFT JOIN dims d ON f.custkey = d.key"
    val batches = Seq(
      // two facts subscribe to customer 7 before the dim exists
      Map("facts" -> Seq(
        Change("insert", 1L, ts(0), Map("item" -> "a", "custkey" -> "7"), 1L),
        Change("insert", 2L, ts(1), Map("item" -> "b", "custkey" -> "7"), 2L)),
        "dims" -> Nil),
      // the dim arrives: both facts upgrade from NULL city
      Map("dims" -> Seq(Change("insert", 7L, ts(5), Map("city" -> "ber"), 1L))),
      // the dim dies: both facts DOWNGRADE to NULL city (not deleted)
      Map("dims" -> Seq(Change("delete", 7L, ts(10), Map.empty, 2L))),
    )
    runView(sql, "pv_fklj_a", batches.take(1))
    assert(rowState("pv_fklj_a", Seq("item", "city")) ==
      Map(1L -> Seq[Any]("a", null), 2L -> Seq[Any]("b", null)),
      "unmatched facts must be visible with NULL dim columns")
    runView(sql, "pv_fklj_b", batches.take(2))
    assert(rowState("pv_fklj_b", Seq("item", "city")) ==
      Map(1L -> Seq[Any]("a", "ber"), 2L -> Seq[Any]("b", "ber")))
    runView(sql, "pv_fklj_c", batches)
    assert(rowState("pv_fklj_c", Seq("item", "city")) ==
      Map(1L -> Seq[Any]("a", null), 2L -> Seq[Any]("b", null)),
      "dim delete must retract the joined rows back to NULL rows, not remove the facts")
    // the dim-preserving direction is rejected fast
    intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT d.city FROM dims d LEFT JOIN facts f ON d.key = f.custkey",
        Map.empty)
    }
  }

  test("#171ac RIGHT OUTER join views: the mirrored preserve axis, key-equi and FK") {
    // key-equi: mirror of #171s — the RIGHT side stays visible while
    // its partner is absent or dead
    val rsql = "SELECT l.name, r.amount FROM users l RIGHT JOIN orders r ON l.key = r.key"
    val batches = Seq(
      // order 1 arrives with NO user: visible with NULL name; user 2
      // arrives with no order: NOT visible (left side is not preserved)
      Map("orders" -> Seq(Change("insert", 1L, ts(0), Map("amount" -> "5"), 1L)),
        "users" -> Seq(Change("insert", 2L, ts(0), Map("name" -> "bob"), 1L))),
      // user 1 arrives: NULL row upgrades; order 2 arrives: key 2 joins
      Map("users" -> Seq(Change("insert", 1L, ts(5), Map("name" -> "ann"), 2L)),
        "orders" -> Seq(Change("insert", 2L, ts(5), Map("amount" -> "9"), 2L))),
      // user 1 deleted: order 1 DOWNGRADES back to the NULL row;
      // order 2 deleted: key 2 leaves the view (preserved side died)
      Map("users" -> Seq(Change("delete", 1L, ts(10), Map.empty, 3L)),
        "orders" -> Seq(Change("delete", 2L, ts(10), Map.empty, 3L))),
    )
    runView(rsql, "pv_rj_mid", batches.take(2))
    assert(rowState("pv_rj_mid", Seq("name", "amount")) ==
      Map(1L -> Seq[Any]("ann", "5"), 2L -> Seq[Any]("bob", "9")))
    runView(rsql, "pv_rj", batches)
    assert(rowState("pv_rj", Seq("name", "amount")) == Map(1L -> Seq[Any](null, "5")),
      "right join must keep the unmatched RIGHT row with NULL left fields")

    // FK shape with the fact on the RIGHT: fact-preserving, so supported
    val fkSql = "SELECT f.item, d.city FROM dims d RIGHT JOIN facts f ON d.key = f.custkey"
    val fkBatches = Seq(
      Map("facts" -> Seq(
        Change("insert", 1L, ts(0), Map("item" -> "a", "custkey" -> "7"), 1L)),
        "dims" -> Nil),
      Map("dims" -> Seq(Change("insert", 7L, ts(5), Map("city" -> "ber"), 1L))),
      Map("dims" -> Seq(Change("delete", 7L, ts(10), Map.empty, 2L))),
    )
    runView(fkSql, "pv_fkrj_a", fkBatches.take(1))
    assert(rowState("pv_fkrj_a", Seq("item", "city")) == Map(1L -> Seq[Any]("a", null)))
    runView(fkSql, "pv_fkrj_b", fkBatches.take(2))
    assert(rowState("pv_fkrj_b", Seq("item", "city")) == Map(1L -> Seq[Any]("a", "ber")))
    runView(fkSql, "pv_fkrj_c", fkBatches)
    assert(rowState("pv_fkrj_c", Seq("item", "city")) == Map(1L -> Seq[Any]("a", null)),
      "dim death under RIGHT JOIN must downgrade facts to NULL dim columns, not delete them")

    // dim-preserving FK forms are rejected fast, both directions
    intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT f.item FROM facts f RIGHT JOIN dims d ON f.custkey = d.key", Map.empty)
    }
    intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT f.item FROM facts f FULL JOIN dims d ON f.custkey = d.key", Map.empty)
    }
  }

  test("#171ad FULL OUTER key-equi join view: either side alone is visible; both dead leaves") {
    val sql = "SELECT l.name, r.amount FROM users l FULL JOIN orders r ON l.key = r.key"
    val batches = Seq(
      // key 1: left only; key 2: right only; key 3: both
      Map("users" -> Seq(
        Change("insert", 1L, ts(0), Map("name" -> "ann"), 1L),
        Change("insert", 3L, ts(1), Map("name" -> "cat"), 2L)),
        "orders" -> Seq(
          Change("insert", 2L, ts(0), Map("amount" -> "7"), 1L),
          Change("insert", 3L, ts(1), Map("amount" -> "50"), 2L))),
      // user 3 dies: key 3 degrades to right-only; order 2 dies: key 2
      // leaves (its only live side died)
      Map("users" -> Seq(Change("delete", 3L, ts(5), Map.empty, 3L)),
        "orders" -> Seq(Change("delete", 2L, ts(5), Map.empty, 3L))),
      // order 3 dies too: key 3 leaves entirely; order 1 arrives: key 1
      // upgrades from left-only to joined
      Map("orders" -> Seq(
        Change("delete", 3L, ts(10), Map.empty, 4L),
        Change("insert", 1L, ts(10), Map("amount" -> "10"), 5L))),
    )
    runView(sql, "pv_fj_a", batches.take(1))
    assert(rowState("pv_fj_a", Seq("name", "amount")) == Map(
      1L -> Seq[Any]("ann", null),
      2L -> Seq[Any](null, "7"),
      3L -> Seq[Any]("cat", "50")),
      "full join must show left-only, right-only, and joined keys at once")
    runView(sql, "pv_fj_b", batches.take(2))
    assert(rowState("pv_fj_b", Seq("name", "amount")) == Map(
      1L -> Seq[Any]("ann", null),
      3L -> Seq[Any](null, "50")))
    runView(sql, "pv_fj", batches)
    assert(rowState("pv_fj", Seq("name", "amount")) == Map(1L -> Seq[Any]("ann", "10")),
      "both sides dead must tombstone the key; a late partner must upgrade a preserved row")

    // a GLOBAL aggregate composes over the FULL JOIN source (the
    // Project→empty-grouping-Aggregate dispatch)
    val aggSql = "SELECT count(*) AS n FROM users l FULL JOIN orders r ON l.key = r.key"
    runView(aggSql, "pv_fj_agg", batches)
    assert(aggState("pv_fj_agg", Nil) == Map(Seq.empty[Any] -> Seq[Any](1L)))
  }

  test("#171ae global aggregates (no GROUP BY): one group, full retraction, empty-view tombstone") {
    val sql = "SELECT count(*) AS n, sum(amount) AS s, min(amount) AS mn, " +
      "count(DISTINCT city) AS nc FROM t"
    def e(op: String, k: Long, m: Int, city: String, amount: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String]
        else Map("city" -> city, "amount" -> amount), seq)
    val batches = Seq(
      Map("t" -> Seq(
        e("insert", 1L, 0, "ber", "10", 1L),
        e("insert", 2L, 1, "ber", "5", 2L),
        e("insert", 3L, 2, "par", "20", 3L))),
      Map("t" -> Seq(e("delete", 3L, 5, "", "", 4L))),  // par's only row: nc 2→1, mn stays 5
      Map("t" -> Seq(
        e("delete", 1L, 10, "", "", 5L),
        e("delete", 2L, 10, "", "", 6L))),               // view empties
    )
    runView(sql, "pv_glob_a", batches.take(1))
    assert(aggState("pv_glob_a", Nil) == Map(Seq.empty[Any] -> Seq[Any](3L, 35.0, 5.0, 2L)))
    runView(sql, "pv_glob_b", batches.take(2))
    assert(aggState("pv_glob_b", Nil) == Map(Seq.empty[Any] -> Seq[Any](2L, 15.0, 5.0, 1L)),
      "retraction must cross the global group: count, sum, extremum re-agg, distinct city count")
    runView(sql, "pv_glob", batches)
    assert(aggState("pv_glob", Nil).isEmpty,
      "deleting every row must tombstone the global group (_live_rows=0)")
  }

  test("#171af date/time functions: field filters, date_trunc grouping, datediff — retraction included") {
    def e(op: String, k: Long, m: Int, evTs: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String] else Map("ev_ts" -> evTs), seq)
    val batches = Seq(
      Map("t" -> Seq(
        e("insert", 1L, 0, "2024-03-15 10:30:00", 1L),
        e("insert", 2L, 1, "2024-03-15 23:59:59", 2L),
        e("insert", 3L, 2, "2024-04-01 00:00:00", 3L),
        e("insert", 4L, 3, "2023-12-31 10:00:00", 4L),      // year-filtered out of the agg
        e("insert", 5L, 4, "2024-05-01 10:00:00", 5L),      // month-filtered out of the agg
        e("insert", 6L, 5, "1710500000000000", 6L))),        // epoch micros = 2024-03-15 10:53:20 UTC
      Map("t" -> Seq(e("update", 2L, 10, "2024-03-16 00:00:01", 7L))), // moves a day AND exits hour>=10
      Map("t" -> Seq(e("delete", 3L, 11, "", 8L))),                    // April's only row: day tombstones
    )

    // aggregate: daily counts via date_trunc grouping; the update MOVES
    // key 2 across day buckets, the delete empties April 1
    val aggSql = "SELECT date_trunc('day', ev_ts) AS d, count(*) AS n FROM t " +
      "WHERE year(ev_ts) = 2024 AND month(ev_ts) IN (3, 4) GROUP BY date_trunc('day', ev_ts)"
    runView(aggSql, "pv_dt_agg_a", batches.take(1))
    assert(aggState("pv_dt_agg_a", Seq("d")) == Map(
      Seq[Any]("2024-03-15 00:00:00") -> Seq[Any](3L),
      Seq[Any]("2024-04-01 00:00:00") -> Seq[Any](1L)))
    runView(aggSql, "pv_dt_agg", batches)
    assert(aggState("pv_dt_agg", Seq("d")) == Map(
      Seq[Any]("2024-03-15 00:00:00") -> Seq[Any](2L),
      Seq[Any]("2024-03-16 00:00:00") -> Seq[Any](1L)),
      "day move must retract+add across trunc buckets; emptied day must tombstone")

    // row view: field extraction + datediff, hour() predicate exit on
    // key 2's midnight update; hand-computed truth (2024-03-15 = Friday
    // → Spark dayofweek 6; 2024 is a leap year)
    val rowSql = "SELECT to_date(ev_ts) AS d, dayofweek(ev_ts) AS dow, " +
      "datediff(ev_ts, '2024-01-01') AS age FROM t WHERE hour(ev_ts) >= 10"
    runView(rowSql, "pv_dt_row", batches)
    assert(rowState("pv_dt_row", Seq("d", "dow", "age")) == Map(
      1L -> Seq[Any]("2024-03-15", "6", "74"),
      4L -> Seq[Any]("2023-12-31", "1", "-1"),
      5L -> Seq[Any]("2024-05-01", "4", "121"),
      6L -> Seq[Any]("2024-03-15", "6", "74")),
      "field functions must read wall-clock UTC for both timestamp strings and epoch micros")
  }

  test("#171ag UNION ALL / UNION DISTINCT sources: disjoint key spaces, per-branch lifecycle") {
    def e(feedTsOff: Int)(op: String, k: Long, m: Int, city: String, amount: String, seq: Long) =
      Change(op, k, ts(m + feedTsOff),
        if (op == "delete") Map.empty[String, String]
        else Map("city" -> city, "amount" -> amount), seq)
    val ea = e(0) _; val eb = e(0) _
    val batches = Seq(
      // key 1 exists in BOTH feeds — UNION ALL must keep both rows
      Map("a" -> Seq(ea("insert", 1L, 0, "ber", "10", 1L), ea("insert", 2L, 1, "par", "5", 2L)),
        "b" -> Seq(eb("insert", 1L, 0, "ber", "7", 1L))),
      // feed-b's key 1 dies: only ITS row retracts, feed-a's key 1 stays
      Map("b" -> Seq(eb("delete", 1L, 5, "", "", 2L))),
      // feed-a's key 1 moves city: retract+add across groups
      Map("a" -> Seq(ea("update", 1L, 6, "par", "10", 3L))),
    )

    val aggSql = "SELECT city, count(*) AS n, sum(amount) AS s FROM " +
      "(SELECT city, amount FROM a UNION ALL SELECT city, amount FROM b) t GROUP BY city"
    runView(aggSql, "pv_un_agg_a", batches.take(1))
    assert(aggState("pv_un_agg_a", Seq("city")) == Map(
      Seq[Any]("ber") -> Seq[Any](2L, 17.0),
      Seq[Any]("par") -> Seq[Any](1L, 5.0)),
      "same key value in two branches must count twice (disjoint key spaces)")
    runView(aggSql, "pv_un_agg_b", batches.take(2))
    assert(aggState("pv_un_agg_b", Seq("city")) == Map(
      Seq[Any]("ber") -> Seq[Any](1L, 10.0),
      Seq[Any]("par") -> Seq[Any](1L, 5.0)),
      "a branch's delete must retract only its own row")
    runView(aggSql, "pv_un_agg", batches)
    assert(aggState("pv_un_agg", Seq("city")) == Map(
      Seq[Any]("par") -> Seq[Any](2L, 15.0)),
      "group move through a union branch must tombstone the emptied group")

    // top-level UNION ALL row view: per-branch WHERE applies, the
    // combined changefeed's final multiset matches
    val rowSql = "SELECT city, amount FROM a WHERE amount > 5 UNION ALL SELECT city, amount FROM b"
    runView(rowSql, "pv_un_rows", batches)
    assert(rowState("pv_un_rows", Seq("city", "amount")).values.toSeq.sortBy(_.toString) ==
      Seq(Seq[Any]("par", "10")),
      "final multiset: a's key1 (10, par) passes WHERE; a's key2 (5) filtered; b's key1 deleted")

    // UNION DISTINCT: a value in both branches appears once and
    // SURVIVES one branch's delete; leaves only when the last
    // contributor across ALL branches is gone
    val dSql = "SELECT city FROM a UNION SELECT city FROM b"
    runView(dSql, "pv_un_d_a", batches.take(1))
    assert(aggState("pv_un_d_a", Seq("city")).keySet == Set(Seq[Any]("ber"), Seq[Any]("par")))
    runView(dSql, "pv_un_d_b", batches.take(2))
    assert(aggState("pv_un_d_b", Seq("city")).keySet == Set(Seq[Any]("ber"), Seq[Any]("par")),
      "ber must survive feed-b's delete: feed-a still contributes it")
    runView(dSql, "pv_un_d", batches)
    assert(aggState("pv_un_d", Seq("city")).keySet == Set(Seq[Any]("par")),
      "ber's last contributor moved to par: the distinct value must leave")

    // mismatched branch column lists are rejected fast
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT city FROM a UNION ALL SELECT amount FROM b",
        Map("a" -> MemoryStream[Change].toDS(), "b" -> MemoryStream[Change].toDS()))
    }
    assert(ex.getMessage.contains("same column names"), s"wrong failure: ${ex.getMessage}")
  }

  test("#171ah derived-table sources: subquery row views, aggregate subqueries, agg-over-agg in one statement") {
    def e(op: String, k: Long, m: Int, city: String, amount: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String]
        else Map("city" -> city, "amount" -> amount), seq)
    val batches = Seq(
      Map("t" -> Seq(
        e("insert", 1L, 0, "ber", "10", 1L),
        e("insert", 2L, 1, "ber", "5", 2L),
        e("insert", 3L, 2, "par", "20", 3L),
        e("insert", 4L, 3, "par", "1", 4L))),   // filtered out inside the subquery
      Map("t" -> Seq(e("update", 1L, 5, "par", "10", 5L))), // ber 2→1 rows, par 2→3
      Map("t" -> Seq(e("delete", 2L, 6, "", "", 6L))),      // ber's last row: group exits
    )

    // aggregate OVER a derived row view (projection + WHERE inside)
    val sql1 = "SELECT u, count(*) AS c FROM " +
      "(SELECT upper(city) AS u FROM t WHERE amount > 2) x GROUP BY u"
    runView(sql1, "pv_sub_a", batches.take(1))
    assert(aggState("pv_sub_a", Seq("u")) == Map(
      Seq[Any]("BER") -> Seq[Any](2L), Seq[Any]("PAR") -> Seq[Any](1L)))
    runView(sql1, "pv_sub", batches)
    assert(aggState("pv_sub", Seq("u")) == Map(Seq[Any]("PAR") -> Seq[Any](2L)),
      "moves and deletes must retract through the derived table; BER's exit tombstones")

    // an aggregate SUBQUERY with an outer threshold filter — behaves as
    // HAVING: the group's changefeed row deletes when n falls below
    val sql2 = "SELECT city, n FROM " +
      "(SELECT city, count(*) AS n FROM t GROUP BY city) x WHERE n >= 2"
    runView(sql2, "pv_subagg_a", batches.take(1))
    assert(rowState("pv_subagg_a", Seq("city", "n")).values.toSet ==
      Set(Seq[Any]("ber", "2"), Seq[Any]("par", "2")))
    runView(sql2, "pv_subagg", batches.take(2))
    assert(rowState("pv_subagg", Seq("city", "n")).values.toSet ==
      Set(Seq[Any]("par", "3")),
      "ber dropping to 1 row must EXIT the n>=2 view (tombstone through the derived feed)")

    // agg-over-agg INSIDE one statement: the distribution-of-counts
    // view; key 1's move shifts ber/par between n-buckets
    val sql3 = "SELECT n, count(*) AS cities FROM " +
      "(SELECT city, count(*) AS n FROM t GROUP BY city) x GROUP BY n"
    runView(sql3, "pv_dist_a", batches.take(1))
    assert(aggState("pv_dist_a", Seq("n")) == Map(Seq[Any]("2") -> Seq[Any](2L)))
    runView(sql3, "pv_dist", batches)
    assert(aggState("pv_dist", Seq("n")) == Map(Seq[Any]("3") -> Seq[Any](1L)),
      "bucket moves must retract: ber 2→1→gone, par 2→3")

    // a derived ROW view as an FK-join dim: filtered dims drop their
    // facts; the derived table keeps source keys so both shapes work
    val sql4 = "SELECT f.item, d.cu FROM facts f JOIN " +
      "(SELECT upper(city) AS cu FROM dims WHERE active = 1) d ON f.custkey = d.key"
    val joinBatches = Seq(
      Map("facts" -> Seq(
        Change("insert", 1L, ts(0), Map("item" -> "a", "custkey" -> "7"), 1L),
        Change("insert", 2L, ts(1), Map("item" -> "b", "custkey" -> "8"), 2L)),
        "dims" -> Seq(
          Change("insert", 7L, ts(0), Map("city" -> "ber", "active" -> "1"), 1L),
          Change("insert", 8L, ts(0), Map("city" -> "par", "active" -> "0"), 2L))),
      // dim 8 becomes active: fact b joins; dim 7 deactivates: fact a drops
      Map("dims" -> Seq(
        Change("update", 8L, ts(5), Map("city" -> "par", "active" -> "1"), 3L),
        Change("update", 7L, ts(5), Map("city" -> "ber", "active" -> "0"), 4L))),
    )
    runView(sql4, "pv_subdim_a", joinBatches.take(1))
    assert(rowState("pv_subdim_a", Seq("item", "cu")) == Map(1L -> Seq[Any]("a", "BER")))
    runView(sql4, "pv_subdim", joinBatches)
    assert(rowState("pv_subdim", Seq("item", "cu")) == Map(2L -> Seq[Any]("b", "PAR")),
      "the derived dim's WHERE lifecycle must join/retract subscribed facts")
  }

  test("#171ai EXCEPT/INTERSECT [ALL] views: per-side lifecycle, multiplicity, threshold tombstones") {
    def e(op: String, k: Long, m: Int, v: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String] else Map("v" -> v), seq)
    // a: v,v,w   b: v   — value identity crosses feeds, keys don't
    val batches = Seq(
      Map("a" -> Seq(
        e("insert", 1L, 0, "v", 1L), e("insert", 2L, 1, "v", 2L), e("insert", 3L, 2, "w", 3L)),
        "b" -> Seq(e("insert", 4L, 0, "v", 1L))),
      // b gains w: EXCEPT loses w; INTERSECT gains it
      Map("b" -> Seq(e("insert", 5L, 5, "w", 2L))),
      // a loses one v: EXCEPT ALL's v multiplicity 1→0 (leaves);
      // b loses w again: EXCEPT regains w, INTERSECT drops it
      Map("a" -> Seq(e("delete", 2L, 6, "", 4L)),
        "b" -> Seq(e("delete", 5L, 7, "", 3L))),
    )

    val exSql = "SELECT v FROM a EXCEPT SELECT v FROM b"
    runView(exSql, "pv_ex_a", batches.take(1))
    assert(aggState("pv_ex_a", Seq("v")).keySet == Set(Seq[Any]("w")),
      "EXCEPT: v is in both sides, only w survives")
    runView(exSql, "pv_ex_b", batches.take(2))
    assert(aggState("pv_ex_b", Seq("v")).keySet == Set.empty[Seq[Any]],
      "b gaining w empties the EXCEPT view (tombstone, not absence of emission)")
    runView(exSql, "pv_ex", batches)
    assert(aggState("pv_ex", Seq("v")).keySet == Set(Seq[Any]("w")),
      "b losing w re-enters it into the EXCEPT view")

    val inSql = "SELECT v FROM a INTERSECT SELECT v FROM b"
    runView(inSql, "pv_in_a", batches.take(1))
    assert(aggState("pv_in_a", Seq("v")).keySet == Set(Seq[Any]("v")))
    runView(inSql, "pv_in_b", batches.take(2))
    assert(aggState("pv_in_b", Seq("v")).keySet == Set(Seq[Any]("v"), Seq[Any]("w")))
    runView(inSql, "pv_in", batches)
    assert(aggState("pv_in", Seq("v")).keySet == Set(Seq[Any]("v")),
      "INTERSECT drops w when b's copy leaves; v stays (a still holds one)")

    val exAllSql = "SELECT v FROM a EXCEPT ALL SELECT v FROM b"
    runView(exAllSql, "pv_exall_a", batches.take(1))
    assert(aggState("pv_exall_a", Seq("v")) == Map(
      Seq[Any]("v") -> Seq[Any](1L), Seq[Any]("w") -> Seq[Any](1L)),
      "EXCEPT ALL: v has multiplicity 2-1=1")
    runView(exAllSql, "pv_exall", batches)
    assert(aggState("pv_exall", Seq("v")) == Map(Seq[Any]("w") -> Seq[Any](1L)),
      "EXCEPT ALL: a's delete drops v to multiplicity 0 → view exit (tombstone); w is back")

    val inAllSql = "SELECT v FROM a INTERSECT ALL SELECT v FROM b"
    runView(inAllSql, "pv_inall_a", batches.take(1))
    assert(aggState("pv_inall_a", Seq("v")) == Map(Seq[Any]("v") -> Seq[Any](1L)),
      "INTERSECT ALL: min(2,1) = 1")
    runView(inAllSql, "pv_inall", batches)
    assert(aggState("pv_inall", Seq("v")) == Map(Seq[Any]("v") -> Seq[Any](1L)),
      "INTERSECT ALL: min(1,1) after the churn")

    // set-operation views compose as derived tables
    val subSql = "SELECT count(*) AS n FROM (SELECT v FROM a EXCEPT SELECT v FROM b) x"
    runView(subSql, "pv_ex_sub", batches)
    assert(aggState("pv_ex_sub", Nil) == Map(Seq.empty[Any] -> Seq[Any](1L)),
      "counting the EXCEPT view through a derived table")
  }

  test("#171aj stddev/variance: invertible second-moment fold, exact under retraction") {
    val sql = "SELECT city, var_pop(amount) AS vp, var_samp(amount) AS vs, " +
      "stddev_pop(amount) AS sp, stddev(amount) AS ss, count(*) AS n FROM t GROUP BY city"
    def e(op: String, k: Long, m: Int, city: String, amount: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String]
        else Map("city" -> city) ++ Option(amount).map("amount" -> _), seq)
    // ber: the classic 2,4,4,4,5,5,7,9 (var_pop exactly 4); lon: one
    // row (sample forms NULL); nul: only a NULL value (all NULL)
    val vals = Seq("2", "4", "4", "4", "5", "5", "7", "9")
    val batches = Seq(
      Map("t" -> (vals.zipWithIndex.map { case (v, i) =>
        e("insert", i + 1L, i, "ber", v, i + 1L) } ++ Seq(
        e("insert", 100L, 20, "lon", "3", 100L),
        e("insert", 101L, 21, "nul", null, 101L)))),
      // retraction: drop the 9, move a 4 to 6 — ber becomes 2,4,4,6,5,5,7
      Map("t" -> Seq(
        e("delete", 8L, 30, "", "", 102L),
        e("update", 2L, 31, "ber", "6", 103L))),
    )
    runView(sql, "pv_var_a", batches.take(1))
    val a = aggState("pv_var_a", Seq("city"))
    assert(a(Seq[Any]("ber")) == Seq[Any](4.0, 32.0 / 7.0, 2.0, math.sqrt(32.0 / 7.0), 8L),
      s"initial moments: ${a(Seq[Any]("ber"))}")
    assert(a(Seq[Any]("lon")) == Seq[Any](0.0, null, 0.0, null, 1L),
      "single row: population forms 0, sample forms NULL (Bessel)")
    assert(a(Seq[Any]("nul")) == Seq[Any](null, null, null, null, 1L),
      "an all-NULL group reports NULL variance but counts its row")
    runView(sql, "pv_var", batches)
    val b = aggState("pv_var", Seq("city"))
    // 2,4,4,6,5,5,7: n=7 Σx=33 Σx²=171 — same double ops as the fold
    val vp = (171.0 - 33.0 * 33.0 / 7.0) / 7.0
    val vs = (171.0 - 33.0 * 33.0 / 7.0) / 6.0
    assert(b(Seq[Any]("ber")) == Seq[Any](vp, vs, math.sqrt(vp), math.sqrt(vs), 7L),
      s"post-retraction moments must match exact recompute: ${b(Seq[Any]("ber"))}")
  }

  test("#171ak scalar subqueries in WHERE: the dynamic-threshold view") {
    def e(op: String, k: Long, m: Int, name: String, amount: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String]
        else Map("name" -> name, "amount" -> amount), seq)
    // SELF-REFERENTIAL: above-average rows of the same feed — the
    // canonical moving-cut view; a scalar move must retract rows that
    // fell below AND admit rows that rose above
    val sql = "SELECT name FROM t WHERE amount > (SELECT avg(amount) FROM t)"
    val batches = Seq(
      Map("t" -> Seq(
        e("insert", 1L, 0, "ann", "10", 1L),
        e("insert", 2L, 1, "bob", "20", 2L),
        e("insert", 3L, 2, "cat", "30", 3L))),            // avg 20: only cat (bob is not >)
      Map("t" -> Seq(e("update", 1L, 5, "ann", "40", 4L))), // avg 30: ann enters, cat EXITS
      Map("t" -> Seq(e("delete", 2L, 6, "", "", 5L))),      // avg 35: still just ann
    )
    runView(sql, "pv_sq_a", batches.take(1))
    assert(rowState("pv_sq_a", Seq("name")) == Map(3L -> Seq[Any]("cat")))
    runView(sql, "pv_sq_b", batches.take(2))
    assert(rowState("pv_sq_b", Seq("name")) == Map(1L -> Seq[Any]("ann")),
      "the avg moving 20→30 must retract cat (30 !> 30) and admit ann (40 > 30)")
    runView(sql, "pv_sq", batches)
    assert(rowState("pv_sq", Seq("name")) == Map(1L -> Seq[Any]("ann")))

    // an AGGREGATE over a scalar-filtered source: count of max-tied rows
    val tieSql = "SELECT count(*) AS n FROM t WHERE amount >= (SELECT max(amount) FROM t)"
    runView(tieSql, "pv_sq_tie_a", batches.take(1))
    assert(aggState("pv_sq_tie_a", Nil) == Map(Seq.empty[Any] -> Seq[Any](1L)))
    runView(tieSql, "pv_sq_tie", batches)
    assert(aggState("pv_sq_tie", Nil) == Map(Seq.empty[Any] -> Seq[Any](1L)))

    // cross-feed threshold with the subquery's table EMPTY: the scalar
    // is SQL NULL, the comparison fails for every row (batch x > NULL
    // semantics); the threshold feed arriving admits rows
    val xSql = "SELECT name FROM t WHERE amount > (SELECT min(amount) FROM u)"
    val xBatches = Seq(
      Map("t" -> Seq(e("insert", 1L, 0, "ann", "10", 1L)), "u" -> Nil),
      Map("u" -> Seq(e("insert", 50L, 5, "thr", "5", 1L))),
      Map("u" -> Seq(e("delete", 50L, 6, "", "", 2L))),   // threshold table EMPTIES again
    )
    runView(xSql, "pv_sq_x_a", xBatches.take(1))
    assert(rowState("pv_sq_x_a", Seq("name")).isEmpty,
      "an empty subquery table is a NULL scalar: every comparison filters")
    runView(xSql, "pv_sq_x_b", xBatches.take(2))
    assert(rowState("pv_sq_x_b", Seq("name")) == Map(1L -> Seq[Any]("ann")))
    runView(xSql, "pv_sq_x", xBatches)
    assert(rowState("pv_sq_x", Seq("name")).isEmpty,
      "the subquery table emptying must tombstone the scalar and retract every row")

    // non-equi correlated scalars compile through the pair-aggregate
    // dataflow since r8 — spec #171bl
  }

  test("#171al [NOT] IN and [NOT] EXISTS subqueries: incremental semi/anti-join views") {
    def t(op: String, k: Long, m: Int, p: Map[String, String], seq: Long) =
      Change(op, k, ts(m), p, seq)

    // ---- IN: an allow-list feed gating a row view; membership is a
    // live MULTISET (duplicate values survive one copy's delete) ------
    val inSql = "SELECT name FROM t WHERE city IN (SELECT city FROM allow)"
    val inBatches = Seq(
      Map("t" -> Seq(
        t("insert", 1L, 0, Map("name" -> "ann", "city" -> "par"), 1L),
        t("insert", 2L, 1, Map("name" -> "bob", "city" -> "rom"), 2L)),
        "allow" -> Seq.empty[Change]),
      Map("allow" -> Seq(t("insert", 10L, 2, Map("city" -> "par"), 1L))),
      Map("t" -> Seq(t("update", 2L, 3, Map("name" -> "bob", "city" -> "par"), 3L))),
      Map("allow" -> Seq(t("insert", 11L, 4, Map("city" -> "par"), 2L))),   // duplicate value
      Map("allow" -> Seq(t("delete", 10L, 5, Map.empty, 3L))),              // one copy dies
      Map("allow" -> Seq(t("delete", 11L, 6, Map.empty, 4L))),              // value leaves
    )
    runView(inSql, "pv_in_a", inBatches.take(1))
    assert(rowState("pv_in_a", Seq("name")).isEmpty, "empty allow-list admits nothing")
    runView(inSql, "pv_in_b", inBatches.take(2))
    assert(rowState("pv_in_b", Seq("name")) == Map(1L -> Seq[Any]("ann")))
    runView(inSql, "pv_in_c", inBatches.take(3))
    assert(rowState("pv_in_c", Seq("name")) == Map(1L -> Seq[Any]("ann"), 2L -> Seq[Any]("bob")),
      "a fact moving INTO the membership admits it")
    runView(inSql, "pv_in_d", inBatches.take(5))
    assert(rowState("pv_in_d", Seq("name")).keySet == Set(1L, 2L),
      "deleting ONE of two copies of a membership value must not retract subscribers")
    runView(inSql, "pv_in", inBatches)
    assert(rowState("pv_in", Seq("name")).isEmpty,
      "the last copy of the value dying must retract every subscribed row")

    // ---- NOT IN: the null-aware three-valued gate -------------------
    // key 3 has NO city (NULL probe); deny key 21 has NO city (NULL
    // candidate)
    val niSql = "SELECT name FROM t WHERE city NOT IN (SELECT city FROM deny)"
    val niBatches = Seq(
      Map("t" -> Seq(
        t("insert", 1L, 0, Map("name" -> "ann", "city" -> "par"), 1L),
        t("insert", 2L, 1, Map("name" -> "bob", "city" -> "rom"), 2L),
        t("insert", 3L, 2, Map("name" -> "nul"), 3L)),
        "deny" -> Seq.empty[Change]),
      Map("deny" -> Seq(t("insert", 20L, 3, Map("city" -> "rom"), 1L))),
      Map("deny" -> Seq(t("insert", 21L, 4, Map("x" -> "1"), 2L))),   // NULL candidate
      Map("deny" -> Seq(t("delete", 21L, 5, Map.empty, 3L))),
    )
    runView(niSql, "pv_ni_a", niBatches.take(1))
    assert(rowState("pv_ni_a", Seq("name")).keySet == Set(1L, 2L, 3L),
      "NOT IN over an EMPTY subquery is TRUE for every row, null probes included")
    runView(niSql, "pv_ni_b", niBatches.take(2))
    assert(rowState("pv_ni_b", Seq("name")) == Map(1L -> Seq[Any]("ann")),
      "a non-empty deny list retracts matches AND null-probe rows (x NOT IN … is unknown for NULL x)")
    runView(niSql, "pv_ni_c", niBatches.take(3))
    assert(rowState("pv_ni_c", Seq("name")).isEmpty,
      "one NULL candidate in the subquery makes NOT IN pass NOTHING (SQL three-valued rule)")
    runView(niSql, "pv_ni", niBatches)
    assert(rowState("pv_ni", Seq("name")) == Map(1L -> Seq[Any]("ann")),
      "deleting the NULL candidate re-admits the non-matching rows")

    // ---- correlated EXISTS, multi-key equi-correlation + inner-only
    // conjunct; one conjunct written outer-first to exercise both
    // EqualTo orientations ---------------------------------------------
    val exSql = "SELECT name FROM cust WHERE EXISTS (SELECT 1 FROM ord " +
      "WHERE ord.cust_id = cust.ckey AND cust.reg = ord.reg AND ord.amount > 10)"
    val exBatches = Seq(
      Map("cust" -> Seq(
        t("insert", 1L, 0, Map("name" -> "ann", "ckey" -> "1", "reg" -> "eu"), 1L),
        t("insert", 2L, 1, Map("name" -> "bob", "ckey" -> "2", "reg" -> "eu"), 2L),
        t("insert", 3L, 2, Map("name" -> "carl", "reg" -> "eu"), 3L)),      // NULL correlation key
        "ord" -> Seq(
          t("insert", 101L, 0, Map("cust_id" -> "1", "reg" -> "eu", "amount" -> "5"), 1L),   // fails amount
          t("insert", 102L, 1, Map("cust_id" -> "2", "reg" -> "us", "amount" -> "50"), 2L))), // wrong reg
      Map("ord" -> Seq(t("update", 101L, 5, Map("cust_id" -> "1", "reg" -> "eu", "amount" -> "20"), 3L))),
      Map("ord" -> Seq(t("update", 102L, 6, Map("cust_id" -> "2", "reg" -> "eu", "amount" -> "50"), 4L))),
      Map("ord" -> Seq(t("delete", 101L, 7, Map.empty, 5L))),
    )
    runView(exSql, "pv_ex_a", exBatches.take(1))
    assert(rowState("pv_ex_a", Seq("name")).isEmpty,
      "amount-filtered and wrong-region orders must not witness EXISTS")
    runView(exSql, "pv_ex_b", exBatches.take(2))
    assert(rowState("pv_ex_b", Seq("name")) == Map(1L -> Seq[Any]("ann")))
    runView(exSql, "pv_ex_c", exBatches.take(3))
    assert(rowState("pv_ex_c", Seq("name")) == Map(1L -> Seq[Any]("ann"), 2L -> Seq[Any]("bob")))
    runView(exSql, "pv_ex", exBatches)
    assert(rowState("pv_ex", Seq("name")) == Map(2L -> Seq[Any]("bob")),
      "the witnessing order's delete must retract the customer")

    // NOT EXISTS is the complement; NULL correlation keys never match,
    // so they PASS (batch SQL agreement)
    val nexSql = exSql.replace("WHERE EXISTS", "WHERE NOT EXISTS")
    runView(nexSql, "pv_nex_a", exBatches.take(1))
    assert(rowState("pv_nex_a", Seq("name")).keySet == Set(1L, 2L, 3L))
    runView(nexSql, "pv_nex", exBatches)
    assert(rowState("pv_nex", Seq("name")) == Map(1L -> Seq[Any]("ann"), 3L -> Seq[Any]("carl")))

    // ---- uncorrelated EXISTS: a feed-driven on/off gate -------------
    val gSql = "SELECT name FROM t WHERE EXISTS (SELECT 1 FROM flag WHERE active = '1')"
    val gBatches = Seq(
      Map("t" -> Seq(t("insert", 1L, 0, Map("name" -> "ann"), 1L)), "flag" -> Seq.empty[Change]),
      Map("flag" -> Seq(t("insert", 50L, 1, Map("active" -> "1"), 1L))),
      Map("flag" -> Seq(t("update", 50L, 2, Map("active" -> "0"), 2L))),
    )
    runView(gSql, "pv_g_a", gBatches.take(1))
    assert(rowState("pv_g_a", Seq("name")).isEmpty)
    runView(gSql, "pv_g_b", gBatches.take(2))
    assert(rowState("pv_g_b", Seq("name")) == Map(1L -> Seq[Any]("ann")))
    runView(gSql, "pv_g", gBatches)
    assert(rowState("pv_g", Seq("name")).isEmpty,
      "the gate row moving out of the subquery's WHERE closes the gate")

    // non-equi correlated IN/EXISTS compile through the pair-count
    // dataflows since r8 — spec #171bn
  }

  test("#171am correlated scalar/IN subqueries + SELECT-list scalars: decorrelated per-group views") {
    def t(op: String, k: Long, m: Int, p: Map[String, String], seq: Long) =
      Change(op, k, ts(m), p, seq)

    // ---- SELECT-list correlated count: the COUNT-bug case -----------
    // a live per-parent child count; a customer with zero orders must
    // show 0 (batch count over zero rows), not disappear or go NULL
    val clSql = "SELECT name, (SELECT count(*) FROM ord WHERE ord.cid = cust.ckey) AS n_ord FROM cust"
    val clBatches = Seq(
      Map("cust" -> Seq(
        t("insert", 1L, 0, Map("name" -> "ann", "ckey" -> "1"), 1L),
        t("insert", 2L, 1, Map("name" -> "bob", "ckey" -> "2"), 2L)),
        "ord" -> Seq.empty[Change]),
      Map("ord" -> Seq(
        t("insert", 101L, 2, Map("cid" -> "1"), 1L),
        t("insert", 102L, 3, Map("cid" -> "1"), 2L))),
      Map("ord" -> Seq(t("delete", 102L, 4, Map.empty, 3L))),
      Map("cust" -> Seq(t("delete", 2L, 5, Map.empty, 3L))),
    )
    runView(clSql, "pv_cl_a", clBatches.take(1))
    assert(rowState("pv_cl_a", Seq("name", "n_ord")) ==
      Map(1L -> Seq[Any]("ann", "0"), 2L -> Seq[Any]("bob", "0")),
      "zero-orders customers must project count 0, not NULL (the COUNT bug)")
    runView(clSql, "pv_cl_b", clBatches.take(2))
    assert(rowState("pv_cl_b", Seq("name", "n_ord")) ==
      Map(1L -> Seq[Any]("ann", "2"), 2L -> Seq[Any]("bob", "0")))
    runView(clSql, "pv_cl_c", clBatches.take(3))
    assert(rowState("pv_cl_c", Seq("name", "n_ord")) ==
      Map(1L -> Seq[Any]("ann", "1"), 2L -> Seq[Any]("bob", "0")),
      "an order's delete must decrement its parent's projected count")
    runView(clSql, "pv_cl", clBatches)
    assert(rowState("pv_cl", Seq("name", "n_ord")) == Map(1L -> Seq[Any]("ann", "1")))

    // ---- WHERE correlated scalar: per-group dynamic threshold -------
    // rows above their own group's live average; the avg MOVES as group
    // members arrive/leave, re-deciding every subscribed row
    val thSql = "SELECT name FROM t WHERE amount > (SELECT avg(u.amount) FROM u WHERE u.grp = t.grp)"
    val thBatches = Seq(
      Map("t" -> Seq(
        t("insert", 1L, 0, Map("name" -> "a1", "grp" -> "g1", "amount" -> "10"), 1L),
        t("insert", 2L, 1, Map("name" -> "a2", "grp" -> "g1", "amount" -> "30"), 2L),
        t("insert", 3L, 2, Map("name" -> "b1", "grp" -> "g2", "amount" -> "5"), 3L)),
        "u" -> Seq(
          t("insert", 11L, 0, Map("grp" -> "g1", "amount" -> "10"), 1L),
          t("insert", 12L, 1, Map("grp" -> "g1", "amount" -> "30"), 2L))),
      // g1 avg 20 → only a2 passes; g2 has no u-rows → NULL avg filters b1
      Map("u" -> Seq(t("insert", 13L, 3, Map("grp" -> "g1", "amount" -> "110"), 3L))),
      // g1 avg 50 → nobody passes
      Map("u" -> Seq(t("insert", 14L, 4, Map("grp" -> "g2", "amount" -> "1"), 4L))),
      // g2 avg 1 → b1 (5) passes
    )
    runView(thSql, "pv_th_a", thBatches.take(1))
    assert(rowState("pv_th_a", Seq("name")) == Map(2L -> Seq[Any]("a2")),
      "per-group avg must gate each row by ITS group (absent group = NULL = filtered)")
    runView(thSql, "pv_th_b", thBatches.take(2))
    assert(rowState("pv_th_b", Seq("name")).isEmpty,
      "the group's moving average rising past every member must retract them all")
    runView(thSql, "pv_th", thBatches)
    assert(rowState("pv_th", Seq("name")) == Map(3L -> Seq[Any]("b1")))

    // ---- correlated NOT IN: the null-aware rule applies PER GROUP ---
    val cnSql = "SELECT name FROM t WHERE city NOT IN (SELECT city FROM deny WHERE deny.reg = t.reg)"
    val cnBatches = Seq(
      Map("t" -> Seq(
        t("insert", 1L, 0, Map("name" -> "ann", "reg" -> "eu", "city" -> "par"), 1L),
        t("insert", 2L, 1, Map("name" -> "bob", "reg" -> "us", "city" -> "par"), 2L)),
        "deny" -> Seq(t("insert", 20L, 0, Map("reg" -> "eu", "city" -> "par"), 1L))),
      // a NULL candidate lands in region "us" ONLY: it must poison us
      // rows (unknown) while leaving eu rows decided by their own group
      Map("deny" -> Seq(
        t("delete", 20L, 2, Map.empty, 2L),
        t("insert", 21L, 3, Map("reg" -> "us"), 3L))),
    )
    runView(cnSql, "pv_cn_a", cnBatches.take(1))
    assert(rowState("pv_cn_a", Seq("name")) == Map(2L -> Seq[Any]("bob")),
      "eu's deny list blocks ann; us's group is EMPTY so bob passes (per-group empty-subquery rule)")
    runView(cnSql, "pv_cn", cnBatches)
    assert(rowState("pv_cn", Seq("name")) == Map(1L -> Seq[Any]("ann")),
      "the NULL candidate must poison ONLY its own group's rows; eu re-admits on its delete")

    // ---- correlated IN over a projected expression ------------------
    val ciSql = "SELECT name FROM t WHERE city IN (SELECT city FROM allow WHERE allow.reg = t.reg)"
    val ciBatches = Seq(
      Map("t" -> Seq(
        t("insert", 1L, 0, Map("name" -> "ann", "reg" -> "eu", "city" -> "par"), 1L),
        t("insert", 2L, 1, Map("name" -> "bob", "reg" -> "us", "city" -> "par"), 2L)),
        "allow" -> Seq(t("insert", 30L, 0, Map("reg" -> "eu", "city" -> "par"), 1L))),
      Map("allow" -> Seq(t("update", 30L, 2, Map("reg" -> "us", "city" -> "par"), 2L))),
    )
    runView(ciSql, "pv_ci_a", ciBatches.take(1))
    assert(rowState("pv_ci_a", Seq("name")) == Map(1L -> Seq[Any]("ann")),
      "membership is (region, city)-scoped: par is allowed in eu, not us")
    runView(ciSql, "pv_ci", ciBatches)
    assert(rowState("pv_ci", Seq("name")) == Map(2L -> Seq[Any]("bob")),
      "the allow row MOVING region must retract eu's subscriber and admit us's")

    // ---- rejections: outer refs outside WHERE equi-conjuncts --------
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def feeds2 = Map("t" -> MemoryStream[Change].toDS(), "u" -> MemoryStream[Change].toDS())
    val exSel = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT name FROM t WHERE amount > (SELECT max(u.x + t.y) FROM u WHERE u.k = t.k)", feeds2)
    }
    assert(exSel.getMessage.contains("outside the WHERE clause"), s"wrong failure: ${exSel.getMessage}")
    val exItem = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT name FROM t WHERE amount > (SELECT u.x FROM u WHERE u.k = t.k)", feeds2)
    }
    assert(exItem.getMessage.contains("aggregate call"), s"wrong failure: ${exItem.getMessage}")
  }

  test("#171u 3-table star view: fact JOIN dim1 JOIN dim2 layers through nested join compilation") {
    // fact orders carry custkey + partkey; the left-deep parse compiles
    // (orders ⋈ cust) as an inner FK join whose changefeed feeds the
    // outer FK hop — dim updates/deletes on EITHER dim propagate
    val sql = "SELECT o.item, c.city, p.color FROM orders o " +
      "JOIN cust c ON o.custkey = c.key JOIN parts p ON o.partkey = p.key"
    val batches = Seq(
      Map(
        "orders" -> Seq(
          Change("insert", 1L, ts(0), Map("item" -> "x", "custkey" -> "7", "partkey" -> "3"), 1L),
          Change("insert", 2L, ts(1), Map("item" -> "y", "custkey" -> "7", "partkey" -> "4"), 2L)),
        "cust"  -> Seq(Change("insert", 7L, ts(0), Map("city" -> "ber"), 1L)),
        "parts" -> Seq(Change("insert", 3L, ts(0), Map("color" -> "red"), 1L))),
      // part 4 arrives late: order 2 becomes visible only now
      Map("parts" -> Seq(Change("insert", 4L, ts(5), Map("color" -> "blue"), 2L))),
      // dim updates fan out through BOTH hops; deleting part 3 retracts order 1
      Map("cust"  -> Seq(Change("update", 7L, ts(10), Map("city" -> "par"), 3L)),
        "parts"  -> Seq(Change("delete", 3L, ts(10), Map.empty, 3L))),
    )
    runView(sql, "pv_star_a", batches.take(1))
    assert(rowState("pv_star_a", Seq("item", "city", "color")) ==
      Map(1L -> Seq[Any]("x", "ber", "red")),
      "only the order whose BOTH dims exist is visible")
    runView(sql, "pv_star_b", batches.take(2))
    assert(rowState("pv_star_b", Seq("item", "city", "color")) ==
      Map(1L -> Seq[Any]("x", "ber", "red"), 2L -> Seq[Any]("y", "ber", "blue")))
    runView(sql, "pv_star_c", batches)
    assert(rowState("pv_star_c", Seq("item", "city", "color")) ==
      Map(2L -> Seq[Any]("y", "par", "blue")),
      "cust update must fan out; part-3 delete must retract order 1")
    // aggregates compose over the same nested source
    val aggSql = "SELECT c.city, count(*) AS n FROM orders o " +
      "JOIN cust c ON o.custkey = c.key JOIN parts p ON o.partkey = p.key GROUP BY c.city"
    runView(aggSql, "pv_star_agg", batches)
    assert(aggState("pv_star_agg", Seq("city")) == Map(Seq[Any]("par") -> Seq[Any](1L)))
  }

  test("#171v materializeTopK maxGroups guard: state past the bound fails loudly, within it stays green") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sql = "SELECT city, sum(amount) AS total FROM f GROUP BY city ORDER BY total DESC LIMIT 2"
    def feedOf(n: Int): Seq[Change] = (1 to n).map(i =>
      Change("insert", i.toLong, ts(i), Map("city" -> s"c$i", "amount" -> i.toString), i.toLong))
    def run(maxGroups: Int, n: Int, name: String): Unit = {
      val input   = MemoryStream[Change]
      val planned = IncrementalPlanner.materializeTopK(spark, sql, Map("f" -> input.toDS()), maxGroups)
      val q = planned.df.writeStream.format("memory").queryName(name)
        .outputMode(planned.outputMode)
        .option("checkpointLocation", tmp(name)).start()
      try {
        input.addData(feedOf(n): _*)
        q.processAllAvailable()
        // surface a state-shard failure as the query's own exception
        if (q.exception.isDefined) throw q.exception.get
      } finally q.stop()
    }
    // within the bound: the view works
    run(maxGroups = 10, n = 5, "pv_topk_ok")
    val emit = spark.table("pv_topk_ok").collect().map(_.getAs[Long]("_emit")).max
    val top = spark.table("pv_topk_ok").collect().filter(_.getAs[Long]("_emit") == emit)
      .map(r => r.getAs[Long]("rank") -> r.getAs[String]("total")).toMap
    assert(top == Map(1L -> "5.0", 2L -> "4.0"))
    // past the bound: loud failure naming the alternatives
    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(maxGroups = 10, n = 11, "pv_topk_boom")
    }
    assert(boom.getCause.getMessage.contains("maxGroups"),
      s"must name the guard: ${boom.getCause.getMessage}")
  }

  test("#171n non-finite arithmetic is SQL NULL: x/0 and 'NaN' payloads drop, retraction stays exact") {
    // the poisoning condition the fix closes: before, amt/0 put Infinity
    // into the signed-delta state, and deleting that row later computed
    // Inf − Inf = NaN — permanently corrupting the group's totals
    val sql = "SELECT city, count(*) AS rows, count(amt / d) AS n, sum(amt / d) AS s, max(amt / d) AS mx " +
      "FROM f GROUP BY city"
    val inserts = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amt" -> "10", "d" -> "2"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amt" -> "8", "d" -> "0"), 2L),   // div-by-zero → NULL
      Change("insert", 3L, ts(2), Map("city" -> "ber", "amt" -> "NaN", "d" -> "1"), 3L), // NaN string → NULL
      Change("insert", 4L, ts(3), Map("city" -> "ber", "amt" -> "6", "d" -> "3"), 4L),
    )
    // bad rows skip the NULL-respecting aggregates but count toward count(*)
    runView(sql, "pv_nonfinite_a", Seq(Map("f" -> inserts)))
    assert(aggState("pv_nonfinite_a", Seq("city")) ==
      Map(Seq[Any]("ber") -> Seq[Any](4L, 2L, 5.0 + 2.0, 5.0)))
    // deleting the malformed rows must leave finite, exact totals
    val deletes = Seq(
      Change("delete", 2L, ts(10), Map.empty, 5L),
      Change("delete", 3L, ts(11), Map.empty, 6L),
    )
    runView(sql, "pv_nonfinite_b", Seq(Map("f" -> inserts), Map("f" -> deletes)))
    assert(aggState("pv_nonfinite_b", Seq("city")) ==
      Map(Seq[Any]("ber") -> Seq[Any](2L, 2L, 7.0, 5.0)),
      "retracting a once-malformed row must not leave NaN residue")
  }

  test("#171w fixed-point slots: 1k +x/−x churn cycles end BIT-equal to batch recompute") {
    // the engine-exactness bar (q12/q80/Lloyd discipline): a group that
    // survives heavy add/retract churn of a float-unfriendly value
    // (0.1 has no finite binary expansion) must end with its total
    // BIT-equal to the batch recompute — Double running totals leave
    // ~1e-16 residue after ONE cycle; micro-unit integer folds leave none
    val sql = "SELECT city, sum(amount) AS total, count(*) AS n FROM f GROUP BY city"
    val stable = Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "0.3"), 1L)
    // 960 cycles inside batches (netted by stage-1 LWW) + 40 cycles
    // crossing batch boundaries (each hitting stage-2 retraction
    // arithmetic) = 1000 +0.1/−0.1 cycles on key 9
    val inBatchChurn = (1 to 960).flatMap { i =>
      Seq(
        Change("insert", 9L, ts(i), Map("city" -> "ber", "amount" -> "0.1"), 2L * i),
        Change("delete", 9L, ts(i), Map.empty, 2L * i + 1))
    }
    val crossBatch = (1 to 40).flatMap { i =>
      Seq(
        Map("f" -> Seq(Change("insert", 9L, ts(2000 + 2 * i), Map("city" -> "ber", "amount" -> "0.1"), 4000L + 2 * i))),
        Map("f" -> Seq(Change("delete", 9L, ts(2001 + 2 * i), Map.empty, 4001L + 2 * i))))
    }
    val batches = Seq(Map("f" -> (stable +: inBatchChurn))) ++ crossBatch
    runView(sql, "pv_churn", batches)
    val got = aggState("pv_churn", Seq("city"))
    assert(got == Map(Seq[Any]("ber") -> Seq[Any](0.3, 1L)),
      s"churned total must be BIT-equal to 0.3 with zero residue: $got")
  }

  test("#171x windowed view through materializeExpiring: window retraction works, dead state expires") {
    // the documented composition: the windowed grouping rides the SAME
    // TTL-bounded dataflow as scalar groups — a delete retracts from its
    // hour, then the dead stage-1 contribution expires from the store
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val planned = IncrementalPlanner.materializeExpiring(
      spark,
      "SELECT window(ts_us, '1 hour') AS w, count(*) AS n, sum(amount) AS total FROM f GROUP BY window(ts_us, '1 hour')",
      Map("f" -> input.toDS()),
      watermarkDelay = "1 second", tombstoneTtlMs = 1000L)
    val q = IncrementalView.withRelaxedWatermarkCheck(spark) {
      planned.df.writeStream.format("memory").queryName("pv_win_ttl")
        .outputMode(planned.outputMode)
        .option("checkpointLocation", tmp("pvwinttl")).start()
    }
    try {
      def at(h: Int, m: Int) = new Timestamp(3600000L * h + 60000L * m)
      input.addData(
        Change("insert", 1L, at(0, 5), Map("amount" -> "10"), 1L),
        Change("insert", 2L, at(0, 20), Map("amount" -> "5"), 2L),
        Change("insert", 3L, at(1, 10), Map("amount" -> "7"), 3L))
      q.processAllAvailable()
      val hourUs = 3600L * 1000000
      assert(aggState("pv_win_ttl", Seq("w")) == Map(
        Seq[Any]("0") -> Seq[Any](2L, 15.0),
        Seq[Any](hourUs.toString) -> Seq[Any](1L, 7.0)))
      // delete key 2: hour 0 retracts to (1, 10); watermark advances far
      // past delete+ttl via later traffic so the tombstone expires
      input.addData(Change("delete", 2L, at(1, 30), Map.empty, 4L))
      q.processAllAvailable()
      input.addData(Change("insert", 4L, at(3, 0), Map("amount" -> "1"), 5L))
      q.processAllAvailable()
      input.addData(Change("insert", 5L, at(5, 0), Map("amount" -> "2"), 6L))
      q.processAllAvailable()
      val hour0 = aggState("pv_win_ttl", Seq("w")).get(Seq[Any]("0"))
      assert(hour0.contains(Seq[Any](1L, 10.0)),
        s"hour-0 retraction must survive tombstone expiry: $hour0")
    } finally q.stop()
  }

  test("#171y windowed aggregate OVER A JOIN: window groups compose with the join dataflow") {
    // the last cell of the planner matrix: a temporal GROUP BY over a
    // two-feed join — window moves, group moves, and deletes all
    // retract THROUGH the join into the right (window, city) group
    val hourUs = 3600L * 1000000
    val base   = 1700000000000L * 1000 // ts(0) as epoch micros
    def order(op: String, k: Long, m: Int, amt: String, whenUs: Long, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty else Map("amount" -> amt, "when_us" -> whenUs.toString), seq)
    val users = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "par"), 3L),
      Change("insert", 4L, ts(3), Map("city" -> "par"), 4L))
    val orders0 = Seq(
      order("insert", 1L, 0, "10", base, 1L),
      order("insert", 2L, 1, "5", base + hourUs / 2, 2L), // same hour as key 1
      order("insert", 3L, 2, "50", base + hourUs, 3L),
      order("insert", 4L, 3, "7", base + hourUs, 4L))
    val late = Map(
      "orders" -> Seq(
        order("update", 2L, 10, "5", base + 2 * hourUs, 5L), // window move: hour 0 → hour 2
        order("delete", 4L, 11, "", 0L, 6L)),                // retracts from (hour 1, par)
      "users" -> Seq(
        Change("update", 3L, ts(12), Map("city" -> "ber"), 5L))) // group move par→ber through the join
    val sql = "SELECT window(r.when_us, '1 hour') AS w, l.city, count(*) AS n, sum(r.amount) AS total " +
      "FROM users l JOIN orders r ON l.key = r.key GROUP BY window(r.when_us, '1 hour'), l.city"
    runView(sql, "pv_winjoin",
      Seq(Map("users" -> users, "orders" -> orders0), late))
    val h0 = Math.floorDiv(base, hourUs) * hourUs // windows are floor-ALIGNED to the duration
    assert(aggState("pv_winjoin", Seq("w", "city")) == Map(
      Seq[Any](h0.toString, "ber") -> Seq[Any](1L, 10.0),                // key 1
      Seq[Any]((h0 + 2 * hourUs).toString, "ber") -> Seq[Any](1L, 5.0),  // key 2 after the window move
      Seq[Any]((h0 + hourUs).toString, "ber") -> Seq[Any](1L, 50.0)),    // key 3 after the city move
      "hour-0 half (key 2) must leave, (hour 1, par) must tombstone, key 3 must land in ber")
  }

  test("#171z COUNT(DISTINCT x): counts FALL when a value's last row leaves; NULLs never count") {
    val sql = "SELECT city, count(DISTINCT color) AS n FROM t GROUP BY city"
    def c(op: String, k: Long, m: Int, city: String, color: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty
        else if (color == null) Map("city" -> city) else Map("city" -> city, "color" -> color), seq)
    val batches = Seq(
      Map("t" -> Seq(
        c("insert", 1L, 0, "ber", "red", 1L),
        c("insert", 2L, 1, "ber", "red", 2L),   // duplicate value: n stays 1
        c("insert", 3L, 2, "ber", "blue", 3L),
        c("insert", 4L, 3, "par", null, 4L),    // NULL never counts
        c("insert", 5L, 4, "par", "green", 5L))),
      Map("t" -> Seq(
        c("delete", 3L, 10, "", "", 6L),        // blue's LAST row leaves: ber falls 2 → 1
        c("delete", 2L, 11, "", "", 7L))),      // red keeps key 1: ber stays 1
      Map("t" -> Seq(
        c("update", 1L, 12, "par", "red", 8L))) // red moves city: ber empties, par rises
    )
    runView(sql, "pv_cd", batches)
    val got = aggState("pv_cd", Seq("city"))
    assert(got == Map(Seq[Any]("par") -> Seq[Any](2L)),
      s"ber must tombstone (its last distinct value moved), par = {green, red}: $got")

    // batching invariance for the two-level dataflow
    val flat = batches.flatMap(_("t"))
    runView(sql, "pv_cd_split", flat.map(ch => Map("t" -> Seq(ch))))
    assert(aggState("pv_cd_split", Seq("city")) == got)

  }

  test("#171bx DISTINCT aggregates over DIFFERENT arguments: per-argument inner views under churn; ROLLUP composes") {
    val sql = "SELECT city, count(DISTINCT color) AS nc, count(DISTINCT dev) AS ndv, " +
      "sum(DISTINCT amount) AS sa, count(*) AS n, max(amount) AS mx FROM t GROUP BY city"
    def r(op: String, k: Long, m: Int, city: String, color: String, dev: String, amount: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String]
        else Map("city" -> city, "color" -> color, "dev" -> dev, "amount" -> amount), seq)
    val b1 = Seq(
      r("insert", 1L, 0, "ber", "red", "ph", "10", 1L),
      r("insert", 2L, 1, "ber", "red", "pc", "10", 2L),   // dup color AND dup amount
      r("insert", 3L, 2, "ber", "green", "ph", "20", 3L),
      r("insert", 4L, 3, "par", "blue", "tv", "5", 4L))
    val b2 = Seq(
      r("delete", 2L, 10, null, null, null, null, 5L),    // red survives (key 1), pc dies, 10 survives
      r("update", 3L, 11, "ber", "red", "ph", "30", 6L))  // green dies, 20 -> 30
    runView(sql, "pv_multi_dist", Seq(Map("t" -> b1), Map("t" -> b2)))
    val got = aggState("pv_multi_dist", Seq("city"))
    // ber final rows: {1:(red,ph,10), 3:(red,ph,30)} → nc=1, ndv=1, sa=40, n=2, mx=30
    assert(got == Map(
      Seq[Any]("ber") -> Seq[Any](1L, 1L, 40.0, 2L, 30.0),
      Seq[Any]("par") -> Seq[Any](1L, 1L, 5.0, 1L, 5.0)),
      s"multi-distinct view: $got")

    // ROLLUP × multiple distinct arguments: the grand-total level sees
    // cross-city distinctness exactly once
    val sqlR = "SELECT city, count(DISTINCT color) AS nc, count(DISTINCT dev) AS ndv " +
      "FROM t GROUP BY ROLLUP(city)"
    runView(sqlR, "pv_multi_dist_r", Seq(Map("t" -> b1), Map("t" -> b2)))
    val gotR = aggState("pv_multi_dist_r", Seq("city"))
    assert(gotR == Map(
      Seq[Any]("ber") -> Seq[Any](1L, 1L),
      Seq[Any]("par") -> Seq[Any](1L, 1L),
      Seq[Any](null)  -> Seq[Any](2L, 2L)), // {red, blue}, {ph, tv}
      s"rollup multi-distinct: $gotR")
  }

  test("#171aa mixed plain + DISTINCT aggregates: exact two-level decomposition under churn") {
    // count/sum/avg(DISTINCT amount) mixed with count(*)/sum/avg/min/max —
    // the plain aggregates decompose through the inner (group, value)
    // level as partials (count → sum of counts, avg → ratio of partial
    // sums, extremum of extrema); min(DISTINCT) normalizes to plain min
    val sql = "SELECT city, count(DISTINCT amount) AS nd, sum(DISTINCT amount) AS sd, " +
      "avg(DISTINCT amount) AS ad, count(*) AS n, sum(amount) AS s, avg(amount) AS a, " +
      "min(DISTINCT amount) AS mn, max(amount) AS mx FROM t GROUP BY city"
    def e(op: String, k: Long, m: Int, city: String, amount: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String]
        else Map("city" -> city) ++ Option(amount).map("amount" -> _), seq)
    val batches = Seq(
      Map("t" -> Seq(
        e("insert", 1L, 0, "ber", "10", 1L),
        e("insert", 2L, 1, "ber", "10", 2L),  // duplicate value: nd/sd unchanged, n/s see it
        e("insert", 3L, 2, "ber", "20", 3L),
        e("insert", 4L, 3, "par", "5", 4L),
        e("insert", 5L, 4, "par", null, 5L))), // NULL: counts in n only
      Map("t" -> Seq(
        e("delete", 3L, 10, "", "", 6L),       // value 20's last row leaves: nd 2→1, sd 30→10, mx 20→10
        e("update", 2L, 11, "par", "7", 7L))), // row moves city AND value
      Map("t" -> Seq(
        e("update", 4L, 12, "par", "7", 8L)))  // par collapses to one distinct value {7}
    )
    runView(sql, "pv_mix", batches)
    val got = aggState("pv_mix", Seq("city"))
    val want = Map(
      Seq[Any]("ber") -> Seq[Any](1L, 10.0, 10.0, 1L, 10.0, 10.0, 10.0, 10.0),
      Seq[Any]("par") -> Seq[Any](1L, 7.0, 7.0, 3L, 14.0, 7.0, 7.0, 7.0))
    assert(got == want, s"mixed distinct decomposition diverged: $got")

    // batching invariance for the decomposed dataflow
    val flat = batches.flatMap(_("t"))
    runView(sql, "pv_mix_split", flat.map(ch => Map("t" -> Seq(ch))))
    assert(aggState("pv_mix_split", Seq("city")) == want)
  }

  test("#171ab min/max NULL exclusion: a NULL-valued row never contributes 0 to the extremum") {
    // regression: the NaN "excluded" marker for NULL min/max operands
    // must survive the extract layer — asNum rejects NaN (the malformed-
    // data guard), so re-coercing slot outputs there flattened NULL rows
    // into real 0.0 contributions, silently corrupting every extremum
    // over a NULL-bearing column
    val sql = "SELECT city, min(amount) AS mn, max(amount) AS mx FROM t GROUP BY city"
    def e(op: String, k: Long, m: Int, city: String, amount: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String]
        else Map("city" -> city) ++ Option(amount).map("amount" -> _), seq)
    runView(sql, "pv_nullext", Seq(
      Map("t" -> Seq(
        e("insert", 1L, 0, "ber", "5", 1L),
        e("insert", 2L, 1, "ber", null, 2L))),   // NULL row: excluded, NOT a 0
      Map("t" -> Seq(e("delete", 1L, 2, "", "", 3L))))) // only the NULL row remains
    val got = aggState("pv_nullext", Seq("city"))
    assert(got == Map(Seq[Any]("ber") -> Seq[Any](null, null)),
      s"a group holding only NULL-valued rows must report NULL extrema (live, not tombstoned): $got")
  }

  test("#171e group emptied emits _live_rows=0 tombstone; unsupported SQL fails fast") {
    val sql = "SELECT city, sum(amount) AS total FROM activity GROUP BY city"
    // insert and delete in SEPARATE batches: stage 1 nets within a
    // batch, so a same-batch insert+delete correctly emits nothing
    runView(sql, "pv_tomb", Seq(
      Map("activity" -> Seq(Change("insert", 1L, ts(0), Map("city" -> "solo", "amount" -> "5"), 1L))),
      Map("activity" -> Seq(Change("delete", 1L, ts(5), Map.empty, 2L)))))
    val rows = spark.table("pv_tomb").collect().toSeq.filter(_.getAs[String]("city") == "solo")
    assert(rows.nonEmpty && rows.last.getAs[Long]("_live_rows") == 0L,
      "emptied group must re-emit its tombstone")
    // fail-fast contract on SQL outside the subset
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val feeds = Map("activity" -> MemoryStream[Change].toDS())
    // (median moved INTO the subset in r10, corr in r11 —
    // histogram_numeric remains outside it)
    val e1 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT city, histogram_numeric(amount, 5) AS s FROM activity GROUP BY city", feeds)
    }
    assert(e1.getMessage.contains("histogram_numeric"))
    // unsupported expression vocabulary inside an ON still fails fast
    // (pure non-equi COMPARISONS compile to the guarded cross
    // arrangement since r7 — see #171be)
    val e2 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(
        spark, "SELECT l.name FROM users l JOIN activity r ON levenshtein(l.name, r.city) < 2",
        feeds + ("users" -> feeds("activity")))
    }
    assert(e2.getMessage.contains("levenshtein"))
  }

  // ----------------------------------------------------------------
  // #171an–ap: session-window views — the window class a per-row
  // derived group key cannot express (sessions merge and split on any
  // membership change)
  // ----------------------------------------------------------------

  private def minUs(m: Int): Long = m * 60000000L

  /** Latest live emission per (group cols, session start) of a planned
    * session view.
    */
  private def sessionState(table: String, groupCols: Seq[String], valCols: Seq[String]): Map[Seq[Any], Seq[Any]] =
    spark.table(table).collect().toSeq
      .groupBy(r => groupCols.map(c => r.getAs[Any](c)) :+ r.getAs[Any]("sw_start_us"))
      .view.mapValues(_.last)
      .collect { case (g, r) if r.getAs[Long]("_live_rows") > 0L => g -> valCols.map(c => r.getAs[Any](c)) }
      .toMap

  test("#171an planned SESSION-window view == Spark's own batch session_window; moves/deletes/NULLs retract") {
    val sql = "SELECT user, session_window(ev, '10 minutes') AS sw, count(*) AS n, " +
      "sum(v) AS total, min(v) AS mn, max(v) AS mx FROM f GROUP BY user, session_window(ev, '10 minutes')"
    def ins(k: Long, user: String, evMin: Int, v: Option[String], seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("user" -> user, "ev" -> minUs(evMin).toString) ++ v.map("v" -> _), seq)
    val b1 = Seq(
      ins(1L, "a", 0, Some("3"), 1L),
      ins(2L, "a", 4, Some("9"), 2L),
      ins(3L, "a", 8, Some("1"), 3L),
      ins(4L, "a", 30, Some("5"), 4L),
      ins(5L, "a", 36, Some("2"), 5L),
      ins(6L, "b", 5, Some("7"), 6L),
      ins(7L, "b", 14, None, 7L), // NULL v: counts in n, excluded from sum/min/max
    )
    val b2 = Seq(
      // key 2 moves 4→32 min (leaves session 1, lands inside [30,46)) and changes value
      Change("update", 2L, ts(20), Map("user" -> "a", "ev" -> minUs(32).toString, "v" -> "11"), 8L),
      // key 6 changes USER b→a (scalar group move; b's session shrinks to the NULL row)
      Change("update", 6L, ts(21), Map("user" -> "a", "ev" -> minUs(5).toString, "v" -> "7"), 9L),
      Change("delete", 5L, ts(22), Map.empty, 10L),
    )
    runView(sql, "pv_sess", Seq(Map("f" -> b1), Map("f" -> b2)))
    val got = sessionState("pv_sess", Seq("user"), Seq("sw_end_us", "n", "total", "mn", "mx"))
    // batch truth: Spark's OWN session_window over the final LWW state
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fs = finalState(b1 ++ b2)
    val batch = fs.toSeq.map { case (k, p) =>
      (k, p("user"), p("ev").toLong, p.get("v").map(_.toDouble))
    }.toDF("key", "user", "ev_us", "v").withColumn("ev", timestamp_micros(col("ev_us")))
    val want = batch.groupBy(col("user"), session_window(col("ev"), "10 minutes"))
      .agg(count(lit(1)).as("n"), sum("v").as("total"), min("v").as("mn"), max("v").as("mx"))
      .collect().map { r =>
        Seq[Any](r.getAs[String]("user"),
          r.getAs[Row]("session_window").getAs[Timestamp]("start").getTime * 1000L) ->
          Seq[Any](r.getAs[Row]("session_window").getAs[Timestamp]("end").getTime * 1000L,
            r.getAs[Long]("n"), r.getAs[Any]("total"), r.getAs[Any]("mn"), r.getAs[Any]("mx"))
      }.toMap
    assert(got == want, s"session view\n  $got\n  != batch\n  $want")
    // the group move is visible: b's surviving session is the lone NULL row
    assert(got(Seq[Any]("b", minUs(14))) == Seq[Any](minUs(24), 1L, null, null, null))
  }

  test("#171ao sessions MERGE when a bridging row arrives and SPLIT when it deletes, with tombstones") {
    val sql = "SELECT session_window(ev, '10 minutes') AS sw, count(*) AS n, sum(v) AS total " +
      "FROM f GROUP BY session_window(ev, '10 minutes')"
    def ins(k: Long, evMin: Int, v: Int, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("ev" -> minUs(evMin).toString, "v" -> v.toString), seq)
    val b1 = Seq(ins(1L, 0, 1, 1L), ins(2L, 5, 2, 2L), ins(3L, 20, 4, 3L), ins(4L, 25, 8, 4L))
    val b2 = Seq(ins(5L, 12, 16, 5L)) // bridges [0,15) and [20,35) into one [0,35)
    val b3 = Seq(Change("delete", 5L, ts(9), Map.empty, 6L)) // split back
    runView(sql, "pv_sess_ms", Seq(Map("f" -> b1), Map("f" -> b2), Map("f" -> b3)))
    // final state: the two original sessions, bit-identical to before the bridge
    val fin = sessionState("pv_sess_ms", Nil, Seq("sw_end_us", "n", "total"))
    assert(fin == Map(
      Seq[Any](minUs(0))  -> Seq[Any](minUs(15), 2L, 3.0),
      Seq[Any](minUs(20)) -> Seq[Any](minUs(35), 2L, 12.0)), s"post-split state: $fin")
    // emission history proves merge + split happened through tombstones:
    // session 20min: live(n=2) → tombstone (merged away) → live(n=2)
    val hist20 = spark.table("pv_sess_ms").collect().toSeq
      .filter(_.getAs[Long]("sw_start_us") == minUs(20))
      .map(r => (r.getAs[Long]("_live_rows"), r.getAs[Long]("n")))
    assert(hist20 == Seq((2L, 2L), (0L, 0L), (2L, 2L)), s"session-20 history: $hist20")
    // session 0min: [0,15) n=2 → merged [0,35) n=5 → [0,15) n=2
    val hist0 = spark.table("pv_sess_ms").collect().toSeq
      .filter(_.getAs[Long]("sw_start_us") == minUs(0))
      .map(r => (r.getAs[Long]("sw_end_us"), r.getAs[Long]("n"), r.getAs[Double]("total")))
    assert(hist0 == Seq((minUs(15), 2L, 3.0), (minUs(35), 5L, 31.0), (minUs(15), 2L, 3.0)),
      s"session-0 history: $hist0")
  }

  // ----------------------------------------------------------------
  // #171aq–as: ranked views — row_number()/rank()/dense_rank() OVER
  // (PARTITION BY … ORDER BY …), optionally bounded by an outer
  // WHERE rn <= k (top-k per partition, state sharded by partition)
  // ----------------------------------------------------------------

  /** Fold a ranked view's changefeed into final state: identity is
    * (key, _partition) — the view's documented multiset-diff contract.
    */
  private def rankedState(table: String, cols: Seq[String]): Map[(Long, String), Seq[Any]] =
    spark.table(table).collect().toSeq
      .sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("seq")))
      .foldLeft(Map.empty[(Long, String), Seq[Any]]) { (m, r) =>
        val id = (r.getAs[Long]("key"), r.getAs[String]("_partition"))
        if (r.getAs[String]("op") == "delete") m - id
        else m + (id -> cols.map(c => r.getAs[Any](c)))
      }

  test("#171aq ranked view row_number() == batch recompute; sort moves, partition moves, deletes") {
    val sql = "SELECT city, name, amount, row_number() OVER (PARTITION BY city ORDER BY amount DESC) AS rn " +
      "FROM t WHERE amount > 1"
    val b1 = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "name" -> "a", "amount" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "name" -> "b", "amount" -> "5"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "ber", "name" -> "c", "amount" -> "20"), 3L),
      Change("insert", 4L, ts(3), Map("city" -> "par", "name" -> "d", "amount" -> "7"), 4L),
      Change("insert", 5L, ts(4), Map("city" -> "par", "name" -> "e", "amount" -> "7"), 5L), // tie → key order
      Change("insert", 6L, ts(5), Map("city" -> "par", "name" -> "f", "amount" -> "1"), 6L), // out of WHERE
    )
    val b2 = Seq(
      Change("update", 2L, ts(10), Map("city" -> "ber", "name" -> "b", "amount" -> "30"), 7L), // climbs to #1
      Change("update", 3L, ts(11), Map("city" -> "par", "name" -> "c", "amount" -> "20"), 8L), // partition move
      Change("delete", 1L, ts(12), Map.empty, 9L),
      Change("update", 2L, ts(9), Map("city" -> "ber", "name" -> "STALE", "amount" -> "0"), 0L), // stale-dropped
    )
    runView(sql, "pv_rank", Seq(Map("t" -> b1), Map("t" -> b2)))
    val byId = rankedState("pv_rank", Seq("city", "name", "amount", "rn"))
    assert(byId.keySet.map(_._1).size == byId.size, s"a key is live in two partitions: ${byId.keySet}")
    val got = byId.map { case ((k, _), v) => k -> v }
    // batch truth: Spark's own window function over the final LWW state,
    // with the view's documented deterministic tiebreak (change key asc)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fs = finalState(b1 ++ b2).filter { case (_, p) => p("amount").toDouble > 1 }
    val df = fs.toSeq.map { case (k, p) => (k, p("city"), p("name"), p("amount")) }
      .toDF("key", "city", "name", "amount")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("city").orderBy(col("amount").cast("double").desc, col("key").asc)
    val want = df.withColumn("rn", row_number().over(w)).collect().map { r =>
      r.getAs[Long]("key") -> Seq[Any](r.getAs[String]("city"), r.getAs[String]("name"),
        r.getAs[String]("amount"), r.getAs[Int]("rn").toLong)
    }.toMap
    assert(got == want, s"ranked view\n  $got\n  != batch\n  $want")
    // the par tie (d=7, e=7) resolved by change key: k4 before k5
    assert(want(4L).last == 2L && want(5L).last == 3L)
  }

  test("#171ar bounded ranked views: deleting a leader PROMOTES past the cut; rank() keeps ties") {
    val sql = "SELECT name, rn FROM (SELECT city, name, " +
      "row_number() OVER (PARTITION BY city ORDER BY score DESC) AS rn FROM t) x WHERE rn <= 2"
    def ins(k: Long, city: String, name: String, score: Int, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> city, "name" -> name, "score" -> score.toString), seq)
    val b1 = Seq(ins(1L, "ber", "a", 50, 1L), ins(2L, "ber", "b", 40, 2L), ins(3L, "ber", "c", 30, 3L))
    val b2 = Seq(Change("delete", 1L, ts(10), Map.empty, 4L))
    runView(sql, "pv_rank_k", Seq(Map("t" -> b1), Map("t" -> b2)))
    // before the delete, key 3 is OUTSIDE the cut (no emission); after,
    // it promotes in at rn=2 and key 1 tombstones
    assert(rankedState("pv_rank_k", Seq("name", "rn")) ==
      Map((2L, "ber") -> Seq[Any]("b", 1L), (3L, "ber") -> Seq[Any]("c", 2L)))
    val key3Ops = spark.table("pv_rank_k").collect().toSeq
      .filter(_.getAs[Long]("key") == 3L).map(r => (r.getAs[String]("op"), r.getAs[Any]("rn")))
    assert(key3Ops == Seq(("upsert", 2L)), s"key-3 history: $key3Ops")
    assert(spark.table("pv_rank_k").collect().toSeq
      .exists(r => r.getAs[String]("op") == "delete" && r.getAs[Long]("key") == 1L))

    // rank(): equal sort values share a rank, and the bound keeps ties
    val sql2 = "SELECT * FROM (SELECT name, rank() OVER (ORDER BY score DESC) AS r FROM t) x WHERE r <= 1"
    val c1 = Seq(ins(1L, "x", "a", 50, 1L), ins(2L, "x", "b", 50, 2L), ins(3L, "x", "c", 40, 3L))
    val c2 = Seq(Change("delete", 1L, ts(10), Map.empty, 4L))
    runView(sql2, "pv_rank_ties", Seq(Map("t" -> c1), Map("t" -> c2)))
    // final: b alone at rank 1 (c stays rank 2, outside the bound)
    assert(rankedState("pv_rank_ties", Seq("name", "r")) == Map((2L, "") -> Seq[Any]("b", 1L)))
    // while tied, BOTH a and b were live at rank 1
    val live1 = spark.table("pv_rank_ties").collect().toSeq
      .filter(r => r.getAs[String]("op") == "upsert" && r.getAs[Long]("r") == 1L)
      .map(_.getAs[Long]("key")).toSet
    assert(live1 == Set(1L, 2L), s"rank-1 upserts: $live1")
  }

  test("#171as dense_rank + ranked-view state guard raises past spark.graft.ranked.maxRowsPerGroup") {
    val sql = "SELECT name, dense_rank() OVER (ORDER BY score DESC) AS dr FROM t"
    def ins(k: Long, name: String, score: Int, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("name" -> name, "score" -> score.toString), seq)
    val b1 = Seq(ins(1L, "a", 50, 1L), ins(2L, "b", 50, 2L), ins(3L, "c", 40, 3L))
    runView(sql, "pv_dense", Seq(Map("t" -> b1)))
    assert(rankedState("pv_dense", Seq("name", "dr")) ==
      Map((1L, "") -> Seq[Any]("a", 1L), (2L, "") -> Seq[Any]("b", 1L), (3L, "") -> Seq[Any]("c", 2L)))

    spark.conf.set("spark.graft.ranked.maxRowsPerGroup", "2")
    try {
      val e = intercept[Exception] { runView(sql, "pv_rank_guard", Seq(Map("t" -> b1))) }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("maxRowsPerGroup"), s"expected the guard's raise, got: $msgs")
    } finally spark.conf.unset("spark.graft.ranked.maxRowsPerGroup")
  }

  // ----------------------------------------------------------------
  // #171at–av: VALUE-equi joins — a.x = b.y where neither side is the
  // change key (the arrangement-class N:M join, sharded by join value)
  // ----------------------------------------------------------------

  /** Live row multiset of a planned view's changefeed (opaque keys). */
  private def rowBag(table: String, cols: Seq[String]): Seq[Seq[Any]] =
    rowState(table, cols).values.toSeq.sortBy(_.mkString("|"))

  test("#171at inner VALUE-equi join == batch recompute: N:M pairs, value moves, payload fan-out, deletes") {
    val sql = "SELECT l.name AS name, r.tag AS tag FROM t1 l JOIN t2 r ON l.city = r.city"
    val b1 = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "name" -> "a"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "name" -> "b"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "par", "name" -> "c"), 3L))
    val c1 = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "tag" -> "x"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "tag" -> "y"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "rom", "tag" -> "z"), 3L))
    val b2 = Seq(
      Change("update", 3L, ts(10), Map("city" -> "ber", "name" -> "c2"), 4L), // value move par→ber
      Change("delete", 1L, ts(11), Map.empty, 5L))
    val c2 = Seq(
      Change("update", 2L, ts(12), Map("city" -> "ber", "tag" -> "y2"), 4L)) // payload fan-out to all partners
    runView(sql, "pv_vjoin",
      Seq(Map("t1" -> b1, "t2" -> c1), Map("t1" -> b2, "t2" -> c2)))
    val got = rowBag("pv_vjoin", Seq("name", "tag"))
    // batch truth: SQL inner join over the final LWW states
    import spark.implicits._
    val lDf = finalState(b1 ++ b2).toSeq.map { case (_, p) => (p("city"), p("name")) }.toDF("city", "name")
    val rDf = finalState(c1 ++ c2).toSeq.map { case (_, p) => (p("city"), p("tag")) }.toDF("city", "tag")
    val want = lDf.join(rDf, "city").select("name", "tag").collect()
      .map(r => Seq[Any](r.getString(0), r.getString(1))).toSeq.sortBy(_.mkString("|"))
    assert(got == want, s"value join\n  $got\n  != batch\n  $want")
    assert(got.size == 4) // {b,c2} × {x,y2}
  }

  test("#171au LEFT value-equi join: solos while unmatched, partner arrival kills them, partner loss resurrects; NULL never matches") {
    val sql = "SELECT l.name AS name, r.tag AS tag FROM t1 l LEFT JOIN t2 r ON l.city = r.city"
    val b1 = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "name" -> "a"), 1L),
      Change("insert", 2L, ts(1), Map("name" -> "nocity"), 2L)) // NULL join value: preserved, never matches
    val c1 = Seq.empty[Change]
    val c2 = Seq(Change("insert", 1L, ts(10), Map("city" -> "ber", "tag" -> "x"), 1L))
    val c3 = Seq(Change("delete", 1L, ts(20), Map.empty, 2L))
    runView(sql, "pv_vleft", Seq(Map("t1" -> b1, "t2" -> c1), Map("t2" -> c2), Map("t2" -> c3)))
    // final: partner deleted again → both rows are solos (tag NULL)
    assert(rowBag("pv_vleft", Seq("name", "tag")) ==
      Seq(Seq[Any]("a", null), Seq[Any]("nocity", null)))
    // a's history: solo → paired (solo deleted) → solo again
    val aOps = spark.table("pv_vleft").collect().toSeq
      .sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("seq")))
      .filter(r => r.getAs[String]("op") == "upsert" && r.getAs[String]("name") == "a")
      .map(r => Option(r.getAs[String]("tag")))
    assert(aOps == Seq(None, Some("x"), None), s"a's visible history: $aOps")
    // nocity never paired
    val noc = spark.table("pv_vleft").collect().toSeq
      .filter(r => r.getAs[String]("name") == "nocity").map(r => Option(r.getAs[String]("tag"))).distinct
    assert(noc == Seq(None))
  }

  test("#171av joining AGGREGATE subqueries on group columns; key-join of one rejected; guards") {
    val sql = "SELECT a.city AS city, a.total AS total, b.n AS n FROM " +
      "(SELECT city, sum(amount) AS total FROM t1 GROUP BY city) a JOIN " +
      "(SELECT city, count(*) AS n FROM t2 GROUP BY city) b ON a.city = b.city"
    val b1 = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "5"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "7"), 3L))
    val c1 = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber"), 2L))
    val b2 = Seq(Change("delete", 2L, ts(10), Map.empty, 4L)) // ber total 15→10
    runView(sql, "pv_vagg", Seq(Map("t1" -> b1, "t2" -> c1), Map("t1" -> b2)))
    // par has no t2 partner (inner join drops it); ber re-emitted at total=10
    assert(rowBag("pv_vagg", Seq("city", "total", "n")) ==
      Seq(Seq[Any]("ber", "10.0", "2")))

    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val feeds = Map("t1" -> MemoryStream[Change].toDS(), "t2" -> MemoryStream[Change].toDS())
    // key-shaped join of an aggregate subquery rejected (group-hash keys)
    val e1 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT a.city AS city FROM (SELECT city, count(*) AS n FROM t1 GROUP BY city) a " +
          "JOIN t2 b ON a.key = b.key", feeds)
    }
    assert(e1.getMessage.contains("group-identity hashes"), e1.getMessage)
    // unqualified value-join condition rejected with the fix
    val e2 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT l.name AS name FROM t1 l JOIN t2 r ON city = r.city", feeds)
    }
    assert(e2.getMessage.contains("qualify"), e2.getMessage)
  }

  test("#171aw composite ON (two equalities) + non-equi residual: tuple arrangement, NULL component never matches") {
    val sql = "SELECT l.name AS name, r.tag AS tag FROM t1 l JOIN t2 r " +
      "ON l.city = r.city AND l.grp = r.grp AND l.v < r.w"
    val b1 = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "grp" -> "g1", "name" -> "a", "v" -> "5"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "grp" -> "g2", "name" -> "b", "v" -> "5"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "ber", "name" -> "nogrp", "v" -> "5"), 3L)) // NULL grp: never matches
    val c1 = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "grp" -> "g1", "tag" -> "hi", "w" -> "9"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "grp" -> "g1", "tag" -> "lo", "w" -> "3"), 2L), // residual fails (5 < 3 false)
      Change("insert", 3L, ts(2), Map("city" -> "ber", "grp" -> "g2", "tag" -> "mid", "w" -> "6"), 3L))
    runView(sql, "pv_vcomp", Seq(Map("t1" -> b1, "t2" -> c1)))
    assert(rowBag("pv_vcomp", Seq("name", "tag")) ==
      Seq(Seq[Any]("a", "hi"), Seq[Any]("b", "mid")))
    // the residual is LIVE: w moving under the cut retracts the pair
    runView(sql, "pv_vcomp2", Seq(
      Map("t1" -> b1, "t2" -> c1),
      Map("t2" -> Seq(Change("update", 1L, ts(10), Map("city" -> "ber", "grp" -> "g1", "tag" -> "hi", "w" -> "4"), 4L)))))
    assert(rowBag("pv_vcomp2", Seq("name", "tag")) == Seq(Seq[Any]("b", "mid")))
    // guard: key-equi inside a multi-ON rejected (outer + residual now
    // compiles onto the visible-set diff fold — spec #171bi)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val feeds = Map("t1" -> MemoryStream[Change].toDS(), "t2" -> MemoryStream[Change].toDS())
    // key-shaped ON + residual compiles for INNER since r8 (#171bo);
    // the OUTER form still rejects (residual decides match status)
    val e2 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT l.name AS name FROM t1 l LEFT JOIN t2 r ON l.key = r.key AND l.v < r.w", feeds)
    }
    assert(e2.getMessage.contains("match status"), e2.getMessage)
  }

  test("#171ax navigation (lag/lead) and aggregate window functions: live neighbor/total maintenance") {
    def ins(k: Long, g: String, name: String, ev: Int, v: Int, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("g" -> g, "name" -> name, "ev" -> ev.toString, "v" -> v.toString), seq)
    val b1 = Seq(ins(1L, "a", "n1", 1, 10, 1L), ins(2L, "a", "n2", 2, 20, 2L),
      ins(3L, "a", "n3", 3, 30, 3L), ins(4L, "b", "n4", 1, 5, 4L))
    val b2 = Seq(
      Change("update", 2L, ts(10), Map("g" -> "a", "name" -> "n2", "ev" -> "5", "v" -> "25"), 5L), // reorder + value change
      Change("delete", 1L, ts(11), Map.empty, 6L))

    // navigation + RUNNING aggregates, one shared OVER clause
    val sql1 = "SELECT name, lag(v) OVER (PARTITION BY g ORDER BY ev) AS prev, " +
      "lead(v, 1, '-1') OVER (PARTITION BY g ORDER BY ev) AS nxt, " +
      "sum(v) OVER (PARTITION BY g ORDER BY ev) AS rsum, " +
      "count(*) OVER (PARTITION BY g ORDER BY ev) AS cnt FROM t"
    runView(sql1, "pv_nav", Seq(Map("t" -> b1), Map("t" -> b2)))
    // final a order by ev: n3(ev3) then n2(ev5); b: n4 alone
    assert(rankedState("pv_nav", Seq("name", "prev", "nxt", "rsum", "cnt")) == Map(
      (3L, "a") -> Seq[Any]("n3", null, "25", "30.0", "1"),
      (2L, "a") -> Seq[Any]("n2", "30", "-1", "55.0", "2"),
      (4L, "b") -> Seq[Any]("n4", null, "-1", "5.0", "1")))

    // WHOLE-partition aggregates (no ORDER BY): every row carries the
    // current total, and a total moving re-emits every member
    val sql2 = "SELECT name, sum(v) OVER (PARTITION BY g) AS total, " +
      "count(*) OVER (PARTITION BY g) AS n FROM t"
    runView(sql2, "pv_wagg", Seq(Map("t" -> b1), Map("t" -> b2)))
    assert(rankedState("pv_wagg", Seq("name", "total", "n")) == Map(
      (2L, "a") -> Seq[Any]("n2", "55.0", "2"),
      (3L, "a") -> Seq[Any]("n3", "55.0", "2"),
      (4L, "b") -> Seq[Any]("n4", "5.0", "1")))
    val k3Hist = spark.table("pv_wagg").collect().toSeq
      .filter(r => r.getAs[Long]("key") == 3L && r.getAs[String]("op") == "upsert")
      .map(r => (r.getAs[String]("total"), r.getAs[String]("n")))
    assert(k3Hist == Seq(("60.0", "3"), ("55.0", "2")), s"k3 history: $k3Hist")

    // mixing specs compiles through the mixed-OVER merge dataflow (#171bj)
  }

  test("#171ay ntile / first_value / last_value / nth_value: default-frame semantics incl. peer groups") {
    def ins(k: Long, name: String, ev: Int, v: Int, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("name" -> name, "ev" -> ev.toString, "v" -> v.toString), seq)
    val sql = "SELECT name, ntile(3) OVER (ORDER BY ev) AS nt, " +
      "first_value(v) OVER (ORDER BY ev) AS fv, last_value(v) OVER (ORDER BY ev) AS lv, " +
      "nth_value(v, 2) OVER (ORDER BY ev) AS nv, " +
      "percent_rank() OVER (ORDER BY ev) AS pr, cume_dist() OVER (ORDER BY ev) AS cd FROM t"
    val b1 = Seq(ins(1L, "n1", 1, 10, 1L), ins(2L, "n2", 2, 20, 2L), ins(3L, "n3", 3, 30, 3L),
      ins(4L, "n4", 4, 40, 4L), ins(5L, "n5", 4, 50, 5L)) // k4/k5 tie on ev
    val b2 = Seq(Change("delete", 1L, ts(10), Map.empty, 6L))
    runView(sql, "pv_pos", Seq(Map("t" -> b1), Map("t" -> b2)))
    // rows k2(ev2) k3(ev3) k4(ev4) k5(ev4): last_value reads the PEER
    // GROUP's last row (k4's lv = k5's v, the default-frame semantic);
    // cume_dist counts peers-through-me (k4's cd = 4/4 WITH its peer)
    assert(rankedState("pv_pos", Seq("name", "nt", "fv", "lv", "nv", "pr", "cd")) == Map(
      (2L, "") -> Seq[Any]("n2", 1L, "20", "20", null, 0.0, 0.25),
      (3L, "") -> Seq[Any]("n3", 1L, "20", "30", "30", 1.0 / 3, 0.5),
      (4L, "") -> Seq[Any]("n4", 2L, "20", "50", "30", 2.0 / 3, 1.0),
      (5L, "") -> Seq[Any]("n5", 3L, "20", "50", "30", 2.0 / 3, 1.0)))
  }

  test("#171az ranked view OVER an aggregate subquery: live top-k groups by their aggregate") {
    // the inner shape: Project-with-window over a derived AGGREGATE
    // table — the aggregate's changefeed feeds the ranked dataflow
    val sql2 = "SELECT * FROM (SELECT city, total, " +
      "row_number() OVER (ORDER BY total DESC) AS rn FROM " +
      "(SELECT city, sum(amount) AS total FROM t GROUP BY city) a) x WHERE rn <= 2"
    def ins(k: Long, city: String, amount: Int, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> city, "amount" -> amount.toString), seq)
    val b1 = Seq(ins(1L, "ber", 10, 1L), ins(2L, "ber", 5, 2L), ins(3L, "par", 7, 3L), ins(4L, "rom", 20, 4L))
    val b2 = Seq(ins(5L, "par", 30, 5L)) // par 7→37: overtakes, ber drops out of top-2
    runView(sql2, "pv_rankagg", Seq(Map("t" -> b1), Map("t" -> b2)))
    val fin = rankedState("pv_rankagg", Seq("city", "total", "rn"))
      .map { case (_, v) => v }.toSeq.sortBy(_.mkString("|"))
    assert(fin == Seq(Seq[Any]("par", "37.0", 1L), Seq[Any]("rom", "20.0", 2L)), s"got $fin")
    // ber was live in top-2 after b1 and tombstoned after b2
    val berOps = spark.table("pv_rankagg").collect().toSeq
      .filter(r => r.getAs[String]("city") == "ber" || r.getAs[String]("op") == "delete")
      .map(_.getAs[String]("op"))
    assert(berOps.contains("upsert") && berOps.contains("delete"), s"ber ops: $berOps")
  }

  test("#171ba HAVING over aggregates the SELECT list does not project (hidden-slot hoist)") {
    val sql = "SELECT city, count(*) AS n FROM t GROUP BY city " +
      "HAVING sum(amount) > 20 AND avg(amount) >= 5"
    def ins(k: Long, city: String, amount: Int, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> city, "amount" -> amount.toString), seq)
    val b1 = Seq(ins(1L, "ber", 15, 1L), ins(2L, "ber", 10, 2L), // ber: sum 25 ✓ avg 12.5 ✓
      ins(3L, "par", 30, 3L), ins(4L, "par", 1, 4L), ins(5L, "par", 1, 5L), ins(6L, "par", 1, 6L),
      ins(7L, "par", 1, 7L), ins(8L, "par", 1, 8L), ins(9L, "par", 1, 9L)) // par: sum 36 ✓ avg ~5.14 ✓
    val b2 = Seq(Change("delete", 3L, ts(10), Map.empty, 11L)) // par: sum 6 ✗ → leaves the view
    runView(sql, "pv_hidden", Seq(Map("t" -> b1), Map("t" -> b2)))
    // hidden __h columns are dropped from the output schema
    assert(spark.table("pv_hidden").columns.toSeq.sorted == Seq("_live_rows", "city", "n"))
    assert(aggState("pv_hidden", Seq("city")) == Map(Seq[Any]("ber") -> Seq[Any](2L)))
    // par WAS visible before the retraction pushed it under the cut
    val parHist = spark.table("pv_hidden").collect().toSeq
      .filter(_.getAs[String]("city") == "par").map(_.getAs[Long]("_live_rows"))
    assert(parHist.headOption.contains(7L) && parHist.lastOption.contains(0L), s"par history: $parHist")
  }

  test("#171ba live lag + running-sum view ≡ the batch q11/q12 window over the materialized snapshot (mixed I/U/D)") {
    // the r13-verdict equivalence pin: the live navigation/running view,
    // fed a mixed insert/update/delete history (reorders, a partition
    // move, mid-partition retraction, late arrival), must equal the
    // BATCH window (q11's lag, q12's unbounded-preceding sum) computed
    // over the final materialized snapshot.
    def chg(op: String, k: Long, g: String, ev: Int, v: Int, seq: Long) =
      Change(op, k, ts(seq.toInt),
        Map("g" -> g, "name" -> s"n$k", "ev" -> ev.toString, "v" -> v.toString), seq)
    val b1 = Seq(
      chg("insert", 1L, "a", 10, 100, 1L), chg("insert", 2L, "a", 20, 200, 2L),
      chg("insert", 3L, "a", 30, 300, 3L), chg("insert", 4L, "a", 40, 400, 4L),
      chg("insert", 5L, "b", 10, 50, 5L), chg("insert", 6L, "b", 20, 60, 6L),
      chg("insert", 7L, "b", 30, 70, 7L), chg("insert", 8L, "c", 10, 5, 8L))
    val b2 = Seq(
      chg("update", 2L, "a", 35, 250, 9L),  // reorder within a + value change
      chg("update", 7L, "c", 20, 70, 10L),  // partition move b→c
      Change("delete", 5L, ts(11), Map.empty, 11L)) // mid-partition retraction in b
    val b3 = Seq(
      chg("insert", 9L, "a", 25, 900, 12L), // late arrival lands mid-partition
      chg("update", 6L, "b", 20, 65, 13L))  // in-place value change
    val sql = "SELECT name, v, lag(v) OVER (PARTITION BY g ORDER BY ev) AS prev, " +
      "sum(v) OVER (PARTITION BY g ORDER BY ev " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rsum FROM t"
    runView(sql, "pv_q11", Seq(Map("t" -> b1), Map("t" -> b2), Map("t" -> b3)))

    // materialized snapshot, folded driver-side (LWW per key, deletes drop)
    val snap = (b1 ++ b2 ++ b3)
      .groupBy(_.key).map { case (_, cs) => cs.maxBy(_.seq) }
      .filter(_.op != "delete")
      .map(c => (c.key, c.payload("g"), c.payload("name"),
        c.payload("ev").toInt, c.payload("v").toInt)).toSeq
    // the batch q11/q12 window over that snapshot
    val expect = snap.groupBy(_._2).flatMap { case (_, rows) =>
      val ordered = rows.sortBy(_._4)
      ordered.zipWithIndex.map { case ((k, _, name, _, v), i) =>
        k -> Seq[Any](name, v.toString,
          if (i == 0) null else ordered(i - 1)._5.toString,
          (ordered.take(i + 1).map(_._5).sum.toDouble).toString)
      }
    }
    // fold per (key [, _partition]) — the framed-agg dataflow emits
    // without the _partition identity column
    val cols = Seq("name", "v", "prev", "rsum")
    val hasPart = spark.table("pv_q11").columns.contains("_partition")
    val live = spark.table("pv_q11").collect().toSeq
      .sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("seq")))
      .foldLeft(Map.empty[(Long, String), Seq[Any]]) { (m, r) =>
        val id = (r.getAs[Long]("key"), if (hasPart) r.getAs[String]("_partition") else "")
        if (r.getAs[String]("op") == "delete") m - id
        else m + (id -> cols.map(c => r.getAs[Any](c)))
      }
      .map { case ((k, _), vs) => k -> vs }
    assert(live == expect, s"live=$live\nexpect=$expect")
  }

  test("#171bb ROLLUP/CUBE views: every level maintained live, grouping() disambiguates real NULLs") {
    val sql = "SELECT region, city, count(*) AS n, sum(amount) AS total, " +
      "grouping(city) AS gc, grouping_id() AS gid FROM t GROUP BY ROLLUP(region, city)"
    def ins(k: Long, region: String, city: Option[String], amount: Int, seq: Long) =
      Change("insert", k, ts(seq.toInt),
        Map("region" -> region, "amount" -> amount.toString) ++ city.map("city" -> _), seq)
    val b1 = Seq(
      ins(1L, "eu", Some("ber"), 10, 1L), ins(2L, "eu", Some("ber"), 5, 2L),
      ins(3L, "eu", Some("par"), 7, 3L), ins(4L, "us", Some("nyc"), 20, 4L),
      ins(5L, "eu", None, 3, 5L)) // REAL NULL city — distinct from the rolled-up level
    val b2 = Seq(Change("delete", 4L, ts(10), Map.empty, 6L)) // us leaves EVERY level it touched
    runView(sql, "pv_rollup", Seq(Map("t" -> b1), Map("t" -> b2)))
    // latest emission per (region, city, gid); drop tombstoned groups
    val fin = spark.table("pv_rollup").collect().toSeq
      .groupBy(r => (r.getAs[String]("region"), r.getAs[String]("city"), r.getAs[Long]("gid")))
      .view.mapValues(_.last)
      .collect { case (g, r) if r.getAs[Long]("_live_rows") > 0L =>
        g -> (r.getAs[Long]("n"), r.getAs[Double]("total"), r.getAs[Long]("gc")) }
      .toMap
    assert(fin == Map(
      ("eu", "ber", 0L) -> ((2L, 15.0, 0L)),
      ("eu", "par", 0L) -> ((1L, 7.0, 0L)),
      ("eu", null,  0L) -> ((1L, 3.0, 0L)),  // real NULL city: gc = 0
      ("eu", null,  1L) -> ((4L, 25.0, 1L)), // eu subtotal: gc = 1 — grouping() disambiguates
      (null, null,  3L) -> ((4L, 25.0, 1L))), s"rollup state: $fin")
    // the us branch was live at every level after b1 and tombstoned after b2
    val usRows = spark.table("pv_rollup").collect().toSeq.filter(r =>
      r.getAs[String]("region") == "us" || (r.getAs[String]("region") == null && r.getAs[Long]("gid") == 3L))
    assert(usRows.exists(r => r.getAs[String]("region") == "us" && r.getAs[Long]("_live_rows") == 0L),
      "us groups must tombstone after their last row deletes")
  }

  test("#171bg DISTINCT aggregates compose with ROLLUP/CUBE: per-level decomposition, levels tombstone independently") {
    val sql = "SELECT region, city, count(DISTINCT u) AS du, count(*) AS n, " +
      "grouping_id() AS gid FROM t GROUP BY ROLLUP(region, city)"
    def ins(k: Long, region: String, city: Option[String], u: String, seq: Long) =
      Change("insert", k, ts(seq.toInt),
        Map("region" -> region, "u" -> u) ++ city.map("city" -> _), seq)
    val b1 = Seq(
      ins(1L, "eu", Some("ber"), "a", 1L), ins(2L, "eu", Some("ber"), "b", 2L),
      ins(3L, "eu", Some("par"), "a", 3L), ins(4L, "us", Some("nyc"), "a", 4L),
      ins(5L, "eu", None, "a", 5L)) // REAL NULL city — distinct from the rolled-up level
    val b2 = Seq(Change("delete", 2L, ts(10), Map.empty, 6L))  // u=b leaves: du FALLS at 3 levels
    val b3 = Seq(ins(4L, "us", Some("nyc"), "c", 7L))          // value move a→c: total du stays 2
    def fin(view: String) = spark.table(view).collect().toSeq
      .groupBy(r => (r.getAs[String]("region"), r.getAs[String]("city"), r.getAs[Long]("gid")))
      .view.mapValues(_.last)
      .collect { case (g, r) if r.getAs[Long]("_live_rows") > 0L =>
        g -> ((r.getAs[Long]("du"), r.getAs[Long]("n"))) }
      .toMap
    runView(sql, "pv_drollup_a", Seq(Map("t" -> b1)))
    assert(fin("pv_drollup_a") == Map(
      ("eu", "ber", 0L) -> ((2L, 2L)),
      ("eu", "par", 0L) -> ((1L, 1L)),
      ("eu", null,  0L) -> ((1L, 1L)),  // real NULL city: its own finest-level group
      ("us", "nyc", 0L) -> ((1L, 1L)),
      ("eu", null,  1L) -> ((2L, 4L)),  // eu subtotal: distinct {a,b}
      ("us", null,  1L) -> ((1L, 1L)),
      (null, null,  3L) -> ((2L, 5L))), s"state: ${fin("pv_drollup_a")}")
    // churn: a distinct value's last row leaving makes du FALL at every
    // level it touched; a value move re-counts exactly — both equal the
    // batch recompute
    runView(sql, "pv_drollup", Seq(Map("t" -> b1), Map("t" -> b2), Map("t" -> b3)))
    assert(fin("pv_drollup") == Map(
      ("eu", "ber", 0L) -> ((1L, 1L)),
      ("eu", "par", 0L) -> ((1L, 1L)),
      ("eu", null,  0L) -> ((1L, 1L)),
      ("us", "nyc", 0L) -> ((1L, 1L)),
      ("eu", null,  1L) -> ((1L, 3L)),  // {a}: b's exit retracted the subtotal's value
      ("us", null,  1L) -> ((1L, 1L)),
      (null, null,  3L) -> ((2L, 4L))), s"state: ${fin("pv_drollup")}")
    // CUBE adds the (city)-only level; plain aggs + grouping() ride along
    val cubeSql = "SELECT region, city, count(DISTINCT u) AS du, grouping(region) AS gr " +
      "FROM t GROUP BY CUBE(region, city)"
    runView(cubeSql, "pv_dcube", Seq(Map("t" -> b1.take(4))))
    val cube = spark.table("pv_dcube").collect().toSeq
      .groupBy(r => (r.getAs[String]("region"), r.getAs[String]("city"), r.getAs[Long]("gr")))
      .view.mapValues(_.last)
      .collect { case (g, r) if r.getAs[Long]("_live_rows") > 0L => g -> r.getAs[Long]("du") }
      .toMap
    assert(cube(("eu", "ber", 0L)) == 2L && cube((null, "ber", 1L)) == 2L &&
      cube((null, null, 1L)) == 2L, s"cube state: $cube")
  }

  test("#171bc ranked view OVER a value-equi join: the two new dataflows chain") {
    // top spender per city, where city names come from a dimension feed
    // joined by VALUE (not key): rank rows of the join's changefeed
    val sql = "SELECT * FROM (SELECT r.cityname AS cityname, l.name AS name, " +
      "row_number() OVER (PARTITION BY r.cityname ORDER BY l.amount DESC) AS rn " +
      "FROM t1 l JOIN t2 r ON l.city = r.code) x WHERE rn <= 1"
    def person(k: Long, city: String, name: String, amount: Int, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> city, "name" -> name, "amount" -> amount.toString), seq)
    def dim(k: Long, code: String, cityname: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("code" -> code, "cityname" -> cityname), seq)
    val b1 = Seq(person(1L, "b", "ann", 10, 1L), person(2L, "b", "bob", 30, 2L), person(3L, "p", "cat", 7, 3L))
    val c1 = Seq(dim(1L, "b", "Berlin", 1L), dim(2L, "p", "Paris", 2L))
    val b2 = Seq(Change("delete", 2L, ts(10), Map.empty, 4L)) // leader dies → ann promotes
    runView(sql, "pv_rankjoin", Seq(Map("t1" -> b1, "t2" -> c1), Map("t1" -> b2)))
    val fin = rankedState("pv_rankjoin", Seq("cityname", "name", "rn"))
      .map { case (_, v) => v }.toSeq.sortBy(_.mkString("|"))
    assert(fin == Seq(Seq[Any]("Berlin", "ann", 1L), Seq[Any]("Paris", "cat", 1L)), s"got $fin")
    // bob led Berlin before the delete
    val berlinNames = spark.table("pv_rankjoin").collect().toSeq
      .filter(r => r.getAs[String]("op") == "upsert" && r.getAs[String]("cityname") == "Berlin")
      .map(_.getAs[String]("name"))
    assert(berlinNames.contains("bob") && berlinNames.lastOption.contains("ann"), s"berlin: $berlinNames")
  }

  test("#171bd review fixes: global-agg join sides, duplicate grouping sets + zero gap reject") {
    // a GROUP-BY-less aggregate subquery joins through the value shape:
    // rows matching the CURRENT global max — the dynamic-threshold join
    val sql = "SELECT l.name AS name FROM t1 l JOIN (SELECT max(code) AS code FROM t2) m " +
      "ON l.city = m.code"
    val b1 = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "1.0", "name" -> "x"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "2.0", "name" -> "y"), 2L))
    val c1 = Seq(
      Change("insert", 1L, ts(0), Map("code" -> "1"), 1L),
      Change("insert", 2L, ts(1), Map("code" -> "2"), 2L))
    val c2 = Seq(Change("delete", 2L, ts(10), Map.empty, 3L)) // max falls 2.0 → 1.0
    runView(sql, "pv_gagg_join", Seq(Map("t1" -> b1, "t2" -> c1), Map("t2" -> c2)))
    assert(rowBag("pv_gagg_join", Seq("name")) == Seq(Seq[Any]("x")))
    val names = spark.table("pv_gagg_join").collect().toSeq
      .filter(_.getAs[String]("op") == "upsert").map(_.getAs[String]("name"))
    assert(names.contains("y"), "y matched the old max before the retraction")

    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val feeds = Map("t" -> MemoryStream[Change].toDS())
    val e1 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT city, count(*) AS n FROM t GROUP BY GROUPING SETS ((city), (city))", feeds)
    }
    assert(e1.getMessage.contains("duplicate grouping sets"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT session_window(ev, '0 seconds') AS sw, count(*) AS n FROM t " +
          "GROUP BY session_window(ev, '0 seconds')", feeds)
    }
    assert(e2.getMessage.contains("positive"), e2.getMessage)
    // the window refusals hold on every grouped-aggregate form: flat,
    // holistic, DDSketch and HLL
    Seq("count(*)", "median(amount)", "approx_percentile(amount, 0.5)",
      "approx_count_distinct(amount)").foreach { item => withClue(s"$item: ") {
      val e3 = intercept[IllegalArgumentException] {
        IncrementalPlanner.materialize(spark, s"SELECT $item AS x FROM t " +
          "GROUP BY window(ev, '1 hour'), window(ev, '1 minute')", feeds)
      }
      assert(e3.getMessage.contains("at most one window(...)"), e3.getMessage)
      val e4 = intercept[IllegalArgumentException] {
        IncrementalPlanner.materialize(spark, s"SELECT $item AS x FROM t " +
          "GROUP BY ROLLUP(window(ev, '1 hour'), city)", feeds)
      }
      assert(e4.getMessage.contains("do not combine with ROLLUP"), e4.getMessage)
    } }
  }

  test("#171ap session state guard raises past spark.graft.session.maxRowsPerGroup") {
    spark.conf.set("spark.graft.session.maxRowsPerGroup", "3")
    try {
      val sql = "SELECT session_window(ev, '1 minute') AS sw, count(*) AS n FROM f GROUP BY session_window(ev, '1 minute')"
      val feed = (1L to 4L).map(k =>
        Change("insert", k, ts(k.toInt), Map("ev" -> minUs(k.toInt * 5).toString), k))
      val e = intercept[Exception] { runView(sql, "pv_sess_guard", Seq(Map("f" -> feed))) }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("maxRowsPerGroup"), s"expected the guard's raise, got: $msgs")
    } finally spark.conf.unset("spark.graft.session.maxRowsPerGroup")
  }

  test("#171be pure non-equi join: cross arrangement, live residual, outer rejected, guard raises") {
    // range-band enrichment — the classic ON BETWEEN shape
    val sql = "SELECT l.name AS name, r.band AS band FROM t1 l JOIN t2 r " +
      "ON l.v >= r.lo AND l.v < r.hi"
    val b1 = Seq(
      Change("insert", 1L, ts(0), Map("name" -> "a", "v" -> "5"), 1L),
      Change("insert", 2L, ts(1), Map("name" -> "b", "v" -> "15"), 2L))
    val c1 = Seq(
      Change("insert", 1L, ts(0), Map("band" -> "low", "lo" -> "0", "hi" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("band" -> "high", "lo" -> "10", "hi" -> "20"), 2L))
    runView(sql, "pv_nonequi", Seq(Map("t1" -> b1, "t2" -> c1)))
    assert(rowBag("pv_nonequi", Seq("name", "band")) ==
      Seq(Seq[Any]("a", "low"), Seq[Any]("b", "high")))
    // the residual is LIVE: v crossing the band boundary retracts low, admits high
    runView(sql, "pv_nonequi2", Seq(
      Map("t1" -> b1, "t2" -> c1),
      Map("t1" -> Seq(Change("update", 1L, ts(10), Map("name" -> "a", "v" -> "12"), 3L)))))
    assert(rowBag("pv_nonequi2", Seq("name", "band")) ==
      Seq(Seq[Any]("a", "high"), Seq[Any]("b", "high")))
    // a band RESIZING retracts/admits pairs from the other side too
    runView(sql, "pv_nonequi3", Seq(
      Map("t1" -> b1, "t2" -> c1),
      Map("t2" -> Seq(Change("update", 2L, ts(10),
        Map("band" -> "high", "lo" -> "16", "hi" -> "20"), 3L)))))
    assert(rowBag("pv_nonequi3", Seq("name", "band")) == Seq(Seq[Any]("a", "low")))
    // single-conjunct non-equi routes the same way
    runView("SELECT l.name AS name, r.band AS band FROM t1 l JOIN t2 r ON l.v < r.lo",
      "pv_nonequi4", Seq(Map("t1" -> b1, "t2" -> c1)))
    assert(rowBag("pv_nonequi4", Seq("name", "band")) == Seq(Seq[Any]("a", "high")))
    // explicit CROSS JOIN: all pairs, a delete retracts its row's pairs
    runView("SELECT l.name AS name, r.band AS band FROM t1 l CROSS JOIN t2 r",
      "pv_cross", Seq(
        Map("t1" -> b1, "t2" -> c1),
        Map("t2" -> Seq(Change("delete", 1L, ts(10), Map.empty, 3L)))))
    assert(rowBag("pv_cross", Seq("name", "band")) ==
      Seq(Seq[Any]("a", "high"), Seq[Any]("b", "high")))

    // the cross arrangement's own (tighter) guard raises past maxRows
    spark.conf.set("spark.graft.crossjoin.maxRows", "2")
    try {
      val e2 = intercept[Exception] {
        runView(sql, "pv_nonequi_guard", Seq(Map("t1" -> b1, "t2" -> c1)))
      }
      val msgs = Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("maxRows"), s"expected the arrangement guard's raise, got: $msgs")
    } finally spark.conf.unset("spark.graft.crossjoin.maxRows")
  }

  test("#171bf subquery-layer shard guard: constant-FK state past maxRowsPerShard fails loudly") {
    // the dynamic-threshold view holds EVERY subscribed row on one
    // constant-FK shard (the honest total-predicate cost) — the guard
    // converts a silent 100 TB shard OOM into a raise naming the
    // derived-table-prefilter rewrite
    def e(k: Long, m: Int, amount: String, seq: Long) =
      Change("insert", k, ts(m), Map("name" -> s"n$k", "amount" -> amount), seq)
    val sql  = "SELECT name FROM t WHERE amount > (SELECT avg(amount) FROM t)"
    val rows = (1L to 5L).map(k => e(k, k.toInt, (k * 10).toString, k))
    // within the bound: green, same answer as #171ak's class
    spark.conf.set("spark.graft.subquery.maxRowsPerShard", "5")
    try {
      runView(sql, "pv_sqguard_ok", Seq(Map("t" -> rows)))
      assert(rowState("pv_sqguard_ok", Seq("name")).values.toSeq.map(_.head).toSet ==
        Set("n4", "n5"), "avg 30: only rows above pass")
      // past the bound: the fk-join fold raises through the query
      spark.conf.set("spark.graft.subquery.maxRowsPerShard", "4")
      val boom = intercept[Exception] {
        runView(sql, "pv_sqguard_boom", Seq(Map("t" -> rows)))
      }
      val msgs = Iterator.iterate(boom: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("maxRowsPerShard"), s"expected the shard guard's raise, got: $msgs")
      assert(msgs.contains("derived-table prefilter"), s"raise must name the rewrite: $msgs")
      // the NOT-IN counter layer (the other constant-FK class) trips the
      // same guard: 5 probe rows all subscribe the one global counter
      val notInSql = "SELECT name FROM t WHERE amount NOT IN (SELECT amount FROM u WHERE amount < 0)"
      val boom2 = intercept[Exception] {
        runView(notInSql, "pv_sqguard_boom2",
          Seq(Map("t" -> rows, "u" -> Seq(e(90L, 0, "-5", 1L)))))
      }
      val msgs2 = Iterator.iterate(boom2: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs2.contains("maxRowsPerShard"), s"expected the NOT-IN guard raise, got: $msgs2")
    } finally spark.conf.unset("spark.graft.subquery.maxRowsPerShard")
  }

  test("#171bh first-seen DELETE persists a tombstone: out-of-order older upserts cannot resurrect") {
    // value-equi join: t1's first-ever change for key 1 is a DELETE; the
    // out-of-order OLDER insert arriving in the next batch must be
    // stale-dropped (previously stage-1 kept no state for a first-seen
    // dead row, so the older insert was applied as fresh and the pair
    // resurrected — silent wrong join result under shuffled delivery)
    val sql = "SELECT l.name AS name, r.tag AS tag FROM t1 l JOIN t2 r ON l.city = r.city"
    runView(sql, "pv_vtomb", Seq(
      Map("t2" -> Seq(Change("insert", 1L, ts(0), Map("city" -> "ber", "tag" -> "x"), 1L)),
        "t1" -> Seq(Change("delete", 1L, ts(10), Map.empty, 2L))),
      Map("t1" -> Seq(Change("insert", 1L, ts(0), Map("city" -> "ber", "name" -> "a"), 1L)))))
    assert(rowBag("pv_vtomb", Seq("name", "tag")).isEmpty,
      "the deleted-then-older-upserted row must not join")

    // ranked view: same ordering contract through rankedKeyFold
    val rsql = "SELECT city, name, row_number() OVER (PARTITION BY city ORDER BY amount DESC) AS rn FROM t"
    runView(rsql, "pv_rtomb", Seq(
      Map("t" -> Seq(
        Change("insert", 2L, ts(1), Map("city" -> "ber", "name" -> "b", "amount" -> "5"), 1L),
        Change("delete", 1L, ts(10), Map.empty, 2L))),
      Map("t" -> Seq(Change("insert", 1L, ts(0), Map("city" -> "ber", "name" -> "a", "amount" -> "10"), 1L)))))
    val ranked = rankedState("pv_rtomb", Seq("name", "rn")).values.toSeq
    assert(ranked == Seq(Seq[Any]("b", 1L)), s"only the live row ranks: $ranked")

    // fk-join hop 1 (factSubs) unit: the tombstone is PERSISTED state
    import org.apache.spark.sql.streaming.TestGroupState
    val st = TestGroupState.create[JoinView.FactState](
      optionalState = org.apache.spark.api.java.Optional.empty[JoinView.FactState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val out1 = JoinView.factSubs("fk")(7L,
      Iterator(Change("delete", 7L, ts(10), Map.empty, 2L)), st).toSeq
    assert(out1.isEmpty && st.exists && !st.get.live,
      "first-seen delete emits nothing but parks its tombstone")
    val out2 = JoinView.factSubs("fk")(7L,
      Iterator(Change("insert", 7L, ts(0), Map("fk" -> "3"), 1L)), st).toSeq
    assert(out2.isEmpty, s"older upsert is stale-dropped, not a fresh subscription: $out2")
    assert(!st.get.live, "tombstone survives the stale delivery")
  }

  test("#171cs JoinView.fold applies LWW per side: interleaved L/R batches equal one batch, a stale side change emits nothing") {
    import org.apache.spark.sql.streaming.TestGroupState
    import JoinView.{JoinPairState, Sided}
    def gs(s0: Option[JoinPairState]) = TestGroupState.create[JoinPairState](
      optionalState = s0.map(org.apache.spark.api.java.Optional.of[JoinPairState])
        .getOrElse(org.apache.spark.api.java.Optional.empty[JoinPairState]()),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    def at(ms: Long) = new Timestamp(1700000000000L + ms)
    def sided(side: String, ms: Long, seq: Long, v: String) =
      Sided(side, "upsert", 5L, at(ms), Map(if (side == "L") "a" -> v else "b" -> v), seq)
    // each side is its own changefeed with its own LSNs: L and R share
    // position (10 ms, 1), which must not make one stale against the other
    val early = Seq(sided("R", 20, 5, "r2"), sided("L", 10, 1, "l1"), sided("L", 20, 2, "l2"), sided("R", 10, 1, "r1"))
    val staleL = sided("L", 15, 9, "stale") // older than L's (20 ms, 2) despite the higher seq
    val sameMsR = sided("R", 20, 6, "r3")   // R's same ms, higher seq: wins
    def run(batches: Seq[Seq[Sided]]): (Seq[Seq[JoinView.JoinedChange]], Option[JoinPairState]) =
      batches.foldLeft((Seq.empty[Seq[JoinView.JoinedChange]], Option.empty[JoinPairState])) {
        case ((outs, s0), b) =>
          val st  = gs(s0)
          val out = JoinView.fold(false, false)(5L, b.iterator, st).toSeq
          (outs :+ out, Some(st.get))
      }
    val (oneOut, oneState) = run(Seq(early ++ Seq(staleL, sameMsR)))
    val (twoOut, twoState) = run(Seq(early, Seq(staleL, sameMsR)))
    val expected = JoinView.JoinedChange("upsert", 5L, Map("a" -> "l2"), Map("b" -> "r3"),
      CdcMaterializer.micros(at(20)), 6L)
    assert(oneOut == Seq(Seq(expected)), s"one batch: $oneOut")
    assert(twoOut.last == Seq(expected), s"two batches end on the one-batch emission: $twoOut")
    assert(twoState == oneState, s"final pair state: two $twoState vs one $oneState")
    assert(oneState.get.left.get.payload == Map("a" -> "l2") && oneState.get.left.get.seq == 2L)
    // the stale L change alone, after the early batch: no emission, no state move
    val (staleOut, staleState) = run(Seq(early, Seq(staleL)))
    assert(staleOut.last.isEmpty, s"stale L change emitted: ${staleOut.last}")
    assert(staleState == run(Seq(early))._2, "stale L change moved the pair state")
  }

  /** Run `sql` as a named changefeed over `batches` of feed `t` and
    * return its LWW-final rows (key → payload): a fold by `(ts, seq)`
    * over the emitted changes, ties resolved by emission order (the
    * later wins, `FeedSink.stateAsOf`'s batch-id rule).
    */
  private def lwwFinal(sql: String, name: String, batches: Seq[Seq[Change]]): Map[Long, Map[String, String]] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val (changes, _) = IncrementalPlanner.namedChanges(spark, sql, Map("t" -> input.toDS()))
    val q = changes.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", tmp(name)).start()
    val emitted = try {
      batches.foldLeft(Vector.empty[Change]) { (acc, b) =>
        input.addData(b: _*); q.processAllAvailable()
        acc ++ spark.table(name).as[Change].collect().drop(acc.length)
      }
    } finally q.stop()
    emitted.zipWithIndex.sortBy { case (c, i) => (CdcMaterializer.micros(c.ts), c.seq, i) }
      .foldLeft(Map.empty[Long, Map[String, String]]) { case (m, (c, _)) =>
        if (c.op == "delete") m - c.key else m + (c.key -> c.payload)
      }
  }

  test("#171ct emission position: every aggregate class re-emits a group no older than its last emission, so split batches fold like one") {
    // group a: key 1 at ts+10 min, then key 2 at ts+5 min in a LATER
    // batch; group b: key 3 lives, dies at ts+20 min, and key 4
    // repopulates it at ts+8 min — the emptied group must remember its
    // tombstone's position
    val ev0 = CdcMaterializer.micros(ts(0))
    def row(g: String, v: Int, evMin: Int) =
      Map("g" -> g, "v" -> v.toString, "ev" -> (ev0 + evMin * 60000000L).toString)
    val k1 = Change("insert", 1L, ts(10), row("a", 20, 0), 1L)
    val k2 = Change("insert", 2L, ts(5), row("a", 10, 2), 2L)
    val k3 = Change("insert", 3L, ts(1), row("b", 30, 0), 3L)
    val k3d = Change("delete", 3L, ts(20), Map.empty, 4L)
    val k4 = Change("insert", 4L, ts(8), row("b", 40, 0), 5L)
    val one   = Seq(Seq(k1, k3, k3d, k2, k4))
    val split = Seq(Seq(k1, k3), Seq(k3d), Seq(k2, k4))
    val classes = Seq(
      "flat"     -> "SELECT g, count(*) AS n, sum(v) AS s FROM t GROUP BY g",
      "minmax"   -> "SELECT g, count(*) AS n, max(v) AS mx, min(v) AS mn FROM t GROUP BY g",
      "holistic" -> "SELECT g, count(*) AS n, median(v) AS med FROM t GROUP BY g",
      "ddsketch" -> "SELECT g, count(*) AS n, approx_percentile(v, 0.5) AS p50 FROM t GROUP BY g",
      "session"  -> ("SELECT g, session_window(ev, '10 minutes') AS sw, count(*) AS n " +
        "FROM t GROUP BY g, session_window(ev, '10 minutes')"),
      "ranked"   -> "SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM t")
    classes.foreach { case (cls, sql) =>
      val a = lwwFinal(sql, s"pos_${cls}_one", one)
      val b = lwwFinal(sql, s"pos_${cls}_split", split)
      assert(a.nonEmpty && a.values.exists(_.get("g").contains("b")), s"$cls one-batch view: $a")
      assert(b == a, s"$cls: split batches fold to $b, one batch to $a")
    }
    val flat = lwwFinal(classes.head._2, "pos_flat_check", split).values.map(p => p("g") -> p("n")).toMap
    assert(flat == Map("a" -> "2", "b" -> "1"), s"flat split view: $flat")
    // approx views are append-only and expose no positions (they refuse
    // keepMeta), so the check is the last emission per group
    def approxLast(name: String, batches: Seq[Seq[Change]]) = {
      runView("SELECT g, count(*) AS n, approx_count_distinct(v) AS d FROM t GROUP BY g", name,
        batches.map(b => Map("t" -> b)))
      aggState(name, Seq("g"))
    }
    val approxOne = approxLast("pos_approx_one", Seq(Seq(k1, k2)))
    assert(approxLast("pos_approx_split", Seq(Seq(k1), Seq(k2))) == approxOne)
    assert(approxOne == Map(Seq[Any]("a") -> Seq[Any](2L, 2L)), s"approx view: $approxOne")
  }

  test("#171cu FK join: a dim update older than a fact's last emission still supersedes it; a re-subscribed fact stamps above its tombstone") {
    import org.apache.spark.sql.streaming.TestGroupState
    import JoinView.{FkEvent, FkJoinedChange, FkState}
    def gs(s0: Option[FkState]) = TestGroupState.create[FkState](
      optionalState = s0.map(org.apache.spark.api.java.Optional.of[FkState])
        .getOrElse(org.apache.spark.api.java.Optional.empty[FkState]()),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    def sub(min: Int, seq: Long) =
      FkEvent(7L, "sub", 1L, "upsert", ts(min), Map("amount" -> "5"), seq, moved = false)
    def unsub(min: Int, seq: Long) =
      FkEvent(7L, "unsub", 1L, "delete", ts(min), Map.empty, seq, moved = false)
    def dim(min: Int, seq: Long, name: String) =
      FkEvent(7L, "dim", 0L, "upsert", ts(min), Map("name" -> name), seq, moved = false)
    def run(batches: Seq[Seq[FkEvent]]): Map[Long, Map[String, String]] = {
      val out = batches.foldLeft((Vector.empty[FkJoinedChange], Option.empty[FkState])) {
        case ((acc, s0), b) =>
          val st = gs(s0)
          (acc ++ JoinView.foldFkGroup(leftOuter = false)(7L, b.iterator, st), Some(st.get))
      }._1
      out.zipWithIndex.sortBy { case (c, i) => (c.tsUs, c.seq, i) }
        .foldLeft(Map.empty[Long, Map[String, String]]) { case (m, (c, _)) =>
          if (c.op == "delete") m - c.fact_key else m + (c.fact_key -> c.dim_payload)
        }
    }
    // the fact at ts+10 min joins dim v1 (ts+1 min); dim v2 (ts+5 min)
    // arrives in a later batch — older than the fact's emission
    val dimOne = run(Seq(Seq(sub(10, 1L), dim(1, 1L, "v1"), dim(5, 2L, "v2"))))
    assert(dimOne == Map(1L -> Map("name" -> "v2")), s"one batch: $dimOne")
    val dimSplit = run(Seq(Seq(sub(10, 1L), dim(1, 1L, "v1")), Seq(dim(5, 2L, "v2"))))
    assert(dimSplit == dimOne, s"split batches: $dimSplit")
    // the fact's delete is stamped at its v1 emission (ts+10 min, the dim's
    // position); its re-subscription at ts+3 min must not fall under it
    val reOne = run(Seq(Seq(sub(1, 1L), dim(10, 1L, "v1"), unsub(2, 2L), sub(3, 3L))))
    assert(reOne == Map(1L -> Map("name" -> "v1")), s"one batch: $reOne")
    val reSplit = run(Seq(Seq(sub(1, 1L), dim(10, 1L, "v1")), Seq(unsub(2, 2L)), Seq(sub(3, 3L))))
    assert(reSplit == reOne, s"split batches: $reSplit")
  }

  // ----------------------------------------------------------------
  // #171cv: one front end — every view shape compiles the same way
  // through every entry point and nested position
  // ----------------------------------------------------------------

  /** The feeds of the shape × entry matrix, three batches each: group
    * and partition moves, deletes on every feed, and a version feed for
    * the as-of join.
    */
  private val shapeFeeds: Seq[Map[String, Seq[Change]]] = {
    def c(op: String, k: Long, m: Int, seq: Long, kv: (String, String)*) =
      Change(op, k, ts(m), kv.toMap, seq)
    Seq(
      Map(
        "cust" -> Seq(c("insert", 1L, 0, 1L, "name" -> "ann", "ckey" -> "1"),
          c("insert", 2L, 0, 2L, "name" -> "bob", "ckey" -> "2"),
          c("insert", 3L, 0, 3L, "name" -> "cat", "ckey" -> "3")),
        "ord" -> Seq(c("insert", 101L, 0, 1L, "cid" -> "1"), c("insert", 102L, 0, 2L, "cid" -> "1"),
          c("insert", 103L, 0, 3L, "cid" -> "2")),
        "t" -> Seq(c("insert", 1L, 0, 1L, "g" -> "a", "name" -> "ann", "v" -> "5", "tags" -> "x,y"),
          c("insert", 2L, 0, 2L, "g" -> "a", "name" -> "bob", "v" -> "3", "tags" -> "y"),
          c("insert", 3L, 0, 3L, "g" -> "b", "name" -> "cat", "v" -> "7", "tags" -> "x,z"),
          c("insert", 4L, 0, 4L, "g" -> "a", "name" -> "dan", "v" -> "9", "tags" -> "z")),
        "a" -> Seq(c("insert", 1L, 0, 1L, "city" -> "ber"), c("insert", 2L, 0, 2L, "city" -> "par"),
          c("insert", 3L, 0, 3L, "city" -> "rom"), c("insert", 4L, 0, 4L, "city" -> "ber")),
        "b" -> Seq(c("insert", 11L, 0, 1L, "city" -> "par"), c("insert", 12L, 0, 2L, "city" -> "oslo")),
        "e" -> Seq(c("insert", 1L, 0, 1L, "sym" -> "s1", "ets" -> "10", "val" -> "e1"),
          c("insert", 2L, 0, 2L, "sym" -> "s1", "ets" -> "25", "val" -> "e2"),
          c("insert", 3L, 0, 3L, "sym" -> "s2", "ets" -> "15", "val" -> "e3")),
        "v" -> Seq(c("insert", 21L, 0, 1L, "sym" -> "s1", "vts" -> "5", "px" -> "p1"),
          c("insert", 22L, 0, 2L, "sym" -> "s1", "vts" -> "20", "px" -> "p2"),
          c("insert", 23L, 0, 3L, "sym" -> "s2", "vts" -> "12", "px" -> "p3")),
        "o" -> Seq("ann", "bob", "cat", "eve", "ber", "par", "lis", "x", "y", "z", "e1", "e2", "e3", "e4")
          .zipWithIndex.map { case (j, i) => c("insert", 500L + i, 0, 1L + i, "jc" -> j, "label" -> s"L$i") }),
      Map(
        "cust" -> Seq(c("update", 3L, 10, 4L, "name" -> "cat", "ckey" -> "1")),
        "ord" -> Seq(c("delete", 102L, 10, 4L), c("insert", 104L, 10, 5L, "cid" -> "3")),
        "t" -> Seq(c("update", 2L, 10, 5L, "g" -> "a", "name" -> "bob", "v" -> "10", "tags" -> "x"),
          c("delete", 4L, 10, 6L)),
        "a" -> Seq(c("delete", 1L, 10, 5L), c("update", 3L, 10, 6L, "city" -> "lis")),
        "b" -> Seq(c("insert", 13L, 10, 3L, "city" -> "ber")),
        "e" -> Seq(c("update", 1L, 10, 4L, "sym" -> "s1", "ets" -> "30", "val" -> "e1")),
        "v" -> Seq(c("insert", 24L, 10, 4L, "sym" -> "s1", "vts" -> "28", "px" -> "p4"))),
      Map(
        "cust" -> Seq(c("delete", 2L, 20, 5L)),
        "ord" -> Seq(c("update", 103L, 20, 6L, "cid" -> "1")),
        "t" -> Seq(c("update", 3L, 20, 7L, "g" -> "a", "name" -> "cat", "v" -> "1", "tags" -> "z,z"),
          c("insert", 5L, 20, 8L, "g" -> "b", "name" -> "eve", "v" -> "4", "tags" -> "y")),
        "a" -> Seq(c("insert", 5L, 20, 7L, "city" -> "par")),
        "b" -> Seq(c("delete", 11L, 20, 4L)),
        "e" -> Seq(c("insert", 4L, 20, 5L, "sym" -> "s2", "ets" -> "5", "val" -> "e4")),
        "v" -> Seq(c("delete", 22L, 20, 5L))))
  }

  /** Register each feed's LWW-final rows as a batch table of string
    * columns (plus `key`), the oracle's input.
    */
  private def registerFinalFeeds(batches: Seq[Map[String, Seq[Change]]]): Unit = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    batches.flatMap(_.toSeq).groupBy(_._1).foreach { case (feed, parts) =>
      val changes = parts.flatMap(_._2)
      val cols    = changes.flatMap(_.payload.keys).distinct.sorted
      val rows    = finalState(changes).toSeq.map { case (k, p) => Row.fromSeq(k +: cols.map(p.get(_).orNull)) }
      val schema  = StructType(StructField("key", LongType) +: cols.map(StructField(_, StringType)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).createOrReplaceTempView(feed)
    }
  }

  /** A result's rows as a sorted multiset of string maps (NULLs absent). */
  private def bag(rows: Iterable[Map[String, String]]): Seq[Map[String, String]] =
    rows.toSeq.map(_.filter(_._2 != null)).sortBy(_.toSeq.sorted.mkString("|"))

  test("#171cv shape × entry: every view shape compiles the same way through materialize, namedChanges, a derived table and a value-join side") {
    import org.apache.spark.sql.{DataFrame, Dataset}
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val cnt = "(SELECT count(*) FROM ord WHERE ord.cid = cust.ckey)"
    val asof = "SELECT e.val AS val, v.px AS px FROM e ASOF JOIN v ON e.sym = v.sym AND e.ets >= v.vts"
    val asofBatch = "SELECT val, px FROM (SELECT e.val AS val, v.px AS px, row_number() OVER " +
      "(PARTITION BY e.key ORDER BY cast(v.vts AS INT) DESC) AS r FROM e JOIN v " +
      "ON e.sym = v.sym AND cast(e.ets AS INT) >= cast(v.vts AS INT)) WHERE r = 1"
    val ranked = "SELECT g, name, row_number() OVER (PARTITION BY g ORDER BY cast(v AS INT)) AS rn FROM t"
    // (name, SQL, batch-SQL oracle, output columns, join column, the
    // identity columns of materialize's typed aggregate output)
    val shapes: Seq[(String, String, String, Seq[String], String, Seq[String])] = Seq(
      ("row+select-list subquery", s"SELECT name, $cnt AS n_ord FROM cust", "",
        Seq("name", "n_ord"), "name", Nil),
      ("union all+select-list subquery",
        s"SELECT name, $cnt AS n_ord FROM cust WHERE ckey = '1' UNION ALL " +
          s"SELECT name, $cnt AS n_ord FROM cust WHERE ckey <> '1'", "", Seq("name", "n_ord"), "name", Nil),
      ("asof join", asof, asofBatch, Seq("val", "px"), "val", Nil),
      ("ranked", ranked, "", Seq("g", "name", "rn"), "name", Nil),
      ("ranked top-k", s"SELECT g, name, rn FROM ($ranked) x WHERE rn <= 2", "",
        Seq("g", "name", "rn"), "name", Nil),
      ("mixed OVER", "SELECT name, row_number() OVER (PARTITION BY g ORDER BY cast(v AS INT)) AS r1, " +
        "row_number() OVER (ORDER BY cast(v AS INT) DESC) AS r2 FROM t", "", Seq("name", "r1", "r2"), "name", Nil),
      ("generator", "SELECT name, explode(split(tags, ',')) AS tag FROM t", "",
        Seq("name", "tag"), "tag", Nil),
      ("union all", "SELECT city FROM a UNION ALL SELECT city FROM b", "", Seq("city"), "city", Nil),
      ("union distinct", "SELECT city FROM a UNION SELECT city FROM b", "", Seq("city"), "city", Seq("city")),
      ("except", "SELECT city FROM a EXCEPT SELECT city FROM b", "", Seq("city"), "city", Seq("city")),
      ("aggregate", "SELECT city, count(*) AS n FROM a GROUP BY city", "", Seq("city", "n"), "city",
        Seq("city")))
    val feedNames = shapeFeeds.flatMap(_.keys).distinct
    registerFinalFeeds(shapeFeeds)
    var runs = 0
    /** Compile over fresh feeds, drive the three batches, and return the
      * emitted rows in emission order.
      */
    def drive(compile: Map[String, Dataset[Change]] => (DataFrame, OutputMode)): Seq[Row] = {
      runs += 1
      val name   = s"shape_entry_$runs"
      val inputs = feedNames.map(n => n -> MemoryStream[Change]).toMap
      val (df, mode) = compile(inputs.map { case (n, s) => n -> s.toDS() })
      val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", tmp(name)).start()
      try shapeFeeds.foreach { b =>
        b.foreach { case (f, cs) => inputs(f).addData(cs: _*) }
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).collect().toSeq
    }
    /** Last-writer-wins fold of emitted rows by `identity` in `pos`
      * order, ties by emission order; the live rows that remain.
      */
    def lww(rows: Seq[Row], identity: Seq[String], pos: Row => (Long, Long),
        live: Row => Boolean): Seq[Row] =
      rows.zipWithIndex.sortBy { case (r, i) => (pos(r), i) }
        .foldLeft(Map.empty[Seq[Any], Row]) { case (m, (r, _)) => m + (identity.map(r.getAs[Any]) -> r) }
        .values.filter(live).toSeq
    def cells(r: Row, cols: Seq[String]): Map[String, String] =
      cols.map(c => c -> Option(r.getAs[Any](c)).map(String.valueOf).orNull).toMap
    def named(sql: String): Seq[Map[String, String]] =
      lww(drive(fs => (IncrementalPlanner.namedChanges(spark, sql, fs)._1.toDF(), OutputMode.Append())),
        Seq("key"), r => (CdcMaterializer.micros(r.getAs[Timestamp]("ts")), r.getAs[Long]("seq")),
        _.getAs[String]("op") != "delete")
        .map(r => r.getMap[String, String](r.fieldIndex("payload")).toMap)
    def materialized(sql: String, cols: Seq[String], groupCols: Seq[String]): Seq[Map[String, String]] = {
      var out = Set.empty[String]
      val rows = drive { fs =>
        val view = IncrementalPlanner.materialize(spark, sql, fs)
        out = view.df.columns.toSet
        (view.df, view.outputMode)
      }
      // typed aggregate output: the latest row per group; row-class and
      // ranked outputs: a fold by change identity in commit order
      val live =
        if (out("_live_rows")) lww(rows, groupCols, _ => (0L, 0L), _.getAs[Long]("_live_rows") > 0L)
        else lww(rows, if (out("_partition")) Seq("key", "_partition") else Seq("key"),
          r => (r.getAs[Long]("ts_us"), r.getAs[Long]("seq")), _.getAs[String]("op") != "delete")
      live.map(cells(_, cols))
    }
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    shapes.foreach { case (shape, sql, batchSql0, cols, jc, groupCols) =>
      val batchSql = if (batchSql0.isEmpty) sql else batchSql0
      val derivedCols = cols.map(c => s"d.$c AS $c").mkString(", ")
      val positions: Seq[(String, String, () => Seq[Map[String, String]])] = {
        val dSql = s"SELECT $derivedCols FROM ($sql) d"
        val jSql = s"SELECT $derivedCols, o.label AS label FROM ($sql) d JOIN o ON d.$jc = o.jc"
        Seq(
          ("materialize", batchSql, () => materialized(sql, cols, groupCols)),
          ("namedChanges", batchSql, () => named(sql)),
          ("derived table", s"SELECT $derivedCols FROM ($batchSql) d", () => named(dSql)),
          ("value-join side",
            s"SELECT $derivedCols, o.label AS label FROM ($batchSql) d JOIN o ON d.$jc = o.jc",
            () => named(jSql)))
      }
      positions.foreach { case (pos, oracleSql, run) =>
        val want = bag(spark.sql(oracleSql).collect().toSeq.map(r =>
          r.schema.fieldNames.map(f => f -> Option(r.getAs[Any](f)).map(String.valueOf).orNull).toMap))
        if (want.isEmpty) problems += s"$shape via $pos: the oracle is empty"
        try {
          val got = bag(run())
          if (got != want) problems += s"$shape via $pos: view $got != batch $want"
        } catch {
          // one ASOF JOIN per statement: the as-of join cannot be a join side
          case e: IllegalArgumentException
              if shape == "asof join" && pos == "value-join side" &&
                e.getMessage.contains("one ASOF JOIN per statement") => ()
          case e: Exception => problems += s"$shape via $pos threw ${e.getMessage}"
        }
      }
    }
    // refusals: one message, whichever entry compiles the statement
    val ttl   = Some(("10 minutes", 60000L))
    val feeds = feedNames.map(n => n -> MemoryStream[Change].toDS()).toMap
    val entries: Seq[(String, String => Any)] = Seq(
      "materialize"          -> (IncrementalPlanner.materialize(spark, _, feeds)),
      "materializeChanges"   -> (IncrementalPlanner.materializeChanges(spark, _, feeds)),
      "materializeAggChanges" -> (IncrementalPlanner.materializeAggChanges(spark, _, feeds)),
      "namedChanges"         -> (IncrementalPlanner.namedChanges(spark, _, feeds)))
    val ttlEntries: Seq[(String, String => Any)] = Seq(
      "materializeExpiring"  -> (IncrementalPlanner.materializeExpiring(spark, _, feeds)),
      "namedChanges(ttl)"    -> (IncrementalPlanner.namedChanges(spark, _, feeds, ttl)))
    val refused: Seq[(String, Seq[(String, String => Any)], String)] = Seq(
      ("key-equi join on a union side", entries,
        "SELECT d.city AS city FROM (SELECT city FROM a UNION ALL SELECT city FROM b) d JOIN o ON d.key = o.key"),
      ("key-equi join on a generator side", entries,
        "SELECT d.tag AS tag FROM (SELECT explode(split(tags, ',')) AS tag FROM t) d JOIN o ON d.key = o.key"),
      ("FK join on an aggregate side", entries,
        "SELECT d.city AS city FROM (SELECT city, count(*) AS n FROM a GROUP BY city) d JOIN o ON o.jc = d.key"),
      ("ASOF join as a join side", entries, s"SELECT d.val AS val FROM ($asof) d JOIN o ON d.val = o.jc"),
      ("TTL over ASOF", ttlEntries, asof),
      ("TTL over a ranked view", ttlEntries, ranked),
      ("TTL over a union", ttlEntries, "SELECT city FROM a UNION ALL SELECT city FROM b"),
      ("TTL over EXCEPT", ttlEntries, "SELECT city FROM a EXCEPT SELECT city FROM b"),
      ("TTL over a row view over a join", ttlEntries,
        "SELECT d.city AS city FROM a d JOIN o ON d.city = o.jc"))
    refused.foreach { case (what, es, sql) =>
      val msgs = es.map { case (entry, compile) =>
        entry -> (try { compile(sql); "compiled" } catch { case e: IllegalArgumentException => e.getMessage })
      }
      if (msgs.map(_._2).distinct.length != 1 || msgs.head._2 == "compiled")
        problems += s"$what: ${msgs.map { case (e, m) => s"$e -> $m" }.mkString("; ")}"
    }
    feedNames.foreach(spark.catalog.dropTempView)
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("#171bi OUTER joins with non-equi residuals: residual decides match status, crossings retract pairs and resurrect solos") {
    // LEFT JOIN ON equi AND non-equi: the residual's truth value is LIVE —
    // either side moving across it flips pairs <-> solos
    val sql = "SELECT l.name AS name, l.v AS v, r.tag AS tag " +
      "FROM t1 l LEFT JOIN t2 r ON l.city = r.city AND l.v < r.w"
    val b1 = Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "name" -> "a", "v" -> "5"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "name" -> "b", "v" -> "20"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "par", "name" -> "c", "v" -> "1"), 3L),
      Change("insert", 4L, ts(3), Map("city" -> "ber", "name" -> "d"), 4L)) // v NULL: residual fails, stays solo
    val c1 = Seq(Change("insert", 1L, ts(0), Map("city" -> "ber", "tag" -> "x", "w" -> "10"), 1L))
    runView(sql, "pv_resleft", Seq(
      Map("t1" -> b1, "t2" -> c1),
      // a crosses the residual (5 -> 15 vs w=10): pair retracts, solo resurrects
      Map("t1" -> Seq(Change("update", 1L, ts(10), Map("city" -> "ber", "name" -> "a", "v" -> "15"), 5L))),
      // a wide partner arrives: a and b both pair, their solos die
      Map("t2" -> Seq(Change("insert", 2L, ts(20), Map("city" -> "ber", "tag" -> "y", "w" -> "100"), 2L))),
      // ... and dies again: solos resurrect
      Map("t2" -> Seq(Change("delete", 2L, ts(30), Map.empty, 3L)))))
    val got = rowBag("pv_resleft", Seq("name", "tag"))
    assert(got == Seq(Seq[Any]("a", null), Seq[Any]("b", null), Seq[Any]("c", null), Seq[Any]("d", null)),
      s"final: all rows solo (x's w=10 admits nobody at v=15/20, NULL v never matches): $got")
    // a's upsert history: paired x -> solo -> paired y -> solo
    val aTags = spark.table("pv_resleft").collect().toSeq
      .sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("seq")))
      .filter(r => r.getAs[String]("op") == "upsert" && r.getAs[String]("name") == "a")
      .map(r => Option(r.getAs[String]("tag")))
    // (a may be briefly solo before x's first micro-batch lands — drop it)
    assert(aTags.dropWhile(_.isEmpty) == Seq(Some("x"), None, Some("y"), None),
      s"a's visible history: $aTags")

    // batch recompute of the final state over the same condition
    import spark.implicits._
    val lDf = Seq(("ber", "a", Some(15)), ("ber", "b", Some(20)), ("par", "c", Some(1)),
      ("ber", "d", None: Option[Int])).toDF("city", "name", "v")
    val rDf = Seq(("ber", "x", 10)).toDF("city", "tag", "w")
    val want = lDf.join(rDf, lDf("city") === rDf("city") && lDf("v") < rDf("w"), "left")
      .select(lDf("name"), rDf("tag")).collect()
      .map(r => Seq[Any](r.getString(0), r.getString(1))).toSeq.sortBy(_.mkString("|"))
    assert(got == want, s"streaming\n  $got\n  != batch\n  $want")

    // pure non-equi LEFT (previously rejected): solos for residual-failed rows
    val b2 = Seq(
      Change("insert", 1L, ts(0), Map("name" -> "a", "v" -> "5"), 1L),
      Change("insert", 2L, ts(1), Map("name" -> "b", "v" -> "20"), 2L))
    val c2 = Seq(Change("insert", 1L, ts(0), Map("band" -> "high", "lo" -> "10"), 1L))
    runView("SELECT l.name AS name, r.band AS band FROM t1 l LEFT JOIN t2 r ON l.v < r.lo",
      "pv_resleft2", Seq(Map("t1" -> b2, "t2" -> c2)))
    assert(rowBag("pv_resleft2", Seq("name", "band")) ==
      Seq(Seq[Any]("a", "high"), Seq[Any]("b", null)))

    // pure non-equi FULL: unmatched rows of BOTH sides are solos
    runView("SELECT l.name AS name, r.band AS band FROM t1 l FULL JOIN t2 r ON l.v < r.lo",
      "pv_resfull", Seq(Map(
        "t1" -> b2,
        "t2" -> (c2 :+ Change("insert", 2L, ts(2), Map("band" -> "low", "lo" -> "1"), 2L)))))
    assert(rowBag("pv_resfull", Seq("name", "band")) ==
      Seq(Seq[Any]("a", "high"), Seq[Any]("b", null), Seq[Any](null, "low")))
  }

  test("#171bj mixed OVER clauses: two distinct specs in one select list, merged on change key") {
    val sql = "SELECT name, city, " +
      "row_number() OVER (PARTITION BY city ORDER BY amount DESC) AS rn, " +
      "count(*) OVER (PARTITION BY grp) AS cnt FROM t"
    val b1 = Seq(
      Change("insert", 1L, ts(0), Map("name" -> "a", "city" -> "ber", "grp" -> "g1", "amount" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("name" -> "b", "city" -> "ber", "grp" -> "g1", "amount" -> "5"), 2L),
      Change("insert", 3L, ts(2), Map("name" -> "c", "city" -> "par", "grp" -> "g2", "amount" -> "50"), 3L))
    runView(sql, "pv_mixed", Seq(
      Map("t" -> b1),
      // rank flip in ber (5 -> 20) AND c moves g2 -> g1 (counts fan to 3)
      Map("t" -> Seq(
        Change("update", 2L, ts(10), Map("name" -> "b", "city" -> "ber", "grp" -> "g1", "amount" -> "20"), 4L),
        Change("update", 3L, ts(11), Map("name" -> "c", "city" -> "par", "grp" -> "g1", "amount" -> "50"), 5L))),
      // a dies: ber re-ranks, g1 count drops to 2
      Map("t" -> Seq(Change("delete", 1L, ts(20), Map.empty, 6L)))))
    val got = rowState("pv_mixed", Seq("name", "city", "rn", "cnt"))
    assert(got == Map(
      2L -> Seq[Any]("b", "ber", 1L, "2"),
      3L -> Seq[Any]("c", "par", 1L, "2")), s"final mixed state: $got")

    // intermediate consistency: after batch 2, every g1 member carried cnt=3
    val afterB2 = spark.table("pv_mixed").collect().toSeq
      .filter(r => r.getAs[String]("op") == "upsert" && r.getAs[Long]("ts_us") <= CdcMaterializer.micros(ts(11)))
      .sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("seq")))
      .foldLeft(Map.empty[Long, (Long, String)]) { (m, r) =>
        m + (r.getAs[Long]("key") -> (r.getAs[Long]("rn"), r.getAs[String]("cnt")))
      }
    assert(afterB2 == Map(1L -> (2L, "3"), 2L -> (1L, "3"), 3L -> (1L, "3")),
      s"post-batch-2 folded state: $afterB2")

    // a top-k bound over mixed specs is rejected with the rewrite hint
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val feeds = Map("t" -> MemoryStream[Change].toDS())
    val e1 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT name, rn FROM (" + sql + ") WHERE rn <= 2", feeds)
    }
    assert(e1.getMessage.contains("mixed OVER"), e1.getMessage)
  }

  test("#171bk ASOF JOIN: events pair with the latest version at-or-before their time; republish and late versions re-enrich") {
    val sql = "SELECT e.val AS val, v.price AS price FROM e ASOF JOIN v ON e.sym = v.sym AND e.ets >= v.vts"
    val events = Seq(
      Change("insert", 1L, ts(0), Map("sym" -> "A", "ets" -> "15", "val" -> "x1"), 1L),
      Change("insert", 2L, ts(1), Map("sym" -> "A", "ets" -> "25", "val" -> "x2"), 2L),
      Change("insert", 3L, ts(2), Map("sym" -> "A", "ets" -> "5", "val" -> "x3"), 3L), // before any version
      Change("insert", 4L, ts(3), Map("sym" -> "B", "ets" -> "50", "val" -> "x4"), 4L)) // no versions at all
    val versions = Seq(
      Change("insert", 1L, ts(0), Map("sym" -> "A", "vts" -> "10", "price" -> "100"), 1L),
      Change("insert", 2L, ts(1), Map("sym" -> "A", "vts" -> "20", "price" -> "200"), 2L))
    runView(sql, "pv_asof", Seq(
      Map("e" -> events, "v" -> versions),
      // a LATE version lands between v1 and e1: e1 re-pairs to it
      Map("v" -> Seq(Change("insert", 3L, ts(10), Map("sym" -> "A", "vts" -> "12", "price" -> "120"), 3L))),
      // version REPUBLISH: e2's version updates in place, e2 re-emits
      Map("v" -> Seq(Change("update", 2L, ts(20), Map("sym" -> "A", "vts" -> "20", "price" -> "210"), 4L)))))
    assert(rowBag("pv_asof", Seq("val", "price")) ==
      Seq(Seq[Any]("x1", "120"), Seq[Any]("x2", "210")),
      "inner ASOF: e1 -> late v3 (12 <= 15), e2 -> republished v2; e3/e4 unmatched invisible")
    // e1's enrichment history: 100 (v1) then 120 (late v3)
    val e1Prices = spark.table("pv_asof").collect().toSeq
      .sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("seq")))
      .filter(r => r.getAs[String]("op") == "upsert" && r.getAs[String]("val") == "x1")
      .map(_.getAs[String]("price"))
    assert(e1Prices == Seq("100", "120"), s"e1 history: $e1Prices")

    // deleting the late version FALLS BACK to the previous one
    runView(sql, "pv_asof2", Seq(
      Map("e" -> events.take(1), "v" -> (versions :+
        Change("insert", 3L, ts(2), Map("sym" -> "A", "vts" -> "12", "price" -> "120"), 3L))),
      Map("v" -> Seq(Change("delete", 3L, ts(10), Map.empty, 4L)))))
    assert(rowBag("pv_asof2", Seq("val", "price")) == Seq(Seq[Any]("x1", "100")))

    // ASOF LEFT JOIN preserves unmatched events with NULL version fields
    runView("SELECT e.val AS val, v.price AS price FROM e ASOF LEFT JOIN v " +
      "ON e.sym = v.sym AND e.ets >= v.vts",
      "pv_asofl", Seq(Map("e" -> events, "v" -> versions)))
    assert(rowBag("pv_asofl", Seq("val", "price")) ==
      Seq(Seq[Any]("x1", "100"), Seq[Any]("x2", "200"), Seq[Any]("x3", null), Seq[Any]("x4", null)))

    // guards: orientation, inequality count, one-asof-per-statement
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def feeds2 = Map("e" -> MemoryStream[Change].toDS(), "v" -> MemoryStream[Change].toDS(),
      "w" -> MemoryStream[Change].toDS())
    val e1 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT e.val AS val FROM e ASOF JOIN v ON e.sym = v.sym AND v.vts >= e.ets", feeds2)
    }
    assert(e1.getMessage.contains("greater side"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT e.val AS val FROM e ASOF JOIN v ON e.sym = v.sym", feeds2)
    }
    assert(e2.getMessage.contains("exactly ONE ordering"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT e.val AS val FROM e ASOF JOIN v ON e.sym = v.sym AND e.ets >= v.vts " +
          "JOIN w ON w.sym = v.sym", feeds2)
    }
    assert(e3.getMessage.contains("one ASOF JOIN per statement"), e3.getMessage)
  }

  test("#171bl NON-EQUI correlated scalar subqueries: count/sum per outer row under churn on both sides") {
    val sql = "SELECT name, " +
      "(SELECT count(*) FROM u WHERE u.grp = t.grp AND u.v < t.cut) AS below, " +
      "(SELECT sum(u.v) FROM u WHERE u.grp = t.grp AND u.v < t.cut) AS ssum FROM t"
    val tRows = Seq(
      Change("insert", 1L, ts(0), Map("name" -> "a", "grp" -> "g1", "cut" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("name" -> "b", "grp" -> "g1", "cut" -> "3"), 2L),
      Change("insert", 3L, ts(2), Map("name" -> "c", "grp" -> "g2", "cut" -> "5"), 3L))
    val uRows = Seq(
      Change("insert", 1L, ts(0), Map("grp" -> "g1", "v" -> "5"), 1L),
      Change("insert", 2L, ts(1), Map("grp" -> "g1", "v" -> "8"), 2L),
      Change("insert", 3L, ts(2), Map("grp" -> "g2", "v" -> "9"), 3L))
    runView(sql, "pv_nescalar", Seq(
      Map("t" -> tRows, "u" -> uRows),
      // inner row crosses b's cut (8 -> 1): b recounts 0 -> 1; a's sum 13 -> 6
      Map("u" -> Seq(Change("update", 2L, ts(10), Map("grp" -> "g1", "v" -> "1"), 4L))),
      // OUTER row's cut moves (10 -> 4): a recounts 2 -> 1
      Map("t" -> Seq(Change("update", 1L, ts(20), Map("name" -> "a", "grp" -> "g1", "cut" -> "4"), 4L))),
      // inner delete of a non-matching row changes nothing visible
      Map("u" -> Seq(Change("delete", 3L, ts(30), Map.empty, 5L)))))
    val got = rowState("pv_nescalar", Seq("name", "below", "ssum"))
    assert(got == Map(
      1L -> Seq[Any]("a", "1", "1.0"),
      2L -> Seq[Any]("b", "1", "1.0"),
      3L -> Seq[Any]("c", "0", null)), s"final: $got")

    // a's count history: 2 (5,8 < 10) -> stays 2 after the u-move (5,1) -> 1 after cut=4
    val aHist = spark.table("pv_nescalar").collect().toSeq
      .sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("seq")))
      .filter(r => r.getAs[String]("op") == "upsert" && r.getAs[String]("name") == "a")
      .map(r => (r.getAs[String]("below"), r.getAs[String]("ssum"))).distinct
    // (a may briefly see zero matches before u's first micro-batch lands)
    assert(aHist.dropWhile(_._1 == "0") == Seq(("2", "13.0"), ("2", "6.0"), ("1", "1.0")),
      s"a's history: $aHist")

    // PURE non-equi correlation (no equi conjunct): one guarded bucket
    runView("SELECT name, (SELECT count(*) FROM u WHERE u.v >= t.cut) AS atleast FROM t",
      "pv_nescalar2", Seq(Map("t" -> tRows, "u" -> uRows)))
    assert(rowState("pv_nescalar2", Seq("name", "atleast")) == Map(
      1L -> Seq[Any]("a", "0"),   // none of 5,8,9 >= 10
      2L -> Seq[Any]("b", "3"),
      3L -> Seq[Any]("c", "3")), s"pure non-equi: ${rowState("pv_nescalar2", Seq("name", "atleast"))}")
  }

  test("#171bm session_window composes with ROLLUP: each level sessionizes its own row set, levels retract independently") {
    val sql = "SELECT city, session_window(ev, '10 minutes') AS sw, count(*) AS n, grouping(city) AS g " +
      "FROM f GROUP BY ROLLUP(city), session_window(ev, '10 minutes')"
    def ins(k: Long, city: String, evMin: Int, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> city, "ev" -> minUs(evMin).toString), seq)
    val b1 = Seq(
      ins(1L, "ber", 0, 1L), ins(2L, "ber", 5, 2L),
      ins(3L, "par", 12, 3L), ins(4L, "par", 40, 4L))
    runView(sql, "pv_sessroll", Seq(
      Map("f" -> b1),
      // deleting the 12-min bridge SPLITS the rolled-up mega-session
      // [0,22) back to [0,15) and retracts par's [12,22) session
      Map("f" -> Seq(Change("delete", 3L, ts(10), Map.empty, 5L)))))
    val got = sessionState("pv_sessroll", Seq("city", "g"), Seq("sw_end_us", "n"))
    assert(got == Map(
      Seq[Any]("ber", 0L, minUs(0))  -> Seq[Any](minUs(15), 2L),
      Seq[Any]("par", 0L, minUs(40)) -> Seq[Any](minUs(50), 1L),
      Seq[Any](null, 1L, minUs(0))   -> Seq[Any](minUs(15), 2L),
      Seq[Any](null, 1L, minUs(40))  -> Seq[Any](minUs(50), 1L)), s"final: $got")
    // BEFORE the delete, the rolled-up level held the cross-city
    // mega-session [0,22) n=3 that no city-level session has — the
    // union-of-rows semantic
    val sawMega = spark.table("pv_sessroll").collect().toSeq
      .exists(r => r.getAs[Long]("g") == 1L && r.getAs[Long]("sw_start_us") == minUs(0)
        && r.getAs[Long]("sw_end_us") == minUs(22) && r.getAs[Long]("n") == 3L)
    assert(sawMega, "the rolled-up level must have emitted the [0,22) n=3 cross-city session")
  }

  test("#171bn NON-EQUI correlated IN/EXISTS: exact three-valued logic, retraction moves membership") {
    val tRows = Seq(
      Change("insert", 1L, ts(0), Map("name" -> "a", "x" -> "5", "cut" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("name" -> "b", "x" -> "99", "cut" -> "10"), 2L),
      Change("insert", 3L, ts(2), Map("name" -> "c", "cut" -> "10"), 3L), // x NULL
      Change("insert", 4L, ts(3), Map("name" -> "d", "x" -> "5", "cut" -> "3"), 4L))
    val uRows = Seq(
      Change("insert", 1L, ts(0), Map("y" -> "5", "v" -> "5"), 1L),
      Change("insert", 2L, ts(1), Map("v" -> "7"), 2L), // y NULL candidate
      Change("insert", 3L, ts(2), Map("y" -> "8", "v" -> "20"), 3L))
    // candidates are PER OUTER ROW (v < cut): cut=10 -> {5, NULL}; cut=3 -> {}
    //  a: 5  IN {5,NULL} = TRUE; b: 99 IN {5,NULL} = UNKNOWN (null candidate);
    //  c: NULL IN nonempty = UNKNOWN; d: 5 IN {} = FALSE
    val inSql = "SELECT name FROM t WHERE x IN (SELECT y FROM u WHERE u.v < t.cut)"
    runView(inSql, "pv_nein", Seq(
      Map("t" -> tRows, "u" -> uRows),
      // deleting the y=5 candidate: a's membership flips TRUE -> UNKNOWN, a retracts
      Map("u" -> Seq(Change("delete", 1L, ts(10), Map.empty, 4L)))))
    val inHist = spark.table("pv_nein").collect().toSeq
      .sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("seq")))
      .map(r => (r.getAs[String]("op"), r.getAs[Long]("key")))
    assert(rowState("pv_nein", Seq("name")).isEmpty,
      s"after the delete no row satisfies IN: $inHist")
    assert(inHist.contains(("upsert", 1L)) && inHist.last == (("delete", 1L)),
      s"a was IN then retracted: $inHist")

    // NOT IN: only d (5 NOT IN {} = TRUE); UNKNOWNs stay filtered
    runView("SELECT name FROM t WHERE x NOT IN (SELECT y FROM u WHERE u.v < t.cut)",
      "pv_nenotin", Seq(Map("t" -> tRows, "u" -> uRows)))
    assert(rowState("pv_nenotin", Seq("name")).values.toSeq.map(_.head.toString) == Seq("d"))

    // EXISTS / NOT EXISTS: no 3VL — cut=10 rows pass, cut=3 fails
    runView("SELECT name FROM t WHERE EXISTS (SELECT 1 FROM u WHERE u.v < t.cut)",
      "pv_neex", Seq(Map("t" -> tRows, "u" -> uRows)))
    assert(rowState("pv_neex", Seq("name")).values.toSeq.map(_.head.toString).sorted == Seq("a", "b", "c"))
    runView("SELECT name FROM t WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.v < t.cut)",
      "pv_nenex", Seq(Map("t" -> tRows, "u" -> uRows)))
    assert(rowState("pv_nenex", Seq("name")).values.toSeq.map(_.head.toString) == Seq("d"))
  }

  test("#171bo key/fk-shaped INNER joins with extra ON conjuncts: residual post-filters live") {
    // key-equi + residual: pairs survive only while v < w holds
    val sql = "SELECT l.name AS name, r.tag AS tag FROM t1 l JOIN t2 r ON l.key = r.key AND l.v < r.w"
    val b1 = Seq(
      Change("insert", 1L, ts(0), Map("name" -> "a", "v" -> "5"), 1L),
      Change("insert", 2L, ts(1), Map("name" -> "b", "v" -> "50"), 2L))
    val c1 = Seq(
      Change("insert", 1L, ts(0), Map("tag" -> "x", "w" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("tag" -> "y", "w" -> "10"), 2L))
    runView(sql, "pv_keyres", Seq(
      Map("t1" -> b1, "t2" -> c1),
      // b's v drops under w: the pair ADMITS
      Map("t1" -> Seq(Change("update", 2L, ts(10), Map("name" -> "b", "v" -> "3"), 3L))),
      // a's partner tightens w under v: the pair RETRACTS
      Map("t2" -> Seq(Change("update", 1L, ts(20), Map("tag" -> "x", "w" -> "2"), 3L)))))
    assert(rowState("pv_keyres", Seq("name", "tag")) == Map(2L -> Seq[Any]("b", "y")),
      s"final: ${rowState("pv_keyres", Seq("name", "tag"))}")

    // fk-shaped + residual: orders join their customer while the amount
    // is under the customer's limit
    val fkSql = "SELECT o.name AS name, c.tag AS tag FROM o JOIN c ON o.cid = c.key AND o.amt < c.lim"
    val oRows = Seq(
      Change("insert", 10L, ts(0), Map("name" -> "o1", "cid" -> "1", "amt" -> "5"), 1L),
      Change("insert", 11L, ts(1), Map("name" -> "o2", "cid" -> "1", "amt" -> "50"), 2L))
    val cRows = Seq(Change("insert", 1L, ts(0), Map("tag" -> "c1", "lim" -> "10"), 1L))
    runView(fkSql, "pv_fkres", Seq(
      Map("o" -> oRows, "c" -> cRows),
      // limit rises: o2 admits
      Map("c" -> Seq(Change("update", 1L, ts(10), Map("tag" -> "c1", "lim" -> "100"), 2L)))))
    assert(rowState("pv_fkres", Seq("name", "tag")) ==
      Map(10L -> Seq[Any]("o1", "c1"), 11L -> Seq[Any]("o2", "c1")),
      s"fk final: ${rowState("pv_fkres", Seq("name", "tag"))}")
  }

  test("#171bp ROW views through materializeExpiring: dead states expire, retractions survive; joins reject") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input   = MemoryStream[Change]
    val planned = IncrementalPlanner.materializeExpiring(spark,
      "SELECT name FROM t WHERE amount > 5",
      Map("t" -> input.toDS()), watermarkDelay = "1 second", tombstoneTtlMs = 1000L)
    val q = IncrementalView.withRelaxedWatermarkCheck(spark) {
      planned.df.writeStream.format("memory").queryName("pv_row_ttl")
        .outputMode(planned.outputMode)
        .option("checkpointLocation", tmp("pvrowttl")).start()
    }
    try {
      input.addData(
        Change("insert", 1L, ts(0), Map("name" -> "a", "amount" -> "10"), 1L),
        Change("insert", 2L, ts(1), Map("name" -> "b", "amount" -> "3"), 2L)) // filtered: dead state
      q.processAllAvailable()
      // a moves OUT of the predicate: its row retracts, state goes dead
      input.addData(Change("update", 1L, ts(2), Map("name" -> "a", "amount" -> "1"), 3L))
      q.processAllAvailable()
      // advance the watermark far past death+ttl across two batches so
      // both dead states expire inside the running query
      input.addData(Change("insert", 3L, ts(60), Map("name" -> "c", "amount" -> "9"), 4L))
      q.processAllAvailable()
      input.addData(Change("insert", 4L, ts(120), Map("name" -> "d", "amount" -> "8"), 5L))
      q.processAllAvailable()
      val st = rowState("pv_row_ttl", Seq("name"))
      assert(st == Map(3L -> Seq[Any]("c"), 4L -> Seq[Any]("d")),
        s"a's retraction survives its tombstone's expiry: $st")
      val ops = spark.table("pv_row_ttl").collect().toSeq
        .filter(_.getAs[Long]("key") == 1L).map(_.getAs[String]("op"))
      assert(ops == Seq("upsert", "delete"), s"a appeared then retracted: $ops")
    } finally q.stop()

    // join children reject with the rewrite (their arrangements keep state)
    val e = intercept[IllegalArgumentException] {
      IncrementalPlanner.materializeExpiring(spark,
        "SELECT l.name AS name FROM t1 l JOIN t2 r ON l.city = r.city",
        Map("t1" -> MemoryStream[Change].toDS(), "t2" -> MemoryStream[Change].toDS()))
    }
    assert(e.getMessage.contains("materializeValueJoinExpiring"), e.getMessage)
  }

  // ----------------------------------------------------------------
  // #171bq/br: explicit ROWS frames in OVER clauses — the moving-
  // average idiom, live under churn
  // ----------------------------------------------------------------

  test("#171bq ROWS BETWEEN k PRECEDING AND CURRENT ROW == batch recompute; neighbor churn re-frames exactly the affected rows") {
    val sql = "SELECT city, name, avg(amount) OVER (PARTITION BY city ORDER BY seqno " +
      "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma FROM t"
    def ins(k: Long, city: String, name: String, seqno: Int, amount: String, seq: Long) =
      Change("insert", k, ts(seq.toInt),
        Map("city" -> city, "name" -> name, "seqno" -> seqno.toString, "amount" -> amount), seq)
    val b1 = Seq(
      ins(1L, "ber", "a", 1, "10", 1L),
      ins(2L, "ber", "b", 2, "20", 2L),
      ins(3L, "ber", "c", 3, "30", 3L),
      ins(4L, "ber", "d", 4, "40", 4L),
      ins(5L, "par", "e", 1, "7", 5L))
    val b2 = Seq(
      // a NEIGHBOR dies: rows b,c,d re-frame (b loses a from its frame;
      // d's trailing window shifts) — rows in par are untouched
      Change("delete", 2L, ts(10), Map.empty, 6L),
      // and one lands mid-sequence, re-framing its followers
      ins(6L, "ber", "x", 2, "100", 7L))
    runView(sql, "pv_frame", Seq(Map("t" -> b1), Map("t" -> b2)))
    val got = rankedState("pv_frame", Seq("city", "name", "ma")).map { case ((k, _), v) => k -> v }
    // batch truth: Spark's own framed window over the final LWW state
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fs = finalState(b1 ++ b2)
    val df = fs.toSeq.map { case (k, p) => (k, p("city"), p("name"), p("seqno").toInt, p("amount").toDouble) }
      .toDF("key", "city", "name", "seqno", "amount")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("city").orderBy(col("seqno").cast("double").asc, col("key").asc)
      .rowsBetween(-2, 0)
    val want = df.withColumn("ma", avg("amount").over(w)).collect().map { r =>
      r.getAs[Long]("key") -> Seq[Any](r.getAs[String]("city"), r.getAs[String]("name"),
        r.getAs[Double]("ma").toString)
    }.toMap
    assert(got == want, s"framed view\n  $got\n  != batch\n  $want")
    // par never re-emitted in batch 2 (its frames were untouched)
    val parB2 = spark.table("pv_frame").collect().toSeq
      .filter(r => r.getAs[String]("_partition") == "par")
    assert(parB2.size == 1, s"par must emit once, not re-emit under ber churn: ${parB2.size}")
  }

  test("#171br framed sum/min/first/last under both-sided frames; RANGE running maps to the default; bad frames reject with hints") {
    val sql = "SELECT name, sum(v) OVER (ORDER BY seqno ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s, " +
      "min(v) OVER (ORDER BY seqno ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS mn, " +
      "first_value(name) OVER (ORDER BY seqno ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS fv, " +
      "last_value(name) OVER (ORDER BY seqno ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS lv FROM t"
    def ins(k: Long, name: String, seqno: Int, v: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("name" -> name, "seqno" -> seqno.toString, "v" -> v), seq)
    val b1 = Seq(ins(1L, "a", 1, "10", 1L), ins(2L, "b", 2, "5", 2L), ins(3L, "c", 3, "30", 3L))
    runView(sql, "pv_frame2", Seq(Map("t" -> b1)))
    val got = rankedState("pv_frame2", Seq("name", "s", "mn", "fv", "lv")).map { case ((k, _), v) => k -> v }
    assert(got == Map(
      1L -> Seq[Any]("a", "15.0", "5", "a", "b"),   // frame [a,b]
      2L -> Seq[Any]("b", "45.0", "5", "a", "c"),   // frame [a,b,c]
      3L -> Seq[Any]("c", "35.0", "5", "b", "c")),  // frame [b,c]
      s"both-sided frames: $got")

    // RANGE UNBOUNDED PRECEDING .. CURRENT ROW is the default running
    // frame: identical to the unframed running sum (tie-peers share)
    val sqlRange = "SELECT name, sum(v) OVER (ORDER BY seqno " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs FROM t"
    runView(sqlRange, "pv_frame3", Seq(Map("t" -> b1)))
    val gotR = rankedState("pv_frame3", Seq("name", "rs")).map { case ((k, _), v) => k -> v }
    assert(gotR == Map(1L -> Seq[Any]("a", "10.0"), 2L -> Seq[Any]("b", "15.0"), 3L -> Seq[Any]("c", "45.0")),
      s"running RANGE frame: $gotR")

    // rejection: ROWS without ORDER BY (value-distance RANGE compiles
    // since r9 — spec #171bv)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def feeds = Map("t" -> MemoryStream[Change].toDS())
    val e2 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT name, sum(v) OVER (ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM t", feeds)
    }
    assert(e2.getMessage.contains("requires ORDER BY"), e2.getMessage)
  }

  test("#171bs DISTINCT aggregates in SESSION views == batch session_window recompute through merge and split") {
    val sql = "SELECT session_window(ev, '10 minutes') AS sw, count(*) AS n, " +
      "count(DISTINCT dev) AS nd, sum(DISTINCT v) AS sd, avg(DISTINCT v) AS ad " +
      "FROM f GROUP BY session_window(ev, '10 minutes')"
    def minUs(m: Int): Long = m * 60000000L
    def ins(k: Long, evMin: Int, dev: String, v: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("ev" -> minUs(evMin).toString, "dev" -> dev, "v" -> v), seq)
    // session A [0,15): devs {ph,pc,ph}, vs {10,10,20} → nd=2, sd=30, ad=15
    // session B [20,35): devs {tv}, vs {5} → nd=1, sd=5, ad=5
    val b1 = Seq(
      ins(1L, 0, "ph", "10", 1L), ins(2L, 4, "pc", "10", 2L), ins(3L, 5, "ph", "20", 3L),
      ins(4L, 20, "tv", "5", 4L), ins(5L, 25, "tv", "5", 5L))
    // the bridge MERGES A+B: devs {ph,pc,ph,tv,tv,ph}, vs {10,10,20,5,5,30}
    val b2 = Seq(ins(6L, 12, "ph", "30", 6L))
    // split back, then a distinct-arg-only update (same session, same n)
    val b3 = Seq(Change("delete", 6L, ts(10), Map.empty, 7L))
    val b4 = Seq(Change("update", 2L, ts(11),
      Map("ev" -> minUs(4).toString, "dev" -> "ph", "v" -> "10"), 8L)) // pc→ph: nd 2→1, sums unchanged
    runView(sql, "pv_sess_dist", Seq(Map("f" -> b1), Map("f" -> b2), Map("f" -> b3), Map("f" -> b4)))
    def liveSessions: Map[Long, Seq[Any]] =
      spark.table("pv_sess_dist").collect().toSeq
        .groupBy(_.getAs[Long]("sw_start_us")).view.mapValues(_.last)
        .collect { case (s, r) if r.getAs[Long]("_live_rows") > 0L =>
          s -> Seq[Any](r.getAs[Long]("n"), r.getAs[Long]("nd"), r.getAs[Any]("sd"), r.getAs[Any]("ad")) }
        .toMap
    val fin = liveSessions
    assert(fin == Map(
      minUs(0)  -> Seq[Any](3L, 1L, 30.0, 15.0),  // after pc→ph: nd=1; distinct vs {10,20}
      minUs(20) -> Seq[Any](2L, 1L, 5.0, 5.0)),
      s"final sessions: $fin")
    // the merged emission existed mid-history with the union's distincts
    val mergedRows = spark.table("pv_sess_dist").collect().toSeq
      .filter(r => r.getAs[Long]("sw_start_us") == minUs(0) && r.getAs[Long]("n") == 6L)
    assert(mergedRows.nonEmpty, "the bridge batch must emit the merged session")
    val m = mergedRows.last
    assert(m.getAs[Long]("nd") == 3L && m.getAs[Any]("sd") == 65.0, // distinct vs {10,20,5,30}
      s"merged distincts: nd=${m.getAs[Long]("nd")} sd=${m.getAs[Any]("sd")}")
    // batch truth for the final state: Spark's own session_window + count distinct
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fs = finalState(b1 ++ b2 ++ b3 ++ b4)
    val df = fs.toSeq.map { case (k, p) => (k, p("ev").toLong, p("dev"), p("v").toDouble) }
      .toDF("key", "ev_us", "dev", "v").withColumn("ev", timestamp_micros(col("ev_us")))
    val want = df.groupBy(session_window(col("ev"), "10 minutes"))
      .agg(count(lit(1)).as("n"), countDistinct(col("dev")).as("nd"),
        sum_distinct(col("v")).as("sd"), avg(col("v")).as("_ignore"))
      .collect().map { r =>
        r.getAs[Row]("session_window").getAs[Timestamp]("start").getTime * 1000L ->
          (r.getAs[Long]("n"), r.getAs[Long]("nd"), r.getAs[Double]("sd"))
      }.toMap
    assert(fin.view.mapValues(v => (v(0), v(1), v(2))).toMap == want,
      s"view vs Spark batch session_window: $fin vs $want")
  }

  test("#171bt approx_count_distinct views: HLL within 3% of exact on an append-only feed; retractions RAISE; bad combos reject") {
    val sql = "SELECT cat, count(*) AS n, approx_count_distinct(uid) AS au, max(v) AS hi " +
      "FROM t GROUP BY cat"
    // 3000 distinct uids in cat a (each appearing twice), 500 in cat b
    val rnd = new scala.util.Random(42)
    val aUids = Seq.fill(3000)(rnd.nextLong())
    val bUids = Seq.fill(500)(rnd.nextLong())
    val feed = (aUids ++ aUids).zipWithIndex.map { case (u, i) =>
      Change("insert", 100000L + i, ts(0), Map("cat" -> "a", "uid" -> u.toString, "v" -> (i % 97).toString), i + 1L)
    } ++ bUids.zipWithIndex.map { case (u, i) =>
      Change("insert", 900000L + i, ts(1), Map("cat" -> "b", "uid" -> u.toString, "v" -> "7"), 10000L + i)
    }
    runView(sql, "pv_approx", Seq(Map("t" -> feed)))
    val got = aggState("pv_approx", Seq("cat"))
    val estA = got(Seq[Any]("a"))(1).asInstanceOf[Long].toDouble
    val estB = got(Seq[Any]("b"))(1).asInstanceOf[Long].toDouble
    val exactA = aUids.distinct.size.toDouble
    val exactB = bUids.distinct.size.toDouble
    assert(math.abs(estA - exactA) / exactA < 0.03, s"cat a: est $estA vs exact $exactA")
    assert(math.abs(estB - exactB) / exactB < 0.03, s"cat b: est $estB vs exact $exactB")
    assert(got(Seq[Any]("a"))(0) == 6000L && got(Seq[Any]("b"))(0) == 500L, s"plain count rides along: $got")
    assert(got(Seq[Any]("a"))(2) == 96.0, s"append-only max rides along: $got")

    // idempotent re-application (a replayed snapshot record) is tolerated
    val idem = Seq(
      Change("insert", 1L, ts(0), Map("cat" -> "a", "uid" -> "7", "v" -> "1"), 1L),
      Change("insert", 1L, ts(0), Map("cat" -> "a", "uid" -> "7", "v" -> "1"), 1L))
    runView(sql, "pv_approx_idem", Seq(Map("t" -> idem.take(1)), Map("t" -> idem.drop(1))))
    assert(aggState("pv_approx_idem", Seq("cat")) == Map(Seq[Any]("a") -> Seq[Any](1L, 1L, 1.0)))

    // a DELETE raises loudly, naming the exact alternative (delivered in
    // a LATER batch — an in-batch insert+delete nets to "never entered
    // the sketch", which is correct and allowed)
    val boom = intercept[Exception] {
      runView(sql, "pv_approx_del", Seq(
        Map("t" -> Seq(Change("insert", 1L, ts(0), Map("cat" -> "a", "uid" -> "7", "v" -> "1"), 1L))),
        Map("t" -> Seq(Change("delete", 1L, ts(1), Map.empty, 2L)))))
    }
    val msgs = Iterator.iterate(boom: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("append-only") && msgs.contains("count(DISTINCT"), msgs.take(500))

    // a value-changing update raises too
    val boom2 = intercept[Exception] {
      runView(sql, "pv_approx_upd", Seq(
        Map("t" -> Seq(Change("insert", 1L, ts(0), Map("cat" -> "a", "uid" -> "7", "v" -> "1"), 1L))),
        Map("t" -> Seq(Change("update", 1L, ts(1), Map("cat" -> "a", "uid" -> "8", "v" -> "1"), 2L)))))
    }
    val msgs2 = Iterator.iterate(boom2: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs2.contains("append-only"), msgs2.take(500))

    // global form; rejects: × exact DISTINCT, × materializeExpiring
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    runView("SELECT approx_count_distinct(uid) AS au FROM t", "pv_approx_g",
      Seq(Map("t" -> idem.take(1))))
    assert(aggState("pv_approx_g", Nil) == Map(Seq.empty[Any] -> Seq[Any](1L)))
    def feeds = Map("t" -> MemoryStream[Change].toDS())
    val e1 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT cat, approx_count_distinct(uid) AS a, count(DISTINCT v) AS d FROM t GROUP BY cat", feeds)
    }
    assert(e1.getMessage.contains("does not mix"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materializeExpiring(spark,
        "SELECT cat, approx_count_distinct(uid) AS a FROM t GROUP BY cat", feeds)
    }
    assert(e2.getMessage.contains("append-only"), e2.getMessage)

    // ROLLUP with grouping(): the rolled-up row answers grouping(cat) = 1
    // and sketches the union of both cats (uid 2 is in both)
    val roll = Seq(
      Change("insert", 1L, ts(0), Map("cat" -> "a", "uid" -> "1"), 1L),
      Change("insert", 2L, ts(0), Map("cat" -> "a", "uid" -> "2"), 2L),
      Change("insert", 3L, ts(1), Map("cat" -> "b", "uid" -> "2"), 3L),
      Change("insert", 4L, ts(1), Map("cat" -> "b", "uid" -> "3"), 4L))
    runView("SELECT cat, grouping(cat) AS g, count(*) AS n, approx_count_distinct(uid) AS au " +
      "FROM t GROUP BY ROLLUP(cat)", "pv_approx_rollup", Seq(Map("t" -> roll)))
    val gotR = spark.table("pv_approx_rollup").collect().toSeq
      .groupBy(r => (Option(r.getAs[String]("cat")), r.getAs[Long]("g")))
      .view.mapValues(_.last)
      .map { case (g, r) => g -> ((r.getAs[Long]("n"), r.getAs[Long]("au"))) }.toMap
    assert(gotR == Map(
      (Some("a"), 0L) -> ((2L, 2L)),
      (Some("b"), 0L) -> ((2L, 2L)),
      (None, 1L)      -> ((4L, 3L))), s"approx ROLLUP levels: $gotR")
  }

  test("#171cb IGNORE NULLS on lag/lead/first/last/nth_value == Spark's own batch windows; misuse rejects") {
    val sql = "SELECT name, lag(v, 1) IGNORE NULLS OVER (ORDER BY seqno) AS lg, " +
      "last_value(v) IGNORE NULLS OVER (ORDER BY seqno) AS lv, " +
      "first_value(v) IGNORE NULLS OVER (ORDER BY seqno) AS fv, " +
      "nth_value(v, 2) IGNORE NULLS OVER (ORDER BY seqno ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nv " +
      "FROM t"
    def ins(k: Long, name: String, seqno: Int, v: Option[String], seq: Long) =
      Change("insert", k, ts(seq.toInt),
        Map("name" -> name, "seqno" -> seqno.toString) ++ v.map("v" -> _), seq)
    val b1 = Seq(
      ins(1L, "a", 1, None, 1L),
      ins(2L, "b", 2, Some("x"), 2L),
      ins(3L, "c", 3, None, 3L),
      ins(4L, "d", 4, Some("y"), 4L),
      ins(5L, "e", 5, None, 5L))
    runView(sql, "pv_ignore_nulls", Seq(Map("t" -> b1)))
    val got = rowState("pv_ignore_nulls", Seq("name", "lg", "lv", "fv", "nv"))
    // batch truth: Spark's own ignore-nulls windows over the same rows
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = b1.map(c => (c.key, c.payload("name"), c.payload("seqno").toInt, c.payload.get("v")))
      .toDF("key", "name", "seqno", "v")
    val w  = org.apache.spark.sql.expressions.Window.orderBy(col("seqno").cast("double").asc, col("key").asc)
    val wf = w.rowsBetween(Long.MinValue, Long.MaxValue)
    val want = df.select(col("key"), col("name"),
        lag(col("v"), 1, null, ignoreNulls = true).over(w).as("lg"),
        last(col("v"), ignoreNulls = true).over(w).as("lv"),
        first(col("v"), ignoreNulls = true).over(w).as("fv"),
        nth_value(col("v"), 2, ignoreNulls = true).over(wf).as("nv"))
      .collect().map(r => r.getAs[Long]("key") -> Seq[Any](r.getAs[String]("name"),
        r.getAs[String]("lg"), r.getAs[String]("lv"), r.getAs[String]("fv"), r.getAs[String]("nv")))
      .toMap
    assert(got == want, s"ignore-nulls view\n  $got\n  != Spark batch\n  $want")
    // sanity on the semantics: c's lag skips the NULL at a, landing on x
    assert(got(3L) == Seq[Any]("c", "x", "x", "x", "y"), s"row c: ${got(3L)}")

    // misuse rejects
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val e1 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT name, count(v) IGNORE NULLS OVER (ORDER BY seqno) AS c FROM t",
        Map("t" -> MemoryStream[Change].toDS()))
    }
    assert(e1.getMessage.contains("IGNORE NULLS applies"), e1.getMessage)
  }

  test("#171cc string vocabulary: pads/trims/slices/search vs Spark's own batch evaluation") {
    val sql = "SELECT name, lpad(name, 6, '*') AS lp, rpad(name, 6, 'xy') AS rp2, " +
      "left(name, 2) AS lf, right(name, 2) AS rt, repeat(name, 2) AS rpt, reverse(name) AS rv, " +
      "initcap(name) AS ic, ltrim(pad) AS lt, rtrim(pad) AS rtr, " +
      "instr(name, 'b') AS ix, split_part(csv, ',', 2) AS sp, split_part(csv, ',', -1) AS spl, " +
      "startswith(name, 'ab') AS sw, endswith(name, 'c') AS ew, contains(name, 'bc') AS ct " +
      "FROM t"
    val feed = Seq(
      Change("insert", 1L, ts(0), Map("name" -> "abc", "pad" -> "  m  ", "csv" -> "p,q,r"), 1L),
      Change("insert", 2L, ts(1), Map("name" -> "zed duo", "pad" -> "n", "csv" -> "only"), 2L))
    runView(sql, "pv_strfns", Seq(Map("t" -> feed)))
    val got = rowState("pv_strfns",
      Seq("name", "lp", "rp2", "lf", "rt", "rpt", "rv", "ic", "lt", "rtr", "ix", "sp", "spl", "sw", "ew", "ct"))
    // batch truth: Spark SQL evaluating the same expressions
    import spark.implicits._
    val df = feed.map(c => (c.key, c.payload("name"), c.payload("pad"), c.payload("csv")))
      .toDF("key", "name", "pad", "csv")
    df.createOrReplaceTempView("strfns_batch")
    val want = spark.sql(
      "SELECT key, name, lpad(name, 6, '*') AS lp, rpad(name, 6, 'xy') AS rp2, " +
        "left(name, 2) AS lf, right(name, 2) AS rt, repeat(name, 2) AS rpt, reverse(name) AS rv, " +
        "initcap(name) AS ic, ltrim(pad) AS lt, rtrim(pad) AS rtr, " +
        "instr(name, 'b') AS ix, split_part(csv, ',', 2) AS sp, split_part(csv, ',', -1) AS spl, " +
        "startswith(name, 'ab') AS sw, endswith(name, 'c') AS ew, contains(name, 'bc') AS ct " +
        "FROM strfns_batch")
      .collect().map { r =>
        r.getAs[Long]("key") -> Seq[Any](r.getAs[String]("name"), r.getAs[String]("lp"),
          r.getAs[String]("rp2"), r.getAs[String]("lf"), r.getAs[String]("rt"),
          r.getAs[String]("rpt"), r.getAs[String]("rv"), r.getAs[String]("ic"),
          r.getAs[String]("lt"), r.getAs[String]("rtr"),
          String.valueOf(r.getAs[Any]("ix")), r.getAs[String]("sp"), r.getAs[String]("spl"),
          String.valueOf(r.getAs[Boolean]("sw")), String.valueOf(r.getAs[Boolean]("ew")),
          String.valueOf(r.getAs[Boolean]("ct")))
      }.toMap
    assert(got == want, s"string vocabulary\n  $got\n  != Spark batch\n  $want")
  }

  test("#171ca expression vocabulary: %, pmod, <=>, LIKE, abs/round/floor/ceil/greatest/least/nullif/if/replace") {
    val sql = "SELECT name, amount % 3 AS m, pmod(0 - amount, 3) AS pm, abs(0 - amount) AS ab, " +
      "round(amount / 8, 2) AS rd, floor(amount / 8) AS fl, ceil(amount / 8) AS ce, " +
      "greatest(amount, bonus) AS g, least(amount, bonus) AS l, " +
      "nullif(city, 'ber') AS nf, if(amount > 10, 'big', 'small') AS sz, " +
      "replace(name, 'a', 'o') AS rp " +
      "FROM t WHERE name LIKE 'a%t_' AND NOT (city <=> 'rom')"
    val feed = Seq(
      Change("insert", 1L, ts(0), Map("name" -> "agentx", "city" -> "ber", "amount" -> "14", "bonus" -> "20"), 1L),
      Change("insert", 2L, ts(1), Map("name" -> "agenty", "city" -> "rom", "amount" -> "5"), 2L),   // <=> rom: out
      Change("insert", 3L, ts(2), Map("name" -> "atx", "city" -> "par", "amount" -> "5"), 3L),      // bonus NULL
      Change("insert", 4L, ts(3), Map("name" -> "other", "city" -> "ber", "amount" -> "7"), 4L))    // LIKE miss
    runView(sql, "pv_exprs", Seq(Map("t" -> feed)))
    val got = rowState("pv_exprs", Seq("name", "m", "pm", "ab", "rd", "fl", "ce", "g", "l", "nf", "sz", "rp"))
    assert(got == Map(
      1L -> Seq[Any]("agentx", "2.0", "1.0", "14.0", "1.75", "1", "2", "20", "14", null, "big", "ogentx"),
      3L -> Seq[Any]("atx", "2.0", "1.0", "5.0", "0.63", "0", "1", "5", "5", "par", "small", "otx")),
      s"expression vocabulary: $got")
  }

  test("#171bz approx_count_distinct composes with window groupings and HAVING on an append-only feed") {
    def minUs(m: Int): Long = m * 60000000L
    val sql = "SELECT window(ev, '10 minutes') AS w, approx_count_distinct(uid) AS au, count(*) AS n " +
      "FROM t GROUP BY window(ev, '10 minutes') HAVING count(*) > 1"
    def ins(k: Long, evMin: Int, uid: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("ev" -> minUs(evMin).toString, "uid" -> uid), seq)
    val feed = Seq(
      ins(1L, 1, "u1", 1L), ins(2L, 3, "u2", 2L), ins(3L, 7, "u1", 3L), // window 0: {u1,u2}, n=3
      ins(4L, 12, "u9", 4L))                                            // window 10: n=1 -> HAVING-gated
    runView(sql, "pv_approx_win", Seq(Map("t" -> feed)))
    val got = spark.table("pv_approx_win").collect().toSeq
      .groupBy(_.getAs[String]("w")).view.mapValues(_.last)
      .collect { case (w, r) if r.getAs[Long]("_live_rows") > 0L =>
        w -> (r.getAs[Long]("au"), r.getAs[Long]("n")) }
      .toMap
    assert(got == Map(minUs(0).toString -> ((2L, 3L))),
      s"windowed approx view (HAVING gates window 10): $got")
  }

  test("#171by frame edge cases: ranking + framed agg share an OVER under a top-k bound; FOLLOWING-only frames empty at the edge; RANGE FOLLOWING windows") {
    // (a) a ranking item + a FRAMED aggregate are two DISTINCT specs
    // (the frame is part of the OVER clause), so a top-k bound over the
    // pair rejects with the single-spec rewrite hint — pinned here so
    // the combination can't silently half-work
    val sqlBound = "SELECT name, rn, s FROM (SELECT name, " +
      "row_number() OVER (ORDER BY score DESC) AS rn, " +
      "sum(score) OVER (ORDER BY score DESC ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s " +
      "FROM t) x WHERE rn <= 2"
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val eb = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark, sqlBound, Map("t" -> MemoryStream[Change].toDS()))
    }
    assert(eb.getMessage.contains("bound a single-spec subquery"), eb.getMessage)
    // unbounded, the pair routes through the mixed merge and works
    def ins(k: Long, name: String, score: Int, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("name" -> name, "score" -> score.toString), seq)
    val b1 = Seq(ins(1L, "a", 50, 1L), ins(2L, "b", 40, 2L), ins(3L, "c", 30, 3L))
    runView("SELECT name, row_number() OVER (ORDER BY score DESC) AS rn, " +
      "sum(score) OVER (ORDER BY score DESC ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM t",
      "pv_frame_mixed", Seq(Map("t" -> b1)))
    val got = rowState("pv_frame_mixed", Seq("name", "rn", "s"))
    assert(got == Map(
      1L -> Seq[Any]("a", 1L, "50.0"),
      2L -> Seq[Any]("b", 2L, "90.0"),
      3L -> Seq[Any]("c", 3L, "70.0")),
      s"mixed rank + framed sum: $got")

    // (b) FOLLOWING-only ROWS frame: the last row's frame is EMPTY —
    // count answers 0, sum answers NULL
    val sql2 = "SELECT name, count(v) OVER (ORDER BY seqno ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS c, " +
      "sum(v) OVER (ORDER BY seqno ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS s FROM t"
    def ins2(k: Long, name: String, seqno: Int, v: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("name" -> name, "seqno" -> seqno.toString, "v" -> v), seq)
    val b2 = Seq(ins2(1L, "a", 1, "10", 1L), ins2(2L, "b", 2, "20", 2L), ins2(3L, "c", 3, "40", 3L))
    runView(sql2, "pv_frame_fol", Seq(Map("t" -> b2)))
    val got2 = rankedState("pv_frame_fol", Seq("name", "c", "s")).map { case ((k, _), v) => v(0) -> (v(1), v(2)) }
    assert(got2 == Map("a" -> (("2", "60.0")), "b" -> (("1", "40.0")), "c" -> (("0", null))),
      s"FOLLOWING-only frames: $got2")

    // (c) RANGE with a FOLLOWING lower bound: a forward value window
    val sql3 = "SELECT name, count(*) OVER (ORDER BY ets RANGE BETWEEN 5 FOLLOWING AND 15 FOLLOWING) AS c FROM t"
    def ins3(k: Long, name: String, ets: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("name" -> name, "ets" -> ets), seq)
    val b3 = Seq(ins3(1L, "a", "0", 1L), ins3(2L, "b", "8", 2L), ins3(3L, "c", "12", 3L), ins3(4L, "d", "30", 4L))
    runView(sql3, "pv_frame_rfol", Seq(Map("t" -> b3)))
    val got3 = rankedState("pv_frame_rfol", Seq("name", "c")).map { case ((k, _), v) => v(0) -> v(1) }
    // a: values in [5,15] = {8,12} -> 2; b: [13,23] = {} wait 12 < 13 -> 0... recompute:
    // a:[5,15]={b,c}=2, b:[13,23]={}=0, c:[17,27]={}=0, d:[35,45]={}=0
    assert(got3 == Map("a" -> "2", "b" -> "0", "c" -> "0", "d" -> "0"),
      s"forward RANGE windows: $got3")
  }

  test("#171bw HLL register math: relative error under 5% across cardinalities 100..100k (seeded)") {
    val rnd = new scala.util.Random(1234)
    Seq(100, 1000, 5000, 20000, 100000).foreach { n =>
      val regs = new Array[Byte](IncrementalPlanner.HllM)
      val seen = new scala.collection.mutable.HashSet[String]
      while (seen.size < n) seen += rnd.nextLong().toString
      seen.foreach { s =>
        val h   = IncrementalPlanner.hllHash(s)
        val idx = (h >>> (64 - IncrementalPlanner.HllP)).toInt
        val rho = (java.lang.Long.numberOfLeadingZeros(h << IncrementalPlanner.HllP) + 1)
          .min(64 - IncrementalPlanner.HllP + 1).toByte
        if (rho > regs(idx)) regs(idx) = rho
      }
      val est = IncrementalPlanner.hllEstimate(regs)
      val err = math.abs(est - n) / n
      assert(err < 0.05, s"n=$n est=$est relative error $err breaches the 3-sigma bound")
    }
  }

  test("#171bv value-distance RANGE frames == Spark's own rangeBetween; DESC folds the direction; NULL keys frame together") {
    val sql = "SELECT name, sum(v) OVER (ORDER BY ets RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS rs FROM t"
    def ins(k: Long, name: String, ets: String, v: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("name" -> name, "ets" -> ets, "v" -> v), seq)
    val b1 = Seq(
      ins(1L, "a", "0", "1", 1L), ins(2L, "b", "5", "2", 2L), ins(3L, "c", "12", "4", 3L),
      ins(4L, "d", "14", "8", 4L), ins(5L, "e", "40", "16", 5L))
    val b2 = Seq(Change("delete", 2L, ts(10), Map.empty, 6L)) // c/d's trailing windows lose b
    runView(sql, "pv_vrange", Seq(Map("t" -> b1), Map("t" -> b2)))
    val got = rankedState("pv_vrange", Seq("name", "rs")).map { case ((k, _), v) => k -> v }
    // batch truth: Spark's own rangeBetween over the final LWW state
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fs = finalState(b1 ++ b2)
    val df = fs.toSeq.map { case (k, p) => (k, p("name"), p("ets").toDouble, p("v").toDouble) }
      .toDF("key", "name", "ets", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("ets")).rangeBetween(-10, 0)
    val want = df.withColumn("rs", sum("v").over(w)).collect()
      .map(r => r.getAs[Long]("key") -> Seq[Any](r.getAs[String]("name"), r.getAs[Double]("rs").toString))
      .toMap
    assert(got == want, s"value-RANGE view\n  $got\n  != batch\n  $want")
    // a(0):1, c(12):4 (2..12 holds only c after b's death), d(14):12, e(40):16
    assert(got(4L) == Seq[Any]("d", "12.0"), s"d's trailing 10 must hold c+d: $got")

    // DESC: "10 PRECEDING" walks toward LARGER values
    val sqlD = "SELECT name, count(*) OVER (ORDER BY ets DESC RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS c FROM t"
    runView(sqlD, "pv_vrange_d", Seq(Map("t" -> b1)))
    val gotD = rankedState("pv_vrange_d", Seq("name", "c")).map { case ((k, _), v) => v(0) -> v(1) }
    // DESC order e(40) d(14) c(12) b(5) a(0): frames within +10 above:
    // e:{e}=1, d:{d}=1 (40>24), c:{c,d}=2, b:{b,c,d}=3, a:{a,b}=2
    assert(gotD == Map("e" -> "1", "d" -> "1", "c" -> "2", "b" -> "3", "a" -> "2"),
      s"DESC value-RANGE: $gotD")

    // NULL order keys frame with their fellow NULLs only
    val b3 = Seq(ins(1L, "a", "0", "1", 1L), ins(2L, "b", "5", "2", 2L),
      Change("insert", 3L, ts(2), Map("name" -> "n1", "v" -> "64"), 3L),
      Change("insert", 4L, ts(3), Map("name" -> "n2", "v" -> "32"), 4L))
    runView(sql, "pv_vrange_n", Seq(Map("t" -> b3)))
    val gotN = rankedState("pv_vrange_n", Seq("name", "rs")).map { case ((k, _), v) => v(0) -> v(1) }
    assert(gotN("n1") == "96.0" && gotN("n2") == "96.0" && gotN("a") == "1.0" && gotN("b") == "3.0",
      s"NULL-key rows must frame together and never leak into numeric frames: $gotN")

    // UNBOUNDED sides span the NULL order-key rows, exactly as Spark's
    // own rangeBetween: NULLS FIRST rows sit at the partition head, so
    // UNBOUNDED PRECEDING includes them in every numeric row's frame
    // (the NULL-peer rule applies only to value-bounded sides)
    val sqlU = "SELECT name, sum(v) OVER (ORDER BY ets " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs FROM t"
    runView(sqlU, "pv_vrange_u", Seq(Map("t" -> b3)))
    val gotU = rankedState("pv_vrange_u", Seq("name", "rs")).map { case ((k, _), v) => v(0) -> v(1) }
    val dfU = finalState(b3).toSeq
      .map { case (k, p) => (k, p("name"), p.get("ets").map(_.toDouble), p("v").toDouble) }
      .toDF("key", "name", "ets", "v")
    val wU = org.apache.spark.sql.expressions.Window.orderBy(col("ets")).rangeBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val wantU = dfU.withColumn("rs", sum("v").over(wU)).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Double]("rs").toString).toMap
    assert(gotU == wantU, s"UNBOUNDED-lo RANGE with NULL head\n  $gotU\n  != Spark\n  $wantU")
    assert(gotU("a") == "97.0" && gotU("b") == "99.0",
      s"numeric rows' unbounded frames must include the NULL head (64+32): $gotU")

    // rejection: value-RANGE with a composite ORDER BY
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val e1 = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT name, sum(v) OVER (ORDER BY ets, name RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS s FROM t",
        Map("t" -> MemoryStream[Change].toDS()))
    }
    assert(e1.getMessage.contains("exactly ONE ORDER BY"), e1.getMessage)

    // RANGE UNBOUNDED..UNBOUNDED under ORDER BY is the WHOLE partition
    // (nulls included) — not the running default (regression pin for
    // the frame-collapse bug)
    val sqlWhole = "SELECT name, sum(v) OVER (ORDER BY ets " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS s FROM t"
    runView(sqlWhole, "pv_vrange_whole", Seq(Map("t" -> b1)))
    val gotW = rankedState("pv_vrange_whole", Seq("name", "s")).map { case ((k, _), v) => v(0) -> v(1) }
    assert(gotW.values.toSet == Set("31.0"), s"whole-partition RANGE frame: $gotW")
  }

  test("#171bu two OVER clauses differing only in FRAME route through the mixed merge and both frame correctly") {
    val sql = "SELECT name, " +
      "sum(v) OVER (ORDER BY seqno ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s2, " +
      "sum(v) OVER (ORDER BY seqno ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s3 FROM t"
    def ins(k: Long, name: String, seqno: Int, v: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("name" -> name, "seqno" -> seqno.toString, "v" -> v), seq)
    val b1 = Seq(ins(1L, "a", 1, "10", 1L), ins(2L, "b", 2, "20", 2L),
      ins(3L, "c", 3, "40", 3L), ins(4L, "d", 4, "80", 4L))
    val b2 = Seq(Change("delete", 2L, ts(10), Map.empty, 5L)) // neighbors re-frame in BOTH specs
    runView(sql, "pv_mixed_frames", Seq(Map("t" -> b1), Map("t" -> b2)))
    val got = rowState("pv_mixed_frames", Seq("name", "s2", "s3"))
    // final rows a(10), c(40), d(80): s2 = self+1 prev, s3 = self+2 prev
    assert(got == Map(
      1L -> Seq[Any]("a", "10.0", "10.0"),
      3L -> Seq[Any]("c", "50.0", "50.0"),
      4L -> Seq[Any]("d", "120.0", "130.0")),
      s"mixed framed sums after neighbor death: $got")
  }

  test("#171cd exact percentile/median under retraction == Spark's own batch percentiles through churn incl. last-row delete") {
    val sql = "SELECT city, " +
      "percentile_cont(0.5) WITHIN GROUP (ORDER BY amount) AS p50, " +
      "percentile_disc(0.75) WITHIN GROUP (ORDER BY amount) AS p75, " +
      "percentile_cont(0.25) WITHIN GROUP (ORDER BY amount DESC) AS p25d, " +
      "median(amount) AS med, count(*) AS n, max(amount) AS hi FROM t GROUP BY city"
    def ins(k: Long, city: String, amount: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> city, "amount" -> amount), seq)
    val b1 = Seq(
      ins(1L, "ber", "10", 1L), ins(2L, "ber", "20", 2L), ins(3L, "ber", "30", 3L),
      ins(4L, "ber", "80", 4L), ins(5L, "par", "5", 5L), ins(6L, "par", "7", 6L),
      ins(7L, "rom", "99", 7L))
    // churn: delete ber's current median neighbor, MOVE a key par→ber
    // (retract one side, add the other), change an amount in place, and
    // delete rom's LAST row (the group must tombstone)
    val b2 = Seq(
      Change("delete", 2L, ts(10), Map.empty, 8L),
      Change("update", 5L, ts(11), Map("city" -> "ber", "amount" -> "40"), 9L),
      Change("update", 6L, ts(12), Map("city" -> "par", "amount" -> "11"), 10L),
      Change("delete", 7L, ts(13), Map.empty, 11L))
    runView(sql, "pv_holistic", Seq(Map("t" -> b1), Map("t" -> b2)))
    val got = aggState("pv_holistic", Seq("city"))
    // batch truth: Spark's OWN inverse-distribution functions over the
    // final LWW state
    import spark.implicits._
    finalState(b1 ++ b2).toSeq
      .map { case (k, p) => (k, p("city"), p("amount").toDouble) }
      .toDF("key", "city", "amount").createOrReplaceTempView("hol_batch")
    val want = spark.sql(
      "SELECT city, percentile_cont(0.5) WITHIN GROUP (ORDER BY amount) AS p50, " +
        "percentile_disc(0.75) WITHIN GROUP (ORDER BY amount) AS p75, " +
        "percentile_cont(0.25) WITHIN GROUP (ORDER BY amount DESC) AS p25d, " +
        "median(amount) AS med, count(*) AS n, max(amount) AS hi FROM hol_batch GROUP BY city")
      .collect().map(r => Seq[Any](r.getAs[String]("city")) ->
        Seq[Any](r.getAs[Double]("p50"), r.getAs[Double]("p75"), r.getAs[Double]("p25d"),
          r.getAs[Double]("med"), r.getAs[Long]("n"), r.getAs[Double]("hi"))).toMap
    assert(got == want, s"holistic view\n  $got\n  != Spark batch\n  $want")
    assert(!got.contains(Seq[Any]("rom")), "rom's last-row delete must tombstone the group")
    // spot-check the interpolation: ber = {10,30,40,80} → p50 = 35.0
    assert(got(Seq[Any]("ber")).head == 35.0, s"ber p50: ${got(Seq[Any]("ber"))}")

    // HAVING over an UNPROJECTED percentile composes via the hoist
    runView("SELECT city, count(*) AS n FROM t GROUP BY city " +
      "HAVING percentile_cont(0.5) WITHIN GROUP (ORDER BY amount) > 12",
      "pv_hol_having", Seq(Map("t" -> b1)))
    val gotH = aggState("pv_hol_having", Seq("city")).keySet
    // b1 medians: ber {10,20,30,80} = 25 > 12 in; par {5,7} = 6 out; rom 99 in
    assert(gotH == Set(Seq[Any]("ber"), Seq[Any]("rom")), s"HAVING median gate: $gotH")
  }

  test("#171ce listagg/string_agg under retraction: WITHIN GROUP order, reorders, deletes, NULL skipping") {
    val sql = "SELECT city, listagg(status, ',') WITHIN GROUP (ORDER BY ets) AS sl, " +
      "string_agg(status, '|') AS sa FROM t GROUP BY city"
    def ins(k: Long, city: String, status: String, ets: String, seq: Long) =
      Change("insert", k, ts(seq.toInt),
        Map("city" -> city, "status" -> status, "ets" -> ets), seq)
    val b1 = Seq(
      ins(1L, "ber", "open", "3", 1L), ins(2L, "ber", "ack", "1", 2L),
      ins(3L, "ber", "done", "2", 3L), ins(4L, "par", "open", "1", 4L),
      // a NULL operand: listagg must skip it (SQL NULL exclusion), the
      // row still counts toward the group's liveness
      Change("insert", 5L, ts(5), Map("city" -> "par", "ets" -> "2"), 5L))
    runView(sql, "pv_listagg", Seq(Map("t" -> b1)))
    val got1 = aggState("pv_listagg", Seq("city"))
    assert(got1(Seq[Any]("ber")) == Seq[Any]("ack,done,open", "ack|done|open"), s"ber: $got1")
    assert(got1(Seq[Any]("par")) == Seq[Any]("open", "open"), s"par skips the NULL operand: $got1")
    // REORDER (key 2 moves to the end of the ORDER BY), then a delete
    val b2 = Seq(Change("update", 2L, ts(10), Map("city" -> "ber", "status" -> "ack", "ets" -> "9"), 6L))
    val b3 = Seq(Change("delete", 3L, ts(11), Map.empty, 7L))
    runView(sql, "pv_listagg2", Seq(Map("t" -> b1), Map("t" -> b2), Map("t" -> b3)))
    val got2 = aggState("pv_listagg2", Seq("city"))
    assert(got2(Seq[Any]("ber")) == Seq[Any]("open,ack", "ack|open"),
      s"reorder + delete must re-derive the concatenation: $got2")
    // batch cross-check of the WITHIN GROUP form against Spark's own listagg
    import spark.implicits._
    finalState(b1 ++ b2 ++ b3).toSeq
      .map { case (k, p) => (k, p("city"), p.get("status").orNull, p("ets").toInt) }
      .toDF("key", "city", "status", "ets").createOrReplaceTempView("la_batch")
    val want = spark.sql("SELECT city, listagg(status, ',') WITHIN GROUP (ORDER BY ets) AS sl " +
      "FROM la_batch GROUP BY city").collect()
      .map(r => r.getAs[String]("city") -> r.getAs[String]("sl")).toMap
    assert(got2.map { case (g, v) => g.head -> v.head } == want,
      s"listagg view ${got2} != Spark batch $want")
  }

  test("#171cf holistic guard + rejects: maxRowsPerGroup raises; DISTINCT/session/approx/non-literal-fraction combos reject") {
    def ins(k: Long, city: String, amount: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> city, "amount" -> amount), seq)
    val b1 = (1L to 4L).map(k => ins(k, "ber", (k * 10).toString, k))
    spark.conf.set("spark.graft.holistic.maxRowsPerGroup", "3")
    try {
      val e = intercept[Exception] {
        runView("SELECT city, median(amount) AS m FROM t GROUP BY city",
          "pv_hol_guard", Seq(Map("t" -> b1)))
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("maxRowsPerGroup"), s"expected the guard's raise, got: $msgs")
    } finally spark.conf.unset("spark.graft.holistic.maxRowsPerGroup")

    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def rejects(sql: String, needle: String): Unit = {
      val e = intercept[Exception] {
        IncrementalPlanner.materialize(spark, sql, Map("t" -> MemoryStream[Change].toDS()))
      }
      assert(e.getMessage.contains(needle), s"for $sql got: ${e.getMessage}")
    }
    rejects("SELECT city, median(amount) AS m, count(DISTINCT amount) AS d FROM t GROUP BY city",
      "does not mix with DISTINCT")
    rejects("SELECT session_window(ev, '1 minute') AS sw, median(amount) AS m FROM t " +
      "GROUP BY session_window(ev, '1 minute')", "session_window")
    rejects("SELECT city, median(amount) AS m, approx_count_distinct(amount) AS d FROM t GROUP BY city",
      "does not mix with exact percentile")
    rejects("SELECT city, percentile_cont(amount) WITHIN GROUP (ORDER BY amount) AS p FROM t GROUP BY city",
      "literal")
  }

  test("#171cr approx_percentile (DDSketch) under retraction: within α of Spark's exact percentile; shared sketch; rejects") {
    // two fractions over ONE operand (one shared sketch), plus count(*)
    val sql = "SELECT city, approx_percentile(amount, 0.5) AS p50, " +
      "percentile_approx(amount, 0.9) AS p90, count(*) AS n FROM t GROUP BY city"
    val rnd = new scala.util.Random(17)
    def amt(sign: Double): String = f"${sign * (1.0 + rnd.nextInt(900000) / 100.0)}%.2f"
    def ins(k: Long, city: String, amount: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> city, "amount" -> amount), seq)
    def upd(k: Long, city: String, amount: String, seq: Long) =
      Change("update", k, ts(seq.toInt), Map("city" -> city, "amount" -> amount), seq)
    def del(k: Long, seq: Long) = Change("delete", k, ts(seq.toInt), Map.empty, seq)
    // group sizes keep f·(n−1) integral for both fractions (n ∈ {1, 11,
    // 21}), so Spark's interpolating percentile IS a live element and
    // the sketch's α contract applies to it directly; osl mixes signs
    val b1 = (1L to 21L).map(k => ins(k, "ber", amt(1.0), k)) ++
      (101L to 111L).map(k => ins(k, "par", amt(1.0), k)) ++
      Seq(ins(201L, "rom", amt(1.0), 201L)) ++
      (301L to 311L).map(k => ins(k, "osl", amt(if (k % 3 == 0) -1.0 else 1.0), k))
    // in-place value updates, two par→ber moves, two ber deletes
    val b2 = (1L to 5L).map(k => upd(k, "ber", amt(1.0), 400L + k)) ++
      Seq(upd(101L, "ber", amt(1.0), 410L), upd(102L, "ber", amt(1.0), 411L),
        del(6L, 412L), del(7L, 413L))
    // more deletes and inserts (sizes back to 21 / 11), a NULL operand
    // (counted, never sketched), a sign flip, and rom's last row deleted
    val b3 = Seq(del(8L, 500L), del(9L, 501L),
      ins(22L, "ber", amt(1.0), 502L), ins(23L, "ber", amt(1.0), 503L),
      ins(112L, "par", amt(1.0), 504L), ins(113L, "par", amt(1.0), 505L),
      Change("insert", 114L, ts(506), Map("city" -> "par"), 506L),
      upd(305L, "osl", amt(-1.0), 507L), upd(306L, "osl", amt(1.0), 508L),
      del(201L, 509L))

    import spark.implicits._
    def check(table: String, changes: Seq[Change]): Map[Seq[Any], Seq[Any]] = {
      val got = aggState(table, Seq("city"))
      finalState(changes).toSeq
        .map { case (k, p) => (k, p("city"), p.get("amount").map(_.toDouble)) }
        .toDF("key", "city", "amount").createOrReplaceTempView("ddq_batch")
      val want = spark.sql("SELECT city, percentile(amount, 0.5) AS p50, " +
        "percentile(amount, 0.9) AS p90, count(*) AS n FROM ddq_batch GROUP BY city")
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
      assert(got.keySet == want.keySet.map(Seq[Any](_)), s"groups: $got vs $want")
      want.foreach { case (city, (p50, p90, n)) =>
        val Seq(e50: Double, e90: Double, gn) = got(Seq[Any](city))
        assert(gn == n, s"$city count: $gn vs $n")
        Seq(e50 -> p50, e90 -> p90).foreach { case (est, exact) =>
          assert(math.abs(est - exact) <= 0.01 * math.abs(exact) + 1e-9,
            s"$city: DDSketch $est not within α = 1% of Spark's $exact")
        }
      }
      got
    }
    runView(sql, "pv_ddq_ins", Seq(Map("t" -> b1)))
    assert(check("pv_ddq_ins", b1).contains(Seq[Any]("rom")))
    runView(sql, "pv_ddq", Seq(Map("t" -> b1), Map("t" -> b2), Map("t" -> b3)))
    val got = check("pv_ddq", b1 ++ b2 ++ b3)
    assert(!got.contains(Seq[Any]("rom")), "rom's last-row delete must tombstone the group")
    assert(got(Seq[Any]("par"))(2) == 12L, s"the NULL operand row still counts: $got")

    implicit val sqlCtx = spark.sqlContext
    def rejects(q: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        IncrementalPlanner.materialize(spark, q, Map("t" -> MemoryStream[Change].toDS()))
      }
      assert(e.getMessage.contains(needle), s"for $q got: ${e.getMessage}")
    }
    rejects("SELECT city, approx_percentile(amount, 0.5) AS p, max(amount) AS hi FROM t GROUP BY city",
      "min/max alongside approx_percentile")
    rejects("SELECT city, approx_percentile(amount, 0.5) AS p, count(DISTINCT amount) AS d " +
      "FROM t GROUP BY city", "does not mix with DISTINCT")
    rejects("SELECT city, approx_percentile(DISTINCT amount, 0.5) AS p FROM t GROUP BY city",
      "does not mix with DISTINCT")
    rejects("SELECT session_window(ev, '1 minute') AS sw, approx_percentile(amount, 0.5) AS p " +
      "FROM t GROUP BY session_window(ev, '1 minute')", "session_window")
  }

  test("#171cg corr/covar/regr family under retraction == Spark's own batch fit through churn") {
    val sql = "SELECT city, corr(amount, qty) AS c, covar_samp(amount, qty) AS cs, " +
      "covar_pop(amount, qty) AS cp, regr_slope(amount, qty) AS sl, " +
      "regr_intercept(amount, qty) AS ic, regr_r2(amount, qty) AS r2, " +
      "regr_count(amount, qty) AS n FROM t GROUP BY city"
    def ins(k: Long, city: String, amount: String, qty: String, seq: Long) =
      Change("insert", k, ts(seq.toInt),
        Map("city" -> city, "amount" -> amount, "qty" -> qty), seq)
    val b1 = Seq(
      ins(1L, "ber", "10", "1", 1L), ins(2L, "ber", "22", "2", 2L),
      ins(3L, "ber", "29", "3", 3L), ins(4L, "ber", "44", "4", 4L),
      // par: a pairwise-NULL row (no qty field) — must not count
      Change("insert", 5L, ts(5), Map("city" -> "par", "amount" -> "7"), 5L),
      ins(6L, "par", "5", "2", 6L), ins(7L, "par", "9", "4", 7L),
      // rom: single pair — covar_samp/corr NULL, covar_pop 0
      ins(8L, "rom", "3", "1", 8L))
    // churn: delete a ber row, move a par row to ber, update an amount
    // in place — the fold must retract the OLD pair's six moments
    val b2 = Seq(
      Change("delete", 2L, ts(10), Map.empty, 9L),
      Change("update", 6L, ts(11), Map("city" -> "ber", "amount" -> "50", "qty" -> "5"), 10L),
      Change("update", 7L, ts(12), Map("city" -> "par", "amount" -> "11", "qty" -> "4"), 11L))
    runView(sql, "pv_corr", Seq(Map("t" -> b1), Map("t" -> b2)))
    val got = aggState("pv_corr", Seq("city"))
    import spark.implicits._
    finalState(b1 ++ b2).toSeq
      .map { case (k, p) => (k, p("city"), p("amount").toDouble,
        p.get("qty").map(_.toDouble)) }
      .toDF("key", "city", "amount", "qty").createOrReplaceTempView("corr_batch")
    val want = spark.sql(
      "SELECT city, corr(amount, qty) AS c, covar_samp(amount, qty) AS cs, " +
        "covar_pop(amount, qty) AS cp, regr_slope(amount, qty) AS sl, " +
        "regr_intercept(amount, qty) AS ic, regr_r2(amount, qty) AS r2, " +
        "regr_count(amount, qty) AS n FROM corr_batch GROUP BY city")
      .collect().map(r => r.getAs[String]("city") -> r.toSeq.drop(1)).toMap
    assert(got.keySet.map(_.head) == want.keySet, s"groups: $got vs $want")
    got.foreach { case (g, vs) =>
      val ws = want(g.head.asInstanceOf[String])
      vs.zip(ws).zipWithIndex.foreach { case ((v, w), i) =>
        (v, w) match {
          case (null, null) => ()
          case (a: Double, b: Double) =>
            assert(math.abs(a - b) < 1e-6, s"$g col $i: $a != $b\n$got\n$want")
          case (a: Long, b: Long) => assert(a == b, s"$g col $i: $a != $b")
          case (a, b) => assert(false, s"$g col $i: $a (${a.getClass}) vs $b")
        }
      }
    }
    // par after churn = {key5 (no qty: pairwise-NULL), key7}: the NULL
    // pair never counts and key6's move retracted its pair -> n = 1
    assert(got(Seq[Any]("par")).last == 1L, s"par pairwise count: $got")
    // rom: single pair — corr/covar_samp NULL, covar_pop 0, slope NULL
    val rom = got(Seq[Any]("rom"))
    assert(rom(0) == null && rom(1) == null && rom(3) == null, s"rom degenerate: $rom")

    // HAVING over an unprojected corr composes via the hoist
    runView("SELECT city, count(*) AS cnt FROM t GROUP BY city " +
      "HAVING regr_count(amount, qty) >= 2",
      "pv_corr_having", Seq(Map("t" -> b1)))
    val gotH = aggState("pv_corr_having", Seq("city")).keySet
    assert(gotH == Set(Seq[Any]("ber"), Seq[Any]("par")), s"HAVING regr_count gate: $gotH")
  }

  test("#171ch min_by/max_by under retraction: winner deletion re-derives; NULL order rows ignored; ties break by change key") {
    val sql = "SELECT city, min_by(status, amount) AS cheap, max_by(status, amount) AS dear, " +
      "count(*) AS n FROM t GROUP BY city"
    def ins(k: Long, city: String, status: String, amount: String, seq: Long) =
      Change("insert", k, ts(seq.toInt),
        Map("city" -> city, "status" -> status, "amount" -> amount), seq)
    val b1 = Seq(
      ins(1L, "ber", "bronze", "10", 1L), ins(2L, "ber", "silver", "20", 2L),
      ins(3L, "ber", "gold", "90", 3L),
      // par: a NULL ordering operand (no amount) — ignored by both
      Change("insert", 4L, ts(4), Map("city" -> "par", "status" -> "ghost"), 4L),
      ins(5L, "par", "only", "7", 5L))
    runView(sql, "pv_argext", Seq(Map("t" -> b1)))
    val got1 = aggState("pv_argext", Seq("city"))
    assert(got1(Seq[Any]("ber")) == Seq[Any]("bronze", "gold", 3L), s"b1 ber: $got1")
    assert(got1(Seq[Any]("par")) == Seq[Any]("only", "only", 2L),
      s"NULL-amount row must not win yet still counts toward n: $got1")
    // churn: delete BOTH current ber winners — the fold must re-derive
    // from the survivors; then a tie on the new extreme breaks by key
    val b2 = Seq(
      Change("delete", 1L, ts(10), Map.empty, 6L),
      Change("delete", 3L, ts(11), Map.empty, 7L),
      ins(6L, "ber", "tie-late", "20", 8L))
    runView(sql, "pv_argext2", Seq(Map("t" -> b1), Map("t" -> b2)))
    val got2 = aggState("pv_argext2", Seq("city"))
    // ber = {silver@20 (key 2), tie-late@20 (key 6)}: both extremes tie
    // at 20 -> smallest change key (silver) wins both, deterministically
    assert(got2(Seq[Any]("ber")) == Seq[Any]("silver", "silver", 2L), s"tie rule: $got2")
    // batch cross-check vs Spark's own min_by/max_by over the final state
    import spark.implicits._
    finalState(b1 ++ b2).toSeq
      .map { case (k, p) => (k, p("city"), p("status"), p.get("amount").map(_.toDouble)) }
      .toDF("key", "city", "status", "amount").createOrReplaceTempView("ae_batch")
    val want = spark.sql(
      "SELECT city, min_by(status, amount) AS cheap, max_by(status, amount) AS dear, " +
        "count(*) AS n FROM ae_batch GROUP BY city")
      .collect().map(r => r.getAs[String]("city") ->
        Seq[Any](r.getAs[String]("cheap"), r.getAs[String]("dear"), r.getAs[Long]("n"))).toMap
    // Spark's batch tie-break is arbitrary; compare where unambiguous
    assert(got2(Seq[Any]("par")) == want("par"), s"par: $got2 vs $want")
    assert(want("ber")(2) == 2L)
    // last-row delete tombstones the group
    val b3 = Seq(Change("delete", 4L, ts(20), Map.empty, 9L),
      Change("delete", 5L, ts(21), Map.empty, 10L))
    runView(sql, "pv_argext3", Seq(Map("t" -> b1), Map("t" -> b2), Map("t" -> b3)))
    assert(!aggState("pv_argext3", Seq("city")).contains(Seq[Any]("par")),
      "par's last-row delete must tombstone the group")
  }

  test("#171ci bool_and/bool_or/every/count_if under retraction: invertible indicator counts; NULL predicates ignored") {
    val sql = "SELECT city, bool_and(amount > 10) AS all_big, bool_or(amount > 10) AS some_big, " +
      "every(amount < 100) AS all_small, count_if(amount > 10) AS n_big, count(*) AS n " +
      "FROM t GROUP BY city"
    def ins(k: Long, city: String, amount: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> city, "amount" -> amount), seq)
    val b1 = Seq(
      ins(1L, "ber", "50", 1L), ins(2L, "ber", "5", 2L), ins(3L, "ber", "20", 3L),
      ins(4L, "par", "200", 4L),
      // rom: a NULL predicate operand (no amount) — joins neither count
      Change("insert", 5L, ts(5), Map("city" -> "rom"), 5L),
      ins(6L, "rom", "15", 6L))
    runView(sql, "pv_bool", Seq(Map("t" -> b1)))
    val g1 = aggState("pv_bool", Seq("city"))
    assert(g1(Seq[Any]("ber")) == Seq[Any](false, true, true, 2L, 3L), s"b1 ber: $g1")
    assert(g1(Seq[Any]("par")) == Seq[Any](true, true, false, 1L, 1L), s"b1 par: $g1")
    assert(g1(Seq[Any]("rom")) == Seq[Any](true, true, true, 1L, 2L),
      s"NULL-predicate row must not join either count yet still count toward n: $g1")
    // churn: delete ber's one small row — bool_and FLIPS true, the
    // retraction that proves the counts are signed, not monotone
    val b2 = Seq(
      Change("delete", 2L, ts(10), Map.empty, 7L),
      // rom's only valued row turns NULL-operand (amount removed)
      Change("update", 6L, ts(11), Map("city" -> "rom"), 8L))
    runView(sql, "pv_bool2", Seq(Map("t" -> b1), Map("t" -> b2)))
    val g2 = aggState("pv_bool2", Seq("city"))
    assert(g2(Seq[Any]("ber")) == Seq[Any](true, true, true, 2L, 2L),
      s"deleting the one small row must flip bool_and true: $g2")
    assert(g2(Seq[Any]("rom")) == Seq[Any](null, null, null, 0L, 2L),
      s"all predicates NULL -> bool aggs NULL, count_if 0: $g2")
    // batch cross-check vs Spark's own aggregates over the final state
    import spark.implicits._
    finalState(b1 ++ b2).toSeq
      .map { case (k, p) => (k, p("city"), p.get("amount").map(_.toDouble)) }
      .toDF("key", "city", "amount").createOrReplaceTempView("bool_batch")
    val want = spark.sql(
      "SELECT city, bool_and(amount > 10) AS all_big, bool_or(amount > 10) AS some_big, " +
        "every(amount < 100) AS all_small, count_if(amount > 10) AS n_big, count(*) AS n " +
        "FROM bool_batch GROUP BY city")
      .collect().map(r => r.getAs[String]("city") -> r.toSeq.drop(1)).toMap
    g2.foreach { case (g, vs) =>
      assert(vs == want(g.head.asInstanceOf[String]), s"$g: $vs vs ${want(g.head.asInstanceOf[String])}")
    }
    // HAVING over an unprojected bool_and composes via the hoist
    runView("SELECT city, count(*) AS cnt FROM t GROUP BY city HAVING bool_and(amount > 10)",
      "pv_bool_having", Seq(Map("t" -> b1)))
    // par (200) and rom (NULL ignored, 15) pass; ber's 5 gates it out
    assert(aggState("pv_bool_having", Seq("city")).keySet ==
      Set(Seq[Any]("par"), Seq[Any]("rom")), "HAVING bool_and gate")
  }

  test("#171cj skewness/kurtosis/product under retraction: invertible power sums; zero/sign churn") {
    val sql = "SELECT city, skewness(amount) AS sk, kurtosis(amount) AS ku, " +
      "product(amount) AS pr, count(*) AS n FROM t GROUP BY city"
    def ins(k: Long, city: String, amount: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> city, "amount" -> amount), seq)
    val b1 = Seq(
      ins(1L, "ber", "2", 1L), ins(2L, "ber", "3", 2L), ins(3L, "ber", "7", 3L),
      ins(4L, "ber", "40", 4L),
      // par: a NULL operand (ignored), a negative and a ZERO (product 0)
      Change("insert", 5L, ts(5), Map("city" -> "par"), 5L),
      ins(6L, "par", "-4", 6L), ins(7L, "par", "0", 7L), ins(8L, "par", "5", 8L),
      // rom: constant values — zero variance, the degenerate moment case
      ins(9L, "rom", "6", 9L), ins(10L, "rom", "6", 10L))
    // churn: delete the skew-defining outlier, retract par's ZERO (the
    // product must recover the nonzero magnitude from the log sum), and
    // move a ber row into par — all three must retract old moments
    val b2 = Seq(
      Change("delete", 4L, ts(10), Map.empty, 11L),
      Change("update", 7L, ts(11), Map("city" -> "par", "amount" -> "2"), 12L),
      Change("update", 3L, ts(12), Map("city" -> "par", "amount" -> "7"), 13L))
    runView(sql, "pv_mom", Seq(Map("t" -> b1), Map("t" -> b2)))
    val got = aggState("pv_mom", Seq("city"))
    import spark.implicits._
    finalState(b1 ++ b2).toSeq
      .map { case (k, p) => (k, p("city"), p.get("amount").map(_.toDouble)) }
      .toDF("key", "city", "amount").createOrReplaceTempView("mom_batch")
    // skew/kurt vs Spark's own batch aggregates (incl. the degenerate
    // zero-variance convention); product vs the hand-derivable truth
    val want = spark.sql(
      "SELECT city, skewness(amount) AS sk, kurtosis(amount) AS ku, count(*) AS n " +
        "FROM mom_batch GROUP BY city")
      .collect().map(r => r.getAs[String]("city") ->
        (r.getAs[Any]("sk"), r.getAs[Any]("ku"), r.getAs[Long]("n"))).toMap
    def close(a: Any, b: Any, tag: String): Unit = (a, b) match {
      case (null, null) => ()
      case (x: Double, y: Double) if x.isNaN && y.isNaN => ()
      case (x: Double, y: Double) =>
        assert(math.abs(x - y) < 1e-6, s"$tag: $x != $y")
      case _ => assert(false, s"$tag: $a (${if (a == null) "null" else a.getClass}) vs $b")
    }
    assert(got.keySet.map(_.head) == want.keySet, s"groups: $got vs $want")
    got.foreach { case (g, vs) =>
      val (sk, ku, n) = want(g.head.asInstanceOf[String])
      close(vs(0), sk, s"$g skew"); close(vs(1), ku, s"$g kurt")
      assert(vs(3) == n, s"$g count: ${vs(3)} != $n")
    }
    // products: ber = {2,3} -> 6; par = {-4,2,5,7} -> -280 (the zero's
    // retraction recovered the sign and magnitude); rom = {6,6} -> 36.
    // The log-sum reconstruction is ~1e-6 RELATIVE (micro-unit ln
    // quantization, the documented trade) — compare relatively
    def closeRel(a: Any, w: Double, tag: String): Unit = a match {
      case x: Double => assert(math.abs(x - w) <= 1e-5 * math.max(1.0, math.abs(w)), s"$tag: $x != $w")
      case other     => assert(false, s"$tag: $other")
    }
    closeRel(got(Seq[Any]("ber"))(2), 6.0, "ber product")
    closeRel(got(Seq[Any]("par"))(2), -280.0, "par product")
    closeRel(got(Seq[Any]("rom"))(2), 36.0, "rom product")
    // before the churn the zero dominates: one-batch run pins product=0
    runView(sql, "pv_mom1", Seq(Map("t" -> b1)))
    closeRel(aggState("pv_mom1", Seq("city"))(Seq[Any]("par"))(2), 0.0, "par zero product")
    // HAVING over an unprojected skewness composes via the hoist
    runView("SELECT city, count(*) AS cnt FROM t GROUP BY city HAVING skewness(amount) > 1",
      "pv_mom_having", Seq(Map("t" -> b1)))
    // only ber's 40-outlier gives strong positive skew
    assert(aggState("pv_mom_having", Seq("city")).keySet == Set(Seq[Any]("ber")),
      "HAVING skewness gate")
  }

  test("#171ck mode and bit_and/or/xor on the holistic path: frequency/bit folds re-derive under retraction") {
    val sql = "SELECT city, mode(status) AS md, bit_and(flags) AS ba, " +
      "bit_or(flags) AS bo, bit_xor(flags) AS bx, count(*) AS n FROM t GROUP BY city"
    def ins(k: Long, city: String, status: String, flags: String, seq: Long) =
      Change("insert", k, ts(seq.toInt),
        Map("city" -> city, "status" -> status, "flags" -> flags), seq)
    val b1 = Seq(
      ins(1L, "ber", "open", "6", 1L), ins(2L, "ber", "open", "3", 2L),
      ins(3L, "ber", "done", "7", 3L),
      // par: NULL status and NULL flags rows join neither fold
      Change("insert", 4L, ts(4), Map("city" -> "par", "flags" -> "12"), 4L),
      Change("insert", 5L, ts(5), Map("city" -> "par", "status" -> "solo"), 5L))
    runView(sql, "pv_hbit", Seq(Map("t" -> b1)))
    val g1 = aggState("pv_hbit", Seq("city"))
    // ber: mode open(2) ; 6&3&7 = 2 ; 6|3|7 = 7 ; 6^3^7 = 2
    assert(g1(Seq[Any]("ber")) == Seq[Any]("open", 2L, 7L, 2L, 3L), s"b1 ber: $g1")
    assert(g1(Seq[Any]("par")) == Seq[Any]("solo", 12L, 12L, 12L, 2L),
      s"NULL operands join neither fold yet count toward n: $g1")
    // churn: delete one 'open' -> tie open/done breaks by SMALLEST value
    // (deterministic-mode rule: 'done' < 'open'); flags re-derive
    val b2 = Seq(Change("delete", 2L, ts(10), Map.empty, 6L))
    runView(sql, "pv_hbit2", Seq(Map("t" -> b1), Map("t" -> b2)))
    val g2 = aggState("pv_hbit2", Seq("city"))
    // ber = {open@6, done@7}: 6&7=6, 6|7=7, 6^7=1
    assert(g2(Seq[Any]("ber")) == Seq[Any]("done", 6L, 7L, 1L, 2L), s"tie + re-derive: $g2")
    // batch cross-check vs Spark's own bit aggregates (mode's batch
    // tie-break is arbitrary — compare it only where unambiguous)
    import spark.implicits._
    finalState(b1 ++ b2).toSeq
      .map { case (k, p) => (k, p("city"), p.get("status"), p.get("flags").map(_.toLong)) }
      .toDF("key", "city", "status", "flags").createOrReplaceTempView("hbit_batch")
    val want = spark.sql(
      "SELECT city, bit_and(flags) AS ba, bit_or(flags) AS bo, bit_xor(flags) AS bx, " +
        "count(*) AS n FROM hbit_batch GROUP BY city")
      .collect().map(r => r.getAs[String]("city") -> r.toSeq.drop(1)).toMap
    g2.foreach { case (g, vs) =>
      assert(vs.drop(1) == want(g.head.asInstanceOf[String]),
        s"$g bit folds vs batch: ${vs.drop(1)} vs ${want(g.head.asInstanceOf[String])}")
    }
    // last-row delete tombstones; an all-NULL-operand group answers NULL
    val b3 = Seq(
      Change("delete", 4L, ts(20), Map.empty, 7L),
      Change("update", 5L, ts(21), Map("city" -> "par"), 8L))
    runView(sql, "pv_hbit3", Seq(Map("t" -> b1), Map("t" -> b2), Map("t" -> b3)))
    val g3 = aggState("pv_hbit3", Seq("city"))
    assert(g3(Seq[Any]("par")) == Seq[Any](null, null, null, null, 1L),
      s"all-NULL operands -> NULL aggregates, count survives: $g3")
  }

  test("#171cl degenerate-moment epsilon, mode rendering canonicalization, bit fail-fast") {
    // 1. A constant NON-micro-exact group (every amount = 1.4142…): the
    //    micro-unit fold leaves a POSITIVE residue in m2 that a bare
    //    m2 > 0 gate passes, and skew/kurt would emit huge garbage where
    //    Spark batch answers NULL. The quantization-epsilon gate must
    //    classify it as zero-variance -> NULL; a genuine-variance group
    //    in the same view must stay numerically exact vs batch.
    val mSql = "SELECT city, skewness(amount) AS sk, kurtosis(amount) AS ku FROM t GROUP BY city"
    def insA(k: Long, city: String, amount: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> city, "amount" -> amount), seq)
    val mb = Seq(
      insA(1L, "con", "1.4142135", 1L), insA(2L, "con", "1.4142135", 2L),
      insA(3L, "con", "1.4142135", 3L),
      insA(4L, "var", "2.5", 4L), insA(5L, "var", "3.25", 5L),
      insA(6L, "var", "7.125", 6L), insA(7L, "var", "40.5", 7L))
    runView(mSql, "pv_degmom", Seq(Map("t" -> mb)))
    val dg = aggState("pv_degmom", Seq("city"))
    assert(dg(Seq[Any]("con")) == Seq[Any](null, null),
      s"constant non-integer group must answer NULL (batch's zero-variance rule), got: $dg")
    import spark.implicits._
    val wantVar = spark.sql(
      "SELECT skewness(a) AS sk, kurtosis(a) AS ku FROM " +
        "(SELECT explode(array(2.5D, 3.25D, 7.125D, 40.5D)) AS a)").collect().head
    val gotVar = dg(Seq[Any]("var"))
    assert(math.abs(gotVar(0).asInstanceOf[Double] - wantVar.getDouble(0)) < 1e-6 &&
      math.abs(gotVar(1).asInstanceOf[Double] - wantVar.getDouble(1)) < 1e-6,
      s"genuine variance must survive the epsilon gate: $gotVar vs $wantVar")

    // 2. mode buckets on the NUMERIC value: "6" and "6.0" are ONE value
    //    (count 2) beating "7", and the representative is the lexically
    //    smallest live rendering — string identity would have split them
    //    and answered "7".
    val dSql = "SELECT city, mode(status) AS md, count(*) AS n FROM t GROUP BY city"
    def insS(k: Long, status: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> "ber", "status" -> status), seq)
    val db = Seq(insS(1L, "6", 1L), insS(2L, "6.0", 2L), insS(3L, "7", 3L))
    runView(dSql, "pv_modecanon", Seq(Map("t" -> db)))
    assert(aggState("pv_modecanon", Seq("city"))(Seq[Any]("ber")) == Seq[Any]("6", 3L),
      "numerically equal renderings must share one mode bucket")

    // 3. bit aggregates: integral-VALUED renderings coerce ("6.0" -> 6),
    //    a fractional operand FAILS the query (Spark rejects non-integral
    //    bit aggregates at analysis; the stringly feed enforces at fold)
    val bSql = "SELECT city, bit_or(flags) AS bo FROM t GROUP BY city"
    def insF(k: Long, flags: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> "ber", "flags" -> flags), seq)
    runView(bSql, "pv_bitcoerce", Seq(Map("t" -> Seq(insF(1L, "6.0", 1L), insF(2L, "1", 2L)))))
    assert(aggState("pv_bitcoerce", Seq("city"))(Seq[Any]("ber")) == Seq[Any](7L),
      "integral-valued double rendering must coerce")
    val boom = intercept[Exception] {
      runView(bSql, "pv_bitfrac", Seq(Map("t" -> Seq(insF(1L, "2.7", 1L)))))
    }
    def rootChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(rootChain(boom).exists(c => Option(c.getMessage).exists(_.contains("not integral"))),
      s"fractional bit operand must fail fast, got: $boom")
  }

  test("#171cm GROUPS frames in live OVER clauses == batch dense_rank-ordinal replay; peer-group churn re-emits only affected rows") {
    // GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW: frame = my peer group
    // plus the one before it — the standard-SQL frame class Spark's own
    // grammar lacks (batch q92 composes it from dense_rank + RANGE over
    // the ordinal; the live planner carries the ordinal natively)
    val sql = "SELECT city, name, sum(amount) OVER (PARTITION BY city ORDER BY score " +
      "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS gs, " +
      "count(*) OVER (PARTITION BY city ORDER BY score " +
      "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS gc FROM t"
    def ins(k: Long, city: String, name: String, score: String, amount: String, seq: Long) =
      Change("insert", k, ts(seq.toInt), Map("city" -> city, "name" -> name,
        "score" -> score, "amount" -> amount), seq)
    val b1 = Seq(
      ins(1L, "ber", "a", "1", "10", 1L),
      ins(2L, "ber", "b", "2", "20", 2L),
      ins(3L, "ber", "c", "2", "30", 3L), // ties with b: one peer group
      ins(4L, "ber", "d", "3", "40", 4L),
      ins(5L, "par", "e", "1", "7", 5L))
    runView(sql, "pv_groups", Seq(Map("t" -> b1)))
    val g1 = rankedState("pv_groups", Seq("city", "name", "gs", "gc")).map { case ((k, _), v) => k -> v }
    // ber groups: [a][b,c][d] → a:10, b/c:10+50=60, d:50+40=90
    assert(g1 == Map(
      1L -> Seq[Any]("ber", "a", "10.0", "1"),
      2L -> Seq[Any]("ber", "b", "60.0", "3"),
      3L -> Seq[Any]("ber", "c", "60.0", "3"),
      4L -> Seq[Any]("ber", "d", "90.0", "3"),
      5L -> Seq[Any]("par", "e", "7.0", "1")), s"GROUPS 1 PRECEDING..CURRENT: $g1")
    // peer-group MOVE: a's score joins the [b,c] tie group — every ber
    // row re-frames; par is untouched and must not re-emit
    val b2 = Seq(Change("update", 1L, ts(10),
      Map("city" -> "ber", "name" -> "a", "score" -> "2", "amount" -> "10"), 6L))
    runView(sql, "pv_groups2", Seq(Map("t" -> b1), Map("t" -> b2)))
    val g2 = rankedState("pv_groups2", Seq("city", "name", "gs", "gc")).map { case ((k, _), v) => k -> v }
    // batch truth via the dense_rank-ordinal identity (q92's composition)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fs = finalState(b1 ++ b2).toSeq.map { case (k, p) =>
      (k, p("city"), p("name"), p("score").toDouble, p("amount").toDouble) }
      .toDF("key", "city", "name", "score", "amount")
    val wOrd = org.apache.spark.sql.expressions.Window.partitionBy("city").orderBy("score")
    val wG = org.apache.spark.sql.expressions.Window.partitionBy("city")
      .orderBy("ord").rangeBetween(-1, 0)
    val want = fs.withColumn("ord", dense_rank().over(wOrd))
      .withColumn("gs", sum("amount").over(wG))
      .withColumn("gc", count(lit(1)).over(wG))
      .collect().map(r => r.getAs[Long]("key") -> Seq[Any](r.getAs[String]("city"),
        r.getAs[String]("name"), r.getAs[Double]("gs").toString, r.getAs[Long]("gc").toString)).toMap
    assert(g2 == want, s"live GROUPS view\n  $g2\n  != batch dense_rank replay\n  $want")
    // a joined the [b,c] tie group: its frame is now the whole merged
    // group (no preceding group), d's trails all four rows
    assert(g2(1L) == Seq[Any]("ber", "a", "60.0", "3") &&
      g2(4L) == Seq[Any]("ber", "d", "100.0", "4"), s"merged tie group: $g2")
    // par emitted exactly once across both batches (its frames never moved)
    val parRows = spark.table("pv_groups2").collect().toSeq
      .filter(r => r.getAs[String]("_partition") == "par")
    assert(parRows.size == 1, s"par must not re-emit under ber churn: ${parRows.size}")

    // EXCLUDE GROUP / TIES / CURRENT ROW over the whole partition, plus
    // the single-bound `GROUPS 1 PRECEDING` shorthand
    val sqlX = "SELECT name, sum(amount) OVER (ORDER BY score " +
      "GROUPS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS xg FROM t"
    runView(sqlX, "pv_groupsx", Seq(Map("t" -> b1)))
    val gx = rankedState("pv_groupsx", Seq("name", "xg")).map { case ((k, _), v) => k -> v }
    // single partition (no PARTITION BY), total 107; peer groups by
    // score: {a,e} {b,c} {d}. EXCLUDE GROUP = total − my peer group
    assert(gx == Map(
      1L -> Seq[Any]("a", "90.0"),
      2L -> Seq[Any]("b", "57.0"),
      3L -> Seq[Any]("c", "57.0"),
      4L -> Seq[Any]("d", "67.0"),
      5L -> Seq[Any]("e", "90.0")), s"EXCLUDE GROUP: $gx")
    val sqlT = "SELECT name, sum(amount) OVER (ORDER BY score " +
      "GROUPS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS xt, " +
      "min(amount) OVER (ORDER BY score " +
      "GROUPS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS mt FROM t"
    runView(sqlT, "pv_groupst", Seq(Map("t" -> b1)))
    val gt = rankedState("pv_groupst", Seq("name", "xt", "mt")).map { case ((k, _), v) => k -> v }
    // EXCLUDE TIES keeps the row itself, drops its peers: a drops e
    // (sum 107−7=100, min over {10,20,30,40} = 10), e drops a (97),
    // b drops c (77), c drops b (87), d has no peers (107)
    assert(gt == Map(
      1L -> Seq[Any]("a", "100.0", "10"),
      2L -> Seq[Any]("b", "77.0", "7"),
      3L -> Seq[Any]("c", "87.0", "7"),
      4L -> Seq[Any]("d", "107.0", "7"),
      5L -> Seq[Any]("e", "97.0", "7")), s"EXCLUDE TIES: $gt")
    val sqlS = "SELECT name, count(*) OVER (ORDER BY score " +
      "GROUPS 1 PRECEDING EXCLUDE CURRENT ROW) AS cs FROM t"
    runView(sqlS, "pv_groupss", Seq(Map("t" -> b1)))
    val gs = rankedState("pv_groupss", Seq("name", "cs")).map { case ((k, _), v) => k -> v }
    // shorthand = BETWEEN 1 PRECEDING AND CURRENT ROW; groups (single
    // partition, scores 1,1,2,2,3): [a,e][b,c][d] → a/e frame {a,e}−self=1,
    // b/c frame {a,e,b,c}−self=3, d frame {b,c,d}−self=2
    assert(gs == Map(
      1L -> Seq[Any]("a", "1"), 5L -> Seq[Any]("e", "1"),
      2L -> Seq[Any]("b", "3"), 3L -> Seq[Any]("c", "3"),
      4L -> Seq[Any]("d", "2")), s"GROUPS shorthand + EXCLUDE CURRENT ROW: $gs")
    // EXCLUDE on the OTHER frame types (SQL:2011: the exclusion span is
    // the current row's peer group whatever the frame): ROWS both-sided
    // + EXCLUDE CURRENT ROW, and RANGE value-distance + EXCLUDE GROUP
    val sqlR = "SELECT name, sum(amount) OVER (ORDER BY score " +
      "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS xr, " +
      "sum(amount) OVER (ORDER BY score " +
      "RANGE BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS xv FROM t"
    // two DISTINCT OVER specs → the mixed-spec merge dataflow (keyed
    // by change key, no _partition column) — read with rowState
    runView(sqlR, "pv_exclrr", Seq(Map("t" -> b1)))
    val gr = rowState("pv_exclrr", Seq("name", "xr", "xv"))
    // sort (score asc, change-key tiebreak): a(1,10) e(1,7) b(2,20)
    // c(2,30) d(3,40).
    // xr (ROWS ±1 minus self): a:{e}=7, e:{a,b}=30, b:{e,c}=37,
    //   c:{b,d}=60, d:{c}=30
    // xv (RANGE [score−1,score] minus my peer group): a/e: frame {a,e}
    //   minus group {a,e} → empty → NULL; b/c: frame {a,e,b,c} minus
    //   {b,c} = 17; d: frame {b,c,d} minus {d} = 50
    assert(gr == Map(
      1L -> Seq[Any]("a", "7.0", null),
      5L -> Seq[Any]("e", "30.0", null),
      2L -> Seq[Any]("b", "37.0", "17.0"),
      3L -> Seq[Any]("c", "60.0", "17.0"),
      4L -> Seq[Any]("d", "30.0", "50.0")), s"ROWS/RANGE EXCLUDE: $gr")
    // rejection: GROUPS without ORDER BY
    implicit val sqlCtx = spark.sqlContext
    def feeds = Map("t" -> MemoryStream[Change].toDS())
    val e = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT name, sum(amount) OVER (GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM t",
        feeds)
    }
    assert(e.getMessage.contains("requires ORDER BY"), e.getMessage)
  }

  test("#171cn median/percentile OVER whole partitions == batch recompute through churn; framed/ordered forms reject") {
    val sql = "SELECT city, name, median(amount) OVER (PARTITION BY city) AS md, " +
      "percentile(amount, 0.9) OVER (PARTITION BY city) AS p90 FROM t"
    def ins(k: Long, city: String, name: String, amount: String, seq: Long) =
      Change("insert", k, ts(seq.toInt),
        Map("city" -> city, "name" -> name, "amount" -> amount), seq)
    val b1 = Seq(
      ins(1L, "ber", "a", "10", 1L), ins(2L, "ber", "b", "20", 2L),
      ins(3L, "ber", "c", "30", 3L), ins(4L, "ber", "d", "40", 4L),
      ins(5L, "par", "e", "7", 5L))
    // churn: delete the top row (median shifts down), move a row across
    // partitions (both medians re-derive)
    val b2 = Seq(
      Change("delete", 4L, ts(10), Map.empty, 6L),
      Change("update", 3L, ts(11), Map("city" -> "par", "name" -> "c", "amount" -> "30"), 7L))
    runView(sql, "pv_wmed", Seq(Map("t" -> b1), Map("t" -> b2)))
    val got = rankedState("pv_wmed", Seq("city", "name", "md", "p90")).map { case ((k, _), v) => k -> v }
    // batch truth: Spark's own percentile window aggregates over the
    // final LWW state
    import spark.implicits._
    finalState(b1 ++ b2).toSeq
      .map { case (k, p) => (k, p("city"), p("name"), p("amount").toDouble) }
      .toDF("key", "city", "name", "amount").createOrReplaceTempView("wmed_batch")
    val want = spark.sql(
      "SELECT key, city, name, percentile(amount, 0.5) OVER (PARTITION BY city) AS md, " +
        "percentile(amount, 0.9) OVER (PARTITION BY city) AS p90 FROM wmed_batch")
      .collect().map(r => r.getAs[Long]("key") -> Seq[Any](r.getAs[String]("city"),
        r.getAs[String]("name"), r.getAs[Double]("md").toString,
        r.getAs[Double]("p90").toString)).toMap
    assert(got == want, s"live window percentiles\n  $got\n  != batch\n  $want")
    // ber = {10, 20}: median 15, p90 19; par = {7, 30}: median 18.5, p90 27.7
    assert(got(1L) == Seq[Any]("ber", "a", "15.0", "19.0"), s"ber stats: $got")
    // rejection: framed/ordered forms
    implicit val sqlCtx = spark.sqlContext
    def feeds = Map("t" -> MemoryStream[Change].toDS())
    val e = intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT name, median(amount) OVER (PARTITION BY city ORDER BY amount) AS m FROM t", feeds)
    }
    assert(e.getMessage.contains("whole-partition"), e.getMessage)
  }

  test("#296 generator views: explode family changefeed — per-ordinal diffs, shrink deletes, WHERE gate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def e(op: String, k: Long, m: Int, tags: String, city: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String] else Map("tags" -> tags, "city" -> city), seq)
    val batches = Seq(
      Map("t" -> Seq(
        e("insert", 1L, 0, "a,b,c", "ber", 1L),
        e("insert", 2L, 1, "x", "par", 2L),
        e("insert", 3L, 2, "", "ber", 3L))),   // split("") → [""]: one empty-string element, like batch
      Map("t" -> Seq(e("update", 1L, 3, "a,B,c", "ber", 4L))), // ordinal 1 changes — ONLY it may re-emit
      Map("t" -> Seq(e("update", 1L, 4, "a,B", "ber", 5L))),   // family shrinks — ordinal 2 must delete
      Map("t" -> Seq(e("delete", 2L, 5, "", "", 6L))),         // whole family of key 2 dies
    )
    def family(table: String, cols: Seq[String]): Seq[Seq[String]] =
      rowState(table, cols).values.map(_.map(String.valueOf(_))).toSeq.sortBy(_.mkString("|"))

    val sql = "SELECT city, explode(split(tags, ',')) AS tag FROM t"
    runView(sql, "pv_gen_a", batches.take(1))
    assert(family("pv_gen_a", Seq("city", "tag")) == Seq(
      Seq("ber", ""), Seq("ber", "a"), Seq("ber", "b"), Seq("ber", "c"), Seq("par", "x")))

    runView(sql, "pv_gen_b", batches.take(2))
    assert(family("pv_gen_b", Seq("city", "tag")) == Seq(
      Seq("ber", ""), Seq("ber", "B"), Seq("ber", "a"), Seq("ber", "c"), Seq("par", "x")))
    // minimal-change contract: the one-element edit emitted exactly one row
    assert(spark.table("pv_gen_b").where("seq = 4").count() == 1L,
      "editing one ordinal of a 3-element family must re-emit only that ordinal")

    runView(sql, "pv_gen_c", batches.take(3))
    assert(family("pv_gen_c", Seq("city", "tag")) == Seq(
      Seq("ber", ""), Seq("ber", "B"), Seq("ber", "a"), Seq("par", "x")))
    val shrink = spark.table("pv_gen_c").where("seq = 5").collect()
    assert(shrink.length == 1 && shrink.head.getAs[String]("op") == "delete",
      "a shrink with unchanged surviving elements must emit ONLY the dead ordinal's delete")

    runView(sql, "pv_gen", batches)
    assert(family("pv_gen", Seq("city", "tag")) == Seq(
      Seq("ber", ""), Seq("ber", "B"), Seq("ber", "a")),
      "deleting the source key must tombstone its whole family")

    // posexplode + WHERE: ordinals surface as a column, the gate drops
    // whole families, and batch parity holds on the final state
    val psql = "SELECT city, posexplode(split(tags, ',')) AS (pos, tag) FROM t WHERE city = 'ber'"
    runView(psql, "pv_gen_pos", batches)
    assert(family("pv_gen_pos", Seq("pos", "tag", "city")) == Seq(
      Seq("0", "a", "ber"), Seq("0", "", "ber"), Seq("1", "B", "ber")))

    // guardrails: unaliased generators and non-split arguments reject loudly
    def feeds = Map("t" -> MemoryStream[Change].toDS())
    assert(intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark, "SELECT explode(tags) AS x FROM t", feeds)
    }.getMessage.contains("explode(split"))
    assert(intercept[IllegalArgumentException] {
      IncrementalPlanner.materialize(spark,
        "SELECT explode(split(tags, ',')) AS a, explode(split(city, ',')) AS b FROM t", feeds)
    }.getMessage.contains("one generator"))
  }

  test("#171cp aggregate FILTER clause: agg(x) FILTER (WHERE p) under churn; HAVING-hoisted filters too") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def e(op: String, k: Long, m: Int, city: String, amount: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String] else Map("city" -> city, "amount" -> amount), seq)
    val batches = Seq(
      Map("t" -> Seq(
        e("insert", 1L, 0, "ber", "10", 1L),
        e("insert", 2L, 1, "ber", "3", 2L),
        e("insert", 3L, 2, "par", "8", 3L))),
      // key 2 crosses INTO the filter predicate; key 3 crosses OUT
      Map("t" -> Seq(
        e("update", 2L, 10, "ber", "7", 4L),
        e("update", 3L, 11, "par", "2", 5L))),
      Map("t" -> Seq(e("delete", 1L, 12, "", "", 6L))),
    )
    val sql = "SELECT city, count(*) FILTER (WHERE amount > 5) AS n_big, " +
      "sum(amount) FILTER (WHERE amount > 5) AS s_big, count(*) AS n FROM t GROUP BY city"
    runView(sql, "pv_filter_a", batches.take(1))
    assert(aggState("pv_filter_a", Seq("city")) == Map(
      Seq[Any]("ber") -> Seq[Any](1L, 10.0, 2L),
      Seq[Any]("par") -> Seq[Any](1L, 8.0, 1L)),
      "the filter clause must gate the aggregate, not the row")
    runView(sql, "pv_filter", batches)
    assert(aggState("pv_filter", Seq("city")) == Map(
      Seq[Any]("ber") -> Seq[Any](1L, 7.0, 1L),
      // all rows filtered out → sum emits 0 (the flat path's documented
      // all-NULL-sum trade; batch would say NULL)
      Seq[Any]("par") -> Seq[Any](0L, 0.0, 1L)),
      "predicate crossings must retract/add only the filtered slots; count(*) unaffected")

    // HAVING-hoisted aggregates keep their filter too
    val hsql = "SELECT city, count(*) AS n FROM t GROUP BY city " +
      "HAVING sum(amount) FILTER (WHERE amount > 5) >= 10"
    runView(hsql, "pv_filter_h", batches.take(1))
    assert(aggState("pv_filter_h", Seq("city")).keySet == Set(Seq[Any]("ber")),
      "HAVING's filtered sum must see only the gated rows")
  }

  test("#171cq FILTER on multi-arg aggregates: config literals stay literal, data operands gate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def e(op: String, k: Long, m: Int, city: String, amount: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String] else Map("city" -> city, "amount" -> amount), seq)
    val batches = Seq(
      Map("t" -> Seq(
        e("insert", 1L, 0, "ber", "10", 1L),
        e("insert", 2L, 1, "ber", "4", 2L),
        e("insert", 3L, 2, "ber", "8", 3L),
        e("insert", 4L, 3, "par", "2", 4L))),
      // key 2 crosses INTO the predicate — the filtered percentile and
      // listagg must pick it up; key 3 crosses OUT
      Map("t" -> Seq(
        e("update", 2L, 10, "ber", "6", 5L),
        e("update", 3L, 11, "ber", "3", 6L))),
    )
    // percentile's fraction and listagg's separator are CONFIG literals:
    // before the r13 fix the FILTER rewrite CASE-wrapped them too and the
    // compile died with a misattributed "fraction (literal only)" error
    val sql = "SELECT city, " +
      "percentile(amount, 0.5) FILTER (WHERE amount > 5) AS p50_big, " +
      "percentile_cont(0.5) WITHIN GROUP (ORDER BY amount) FILTER (WHERE amount > 5) AS p50_wg, " +
      "listagg(amount, ',') WITHIN GROUP (ORDER BY amount) FILTER (WHERE amount > 5) AS la_big, " +
      "count(1) FILTER (WHERE amount > 5) AS n_lit FROM t GROUP BY city"
    runView(sql, "pv_mfilter_a", batches.take(1))
    assert(aggState("pv_mfilter_a", Seq("city")) == Map(
      // ber gated multiset {10, 8}: p50 = 9; par gated multiset {} → NULLs
      Seq[Any]("ber") -> Seq[Any](9.0, 9.0, "8,10", 2L),
      Seq[Any]("par") -> Seq[Any](null, null, null, 0L)),
      "fraction/separator must stay literal; count(1)'s literal IS the data operand and must gate")
    runView(sql, "pv_mfilter", batches)
    assert(aggState("pv_mfilter", Seq("city")) == Map(
      // ber gated multiset now {10, 6}: p50 = 8, listagg order-key sorted
      Seq[Any]("ber") -> Seq[Any](8.0, 8.0, "6,10", 2L),
      Seq[Any]("par") -> Seq[Any](null, null, null, 0L)),
      "predicate crossings must move keys in and out of the holistic multiset")
  }

  test("#296b generator composition + TTL: element aggregate in ONE statement; expiring family retracts then expires") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def e(op: String, k: Long, m: Int, tags: String, city: String, seq: Long) =
      Change(op, k, ts(m),
        if (op == "delete") Map.empty[String, String] else Map("tags" -> tags, "city" -> city), seq)
    val batches = Seq(
      Map("t" -> Seq(
        e("insert", 1L, 0, "a,b,c", "ber", 1L),
        e("insert", 2L, 1, "x", "par", 2L),
        e("insert", 3L, 2, "", "ber", 3L))),
      Map("t" -> Seq(e("update", 1L, 3, "a,B,c", "ber", 4L))),
      Map("t" -> Seq(e("update", 1L, 4, "a,B", "ber", 5L))),
      Map("t" -> Seq(e("delete", 2L, 5, "", "", 6L))),
    )
    // element aggregation in ONE statement: the generator subquery is
    // the derived-table source, the outer GROUP BY counts elements —
    // a shrink's ordinal delete must decrement its element's count
    val dsql = "SELECT tag, count(*) AS n FROM " +
      "(SELECT city, explode(split(tags, ',')) AS tag FROM t) x GROUP BY tag"
    runView(dsql, "pv_gen_agg_a", batches.take(1))
    assert(aggState("pv_gen_agg_a", Seq("tag")) == Map(
      Seq[Any]("a") -> Seq[Any](1L), Seq[Any]("b") -> Seq[Any](1L), Seq[Any]("c") -> Seq[Any](1L),
      Seq[Any]("x") -> Seq[Any](1L), Seq[Any]("") -> Seq[Any](1L)))
    runView(dsql, "pv_gen_agg", batches)
    assert(aggState("pv_gen_agg", Seq("tag")) == Map(
      Seq[Any]("a") -> Seq[Any](1L), Seq[Any]("B") -> Seq[Any](1L), Seq[Any]("") -> Seq[Any](1L)),
      "family shrink + source delete must retract their elements' counts through the composition")

    // expiring generator view: a family that leaves the WHERE predicate
    // retracts every ordinal; its dead state expires past watermark+ttl
    // while the emitted deletes survive in the feed
    val input   = MemoryStream[Change]
    val planned = IncrementalPlanner.materializeExpiring(spark,
      "SELECT explode(split(tags, ',')) AS tag FROM t WHERE city = 'ber'",
      Map("t" -> input.toDS()), watermarkDelay = "1 second", tombstoneTtlMs = 1000L)
    val q = IncrementalView.withRelaxedWatermarkCheck(spark) {
      planned.df.writeStream.format("memory").queryName("pv_gen_ttl")
        .outputMode(planned.outputMode)
        .option("checkpointLocation", tmp("pvgenttl")).start()
    }
    try {
      input.addData(e("insert", 1L, 0, "a,b", "ber", 1L))
      q.processAllAvailable()
      input.addData(e("update", 1L, 2, "a,b", "par", 2L)) // leaves the predicate: 2 ordinal deletes
      q.processAllAvailable()
      input.addData(e("insert", 3L, 60, "z", "ber", 3L))  // advances the watermark past death+ttl
      q.processAllAvailable()
      input.addData(e("insert", 4L, 120, "w", "ber", 4L))
      q.processAllAvailable()
      val st = rowState("pv_gen_ttl", Seq("tag")).values
        .map(_.map(String.valueOf(_)).mkString("|")).toSeq.sorted
      assert(st == Seq("w", "z"), s"only the live families remain: $st")
      val k1ops = spark.table("pv_gen_ttl").collect().toSeq
        .groupBy(_.getAs[Long]("key")).values.map(_.map(_.getAs[String]("op")))
        .filter(_.contains("delete")).toSeq
      assert(k1ops.count(_ == Seq("upsert", "delete")) == 2,
        s"both ordinals of the exiting family appeared then retracted: $k1ops")
    } finally q.stop()
  }

  // ----------------------------------------------------------------
  // #171cw expression parity: every function the planner accepts and
  // every operator, evaluated in three positions (a row view's SELECT,
  // a WHERE, a GROUP BY key) over edge payloads. Expected values are
  // pinned; where the result is Spark's function body and differs from
  // the earlier hand-written one, the case must equal batch Spark SQL
  // over the same rows instead (parityBatch).
  // ----------------------------------------------------------------

  private val parityRows: Seq[Map[String, String]] = Seq(
    Map("s" -> "Hello World", "n" -> "12", "m" -> "5", "b" -> "true",
      "t" -> "2024-03-15 10:30:00", "u" -> "2024-01-01", "d" -> "a,b,c"),
    Map.empty, // every field missing
    Map("s" -> "abc", "n" -> "NaN", "m" -> "0", "b" -> "TRUE",
      "t" -> "1710500000000000", "u" -> "2024-03-15 23:59:59.5", "d" -> "x"),
    Map("s" -> "\tpad\t", "n" -> "Infinity", "m" -> "-3", "b" -> "yes",
      "t" -> "2023-12-31", "u" -> "1700000000000000", "d" -> ",,"),
    Map("s" -> "hello-world foo", "n" -> "1e3", "m" -> "-7", "b" -> "false", "t" -> "garbage", "d" -> "only"),
    Map("s" -> "\u0001ctl", "n" -> " 12 ", "m" -> "2.5", "b" -> "0", "t" -> "2024-02-29 23:00:00"),
    Map("s" -> "𝄞ab", "n" -> "abc", "m" -> "10"),
  )

  private val parityValues: Seq[String] = Seq(
    "upper(s)", "lower(s)", "trim(s)", "ltrim(s)", "rtrim(s)", "reverse(s)", "initcap(s)",
    "md5(s)", "length(s)", "concat(s, '|', n)", "coalesce(s, n, 'none')", "coalesce(n, m)",
    "substring(s, 2, 3)", "substr(s, -3)", "substring(s, -20, 22)", "substr(s, 0, 2)",
    "substring(s, 3, -1)", "repeat(s, 2)", "left(s, 3)", "right(s, 2)", "left(s, -1)",
    "lpad(s, 14, '*-')", "rpad(s, 14, '*')", "lpad(s, 20, '')", "rpad(s, 3)",
    "instr(s, 'l')", "position('l', s)",
    "split_part(d, ',', 2)", "split_part(d, ',', 5)", "split_part(d, ',', -1)",
    "split_part(d, ',', 0)", "split_part(d, '', 1)",
    "abs(m)", "pmod(m, 3)", "pmod(m, -3)", "floor(m)", "ceil(m)", "ceiling(n)", "round(m)",
    "round(m / 3, 2)", "greatest(n, m, 1)", "least(n, m)", "greatest(s, n)", "least(m, 'abc')",
    "nullif(n, m)", "nullif(n, 12)", "if(b, 'y', 'n')", "if(n > m, n, m)",
    "replace(s, 'l', 'L')", "replace(s, 'l')", "replace(s, '', 'x')",
    "year(t)", "month(t)", "day(t)", "dayofmonth(t)", "hour(t)", "minute(t)", "second(t)",
    "dayofweek(t)", "to_date(t)", "to_date(u)", "date_trunc('day', t)", "date_trunc('hour', u)",
    "date_trunc('week', t)", "date_trunc('month', t)", "datediff(t, u)", "datediff(t, '2024-01-01')",
    "n + m", "n - m", "n * m", "n / m", "n % m", "n / 0", "n % 0", "pmod(n, 0)", "m * 1e308 * 10",
    "CAST(n AS INT)", "CAST(n AS DOUBLE)", "CAST(b AS STRING)", "CAST(m AS STRING)",
    "CASE WHEN n > 10 THEN 'big' WHEN n IS NULL THEN 'none' ELSE 'small' END",
    "CASE WHEN b THEN m ELSE 0 END", "CASE m WHEN 5 THEN 'five' ELSE 'other' END",
    "md5(concat(s, n))", "upper(n + m)", "2.5", "'lit'",
  )

  private val parityPredicates: Seq[String] = Seq(
    "startswith(s, 'ab')", "endswith(s, 'ld')", "contains(s, 'b')",
    "n > 10", "n < m", "n <= 12", "n >= 1000", "n = 12", "s = 'abc'", "s > 5", "n = s",
    "n <=> m", "s <=> NULL", "n != m", "n IN (12, 1000)", "n NOT IN (12)", "s IN ('abc', 'x')",
    "m IN (5, NULL)", "b AND n > 10", "b OR n > 10", "NOT b", "b", "b = true",
    "s LIKE 'a%'", "s LIKE '%l_o%'", "s NOT LIKE 'H%'", "s LIKE '_ctl'",
    "s IS NULL", "n IS NOT NULL", "coalesce(n > 10, false)", "if(b, n > 10, false)",
    "CASE WHEN b THEN true ELSE NULL END", "length(s) > 3", "year(t) = 2024",
  )

  /** Each expression's value per row (null = SQL NULL) in a row view's
    * SELECT, as the planner's own interpreter computed it.
    */
  private val parityPinned: Map[String, Seq[String]] = Map(
    "upper(s)" -> Seq("HELLO WORLD", null, "ABC", "\u0009PAD\u0009", "HELLO-WORLD FOO", "\u0001CTL", "\ud834\udd1eAB"),
    "lower(s)" -> Seq("hello world", null, "abc", "\u0009pad\u0009", "hello-world foo", "\u0001ctl", "\ud834\udd1eab"),
    "trim(s)" -> Seq("Hello World", null, "abc", "pad", "hello-world foo", "ctl", "\ud834\udd1eab"),
    "ltrim(s)" -> Seq("Hello World", null, "abc", "\u0009pad\u0009", "hello-world foo", "\u0001ctl", "\ud834\udd1eab"),
    "rtrim(s)" -> Seq("Hello World", null, "abc", "\u0009pad\u0009", "hello-world foo", "\u0001ctl", "\ud834\udd1eab"),
    "reverse(s)" -> Seq("dlroW olleH", null, "cba", "\u0009dap\u0009", "oof dlrow-olleh", "ltc\u0001", "ba\ud834\udd1e"),
    "initcap(s)" -> Seq("Hello World", null, "Abc", "\u0009pad\u0009", "Hello-world Foo", "\u0001ctl", "\ud834\udd1eab"),
    "md5(s)" -> Seq("b10a8db164e0754105b7a99be72e3fe5", null, "900150983cd24fb0d6963f7d28e17f72", "0be236f38fdf2734560d2d2c0c2789e8", "9d9c4834eb823af24274a4132f3bca06", "483b7bbb719c347f2fd722a0627308c2", "0e94e05d2405b43df870ac7614965632"),
    "length(s)" -> Seq("11.0", null, "3.0", "5.0", "15.0", "4.0", "4.0"),
    "concat(s, '|', n)" -> Seq("Hello World|12", null, "abc|NaN", "\u0009pad\u0009|Infinity", "hello-world foo|1e3", "\u0001ctl| 12 ", "\ud834\udd1eab|abc"),
    "coalesce(s, n, 'none')" -> Seq("Hello World", "none", "abc", "\u0009pad\u0009", "hello-world foo", "\u0001ctl", "\ud834\udd1eab"),
    "coalesce(n, m)" -> Seq("12", null, "NaN", "Infinity", "1e3", " 12 ", "abc"),
    "substring(s, 2, 3)" -> Seq("ell", null, "bc", "pad", "ell", "ctl", "?ab"),
    "substr(s, -3)" -> Seq("rld", null, "abc", "ad\u0009", "foo", "ctl", "?ab"),
    "substring(s, -20, 22)" -> Seq("Hello World", null, "abc", "\u0009pad\u0009", "hello-world foo", "\u0001ctl", "\ud834\udd1eab"),
    "substr(s, 0, 2)" -> Seq("He", null, "ab", "\u0009p", "he", "\u0001c", "\ud834\udd1e"),
    "substring(s, 3, -1)" -> Seq("", null, "", "", "", "", ""),
    "repeat(s, 2)" -> Seq("Hello WorldHello World", null, "abcabc", "\u0009pad\u0009\u0009pad\u0009", "hello-world foohello-world foo", "\u0001ctl\u0001ctl", "\ud834\udd1eab\ud834\udd1eab"),
    "left(s, 3)" -> Seq("Hel", null, "abc", "\u0009pa", "hel", "\u0001ct", "\ud834\udd1ea"),
    "right(s, 2)" -> Seq("ld", null, "bc", "d\u0009", "oo", "tl", "ab"),
    "left(s, -1)" -> Seq("", null, "", "", "", "", ""),
    "lpad(s, 14, '*-')" -> Seq("*-*Hello World", null, "*-*-*-*-*-*abc", "*-*-*-*-*\u0009pad\u0009", "hello-world fo", "*-*-*-*-*-\u0001ctl", "*-*-*-*-*-\ud834\udd1eab"),
    "rpad(s, 14, '*')" -> Seq("Hello World***", null, "abc***********", "\u0009pad\u0009*********", "hello-world fo", "\u0001ctl**********", "\ud834\udd1eab**********"),
    "lpad(s, 20, '')" -> Seq("Hello World", null, "abc", "\u0009pad\u0009", "hello-world foo", "\u0001ctl", "\ud834\udd1eab"),
    "rpad(s, 3)" -> Seq("Hel", null, "abc", "\u0009pa", "hel", "\u0001ct", "\ud834\udd1ea"),
    "instr(s, 'l')" -> Seq("3", null, "0", "0", "3", "4", "0"),
    "position('l', s)" -> Seq("3", null, "0", "0", "3", "4", "0"),
    "split_part(d, ',', 2)" -> Seq("b", null, "", "", "", null, null),
    "split_part(d, ',', 5)" -> Seq("", null, "", "", "", null, null),
    "split_part(d, ',', -1)" -> Seq("c", null, "x", "", "only", null, null),
    "split_part(d, ',', 0)" -> Seq("", null, "", "", "", null, null),
    "split_part(d, '', 1)" -> Seq("a,b,c", null, "x", ",,", "only", null, null),
    "abs(m)" -> Seq("5.0", null, "0.0", "3.0", "7.0", "2.5", "10.0"),
    "pmod(m, 3)" -> Seq("2.0", null, "0.0", "-0.0", "2.0", "2.5", "1.0"),
    "pmod(m, -3)" -> Seq("-1.0", null, "0.0", "-0.0", "-1.0", "-0.5", "-2.0"),
    "floor(m)" -> Seq("5", null, "0", "-3", "-7", "2", "10"),
    "ceil(m)" -> Seq("5", null, "0", "-3", "-7", "3", "10"),
    "ceiling(n)" -> Seq("12", null, null, null, "1000", "12", null),
    "round(m)" -> Seq("5.0", null, "0.0", "-3.0", "-7.0", "3.0", "10.0"),
    "round(m / 3, 2)" -> Seq("1.67", null, "0.0", "-1.0", "-2.33", "0.83", "3.33"),
    "greatest(n, m, 1)" -> Seq("12", "1.0", "NaN", "Infinity", "1e3", " 12 ", "abc"),
    "least(n, m)" -> Seq("5", null, "0", "-3", "-7", "2.5", "10"),
    "greatest(s, n)" -> Seq("Hello World", null, "abc", "Infinity", "hello-world foo", " 12 ", "\ud834\udd1eab"),
    "least(m, 'abc')" -> Seq("5", "abc", "0", "-3", "-7", "2.5", "10"),
    "nullif(n, m)" -> Seq("12", null, "NaN", "Infinity", "1e3", " 12 ", "abc"),
    "nullif(n, 12)" -> Seq(null, null, "NaN", "Infinity", "1e3", null, "abc"),
    "if(b, 'y', 'n')" -> Seq("y", "n", "y", "n", "n", "n", "n"),
    "if(n > m, n, m)" -> Seq("12", null, "NaN", "Infinity", "1e3", " 12 ", "abc"),
    "replace(s, 'l', 'L')" -> Seq("HeLLo WorLd", null, "abc", "\u0009pad\u0009", "heLLo-worLd foo", "\u0001ctL", "\ud834\udd1eab"),
    "replace(s, 'l')" -> Seq("Heo Word", null, "abc", "\u0009pad\u0009", "heo-word foo", "\u0001ct", "\ud834\udd1eab"),
    "replace(s, '', 'x')" -> Seq("xHxexlxlxox xWxoxrxlxdx", null, "xaxbxcx", "x\u0009xpxaxdx\u0009x", "xhxexlxlxox-xwxoxrxlxdx xfxoxox", "x\u0001xcxtxlx", "x?x?xaxbx"),
    "year(t)" -> Seq("2024", null, "2024", "2023", null, "2024", null),
    "month(t)" -> Seq("3", null, "3", "12", null, "2", null),
    "day(t)" -> Seq("15", null, "15", "31", null, "29", null),
    "dayofmonth(t)" -> Seq("15", null, "15", "31", null, "29", null),
    "hour(t)" -> Seq("10", null, "10", "0", null, "23", null),
    "minute(t)" -> Seq("30", null, "53", "0", null, "0", null),
    "second(t)" -> Seq("0", null, "20", "0", null, "0", null),
    "dayofweek(t)" -> Seq("6", null, "6", "1", null, "5", null),
    "to_date(t)" -> Seq("2024-03-15", null, "2024-03-15", "2023-12-31", null, "2024-02-29", null),
    "to_date(u)" -> Seq("2024-01-01", null, "2024-03-15", "2023-11-14", null, null, null),
    "date_trunc('day', t)" -> Seq("2024-03-15 00:00:00", null, "2024-03-15 00:00:00", "2023-12-31 00:00:00", null, "2024-02-29 00:00:00", null),
    "date_trunc('hour', u)" -> Seq("2024-01-01 00:00:00", null, "2024-03-15 23:00:00", "2023-11-14 22:00:00", null, null, null),
    "date_trunc('week', t)" -> Seq("2024-03-11 00:00:00", null, "2024-03-11 00:00:00", "2023-12-25 00:00:00", null, "2024-02-26 00:00:00", null),
    "date_trunc('month', t)" -> Seq("2024-03-01 00:00:00", null, "2024-03-01 00:00:00", "2023-12-01 00:00:00", null, "2024-02-01 00:00:00", null),
    "datediff(t, u)" -> Seq("74", null, "0", "47", null, null, null),
    "datediff(t, '2024-01-01')" -> Seq("74", null, "74", "-1", null, "59", null),
    "n + m" -> Seq("17.0", null, null, null, "993.0", "14.5", null),
    "n - m" -> Seq("7.0", null, null, null, "1007.0", "9.5", null),
    "n * m" -> Seq("60.0", null, null, null, "-7000.0", "30.0", null),
    "n / m" -> Seq("2.4", null, null, null, "-142.85714285714286", "4.8", null),
    "n % m" -> Seq("2.0", null, null, null, "6.0", "2.0", null),
    "n / 0" -> Seq(null, null, null, null, null, null, null),
    "n % 0" -> Seq(null, null, null, null, null, null, null),
    "pmod(n, 0)" -> Seq(null, null, null, null, null, null, null),
    "m * 1e308 * 10" -> Seq(null, null, "0.0", null, null, null, null),
    "CAST(n AS INT)" -> Seq("12.0", null, null, null, "1000.0", "12.0", null),
    "CAST(n AS DOUBLE)" -> Seq("12.0", null, null, null, "1000.0", "12.0", null),
    "CAST(b AS STRING)" -> Seq("true", null, "TRUE", "yes", "false", "0", null),
    "CAST(m AS STRING)" -> Seq("5", null, "0", "-3", "-7", "2.5", "10"),
    "CASE WHEN n > 10 THEN 'big' WHEN n IS NULL THEN 'none' ELSE 'small' END" -> Seq("big", "none", "big", "big", "big", "big", "big"),
    "CASE WHEN b THEN m ELSE 0 END" -> Seq("5", "0.0", "0", "0.0", "0.0", "0.0", "0.0"),
    "CASE m WHEN 5 THEN 'five' ELSE 'other' END" -> Seq("five", "other", "other", "other", "other", "other", "other"),
    "md5(concat(s, n))" -> Seq("8d3f54d8b27841be967054bc8a5337a7", null, "cdbef312322bdf871904c2530d9e1cee", "d0c4e592395e6bc63acd1a577982c4bd", "967c9eb2aff7d8f91c2259d60aabaa18", "361d75bc7ff947e265c21d703392e25a", "d4f37cb2d87448744f91d153d29cfb6a"),
    "upper(n + m)" -> Seq("17.0", null, null, null, "993.0", "14.5", null),
    "2.5" -> Seq("2.5", "2.5", "2.5", "2.5", "2.5", "2.5", "2.5"),
    "'lit'" -> Seq("lit", "lit", "lit", "lit", "lit", "lit", "lit"),
    "startswith(s, 'ab')" -> Seq("false", null, "true", "false", "false", "false", "false"),
    "endswith(s, 'ld')" -> Seq("true", null, "false", "false", "false", "false", "false"),
    "contains(s, 'b')" -> Seq("false", null, "true", "false", "false", "false", "true"),
    "n > 10" -> Seq("true", null, "true", "true", "true", "true", "true"),
    "n < m" -> Seq("false", null, "false", "false", "false", "false", "false"),
    "n <= 12" -> Seq("true", null, "false", "false", "false", "true", "false"),
    "n >= 1000" -> Seq("false", null, "true", "true", "true", "false", "true"),
    "n = 12" -> Seq("true", null, "false", "false", "false", "true", "false"),
    "s = 'abc'" -> Seq("false", null, "true", "false", "false", "false", "false"),
    "s > 5" -> Seq("true", null, "true", "false", "true", "false", "true"),
    "n = s" -> Seq("false", null, "false", "false", "false", "false", "false"),
    "n <=> m" -> Seq("false", "true", "false", "false", "false", "false", "false"),
    "s <=> NULL" -> Seq("false", "true", "false", "false", "false", "false", "false"),
    "n != m" -> Seq("true", null, "true", "true", "true", "true", "true"),
    "n IN (12, 1000)" -> Seq("true", null, "false", "false", "true", "true", "false"),
    "n NOT IN (12)" -> Seq("false", null, "true", "true", "true", "false", "true"),
    "s IN ('abc', 'x')" -> Seq("false", null, "true", "false", "false", "false", "false"),
    "m IN (5, NULL)" -> Seq("true", null, null, null, null, null, null),
    "b AND n > 10" -> Seq("true", null, "true", null, "false", null, null),
    "b OR n > 10" -> Seq("true", null, "true", "true", "true", "true", "true"),
    "NOT b" -> Seq("false", null, "false", null, "true", null, null),
    "b" -> Seq("true", null, "TRUE", "yes", "false", "0", null),
    "b = true" -> Seq("true", null, "false", "false", "false", "false", null),
    "s LIKE 'a%'" -> Seq("false", null, "true", "false", "false", "false", "false"),
    "s LIKE '%l_o%'" -> Seq("true", null, "false", "false", "true", "false", "false"),
    "s NOT LIKE 'H%'" -> Seq("false", null, "true", "true", "true", "true", "true"),
    "s LIKE '_ctl'" -> Seq("false", null, "false", "false", "false", "true", "false"),
    "s IS NULL" -> Seq("false", "true", "false", "false", "false", "false", "false"),
    "n IS NOT NULL" -> Seq("true", "false", "true", "true", "true", "true", "true"),
    "coalesce(n > 10, false)" -> Seq("true", "false", "true", "true", "true", "true", "true"),
    "if(b, n > 10, false)" -> Seq("true", "false", "true", "false", "false", "false", "false"),
    "CASE WHEN b THEN true ELSE NULL END" -> Seq("true", null, "true", null, null, null, null),
    "length(s) > 3" -> Seq("true", null, "false", "true", "true", "true", "true"),
    "year(t) = 2024" -> Seq("true", null, "true", "false", null, "true", null)
  )

  /** The rows a WHERE keeps for each predicate. A bare string field is
    * not a boolean, so `WHERE b` keeps no row.
    */
  private val parityWherePinned: Map[String, Seq[Int]] = Map(
    "startswith(s, 'ab')" -> Seq(3),
    "endswith(s, 'ld')" -> Seq(1),
    "contains(s, 'b')" -> Seq(3, 7),
    "n > 10" -> Seq(1, 3, 4, 5, 6, 7),
    "n < m" -> Seq(),
    "n <= 12" -> Seq(1, 6),
    "n >= 1000" -> Seq(3, 4, 5, 7),
    "n = 12" -> Seq(1, 6),
    "s = 'abc'" -> Seq(3),
    "s > 5" -> Seq(1, 3, 5, 7),
    "n = s" -> Seq(),
    "n <=> m" -> Seq(2),
    "s <=> NULL" -> Seq(2),
    "n != m" -> Seq(1, 3, 4, 5, 6, 7),
    "n IN (12, 1000)" -> Seq(1, 5, 6),
    "n NOT IN (12)" -> Seq(3, 4, 5, 7),
    "s IN ('abc', 'x')" -> Seq(3),
    "m IN (5, NULL)" -> Seq(1),
    "b AND n > 10" -> Seq(1, 3),
    "b OR n > 10" -> Seq(1, 3, 4, 5, 6, 7),
    "NOT b" -> Seq(5),
    "b" -> Seq(),
    "b = true" -> Seq(1),
    "s LIKE 'a%'" -> Seq(3),
    "s LIKE '%l_o%'" -> Seq(1, 5),
    "s NOT LIKE 'H%'" -> Seq(3, 4, 5, 6, 7),
    "s LIKE '_ctl'" -> Seq(6),
    "s IS NULL" -> Seq(2),
    "n IS NOT NULL" -> Seq(1, 3, 4, 5, 6, 7),
    "coalesce(n > 10, false)" -> Seq(1, 3, 4, 5, 6, 7),
    "if(b, n > 10, false)" -> Seq(1, 3),
    "CASE WHEN b THEN true ELSE NULL END" -> Seq(1, 3),
    "length(s) > 3" -> Seq(1, 4, 5, 6, 7),
    "year(t) = 2024" -> Seq(1, 3, 6)
  )

  /** Expressions whose result is now Spark's function body where the
    * earlier interpreter differed: live expression -> the batch SQL over
    * the same rows it must equal.
    */
  private val parityBatch: Map[String, String] = Map(
    // Spark's trim strips spaces only; String.trim stripped every char <= U+0020
    "trim(s)" -> "trim(s)",
    // an int, counted in code points: "11", not "11.0"; 𝄞 is one character
    "length(s)" -> "length(s)", "length(s) > 3" -> "length(s) > 3",
    // positions and widths count code points, not UTF-16 units
    "substring(s, 2, 3)" -> "substring(s, 2, 3)", "substr(s, -3)" -> "substr(s, -3)",
    "substr(s, 0, 2)" -> "substr(s, 0, 2)", "left(s, 3)" -> "left(s, 3)",
    "lpad(s, 14, '*-')" -> "lpad(s, 14, '*-')", "rpad(s, 14, '*')" -> "rpad(s, 14, '*')",
    "rpad(s, 3)" -> "rpad(s, 3)",
    // a negative divisor: Spark adds the divisor only to a negative
    // remainder, where the interpreter followed the divisor's sign
    "pmod(m, -3)" -> "pmod(CAST(m AS DOUBLE), -3D)",
    // an empty search string replaces nothing
    "replace(s, '', 'x')" -> "replace(s, '', 'x')",
  )

  private def parityFeed: Seq[Change] = parityRows.zipWithIndex.map { case (p, i) =>
    Change("insert", i + 1L, ts(i), p + ("id" -> (i + 1).toString), i + 1L)
  }

  /** Batch Spark SQL of `e` over the parity rows, rendered like the view. */
  private def parityBatchOf(e: String): Seq[String] = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val cols   = Seq("id", "s", "n", "m", "b", "t", "u", "d")
    val schema = StructType(cols.map(StructField(_, StringType)))
    val rows   = parityRows.zipWithIndex.map { case (p, i) =>
      Row.fromSeq(cols.map(c => if (c == "id") (i + 1).toString else p.getOrElse(c, null)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).createOrReplaceTempView("parity_batch")
    spark.sql(s"SELECT CAST(id AS INT) AS id, $e AS v FROM parity_batch ORDER BY id").collect().toSeq
      .map(r => if (r.isNullAt(1)) null else String.valueOf(r.get(1)))
  }

  test("#171cw expression parity: every function and operator in SELECT, WHERE and GROUP BY over edge payloads") {
    val exprs = parityValues ++ parityPredicates
    val ids   = 1 to parityRows.size
    // SELECT position: one row view carries every expression
    runView(exprs.zipWithIndex.map { case (e, i) => s"$e AS c$i" }
      .mkString("SELECT id, ", ", ", " FROM p"), "pv_parity_sel", Seq(Map("p" -> parityFeed)))
    val sel = rowState("pv_parity_sel", "id" +: exprs.indices.map(i => s"c$i"))
      .values.map(r => r.head.toString.toInt -> r.tail.map(v => if (v == null) null else v.toString)).toMap
    val got = exprs.zipWithIndex.map { case (e, i) => e -> ids.map(id => sel(id)(i)) }.toMap
    val expected = exprs.map(e => e -> parityBatch.get(e).map(parityBatchOf).getOrElse(parityPinned(e))).toMap
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    exprs.filter(e => got(e) != expected(e)).foreach(e => bad +=
      s"SELECT $e: got ${got(e)}, expected ${expected(e)}" +
        parityBatch.get(e).fold(" (pinned)")(b => s" (batch Spark SQL $b)"))
    // GROUP BY position: one aggregate view per expression, keyed by the
    // row id and the expression. A value holding U+0001 is cut there: the
    // group key is U+0001-joined text, so the separator collides
    exprs.zipWithIndex.foreach { case (e, i) =>
      runView(s"SELECT id, $e AS g, count(*) AS n FROM p GROUP BY id, $e", s"pv_parity_grp$i",
        Seq(Map("p" -> parityFeed)))
      val grp = aggState(s"pv_parity_grp$i", Seq("id", "g")).keys
        .map(g => g.head.toString.toInt -> (if (g(1) == null) null else g(1).toString)).toMap
      val want = expected(e).map(v => if (v == null) null else v.takeWhile(_ != '\u0001'))
      if (ids.map(grp) != want) bad += s"GROUP BY $e: got ${ids.map(grp)}, expected $want"
    }
    // WHERE position: a predicate keeps its pinned rows (or, for a listed
    // Spark-body difference, the rows batch SQL finds true); a value
    // expression is tested for NULL there
    exprs.zipWithIndex.foreach { case (e, i) =>
      val isPred = parityPredicates.contains(e)
      runView(s"SELECT id FROM p WHERE ${if (isPred) e else s"($e) IS NOT NULL"}", s"pv_parity_wh$i",
        Seq(Map("p" -> parityFeed)))
      val kept = rowState(s"pv_parity_wh$i", Seq("id")).values.map(_.head.toString.toInt).toSeq.sorted
      val want =
        if (!isPred) ids.filter(id => expected(e)(id - 1) != null)
        else if (parityBatch.contains(e)) ids.filter(id => expected(e)(id - 1) == "true")
        else parityWherePinned(e)
      if (kept != want) bad += s"WHERE $e: kept $kept, expected $want"
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("#171cx an unlisted function is refused at compile time in every expression position") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val feeds = Map("t" -> MemoryStream[Change].toDS(), "u" -> MemoryStream[Change].toDS())
    val positions = Seq(
      "WHERE"               -> "SELECT name FROM t WHERE %s < 2",
      "SELECT"              -> "SELECT %s AS d FROM t",
      "GROUP BY"            -> "SELECT %1$s AS d, count(*) AS n FROM t GROUP BY %1$s",
      "OVER PARTITION BY"   -> "SELECT name, row_number() OVER (PARTITION BY %s ORDER BY v) AS rn FROM t",
      "OVER ORDER BY"       -> "SELECT name, row_number() OVER (PARTITION BY city ORDER BY %s) AS rn FROM t",
      "join ON residual"    -> "SELECT t.name FROM t JOIN u ON t.city = u.city AND %s < 2",
      "SELECT subquery"     -> ("SELECT name, (SELECT count(*) FROM u WHERE u.city = t.city AND %s < 2) " +
        "AS c FROM t"))
    for ((fn, call) <- Seq("levenshtein" -> "levenshtein(name, 'x')", "rand" -> "rand()");
         (where, sql) <- positions) {
      val e = intercept[IllegalArgumentException] {
        IncrementalPlanner.materialize(spark, sql.format(call), feeds)
      }
      assert(e.getMessage.contains(s"function $fn("),
        s"$fn in $where must be refused at compile time, naming the function: ${e.getMessage}")
    }
    // a LIKE escape Spark rejects, and a date_trunc unit it does not
    // know, are refused at compile time too, never at run time
    for (bad <- Seq("name LIKE 'a\\\\qb'", "date_trunc('fortnight', name) IS NULL")) {
      val e = intercept[IllegalArgumentException] {
        IncrementalPlanner.materialize(spark, s"SELECT name FROM t WHERE $bad", feeds)
      }
      assert(e.getMessage.contains("IncrementalPlanner does not compile"), e.getMessage)
    }
  }
}
