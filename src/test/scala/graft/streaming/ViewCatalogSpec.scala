package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** SURVEY.md §2.3 #234 — the NAMED materialized-view catalog: create,
  * query-by-name, layer-by-name, drop, and whole-graph restart from
  * checkpoints (the #220 contract lifted to the managed graph). The
  * capstone (#234e) wires a live Debezium topic into a named view — the
  * #222h production shape behind the engine's front door.
  */
class ViewCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Int): Timestamp = new Timestamp(1700000000000L + minutes * 60000L)

  private def tmp(prefix: String): String = {
    val root = new java.io.File("target/streaming-tmp").toPath.toAbsolutePath
    Files.createDirectories(root)
    Files.createTempDirectory(root, prefix).toString
  }

  private def writeChanges(dir: String, name: String, cs: Seq[Change]): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = cs.map { c =>
      val iso = java.time.Instant.ofEpochSecond(0, CdcMaterializer.micros(c.ts) * 1000L).toString
      val payload = c.payload.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
      s"""{"op":"${c.op}","key":${c.key},"ts":"$iso","payload":{$payload},"seq":${c.seq}}"""
    }
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8")): Unit
  }

  private def snapRows(cat: ViewCatalog, view: String, cols: Seq[String]): Set[Seq[String]] =
    cat.snapshot(view).collect().toSet.map((r: org.apache.spark.sql.Row) =>
      cols.map(c => r.getAs[String](c)))

  test("#234a create + query by name: snapshot tracks inserts, group moves, deletes") {
    val (root, src) = (tmp("vcroot"), tmp("vcsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    val v = cat.createView("city_totals",
      "SELECT city, count(*) AS n, sum(amount) AS total FROM t GROUP BY city")
    assert(v.cols == Seq("city", "n", "total"), s"view columns: ${v.cols}")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "5"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "7"), 3L)))
    cat.awaitAll()
    assert(snapRows(cat, "city_totals", v.cols) == Set(
      Seq("ber", "2", "15.0"), Seq("par", "1", "7.0")), "after b1")
    // a group MOVE (2: ber→par), a delete (3), and a brand-new group
    writeChanges(src, "b2.json", Seq(
      Change("update", 2L, ts(10), Map("city" -> "par", "amount" -> "5"), 4L),
      Change("delete", 3L, ts(11), Map.empty, 5L),
      Change("insert", 4L, ts(12), Map("city" -> "rom", "amount" -> "3"), 6L)))
    cat.awaitAll()
    assert(snapRows(cat, "city_totals", v.cols) == Set(
      Seq("ber", "1", "10.0"), Seq("par", "1", "5.0"), Seq("rom", "1", "3.0")),
      "after the move/delete batch")
    cat.stopAll()
  }

  test("#234b two-layer named chain: aggregate over a named row view; retraction crosses both layers") {
    val (root, src) = (tmp("vclayer"), tmp("vclsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.createView("big_sales", "SELECT city, amount FROM t WHERE amount > 10")
    val v2 = cat.createView("big_by_city",
      "SELECT city, count(*) AS n FROM big_sales GROUP BY city")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "5"), 2L), // filtered out
      Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "20"), 3L)))
    cat.awaitAll()
    assert(snapRows(cat, "big_by_city", v2.cols) == Set(Seq("ber", "1"), Seq("par", "1")),
      "layered agg after b1")
    // key 1 leaves the WHERE predicate (50→8): the row view retracts,
    // the downstream agg's ber group tombstones — both layers by name
    writeChanges(src, "b2.json", Seq(
      Change("update", 1L, ts(10), Map("city" -> "ber", "amount" -> "8"), 4L)))
    cat.awaitAll()
    assert(snapRows(cat, "big_by_city", v2.cols) == Set(Seq("par", "1")),
      "retraction must cross the named layer")
    cat.stopAll()
  }

  test("#234ah view over an aggregate view: an older-positioned change in a later batch folds as in one batch") {
    val (root, src) = (tmp("vcpos"), tmp("vcpsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    val aggSql  = "SELECT g, count(*) AS n, sum(v) AS s FROM t GROUP BY g"
    val overSql = "SELECT n, count(*) AS k, sum(s) AS total FROM agg GROUP BY n"
    val agg  = cat.createView("agg", aggSql)
    val over = cat.createView("over", overSql)
    // group a gains key 2 at ts+5 min after key 1 at ts+10 min; group b
    // empties at ts+20 min and is repopulated at ts+8 min — each in a
    // later batch, so each re-emission must stamp at its group's
    // high-water, not at its batch's own older position
    val batches = Seq(
      Seq(Change("insert", 1L, ts(10), Map("g" -> "a", "v" -> "20"), 1L),
        Change("insert", 3L, ts(1), Map("g" -> "b", "v" -> "30"), 3L)),
      Seq(Change("delete", 3L, ts(20), Map.empty, 4L)),
      Seq(Change("insert", 2L, ts(5), Map("g" -> "a", "v" -> "10"), 2L),
        Change("insert", 4L, ts(8), Map("g" -> "b", "v" -> "40"), 5L)))
    batches.zipWithIndex.foreach { case (b, i) =>
      writeChanges(src, s"b$i.json", b)
      cat.awaitAll()
    }
    // batch SQL over the LWW-final feed
    val last = batches.flatten.groupBy(_.key).values
      .map(_.maxBy(c => (CdcMaterializer.micros(c.ts), c.seq))).filter(_.op != "delete")
    last.map(c => (c.payload("g"), c.payload("v").toDouble)).toSeq.toDF("g", "v").createOrReplaceTempView("t")
    spark.sql(aggSql).createOrReplaceTempView("agg")
    def batchRows(sql: String) = spark.sql(sql).collect().toSet.map((r: org.apache.spark.sql.Row) =>
      r.toSeq.map(String.valueOf))
    assert(batchRows(aggSql) == Set(Seq("a", "2", "30.0"), Seq("b", "1", "40.0")))
    assert(snapRows(cat, "agg", agg.cols) == batchRows(aggSql), "aggregate view")
    assert(snapRows(cat, "over", over.cols) == batchRows(overSql), "view over the aggregate view")
    cat.stopAll()
  }

  test("#234c DDL discipline: duplicates, unknown refs, dependent drops, full teardown") {
    val (root, src) = (tmp("vcddl"), tmp("vcdsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.createView("v1", "SELECT city, amount FROM t WHERE amount > 0")
    // duplicate name rejects (against views AND sources)
    val eDup = intercept[IllegalArgumentException] {
      cat.createView("v1", "SELECT city, amount FROM t WHERE amount > 1")
    }
    assert(eDup.getMessage.contains("already exists"), eDup.getMessage)
    intercept[IllegalArgumentException] { cat.createView("t", "SELECT city, amount FROM t") }
    // unknown reference rejects, naming the table
    val eRef = intercept[IllegalArgumentException] {
      cat.createView("v2", "SELECT city, count(*) AS n FROM nope GROUP BY city")
    }
    assert(eRef.getMessage.contains("unknown table nope"), eRef.getMessage)
    // ranked views are creatable as NAMED feeds since r11 (#234l pins the
    // semantics); the DDL path accepts and tears one down like any view
    cat.createView("vr", "SELECT city, row_number() OVER (ORDER BY amount) AS rn FROM t")
    cat.dropView("vr")
    // an EXPIRING ranked view still rejects (whole-partition rank state)
    val eRank = intercept[Exception] {
      cat.createView("vr2", "SELECT city, row_number() OVER (ORDER BY amount) AS rn FROM t",
        ttl = Some(("10 minutes", 60000L)))
    }
    assert(eRank.getMessage.contains("expiring NAMED ranked view"), eRank.getMessage)
    // dependent blocks the drop; dropping in order frees the name + disk
    cat.createView("v2", "SELECT city, count(*) AS n FROM v1 GROUP BY city")
    val eDep = intercept[IllegalArgumentException] { cat.dropView("v1") }
    assert(eDep.getMessage.contains("dependents"), eDep.getMessage)
    cat.dropView("v2")
    cat.dropView("v1")
    assert(cat.viewNames.isEmpty, s"views remain: ${cat.viewNames}")
    assert(!Files.exists(Paths.get(root, "views", "v1")), "v1's dirs must be deleted")
    assert(!Files.exists(Paths.get(root, "meta", "v1.properties")), "v1's meta must be deleted")
    // the freed name is re-creatable
    cat.createView("v1", "SELECT city, amount FROM t WHERE amount > 100")
    cat.dropView("v1")
  }

  test("#234d whole-graph restart from checkpoints: resume() continues the tail without recount (#220 lifted)") {
    val (root, src) = (tmp("vcrestart"), tmp("vcrsrc"))
    // session 1: two-layer graph, first batch
    val cat1 = new ViewCatalog(spark, root)
    cat1.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat1.createView("rows_v", "SELECT city, amount FROM t WHERE amount > 10")
    cat1.createView("agg_v", "SELECT city, count(*) AS n, sum(amount) AS total FROM rows_v GROUP BY city")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "par", "amount" -> "20"), 2L)))
    cat1.awaitAll()
    cat1.stopAll()
    // session 2: a FRESH catalog over the same root resumes the graph
    val cat2 = new ViewCatalog(spark, root)
    cat2.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    val resumed = cat2.resume()
    assert(resumed == Seq("rows_v", "agg_v"), s"resume order: $resumed")
    // the tail lands post-restart: an update moving a key's amount, a
    // delete retracting a PRE-RESTART contribution, and a new key
    writeChanges(src, "b2.json", Seq(
      Change("update", 1L, ts(10), Map("city" -> "ber", "amount" -> "30"), 3L),
      Change("delete", 2L, ts(11), Map.empty, 4L),
      Change("insert", 3L, ts(12), Map("city" -> "par", "amount" -> "40"), 5L)))
    cat2.awaitAll()
    val cols = cat2.view("agg_v").get.cols
    // checkpointed state, not a recount: ber keeps ONE row (LWW update,
    // no double-count), par's pre-restart row retracts
    assert(snapRows(cat2, "agg_v", cols) == Set(
      Seq("ber", "1", "30.0"), Seq("par", "1", "40.0")),
      s"restarted graph state: ${snapRows(cat2, "agg_v", cols)}")
    cat2.stopAll()
  }

  test("#234e CAPSTONE: a live Debezium topic behind a named view (the #222h shape, by name)") {
    implicit val sqlCtx = spark.sqlContext
    def pgEnvelope(op: String, before: String, after: String, tsMs: Long, lsn: Long): String =
      s"""{"payload":{"before":$before,"after":$after,""" +
        s""""source":{"connector":"postgresql","ts_ms":$tsMs,"lsn":$lsn},"op":"$op","ts_ms":${tsMs + 250}}}"""
    val topic = MemoryStream[(String, String)]
    val cat = new ViewCatalog(spark, tmp("vcdbz"))
    cat.registerSource("customers",
      () => ChangeFeed.fromDebezium(topic.toDF().toDF("key", "value"), "id").as[Change])
    val v = cat.createView("customers_by_city",
      "SELECT city, count(*) AS n FROM customers GROUP BY city")
    topic.addData(
      ("k", pgEnvelope("c", "null", """{"id":1,"name":"ann","city":"ber"}""", 1700000000000L, 100L)),
      ("k", pgEnvelope("c", "null", """{"id":2,"name":"bob","city":"ber"}""", 1700000010000L, 101L)),
      ("k", pgEnvelope("c", "null", """{"id":3,"name":"cat","city":"par"}""", 1700000020000L, 102L)))
    cat.awaitAll()
    assert(snapRows(cat, "customers_by_city", v.cols) == Set(Seq("ber", "2"), Seq("par", "1")),
      "debezium-backed named view after creates")
    // an update moves customer 2 ber→par; a delete removes 3
    topic.addData(
      ("k", pgEnvelope("u", """{"id":2,"name":"bob","city":"ber"}""",
        """{"id":2,"name":"bob","city":"par"}""", 1700000030000L, 103L)),
      ("k", pgEnvelope("d", """{"id":3,"name":"cat","city":"par"}""", "null", 1700000040000L, 104L)))
    cat.awaitAll()
    assert(snapRows(cat, "customers_by_city", v.cols) == Set(Seq("ber", "1"), Seq("par", "1")),
      "debezium-backed named view after update+delete")
    cat.stopAll()
  }

  test("#234f EXPIRING named view: dead stage-1 state leaves the store after watermark+ttl; TTL survives resume()") {
    val (root, src) = (tmp("vcttl"), tmp("vctsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    val v = cat.createView("live_counts",
      "SELECT city, count(*) AS n FROM t GROUP BY city", ttl = Some(("1 second", 1000L)))
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber"), 1L),
      Change("insert", 2L, ts(0), Map("city" -> "par"), 2L)))
    cat.awaitAll()
    // key 2 dies; then two far-future batches advance the watermark past
    // death + ttl so its tombstone expires inside the running query
    writeChanges(src, "b2.json", Seq(Change("delete", 2L, ts(1), Map.empty, 3L)))
    cat.awaitAll()
    writeChanges(src, "b3.json", Seq(Change("insert", 3L, ts(60), Map("city" -> "ber"), 4L)))
    cat.awaitAll()
    writeChanges(src, "b4.json", Seq(Change("insert", 4L, ts(120), Map("city" -> "ber"), 5L)))
    cat.awaitAll()
    assert(snapRows(cat, "live_counts", v.cols) == Set(Seq("ber", "3")),
      "par's delete must retract before its tombstone expires")
    cat.stopAll()
    // stage-1 state (operator reading the raw feed) holds ONLY the live
    // keys: the dead key's tombstone expired — proof the TTL reached the
    // dataflow through the catalog
    val ck = java.nio.file.Paths.get(root, "views", "live_counts", "checkpoint").toString
    val opIds = StateInspect.operators(spark, ck).collect().map(_.getAs[Long]("operatorId")).sorted
    val stateKeys = opIds.map(id => StateInspect.store(spark, ck, id).count())
    assert(stateKeys.min <= 3, s"expired tombstone must leave some store: per-op rows ${stateKeys.toSeq}")
    // the TTL is persisted: a fresh catalog resumes the view EXPIRING
    val cat2 = new ViewCatalog(spark, root)
    cat2.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    assert(cat2.resume() == Seq("live_counts"))
    writeChanges(src, "b5.json", Seq(Change("insert", 5L, ts(121), Map("city" -> "par"), 6L)))
    cat2.awaitAll()
    assert(snapRows(cat2, "live_counts", v.cols) == Set(Seq("ber", "3"), Seq("par", "1")),
      "resumed expiring view continues the tail")
    cat2.stopAll()
  }

  test("#234g compactView: sink folds to one base partition, snapshot and a resumed dependent unaffected") {
    val (root, src) = (tmp("vccpt"), tmp("vccsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    val v = cat.createView("totals", "SELECT city, sum(amount) AS total FROM t GROUP BY city")
    (1 to 4).foreach { i =>
      writeChanges(src, s"b$i.json", Seq(
        Change("insert", i.toLong, ts(i), Map("city" -> "ber", "amount" -> i.toString), i.toLong)))
      cat.awaitAll()
    }
    val before = snapRows(cat, "totals", v.cols)
    assert(before == Set(Seq("ber", "10.0")), s"pre-compact: $before")
    val feedRoot = new java.io.File(root, "views/totals/feed")
    val partsBefore = feedRoot.listFiles().count(_.getName.startsWith("batch_id="))
    cat.compactView("totals")
    val partsAfter = feedRoot.listFiles().count(_.getName.startsWith("batch_id="))
    assert(partsAfter == 1 && partsBefore > 1,
      s"compaction must fold $partsBefore partitions to 1, got $partsAfter")
    assert(snapRows(cat, "totals", v.cols) == before, "snapshot survives compaction")
    // the live view keeps maintaining over the compacted sink
    writeChanges(src, "b9.json", Seq(
      Change("insert", 9L, ts(9), Map("city" -> "par", "amount" -> "7"), 9L)))
    cat.awaitAll()
    assert(snapRows(cat, "totals", v.cols) == Set(Seq("ber", "10.0"), Seq("par", "7.0")))
    cat.stopAll()
  }

  test("#234h registerSnapshots: ad-hoc spark.sql over named views, joins included") {
    val (root, src) = (tmp("vcsql"), tmp("vcqsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.createView("sq_rows", "SELECT city, amount FROM t WHERE amount > 10")
    cat.createView("sq_agg", "SELECT city, count(*) AS n FROM sq_rows GROUP BY city")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "20"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "30"), 3L)))
    cat.awaitAll()
    cat.registerSnapshots()
    val got = spark.sql(
      "SELECT r.city, count(*) AS rows_over, max(a.n) AS n FROM sq_rows r " +
        "JOIN sq_agg a ON r.city = a.city GROUP BY r.city ORDER BY r.city")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(("ber", 2L, "2"), ("par", 1L, "1")), s"sql over snapshots: $got")
    cat.stopAll()
  }

  test("#234j named JOIN view: the join materializes once; dependents layer over it by name") {
    val (root, fsrc, dsrc) = (tmp("vcjroot"), tmp("vcjf"), tmp("vcjd"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("facts", () => ChangeFeed.readJsonDir(spark, fsrc).as[Change])
    cat.registerSource("dims",  () => ChangeFeed.readJsonDir(spark, dsrc).as[Change])
    val j = cat.createView("enriched",
      "SELECT f.item, f.amount, d.tier FROM facts f JOIN dims d ON f.cust = d.key")
    val a = cat.createView("tier_totals",
      "SELECT tier, count(*) AS n, sum(amount) AS total FROM enriched GROUP BY tier")
    writeChanges(dsrc, "d1.json", Seq(
      Change("insert", 1L, ts(0), Map("tier" -> "gold"), 1L),
      Change("insert", 2L, ts(0), Map("tier" -> "silver"), 2L)))
    writeChanges(fsrc, "f1.json", Seq(
      Change("insert", 10L, ts(1), Map("item" -> "a", "amount" -> "5",  "cust" -> "1"), 3L),
      Change("insert", 11L, ts(2), Map("item" -> "b", "amount" -> "7",  "cust" -> "1"), 4L),
      Change("insert", 12L, ts(3), Map("item" -> "c", "amount" -> "11", "cust" -> "2"), 5L)))
    cat.awaitAll()
    assert(snapRows(cat, "enriched", j.cols) == Set(
      Seq("a", "5", "gold"), Seq("b", "7", "gold"), Seq("c", "11", "silver")),
      s"join view after inserts: ${snapRows(cat, "enriched", j.cols)}")
    assert(snapRows(cat, "tier_totals", a.cols) == Set(
      Seq("gold", "2", "12.0"), Seq("silver", "1", "11.0")),
      s"layered agg after inserts: ${snapRows(cat, "tier_totals", a.cols)}")
    // a dim update rewrites EVERY joined pair; a fact delete retracts one
    // pair — and both ripple through the DEPENDENT view via its sink tail
    writeChanges(dsrc, "d2.json", Seq(
      Change("update", 1L, ts(10), Map("tier" -> "plat"), 6L)))
    writeChanges(fsrc, "f2.json", Seq(
      Change("delete", 12L, ts(11), Map.empty, 7L)))
    cat.awaitAll()
    assert(snapRows(cat, "enriched", j.cols) == Set(
      Seq("a", "5", "plat"), Seq("b", "7", "plat")),
      s"join view after churn: ${snapRows(cat, "enriched", j.cols)}")
    assert(snapRows(cat, "tier_totals", a.cols) == Set(Seq("plat", "2", "12.0")),
      s"layered agg after churn: ${snapRows(cat, "tier_totals", a.cols)}")
    cat.stopAll()
  }

  test("#234k named WINDOWED view: hourly rollup by name; a late move leaves its old hour") {
    val (root, src) = (tmp("vcwroot"), tmp("vcwsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    val v = cat.createView("hourly",
      "SELECT window(ts_us, '1 hour') AS w, city, count(*) AS n " +
        "FROM t GROUP BY window(ts_us, '1 hour'), city")
    def wOf(minutes: Int): String = {
      val us = (1700000000000L + minutes * 60000L) * 1000L
      (Math.floorDiv(us, 3600000000L) * 3600000000L).toString
    }
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0),  Map("city" -> "ber"), 1L),
      Change("insert", 2L, ts(1),  Map("city" -> "ber"), 2L),
      Change("insert", 3L, ts(50), Map("city" -> "ber"), 3L)))
    cat.awaitAll()
    assert(snapRows(cat, "hourly", v.cols) == Set(
      Seq(wOf(0), "ber", "2"), Seq(wOf(50), "ber", "1")),
      s"hourly after b1: ${snapRows(cat, "hourly", v.cols)}")
    // the late MOVE: key 2 shifts two hours forward — it must leave its
    // old hour (retraction) and land in the new one
    writeChanges(src, "b2.json", Seq(
      Change("update", 2L, ts(120), Map("city" -> "ber"), 4L)))
    cat.awaitAll()
    assert(snapRows(cat, "hourly", v.cols) == Set(
      Seq(wOf(0), "ber", "1"), Seq(wOf(50), "ber", "1"), Seq(wOf(120), "ber", "1")),
      s"hourly after the move: ${snapRows(cat, "hourly", v.cols)}")
    cat.stopAll()
  }

  test("#234l named RANKED view: top-k per city by name; rank shifts, promotion past the cut, partition move") {
    val (root, src) = (tmp("vcrk"), tmp("vcrksrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    val v = cat.createView("top2",
      "SELECT city, name, rn FROM (SELECT city, name, " +
        "row_number() OVER (PARTITION BY city ORDER BY amount DESC) AS rn FROM t) x WHERE rn <= 2")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "name" -> "a", "amount" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "name" -> "b", "amount" -> "5"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "ber", "name" -> "c", "amount" -> "20"), 3L),
      Change("insert", 4L, ts(3), Map("city" -> "par", "name" -> "d", "amount" -> "7"), 4L)))
    cat.awaitAll()
    assert(snapRows(cat, "top2", v.cols) == Set(
      Seq("ber", "c", "1"), Seq("ber", "a", "2"), Seq("par", "d", "1")),
      s"top2 after b1: ${snapRows(cat, "top2", v.cols)}")
    // delete the ber leader (a promotes), and MOVE d from par to ber:
    // its old (par) identity must retract, its new one ranks below a
    writeChanges(src, "b2.json", Seq(
      Change("delete", 3L, ts(10), Map.empty, 5L),
      Change("update", 4L, ts(11), Map("city" -> "ber", "name" -> "d", "amount" -> "7"), 6L)))
    cat.awaitAll()
    assert(snapRows(cat, "top2", v.cols) == Set(
      Seq("ber", "a", "1"), Seq("ber", "d", "2")),
      s"top2 after churn: ${snapRows(cat, "top2", v.cols)}")
    cat.stopAll()
  }

  test("#234m named ASOF view: live enrichment by name; a late version re-enriches through the snapshot") {
    val (root, esrc, vsrc) = (tmp("vcas"), tmp("vcase"), tmp("vcasv"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("e", () => ChangeFeed.readJsonDir(spark, esrc).as[Change])
    cat.registerSource("v", () => ChangeFeed.readJsonDir(spark, vsrc).as[Change])
    val av = cat.createView("enriched_asof",
      "SELECT e.val AS val, v.price AS price FROM e ASOF JOIN v ON e.sym = v.sym AND e.ets >= v.vts")
    writeChanges(vsrc, "v1.json", Seq(
      Change("insert", 1L, ts(0), Map("sym" -> "A", "vts" -> "10", "price" -> "100"), 1L),
      Change("insert", 2L, ts(1), Map("sym" -> "A", "vts" -> "20", "price" -> "200"), 2L)))
    writeChanges(esrc, "e1.json", Seq(
      Change("insert", 1L, ts(2), Map("sym" -> "A", "ets" -> "15", "val" -> "x1"), 3L),
      Change("insert", 2L, ts(3), Map("sym" -> "A", "ets" -> "25", "val" -> "x2"), 4L)))
    cat.awaitAll()
    assert(snapRows(cat, "enriched_asof", av.cols) == Set(
      Seq("x1", "100"), Seq("x2", "200")),
      s"asof view: ${snapRows(cat, "enriched_asof", av.cols)}")
    // a LATE version lands between v1 and e1: x1 re-enriches, BY NAME
    writeChanges(vsrc, "v2.json", Seq(
      Change("insert", 3L, ts(10), Map("sym" -> "A", "vts" -> "12", "price" -> "120"), 5L)))
    cat.awaitAll()
    assert(snapRows(cat, "enriched_asof", av.cols) == Set(
      Seq("x1", "120"), Seq("x2", "200")),
      s"asof view after the late version: ${snapRows(cat, "enriched_asof", av.cols)}")
    cat.stopAll()
  }

  test("#234n named SESSION view: sessions by name; a bridging event merges two sessions and the old start tombstones") {
    val (root, src) = (tmp("vcsw"), tmp("vcswsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    val v = cat.createView("user_sessions",
      "SELECT session_window(ts_us, '10 minutes') AS s, user, count(*) AS n " +
        "FROM t GROUP BY session_window(ts_us, '10 minutes'), user")
    def us(m: Int): String = ((1700000000000L + m * 60000L) * 1000L).toString
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0),  Map("user" -> "u1"), 1L),
      Change("insert", 2L, ts(5),  Map("user" -> "u1"), 2L),
      Change("insert", 3L, ts(12), Map("user" -> "u1"), 3L),
      Change("insert", 4L, ts(30), Map("user" -> "u1"), 4L)))
    cat.awaitAll()
    assert(snapRows(cat, "user_sessions", v.cols) == Set(
      Seq(us(0), us(22), "u1", "3"), Seq(us(30), us(40), "u1", "1")),
      s"sessions after b1: ${snapRows(cat, "user_sessions", v.cols)}")
    // the BRIDGE: an event at 25 chains to 30's session (5 < gap) but not
    // to 12's (13 > gap) — session (u1, start=30) must tombstone, its
    // events re-homed under start=25
    writeChanges(src, "b2.json", Seq(
      Change("insert", 5L, ts(25), Map("user" -> "u1"), 5L)))
    cat.awaitAll()
    assert(snapRows(cat, "user_sessions", v.cols) == Set(
      Seq(us(0), us(22), "u1", "3"), Seq(us(25), us(40), "u1", "2")),
      s"sessions after the bridge: ${snapRows(cat, "user_sessions", v.cols)}")
    cat.stopAll()
  }

  test("#234o session -> holistic LAYERING by name: live median session length per user (the documented composition)") {
    val (root, src) = (tmp("vcsh"), tmp("vcshsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.createView("sess",
      "SELECT session_window(ts_us, '10 minutes') AS s, user, count(*) AS n " +
        "FROM t GROUP BY session_window(ts_us, '10 minutes'), user")
    // holistic aggregate OVER the named session view — the second layer
    // the session×percentile reject message points at
    val m = cat.createView("sess_median",
      "SELECT user, median(n) AS med, count(*) AS n_sessions FROM sess GROUP BY user")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0),  Map("user" -> "u1"), 1L),
      Change("insert", 2L, ts(5),  Map("user" -> "u1"), 2L),   // session A: 2 events
      Change("insert", 3L, ts(30), Map("user" -> "u1"), 3L),   // session B: 1 event
      Change("insert", 4L, ts(60), Map("user" -> "u1"), 4L),
      Change("insert", 5L, ts(61), Map("user" -> "u1"), 5L),
      Change("insert", 6L, ts(62), Map("user" -> "u1"), 6L)))  // session C: 3 events
    cat.awaitAll()
    assert(snapRows(cat, "sess_median", m.cols) == Set(Seq("u1", "2.0", "3")),
      s"median over sessions (1,2,3): ${snapRows(cat, "sess_median", m.cols)}")
    // a bridge merges B into A's horizon? no — it merges A and B only if
    // within gap; instead EXTEND session B with two more events: session
    // sizes become (2, 3, 3) -> median 3
    writeChanges(src, "b2.json", Seq(
      Change("insert", 7L, ts(35), Map("user" -> "u1"), 7L),
      Change("insert", 8L, ts(40), Map("user" -> "u1"), 8L)))
    cat.awaitAll()
    assert(snapRows(cat, "sess_median", m.cols) == Set(Seq("u1", "3.0", "3")),
      s"median after extending session B: ${snapRows(cat, "sess_median", m.cols)}")
    cat.stopAll()
  }

  test("#234p status(): SHOW MATERIALIZED VIEWS with durable sink progress; survives stop and resume") {
    val (root, src) = (tmp("vcst"), tmp("vcstsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.createView("sv_rows", "SELECT city, amount FROM t WHERE amount > 10")
    cat.createView("sv_agg", "SELECT city, count(*) AS n FROM sv_rows GROUP BY city")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "par", "amount" -> "20"), 2L)))
    cat.awaitAll()
    val st = cat.status().map(s => s.name -> s).toMap
    assert(st.keySet == Set("sv_rows", "sv_agg"))
    assert(st("sv_agg").deps == Seq("sv_rows"), "dependency names surface")
    assert(st.values.forall(_.live), "both queries live")
    assert(st.values.forall(_.batchesCommitted > 0), s"sink progress surfaces: $st")
    assert(st.values.forall(s => s.lastBatchId >= 0), "durable horizon")
    val df = cat.statusDF()
    assert(df.columns.contains("batchesCommitted") && df.count() == 2)
    // stopped views report live=false but keep their DURABLE sink truth
    cat.stopAll()
    val stopped = cat.status().map(s => s.name -> s).toMap
    assert(stopped.values.forall(!_.live))
    assert(stopped("sv_rows").batchesCommitted == st("sv_rows").batchesCommitted,
      "sink-derived fields survive the stop")
  }

  test("#234q cat.sql(): CREATE/DROP/SHOW MATERIALIZED VIEW + ad-hoc SELECT, one SQL entry point") {
    val (root, src) = (tmp("vcddl"), tmp("vcddlsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    val created = cat.sql("CREATE MATERIALIZED VIEW ddl_rows AS SELECT city, amount FROM t WHERE amount > 10")
    assert(created.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("ddl_rows", "city,amount")))
    cat.sql("CREATE MATERIALIZED VIEW ddl_agg AS SELECT city, count(*) AS n FROM ddl_rows GROUP BY city;")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "20"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "30"), 3L)))
    cat.awaitAll()
    val show = cat.sql("SHOW MATERIALIZED VIEWS").collect()
    assert(show.map(_.getAs[String]("name")).toSet == Set("ddl_rows", "ddl_agg"))
    // ad-hoc SELECT resolves the named views to their current snapshots
    val q = cat.sql(
      "SELECT r.city, count(*) AS rows_over, max(a.n) AS n FROM ddl_rows r " +
        "JOIN ddl_agg a ON r.city = a.city GROUP BY r.city ORDER BY r.city")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(q == Seq(("ber", 2L, "2"), ("par", 1L, "1")), s"ad-hoc sql: $q")
    // the TTL clause routes through (an expiring aggregate view starts)
    cat.sql("CREATE MATERIALIZED VIEW ddl_ttl WITH (ttl_delay='10 minutes', ttl_ms=60000) " +
      "AS SELECT city, sum(amount) AS total FROM t GROUP BY city")
    assert(cat.viewNames.contains("ddl_ttl"))
    cat.sql("DROP MATERIALIZED VIEW ddl_ttl")
    cat.sql("DROP MATERIALIZED VIEW ddl_agg")
    cat.sql("DROP MATERIALIZED VIEW ddl_rows;")
    assert(cat.viewNames.isEmpty)
    cat.stopAll()
  }

  test("#234r named graph on the RocksDB provider: create, churn, stop, resume — the 100TB-state config") {
    val key  = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (root, src) = (tmp("vcrdb"), tmp("vcrdbsrc"))
      val cat1 = new ViewCatalog(spark, root)
      cat1.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
      cat1.createView("r_rows", "SELECT city, amount FROM t WHERE amount > 10")
      cat1.createView("r_agg", "SELECT city, count(*) AS n, max(amount) AS hi FROM r_rows GROUP BY city")
      writeChanges(src, "b1.json", Seq(
        Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
        Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "30"), 2L)))
      cat1.awaitAll()
      cat1.stopAll()
      // fresh catalog, same root: RocksDB checkpoints restore; the delete
      // must fall back to the CHECKPOINTED next-best (30), not recount
      val cat2 = new ViewCatalog(spark, root)
      cat2.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
      assert(cat2.resume() == Seq("r_rows", "r_agg"))
      writeChanges(src, "b2.json", Seq(
        Change("delete", 1L, ts(10), Map.empty, 3L)))
      cat2.awaitAll()
      val cols = cat2.view("r_agg").get.cols
      assert(snapRows(cat2, "r_agg", cols) == Set(Seq("ber", "1", "30.0")),
        s"RocksDB named-graph resume: ${snapRows(cat2, "r_agg", cols)}")
      cat2.stopAll()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("#234i createView rolls back the maintenance query when the definition can't be persisted") {
    val (root, src) = (tmp("vcrb"), tmp("vcrbsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    // make the meta dir unwritable: a FILE squats on root/meta, so
    // persistMeta's createDirectories throws AFTER the query started
    Files.write(Paths.get(root, "meta"), Array.empty[Byte])
    val before = spark.streams.active.map(_.name).toSet
    intercept[Exception] {
      cat.createView("orphan", "SELECT city, count(*) AS n FROM t GROUP BY city")
    }
    val leaked = spark.streams.active.map(_.name).toSet -- before
    assert(!leaked.contains("graft_view_orphan"),
      s"a failed createView must not leave its maintenance query running: $leaked")
    assert(!Files.exists(Paths.get(root, "views", "orphan")),
      "a failed createView must not leave its view directory behind")
    // the catalog stays usable: clear the squatter and the same name creates
    Files.delete(Paths.get(root, "meta"))
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "1"), 1L)))
    val v = cat.createView("orphan", "SELECT city, count(*) AS n FROM t GROUP BY city")
    cat.awaitAll()
    assert(snapRows(cat, "orphan", v.cols) == Set(Seq("ber", "1")), "name reusable after rollback")
    cat.stopAll()
  }

  test("#234s createOrReplaceView: redefinition rebuilds from the feed; bad redefinition leaves the old view live; dependents block") {
    val (root, src) = (tmp("vcrep"), tmp("vcrepsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "20"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "30"), 3L)))
    val v1 = cat.createOrReplaceView("rep", // no existing view: plain create
      "SELECT city, count(*) AS n FROM t GROUP BY city")
    cat.awaitAll()
    assert(snapRows(cat, "rep", v1.cols) == Set(Seq("ber", "2"), Seq("par", "1")))
    // a BAD redefinition (unknown table) throws and leaves v1 untouched
    intercept[IllegalArgumentException] {
      cat.createOrReplaceView("rep", "SELECT city, count(*) AS n FROM nope GROUP BY city")
    }
    // self-reference is rejected up front too
    intercept[IllegalArgumentException] {
      cat.createOrReplaceView("rep", "SELECT city, n FROM rep WHERE n > 1")
    }
    assert(cat.view("rep").get.sql == v1.sql && cat.view("rep").get.query.isActive,
      "failed replace must leave the old view live and unchanged")
    writeChanges(src, "b2.json", Seq(
      Change("insert", 4L, ts(3), Map("city" -> "par", "amount" -> "5"), 4L)))
    cat.awaitAll()
    assert(snapRows(cat, "rep", v1.cols) == Set(Seq("ber", "2"), Seq("par", "2")),
      "old view still maintaining after a failed replace")
    // the real replacement: new SQL, rebuilt from the feed's full contents
    val v2 = cat.createOrReplaceView("rep",
      "SELECT city, sum(amount) AS total FROM t GROUP BY city")
    cat.awaitAll()
    assert(v2.cols == Seq("city", "total"))
    assert(snapRows(cat, "rep", v2.cols) == Set(Seq("ber", "70.0"), Seq("par", "35.0")),
      s"replaced view state: ${snapRows(cat, "rep", v2.cols)}")
    // the persisted definition is the NEW one: resume restarts it
    cat.stopAll()
    val cat2 = new ViewCatalog(spark, root)
    cat2.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    assert(cat2.resume() == Seq("rep"))
    writeChanges(src, "b3.json", Seq(
      Change("delete", 1L, ts(10), Map.empty, 5L)))
    cat2.awaitAll()
    assert(snapRows(cat2, "rep", v2.cols) == Set(Seq("ber", "20.0"), Seq("par", "35.0")),
      "resumed replacement continues the tail")
    // a dependent blocks replacement (its tailed sink offsets would dangle)
    cat2.createView("dep", "SELECT city, n_city FROM (SELECT city, total AS n_city FROM rep)")
    intercept[IllegalArgumentException] {
      cat2.createOrReplaceView("rep", "SELECT city, count(*) AS n FROM t GROUP BY city")
    }
    cat2.stopAll()
  }

  test("#234w CREATE OR REPLACE … CASCADE: compatible replace rebuilds the dependent subgraph; incompatible replace names the offender and leaves the graph live") {
    val (root, src) = (tmp("vccas"), tmp("vccassrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "20"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "30"), 3L),
      Change("insert", 4L, ts(3), Map("city" -> "par", "amount" -> "5"), 4L)))
    cat.createView("r", "SELECT city, sum(amount) AS total FROM t GROUP BY city")
    val d1 = cat.createView("d1", "SELECT city, total FROM r WHERE total > 10")
    val d2 = cat.createView("d2", "SELECT city, total AS big FROM d1 WHERE total > 32")
    cat.awaitAll()
    assert(snapRows(cat, "d2", d2.cols) == Set(Seq("ber", "70.0"), Seq("par", "35.0")))
    // INCOMPATIBLE: the new definition drops `total`, which d1 reads —
    // raised naming the dependent and the column, with NOTHING stopped
    val boom = intercept[IllegalArgumentException] {
      cat.createOrReplaceView("r", "SELECT city, count(*) AS n FROM t GROUP BY city",
        cascade = true)
    }
    assert(boom.getMessage.contains("d1") && boom.getMessage.contains("total"),
      s"must name the incompatible dependent and column: ${boom.getMessage}")
    assert(Seq("r", "d1", "d2").forall(n => cat.view(n).get.query.isActive),
      "incompatible CASCADE must leave the whole old graph live")
    // …and still MAINTAINING: a new change flows through all layers
    writeChanges(src, "b2.json", Seq(
      Change("insert", 5L, ts(4), Map("city" -> "par", "amount" -> "40"), 5L)))
    cat.awaitAll()
    assert(snapRows(cat, "d2", d2.cols) == Set(Seq("ber", "70.0"), Seq("par", "75.0")),
      "old graph still maintaining after a rejected cascade")
    // COMPATIBLE: `total` survives (new filter changes its value); the
    // subgraph rebuilds topologically and converges on the new contents
    cat.createOrReplaceView("r",
      "SELECT city, sum(amount) AS total FROM t WHERE amount > 10 GROUP BY city",
      cascade = true)
    cat.awaitAll()
    // ber: 50+20 = 70; par: 30+40 = 70 (the 5 filtered out by the new
    // WHERE — the value that proves the rebuild recomputed from scratch)
    assert(snapRows(cat, "d1", d1.cols) == Set(Seq("ber", "70.0"), Seq("par", "70.0")))
    assert(Seq("r", "d1", "d2").forall(n => cat.view(n).get.query.isActive))
    // the rebuilt graph keeps maintaining: delete flows through to d2
    writeChanges(src, "b3.json", Seq(
      Change("delete", 5L, ts(10), Map.empty, 6L),
      Change("delete", 3L, ts(11), Map.empty, 7L)))
    cat.awaitAll()
    assert(snapRows(cat, "d2", d2.cols) == Set(Seq("ber", "70.0")),
      s"par drops below d2's threshold: ${snapRows(cat, "d2", d2.cols)}")
    // the SQL front door: CASCADE keyword on CREATE OR REPLACE — the
    // doubled operand changes every layer's values, proving the rebuild
    // (ber (50+20)*2 = 140 passes d1/d2; par 5*2 = 10 fails d1's > 10)
    cat.sql("CREATE OR REPLACE MATERIALIZED VIEW r CASCADE AS " +
      "SELECT city, sum(amount * 2) AS total FROM t GROUP BY city")
    cat.awaitAll()
    assert(snapRows(cat, "d2", d2.cols) == Set(Seq("ber", "140.0")),
      s"SQL CASCADE replace rebuilt the subgraph: ${snapRows(cat, "d2", d2.cols)}")
    // the persisted definitions are the new root + original dependents:
    // the whole rebuilt graph resumes
    cat.stopAll()
    val cat2 = new ViewCatalog(spark, root)
    cat2.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    assert(cat2.resume().toSet == Set("r", "d1", "d2"))
    cat2.stopAll()
  }

  test("#234x DROP MATERIALIZED VIEW … CASCADE: the whole dependent subgraph tears down leaves-first") {
    val (root, src) = (tmp("vcdrop"), tmp("vcdropsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.createView("r", "SELECT city, count(*) AS n FROM t GROUP BY city")
    cat.createView("d1", "SELECT city, n FROM r WHERE n > 0")
    cat.createView("d2", "SELECT city, n AS m FROM d1")
    // plain drop still refuses with dependents
    intercept[IllegalArgumentException] { cat.dropView("r") }
    assert(cat.viewNames.toSet == Set("r", "d1", "d2"))
    // CASCADE via the SQL front door: everything downstream goes too,
    // dirs and meta removed — nothing left for resume
    cat.sql("DROP MATERIALIZED VIEW r CASCADE")
    assert(cat.viewNames.isEmpty, s"left: ${cat.viewNames}")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "views", "d2")),
      "dependent dirs must be deleted")
    val cat2 = new ViewCatalog(spark, root)
    cat2.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    assert(cat2.resume().isEmpty, "no meta must survive a cascade drop")
    cat2.stopAll()
    cat.stopAll()
  }

  test("#234y VACUUM … KEEP n: retention-bounded compaction keeps the newest n commits time-travelable; below-base answers the base") {
    val (root, src) = (tmp("vcvac"), tmp("vcvacsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    val v = cat.createView("vv", "SELECT city, count(*) AS n FROM t GROUP BY city")
    // three commits: {ber:1} → {ber:2} → {ber:2, par:1}
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "1"), 1L)))
    cat.awaitAll()
    writeChanges(src, "b2.json", Seq(
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "2"), 2L)))
    cat.awaitAll()
    writeChanges(src, "b3.json", Seq(
      Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "3"), 3L)))
    cat.awaitAll()
    val vers = cat.versions("vv")
    assert(vers.size == 3, s"three commits expected: $vers")
    val firstClock = cat.versionsWithTimestamps("vv").head._2
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSet.map((r: org.apache.spark.sql.Row) => v.cols.map(c => r.getAs[String](c)))
    // vacuum keeping the newest ONE above the base: {vers(1), vers(2)} retained
    val out = cat.sql("VACUUM MATERIALIZED VIEW vv KEEP 1").collect().head
    assert(out.getAs[String]("view") == "vv" && out.getAs[Long]("base_batch") == vers(1) &&
      out.getAs[Int]("versions_retained") == 2, s"vacuum report: $out")
    assert(cat.versions("vv") == Seq(vers(1), vers(2)), s"retained: ${cat.versions("vv")}")
    // inside the retained window: exact history
    assert(rows(cat.snapshotAsOf("vv", vers(1))) == Set(Seq("ber", "2")), "as-of the new base")
    assert(rows(cat.snapshot("vv")) == Set(Seq("ber", "2"), Seq("par", "1")), "current state intact")
    // below the base: the compacted-log answer is the base, not the lost history
    assert(rows(cat.snapshotAsOf("vv", vers.head)) == Set(Seq("ber", "2")),
      "below-base as-of folds the base")
    // the history FLOOR survives compaction: a clock inside the
    // compacted-away window folds the base; pre-history stays empty
    assert(rows(cat.snapshotAsOfTimestamp("vv", firstClock)) == Set(Seq("ber", "2")),
      "compacted-away clock folds the base")
    assert(cat.snapshotAsOfTimestamp("vv", firstClock - 1).count() == 0L,
      "pre-history clock stays empty after compaction")
    assert(cat.snapshotAsOf("vv", vers.head - 1).count() == 0L,
      "pre-history batch stays empty after compaction")
    // KEEP >= retained is a no-op; KEEP 0 folds everything into one base
    cat.compactView("vv", keepLast = 5)
    assert(cat.versions("vv") == Seq(vers(1), vers(2)), "over-keep must not compact")
    cat.sql("VACUUM MATERIALIZED VIEW vv")
    assert(cat.versions("vv") == Seq(vers(2)), s"full vacuum: ${cat.versions("vv")}")
    assert(rows(cat.snapshot("vv")) == Set(Seq("ber", "2"), Seq("par", "1")),
      "state survives full vacuum")
    cat.stopAll()
  }

  test("#234aa BITEMPORAL composition: transaction-time travel × valid-time as-of, no new engine code") {
    // bitemporal = "as of system time T, what did we BELIEVE the state
    // at valid time V was". Transaction time is the catalog's commit
    // history (snapshotAsOf); valid time is a payload dimension the
    // view maintains per (entity, valid_day) with LWW corrections.
    // Composing the two existing primitives answers every (T, V) cell.
    val (root, src) = (tmp("vcbt"), tmp("vcbtsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    // one row per (entity, valid_day): the latest correction wins
    cat.createView("obs",
      "SELECT entity, valid_day, max_by(value, seq) AS value FROM t GROUP BY entity, valid_day")
    // commit 1: e1's day-1 observation = 10
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0),
        Map("entity" -> "e1", "valid_day" -> "1", "value" -> "10", "seq" -> "1"), 1L)))
    cat.awaitAll()
    // commit 2: day-1 CORRECTED to 12, and a new day-5 observation = 20
    writeChanges(src, "b2.json", Seq(
      Change("insert", 2L, ts(1),
        Map("entity" -> "e1", "valid_day" -> "1", "value" -> "12", "seq" -> "2"), 2L),
      Change("insert", 3L, ts(2),
        Map("entity" -> "e1", "valid_day" -> "5", "value" -> "20", "seq" -> "3"), 3L)))
    cat.awaitAll()
    val vers = cat.versions("obs")
    assert(vers.size == 2, s"two commits expected: $vers")
    // valid-time as-of over a transaction-time snapshot: latest
    // valid_day <= V per entity (the q26 shape, batch, over the frame)
    def believedAt(txBatch: Long, validDay: Int): Option[String] = {
      val snap = cat.snapshotAsOf("obs", txBatch)
      snap.filter(col("entity") === "e1" &&
          col("valid_day").cast("long") <= validDay)
        .orderBy(col("valid_day").cast("long").desc)
        .limit(1).collect().headOption.map(_.getAs[String]("value"))
    }
    // as known at commit 1: day 3 reads the day-1 original
    assert(believedAt(vers.head, 3).contains("10"), "T=commit1, V=day3 → original 10")
    // as known now: day 3 reads the CORRECTION, day 7 the new observation
    assert(believedAt(vers.last, 3).contains("12"), "T=now, V=day3 → corrected 12")
    assert(believedAt(vers.last, 7).contains("20"), "T=now, V=day7 → 20")
    // before any valid observation: empty
    assert(believedAt(vers.last, 0).isEmpty, "V before first valid_day → none")
    cat.stopAll()
  }

  test("#234z SHOW CREATE MATERIALIZED VIEW: the emitted DDL recreates an equivalent view, ttl clause included") {
    val (root, src) = (tmp("vcsc"), tmp("vcscsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.sql("CREATE MATERIALIZED VIEW sc_plain AS SELECT city, count(*) AS n FROM t GROUP BY city")
    cat.sql("CREATE MATERIALIZED VIEW sc_ttl WITH (ttl_delay='10 minutes', ttl_ms=60000) " +
      "AS SELECT city, sum(amount) AS total FROM t GROUP BY city")
    val plainDdl = cat.sql("SHOW CREATE MATERIALIZED VIEW sc_plain")
      .collect().head.getAs[String]("create_statement")
    assert(plainDdl == "CREATE MATERIALIZED VIEW sc_plain AS " +
      "SELECT city, count(*) AS n FROM t GROUP BY city", plainDdl)
    val ttlDdl = cat.showCreate("sc_ttl")
    assert(ttlDdl.contains("WITH (ttl_delay='10 minutes', ttl_ms=60000)"), ttlDdl)
    // round-trip: drop, re-execute the emitted DDL, same definition back
    val colsBefore = cat.view("sc_plain").get.cols
    cat.sql("DROP MATERIALIZED VIEW sc_plain")
    cat.sql(plainDdl)
    assert(cat.view("sc_plain").get.cols == colsBefore, "recreated view must keep its columns")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "5"), 1L)))
    cat.awaitAll()
    assert(cat.snapshot("sc_plain").collect().map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("ber", "1")), "recreated view maintains")
    cat.stopAll()
  }

  test("#234t explain(): transitive upstream lineage + dependents; EXPLAIN MATERIALIZED VIEW via sql()") {
    val (root, src) = (tmp("vcexp"), tmp("vcexpsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.createView("base_rows", "SELECT city, amount FROM t WHERE amount > 10")
    cat.createView("city_agg", "SELECT city, count(*) AS n FROM base_rows GROUP BY city")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L)))
    cat.awaitAll()
    val plan = cat.explain("city_agg")
    // the tree: city_agg at depth 0, base_rows indented under it (read
    // via sink tail), the source at the leaf; no dependents downstream
    assert(plan.linesIterator.toSeq.head.startsWith("- view city_agg (live, "),
      s"root line: $plan")
    assert(plan.contains("  - view base_rows (live, 1 batches committed) [read via sink tail]"), plan)
    assert(plan.contains("    - source t (runtime feed)"), plan)
    assert(plan.contains("dependents: none"), plan)
    // the mid-layer view reports its dependent
    assert(cat.explain("base_rows").contains("dependents (tail this view's sink): city_agg"))
    // the SQL form returns the same text, one row per line
    val viaSql = cat.sql("EXPLAIN MATERIALIZED VIEW city_agg")
      .collect().map(_.getString(0)).mkString("\n") + "\n"
    assert(viaSql == plan, s"sql form diverges:\n$viaSql\nvs\n$plan")
    intercept[IllegalArgumentException] { cat.explain("nope") }
    cat.stopAll()
  }

  test("#234u time travel: snapshotAsOf folds the sink only to the bound; VERSION AS OF sugar; compaction trims the horizon") {
    val (root, src) = (tmp("vctt"), tmp("vcttsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    val v = cat.createView("tt", "SELECT city, count(*) AS n FROM t GROUP BY city")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "1"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "par", "amount" -> "2"), 2L)))
    cat.awaitAll()
    writeChanges(src, "b2.json", Seq(
      Change("insert", 3L, ts(2), Map("city" -> "ber", "amount" -> "3"), 3L),
      Change("delete", 2L, ts(3), Map.empty, 4L)))
    cat.awaitAll()
    val vers = cat.versions("tt")
    assert(vers.size == 2, s"two committed batches expected: $vers")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSet.map((r: org.apache.spark.sql.Row) => v.cols.map(c => r.getAs[String](c)))
    // as of the FIRST batch: par still live, ber at 1
    assert(rows(cat.snapshotAsOf("tt", vers.head)) == Set(Seq("ber", "1"), Seq("par", "1")),
      "as-of batch 0")
    // as of now == snapshot: par deleted, ber at 2
    assert(rows(cat.snapshotAsOf("tt", vers.last)) == rows(cat.snapshot("tt")))
    assert(rows(cat.snapshot("tt")) == Set(Seq("ber", "2")))
    // before the first commit: empty, schema intact
    val empty = cat.snapshotAsOf("tt", vers.head - 1)
    assert(empty.columns.toSeq == v.cols && empty.count() == 0L)
    // the SQL sugar reads the historical state inline
    val sugar = cat.sql(s"SELECT city, n FROM tt VERSION AS OF ${vers.head} ORDER BY city")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(sugar == Seq(("ber", "1"), ("par", "1")), s"VERSION AS OF sugar: $sugar")
    // compaction folds history into the new base: the horizon shrinks
    // but the CURRENT state still reconstructs
    cat.compactView("tt")
    assert(cat.versions("tt").size == 1, s"post-compaction horizon: ${cat.versions("tt")}")
    assert(rows(cat.snapshot("tt")) == Set(Seq("ber", "2")), "state survives compaction")
    cat.stopAll()
  }

  test("#234v TIMESTAMP AS OF: commit wall-clock resolves to the floor batch; between-commits and pre-history edges; sugar; legacy fallback") {
    val (root, src) = (tmp("vcts"), tmp("vctssrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    val v = cat.createView("tv", "SELECT city, count(*) AS n FROM t GROUP BY city")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "1"), 1L)))
    cat.awaitAll()
    // force DISTINCT commit millis for the two batches (same-milli
    // commits would make "between commits" unobservable)
    Thread.sleep(60)
    writeChanges(src, "b2.json", Seq(
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "2"), 2L)))
    cat.awaitAll()
    val vts = cat.versionsWithTimestamps("tv")
    assert(vts.size == 2 && vts(0)._2 < vts(1)._2,
      s"two commits with increasing wall-clock expected: $vts")
    val (b1, t1) = vts(0); val (b2, t2) = vts(1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSet.map((r: org.apache.spark.sql.Row) => v.cols.map(c => r.getAs[String](c)))
    // exactly at each commit instant: that batch's state
    assert(rows(cat.snapshotAsOfTimestamp("tv", t1)) == rows(cat.snapshotAsOf("tv", b1)))
    assert(rows(cat.snapshotAsOfTimestamp("tv", t2)) == rows(cat.snapshotAsOf("tv", b2)))
    // BETWEEN commits: the earlier batch was the visible state then
    assert(rows(cat.snapshotAsOfTimestamp("tv", t2 - 1)) == Set(Seq("ber", "1")),
      "between-commits must resolve to the floor batch")
    // pre-history: empty frame with the view's schema
    val empty = cat.snapshotAsOfTimestamp("tv", t1 - 1)
    assert(empty.columns.toSeq == v.cols && empty.count() == 0L, "pre-history")
    // sugar: epoch-millis literal and formatted-timestamp literal (the
    // formatter round-trips the same JVM-default-zone clock the marker
    // stamped, millisecond precision)
    val viaMs = cat.sql(s"SELECT city, n FROM tv TIMESTAMP AS OF '${t2 - 1}'")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(viaMs == Seq(("ber", "1")), s"epoch-millis sugar: $viaMs")
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    val lit = fmt.format(new java.util.Date(t1))
    val viaStr = cat.sql(s"SELECT city, n FROM tv TIMESTAMP AS OF '$lit'")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(viaStr == Seq(("ber", "1")), s"string-literal sugar at t1 ($lit): $viaStr")
    intercept[IllegalArgumentException] { cat.snapshotAsOfTimestamp("nope", t1) }
    intercept[IllegalArgumentException] { cat.parseTsMillis("not a time") }
    // legacy empty marker (r11 and earlier): commit time falls back to
    // the marker file's mtime — pre-existing feeds travel unmigrated
    val marker = java.nio.file.Paths.get(root, "views", "tv", "feed", "_graft_commits", b1.toString)
    java.nio.file.Files.write(marker, Array.empty[Byte])
    val legacy = FeedSink.committedBatchTimes(
      java.nio.file.Paths.get(root, "views", "tv", "feed").toString)
    assert(legacy(b1) == marker.toFile.lastModified && legacy(b1) > 0L,
      s"legacy marker must fall back to mtime: $legacy")
    cat.stopAll()
  }

  test("#234ab ALTER … SET ttl: retunes a live expiring view in place (state kept); non-expiring rejects; survives resume") {
    val (root, src) = (tmp("vcalter"), tmp("vcaltersrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.createView("a_tot", "SELECT city, sum(amount) AS total FROM t GROUP BY city",
      ttl = Some(("10 minutes", 60000L)))
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "par", "amount" -> "30"), 2L)))
    cat.awaitAll()
    assert(snapRows(cat, "a_tot", Seq("city", "total")) ==
      Set(Seq("ber", "50.0"), Seq("par", "30.0")))

    // retune: the view keeps its checkpoint + sink — post-alter changes
    // FOLD INTO pre-alter state instead of recounting from zero
    cat.alterViewTtl("a_tot", ("30 minutes", 120000L))
    writeChanges(src, "b2.json", Seq(
      Change("insert", 3L, ts(2), Map("city" -> "ber", "amount" -> "25"), 3L)))
    cat.awaitAll()
    assert(snapRows(cat, "a_tot", Seq("city", "total")) ==
      Set(Seq("ber", "75.0"), Seq("par", "30.0")),
      "pre-alter state must survive the retune")
    assert(cat.showCreate("a_tot").contains("ttl_delay='30 minutes', ttl_ms=120000"),
      cat.showCreate("a_tot"))

    // the SQL front door spells it the same way
    val frame = cat.sql(
      "ALTER MATERIALIZED VIEW a_tot SET (ttl_delay='45 minutes', ttl_ms=180000)")
      .collect()(0)
    assert(frame.getAs[String]("ttl_delay") == "45 minutes" && frame.getAs[Long]("ttl_ms") == 180000L)
    assert(cat.showCreate("a_tot").contains("ttl_delay='45 minutes'"))

    // None→Some is a redefinition, not a retune: the state shape changes
    cat.createView("a_plain", "SELECT city, amount FROM t WHERE amount > 10")
    intercept[IllegalArgumentException] {
      cat.alterViewTtl("a_plain", ("10 minutes", 60000L))
    }

    // the altered ttl is the durable truth: a fresh catalog resumes with
    // it and keeps folding into the same state
    cat.stopAll()
    val cat2 = new ViewCatalog(spark, root)
    cat2.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    assert(cat2.resume().contains("a_tot"))
    assert(cat2.showCreate("a_tot").contains("ttl_delay='45 minutes'"))
    writeChanges(src, "b3.json", Seq(
      Change("insert", 4L, ts(3), Map("city" -> "par", "amount" -> "10"), 4L)))
    cat2.awaitAll()
    assert(snapRows(cat2, "a_tot", Seq("city", "total")) ==
      Set(Seq("ber", "75.0"), Seq("par", "40.0")),
      "resumed view must fold onto the altered-ttl state")
    cat2.stopAll()
  }

  test("#234ac suspendView/resumeView: one view pauses (catalog intact), resumes from its checkpoint; double-resume rejects") {
    val (root, src) = (tmp("vcsusp"), tmp("vcsuspsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.createView("s_tot", "SELECT city, sum(amount) AS total FROM t GROUP BY city")
    cat.createView("s_hi", "SELECT city, total FROM s_tot WHERE total >= 40")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L)))
    cat.awaitAll()
    assert(snapRows(cat, "s_hi", Seq("city", "total")) == Set(Seq("ber", "50.0")))

    cat.suspendView("s_tot")
    assert(!cat.status().find(_.name == "s_tot").get.live)
    assert(cat.status().find(_.name == "s_hi").get.live, "dependents stay live")
    // changes arriving while suspended are NOT processed…
    writeChanges(src, "b2.json", Seq(
      Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "25"), 2L)))
    Thread.sleep(300)
    assert(snapRows(cat, "s_tot", Seq("city", "total")) == Set(Seq("ber", "50.0")),
      "suspended view must not advance")
    intercept[IllegalArgumentException] { cat.resumeView("nope") }

    // …and fold in exactly once on resume, from the checkpoint
    cat.resumeView("s_tot")
    cat.awaitAll()
    assert(snapRows(cat, "s_tot", Seq("city", "total")) == Set(Seq("ber", "75.0")))
    assert(snapRows(cat, "s_hi", Seq("city", "total")) == Set(Seq("ber", "75.0")),
      "the dependent sees the resumed view's new commits")
    intercept[IllegalArgumentException] { cat.resumeView("s_tot") } // live → reject

    // the SQL front-door verbs drive the same pair
    assert(cat.sql("ALTER MATERIALIZED VIEW s_tot SUSPEND").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("s_tot", "SUSPEND")))
    assert(!cat.status().find(_.name == "s_tot").get.live)
    writeChanges(src, "b3.json", Seq(
      Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "40"), 3L)))
    cat.sql("ALTER MATERIALIZED VIEW s_tot RESUME")
    cat.awaitAll()
    assert(snapRows(cat, "s_tot", Seq("city", "total")) ==
      Set(Seq("ber", "75.0"), Seq("par", "40.0")),
      "SQL RESUME picks up from the checkpoint and drains the backlog")
    cat.stopAll()
  }

  test("#234ad named GENERATOR view: explode family by name; aggregate layers over elements; shrink crosses layers") {
    val (root, src) = (tmp("vcgen"), tmp("vcgsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    // the list-payload normalization a changefeed consumer actually
    // wants behind a name: one row per tag, then counts per tag value
    val v  = cat.createView("doc_tags", "SELECT city, explode(split(tags, ',')) AS tag FROM t")
    assert(v.cols == Seq("city", "tag"), s"view columns: ${v.cols}")
    val v2 = cat.createView("tag_counts", "SELECT tag, count(*) AS n FROM doc_tags GROUP BY tag")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "tags" -> "a,b"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "par", "tags" -> "b,c"), 2L)))
    cat.awaitAll()
    assert(snapRows(cat, "doc_tags", v.cols) == Set(
      Seq("ber", "a"), Seq("ber", "b"), Seq("par", "b"), Seq("par", "c")), "family after b1")
    assert(snapRows(cat, "tag_counts", v2.cols) == Set(
      Seq("a", "1"), Seq("b", "2"), Seq("c", "1")), "element counts after b1")
    // key 1's family rewrites a,b → z: ordinal 0 changes value, ordinal 1
    // dies — the delete must cross the named layer and decrement b
    writeChanges(src, "b2.json", Seq(
      Change("update", 1L, ts(10), Map("city" -> "ber", "tags" -> "z"), 3L)))
    cat.awaitAll()
    assert(snapRows(cat, "doc_tags", v.cols) == Set(
      Seq("ber", "z"), Seq("par", "b"), Seq("par", "c")), "family after the rewrite")
    assert(snapRows(cat, "tag_counts", v2.cols) == Set(
      Seq("z", "1"), Seq("b", "1"), Seq("c", "1")),
      "a dead ordinal's delete must retract its element count through the named layer")
    cat.stopAll()
  }

  test("#234ae statusHistory: per-batch maintenance record persists beside the sink; survives restart; SQL verb") {
    val (root, src) = (tmp("vchist"), tmp("vchsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.createView("hv", "SELECT city, count(*) AS n FROM t GROUP BY city")
    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "par", "amount" -> "20"), 2L)))
    cat.awaitAll()
    writeChanges(src, "b2.json", Seq(
      Change("insert", 3L, ts(2), Map("city" -> "ber", "amount" -> "30"), 3L)))
    cat.awaitAll()
    // the listener bus is async — progress events can land shortly after
    // processAllAvailable returns; poll to the committed horizon
    def committed = cat.status().find(_.name == "hv").get.batchesCommitted
    def history   = cat.statusHistory("hv")
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (history.size < committed && System.nanoTime < deadline) Thread.sleep(50)
    val h1 = history
    assert(h1.map(_.batchId).toSet == (0L until committed).toSet,
      s"history rows must match the sink's committed batches: ${h1.map(_.batchId)} vs $committed")
    assert(h1.map(_.inputRows).sum == 3L, s"input rows accounted: $h1")
    assert(h1.forall(_.durationMs >= 0) && h1.forall(_.eventTs.nonEmpty))
    assert(h1.exists(_.stateRows > 0), s"the aggregate's state rows surface: $h1")
    // the SQL verb returns the same record
    val viaSql = cat.sql("SHOW MATERIALIZED VIEW HISTORY hv").collect()
    assert(viaSql.length == h1.size &&
      viaSql.map(_.getAs[Long]("batchId")).toSet == h1.map(_.batchId).toSet)
    cat.stopAll()
    // a FRESH catalog over the same root: history is durable, and new
    // batches append to the SAME record
    val cat2 = new ViewCatalog(spark, root)
    cat2.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat2.resume()
    assert(cat2.statusHistory("hv").map(_.batchId) == h1.map(_.batchId),
      "history survives the restart")
    writeChanges(src, "b3.json", Seq(
      Change("insert", 4L, ts(3), Map("city" -> "par", "amount" -> "10"), 4L)))
    cat2.awaitAll()
    def committed2 = cat2.status().find(_.name == "hv").get.batchesCommitted
    val deadline2 = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (cat2.statusHistory("hv").size < committed2 && System.nanoTime < deadline2)
      Thread.sleep(50)
    val h2 = cat2.statusHistory("hv")
    assert(h2.map(_.batchId).toSet == (0L until committed2).toSet && h2.size > h1.size,
      s"post-restart batches append to the same record: ${h2.map(_.batchId)}")
    assert(h2.map(_.inputRows).sum == 4L)
    cat2.stopAll()
  }
  test("#334 named LIVE RESERVOIR view: ranked over md5 = uniform sample that PROMOTES on delete") {
    val (root, src) = (tmp("vcres"), tmp("vcressrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    // md5 ascending over sids 1..6: 6 < 4 < 1 < 2 < 5 < 3 — a reservoir
    // is just a ranked view whose sort key is the stable hash
    val v = cat.createView("reservoir",
      "SELECT stratum, sid, rn FROM (SELECT stratum, sid, " +
        "row_number() OVER (PARTITION BY stratum ORDER BY md5(sid), sid) AS rn FROM t) x WHERE rn <= 2")
    writeChanges(src, "b1.json", (1 to 5).map(i =>
      Change("insert", i.toLong, ts(i), Map("stratum" -> "s", "sid" -> i.toString), i.toLong)))
    cat.awaitAll()
    assert(snapRows(cat, "reservoir", v.cols) == Set(
      Seq("s", "4", "1"), Seq("s", "1", "2")),
      s"bottom-2 by md5 of 1..5 is {4,1}: ${snapRows(cat, "reservoir", v.cols)}")
    // delete a member below the cut boundary: the sample must PROMOTE
    // (the property the insert-only batch reservoir cannot give)
    writeChanges(src, "b2.json", Seq(Change("delete", 4L, ts(10), Map.empty, 10L)))
    cat.awaitAll()
    assert(snapRows(cat, "reservoir", v.cols) == Set(
      Seq("s", "1", "1"), Seq("s", "2", "2")),
      s"after deleting 4, {1,2} remain: ${snapRows(cat, "reservoir", v.cols)}")
    // a new row hashing below everything enters at rank 1
    writeChanges(src, "b3.json", Seq(
      Change("insert", 6L, ts(11), Map("stratum" -> "s", "sid" -> "6"), 11L)))
    cat.awaitAll()
    assert(snapRows(cat, "reservoir", v.cols) == Set(
      Seq("s", "6", "1"), Seq("s", "1", "2")),
      s"6 hashes lowest and enters: ${snapRows(cat, "reservoir", v.cols)}")
    cat.stopAll()
  }

  test("#234af checkpoint manager migration: a view begun on Spark's default manager resumes on graft's, replays over stale .crc sidecars; a new view writes none") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val graftManager = spark.conf.get(key)
    val (root, src) = (tmp("vcmig"), tmp("vcmigsrc"))
    def files(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
    def isSidecar(f: java.nio.file.Path) = f.getFileName.toString.matches("""\..*\.crc""")
    val sql = "SELECT city, count(*) AS n, sum(amount) AS total, max(amount) AS hi FROM t GROUP BY city"
    spark.conf.set(key, classOf[org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager].getName)
    try {
      val cat1 = new ViewCatalog(spark, root)
      cat1.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
      cat1.createView("mig", sql)
      writeChanges(src, "b1.json", Seq(
        Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
        Change("insert", 2L, ts(1), Map("city" -> "ber", "amount" -> "30"), 2L),
        Change("insert", 3L, ts(2), Map("city" -> "par", "amount" -> "20"), 3L)))
      cat1.awaitAll()
      writeChanges(src, "b2.json", Seq(
        Change("insert", 4L, ts(3), Map("city" -> "par", "amount" -> "40"), 4L),
        Change("update", 3L, ts(4), Map("city" -> "par", "amount" -> "25"), 5L)))
      cat1.awaitAll()
      cat1.stopAll()
    } finally spark.conf.set(key, graftManager)
    val ck = Paths.get(root, "views", "mig", "checkpoint")
    // a crash between the last batch's state commit and its commit-log
    // entry: the resumed query must replay that batch, overwriting
    // deltas that still carry the default manager's Hadoop sidecars
    val commits = ck.resolve("commits")
    val last = files(commits).map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    val staleSidecars = files(ck.resolve("state")).filter(_.getFileName.toString == s".${last + 1}.delta.crc")
    assert(staleSidecars.nonEmpty, s"the default manager should have left delta sidecars under $ck")

    val cat2 = new ViewCatalog(spark, root)
    cat2.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    assert(cat2.resume() == Seq("mig"))
    cat2.awaitAll()
    assert(Files.exists(commits.resolve(last.toString)), s"batch $last was not replayed")
    assert(staleSidecars.forall(f => !Files.exists(f)),
      s"replayed deltas kept stale sidecars: ${staleSidecars.filter(Files.exists(_))}")
    // continuity: the delete must fall back to the CHECKPOINTED next-best
    writeChanges(src, "b3.json", Seq(
      Change("delete", 1L, ts(10), Map.empty, 6L),
      Change("insert", 5L, ts(11), Map("city" -> "lis", "amount" -> "11"), 7L)))
    cat2.awaitAll()
    val cols = cat2.view("mig").get.cols
    assert(snapRows(cat2, "mig", cols) == Set(
      Seq("ber", "1", "30.0", "30.0"), Seq("par", "2", "65.0", "40.0"), Seq("lis", "1", "11.0", "11.0")),
      s"migrated view state: ${snapRows(cat2, "mig", cols)}")
    // every sidecar left behind still matches its file, so Hadoop's
    // checksummed reader (Spark's default manager) can read the whole checkpoint
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    files(ck).filterNot(isSidecar).foreach { f =>
      val in = lfs.open(new org.apache.hadoop.fs.Path(f.toUri))
      try in.readAllBytes() finally in.close()
    }

    cat2.createView("mig_new", "SELECT city, count(*) AS n FROM t GROUP BY city")
    cat2.awaitAll()
    assert(snapRows(cat2, "mig_new", cat2.view("mig_new").get.cols) ==
      Set(Seq("ber", "1"), Seq("par", "2"), Seq("lis", "1")))
    val fresh = files(Paths.get(root, "views", "mig_new", "checkpoint"))
    assert(fresh.exists(_.getFileName.toString.endsWith(".delta")), s"no state deltas in $fresh")
    assert(fresh.count(isSidecar) == 0, s"Hadoop sidecars in a new checkpoint: ${fresh.filter(isSidecar)}")
    cat2.stopAll()
  }

  test("#234ag feed-reader migration: dependents checkpointed on the file-source tail resume at the upstream batch they reached") {
    val (root, src) = (tmp("vcfeedmig"), tmp("vcfeedmigsrc"))
    val cat1 = new ViewCatalog(spark, root)
    cat1.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat1.createView("base", "SELECT city, amount FROM t WHERE amount > 10")
    val upFeed = Paths.get(root, "views", "base", "feed").toString
    // the earlier tail: Spark's file source over the upstream directory
    def fileSourceTail() = spark.readStream.schema(FeedSink.feedSchema).parquet(upFeed)
      .select(col("op"), col("key"), org.apache.spark.sql.functions.expr("timestamp_micros(ts_us)").as("ts"),
        col("payload"), col("seq"))
      .as[Change]
    val deps = Seq(
      ("plain_dep", "SELECT city, count(*) AS n, sum(amount) AS total FROM base GROUP BY city", None),
      ("ttl_dep", "SELECT city, count(*) AS n FROM base GROUP BY city", Some(("1 second", 1000L))))
    // each dependent runs on the catalog's own layout (meta, checkpoint,
    // sink), as a view created before the marker-offset reader existed
    val queries = deps.map { case (name, sql, ttl) =>
      val (changes, cols) = IncrementalPlanner.namedChanges(spark, sql, Map("base" -> fileSourceTail()), ttl)
      val out = Paths.get(root, "views", name, "feed").toString
      Files.createDirectories(Paths.get(out))
      def begin() = changes.toDF().writeStream.outputMode("append")
        .option("checkpointLocation", Paths.get(root, "views", name, "checkpoint").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) => FeedSink.writeChangeBatch(b, id, out) }
        .start()
      val q = if (ttl.isDefined) IncrementalView.withRelaxedWatermarkCheck(spark)(begin()) else begin()
      val p = new java.util.Properties()
      p.setProperty("sql", sql)
      p.setProperty("deps", "base")
      p.setProperty("cols", cols.mkString(","))
      ttl.foreach { case (d, ms) => p.setProperty("ttlDelay", d); p.setProperty("ttlMs", ms.toString) }
      val w = Files.newBufferedWriter(Paths.get(root, "meta", s"$name.properties"))
      try p.store(w, null) finally w.close()
      q
    }
    // four upstream batches; key 2's delete dies past the ttl dependent's
    // watermark, so its tombstone expires there before the stop
    Seq(
      Seq(Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "50"), 1L),
        Change("insert", 2L, ts(0), Map("city" -> "par", "amount" -> "20"), 2L),
        Change("insert", 3L, ts(0), Map("city" -> "ber", "amount" -> "30"), 3L)),
      Seq(Change("delete", 2L, ts(1), Map.empty, 4L)),
      Seq(Change("insert", 4L, ts(60), Map("city" -> "lis", "amount" -> "40"), 5L)),
      Seq(Change("insert", 5L, ts(120), Map("city" -> "lis", "amount" -> "12"), 6L))
    ).zipWithIndex.foreach { case (cs, i) =>
      writeChanges(src, s"b$i.json", cs)
      cat1.awaitAll()
      queries.foreach(_.processAllAvailable())
    }
    queries.foreach(_.stop())
    val reached = FeedSink.committedBatches(upFeed).max
    // the upstream advances while the dependents are down
    writeChanges(src, "b9.json", Seq(
      Change("update", 1L, ts(121), Map("city" -> "ber", "amount" -> "70"), 7L),
      Change("delete", 3L, ts(122), Map.empty, 8L),
      Change("insert", 6L, ts(123), Map("city" -> "par", "amount" -> "15"), 9L)))
    cat1.awaitAll()
    cat1.stopAll()
    val newRows = FeedSink.atRest(spark, upFeed).filter(col("batch_id") > reached).count()
    assert(newRows > 0, "the upstream must commit while the dependents are down")

    val cat2 = new ViewCatalog(spark, root)
    cat2.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    assert(cat2.resume() == Seq("base", "plain_dep", "ttl_dep"))
    cat2.awaitAll()
    deps.foreach { case (name, _, _) =>
      val read = cat2.view(name).get.query.recentProgress.map(_.numInputRows).sum
      assert(read == newRows, s"$name read $read upstream rows after resume, expected only the $newRows " +
        s"committed after batch $reached")
    }
    // batch recompute over the LWW-final source state
    val w = org.apache.spark.sql.expressions.Window.partitionBy("key").orderBy(col("ts").desc, col("seq").desc)
    spark.read.schema(ChangeFeed.schema).json(src)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select(col("payload")("city").as("city"), col("payload")("amount").cast("double").as("amount"))
      .filter(col("amount") > 10)
      .createOrReplaceTempView("vcfeedmig_base")
    deps.foreach { case (name, sql, _) =>
      val cols = cat2.view(name).get.cols
      val want = spark.sql(sql.replace("FROM base", "FROM vcfeedmig_base")).collect()
        .map(r => cols.map(c => String.valueOf(r.getAs[Any](c)))).toSet
      assert(snapRows(cat2, name, cols) == want, s"$name after resume: ${snapRows(cat2, name, cols)} vs $want")
    }
    cat2.stopAll()
  }
}
