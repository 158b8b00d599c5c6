package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.{Change, ChangeFeed, FeedSink, ViewCatalog}

/** changefeed-views: one client publishes one CDC file per step into a
  * `ViewCatalog` source (read with maxFilesPerTrigger=1), waits until both
  * leaf views (`region_totals`, a view over `agg`, and `leaders`) have
  * committed it through FeedSink, then reads `region_totals` through
  * `ViewCatalog.snapshot`.
  */
object ChangefeedViews {
  val views: Seq[(String, String)] = Seq(
    "agg" -> ("SELECT g, region, count(*) AS n, sum(amount) AS total FROM t " +
      "WHERE amount > 10 GROUP BY g, region"),
    "region_totals" -> "SELECT region, count(*) AS n_groups, sum(total) AS total FROM agg GROUP BY region",
    "leaders" -> ("SELECT g, name, rn FROM (SELECT g, name, " +
      "row_number() OVER (PARTITION BY g ORDER BY score DESC) AS rn FROM t) x WHERE rn <= 3"))

  /** One progress event of one view, as the engine reported it. */
  final case class Progress(view: String, batch: Long, startMs: Long, durations: Map[String, Long],
      stateCommitMs: Long, stateRows: Long, stateBytes: Long)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val res = ctx.result
    val tr = ctx.tracer
    val src = s"${ctx.work}/feed_src"
    Files.createDirectories(Paths.get(src))
    val manifest = scala.io.Source.fromFile(s"${ctx.inputs}/manifest.tsv")
    val files = try manifest.getLines().map(_.split("\t")).map(a => (a(0), a(1).toLong)).toVector
      finally manifest.close()

    val progress = mutable.ArrayBuffer.empty[Progress]
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators
        progress.synchronized {
          progress += Progress(Option(p.name).getOrElse("").stripPrefix("graft_view_"), p.batchId,
            java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
        }
      }
    }
    if (tr.enabled) spark.streams.addListener(listener)

    val catalog = new ViewCatalog(spark, s"${ctx.work}/catalog")
    catalog.registerSource("t", () => spark.readStream.schema(ChangeFeed.schema)
      .option("maxFilesPerTrigger", "1").json(src)
      .withColumn("seq", coalesce(col("seq"), lit(0L))).as[Change])
    val tc = System.nanoTime()
    views.foreach { case (name, sql) => catalog.createView(name, sql) }
    res.layer("catalog.create_view_ms", Stats.ms(System.nanoTime() - tc), "ms")
    val queries = views.map { case (n, _) => n -> catalog.view(n).get.query }.toMap

    val publishAt = mutable.Map.empty[Int, Long]
    def publish(i: Int): Unit = {
      val (name, _) = files(i)
      val tmp = Paths.get(src, s".$name.tmp")
      Files.copy(Paths.get(ctx.inputs, name), tmp)
      publishAt(i) = System.currentTimeMillis()
      Files.move(tmp, Paths.get(src, name), StandardCopyOption.ATOMIC_MOVE)
    }
    def awaitCommit(i: Int): Unit = tr.span("feed.await_commit", i) {
      Seq("agg", "leaders", "region_totals").foreach(v => queries(v).processAllAvailable())
    }

    // set-up: the bootstrap file (every live key inserted), then `warm` steps
    val tw = System.nanoTime()
    publish(0)
    awaitCommit(0)
    val warm = ctx.warm
    val warmMs = (1 to warm).map { i =>
      val t = System.nanoTime()
      publish(i); awaitCommit(i)
      val c = Stats.ms(System.nanoTime() - t)
      catalog.snapshot("region_totals").collect()
      c
    }
    res.notes("warm_commit_ms") = warmMs.map(_.round).mkString(",")
    res.layer("setup.warm_ms", Stats.ms(System.nanoTime() - tw), "ms")
    res.setupEndMs = System.currentTimeMillis()

    val commit, read = mutable.ArrayBuffer.empty[Double]
    val stepMs = Seq(mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
    val hop, filesPer, bytesPer = mutable.ArrayBuffer.empty[Double]
    var changes = 0L
    val first = warm + 1
    var last = warm
    ctx.exec.foreach(_.reset())
    progress.synchronized(progress.clear())
    val elapsed = Main.closedLoop(ctx.seconds) { k =>
      val i = first + k
      tr.on = tr.enabled && k % 2 == 0
      val ts = System.nanoTime()
      val ok = res.op(commit) {
        tr.span("ingest.write", i)(publish(i))
        awaitCommit(i)
      }
      if (ok) changes += files(i)._2
      res.op(read) {
        tr.span("catalog.read", i) {
          val df = tr.span("catalog.snapshot", i)(catalog.snapshot("region_totals"))
          df.collect()
        }
      }
      stepMs(k % 2) += Stats.ms(System.nanoTime() - ts)
      last = i
      if (tr.on) {
        val times = Seq("agg", "region_totals").map(v =>
          FeedSink.committedBatchTimes(s"${ctx.work}/catalog/views/$v/feed"))
        if (times.forall(_.nonEmpty)) hop += (times(1)(times(1).keys.max) - times(0)(times(0).keys.max))
        val (f, b) = views.map { case (v, _) =>
          val feed = Paths.get(s"${ctx.work}/catalog/views/$v/feed")
          val latest = FeedSink.committedBatches(feed.toString).max
          val dir = feed.resolve(s"batch_id=$latest")
          if (Files.isDirectory(dir)) {
            val parts = Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
            (parts.size.toDouble, parts.map(Files.size).sum.toDouble)
          } else (0.0, 0.0)
        }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
        filesPer += f
        bytesPer += b
      }
      i + 1 < files.size
    }
    tr.on = tr.enabled

    res.metric("throughput_per_s", changes / elapsed, "1/s")
    res.metric("latency_p50_ms", Stats.median(commit.toSeq), "ms")
    res.metric("latency_tail_ms", Stats.quantile(commit.toSeq, tailP), "ms")
    res.metric("read_p50_ms", Stats.median(read.toSeq), "ms")
    res.notes("samples") = commit.size.toString
    res.notes("commits") = commit.map(_.round).mkString(",")
    res.notes("changes_per_step") = (changes.toDouble / math.max(commit.size, 1)).toString

    if (tr.enabled) {
      Main.readExec(ctx, commit.size)
      val measured = progress.synchronized(progress.toSeq)
      res.layer("ingest.write_ms", Stats.median(tr.durations("ingest.write")), "ms")
      // pickup: publish to the start of the source views' batch for that file
      val pickup = measured.filter(p => p.view == "agg" || p.view == "leaders")
        .filter(p => p.durations.getOrElse("addBatch", 0L) > 0)
        .flatMap { p =>
          publishAt.values.filter(_ <= p.startMs).maxOption.map(t => (p.startMs - t).toDouble)
        }
      res.layer("ingest.pickup_ms", Stats.median(pickup), "ms")
      views.foreach { case (v, _) =>
        val ps = measured.filter(p => p.view == v && p.durations.getOrElse("addBatch", 0L) > 0)
        def med(k: String) = Stats.median(ps.map(_.durations.getOrElse(k, 0L).toDouble))
        res.layer(s"view.$v.add_batch_ms", med("addBatch"), "ms")
        res.layer(s"view.$v.planning_ms", med("queryPlanning"), "ms")
        res.layer(s"view.$v.latest_offset_ms", med("latestOffset"), "ms")
        res.layer(s"view.$v.wal_commit_ms", med("walCommit"), "ms")
        res.layer(s"view.$v.commit_offsets_ms", med("commitOffsets"), "ms")
        res.layer(s"view.$v.state_commit_ms", Stats.median(ps.map(_.stateCommitMs.toDouble)), "ms")
        res.layer(s"view.$v.state_rows", ps.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count")
        res.layer(s"view.$v.state_bytes", ps.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0), "bytes")
      }
      res.layer("feedsink.hop_ms", Stats.median(hop.toSeq), "ms")
      res.layer("feedsink.files_per_batch", Stats.median(filesPer.toSeq), "count")
      res.layer("feedsink.bytes_per_batch", Stats.median(bytesPer.toSeq), "bytes")
      res.layer("catalog.snapshot_ms", Stats.median(tr.durations("catalog.snapshot")), "ms")
      val sinkRows = spark.read.parquet(s"${ctx.work}/catalog/views/region_totals/feed").count()
      val liveRows = catalog.snapshot("region_totals").count()
      res.layer("catalog.rows_scanned_per_row", sinkRows.toDouble / math.max(liveRows, 1L), "ratio")
      SnapshotMix.traceOverhead(res, stepMs(0).toSeq, stepMs(1).toSeq)
    }

    // correctness: each view equals batch SQL over the LWW-final state of
    // everything published (the prefix-consistency guarantee)
    val published = (0 to last).map(i => s"$src/${files(i)._1}")
    val expected = batchViews(spark, published)
    views.foreach { case (v, _) =>
      val cols = catalog.view(v).get.cols
      val got = canon(catalog.snapshot(v).collect().toSeq, cols)
      val want = canon(expected(v).collect().toSeq, cols)
      res.checks(s"view_$v") = got == want
      if (got != want) System.err.println(s"[graftbench] view $v: ${got.size} rows vs " +
        s"${want.size} expected; first diff ${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
    catalog.stopAll()
    if (tr.enabled) spark.streams.removeListener(listener)
  }

  /** The tail percentile of commit latency. A 10 s run commits only
    * three to six steps, so this is not the ten-beyond tail: see README.md. */
  val tailP = 0.8

  /** Every view recomputed as batch SQL over the LWW-final source state. */
  def batchViews(spark: SparkSession, files: Seq[String]): Map[String, DataFrame] = {
    val w = Window.partitionBy("key").orderBy(col("ts").desc, col("seq").desc)
    val finalState = spark.read.schema(ChangeFeed.schema).json(files: _*)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1 && col("op") =!= "delete")
    finalState.select(
      col("payload")("g").as("g"), col("payload")("region").as("region"),
      col("payload")("name").as("name"), col("payload")("amount").cast("double").as("amount"),
      col("payload")("score").cast("long").as("score"))
      .createOrReplaceTempView("t")
    val agg = spark.sql(views(0)._2)
    agg.createOrReplaceTempView("agg")
    Map("agg" -> agg, "region_totals" -> spark.sql(views(1)._2), "leaders" -> spark.sql(views(2)._2))
  }

  /** Rows as sorted string tuples; numbers rounded to 4 decimals. */
  def canon(rows: Seq[Row], cols: Seq[String]): Seq[Seq[String]] =
    rows.map { r =>
      cols.map { c =>
        val v = r.get(r.fieldIndex(c))
        val s = if (v == null) "null" else v.toString
        s.toDoubleOption.map(d => BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString)
          .getOrElse(s)
      }
    }.sortBy(_.mkString("\u0000"))
}
