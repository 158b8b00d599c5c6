package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec

/** The read contract of a [[FeedSink]] feed through its commit markers
  * ([[FeedSource]], [[FeedSink.readBatches]]): an idle tail costs no Spark
  * job at any history length, a snapshot plans without listing or schema
  * jobs, a batch is delivered only once its marker lands, and a
  * re-stamped replay of a batch id the tail has passed is not delivered
  * again.
  */
class FeedSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val base = new java.io.File("target/streaming-tmp").toPath.toAbsolutePath
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix).toString
  }

  private def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)

  private def batch(keys: Seq[Long], tag: String, at: Int): DataFrame =
    keys.map(k => Change("insert", k, ts(at), Map("region" -> s"r${k % 3}", "tag" -> tag), at.toLong))
      .toDF()

  /** Jobs started while `body` runs, keeping those `keep` accepts. */
  private def jobsDuring(keep: SparkListenerJobStart => Boolean)(body: => Unit): Seq[SparkListenerJobStart] = {
    val seen = mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (keep(e)) seen.synchronized(seen += e)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus is asynchronous: let it drain before reading
      Thread.sleep(300)
    } finally spark.sparkContext.removeSparkListener(l)
    seen.synchronized(seen.toSeq)
  }

  private def describe(jobs: Seq[SparkListenerJobStart]): Seq[String] =
    jobs.map(j => Option(j.properties.getProperty("spark.job.description"))
      .getOrElse(j.stageInfos.map(_.name).mkString(",")))

  /** A tail of `feed` that keeps every delivered change in memory. */
  private def tail(feed: String, name: String): StreamingQuery =
    FeedSink.readChangeFeed(spark, feed).writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp(s"${name}_ck")).start()

  private def delivered(name: String): Seq[(Long, String)] =
    spark.table(name).select(col("key"), col("payload")("tag")).as[(Long, String)].collect().toSeq.sorted

  test("#150e a caught-up tail over 40 committed batches starts no Spark job while idle; a snapshot plans without listing or schema jobs") {
    val up = tmp("fsrc_idle")
    // 40 committed upstream batches in one write, then their markers
    (0 until 40).map(b => batch(Seq(b.toLong, b + 100L), s"b$b", b).withColumn("batch_id", lit(b.toLong)))
      .reduce(_ union _)
      .select(col("batch_id"), col("op"), col("key"), expr("unix_micros(ts)").as("ts_us"),
        col("seq"), col("payload"))
      .write.mode("append").partitionBy("batch_id").parquet(up)
    (0 until 40).foreach(b => FeedSink.commitMarker(up, b.toLong))

    val (changes, _) = IncrementalPlanner.namedChanges(spark,
      "SELECT region, count(*) AS n FROM up GROUP BY region", Map("up" -> FeedSink.readChangeFeed(spark, up)))
    val out = tmp("fsrc_idle_out")
    val q = changes.toDF().writeStream.outputMode("append")
      .option("checkpointLocation", tmp("fsrc_idle_ck"))
      .foreachBatch { (b: DataFrame, id: Long) => FeedSink.writeChangeBatch(b, id, out) }
      .start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.map(_.numInputRows).sum == 80L, "the tail must read all 40 batches")
      val idle = jobsDuring(_.properties.getProperty("sql.streaming.queryId") == q.id.toString) {
        Thread.sleep(2000)
      }
      assert(idle.isEmpty, s"an idle tail started ${idle.size} Spark jobs: ${describe(idle).take(3)}")
    } finally q.stop()

    spark.sparkContext.setJobGroup("fsrc_snapshot", "snapshot of a 40-batch feed")
    try {
      var snap: DataFrame = null
      val planning = jobsDuring(_ => true) { snap = FeedSink.stateAsOf(spark, up, Long.MaxValue) }
      assert(planning.isEmpty, s"building the snapshot started jobs: ${describe(planning)}")
      var rows = 0L
      val running = jobsDuring(_.properties.getProperty("spark.jobGroup.id") == "fsrc_snapshot") {
        rows = snap.count()
      }
      assert(rows == 80L)
      assert(!describe(running).exists(_.contains("Listing leaf files")),
        s"the snapshot listed the feed through a Spark job: ${describe(running)}")
      // time travel scans only the batches up to its bound
      val asOf = FeedSink.stateAsOf(spark, up, 4L).queryExecution.executedPlan.toString
      assert(asOf.contains("FeedFileIndex(5 paths)"), s"as-of 4 must scan batches 0..4 only:\n$asOf")
    } finally spark.sparkContext.clearJobGroup()
  }

  test("#150f streaming isolation: a partition without its marker is not delivered until the marker lands") {
    val up = tmp("fsrc_marker")
    FeedSink.writeChangeBatch(batch(Seq(1L, 2L), "b0", 0), 0L, up)
    val q = tail(up, "fsrc_marker_tail")
    try {
      q.processAllAvailable()
      assert(delivered("fsrc_marker_tail") == Seq(1L -> "b0", 2L -> "b0"))
      // batch 1's files are fully written, its marker is not: the
      // writer's pre-commit window, or a crash inside it
      FeedSink.writeChangeBatch(batch(Seq(3L), "b1", 1), 1L, up)
      Files.delete(java.nio.file.Paths.get(up, "_graft_commits", "1"))
      q.processAllAvailable()
      assert(delivered("fsrc_marker_tail") == Seq(1L -> "b0", 2L -> "b0"),
        "an unmarked partition reached the tail")
      FeedSink.commitMarker(up, 1L)
      q.processAllAvailable()
      assert(delivered("fsrc_marker_tail") == Seq(1L -> "b0", 2L -> "b0", 3L -> "b1"),
        "the marker must deliver the whole batch")
    } finally q.stop()
  }

  test("#150g exactly-once by batch id: a re-stamped replay of a consumed batch is not delivered again") {
    val up = tmp("fsrc_replay")
    (0 to 2).foreach(b => FeedSink.writeChangeBatch(batch(Seq(b.toLong), s"b$b", b), b.toLong, up))
    val q = tail(up, "fsrc_replay_tail")
    try {
      q.processAllAvailable()
      val before = delivered("fsrc_replay_tail")
      assert(before == Seq(0L -> "b0", 1L -> "b1", 2L -> "b2"))
      val seen = q.recentProgress.length
      // a crash-replay of batch 1: fresh files and a re-stamped marker
      FeedSink.writeChangeBatch(batch(Seq(1L), "b1", 1), 1L, up)
      q.processAllAvailable()
      assert(q.recentProgress.drop(seen).forall(_.numInputRows == 0L),
        s"the replayed batch was read again: ${q.recentProgress.drop(seen).map(_.numInputRows).toSeq}")
      assert(delivered("fsrc_replay_tail") == before, "the replayed batch was delivered twice")
      // the tail is live: the next batch id arrives alone
      FeedSink.writeChangeBatch(batch(Seq(3L), "b3", 3), 3L, up)
      q.processAllAvailable()
      assert(delivered("fsrc_replay_tail") == before :+ (3L -> "b3"))
    } finally q.stop()
  }
}
