package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions.{dotLong, l2Norm, toMicro}
import graft.operators.Similarity

/** #356 (r15): the live IVF index equals the batch rebuild at the same
  * pinned centroids after a mixed I/U/D feed; the drift log is the
  * staleness signal (a corpus that moves away from the pinned cells
  * scores rising ratios); retrain re-centers, resets the baseline, and
  * the store still equals its rebuild; single-key updates rewrite only
  * their cell partitions.
  */
class IvfIndexViewSpec extends SparkSpec {
  private def tmp(prefix: String): String =
    Files.createTempDirectory(
      Paths.get("target/streaming-tmp").toAbsolutePath, prefix).toString

  private def cellFiles(root: String): Map[String, Set[String]] = {
    val dir = Paths.get(s"$root/data")
    Files.list(dir).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("cid="))
      .map { p =>
        p.getFileName.toString -> Files.list(p).iterator().asScala
          .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      }.toMap
  }

  test("#356 live IVF index ≡ batch assignment at pinned centroids; drift log rises with corpus motion; retrain resets") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().sortBy(_._1)
    assert(vecs.length >= 40, "spec needs a non-trivial corpus")
    def neg(v: Array[Float]): Array[Float] = v.map(x => -x)
    val byId = vecs.toMap
    def chg(op: String, id: Long, emb: Array[Float], ts: Long): VecChg = VecChg(op, id, emb, ts, id)

    val root = tmp("ivfidx")
    IvfIndexView.create(spark, root, vecs.toSeq.toDF("vec_id", "embedding"), k = 8, iters = 2)

    val b1 = vecs.take(30).map { case (id, e) => chg("I", id, e, 1000L) } ++
      Seq(chg("I", 0L, byId(0L), 1000L)) // in-batch duplicate
    val b2 = vecs.drop(30).map { case (id, e) => chg("I", id, e, 1000L) } ++
      Seq(chg("U", 2L, neg(byId(2L)), 5000L), chg("D", 4L, byId(4L), 6000L))
    val b3 = Seq(
      chg("U", 2L, byId(3L), 900L),  // stale: loses to ts=5000
      chg("I", 4L, byId(4L), 800L),  // stale re-insert of a deleted key
      chg("U", 6L, neg(byId(6L)), 7000L)) // fresh: moves cell

    val input = MemoryStream[VecChg]
    val q = IvfIndexView.maintain(input.toDF(), root, tmp("ivfck"), keyBuckets = 8).start()
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()

    val finalVecs: Map[Long, Array[Float]] =
      (vecs.toMap - 4L) + (2L -> neg(byId(2L))) + (6L -> neg(byId(6L)))

    // batch rebuild at the SAME pinned centroids: assign by the same
    // integer argmax, refolded here independently
    def rebuildRows(m: Map[Long, Array[Float]]): Set[(Int, Long, List[Float])] = {
      val cents = IvfIndexView.readCentroids(spark, root)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("score").desc, col("cid"))
      m.toSeq.toDF("vec_id", "embedding")
        .withColumn("xi", toMicro(col("embedding")))
        .crossJoin(broadcast(cents))
        .withColumn("score", lit(2L) * dotLong(col("xi"), col("ci")) - col("c2"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("cid"), col("vec_id"), col("embedding"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toList)).toSet
    }
    def liveRows(): Set[(Int, Long, List[Float])] =
      IvfIndexView.readIndex(spark, root).select("cid", "vec_id", "embedding")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toList)).toSet

    assert(liveRows() == rebuildRows(finalVecs),
      "live IVF index must equal the batch assignment at the pinned centroids")

    // replay all of b2: stale or identical — no state motion
    IvfIndexView.updateBatch(b2.toSeq.toDF(), root, 8)
    assert(liveRows() == rebuildRows(finalVecs), "replay must not move the index")

    // probe sanity: deleted key never surfaces; k nearest are cosine-ranked
    val queries = Seq((0L, byId(0L)), (1L, byId(1L))).toDF("query_id", "embedding")
    val probe = IvfIndexView.similarTo(spark, root, queries, k = 3, nprobe = 2).collect()
    assert(probe.nonEmpty && !probe.exists(_.getLong(1) == 4L),
      "deleted key must never surface as a neighbor")

    // single-key update rewrites ONLY its cell partitions
    val before = cellFiles(root)
    val oldCell = IvfIndexView.readIndex(spark, root)
      .filter(col("vec_id") === 10L).collect().head.getInt(0)
    IvfIndexView.updateBatch(Seq(chg("U", 10L, neg(byId(10L)), 9000L)).toDF(), root, 8)
    val newCell = IvfIndexView.readIndex(spark, root)
      .filter(col("vec_id") === 10L).collect().head.getInt(0)
    val after = cellFiles(root)
    val touched = Set(s"cid=$oldCell", s"cid=$newCell")
    (before.keySet ++ after.keySet).filterNot(touched).foreach { d =>
      assert(before.get(d) == after.get(d), s"untouched cell $d was rewritten")
    }

    // DRIFT: a batch of in-distribution vectors scores ~baseline; a
    // batch pushed far out of distribution scores a much higher ratio —
    // the staleness signal that schedules retraining
    IvfIndexView.updateBatch(
      vecs.take(10).toSeq.map { case (id, e) => chg("U", id, e.map(x => x * 60.0f), 20000L) }.toDF(),
      root, 8, batchId = 77L)
    val report = IvfIndexView.stalenessReport(spark, root)
      .filter(col("kind") === "batch").collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(report.contains(77L), s"drift log must carry the far batch: $report")
    assert(report(77L) > 10.0,
      s"far-out-of-distribution batch must score a high drift ratio: ${report(77L)}")
    // assignment CHURN: a negation batch relocates its updates to other
    // cells — moved/had_old is the symmetric-drift signal the error
    // ratio cannot see
    IvfIndexView.updateBatch(
      vecs.slice(12, 22).toSeq.map { case (id, e) => chg("U", id, neg(e), 21000L) }.toDF(),
      root, 8, batchId = 78L)
    val churn = IvfIndexView.stalenessReport(spark, root)
      .filter(col("kind") === "batch" && col("batch_id") === 78L)
      .collect().head
    assert(churn.getLong(6) == 10L, s"all ten updates had old cells: $churn")
    assert(churn.getLong(5) > 0L && !churn.isNullAt(7) && churn.getDouble(7) > 0.0,
      s"negation updates must register assignment churn: $churn")

    // RETRAIN: re-centers on the LIVE corpus, resets the baseline, and
    // the store equals its own rebuild at the NEW centroids
    IvfIndexView.retrain(spark, root, k = 8, iters = 2)
    val liveNow: Map[Long, Array[Float]] =
      (finalVecs + (10L -> neg(byId(10L)))) ++
        vecs.take(10).map { case (id, e) => id -> e.map(x => x * 60.0f) }.toMap ++
        vecs.slice(12, 22).map { case (id, e) => id -> neg(e) }.toMap
    assert(liveRows() == rebuildRows(liveNow),
      "after retrain the store must equal the batch assignment at the new centroids")
    val baselines = spark.read.parquet(s"$root/drift")
      .filter(col("kind") === "baseline").count()
    assert(baselines == 2L, "retrain must record a new baseline")
    // maintenance continues at the new centroids
    IvfIndexView.updateBatch(Seq(chg("U", 11L, neg(byId(11L)), 30000L)).toDF(), root, 8)
    assert(liveRows() == rebuildRows(liveNow + (11L -> neg(byId(11L)))),
      "maintenance at the new centroids must stay exact")
  }
}
