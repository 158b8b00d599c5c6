package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions.l2Norm
import graft.operators.Similarity

case class VecChg(op: String, vec_id: Long, embedding: Array[Float], tsUs: Long, seq: Long)

/** #337: the live LSH index equals the batch rebuild after a mixed
  * I/U/D feed — under uneven micro-batch splits, in-batch duplicates,
  * cross-batch OUT-OF-ORDER stale changes (incl. a late re-insert of a
  * deleted key, rejected by its tombstone), and replays; and a
  * single-key update touches only its own bucket partitions.
  */
class AnnIndexViewSpec extends SparkSpec {
  private def tmp(prefix: String): String =
    Files.createTempDirectory(
      Paths.get("target/streaming-tmp").toAbsolutePath, prefix).toString

  private def bucketFiles(root: String): Map[String, Set[String]] = {
    val dir = Paths.get(s"$root/data")
    Files.list(dir).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("bucket="))
      .map { p =>
        p.getFileName.toString -> Files.list(p).iterator().asScala
          .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      }.toMap
  }

  test("#337 live ANN index ≡ batch rebuild under I/U/D, out-of-order, replay; probes pruned to touched buckets") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().sortBy(_._1)
    assert(vecs.length >= 40, "spec needs a non-trivial corpus")
    def neg(v: Array[Float]): Array[Float] = v.map(x => -x)

    def chg(op: String, id: Long, emb: Array[Float], ts: Long): VecChg = VecChg(op, id, emb, ts, id)
    val byId = vecs.toMap

    val b1: Seq[VecChg] = vecs.take(30).toSeq.map { case (id, e) => chg("I", id, e, 1000L) } ++
      Seq(chg("I", 0L, byId(0L), 1000L)) // in-batch duplicate delivery
    val b2: Seq[VecChg] = vecs.drop(30).toSeq.map { case (id, e) => chg("I", id, e, 1000L) } ++
      Seq(chg("U", 2L, neg(byId(2L)), 5000L), chg("D", 4L, byId(4L), 6000L))
    val b3: Seq[VecChg] = Seq(
      chg("U", 2L, byId(3L), 900L),  // stale: must lose to the ts=5000 update
      chg("I", 4L, byId(4L), 800L),  // stale re-insert of a DELETED key: tombstone rejects
      chg("U", 6L, neg(byId(6L)), 7000L)) // fresh: moves key 6 to its complement bucket

    val root = tmp("annidx")
    val input = MemoryStream[VecChg]
    val feed = input.toDF()
    val q = AnnIndexView.maintain(feed, root, tmp("annck"), numPlanes = 8, keyBuckets = 8).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()

    // expected final corpus, folded by hand
    val finalVecs: Map[Long, Array[Float]] =
      (vecs.toMap - 4L) + (2L -> neg(byId(2L))) + (6L -> neg(byId(6L)))
    def rebuildDf(m: Map[Long, Array[Float]]) =
      Similarity.withHyperplaneBucket(
          m.toSeq.toDF("vec_id", "embedding"), 8)
        .withColumn("norm", l2Norm(col("embedding")))
        .select(col("bucket").cast("int"), col("vec_id"), col("embedding"), col("norm"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toList, r.getDouble(3))).toSet

    val live = rows(AnnIndexView.readIndex(spark, root))
    assert(live == rows(rebuildDf(finalVecs)),
      "live index must equal the batch rebuild of the folded final corpus")

    // probe parity: the live store answers exactly like a one-shot rebuild store
    val root2 = tmp("annidx2")
    AnnIndexView.updateBatch(
      finalVecs.toSeq.map { case (id, e) => VecChg("I", id, e, 1L, id) }.toDF(),
      root2, numPlanes = 8, keyBuckets = 8)
    val queries = finalVecs.toSeq.filter(_._1 < 6).toDF("query_id", "embedding")
    def probe(r: String) = AnnIndexView.similarTo(spark, r, queries, k = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3))).toSet
    val liveProbe = probe(root)
    assert(liveProbe == probe(root2), "live probe must equal the rebuild-store probe")
    assert(liveProbe.nonEmpty && !liveProbe.exists(_._2 == 4L),
      "deleted key must never surface as a neighbor")

    // replay the whole of b2 late: every change is stale or identical — no state motion
    AnnIndexView.updateBatch(
      b2.toDF(), root, 8, 8)
    assert(rows(AnnIndexView.readIndex(spark, root)) == rows(rebuildDf(finalVecs)),
      "replaying an applied batch must not move the index")

    // single-key update rewrites ONLY its two bucket partitions
    val before = bucketFiles(root)
    val oldBucket = AnnIndexView.readIndex(spark, root)
      .filter(col("vec_id") === 10L).collect().head.getInt(0)
    AnnIndexView.updateBatch(
      Seq(chg("U", 10L, neg(byId(10L)), 9000L)).toDF(),
      root, 8, 8)
    val after = bucketFiles(root)
    val newBucket = AnnIndexView.readIndex(spark, root)
      .filter(col("vec_id") === 10L).collect().head.getInt(0)
    assert(newBucket == (oldBucket ^ 0xff), "negation must move the key to its complement bucket")
    val touchedDirs = Set(s"bucket=$oldBucket", s"bucket=$newBucket")
    (before.keySet ++ after.keySet).filterNot(touchedDirs).foreach { d =>
      assert(before.get(d) == after.get(d), s"untouched partition $d was rewritten")
    }
    assert(rows(AnnIndexView.readIndex(spark, root)) ==
      rows(rebuildDf(finalVecs + (10L -> neg(byId(10L))))),
      "index after the single-key update must equal its rebuild")
  }
}
