package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions.{dotLong, toMicro}

/** #369 (r16): the live PQ code table equals the batch re-encode at the
  * same pinned codebooks after a mixed I/U/D feed; replays are no-ops;
  * single-key updates rewrite only their kb partitions; the drift log
  * reads rising reconstruction error for out-of-distribution batches
  * and code churn for moved vectors; retrain (with the caller's
  * full-precision vectors) re-learns and resets the baseline.
  */
class PqIndexViewSpec extends SparkSpec {
  private def tmp(prefix: String): String =
    Files.createTempDirectory(
      Paths.get("target/streaming-tmp").toAbsolutePath, prefix).toString

  private def kbFiles(root: String): Map[String, Set[String]] = {
    val dir = Paths.get(s"$root/data")
    Files.list(dir).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("kb="))
      .map { p =>
        p.getFileName.toString -> Files.list(p).iterator().asScala
          .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      }.toMap
  }

  /** Independent refold: encode `m` at the store's pinned codebooks with
    * the argmax spelled out from scratch (slice → micro → 2·sv·c − |c|²,
    * ties → smallest code), j-ordered code arrays.
    */
  private def rebuildCodes(root: String, vecs: Map[Long, Array[Float]]): Set[(Long, List[Int])] = {
    import spark.implicits._
    val cb = PqIndexView.readCodebook(spark, root)
    val w = Window.partitionBy("vec_id", "j").orderBy(col("score").desc, col("code"))
    vecs.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), posexplode(expr(
        "transform(sequence(0, 3), j -> slice(embedding, j * (size(embedding) div 4) + 1, size(embedding) div 4))"))
        .as(Seq("j", "sv")))
      .select(col("vec_id"), col("j"), toMicro(col("sv")).as("svi"))
      .join(broadcast(cb), Seq("j"))
      .withColumn("score", lit(2L) * dotLong(col("svi"), col("cvi")) - col("c2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("j"), col("code")))).as("jc"))
      .select(col("vec_id"), transform(col("jc"), x => x.getField("code")).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet
  }

  private def liveCodes(root: String): Set[(Long, List[Int])] =
    PqIndexView.readIndex(spark, root).select("vec_id", "codes")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet

  test("#369 live PQ code table ≡ batch re-encode at pinned codebooks; kb-pruned updates; drift + churn signals; retrain resets") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().sortBy(_._1)
    assert(vecs.length >= 40, "spec needs a non-trivial corpus")
    def neg(v: Array[Float]): Array[Float] = v.map(x => -x)
    val byId = vecs.toMap
    def chg(op: String, id: Long, emb: Array[Float], ts: Long): VecChg = VecChg(op, id, emb, ts, id)

    val root = tmp("pqidx")
    PqIndexView.create(spark, root, vecs.toSeq.toDF("vec_id", "embedding"), m = 4, k = 8, iters = 2)

    val b1 = vecs.take(30).map { case (id, e) => chg("I", id, e, 1000L) } ++
      Seq(chg("I", 0L, byId(0L), 1000L)) // in-batch duplicate
    val b2 = vecs.drop(30).map { case (id, e) => chg("I", id, e, 1000L) } ++
      Seq(chg("U", 2L, neg(byId(2L)), 5000L), chg("D", 4L, byId(4L), 6000L))
    val b3 = Seq(
      chg("U", 2L, byId(3L), 900L),  // stale: loses to ts=5000
      chg("I", 4L, byId(4L), 800L),  // stale re-insert of a deleted key
      chg("U", 6L, neg(byId(6L)), 7000L)) // fresh

    val input = MemoryStream[VecChg]
    val q = PqIndexView.maintain(input.toDF(), root, tmp("pqck"), m = 4, keyBuckets = 8).start()
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()

    val finalVecs: Map[Long, Array[Float]] =
      (vecs.toMap - 4L) + (2L -> neg(byId(2L))) + (6L -> neg(byId(6L)))

    assert(liveCodes(root) == rebuildCodes(root, finalVecs),
      "live PQ codes must equal the batch re-encode at the pinned codebooks")

    // replay all of b2: stale or identical — no state motion
    PqIndexView.updateBatch(b2.toSeq.toDF(), root, 4, 8)
    assert(liveCodes(root) == rebuildCodes(root, finalVecs), "replay must not move the index")

    // probe: deleted key never surfaces; rerank against the live corpus
    val queries = Seq((0L, byId(0L)), (1L, byId(1L))).toDF("query_id", "embedding")
    val probe = PqIndexView.similarTo(spark, root, queries, k = 3, m = 4, rerank = 20,
      rerankWith = Some(finalVecs.toSeq.toDF("vec_id", "embedding"))).collect()
    assert(probe.nonEmpty && !probe.exists(_.getLong(1) == 4L),
      "deleted key must never surface as a neighbor")
    // ADC-only ranking also serves (no full-precision store required)
    val adcOnly = PqIndexView.similarTo(spark, root, queries, k = 3, m = 4, rerank = 20).collect()
    assert(adcOnly.nonEmpty && !adcOnly.exists(_.getLong(1) == 4L))

    // single-key update rewrites ONLY its kb partition (kb = id mod 8)
    val before = kbFiles(root)
    PqIndexView.updateBatch(Seq(chg("U", 10L, neg(byId(10L)), 9000L)).toDF(), root, 4, 8)
    val after = kbFiles(root)
    (before.keySet ++ after.keySet).filterNot(_ == "kb=2").foreach { d =>
      assert(before.get(d) == after.get(d), s"untouched partition $d was rewritten")
    }

    // DRIFT: a far-out-of-distribution batch reads a high error ratio
    PqIndexView.updateBatch(
      vecs.take(10).toSeq.map { case (id, e) => chg("U", id, e.map(x => x * 60.0f), 20000L) }.toDF(),
      root, 4, 8, batchId = 77L)
    val report = PqIndexView.stalenessReport(spark, root)
      .filter(col("kind") === "batch").collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(report.contains(77L) && report(77L) > 10.0,
      s"far batch must read a high reconstruction-error ratio: $report")
    // CODE CHURN: negation updates flip codes
    PqIndexView.updateBatch(
      vecs.slice(12, 22).toSeq.map { case (id, e) => chg("U", id, neg(e), 21000L) }.toDF(),
      root, 4, 8, batchId = 78L)
    val churn = PqIndexView.stalenessReport(spark, root)
      .filter(col("kind") === "batch" && col("batch_id") === 78L).collect().head
    assert(churn.getLong(6) == 10L, s"all ten updates replaced live rows: $churn")
    assert(churn.getLong(5) > 0L && churn.getDouble(7) > 0.0,
      s"negation updates must register code churn: $churn")

    // RETRAIN: new codebooks from the caller's full-precision corpus,
    // codes rewritten for every live key, baseline reset
    val liveNow: Map[Long, Array[Float]] =
      (finalVecs + (10L -> neg(byId(10L)))) ++
        vecs.take(10).map { case (id, e) => id -> e.map(x => x * 60.0f) }.toMap ++
        vecs.slice(12, 22).map { case (id, e) => id -> neg(e) }.toMap
    PqIndexView.retrain(spark, root, liveNow.toSeq.toDF("vec_id", "embedding"),
      m = 4, k = 8, iters = 2, keyBuckets = 8)
    assert(liveCodes(root) == rebuildCodes(root, liveNow),
      "after retrain the store must equal the re-encode at the new codebooks")
    assert(spark.read.parquet(s"$root/drift").filter(col("kind") === "baseline").count() == 2L,
      "retrain must record a new baseline")
    // maintenance continues at the new codebooks
    PqIndexView.updateBatch(Seq(chg("U", 11L, neg(byId(11L)), 30000L)).toDF(), root, 4, 8)
    assert(liveCodes(root) == rebuildCodes(root, liveNow + (11L -> neg(byId(11L)))),
      "maintenance at the new codebooks must stay exact")

    // RETRAIN POLICY (#366 on this family, the errRatio path —
    // reconstruction error is THE PQ staleness signal): a far-out-of-
    // distribution batch blows the cumulative error ratio past the
    // threshold → exactly one retrain (baseline 3), and a second check
    // at the fresh baseline is a no-op
    PqIndexView.updateBatch(
      vecs.slice(24, 34).toSeq.map { case (id, e) => chg("U", id, e.map(x => x * 80.0f), 22000L) }.toDF(),
      root, 4, 8, batchId = 79L)
    val pol = PqIndexView.RetrainPolicy(errRatio = 2.0, m = 4, k = 8, iters = 2)
    val liveAfter = liveNow + (11L -> neg(byId(11L))) ++
      vecs.slice(24, 34).map { case (id, e) => id -> e.map(x => x * 80.0f) }.toMap
    assert(PqIndexView.maybeRetrain(spark, root, pol,
      liveAfter.toSeq.toDF("vec_id", "embedding"), keyBuckets = 8),
      "cumulative reconstruction-error past the threshold must trigger a retrain")
    assert(spark.read.parquet(s"$root/drift").filter(col("kind") === "baseline").count() == 3L)
    assert(!PqIndexView.maybeRetrain(spark, root, pol,
      liveAfter.toSeq.toDF("vec_id", "embedding"), keyBuckets = 8),
      "the fresh baseline must not re-fire")
    assert(liveCodes(root) == rebuildCodes(root, liveAfter),
      "the policy-triggered retrain must keep live ≡ re-encode")

    // FORGET KEYS sweeps codes + locators (tombstones incl.)
    PqIndexView.updateBatch(Seq(chg("D", 12L, byId(12L), 31000L)).toDF(), root, 4, 8)
    val (parts, dropped) = PqIndexView.forgetKeys(spark, root, Seq(11L, 12L))
    assert(parts > 0L && dropped >= 3L, s"purge must drop code + locator rows: ($parts, $dropped)")
    assert(PqIndexView.keyTraces(spark, root, 11L) == 0L)
    assert(PqIndexView.keyTraces(spark, root, 12L) == 0L, "the tombstone must be gone")

    // ---- half-retrained store is detectable ----------------------------
    val marker = Paths.get(root, "_retrain_inprogress")
    Files.write(marker, Array.emptyByteArray)
    intercept[IllegalArgumentException] {
      PqIndexView.similarTo(spark, root, queries, k = 3, m = 4, rerank = 20).collect()
    }
    intercept[IllegalArgumentException] {
      PqIndexView.stalenessReport(spark, root).collect()
    }
    intercept[IllegalArgumentException] {
      PqIndexView.updateBatch(Seq(chg("U", 13L, neg(byId(13L)), 40000L)).toDF(), root, 4, 8)
    }
    // the recovery verb is retrain itself: it runs over the marker and
    // clears it, first finishing a crashed run's complete staging set
    Seq("data", "codebook").foreach(d => org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$root/$d"), new java.io.File(s"$root/$d.staged")))
    Files.write(Paths.get(root, "_staged_ready"), Array.emptyByteArray)
    val liveLast = liveAfter - 11L - 12L
    PqIndexView.retrain(spark, root, liveLast.toSeq.toDF("vec_id", "embedding"),
      m = 4, k = 8, iters = 2, keyBuckets = 8)
    assert(!Files.exists(marker))
    assert(Seq("_staged_ready", "data.staged", "codebook.staged")
      .forall(p => !Files.exists(Paths.get(root, p))), "recovery must finish the staged swap")
    assert(liveCodes(root) == rebuildCodes(root, liveLast),
      "retrain after a marker must restore live ≡ re-encode")
  }
}
