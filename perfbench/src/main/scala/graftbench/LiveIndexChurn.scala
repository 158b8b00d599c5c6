package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.{AnnIndexView, BitmapIndexView, IndexStoreOps, PostingIndexView}

/** live-index-churn: one client folds seeded I/U/D batches into the
  * posting, ann and bitmap stores with `updateBatch`, then runs a fixed
  * probe set; `IndexStoreOps.compactIfNeeded` runs every few steps.
  */
object LiveIndexChurn {
  /** (family, store kind, input file prefix). */
  val families = Seq(("posting", "posting", "docs"), ("ann", "ann", "vecs"), ("bitmap", "bitmap", "orders"))
  val probes = Seq("phrase", "bm25", "ann", "bitmap")
  val compactEvery = 4
  /** The tail percentile of probe latency (a run makes ~40 probes). */
  val tailP = 0.75

  def fold(kind: String, batch: DataFrame, root: String): Unit = kind match {
    case "posting" => PostingIndexView.updateBatch(batch.withColumnRenamed("key", "doc_id")
      .withColumnRenamed("value", "text"), root)
    case "ann" => AnnIndexView.updateBatch(batch.withColumnRenamed("key", "vec_id")
      .withColumnRenamed("value", "embedding"), root)
    case "bitmap" => BitmapIndexView.updateBatch(batch, root)
  }

  /** One probe's collected answer, as sorted strings. */
  def probe(spark: SparkSession, name: String, roots: Map[String, String], queries: DataFrame): Seq[String] = {
    val df = name match {
      case "phrase" => PostingIndexView.phraseSearch(spark, roots("posting"),
        Seq(Seq("spark", "stream"), Seq("key", "value", "join")))
      case "bm25" => PostingIndexView.bm25Live(spark, roots("posting"), Seq("spark", "window", "merge"))
      case "ann" => AnnIndexView.similarTo(spark, roots("ann"), queries)
      case "bitmap" => BitmapIndexView.readIndex(spark, roots("bitmap"))
        .groupBy("val").agg(sum(bit_count(col("bits"))).as("n"))
    }
    df.collect().map(_.toString).toSeq.sorted
  }

  private def base(spark: SparkSession, inputs: String, prefix: String): DataFrame =
    spark.read.parquet(s"$inputs/${prefix}_base.parquet")
      .select(lit("I").as("op"), col("key"), col("value"), lit(1000L).as("tsUs"), col("key").as("seq"))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.result
    val tr = ctx.tracer
    val roots = families.map { case (f, _, _) => f -> s"${ctx.work}/index/$f" }.toMap
    val queries = spark.read.parquet(s"${ctx.inputs}/ann_queries.parquet")
    def batch(prefix: String, i: Int) = spark.read.parquet(f"${ctx.inputs}/${prefix}_$i%03d.parquet")
    val manifest = scala.io.Source.fromFile(s"${ctx.inputs}/manifest.tsv")
    val rows = try manifest.getLines().map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap
      finally manifest.close()
    val steps = rows.keys.count(_.matches("docs_\\d+\\.parquet"))

    // set-up: build each store from its base corpus, then `warm` steps
    val tb = System.nanoTime()
    families.foreach { case (f, kind, prefix) => fold(kind, base(spark, ctx.inputs, prefix), roots(f)) }
    res.layer("index.build_ms", Stats.ms(System.nanoTime() - tb), "ms")

    val folds, probeLat = mutable.ArrayBuffer.empty[Double]
    val stepMs = Seq(mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
    val written = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var changes = 0L
    var busyS = 0.0
    def step(i: Int, measured: Boolean): Unit = {
      val t0 = System.nanoTime()
      families.foreach { case (f, kind, prefix) =>
        val b = batch(prefix, i)
        val n = rows(f"${prefix}_$i%03d.parquet")
        val before = if (tr.on) files(roots(f)) else Map.empty[Path, Long]
        val ok = res.op(folds)(tr.span(s"index.$f.fold", i)(fold(kind, b, roots(f))))
        if (ok && measured) changes += n
        if (tr.on) written.getOrElseUpdate(f, mutable.ArrayBuffer.empty) +=
          files(roots(f)).collect { case (p, s) if !before.get(p).contains(s) => s.toDouble }.sum
      }
      probes.foreach { p =>
        res.op(probeLat)(tr.span(s"index.$p.probe", i)(probe(spark, p, roots, queries)))
      }
      if (i % compactEvery == 0) tr.span("index.compact", i) {
        families.foreach { case (f, kind, _) => IndexStoreOps.compactIfNeeded(spark, kind, roots(f)) }
      }
      if (measured) busyS += (System.nanoTime() - t0) / 1e9
    }
    val warm = ctx.warm
    val tw = System.nanoTime()
    (0 until warm).foreach(i => step(i, measured = false))
    res.layer("setup.warm_ms", Stats.ms(System.nanoTime() - tw), "ms")
    res.setupEndMs = System.currentTimeMillis()
    res.checks("warm_up_ops") = res.failed == 0
    res.attempted = 0
    res.failed = 0
    folds.clear()
    probeLat.clear()

    ctx.exec.foreach(_.reset())
    var last = warm - 1
    var measuredSteps = 0
    Main.closedLoop(ctx.seconds) { k =>
      val i = warm + k
      tr.on = tr.enabled && k % 2 == 0
      val t0 = System.nanoTime()
      step(i, measured = true)
      stepMs(k % 2) += Stats.ms(System.nanoTime() - t0)
      last = i
      measuredSteps += 1
      i + 1 < steps
    }
    tr.on = tr.enabled

    res.metric("throughput_per_s", changes / busyS, "1/s")
    res.metric("latency_p50_ms", Stats.median(folds.toSeq), "ms")
    res.metric("latency_tail_ms", Stats.quantile(probeLat.toSeq, tailP), "ms")
    res.metric("read_p50_ms", Stats.median(probeLat.toSeq), "ms")
    res.notes("samples") = s"${folds.size} folds, ${probeLat.size} probes"

    if (tr.enabled) {
      Main.readExec(ctx, measuredSteps)
      families.foreach { case (f, kind, _) =>
        val census = IndexStoreOps.fileCensus(spark, kind, roots(f))
        res.layer(s"index.$f.fold_ms", Stats.median(tr.durations(s"index.$f.fold")), "ms")
        res.layer(s"index.$f.bytes_written", Stats.median(written.getOrElse(f, Nil).toSeq), "bytes")
        res.layer(s"index.$f.files", census.map(_.files).sum.toDouble, "count")
        res.layer(s"index.$f.flagged_leaves", census.count(_.flagged).toDouble, "count")
      }
      probes.foreach(p => res.layer(s"index.$p.probe_ms", Stats.median(tr.durations(s"index.$p.probe")), "ms"))
      val compact = tr.durations("index.compact")
      res.layer("index.compact_ms", if (compact.isEmpty) 0.0 else Stats.median(compact), "ms")
      SnapshotMix.traceOverhead(res, stepMs(0).toSeq, stepMs(1).toSeq)
    }

    // correctness: the final probes equal the same probes on a one-shot
    // rebuild from the LWW-final corpus of everything folded
    val rebuilt = families.map { case (f, kind, prefix) =>
      val all = (0 to last).map(i => batch(prefix, i)).foldLeft(base(spark, ctx.inputs, prefix))(_ unionByName _)
      val w = Window.partitionBy("key").orderBy(col("tsUs").desc, col("seq").desc)
      val live = all.withColumn("rn", row_number().over(w)).filter(col("rn") === 1 && col("op") =!= "D")
        .select(lit("I").as("op"), col("key"), col("value"), lit(1000L).as("tsUs"), col("key").as("seq"))
      val root = s"${ctx.work}/rebuild/$f"
      fold(kind, live, root)
      f -> root
    }.toMap
    probes.foreach { p =>
      val got = probe(spark, p, roots, queries)
      val want = probe(spark, p, rebuilt, queries)
      res.checks(s"probe_$p") = got == want && got.nonEmpty
      if (got != want) System.err.println(s"[graftbench] probe $p: ${got.take(3)} vs ${want.take(3)}")
    }
  }

  /** Every parquet file under `root` with its size. */
  private def files(root: String): Map[Path, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(f => f -> Files.size(f)).toMap
      finally s.close()
    }
  }
}
