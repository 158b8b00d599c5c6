package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Ad-hoc profiler for the live-index STORE BUILDS (the store_build_sec
  * split in the bench artifact): replays the same deterministic I/U/D
  * feeds the driver queries replay, timing each micro-batch fold and
  * reporting store file counts — the measurement §1 of the optimization
  * guide asks for before touching updateBatch.
  *
  * `runMain graft.tools.ProfileLive <sfDir> <family>` with family in
  * {ivf, bitmap}.
  */
object ProfileLive {
  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val family = if (args.length > 1) args(1) else "ivf"
    val cpus   = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    GraftSession.staticTuning.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r  = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    def countFiles(root: String): Unit = {
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.isDirectory(p)) {
        val all = java.nio.file.Files.walk(p).iterator()
        var files = 0L; var dirs = 0L
        while (all.hasNext) {
          val f = all.next()
          if (java.nio.file.Files.isDirectory(f)) dirs += 1 else files += 1
        }
        println(s"[profile] store $root: $files files in $dirs dirs")
      }
    }

    graft.streaming.LocatorStore(family) match {
      case graft.streaming.IvfIndexView =>
        val root = java.nio.file.Files.createTempDirectory("prof_ivf").toString
        val e = graft.sources.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
        timed("create (train quantizer)") {
          graft.streaming.IvfIndexView.create(spark, root, e, k = 16, iters = 2)
        }
        def ins(pred: org.apache.spark.sql.Column) = e.filter(pred).select(
          lit("I").as("op"), col("vec_id"), col("embedding"),
          lit(1000L).as("tsUs"), col("vec_id").as("seq"))
        val upd = e.filter(col("vec_id") % 11 === 5).select(
          lit("U").as("op"), col("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"),
          lit(2000L).as("tsUs"), col("vec_id").as("seq"))
        val del = e.filter(col("vec_id") % 7 === 3).select(
          lit("D").as("op"), col("vec_id"), col("embedding"),
          lit(3000L).as("tsUs"), col("vec_id").as("seq"))
        Seq(
          ins(col("vec_id") % 3 === 0),
          ins(col("vec_id") % 3 === 1).unionByName(ins(col("vec_id") % 6 === 0)),
          ins(col("vec_id") % 3 === 2),
          upd, del, ins(lit(true)),
        ).zipWithIndex.foreach { case (b, i) =>
          timed(s"updateBatch $i") {
            graft.streaming.IvfIndexView.updateBatch(b, root, keyBuckets = 16, batchId = i.toLong)
          }
        }
        countFiles(root)
      case graft.streaming.BitmapIndexView =>
        val root = java.nio.file.Files.createTempDirectory("prof_bm").toString
        val o = graft.sources.Tables.orders(spark, sfDir)
          .select(col("o_orderkey").as("key"), col("o_orderpriority").as("value"))
        def ins(pred: org.apache.spark.sql.Column) = o.filter(pred).select(
          lit("I").as("op"), col("key"), col("value"),
          lit(1000L).as("tsUs"), col("key").as("seq"))
        val upd = o.filter(col("key") % 13 === 5).select(
          lit("U").as("op"), col("key"), lit("5-LOW").as("value"),
          lit(2000L).as("tsUs"), col("key").as("seq"))
        val del = o.filter(col("key") % 17 === 3).select(
          lit("D").as("op"), col("key"), col("value"),
          lit(3000L).as("tsUs"), col("key").as("seq"))
        Seq(
          ins(col("key") % 3 === 0),
          ins(col("key") % 3 === 1).unionByName(ins(col("key") % 6 === 0)),
          ins(col("key") % 3 === 2),
          upd, del, ins(lit(true)),
        ).zipWithIndex.foreach { case (b, i) =>
          timed(s"updateBatch $i") {
            graft.streaming.BitmapIndexView.updateBatch(b, root, 32)
          }
        }
        countFiles(root)
      case other => sys.error(s"no store-build profile for family ${other.kind}")
    }
    spark.stop()
  }
}
