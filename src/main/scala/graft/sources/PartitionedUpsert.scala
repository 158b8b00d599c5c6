package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE INTO for a stock-parquet TABLE (SURVEY §2.5 #321) — the
  * PHYSICAL apply completing q63's logical merge: upsert/delete a
  * change batch into a big key-bucketed parquet table rewriting ONLY
  * the partitions the batch touches. This is the table-format MERGE
  * cost model (Delta/Iceberg rewrite touched files; here the unit is
  * the bucket partition) on plain parquet:
  *
  *  - the target lives at `root/` partitioned by `kb = pmod(key, buckets)`
  *    (any deterministic key bucketing works; `buckets` is fixed at
  *    table creation — it IS the table's merge granularity);
  *  - `merge` computes the batch's touched buckets DRIVER-side (a tiny
  *    distinct over the batch — the batch is the small side by
  *    assumption), reads ONLY those partitions of the target (partition
  *    pruning via the `kb IN (…)` filter — Spark never lists, opens, or
  *    schedules the untouched directories' files for scan), folds
  *    last-writer-wins per key ((ts, seq) LSN order, delete ops drop
  *    the key), and dynamic-partition-OVERWRITES just the touched
  *    directories. Untouched partitions are never rewritten — their
  *    files stay byte-identical, which the spec asserts by file listing.
  *
  * Cost ∝ touched partitions × partition size + batch size — NEVER the
  * table. At 100 TB with 10k buckets, a 1M-row batch touching 1k
  * buckets rewrites ~10% of the table instead of 100%; a hot-key batch
  * touching 3 buckets rewrites 0.03%. Visibility: dynamic partition
  * overwrite swaps each leaf atomically-enough for the single-writer
  * maintenance setting (the multi-writer/transactional tier is
  * FeedSink's commit-marker story, deliberately not duplicated here).
  *
  * Idempotent by construction: re-applying the same batch folds to the
  * same winners (LWW on the SAME (ts, seq) keys) and overwrites the
  * same partitions with identical content.
  */
object PartitionedUpsert {

  /** Create/replace the table from an initial snapshot keyed by `key`. */
  def createTable(df: DataFrame, root: String, buckets: Int): Unit =
    df.withColumn("kb", pmod(col("key"), lit(buckets.toLong)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("kb")
      .parquet(root)

  /** Apply one change batch (`op` ∈ insert/update/delete, `key`, `ts`,
    * `seq`, payload columns matching the table's data columns) onto the
    * table at `root`. Returns the touched bucket ids (sorted), mostly
    * for observability and the spec.
    */
  def merge(spark: SparkSession, batch: DataFrame, root: String, buckets: Int): Seq[Long] = {
    val kb = batch.select(pmod(col("key"), lit(buckets.toLong)).as("kb"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    if (kb.isEmpty) return kb
    // fold the BATCH to one winner per key first (a batch can carry a
    // key's whole history; only its LSN-max row may contend with the
    // table row)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("ts").desc, col("seq").desc)
    val batchWinners = batch
      .withColumn("kb", pmod(col("key"), lit(buckets.toLong)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val dataCols = batchWinners.columns.filterNot(Set("op").contains)
    // ONLY the touched partitions enter the fold — the IN-filter prunes
    // at planning time (PartitionFilters on the parquet scan)
    val current = spark.read.parquet(root)
      .filter(col("kb").isin(kb: _*))
      .withColumn("op", lit("update"))
      .select(dataCols.toSeq.map(col) :+ col("op"): _*)
    val merged = batchWinners.select(dataCols.toSeq.map(col) :+ col("op"): _*)
      .withColumn("__src", lit(1))
      .unionByName(current.withColumn("__src", lit(0)))
      // batch beats table at EQUAL (ts, seq) — a replayed batch must win
      // ties against the row it itself wrote
      .withColumn("__rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("ts").desc, col("seq").desc, col("__src").desc)))
      .filter(col("__rn") === 1 && col("op") =!= "delete")
      .drop("__rn", "__src", "op")
    // one driver-side pass caches the fold (it is batch+touched-sized,
    // the small side) so the survivors-per-bucket probe and the write
    // don't recompute the window twice
    merged.persist()
    val survivorBuckets = merged.select("kb").distinct().collect().map(_.getLong(0)).toSet
    merged.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("kb")
      .parquet(root)
    merged.unpersist()
    // dynamic overwrite only rewrites partitions PRESENT in the output:
    // a touched bucket whose every key was deleted has no surviving
    // rows, so its directory must be cleared explicitly or the deleted
    // keys would resurrect on the next read
    kb.filterNot(survivorBuckets).foreach { b =>
      val dir = Paths.get(root, s"kb=$b")
      if (Files.isDirectory(dir)) {
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
      }
    }
    kb
  }

  /** The table's current rows (all partitions). */
  def read(spark: SparkSession, root: String): DataFrame = spark.read.parquet(root)

  /** Data-file listing per bucket partition — the spec's lever for
    * asserting untouched partitions were not rewritten.
    */
  def partitionFiles(root: String): Map[Long, Set[String]] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Map.empty
    Files.list(dir).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("kb="))
      .map { p =>
        val b = p.getFileName.toString.stripPrefix("kb=").toLong
        b -> Files.list(p).iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
      }.toMap
  }
}
