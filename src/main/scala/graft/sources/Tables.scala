package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-table loaders.
  *
  * Every operator reads through these so schema quirks are handled in one
  * place and scans stay pushdown-friendly (plain parquet scans; filters and
  * projections placed by the callers land in `PushedFilters`/`ReadSchema`).
  */
object Tables {
  private def path(dir: String, name: String) = s"$dir/$name.parquet"

  /** Analyzed-plan memo: every `spark.read.parquet` re-lists the path and
    * rebuilds an InMemoryFileIndex; reusing the DataFrame (an immutable
    * plan) across an engine session's queries amortizes that to once per
    * table. Keyed by session so concurrent sessions don't share plans.
    *
    * Entries of stopped sessions are purged on access, so repeated
    * mains/test runs in one JVM don't pin dead sessions (and their plans)
    * forever. Assumption baked into any memo like this: files under `dir`
    * are immutable for the lifetime of the session reading them — a
    * rewritten table needs a new session (or dir) to be re-listed.
    */
  private val cache =
    new scala.collection.concurrent.TrieMap[(SparkSession, String, String), DataFrame]

  private def cached(spark: SparkSession, dir: String, name: String)(load: => DataFrame): DataFrame = {
    cache.keySet.foreach { k => if (k._1.sparkContext.isStopped) cache.remove(k) }
    cache.getOrElseUpdate((spark, dir, name), load)
  }

  /** Generic loader (events routed through the ns-timestamp fix-up). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else cached(spark, dir, name)(spark.read.parquet(path(dir, name)))

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Fingerprint of the table BEHIND a dir: a hash of every file's
    * (name, length, mtime) under `<dir>/<name>.parquet`. Keying a memo on
    * this, not on the dir string alone, means a rewritten table
    * (regenerated in-session, compacted, new partitions) gets a fresh
    * entry instead of a silently stale one. One namenode listing, no
    * data read.
    */
  def fingerprint(spark: SparkSession, dir: String, name: String): Long = {
    val p  = new org.apache.hadoop.fs.Path(path(dir, name))
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    var h = 1125899906842597L // large prime seed, FNV-ish rolling hash
    while (it.hasNext) {
      val st = it.next()
      val s  = s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
      h = s.foldLeft(h * 31 + 7)((a, c) => a * 131 + c)
    }
    h
  }

  /** events.parquet stores `ts` as parquet TIMESTAMP(NANOS), which Spark
    * refuses to read natively (PARQUET_TYPE_ILLEGAL). With
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    * [[graft.GraftSession.tuning]]) it arrives as a long of epoch nanos; we
    * floor-truncate to microsecond timestamps. Truncating ns -> us can never
    * flip a comparison against a us-aligned (or coarser) timestamp, so all
    * joins/filters against the ms-granularity TPC-H dates stay exact.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(path(dir, "events"))
      // the driver's events.parquet carries TIMESTAMP(NANOS), read as a
      // long under nanosAsLong; a user-supplied events table with a
      // regular µs timestamp must work unchanged — sniff the schema
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // identity re-tag under the UTC session (same as TPC-H dates)
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    }
}
