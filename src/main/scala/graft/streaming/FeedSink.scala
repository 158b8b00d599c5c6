package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** Changefeed sink (SURVEY.md §2.3 #37): every micro-batch of materialized
  * KeyState rows is written to `feedDir` as changefeed records — the
  * materialized view re-emits its own deltas, which is what makes derived
  * views composable in a changefeed engine.
  */
object FeedSink {

  /** Idempotent per-batch write: the batch lands in its own
    * `batch_id=<id>` partition via dynamic partition overwrite, so a
    * micro-batch replayed after a crash (data written but the checkpoint
    * offset not yet committed) OVERWRITES its own partition instead of
    * appending a second copy of every row. foreachBatch + checkpoint +
    * this overwrite is the standard Spark exactly-once file-sink recipe.
    *
    * r5 adds the COMMIT PROTOCOL that turns the partition log into an
    * isolated table (the open-table-format idea scoped to exactly what
    * this sink needs): after the partition's files are fully written,
    * ONE marker file lands under `_graft_commits/<batchId>` — a single
    * atomic create, the batch's commit point. Readers ([[stateAsOf]])
    * fold ONLY marker-committed partitions, so an in-flight or crashed
    * batch write is invisible until its marker exists (no torn batch,
    * ever), and a replayed batch re-commits over itself. The `_`-prefix
    * keeps the marker dir out of every parquet listing.
    *
    * Concurrency contract (spec'd in FeedSinkIsolationSpec):
    *  - one writer per batch_id at a time (foreachBatch guarantees this
    *    per query; a crashed writer's replacement replays the same id):
    *    the replay fully replaces the partition — last committer wins,
    *    never a union;
    *  - concurrent writers on DISTINCT batch ids (live query + zombie
    *    replaying an old batch) touch disjoint partitions and disjoint
    *    markers — both land, the LWW fold defines the merged state;
    *  - readers see each batch atomically: all of it (marker present)
    *    or none of it.
    */
  def writeBatch(states: DataFrame, batchId: Long, feedDir: String): Unit = {
    val batch = states
      .select(
        lit(batchId).as("batch_id"),
        when(col("deleted"), "delete").otherwise("upsert").as("op"),
        col("key"),
        col("tsUs").as("ts_us"),
        col("seq"),
        col("payload"),
      )
      // r17 (guide §6 small files): cluster on the partition column so the
      // batch dir gets the files its bytes justify (one), not
      // shuffle-partitions-many — the same write discipline the index
      // stores got in r16. The shuffled rows are the micro-batch itself
      // (KB–MB scale); a monster batch becoming one write task is the
      // documented store trade (compaction/census watch it).
      .repartition(col("batch_id"))
    writePartitioned(batch, feedDir)
    commitMarker(feedDir, batchId)
  }

  /** The one batch-partitioned write: each `batch_id` value in `rows`
    * replaces its own `batch_id=<id>` partition under `dir` (dynamic
    * partition overwrite), leaving every other partition untouched, so a
    * replayed batch overwrites itself and never unions with its earlier
    * attempt.
    */
  private def writePartitioned(rows: DataFrame, dir: String): Unit =
    rows.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)

  /** [[writeBatch]] for a [[Change]]-typed micro-batch (the
    * [[IncrementalPlanner.namedChanges]] wire): same batch-partitioned
    * idempotent layout + commit marker, columns mapped from the Change
    * contract (`ts` → epoch-micros `ts_us`). This is the sink behind
    * every [[ViewCatalog]] named view.
    */
  def writeChangeBatch(changes: DataFrame, batchId: Long, feedDir: String): Unit = {
    writePartitioned(changes
      .select(
        lit(batchId).as("batch_id"),
        col("op"),
        col("key"),
        expr("unix_micros(ts)").as("ts_us"),
        col("seq"),
        col("payload"),
      )
      .repartition(col("batch_id")), // r17: one file per batch dir (see writeBatch)
      feedDir)
    commitMarker(feedDir, batchId)
  }

  /** The feed directory's on-disk schema (data columns; `batch_id` rides
    * the partition path).
    */
  val feedSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("op", StringType),
      StructField("key", LongType),
      StructField("ts_us", LongType),
      StructField("seq", LongType),
      StructField("payload", MapType(StringType, StringType)),
      StructField("batch_id", LongType),
    ))
  }

  /** STREAM the feed directory back as a live [[Change]] feed — the read
    * side of [[writeChangeBatch]], and how a downstream named view
    * consumes an upstream one WITHOUT re-running its dataflow: the
    * upstream view maintains its state once, persists its deltas here,
    * and any number of dependents tail the directory. The tail reads
    * through the commit markers ([[FeedSource]]): its offset is the
    * highest committed batch id, each batch id is delivered exactly once,
    * after its marker lands, and a crash-replayed upstream batch, which
    * re-stamps an id the tail has already passed, is not delivered again.
    */
  def readChangeFeed(spark: org.apache.spark.sql.SparkSession,
      feedDir: String): org.apache.spark.sql.Dataset[Change] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Change]
    spark.readStream.format(classOf[FeedSourceProvider].getName).load(feedDir)
      .select(col("op"), col("key"), expr("timestamp_micros(ts_us)").as("ts"),
        col("payload"), col("seq"))
      .as[Change]
  }

  /** The one reader of a feed directory: the `batch_id` partitions named
    * by `batches`, read with [[feedSchema]] through a [[FeedFileIndex]].
    * Spark infers no schema, reads no footer to plan, and lists no
    * directory beyond the named partitions, whatever the feed's history
    * length. `streaming` marks the frame as one micro-batch of
    * [[FeedSource]].
    */
  private[streaming] def readBatches(spark: org.apache.spark.sql.SparkSession, feedDir: String,
      batches: Iterable[Long], streaming: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val index = new FeedFileIndex(spark, feedDir, batches.toSeq.sorted)
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(index,
      index.partitionSchema, StructType(feedSchema.filterNot(_.name == "batch_id")), None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat, Map.empty)(spark)
    if (streaming) org.apache.spark.sql.GraftStreamingShim.streamingFrame(spark, relation)
    else spark.baseRelationToDataFrame(relation)
  }

  /** Every batch partition present on disk, committed or not: what the
    * erasure verbs rewrite and audit, since they account for bytes at
    * rest rather than for visible state.
    */
  private[streaming] def atRest(spark: org.apache.spark.sql.SparkSession, feedDir: String): DataFrame = {
    val (fs, root) = IndexStoreOps.storeFs(spark, feedDir)
    val onDisk =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("batch_id=") => n.stripPrefix("batch_id=").toLong }
    readBatches(spark, feedDir, onDisk)
  }

  /** The atomic commit point of batch `batchId` (see [[writeBatch]]).
    * The marker's CONTENT is the commit wall-clock (epoch millis,
    * decimal) — the natural place to persist "when did this batch become
    * visible", which is what `TIMESTAMP AS OF` time travel resolves
    * against ([[committedBatchTimes]]). A replayed batch re-commits over
    * itself with a fresh time: last-committer-wins applies to the clock
    * exactly as it does to the data.
    */
  def commitMarker(feedDir: String, batchId: Long): Unit = {
    val dir = java.nio.file.Paths.get(feedDir, "_graft_commits")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve(batchId.toString),
      System.currentTimeMillis.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** Batch ids whose commit marker exists — the reader's visibility set. */
  def committedBatches(feedDir: String): Set[Long] = {
    val dir = new java.io.File(feedDir, "_graft_commits")
    Option(dir.listFiles()).map(_.map(_.getName.toLong).toSet).getOrElse(Set.empty)
  }

  /** Commit wall-clock (epoch millis) per committed batch id — the
    * timestamp→batch resolution table behind `TIMESTAMP AS OF`. Markers
    * written before the clock was persisted (r11 and earlier: empty
    * files) fall back to the marker file's mtime, which IS the commit
    * instant of the original atomic create — so pre-existing feeds time
    * travel without a migration.
    */
  def committedBatchTimes(feedDir: String): Map[Long, Long] = {
    val dir = new java.io.File(feedDir, "_graft_commits")
    Option(dir.listFiles()).map(_.map { f =>
      val content = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      f.getName.toLong -> content.toLongOption.getOrElse(f.lastModified)
    }.toMap).getOrElse(Map.empty)
  }

  /** History floor: the feed's FIRST-EVER committed (batch id, commit
    * millis), preserved by [[compact]] before it retires old markers —
    * so time travel can distinguish "before this feed existed" (the
    * empty answer) from "inside compacted-away history" (the base
    * answers, the compacted-log rule). Absent until the first
    * compaction; readers fall back to the oldest RETAINED marker,
    * which is the same floor while no history has been folded.
    */
  def historyFloor(feedDir: String): Option[(Long, Long)] = {
    val f = new java.io.File(feedDir, "_graft_floor")
    if (!f.exists()) None
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim.split(",") match {
      case Array(b, t) => Some((b.toLong, t.toLong))
      case _           => None
    }
  }

  def writeChangefeed(states: DataFrame, feedDir: String, checkpointDir: String): DataStreamWriter[Row] =
    states.writeStream
      .outputMode(CdcMaterializer.outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) => writeBatch(batch, batchId, feedDir) }

  /** Wire-format changefeed sink (SURVEY.md §2.3 #110) — the WRITE side of
    * [[ChangeFeed.toWire]] driven by a streaming query. Each micro-batch
    * of Change rows is serialized to the Kafka wire schema (binary key,
    * binary JSON value) and written to its own `batch_id=<id>` partition
    * with the same dynamic-overwrite idempotency as [[writeBatch]]: a
    * replayed batch OVERWRITES itself, so downstream consumers of the
    * wire feed never see a change twice. On a real deployment the parquet
    * write swaps for a transactional Kafka producer — the (key, value)
    * binary schema IS the producer-record schema, and the batch_id plays
    * the producer transaction id's role.
    */
  def writeWireBatch(changes: DataFrame, batchId: Long, wireDir: String): Unit =
    writePartitioned(ChangeFeed.toWire(changes).withColumn("batch_id", lit(batchId)), wireDir)

  def writeWire(changes: DataFrame, wireDir: String, checkpointDir: String): DataStreamWriter[Row] =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) => writeWireBatch(batch, batchId, wireDir) }

  /** #125: compact the sink feed — fold every retained partition with
    * `batch_id <= upTo` into ONE base partition at `batch_id = upTo`
    * (the live state at that point: LWW-folded, tombstones dropped —
    * a deleted key has nothing older left to resurrect it) and remove
    * the superseded partitions. [[stateAsOf]] stays correct for every
    * `asOfBatch >= upTo` because the base rows keep their original
    * `(ts_us, seq)`, so the LWW fold against later deltas is unchanged;
    * the time-travel floor rises to the compaction horizon (asking for a
    * batch below `upTo` now yields the empty pre-history).
    *
    * This is the log-compaction bound on sink growth: feed size becomes
    * live-keys + post-horizon deltas instead of the full change history.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, feedDir: String, upTo: Long): Unit = {
    writePartitioned(stateAsOf(spark, feedDir, upTo)
      .select(lit(upTo).as("batch_id"), lit("upsert").as("op"),
        col("key"), col("ts_us"), col("seq"), col("payload"))
      // the feed is both source and sink of this job — cut the read path
      .localCheckpoint(true), feedDir)
    val root = new java.io.File(feedDir)
    root.listFiles().filter { f =>
      f.isDirectory && f.getName.startsWith("batch_id=") &&
        f.getName.stripPrefix("batch_id=").toLong < upTo
    }.foreach { dir =>
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(dir)
    }
    // preserve the history floor BEFORE retiring markers: first-ever
    // (batch, clock) — idempotent (an existing floor is already the
    // earliest; re-compaction can only see later markers)
    val floorFile = new java.io.File(feedDir, "_graft_floor")
    if (!floorFile.exists()) {
      val times = committedBatchTimes(feedDir)
      times.minByOption(_._1).foreach { case (b, t) =>
        java.nio.file.Files.write(floorFile.toPath,
          s"$b,$t".getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      }
    }
    // retire the compacted-away markers; the base partition keeps upTo's.
    // NB compaction rewrites the upTo partition IN PLACE while its marker
    // stands — it is a maintenance operation to run without concurrent
    // readers of that one batch (or pointed at a fresh upTo' id), the
    // standard compaction/reader coordination caveat.
    committedBatches(feedDir).filter(_ < upTo).foreach { b =>
      new java.io.File(new java.io.File(feedDir, "_graft_commits"), b.toString).delete(): Unit
    }
  }

  /** Time travel over the sink's own output: materialize the view's state
    * as of `asOfBatch` (inclusive) by folding the retained batch
    * partitions with the engine's `(ts_us, seq)` last-writer-wins order.
    * The bound selects partitions before anything is read: [[readBatches]]
    * gets the committed ids `<= asOfBatch`, so replaying to batch N lists
    * and reads only those directories, never the whole feed history;
    * tombstoned keys fold away. This is the changefeed trifecta closing:
    * the sink's output is itself a feed the engine can re-materialize at
    * any past point.
    */
  def stateAsOf(spark: org.apache.spark.sql.SparkSession, feedDir: String, asOfBatch: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("key")
      .orderBy(col("ts_us").desc, col("seq").desc, col("batch_id").desc)
    // visibility = committed partitions only (reader isolation: a batch
    // whose marker hasn't landed doesn't exist yet). The visible set is
    // the RETAINED batch set up to the bound — bounded by compaction, not
    // feed lifetime — and only those directories are ever listed or read.
    val visible = committedBatches(feedDir).filter(_ <= asOfBatch)
    readBatches(spark, feedDir, visible)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select(col("key"), col("ts_us"), col("seq"), col("payload"))
  }
}
