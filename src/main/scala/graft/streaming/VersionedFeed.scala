package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A closed SCD2 version of a key: the payload that was current over
  * `[validFrom, validTo)` in `(tsUs, seq)` commit-position order. Closed
  * versions are immutable facts, so the stream of them is append-only —
  * the natural thing to persist partitioned by key range and min/max-
  * pruned on the validity columns, which is exactly what the batch as-of
  * lookup (q40, [[graft.operators.Temporal.versionedState]]) scans.
  */
case class Version(
    key: Long,
    payload: Map[String, String],
    deleted: Boolean,
    validFromUs: Long,
    validFromSeq: Long,
    validToUs: Long,
    validToSeq: Long,
)

/** Streaming SCD2 history (SURVEY.md §2.3 #68): maintain per-key version
  * history incrementally from the changefeed. Each arriving change closes
  * the key's open version (emitting it, Append mode) and opens a new one;
  * the open version lives in the keyed state store, so state is one row
  * per live key regardless of feed length.
  *
  * Ordering is the same batching-invariant `(tsUs, seq)` total order as
  * [[CdcMaterializer]]; a change older than the open version is dropped
  * (last-writer-wins history, matching the materializer — a general
  * out-of-order history rewrite would need retractions of already-closed
  * versions, which append-only SCD2 deliberately does not do).
  */
object VersionedFeed {

  /** The key's currently-open version. */
  case class OpenVersion(key: Long, tsUs: Long, seq: Long, payload: Map[String, String], deleted: Boolean) extends LwwState

  /** Per-group fold: emit a closed [[Version]] per superseded open
    * version. Exposed for direct unit exercise.
    */
  def close(key: Long, changes: Iterator[Change], state: GroupState[OpenVersion]): Iterator[Version] = {
    val out = Seq.newBuilder[Version]
    CdcMaterializer.applyLww(state.getOption, changes) { (prev, c, tsUs) =>
      prev.foreach(o => out += Version(key, o.payload, o.deleted, o.tsUs, o.seq, tsUs, c.seq))
      val deleted = c.op == "delete"
      OpenVersion(key, tsUs, c.seq, if (deleted) Map.empty else c.payload, deleted)
    }.foreach(state.update)
    out.result().iterator
  }

  /** Wire the fold over a streaming Dataset[Change]. Closed versions are
    * append-only: run with `OutputMode.Append` and any downstream
    * transform/sink composes (including another aggregation).
    */
  def history(changes: Dataset[Change]): Dataset[Version] = {
    implicit val openEnc    = Encoders.product[OpenVersion]
    implicit val versionEnc = Encoders.product[Version]
    implicit val longEnc    = Encoders.scalaLong
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(close)
  }

  /** A version closed by tombstone expiry rather than by a successor
    * change: validTo is this sentinel (no successor exists).
    */
  val ExpiredToUs: Long  = Long.MaxValue
  val ExpiredToSeq: Long = Long.MaxValue

  /** [[close]] plus tombstone expiry: a key whose open version is a
    * tombstone (deleted=true) only keeps state to stale-drop stragglers,
    * so once the event-time watermark passes `delete ts + ttl` the open
    * tombstone is emitted as a final closed version (validTo =
    * [[ExpiredToUs]]) and its state removed — history state is bounded by
    * live keys + recently-deleted ones, not every key ever tombstoned.
    */
  def closeExpiring(ttlMs: Long)(
      key: Long,
      changes: Iterator[Change],
      state: GroupState[OpenVersion]): Iterator[Version] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map { o =>
        Version(key, o.payload, o.deleted, o.tsUs, o.seq, ExpiredToUs, ExpiredToSeq)
      }
      state.remove()
      out.iterator
    } else {
      val out = close(key, changes, state)
      state.getOption.foreach { o =>
        // timeout must sit beyond the current watermark or Spark rejects it
        if (o.deleted) state.setTimeoutTimestamp(
          math.max(o.tsUs / 1000L + ttlMs, state.getCurrentWatermarkMs() + 1L))
      }
      out
    }
  }

  /** [[history]] with watermarked input and tombstone TTL. */
  def historyExpiring(
      changes: Dataset[Change],
      watermarkDelay: String = "10 minutes",
      tombstoneTtlMs: Long = 10L * 60 * 1000): Dataset[Version] = {
    implicit val openEnc    = Encoders.product[OpenVersion]
    implicit val versionEnc = Encoders.product[Version]
    implicit val longEnc    = Encoders.scalaLong
    changes
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        closeExpiring(tombstoneTtlMs))
  }

  /** #124: streaming temporal enrichment — each event on the live stream
    * joins the dimension version that was valid AT ITS EVENT TIME (the
    * streaming form of the q40 as-of lookup). The join is an equi-join on
    * the key plus validity-range predicates — on a cluster the version
    * table is partitioned by key range and min/max-pruned on the validity
    * columns, so each micro-batch probes version files covering only its
    * keys, never dim history.
    *
    * Late events enrich correctly BY CONSTRUCTION: an event with an old
    * `ts` matches an already-closed version (open versions have
    * validToUs = null).
    */
  def enrichAsOf(events: DataFrame, versions: DataFrame): DataFrame = {
    val ev = events.select(
      col("event_id"), col("key").as("e_key"),
      unix_micros(col("ts")).as("e_ts_us"), col("value"))
    ev.join(
      versions,
      col("e_key") === col("key")
        && col("valid_from_us") <= col("e_ts_us")
        && (col("valid_to_us").isNull || col("valid_to_us") > col("e_ts_us")),
      "left")
      .select(col("event_id"), col("e_key").as("key"), col("e_ts_us"),
        col("value"), col("dim_payload"))
  }

  /** [[enrichAsOf]] driven per micro-batch with the versions VIEW resolved
    * fresh inside foreachBatch. This is what makes "republish the dim, no
    * restart" actually true: a plain stream-static join freezes the static
    * side's PLAN at query start (a replaced temp view or a re-listed
    * parquet dir is never seen again) — re-planning per batch is the only
    * mechanism that re-resolves the view name to its current definition.
    *
    * `versionsView` must be visible to the STREAM's execution session:
    * micro-batches run on a cloned SparkSession whose session-local temp
    * catalog is snapshotted at query start, so publish the versions as a
    * GLOBAL temp view (`global_temp.<name>`, shared across sessions) or a
    * catalog table. Output lands in `batch_id=<id>` partitions with the
    * FeedSink dynamic-overwrite idempotency.
    */
  def enrichStream(
      events: DataFrame,
      versionsView: String,
      outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        enrichAsOf(batch, batch.sparkSession.table(versionsView))
          .withColumn("batch_id", lit(batchId))
          .write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }

  val outputMode: OutputMode = OutputMode.Append()
}
