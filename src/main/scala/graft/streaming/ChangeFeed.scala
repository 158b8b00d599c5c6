package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A changefeed record: one row-level change event.
  *
  * `op` is one of insert/update/delete (upsert semantics: insert and update
  * are both last-writer-wins puts), `key` the primary key, `ts` the commit
  * timestamp (event time), `payload` the after-image columns, `seq` the
  * source LSN: it totally orders changes that share a commit timestamp, so
  * materialization is invariant to how the feed is micro-batched (without
  * it, equal-ts ties would resolve differently depending on whether they
  * arrive in one batch or across two).
  */
case class Change(
    op: String,
    key: Long,
    ts: java.sql.Timestamp,
    payload: Map[String, String],
    seq: Long = 0L,
) extends LwwEvent

/** Changefeed sources (SURVEY.md §2.3 #31).
  *
  * Spark-native CDC ingestion: a streaming file/dir source with the Change
  * schema. On a real deployment the same schema rides a Kafka source
  * (`spark.readStream.format("kafka")` + from_json) — the downstream
  * operators only see the Change columns, so the transport is swappable.
  */
object ChangeFeed {

  val schema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("key", LongType),
    StructField("ts", TimestampType),
    StructField("payload", MapType(StringType, StringType)),
    StructField("seq", LongType),
  ))

  /** Stream change records from newline-JSON files appearing under `dir`.
    * Feeds without an LSN get seq=0 (ties then resolve by ts alone).
    */
  def readJsonDir(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).json(dir).withColumn("seq", coalesce(col("seq"), lit(0L)))

  /** Kafka wire format: the Change as a JSON `value` blob keyed by the
    * change key (per-key ordering rides the Kafka partition). The
    * timestampFormat carries full microseconds so `ts` round-trips
    * exactly; [[toWire]] and [[fromWire]] are inverses. On a real
    * deployment `fromWire` is applied to
    * `spark.readStream.format("kafka")`'s value column — downstream
    * operators only ever see the Change columns, so the transport is
    * swappable without touching them.
    */
  val wireOptions: Map[String, String] = Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
  private def wireOpts = wireOptions

  def toWire(changes: DataFrame): DataFrame =
    changes.select(
      col("key").cast("string").cast("binary").as("key"),
      to_json(struct(col("op"), col("key"), col("ts"), col("payload"), col("seq")), wireOpts)
        .cast("binary").as("value"),
    )

  /** Parse wire records, DROPPING poison ones: a corrupt value makes
    * `from_json` return a null struct (or a struct with null key/ts), and
    * downstream `.as[Change]`/`groupByKey(_.key)` would then die on the
    * null primitive — one bad Kafka record must not kill the query. Route
    * the dropped records to a DLQ with [[deadLetters]].
    */
  def fromWire(wire: DataFrame): DataFrame =
    wire
      .select(from_json(col("value").cast("string"), schema, wireOpts).as("c"))
      .filter(col("c").isNotNull && col("c.key").isNotNull && col("c.ts").isNotNull)
      .select("c.*")
      .withColumn("seq", coalesce(col("seq"), lit(0L)))

  /** The complement of [[fromWire]]'s filter: raw values that failed to
    * parse as a Change, for dead-letter routing/alerting.
    */
  def deadLetters(wire: DataFrame): DataFrame = {
    val c = from_json(col("value").cast("string"), schema, wireOpts)
    wire
      .withColumn("c", c)
      .filter(col("c").isNull || col("c.key").isNull || col("c.ts").isNull)
      .select(col("value").cast("string").as("raw"))
  }

  // ------------------------------------------------------------------
  // Debezium envelope adapter (#222): consume an actual Postgres/MySQL
  // CDC topic unchanged. The envelope is public Debezium wire format:
  // value = {"before":…|null, "after":…|null, "op":"c|u|d|r",
  // "source":{"ts_ms":…, "lsn"|"pos":…, …}, "ts_ms":…}, optionally
  // wrapped as {"schema":…, "payload":<envelope>} when the JSON
  // converter runs with schemas.enable=true. All parsing is Column
  // expressions (get_json_object / from_json) — codegen'd, no UDFs.
  // ------------------------------------------------------------------

  /** The unwrapped envelope string: the `payload` member when the
    * schema wrapper is present, else the value itself.
    */
  private def dbzEnvelope(value: Column): Column = {
    val s = value.cast("string")
    when(get_json_object(s, "$.payload.op").isNotNull, get_json_object(s, "$.payload"))
      .otherwise(s)
  }

  private def dbzParsed(value: Column, keyField: String): Column = {
    val env    = dbzEnvelope(value)
    val op     = get_json_object(env, "$.op")
    val after  = from_json(get_json_object(env, "$.after"), MapType(StringType, StringType))
    val before = from_json(get_json_object(env, "$.before"), MapType(StringType, StringType))
    val image  = when(op === "d", before).otherwise(after)
    // commit position: source.ts_ms is the DB commit time (the envelope
    // ts_ms is Debezium's processing time — only a fallback); the LSN
    // rides Postgres `source.lsn` / MySQL `source.pos`
    val tsMs = coalesce(
      get_json_object(env, "$.source.ts_ms"), get_json_object(env, "$.ts_ms")).cast("long")
    val seq = coalesce(
      get_json_object(env, "$.source.lsn"), get_json_object(env, "$.source.pos")).cast("long")
    // numeric PKs keep their value; a string PK (uuid, natural key)
    // hash-keys via xxhash64 — deterministic, so every change of the
    // same row lands on the same Change key (AvroWire.fromDebezium
    // computes the identical hash for wire-format parity). The regexp
    // guard keeps ANSI cast from throwing on non-numeric keys, and the
    // isNotNull gate keeps a MISSING key NULL (xxhash64(NULL) would
    // return the seed and silently key every keyless row together).
    val rawKey = element_at(image, keyField)
    val keyCol = when(rawKey.isNotNull,
      coalesce(when(rawKey.rlike("^-?\\d{1,18}$"), rawKey.cast("long")), xxhash64(rawKey)))
    struct(
      when(op === "d", "delete").when(op.isin("c", "u", "r"), "upsert").as("op"),
      keyCol.as("key"),
      timestamp_millis(tsMs).as("ts"),
      when(op === "d", map().cast(MapType(StringType, StringType))).otherwise(after).as("payload"),
      coalesce(seq, lit(0L)).as("seq"))
  }

  /** Parse a Debezium CDC topic (`value` column: the public envelope,
    * with or without the schema wrapper) into the [[Change]] columns:
    * op c/u upsert the after-image, r (snapshot read) upserts too — the
    * [[writeBootstrap]] semantics arriving over the wire — and d
    * deletes, keyed by the before-image. `keyField` names the table's
    * primary-key column inside the row images.
    *
    * Kafka compaction tombstones (NULL value) are DROPPED, not mapped:
    * Debezium always emits the `d` envelope first and the tombstone is
    * a topic-compaction artifact (the standard `drop.tombstones`
    * consumer stance), so mapping it again would fabricate a second
    * delete at an unknowable commit position. Envelopes that fail to
    * parse (no op, no key, no commit time) are dropped here and
    * surfaced by [[debeziumDeadLetters]] — one poison record must not
    * kill the query (the #31c discipline).
    */
  def fromDebezium(wire: DataFrame, keyField: String): DataFrame =
    wire
      .filter(col("value").isNotNull)
      .select(dbzParsed(col("value"), keyField).as("c"))
      .filter(col("c.op").isNotNull && col("c.key").isNotNull && col("c.ts").isNotNull)
      .select("c.*")

  /** The complement of [[fromDebezium]]'s validity filter: non-tombstone
    * records whose envelope did not yield a keyed, positioned change.
    */
  def debeziumDeadLetters(wire: DataFrame, keyField: String): DataFrame =
    wire
      .filter(col("value").isNotNull)
      .withColumn("c", dbzParsed(col("value"), keyField))
      .filter(col("c.op").isNull || col("c.key").isNull || col("c.ts").isNull)
      .select(col("value").cast("string").as("raw"))

  /** Render a batch snapshot as its equivalent COMPACTED changefeed: one
    * upsert per row, keyed by `keyCol`, positioned at `(tsCol, seqCol)`
    * — the snapshot's commit position, so stale-drop works against the
    * bootstrapped state exactly as if the stream had been running all
    * along. Every non-LSN column lands in the payload (stringly, the
    * Change wire contract); NULL columns are omitted, matching a feed
    * that never carried them.
    *
    * Keying parity with the CDC adapters: a numeric key keeps its value,
    * any other key (uuid, natural string PK) hashes via xxhash64 — the
    * SAME rule [[fromDebezium]] / `AvroWire.fromDebezium` apply — so a
    * bootstrap prefix folds with a live string-PK CDC tail onto identical
    * Change keys (the #222g/h production shape). Payload parity too: the
    * key and event-time columns ride the payload under their own names (a
    * Debezium after-image carries every table column, PK included), so a
    * view referencing them by name (e.g. GROUP BY id) sees bootstrapped
    * and live rows identically; only the LSN column stays out (it is the
    * commit position, not a table attribute).
    *
    * This is the planner-view bootstrap story (the kappa handoff for
    * `IncrementalPlanner.materialize`): where
    * [[CdcMaterializer.materializeFrom]] seeds a SINGLE-stage fold's
    * state directly, a planner view is a multi-stage dataflow whose
    * stage-2 (aggregate / arrangement / session) state is DERIVED from
    * stage-1 emissions — seeding stage 1 alone would leave every
    * downstream stage empty. So the snapshot flows through the dataflow
    * ONCE as the feed's first micro-batch(es): O(current keys) work —
    * the compacted table, NOT the feed's full change history — which is
    * exactly the cost of building the derived state at all. Use
    * [[writeBootstrap]] to lay the rendering down as the feed
    * directory's prefix before starting the view; live changes append
    * after it.
    */
  def snapshotChanges(snapshot: DataFrame, keyCol: String,
      tsCol: String, seqCol: Option[String] = None): DataFrame = {
    val payloadCols = snapshot.columns.filterNot(c => seqCol.contains(c))
    val payload = map_filter(
      map(payloadCols.toSeq.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*),
      (_, v) => v.isNotNull)
    // same keying rule as dbzParsed / AvroWire.fromDebezium: numeric keys
    // keep their value, string PKs hash via xxhash64 (seed 42), a NULL
    // key stays NULL rather than hashing to the seed
    val rawKey = col(keyCol).cast("string")
    val keyExpr = when(rawKey.isNotNull,
      coalesce(when(rawKey.rlike("^-?\\d{1,18}$"), rawKey.cast("long")), xxhash64(rawKey)))
    snapshot.select(
      lit("insert").as("op"),
      keyExpr.as("key"),
      col(tsCol).cast("timestamp").as("ts"),
      payload.as("payload"),
      seqCol.map(col(_).cast("long")).getOrElse(lit(0L)).as("seq"))
  }

  /** Write [[snapshotChanges]]' rendering into `dir` as newline-JSON —
    * the [[readJsonDir]] wire with full-microsecond timestamps — so a
    * planner view started over `dir` bootstraps from the snapshot and
    * then follows the live changes appended to the same directory.
    * Append-mode: safe to call on a dir that will receive live files.
    */
  def writeBootstrap(snapshot: DataFrame, keyCol: String, tsCol: String,
      seqCol: Option[String], dir: String): Unit =
    snapshotChanges(snapshot, keyCol, tsCol, seqCol)
      .write.mode(SaveMode.Append)
      .option("timestampFormat", wireOptions("timestampFormat"))
      .json(dir)

  /** JDBC snapshot SOURCE — the changefeed deployment's DAY-1 story:
    * bootstrap a view from the source DATABASE table itself, then hand
    * off to the CDC topic. `spark.read.jdbc` pulls the table (Spark's
    * own partitioned JDBC scan: pass `partitionColumn/lowerBound/
    * upperBound/numPartitions` through `props` to parallelize a big
    * snapshot across executors — one executor connection per partition,
    * the standard Spark JDBC ingest shape at scale), and the rows render
    * as the table's COMPACTED changefeed via [[snapshotChanges]]: one
    * upsert per current row, keyed/positioned identically to the
    * Debezium adapters, so the #221 convergence + stale-drop contract
    * holds with a database, not parquet, as the snapshot. `tsCol`/
    * `seqCol` should be the table's own commit-position columns (the
    * shape a CDC-maintained table already has); a table without them can
    * snapshot at an explicit position via a SQL projection in `table`
    * (the `(SELECT …) AS t` dialect form JDBC sources accept).
    */
  def snapshotChangesJdbc(spark: SparkSession, url: String, table: String,
      keyCol: String, tsCol: String, seqCol: Option[String] = None,
      props: java.util.Properties = new java.util.Properties): DataFrame =
    snapshotChanges(spark.read.jdbc(url, table, props), keyCol, tsCol, seqCol)

  /** [[writeBootstrap]] with the snapshot read over JDBC
    * ([[snapshotChangesJdbc]]): lays the database table down as the feed
    * directory's bootstrap prefix; the live CDC tail appends after it.
    */
  def writeBootstrapJdbc(spark: SparkSession, url: String, table: String,
      keyCol: String, tsCol: String, seqCol: Option[String], dir: String,
      props: java.util.Properties = new java.util.Properties): Unit =
    snapshotChangesJdbc(spark, url, table, keyCol, tsCol, seqCol, props)
      .write.mode(SaveMode.Append)
      .option("timestampFormat", wireOptions("timestampFormat"))
      .json(dir)

  /** Interpret the `events` snapshot table as a replayable changefeed
    * (signup -> insert, purchase/view/click -> update, error -> delete),
    * keyed by user. Used to exercise the streaming operators against the
    * same data the batch analogues (q21/q22) are oracle-checked on.
    */
  def fromEvents(events: DataFrame): DataFrame =
    events.select(
      when(col("event_type") === "signup", "insert")
        .when(col("event_type") === "error", "delete")
        .otherwise("update")
        .as("op"),
      col("user_id").as("key"),
      col("ts"),
      map(
        lit("value"), col("value").cast("string"),
        lit("event_type"), col("event_type"),
      ).as("payload"),
      col("event_id").as("seq"),
    )
}
