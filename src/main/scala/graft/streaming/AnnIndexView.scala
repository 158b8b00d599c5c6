package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions.{dot, l2Norm}
import graft.operators.Similarity

/** Incrementally maintained ANN index over the changefeed (SURVEY.md
  * §2.3 #337) — the changefeed × LLM-pipeline intersection: keep the s02
  * hyperplane-LSH bucket index LIVE under insert / update / delete, so a
  * `similarTo` probe sees every document change without ever rebuilding
  * the batch index.
  *
  * Store layout (both halves plain partitioned parquet, the
  * PartitionedUpsert table discipline):
  *
  *   - `root/data/bucket=<b>/` — the LSH POSTING LISTS: one row per live
  *     vector `(vec_id, embedding, norm)`, partitioned by its hyperplane
  *     bucket. This is the index a probe reads — partition pruning turns
  *     "probe 9 buckets" into "open 9 directories".
  *   - `root/keys/kb=<kb>/` — the PRIMARY locator
  *     `(vec_id, tsUs, seq, live, bucket)`, partitioned by
  *     `kb = vec_id mod keyBuckets`. A delete/update arrives with only a
  *     key; this sidecar answers "which bucket holds its current
  *     posting" by opening the batch's key partitions, never scanning
  *     the data store. It also carries the CdcMaterializer commit
  *     position `(tsUs, seq)` and delete TOMBSTONES (`live = false`), so
  *     out-of-order changes resolve exactly as the materializer does: a
  *     change strictly older than the key's stored position is ignored —
  *     including a late re-insert of a deleted key.
  *
  * Maintenance cost per micro-batch ∝ batch size × touched partitions —
  * new/changed vectors re-bucket only themselves (the hyperplane
  * signature is a narrow per-row expression), deletes retract exactly
  * their posting row, and only the touched bucket/key partitions are
  * read back (`IN`-filter partition pruning) and rewritten (a staged
  * leaf swap; a partition whose last posting was retracted is removed —
  * the PartitionedUpsert delete-all-bucket rule). The fold, erasure and
  * GC are the shared [[LocatorStore]] discipline; this family supplies
  * the hyperplane bucket.
  * The corpus-sized store is never re-shuffled: at 100 TB with 2²⁰
  * buckets, a 1M-doc crawl batch rewrites ~its own buckets, and an
  * UPDATE whose embedding moves buckets costs one retraction + one
  * insertion, found via the locator without any scan. Tombstones are
  * sidecar-only (a few longs per deleted key);
  * [[pruneTombstones]] is the compaction sweep that drops those older
  * than the feed's maximum admissible lateness.
  *
  * Batching-invariance + idempotent replay come from the CdcMaterializer
  * discipline: the batch folds to last-writer-wins per key by commit
  * position BEFORE touching the store, the store copy then contends at
  * its own position (batch wins ties, so replays rewrite identical
  * content), and replace-then-rewrite is a deterministic function of
  * (store, batch winners). The spec proves live index ≡ one-shot batch
  * rebuild after a mixed I/U/D feed, under uneven batch splits, replays,
  * and late stale changes.
  *
  * `numPlanes` is an index-CREATION parameter (like PartitionedUpsert's
  * bucket count): re-sizing the plane count re-buckets every vector and
  * therefore means a rebuild, exactly as for the batch index
  * ([[Similarity.autoPlanes]] picks it from expected corpus size).
  */
object AnnIndexView extends LocatorStore {

  val kind = "ann"
  protected val dataName = "data"
  protected val dataPart = "bucket"
  protected val keyCol   = "vec_id"
  protected val dataSchema = StructType(Seq(
    StructField("bucket", IntegerType), StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("norm", DoubleType)))
  protected val keysSchema = StructType(Seq(
    StructField("kb", IntegerType), StructField("vec_id", LongType),
    StructField("tsUs", LongType), StructField("seq", LongType),
    StructField("live", BooleanType), StructField("bucket", IntegerType)))

  /** Fold one micro-batch of changes (`op` ∈ I/U/D, `vec_id`,
    * `embedding`, `tsUs`, `seq`) into the live index at `root`.
    */
  def updateBatch(batch: DataFrame, root: String, numPlanes: Int = 8, keyBuckets: Int = 64): Unit =
    fold(batch, root, Seq("embedding"), keyBuckets) { (eff, _, keep) =>
      val ups = keep(Similarity.withHyperplaneBucket(eff.filter(col("op") =!= "D"), numPlanes)
        .withColumn("norm", l2Norm(col("embedding")))
        .select(col("bucket").cast("int").as("bucket"), col("vec_id"), col("embedding"),
          col("norm"), col("kb"), col("tsUs"), col("seq")))
      // touched DATA partitions = current buckets of effective LIVE keys
      // (retractions/moves) ∪ new buckets of upserts — bounded by
      // 2 × batch keys, the small side
      val touched = eff.filter(col("live") === true).select(col("old_bucket").as("bucket"))
        .union(ups.select("bucket"))
        .distinct().collect().map(_.getInt(0).toLong).sorted.toSeq
      LocatorStore.DataStep(touched, replaceKeys(eff, ups),
        locate = _.join(ups.select(col("vec_id"), col("bucket")), Seq("vec_id"), "left"))
    }

  /** #337 wired end-to-end: changefeed → live LSH index. */
  def maintain(feed: DataFrame, root: String, checkpointDir: String,
      numPlanes: Int = 8, keyBuckets: Int = 64): DataStreamWriter[Row] =
    feed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        updateBatch(batch, root, numPlanes, keyBuckets) }

  /** The live postings `(bucket, vec_id, embedding, norm)` — for the
    * spec's live ≡ batch-rebuild equality.
    */
  def readIndex(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(dataDir(root))
      .select(col("bucket").cast("int").as("bucket"), col("vec_id"), col("embedding"), col("norm"))

  /** Probe the LIVE index: top-k cosine neighbors of each query row
    * `(query_id, embedding)` — the s02 multi-probe dataflow served from
    * the maintained store. The probed bucket ids are collected
    * driver-side (queries × (planes+1), tiny by assumption) so the
    * postings scan is PARTITION-PRUNED to the probed directories — at
    * 100 TB a probe opens ~9 bucket partitions, not the corpus.
    */
  def similarTo(spark: SparkSession, root: String, queries: DataFrame,
      k: Int = 3, numPlanes: Int = 8): DataFrame = {
    val qb = Similarity.withHyperplaneBucket(queries, numPlanes)
      .withColumn("q_norm", l2Norm(col("embedding")))
    val probes = array(col("bucket") +:
      (0 until numPlanes).map(j => col("bucket").bitwiseXOR(lit(1 << j))): _*)
    val q = qb.select(col("query_id"), col("embedding").as("q_emb"), col("q_norm"),
        explode(probes).as("bucket"))
      .withColumn("bucket", col("bucket").cast("int"))
      .persist()
    try {
      val probeBuckets = q.select("bucket").distinct().collect().map(_.getInt(0).toLong).toSeq
      val w = Window.partitionBy("query_id").orderBy(col("sim6").desc, col("neighbor_id"))
      readIndex(spark, root)
        .filter(col("bucket").isin(probeBuckets: _*))
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
          col("norm").as("n_norm"), col("bucket"))
        .join(broadcast(q), Seq("bucket"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim6", round(dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")), 6))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .select(col("query_id"), col("neighbor_id"), round(col("sim6"), 4).as("cosine"), col("rn"))
        .localCheckpoint(true) // snapshot: results must survive q.unpersist
    } finally q.unpersist()
  }

  // ---- s13: the batch-verifiable driver entry ------------------------

  /** Per-(app, corpus-snapshot) memo of the maintained index, keyed like
    * [[Similarity.annPqServed]]'s — fold the feed once per corpus, serve
    * probes from the live store afterwards.
    */
  private val liveIndexDirs =
    new scala.collection.concurrent.TrieMap[(String, String, Long), String]

  /** s13: ANN probe against the LIVE index after a mixed I/U/D feed.
    * The feed is derived deterministically from the embeddings table so
    * a SQL oracle can state the final corpus in closed form:
    *
    *   - inserts arrive in three chunks (`vec_id mod 3`), with every
    *     `vec_id mod 6 = 0` row REDELIVERED in chunk two (replay
    *     idempotence on the live path);
    *   - `vec_id mod 11 = 5` is then UPDATED to its NEGATED embedding —
    *     the negation flips every hyperplane sign, so each such vector
    *     MOVES to its complement bucket (the retract+reinsert path);
    *   - `vec_id mod 7 = 3` is DELETED;
    *   - finally every original row is REDELIVERED LATE at its insert
    *     position — entirely stale (updates keep their newer position,
    *     deleted keys are tombstoned), so the index must not move.
    *
    * Final live state ≡ `embeddings WHERE vec_id % 7 <> 3` with the
    * mod-11 negation applied — which is exactly what the DuckDB oracle
    * computes, running the s02 bucket/probe/top-k pipeline over that
    * closed form. A hash match proves the maintained store (built only
    * through incremental updateBatch folds) equals the batch rebuild.
    */
  def annLiveIndex(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val root = liveStoreFor(spark, dir)
    val queries = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3)
      .select(col("vec_id").as("query_id"),
        when(col("vec_id") % 11 === 5, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
    similarTo(spark, root, queries, k, numPlanes = 8)
  }

  /** The s13 maintained store for `dir`'s embeddings corpus, built once
    * per (app, corpus snapshot) — exposed (r16) so composed queries
    * (q151 live hybrid retrieval) probe the SAME store instead of
    * folding their own copy of the feed.
    */
  def liveStoreFor(spark: SparkSession, dir: String): String =
    liveIndexDirs.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, graft.sources.Tables.fingerprint(spark, dir, "embeddings")), {
        val d = Files.createTempDirectory("graft_ann_live").toString
        val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
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
          upd,
          del,
          ins(lit(true)), // late replay of every original insert: all stale
        ).foreach(b => updateBatch(b, d, numPlanes = 8, keyBuckets = 16))
        d
      })
}
