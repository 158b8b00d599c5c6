package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions.{dot, dotLong, l2Norm, toMicro}
import graft.operators.Similarity

/** Incrementally maintained IVF index over the changefeed (SURVEY.md
  * §2.3 #356, r15) — the fourth live index family (#337 LSH postings,
  * #339 bitmaps, #340 text postings, here IVF cells): s04's
  * coarse-quantizer index kept current under insert / update / delete
  * at PINNED centroids, with the staleness measurement that tells an
  * operator WHEN the pinned quantizer has drifted enough to retrain —
  * the policy knob Milvus/Vespa-class engines treat as core.
  *
  * Store layout (the [[AnnIndexView]] discipline, cell-partitioned):
  *
  *   - `root/centroids/` — the PINNED coarse quantizer `(cid, ci, c2)`
  *     in micro-unit integers (the [[Similarity.ivfIndex]] fixed-point
  *     Lloyd output — bit-deterministic, so a SQL oracle can replay
  *     training AND assignment);
  *   - `root/data/cid=<c>/` — cell postings `(vec_id, embedding,
  *     norm)`: a probe opens `nprobe` directories (partition pruning);
  *   - `root/keys/kb=<kb>/` — locator `(vec_id, tsUs, seq, live, cid)`
  *     with CdcMaterializer commit positions + delete tombstones, so
  *     out-of-order changes resolve exactly as the materializer does;
  *   - `root/drift/` — the STALENESS LOG: one row per batch
  *     `(batch_id, kind, n_vecs, mean_err, moved, had_old, base_seq)` —
  *     the mean integer quantization error |x − c|² = |x|² − (2·x·c −
  *     |c|²) of the batch's upserts at the pinned centroids (vs the
  *     `baseline` row recorded at [[create]]/[[retrain]] time), AND the
  *     assignment-CHURN count: how many updates landed in a different
  *     cell than the row they replaced. The measured curve
  *     (bench/ivf_drift.json) shows churn is the signal that matters:
  *     under symmetric drift (sign flips, rotations) vectors relocate
  *     to OTHER pinned cells at similar quantization error — the error
  *     ratio stays ≈1.0 while nprobe recall collapses (0.97 → 0.23 at
  *     full drift) — while `moved/had_old` reads the fraction of THAT
  *     BATCH's updates that changed cell (1.0 when the batch IS the
  *     drifted slice, however small the batch). The retrain TRIGGER is
  *     therefore the batch-size-weighted CUMULATIVE form
  *     (`cum_churn_frac` = moved-total since the baseline ÷ store
  *     size, see [[stalenessReport]]/[[RetrainPolicy]]); the error
  *     ratio additionally catches EXPANSIVE drift (new mass outside
  *     every cell).
  *
  * Centroids are an index-CREATION parameter exactly like
  * [[AnnIndexView]]'s plane count: maintenance NEVER moves them (that
  * is what keeps update cost ∝ batch — re-centering re-buckets the
  * world), [[retrain]] is the explicit rebuild verb (full store
  * rewrite, cost documented in the drift artifact), and
  * [[stalenessReport]] is the measurement that schedules it.
  */
object IvfIndexView extends LocatorStore {

  val kind = "ivf"
  protected val dataName = "data"
  protected val dataPart = "cid"
  protected val keyCol   = "vec_id"
  protected val dataSchema = StructType(Seq(
    StructField("cid", IntegerType), StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("norm", DoubleType)))
  protected val keysSchema = StructType(Seq(
    StructField("kb", IntegerType), StructField("vec_id", LongType),
    StructField("tsUs", LongType), StructField("seq", LongType),
    StructField("live", BooleanType), StructField("cid", IntegerType)))

  private def centDir(root: String) = s"$root/centroids"

  override def guard(spark: SparkSession, root: String): Unit =
    IndexStoreOps.requireNoRetrain(spark, root)

  /** Pinned centroids `(cid, ci, c2)`. */
  def readCentroids(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(centDir(root))
      .select(col("cid").cast("int").as("cid"), col("ci"), col("c2"))

  /** Assign each row's nearest pinned centroid by the fixed-point
    * integer argmin-L2 (argmax 2·x·c − |c|², ties → smallest cid — the
    * exact [[Similarity.ivfIndex]] assignment, so live ≡ rebuild is
    * provable). Adds `cid` and the integer quantization error `qerr`.
    */
  private def assignAt(centroids: DataFrame, rows: DataFrame): DataFrame =
    rows
      .withColumn("x2", dotLong(col("xi"), col("xi")))
      .crossJoin(broadcast(centroids))
      .withColumn("score", lit(2L) * dotLong(col("xi"), col("ci")) - col("c2"))
      .groupBy("vec_id")
      .agg(max_by(
        struct((rows.columns.toSeq.filterNot(_ == "vec_id").map(col) ++
          Seq((col("x2") - col("score")).as("qerr"), col("cid"))): _*),
        struct(col("score"), (-col("cid")).as("ncid"))).as("best"))
      .select((Seq(col("vec_id")) ++
        rows.columns.filterNot(c => c == "vec_id" || c == "xi").map(c => col(s"best.$c").as(c)) ++
        Seq(col("best.qerr").as("qerr"), col("best.cid").cast("int").as("cid"))): _*)

  /** CREATE the index: train the pinned quantizer on `bootstrap`
    * (`vec_id`, `embedding`) with the fixed-point Lloyd, persist the
    * centroids, and record the baseline quantization error. The data
    * store starts EMPTY — the corpus arrives through [[updateBatch]]
    * like any other change (the bootstrap is a training sample, which
    * at 100 TB is exactly how IVF quantizers are built: train on a
    * sample, index the stream).
    */
  def create(spark: SparkSession, root: String, bootstrap: DataFrame,
      k: Int = 16, iters: Int = 2): Unit = {
    val (cells, centroids) = Similarity.ivfIndex(bootstrap, k, iters)
    centroids.write.mode(SaveMode.Overwrite).parquet(centDir(root))
    // baseline mean |x−c|² over the training sample, exact integers
    val base = cells
      .withColumn("x2", dotLong(col("xi"), col("xi")))
      .join(broadcast(readCentroids(spark, root)), Seq("cid"))
      .withColumn("qerr", col("x2") - (lit(2L) * dotLong(col("xi"), col("ci")) - col("c2")))
      .agg(count(lit(1)).as("n"), avg(col("qerr").cast("double")).as("m"))
      .collect().head
    IndexStoreOps.appendBaseline(spark, root, base)
  }

  /** Fold one micro-batch of changes (`op` ∈ I/U/D, `vec_id`,
    * `embedding`, `tsUs`, `seq`) into the live index — the
    * [[AnnIndexView.updateBatch]] dataflow with the hyperplane bucket
    * swapped for pinned-centroid assignment, plus the drift row.
    */
  def updateBatch(batch: DataFrame, root: String, keyBuckets: Int = 64,
      batchId: Long = -1L): Unit =
    fold(batch, root, Seq("embedding"), keyBuckets) { (eff, _, keep) =>
      val spark = batch.sparkSession
      val ups = keep(assignAt(readCentroids(spark, root),
        eff.filter(col("op") =!= "D")
          .select(col("vec_id"), col("embedding"), col("kb"), col("tsUs"), col("seq"),
            col("live"), col("old_cid"))
          .withColumn("norm", l2Norm(col("embedding")))
          .withColumn("xi", toMicro(col("embedding")))))
      // drift measurement: the batch's mean quantization error at the
      // PINNED centroids + the assignment-churn count (updates that
      // changed cell), taken where the work already is (assignAt
      // computed qerr and cid per upsert), in ONE tagged-union collect
      // with the touched-cell set. COLLECTED here, before the store
      // writes: the swap refreshes the store path, and the cached plan
      // would silently recompute old_cid against post-swap state (churn
      // would read 0). The LOG WRITE waits until both sides have swapped,
      // so a failed micro-batch never skews the signal.
      val taggedRows = eff.filter(col("live") === true).select(col("old_cid").cast("long").as("cid"))
        .union(ups.select(col("cid").cast("long")))
        .distinct()
        .select(lit("t").as("tag"), col("cid").as("l"),
          lit(0.0).as("m"), lit(0L).as("moved"), lit(0L).as("had_old"))
        .unionByName(
          ups.agg(count(lit(1)).as("l"), avg(col("qerr").cast("double")).as("m"),
            count(when(col("live") === true && col("old_cid") =!= col("cid"), 1)).as("moved"),
            count(when(col("live") === true, 1)).as("had_old"))
          .select(lit("d").as("tag"), col("l"),
            coalesce(col("m"), lit(0.0)).as("m"), col("moved"), col("had_old")))
        .collect()
      val touched = taggedRows.filter(_.getString(0) == "t").map(_.getLong(1)).sorted.toSeq
      val d = taggedRows.find(_.getString(0) == "d").get
      // drift row: a restart-replayed batch appends a second row for the
      // same batch_id with its effects already applied (moved reads 0) —
      // [[stalenessReport]] dedupes per (kind, batch_id, base_seq)
      // keeping the first application's churn evidence
      LocatorStore.DataStep(touched, replaceKeys(eff, ups),
        locate = _.join(ups.select(col("vec_id"), col("cid")), Seq("vec_id"), "left"),
        commit = () => if (d.getLong(1) > 0L)
          IndexStoreOps.appendBatchDrift(spark, root, batchId, d.getLong(1), d.getDouble(2),
            moved = d.getLong(3), hadOld = d.getLong(4)))
    }

  /** The self-running retrain policy (#366, r16 — closes the loop the
    * r15 measurement opened): thresholds on the CUMULATIVE staleness
    * signals since the current baseline, checked after every folded
    * micro-batch when passed to [[maintain]].
    *
    *   - `churnFrac`: cumulative moved-cell count since the baseline ÷
    *     current store size — the batch-size-WEIGHTED form of the
    *     per-batch `moved/had_old` (which reads 1.0 for any small
    *     all-moved batch and so cannot be a trigger by itself). The
    *     measured recall curve (bench/ivf_drift.json: pinned recall
    *     0.97 → 0.23 as the drifted fraction grows) is what calibrates
    *     it — 0.3 is a reasonable default for nprobe=2.
    *   - `errRatio`: batch-weighted mean quantization error since the
    *     baseline ÷ baseline error — catches EXPANSIVE drift (new mass
    *     far from every pinned cell) that churn alone can miss.
    *
    * Either bound breached → [[retrain]] at `(k, iters)`. Retraining
    * records a new baseline, so both cumulative signals reset and a
    * restart-replayed trigger batch cannot double-retrain (its re-logged
    * row carries the NEW base_seq with zero churn).
    */
  final case class RetrainPolicy(
      churnFrac: Double = Double.PositiveInfinity,
      errRatio: Double = Double.PositiveInfinity,
      k: Int = 16, iters: Int = 2)

  /** Evaluate the policy against the CURRENT baseline's cumulative
    * staleness and retrain once if breached. Returns whether a retrain
    * ran. Idempotent at a fixed store state: a second call right after
    * a retrain sees the fresh baseline (cumulative signals ≈ 0).
    */
  def maybeRetrain(spark: SparkSession, root: String, policy: RetrainPolicy): Boolean = {
    val breached = IndexStoreOps.driftBreached(stalenessReport(spark, root), policy.churnFrac, policy.errRatio)
    if (breached) retrain(spark, root, policy.k, policy.iters)
    breached
  }

  /** #356 wired end-to-end: changefeed → live IVF index. With
    * `retrainWhen` set, the maintenance loop ALSO runs the staleness
    * policy after each batch — the measured retrain trigger running
    * itself (#366) instead of waiting for an operator to poll
    * INDEX_STALENESS.
    */
  def maintain(feed: DataFrame, root: String, checkpointDir: String,
      keyBuckets: Int = 64,
      retrainWhen: Option[RetrainPolicy] = None): DataStreamWriter[Row] =
    feed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        updateBatch(batch, root, keyBuckets, id)
        retrainWhen.foreach(p => maybeRetrain(batch.sparkSession, root, p): Unit)
      }

  /** The live cell postings `(cid, vec_id, embedding, norm)`. */
  def readIndex(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(dataDir(root))
      .select(col("cid").cast("int").as("cid"), col("vec_id"), col("embedding"), col("norm"))

  /** The staleness surface: every drift row with its ratio over the
    * current baseline plus the cumulative signals [[RetrainPolicy]]
    * triggers on ([[IndexStoreOps.stalenessReport]]).
    */
  def stalenessReport(spark: SparkSession, root: String): DataFrame = {
    guard(spark, root)
    IndexStoreOps.stalenessReport(spark, root, readData(spark, root))
  }

  /** RETRAIN: the explicit re-centering verb — fixed-point Lloyd over
    * the LIVE corpus, then one full re-partition of the data store and
    * a locator cid refresh (positions untouched: retraining moves no
    * keys in time). This is the cost [[stalenessReport]] schedules:
    * ∝ store size, vs updateBatch's ∝ batch — which is exactly why
    * centroids are pinned between retrains. Resets the drift baseline.
    */
  def retrain(spark: SparkSession, root: String, k: Int = 16, iters: Int = 2): Unit =
    // crash-detectable: the three rewritten directories swap in through
    // IndexStoreOps.stagedRetrain, and the new baseline is recorded only
    // after the swap
    IndexStoreOps.stagedRetrain(spark, root, Seq(dataDir(root), keysDir(root), centDir(root))) { staged =>
      val live = readIndex(spark, root).select(col("vec_id"), col("embedding"))
        .localCheckpoint(true) // source and sink of the rewrite below
      val (cells, centroidsRaw) = Similarity.ivfIndex(live, k, iters)
      val centroids = centroidsRaw
        .select(col("cid").cast("int").as("cid"), col("ci"), col("c2"))
        .localCheckpoint(true)
      val assigned = IndexStoreOps.clusterByLeaf(assignAt(centroids,
        live.withColumn("norm", l2Norm(col("embedding")))
          .withColumn("xi", toMicro(col("embedding"))))
        .select(col("cid"), col("vec_id"), col("embedding"), col("norm"), col("qerr")), "cid")
      val base = cells
        .withColumn("x2", dotLong(col("xi"), col("xi")))
        .join(broadcast(centroids), Seq("cid"))
        .withColumn("qerr", col("x2") - (lit(2L) * dotLong(col("xi"), col("ci")) - col("c2")))
        .agg(count(lit(1)).as("n"), avg(col("qerr").cast("double")).as("m"))
        .collect().head
      val keys = IndexStoreOps.clusterByLeaf(readKeys(spark, root)
        .drop("cid")
        .join(assigned.select(col("vec_id"), col("cid")), Seq("vec_id"), "left")
        .select(keysSchema.fieldNames.map(col).toSeq: _*), "kb")
      assigned.drop("qerr").write.mode(SaveMode.Overwrite).partitionBy("cid")
        .parquet(staged(dataDir(root)))
      keys.write.mode(SaveMode.Overwrite).partitionBy("kb").parquet(staged(keysDir(root)))
      centroids.write.mode(SaveMode.Overwrite).parquet(staged(centDir(root)))
      base
    }(IndexStoreOps.appendBaseline(spark, root, _))

  /** Probe the LIVE index: top-k cosine neighbors per query row
    * `(query_id, embedding)` at the pinned centroids — s04's nprobe
    * dataflow served from the maintained store, the probed cell ids
    * collected driver-side so the postings scan is partition-pruned to
    * `queries × nprobe` directories.
    */
  def similarTo(spark: SparkSession, root: String, queries: DataFrame,
      k: Int = 3, nprobe: Int = 2): DataFrame = {
    guard(spark, root)
    val centroids = readCentroids(spark, root)
    val pw = Window.partitionBy("query_id").orderBy(col("pscore").desc, col("cid"))
    val q = queries
      .select(col("query_id"), col("embedding").as("q_emb"))
      .withColumn("q_norm", l2Norm(col("q_emb")))
      .withColumn("q_xi", toMicro(col("q_emb")))
      .crossJoin(broadcast(centroids))
      .withColumn("pscore", lit(2L) * dotLong(col("q_xi"), col("ci")) - col("c2"))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("q_norm"), col("cid"))
      .persist()
    try {
      val probeCells = q.select("cid").distinct().collect().map(_.getInt(0).toLong).toSeq
      val w = Window.partitionBy("query_id").orderBy(col("sim6").desc, col("neighbor_id"))
      readIndex(spark, root)
        .filter(col("cid").isin(probeCells: _*))
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
          col("norm").as("n_norm"), col("cid"))
        .join(broadcast(q), Seq("cid"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim6", round(dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")), 6))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .select(col("query_id"), col("neighbor_id"), round(col("sim6"), 4).as("cosine"), col("rn"))
        .localCheckpoint(true) // snapshot: results must survive q.unpersist
    } finally q.unpersist()
  }

  // ---- s15: the batch-verifiable driver entry ------------------------

  private val liveIndexDirs =
    new scala.collection.concurrent.TrieMap[(String, String, Long), String]

  /** s15: ANN probe against the LIVE IVF index after a mixed I/U/D feed
    * — the s13 feed shape (three insert chunks with a mod-6 redelivery,
    * mod-11 NEGATED updates, mod-7 deletes, then a fully stale replay
    * of every original insert) folded into a store whose centroids were
    * PINNED by fixed-point Lloyd over the ORIGINAL corpus. The DuckDB
    * oracle replays the training round-for-round over `embeddings`
    * (the s04 scaffolding), assigns the closed-form FINAL corpus at
    * those pinned centroids, and runs the nprobe=2 probe — hash
    * equality proves the maintained store ≡ the batch rebuild at the
    * same quantizer.
    */
  def annIvfLive(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val root = liveIndexDirs.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, graft.sources.Tables.fingerprint(spark, dir, "embeddings")), {
        val d = Files.createTempDirectory("graft_ivf_live").toString
        val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
        create(spark, d, e, k = 16, iters = 2)
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
        ).zipWithIndex.foreach { case (b, i) => updateBatch(b, d, keyBuckets = 16, batchId = i.toLong) }
        d
      })
    val queries = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3)
      .select(col("vec_id").as("query_id"),
        when(col("vec_id") % 11 === 5, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
    similarTo(spark, root, queries, k, nprobe = 2)
  }
}
