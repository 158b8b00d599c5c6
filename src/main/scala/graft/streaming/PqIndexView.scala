package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions.{dot, dotLong, l2Norm, toMicro}
import graft.operators.Similarity

/** Incrementally maintained PQ (product-quantization) index over the
  * changefeed (SURVEY.md §2.3 #369, r16) — the FIFTH live index family
  * and the last ANN family without maintenance (LSH #337, IVF #356):
  * s05/s06's compressed code table kept current under insert / update /
  * delete at PINNED per-subspace codebooks.
  *
  * Store layout (the [[AnnIndexView]] discipline):
  *
  *   - `root/codebook/` — the PINNED quantizer `(j, code, cvi, c2)` in
  *     micro-unit integers (the [[Similarity.pqIndex]] fixed-point
  *     Lloyd output — bit-deterministic, so a SQL oracle replays
  *     training AND encoding round-for-round);
  *   - `root/data/kb=<kb>/` — the code table `(vec_id, codes, norm)`:
  *     the #139 scan-unit row (m bytes + one float per vector — the
  *     compression that keeps a 10⁹-vector index in memory). PQ's ADC
  *     probe scans the WHOLE code table by design — that scan IS the
  *     index — so data partitions by key bucket for MAINTENANCE
  *     pruning (updates/purges open only their kb directories), not
  *     probe pruning;
  *   - `root/keys/kb=<kb>/` — locator `(vec_id, tsUs, seq, live)` with
  *     CdcMaterializer commit positions + delete tombstones (data rows
  *     co-partition with their locators, so no where-pointer needed);
  *   - `root/drift/` — the STALENESS LOG, IVF-shaped: per batch the
  *     mean integer RECONSTRUCTION error Σⱼ |svⱼ − c_codeⱼ|² of the
  *     batch's upserts at the pinned codebooks (vs the `baseline` row
  *     from [[create]]/[[retrain]]), plus the CODE-CHURN count (updates
  *     whose code word changed). A corpus drifting away from the
  *     pinned codebooks reads a rising error ratio — reconstruction
  *     error is exactly what ADC ranking quality degrades with, the
  *     right staleness signal for this family.
  *
  * Codebooks are an index-CREATION parameter: maintenance never moves
  * them (update cost stays ∝ batch), [[retrain]] is the explicit
  * rebuild verb. Re-ranking: a PQ store holds CODES — exact-cosine
  * refinement joins the caller's full-precision vectors
  * (`rerankWith`), exactly as s06's persisted index keeps raw
  * embeddings OUTSIDE the scan unit.
  */
object PqIndexView extends LocatorStore {

  val kind = "pq"
  protected val dataName = "data"
  protected val dataPart = "kb"
  protected val keyCol   = "vec_id"
  protected val dataSchema = StructType(Seq(
    StructField("kb", IntegerType), StructField("vec_id", LongType),
    StructField("codes", ArrayType(IntegerType)), StructField("norm", DoubleType)))
  protected val keysSchema = StructType(Seq(
    StructField("kb", IntegerType), StructField("vec_id", LongType),
    StructField("tsUs", LongType), StructField("seq", LongType),
    StructField("live", BooleanType)))

  private def cbDir(root: String) = s"$root/codebook"

  override def guard(spark: SparkSession, root: String): Unit =
    IndexStoreOps.requireNoRetrain(spark, root)

  /** The pinned per-subspace codebooks `(j, code, cvi, c2)`. */
  def readCodebook(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(cbDir(root))
      .select(col("j").cast("int").as("j"), col("code").cast("int").as("code"),
        col("cvi"), col("c2"))

  /** Encode rows `(vec_id, embedding, …)` at the pinned codebooks: the
    * exact [[Similarity.pqIndex]] assignment (argmax 2·sv·c − |c|² per
    * (vec, j), ties → smallest code), folded back to one row per vector
    * carrying `codes` (j-ordered), `norm`, and the integer
    * reconstruction error `qerr` = Σⱼ (|svⱼ|² − best scoreⱼ).
    */
  private def encodeAt(codebook: DataFrame, rows: DataFrame, m: Int): DataFrame = {
    val passthrough = rows.columns.filterNot(c => c == "vec_id" || c == "embedding")
    val subs = rows
      .select((Seq(col("vec_id"), col("embedding")) ++ passthrough.map(col)): _*)
      .select((Seq(col("vec_id"), l2Norm(col("embedding")).as("norm"),
        posexplode(expr(
          s"transform(sequence(0, $m - 1)," +
          s" j -> slice(embedding, j * (size(embedding) div $m) + 1, size(embedding) div $m))"))
          .as(Seq("j", "sv"))) ++ passthrough.map(col)): _*)
      .select((Seq(col("vec_id"), col("norm"), col("j"), toMicro(col("sv")).as("svi")) ++
        passthrough.map(col)): _*)
    val aggs = Seq(
      array_sort(collect_list(struct(col("j"), col("best.code").as("code")))).as("jc"),
      sum(col("best.jerr")).as("qerr"),
      first(col("best.norm")).as("norm")) ++
      passthrough.map(c => first(col(s"best.$c")).as(c))
    subs
      .join(broadcast(codebook), Seq("j"))
      .withColumn("score", lit(2L) * dotLong(col("svi"), col("cvi")) - col("c2"))
      .groupBy("vec_id", "j")
      .agg(max_by(
        struct((Seq(col("norm"), (dotLong(col("svi"), col("svi")) - col("score")).as("jerr"),
          col("code")) ++ passthrough.map(col)): _*),
        struct(col("score"), (-col("code")).as("nc"))).as("best"))
      .groupBy("vec_id")
      .agg(aggs.head, aggs.tail: _*)
      .select((Seq(col("vec_id"),
        transform(col("jc"), x => x.getField("code").cast("int")).as("codes"),
        col("norm"), col("qerr")) ++ passthrough.map(col)): _*)
  }

  /** CREATE the index: train the pinned codebooks on `bootstrap`
    * (`vec_id`, `embedding`) with the fixed-point Lloyd and record the
    * baseline reconstruction error. The code table starts EMPTY — the
    * corpus arrives through [[updateBatch]] (train on a sample, index
    * the stream — the 100 TB lifecycle).
    */
  def create(spark: SparkSession, root: String, bootstrap: DataFrame,
      m: Int = 4, k: Int = 16, iters: Int = 2): Unit = {
    val (_, codebook) = Similarity.pqIndex(bootstrap, m, k, iters)
    codebook.write.mode(SaveMode.Overwrite).parquet(cbDir(root))
    val base = encodeAt(readCodebook(spark, root),
        bootstrap.select("vec_id", "embedding"), m)
      .agg(count(lit(1)).as("n"), avg(col("qerr").cast("double")).as("m"))
      .collect().head
    IndexStoreOps.appendBaseline(spark, root, base)
  }

  /** Fold one micro-batch of changes (`op` ∈ I/U/D, `vec_id`,
    * `embedding`, `tsUs`, `seq`) into the live code table — the
    * [[AnnIndexView.updateBatch]] dataflow with the bucket function
    * swapped for pinned-codebook ENCODING. Codes and locators
    * co-partition on kb, so one batch touches exactly its kb dirs.
    */
  def updateBatch(batch: DataFrame, root: String, m: Int = 4,
      keyBuckets: Int = 64, batchId: Long = -1L): Unit =
    fold(batch, root, Seq("embedding"), keyBuckets) { (eff, kbs, keep) =>
      val spark = batch.sparkSession
      val ups = keep(encodeAt(readCodebook(spark, root),
          eff.filter(col("op") =!= "D")
            .select(col("vec_id"), col("embedding"), col("kb"), col("live")), m)
        .join(readData(spark, root).filter(col("kb").isin(kbs: _*))
          .select(col("vec_id"), col("codes").as("old_codes")), Seq("vec_id"), "left"))
      // staleness measurement, COLLECTED before the store writes (the
      // swap refreshes the path and would recompute old_codes against
      // the already-updated store): reconstruction error at the pinned
      // codebooks + code churn
      val d = ups.agg(count(lit(1)).as("n"), avg(col("qerr").cast("double")).as("m"),
          count(when(col("live") === true &&
            coalesce(col("old_codes") =!= col("codes"), lit(true)), 1)).as("moved"),
          count(when(col("live") === true, 1)).as("had_old"))
        .collect().head
      // codes co-partition with their locators, so the data leaves are the batch's kbs
      LocatorStore.DataStep(kbs, replaceKeys(eff, ups),
        commit = () => if (d.getLong(0) > 0L)
          IndexStoreOps.appendBatchDrift(spark, root, batchId, d.getLong(0), d.getDouble(1),
            moved = d.getLong(2), hadOld = d.getLong(3)))
    }

  /** The PQ retrain policy (#366's discipline on this family):
    * thresholds on the cumulative reconstruction-error ratio and code
    * churn since the current baseline. Unlike IVF, a code store cannot
    * reconstruct its vectors, so the policy carries the caller's
    * full-precision source (`vectors` — the same relation the rerank
    * stage joins).
    */
  final case class RetrainPolicy(
      churnFrac: Double = Double.PositiveInfinity,
      errRatio: Double = Double.PositiveInfinity,
      m: Int = 4, k: Int = 16, iters: Int = 2)

  /** Evaluate the policy against the current baseline's cumulative
    * staleness and retrain once (from `vectors`) if breached. Returns
    * whether a retrain ran; idempotent at a fixed store state.
    */
  def maybeRetrain(spark: SparkSession, root: String, policy: RetrainPolicy,
      vectors: DataFrame, keyBuckets: Int = 64): Boolean = {
    val breached = IndexStoreOps.driftBreached(stalenessReport(spark, root), policy.churnFrac, policy.errRatio)
    if (breached) retrain(spark, root, vectors, policy.m, policy.k, policy.iters, keyBuckets)
    breached
  }

  /** #369 wired end-to-end: changefeed → live PQ code table. With
    * `retrainWhen` set the staleness policy runs after every batch,
    * re-learning from `retrainVectors` (resolved at trigger time) —
    * the #366 self-running loop on the PQ family.
    */
  def maintain(feed: DataFrame, root: String, checkpointDir: String,
      m: Int = 4, keyBuckets: Int = 64,
      retrainWhen: Option[RetrainPolicy] = None,
      retrainVectors: Option[() => DataFrame] = None): DataStreamWriter[Row] =
    feed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        updateBatch(batch, root, m, keyBuckets, id)
        retrainWhen.foreach { p =>
          val vecs = retrainVectors.getOrElse(throw new IllegalArgumentException(
            "retrainWhen needs retrainVectors — a PQ code store cannot reconstruct its vectors"))
          maybeRetrain(batch.sparkSession, root, p, vecs(), keyBuckets): Unit
        }
      }

  /** The live code table `(kb, vec_id, codes, norm)`. */
  def readIndex(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(dataDir(root))
      .select(col("kb").cast("int").as("kb"), col("vec_id"),
        col("codes").cast("array<int>").as("codes"), col("norm"))

  /** The staleness surface — the [[IvfIndexView.stalenessReport]]
    * contract over this family's drift log: drift_ratio is the
    * reconstruction-error ratio over the current baseline (the signal
    * ADC ranking quality degrades with), churn is the code-changed
    * fraction, and the cumulative columns scope to the current
    * baseline with first-application-wins replay dedupe.
    */
  def stalenessReport(spark: SparkSession, root: String): DataFrame = {
    guard(spark, root)
    IndexStoreOps.stalenessReport(spark, root, readData(spark, root))
  }

  /** RETRAIN: re-learn the codebooks — but a PQ store holds CODES, not
    * vectors, so retraining needs the full-precision corpus back from
    * the caller (`vectors`: `vec_id`, `embedding` — the same relation
    * [[similarTo]]'s rerank stage joins). Rewrites codes for every
    * LIVE key at the new codebooks and resets the drift baseline.
    * Cost ∝ store size, which is why codebooks stay pinned between
    * retrains.
    */
  def retrain(spark: SparkSession, root: String, vectors: DataFrame,
      m: Int = 4, k: Int = 16, iters: Int = 2, keyBuckets: Int = 64): Unit =
    // crash-detectable: codes and codebooks swap in together through
    // IndexStoreOps.stagedRetrain (the locators keep their positions)
    IndexStoreOps.stagedRetrain(spark, root, Seq(dataDir(root), cbDir(root))) { staged =>
      val live = readIndex(spark, root).select("vec_id")
        .join(vectors.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .localCheckpoint(true)
      val (_, codebookRaw) = Similarity.pqIndex(live, m, k, iters)
      val codebook = codebookRaw
        .select(col("j").cast("int").as("j"), col("code").cast("int").as("code"),
          col("cvi"), col("c2"))
        .localCheckpoint(true)
      val encoded = IndexStoreOps.clusterByLeaf(encodeAt(codebook,
          live.withColumn("kb", pmod(col("vec_id"), lit(keyBuckets.toLong)).cast("int")), m),
        "kb")
      val base = encoded
        .agg(count(lit(1)).as("n"), avg(col("qerr").cast("double")).as("m"))
        .collect().head
      encoded.select(col("kb"), col("vec_id"), col("codes"), col("norm"))
        .write.mode(SaveMode.Overwrite).partitionBy("kb").parquet(staged(dataDir(root)))
      codebook.write.mode(SaveMode.Overwrite).parquet(staged(cbDir(root)))
      base
    }(IndexStoreOps.appendBaseline(spark, root, _))

  /** Probe the LIVE index: s05's asymmetric-distance dataflow served
    * from the maintained code table. The broadcast lookup table (query
    * subvector · every codebook centroid) joins the code scan on
    * (j, code); the approximate dot is the exact-integer sum of m
    * entries; the top `rerank` ADC candidates per query refine to
    * EXACT cosine against `rerankWith` (`vec_id`, `embedding` — the
    * full-precision store a PQ deployment keeps beside the codes).
    * With `rerankWith = None` ranking is pure ADC.
    */
  def similarTo(spark: SparkSession, root: String, queries: DataFrame,
      k: Int = 3, m: Int = 4, rerank: Int = 60,
      rerankWith: Option[DataFrame] = None): DataFrame = {
    guard(spark, root)
    val codebook = readCodebook(spark, root)
    val lut = broadcast(
      queries
        .select(col("query_id"), col("embedding").as("q_emb"))
        .withColumn("q_norm", l2Norm(col("q_emb")))
        .select(col("query_id"), col("q_norm"), posexplode(expr(
          s"transform(sequence(0, $m - 1)," +
          s" j -> slice(q_emb, j * (size(q_emb) div $m) + 1, size(q_emb) div $m))"))
          .as(Seq("j", "qsv")))
        .join(broadcast(codebook), Seq("j"))
        .select(col("query_id"), col("q_norm"), col("j"), col("code"),
          dotLong(toMicro(col("qsv")), col("cvi")).as("pdot")))
    val codes = readIndex(spark, root)
      .select(col("vec_id"), col("norm"), posexplode(col("codes")).as(Seq("j", "code")))
    val adcW = Window.partitionBy("query_id").orderBy(col("adot").desc, col("neighbor_id"))
    val cand = codes
      .join(lut, Seq("j", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("pdot").as("adot"), first("q_norm").as("q_norm"), first("norm").as("n_norm"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("arn", row_number().over(adcW))
      .filter(col("arn") <= math.max(k, rerank))
    val w = Window.partitionBy("query_id").orderBy(col("sim6").desc, col("neighbor_id"))
    val scored = rerankWith match {
      case Some(emb) =>
        cand
          .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")),
            Seq("neighbor_id"))
          .join(broadcast(queries.select(col("query_id"), col("embedding").as("q_emb"))),
            Seq("query_id"))
          .withColumn("sim6",
            round(dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")), 6))
      case None =>
        // adot is micro²-scaled (10⁻¹² per unit)
        cand.withColumn("sim6",
          round(col("adot").cast("double") / 1e12 / (col("q_norm") * col("n_norm")), 6))
    }
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim6"), 4).as("approx_cosine"), col("rn"))
      .localCheckpoint(true) // snapshot: results must survive input churn
  }

  // ---- s16: the batch-verifiable driver entry ------------------------

  private val liveIndexDirs =
    new scala.collection.concurrent.TrieMap[(String, String, Long), String]

  /** s16: PQ ANN probe against the LIVE code table after a mixed I/U/D
    * feed — the s13/s15 feed shape (three insert chunks with a mod-6
    * redelivery, mod-11 NEGATED updates, mod-7 deletes, then a fully
    * stale replay of every original insert) folded into a store whose
    * codebooks were PINNED by fixed-point Lloyd over the ORIGINAL
    * corpus. The DuckDB oracle replays the s05 codebook training
    * round-for-round, encodes the closed-form FINAL corpus at those
    * pinned codebooks, and runs the ADC + exact-rerank probe — hash
    * equality proves the maintained code table ≡ the batch re-encode.
    */
  def annPqLive(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val root = liveIndexDirs.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, graft.sources.Tables.fingerprint(spark, dir, "embeddings")), {
        val d = Files.createTempDirectory("graft_pq_live").toString
        val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
        create(spark, d, e, m = 4, k = 16, iters = 2)
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
        ).zipWithIndex.foreach { case (b, i) =>
          updateBatch(b, d, m = 4, keyBuckets = 16, batchId = i.toLong) }
        d
      })
    // the closed-form FINAL corpus: queries AND the exact-rerank store
    val finalCorpus = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 7 =!= 3)
      .select(col("vec_id"),
        when(col("vec_id") % 11 === 5, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
    val queries = finalCorpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    similarTo(spark, root, queries, k, m = 4, rerank = 60, rerankWith = Some(finalCorpus))
  }
}
