package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** Incrementally maintained POSITIONAL INVERTED INDEX over the document
  * changefeed (SURVEY.md §2.3 #340) — the third live index family
  * (#337 ANN postings, #339 bitmaps, here text postings): q143's phrase
  * search served from a store kept current under document insert /
  * update / delete, the Lucene delete-by-doc + re-add lifecycle as a
  * partitioned-parquet dataflow.
  *
  * Store layout:
  *
  *   - `root/post/tb=<b>/` — postings `(tok, doc_id, pos)` partitioned
  *     by TOKEN BUCKET `tb = xxhash64(tok) mod buckets`: a phrase probe
  *     opens only its terms' bucket directories (partition pruning),
  *     and within them filters to the terms — the positional-index
  *     probe cost model.
  *   - `root/keys/kb=<kb>/` — the locator `(doc_id, tsUs, seq, live,
  *     tbs)` with CdcMaterializer commit positions, delete TOMBSTONES,
  *     and the doc's TOKEN-BUCKET SET `tbs` — retraction of a changed/
  *     deleted doc prunes to exactly the bucket partitions its old
  *     postings inhabit, without re-deriving (or storing) the old text.
  *
  * Maintenance cost per micro-batch ∝ batch docs' postings + touched
  * bucket partitions: LWW winners fold first, the locator resolves
  * stale changes exactly as the materializer does, new docs tokenize in
  * one scan-shaped posexplode, and only touched `tb` partitions are
  * read back, anti-joined on the effective doc ids, and rewritten
  * (emptied partitions removed — the PartitionedUpsert rule) through the
  * shared [[LocatorStore]] fold. At 100 TB the bucket count scales with the
  * token space and each partition is one shard of the posting table;
  * an update re-tokenizes only itself.
  */
object PostingIndexView extends LocatorStore {

  val kind = "posting"
  protected val dataName = "post"
  protected val dataPart = "tb"
  protected val keyCol   = "doc_id"
  protected val dataSchema = StructType(Seq(
    StructField("tb", IntegerType), StructField("tok", StringType),
    StructField("doc_id", LongType), StructField("pos", IntegerType)))
  protected val keysSchema = StructType(Seq(
    StructField("kb", IntegerType), StructField("doc_id", LongType),
    StructField("tsUs", LongType), StructField("seq", LongType),
    StructField("live", BooleanType), StructField("tbs", ArrayType(IntegerType))))

  private def tbOf(tok: org.apache.spark.sql.Column, buckets: Int) =
    pmod(xxhash64(tok), lit(buckets.toLong)).cast("int")

  /** Fold one micro-batch of document changes (`op` ∈ I/U/D, `doc_id`,
    * `text`, `tsUs`, `seq`) into the live index at `root`.
    */
  def updateBatch(batch: DataFrame, root: String, buckets: Int = 64, keyBuckets: Int = 64): Unit =
    fold(batch, root, Seq("text"), keyBuckets) { (eff, _, keep) =>
      // new postings, tokenized exactly as q143 (whitespace positions)
      val newPost = keep(eff.filter(col("op") =!= "D")
        .select(col("doc_id"),
          posexplode(graft.functions.TextFunctions.words(col("text"))).as(Seq("pos", "tok")))
        .select(tbOf(col("tok"), buckets).as("tb"), col("tok"), col("doc_id"),
          col("pos").cast("int").as("pos")))
      val touched = eff.filter(col("live") === true)
        .select(explode(col("old_tbs")).as("tb")).select(col("tb").cast("long"))
        .union(newPost.select(col("tb").cast("long")))
        .distinct().collect().map(_.getLong(0)).sorted.toSeq
      LocatorStore.DataStep(touched, replaceKeys(eff, newPost),
        locate = _.join(newPost.groupBy("doc_id").agg(collect_set("tb").as("tbs")), Seq("doc_id"), "left")
          .withColumn("tbs", coalesce(col("tbs"), array().cast("array<int>"))))
    }

  /** A doc's postings live in every bucket of its locator's token-bucket set. */
  override protected def leavesOf(loc: Row): Seq[Any] =
    loc.getAs[scala.collection.Seq[Int]]("tbs").toSeq

  /** #340 wired end-to-end: document changefeed → live posting index. */
  def maintain(feed: DataFrame, root: String, checkpointDir: String,
      buckets: Int = 64, keyBuckets: Int = 64): DataStreamWriter[Row] =
    feed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        updateBatch(batch, root, buckets, keyBuckets) }

  /** The live postings `(tb, tok, doc_id, pos)`. */
  def readIndex(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(dataDir(root))
      .select(col("tb").cast("int").as("tb"), col("tok"), col("doc_id"),
        col("pos").cast("int").as("pos"))

  /** Phrase probe against the LIVE index — q143's adjacency dataflow
    * served from the store: only the phrase terms' bucket partitions
    * are opened (IN-pruned on `tb`), then L−1 position joins.
    */
  def phraseSearch(spark: SparkSession, root: String, phrases: Seq[Seq[String]],
      buckets: Int = 64): DataFrame = {
    val terms = phrases.flatten.distinct
    val tbs = terms.map(t =>
      spark.range(1).select(tbOf(lit(t), buckets)).collect().head.getInt(0).toLong).distinct
    val post = readIndex(spark, root).filter(col("tb").isin(tbs: _*))
      .select(col("tok"), col("doc_id"), col("pos"))
    def occurrences(phrase: Seq[String]): DataFrame = {
      val base = post.filter(col("tok") === phrase.head).select(col("doc_id"), col("pos"))
      phrase.zipWithIndex.drop(1).foldLeft(base) { case (acc, (w, i)) =>
        acc.join(
          post.filter(col("tok") === w).select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
      }
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        .select(lit(phrase.mkString(" ")).as("phrase"), col("doc_id"), col("n_hits"))
    }
    phrases.map(occurrences).reduce(_.unionByName(_))
  }

  /** BM25 ranked retrieval FROM the live posting store (#372, r16) —
    * t15's scorer (k1 = 1.2, b = 0.75, +1-smoothed IDF) with every
    * statistic derived from the MAINTAINED postings instead of a
    * corpus scan: tf per (term, doc) comes from the terms' bucket
    * partitions (IN-pruned — the probe-cost model), df per term from
    * the same pruned read, and doc lengths / corpus stats from one
    * map-side-combined pass over the store. A production deployment
    * materializes the dl sidecar incrementally (one more maintained
    * aggregate, the #39 discipline); here it is recomputed per call,
    * which is the same single-pass shape the batch t15 pays. Top-k by
    * (score DESC, doc_id), the deterministic cut.
    */
  def bm25Live(spark: SparkSession, root: String, queryTerms: Seq[String],
      buckets: Int = 64, k: Int = 10): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val post = readIndex(spark, root)
    val dl    = post.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
    val tbs = queryTerms.map(t =>
      spark.range(1).select(tbOf(lit(t), buckets)).collect().head.getInt(0).toLong).distinct
    val tf = post.filter(col("tb").isin(tbs: _*))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfT   = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val avgdl = col("tot_dl").cast("double") / col("n_docs")
    val idf   = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val score = idf * col("tf") * (lit(1.0) + k1) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    tf.join(dl, Seq("doc_id"))
      .join(broadcast(dfT), Seq("tok"))
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(round(sum(score), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** q152: BM25 from the LIVE index after the q148 I/U/D feed — the
    * oracle recomputes tf/df/dl/stats over the closed-form final
    * corpus at the STORE's tokenization (whitespace positions) and
    * replays the t15 scoring formula; hash equality proves the
    * maintained postings carry exact retrieval statistics, not just
    * phrase adjacency.
    */
  def bm25FromLive(spark: SparkSession, dir: String): DataFrame =
    bm25Live(spark, liveStoreFor(spark, dir), Seq("spark", "stream", "key"))

  // ---- q148: the batch-verifiable driver entry ------------------------

  private val liveDirs =
    new scala.collection.concurrent.TrieMap[(String, String, Long), String]

  /** q148: phrase search against the LIVE posting index after a mixed
    * I/U/D document feed — inserts in three chunks with replays,
    * `doc_id mod 11 = 5` UPDATED by appending " spark stream" (those
    * docs gain a phrase hit — the re-tokenize path), `doc_id mod 17 = 3`
    * DELETED, then a full stale replay of every original insert. The
    * oracle runs q143's SQL over the closed-form final corpus; hash
    * equality proves the maintained postings equal the batch rebuild.
    */
  def phraseLive(spark: SparkSession, dir: String): DataFrame =
    phraseSearch(spark, liveStoreFor(spark, dir),
      Seq(Seq("spark", "stream"), Seq("the", "fast", "key")))

  /** The q148 maintained store for `dir`'s documents corpus, built once
    * per (app, corpus snapshot) — exposed (r16) so composed queries
    * (q151 live hybrid retrieval) probe the SAME store instead of
    * folding their own copy of the feed.
    */
  def liveStoreFor(spark: SparkSession, dir: String): String =
    liveDirs.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, graft.sources.Tables.fingerprint(spark, dir, "documents")), {
        val d = Files.createTempDirectory("graft_post_live").toString
        val docs = graft.sources.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        def ins(pred: org.apache.spark.sql.Column) = docs.filter(pred).select(
          lit("I").as("op"), col("doc_id"), col("text"),
          lit(1000L).as("tsUs"), col("doc_id").as("seq"))
        val upd = docs.filter(col("doc_id") % 11 === 5).select(
          lit("U").as("op"), col("doc_id"),
          concat(col("text"), lit(" spark stream")).as("text"),
          lit(2000L).as("tsUs"), col("doc_id").as("seq"))
        val del = docs.filter(col("doc_id") % 17 === 3).select(
          lit("D").as("op"), col("doc_id"), col("text"),
          lit(3000L).as("tsUs"), col("doc_id").as("seq"))
        Seq(
          ins(col("doc_id") % 3 === 0),
          ins(col("doc_id") % 3 === 1).unionByName(ins(col("doc_id") % 6 === 0)),
          ins(col("doc_id") % 3 === 2),
          upd,
          del,
          ins(lit(true)),
        ).foreach(b => updateBatch(b, d))
        d
      })
}
