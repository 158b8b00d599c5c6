package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** Incrementally maintained BITMAP INDEX over the changefeed
  * (SURVEY.md §2.3 #339) — q146's categorical word bitmaps kept LIVE
  * under insert / update / delete, the [[AnnIndexView]] store
  * discipline applied to the second index family: one bitmap per
  * attribute value over the key universe, keys folded into 63-bit
  * words (`bit = 1 << (key mod 63)` at word `key div 63` — the q130
  * sign-trap rule), conjunctive predicates answered in word space
  * without touching any fact table.
  *
  * What makes bitmaps the EASY case of live index maintenance: each
  * key owns exactly one bit position, so retraction is algebraic — a
  * delete ANDs the key's bit out of its old value's word, an update is
  * clear(old value) + set(new value), and no posting list ever needs
  * re-deriving from members. Store layout:
  *
  *   - `root/bm/val=<v>/` — `(w, bits)` word rows of value v's bitmap
  *     (partition pruning: a predicate on v opens one directory);
  *   - `root/keys/kb=<kb>/` — the locator `(key, tsUs, seq, live, v)`
  *     with CdcMaterializer commit positions and delete TOMBSTONES:
  *     out-of-order changes resolve exactly as the materializer does
  *     (a change strictly older than the stored position is ignored,
  *     including late re-inserts of deleted keys).
  *
  * Maintenance cost per micro-batch ∝ batch keys: the batch folds to
  * LWW winners, the locator answers each key's current value from the
  * batch's key partitions, word-level set/clear masks fold map-side
  * (bit_or), and only the touched value partitions are read back and
  * rewritten ((old AND NOT clear) OR set per word; an emptied partition
  * is removed) through the shared [[LocatorStore]] fold. At 100 TB the word
  * tables are |universe|/63-sized per value and the whole merge is a
  * keyed join on (val, w) over batch-derived masks.
  */
object BitmapIndexView extends LocatorStore {

  val kind = "bitmap"
  protected val dataName = "bm"
  protected val dataPart = "val"
  protected val keyCol   = "key"
  protected val dataSchema = StructType(Seq(
    StructField("val", StringType), StructField("w", LongType), StructField("bits", LongType)))
  protected val keysSchema = StructType(Seq(
    StructField("kb", IntegerType), StructField("key", LongType),
    StructField("tsUs", LongType), StructField("seq", LongType),
    StructField("live", BooleanType), StructField("val", StringType)))

  /** Fold one micro-batch of changes (`op` ∈ I/U/D, `key`, `value`,
    * `tsUs`, `seq`) into the live index at `root`.
    */
  def updateBatch(batch: DataFrame, root: String, keyBuckets: Int = 64): Unit =
    fold(batch, root, Seq("value"), keyBuckets)(wordStep)

  /** Fold ONE micro-batch into TWO attribute stores over the same key
    * universe (r17, the q147 path): the LWW winners window and the `kbs`
    * collect run ONCE — the winner row per key is value-independent (the
    * ordering is (tsUs, seq, op)) — and both per-store folds then run
    * concurrently off the shared persisted frame. Halves the CPU the
    * two-window replay paid at any scale; results are byte-identical to
    * two [[updateBatch]] calls by construction.
    */
  private[streaming] def updateBatchBoth(batch: DataFrame,
      aCol: String, aRoot: String, bCol: String, bRoot: String,
      keyBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val w = winners(batch, Seq(aCol, bCol), keyBuckets)
    try {
      val kbs = kbsOf(w)
      val base = Seq(col("op"), col("key"), col("tsUs"), col("seq"), col("kb"))
      IndexStoreOps.inParallel(
        foldWinners(spark, aRoot, w.select(base :+ col(aCol).as("value"): _*), kbs)(wordStep),
        foldWinners(spark, bRoot, w.select(base :+ col(bCol).as("value"): _*), kbs)(wordStep))
    } finally w.unpersist(): Unit
  }

  private def wCol   = expr("key DIV 63")
  private def bitCol = expr("shiftleft(CAST(1 AS BIGINT), CAST(key % 63 AS INT))")

  /** The data step: word-level masks, folded map-side — clear the key's
    * bit from its OLD value (moves + deletes), set it in its NEW value —
    * then (old AND NOT clear) OR set per touched word.
    */
  private val wordStep: LocatorStore.Step = { (eff, _, keep) =>
    val clears = eff.filter(col("live") === true)
      .select(col("old_val").as("val"), wCol.as("w"), bitCol.as("bit"))
      .groupBy("val", "w").agg(expr("bit_or(bit)").as("clr"))
    val sets = eff.filter(col("op") =!= "D")
      .select(col("value").as("val"), wCol.as("w"), bitCol.as("bit"))
      .groupBy("val", "w").agg(expr("bit_or(bit)").as("st"))
    val deltas = keep(clears.join(sets, Seq("val", "w"), "full_outer"))
    val touched = deltas.select("val").distinct().collect().map(_.getString(0)).sorted.toSeq
    LocatorStore.DataStep(touched,
      _.join(deltas, Seq("val", "w"), "full_outer")
        .select(col("val"), col("w"),
          expr("(coalesce(bits, 0) & ~coalesce(clr, 0)) | coalesce(st, 0)").as("bits"))
        .filter(col("bits") =!= 0L),
      locate = _.withColumn("val", when(col("op") =!= "D", col("value"))))
  }

  /** Erasure is word surgery: the whole purge list's bits fold into ONE
    * clear-mask per touched `(val, w)` word driver-side (∝ list size),
    * ANDed out of the key's live value partitions; a zeroed word drops.
    * A cleared bit counts as one dropped row.
    */
  override protected def purgeData(spark: SparkSession, old: DataFrame, keys: Seq[Long],
      live: Seq[Row]): (Long, DataFrame) = {
    import spark.implicits._
    val clears = live.map { r =>
        val k = r.getAs[Long]("key")
        (r.getAs[String]("val"), k / 63L, 1L << (k % 63L).toInt)
      }
      .groupBy(t => (t._1, t._2))
      .map { case ((v, w), ts) => (v, w, ts.map(_._3).reduce(_ | _)) }
      .toSeq
    val joined = old.join(broadcast(clears.toDF("val", "w", "clr")), Seq("val", "w"), "left")
    val cleared = joined
      .agg(coalesce(sum(bit_count(col("bits").bitwiseAND(coalesce(col("clr"), lit(0L))))), lit(0L)))
      .collect().head.getLong(0)
    (cleared, joined
      .select(col("val"), col("w"), col("bits").bitwiseAND(expr("~coalesce(clr, 0)")).as("bits"))
      .filter(col("bits") =!= 0L))
  }

  /** Words where any listed key's bit is still set: the masks fold per
    * word driver-side, then one scan counts the words carrying one.
    */
  override protected def dataTraces(spark: SparkSession, data: DataFrame, keys: Seq[Long]): Long = {
    import spark.implicits._
    val masks = keys.distinct.map(k => (k / 63L, 1L << (k % 63L).toInt))
      .groupBy(_._1).map { case (w, bs) => (w, bs.map(_._2).reduce(_ | _)) }.toSeq
    data.join(broadcast(masks.toDF("w", "mask")), Seq("w"))
      .filter((col("bits").bitwiseAND(col("mask"))) =!= 0L).count()
  }

  /** #339 wired end-to-end: changefeed → live bitmap index. */
  def maintain(feed: DataFrame, root: String, checkpointDir: String,
      keyBuckets: Int = 64): DataStreamWriter[Row] =
    feed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => updateBatch(batch, root, keyBuckets) }

  /** The live word rows `(val, w, bits)`. */
  def readIndex(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(dataDir(root))
      .select(col("val").cast("string").as("val"), col("w").cast("long").as("w"), col("bits"))

  /** Conjunctive count in WORD SPACE from two live indexes: for every
    * (value-of-A, value-of-B) cell, `popcount(bitsA AND bitsB)` summed
    * over shared words — q146's dataflow served from the maintained
    * stores, no fact table touched.
    */
  def cellCounts(spark: SparkSession, rootA: String, rootB: String): DataFrame =
    readIndex(spark, rootA).select(col("val").as("a_val"), col("w"), col("bits").as("a_bits"))
      .join(readIndex(spark, rootB).select(col("val").as("b_val"), col("w"), col("bits").as("b_bits")),
        Seq("w"))
      .groupBy("a_val", "b_val")
      .agg(sum(bit_count(expr("a_bits & b_bits"))).as("n_bitmap"))

  // ---- q147: the batch-verifiable driver entry ------------------------

  private val liveDirs =
    new scala.collection.concurrent.TrieMap[(String, String, Long), (String, String)]

  /** q147: conjunctive cell counts from LIVE bitmap indexes after a
    * mixed I/U/D feed over the orders table — priority and status
    * indexed in two maintained stores. The feed is deterministic so the
    * oracle can state the final corpus in closed form:
    *
    *   - all orders insert in three `o_orderkey mod 3` chunks, with
    *     chunk-two REDELIVERING every `mod 6 = 0` row (replay);
    *   - `o_orderkey mod 13 = 5` UPDATES its priority to '5-LOW' (bits
    *     move between value bitmaps);
    *   - `o_orderkey mod 17 = 3` DELETES (bits retract from both
    *     indexes);
    *   - every original insert then REDELIVERS at its stale position.
    *
    * A hash match against the oracle's word-fold over that closed form
    * proves the maintained bitmaps equal the batch rebuild.
    */
  def bitmapLiveCells(spark: SparkSession, dir: String): DataFrame = {
    val (rootP, rootS) = liveDirs.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, graft.sources.Tables.fingerprint(spark, dir, "orders")), {
        val p = Files.createTempDirectory("graft_bm_pri").toString
        val s = Files.createTempDirectory("graft_bm_sta").toString
        val o = graft.sources.Tables.orders(spark, dir)
          .select(col("o_orderkey").as("key"), col("o_orderpriority").as("pri"),
            col("o_orderstatus").as("sta"))
        def ins(pred: org.apache.spark.sql.Column) = o.filter(pred).select(
          lit("I").as("op"), col("key"), col("pri"), col("sta"),
          lit(1000L).as("tsUs"), col("key").as("seq"))
        val upd = o.filter(col("key") % 13 === 5).select(
          lit("U").as("op"), col("key"), lit("5-LOW").as("pri"), col("sta"),
          lit(2000L).as("tsUs"), col("key").as("seq"))
        val del = o.filter(col("key") % 17 === 3).select(
          lit("D").as("op"), col("key"), col("pri"), col("sta"),
          lit(3000L).as("tsUs"), col("key").as("seq"))
        Seq(
          ins(col("key") % 3 === 0),
          ins(col("key") % 3 === 1).unionByName(ins(col("key") % 6 === 0)),
          ins(col("key") % 3 === 2),
          upd,
          del,
          ins(lit(true)), // stale replay of every insert: no state motion
        ).foreach { b =>
          // r16 folded the two independent stores concurrently (guide
          // §2.6); r17 additionally SHARES the LWW winners window and
          // the kbs collect between them ([[updateBatchBoth]]) — one
          // winners pass per batch where the replay used to pay two
          updateBatchBoth(b, "pri", p, "sta", s, 32)
        }
        (p, s)
      })
    cellCounts(spark, rootP, rootS)
      .filter(col("n_bitmap") > 0) // empty word intersections are not cells
      .select(col("a_val").as("priority"), col("b_val").as("status"), col("n_bitmap"))
  }
}
