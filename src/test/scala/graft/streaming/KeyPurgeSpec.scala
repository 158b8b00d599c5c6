package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.SparkSpec

/** SURVEY.md §2.3 #338 — `FORGET KEY k` across the derived graph: after
  * the source retracts a key, one verb erases every at-rest trace (all
  * sink batch partitions of a 3-view cascade + the SCD2 history), the
  * live state tombstone expires via ttl, and the auditor proves zero
  * traces — including after a full restart-from-checkpoint.
  */
// BmChg / DocChg / VecChg case classes are shared with the per-store
// index-view specs (same package)

class KeyPurgeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Int): Timestamp = new Timestamp(1700000000000L + minutes * 60000L)

  private def tmp(prefix: String): String = {
    val root = new java.io.File("target/streaming-tmp").toPath.toAbsolutePath
    Files.createDirectories(root)
    Files.createTempDirectory(root, prefix).toString
  }

  private def writeChanges(dir: String, name: String, cs: Seq[Change]): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = cs.map { c =>
      val iso = java.time.Instant.ofEpochSecond(0, CdcMaterializer.micros(c.ts) * 1000L).toString
      val payload = c.payload.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
      s"""{"op":"${c.op}","key":${c.key},"ts":"$iso","payload":{$payload},"seq":${c.seq}}"""
    }
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8")): Unit
  }

  private def traceMap(cat: ViewCatalog, key: Long, hist: Seq[String]): Map[(String, String), Long] =
    cat.keyTraces(key, hist).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  test("#338 FORGET KEY: zero traces across cascade sinks, SCD2 history, and state; survives restart") {
    val (root, src, histDir) = (tmp("fkroot"), tmp("fksrc"), tmp("fkhist"))
    val ttl = Some(("1 second", 1000L))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.createView("v1", "SELECT city, amount FROM t WHERE amount > 0", ttl)
    cat.createView("v2", "SELECT city, amount FROM v1 WHERE amount > 1", ttl)
    val v3 = cat.createView("v3",
      "SELECT city, count(*) AS n, sum(amount) AS total FROM v2 GROUP BY city", ttl)
    // the SCD2 history artifact: closed versions of the raw feed, appended to parquet
    val histQ = VersionedFeed.history(ChangeFeed.readJsonDir(spark, src).as[Change])
      .writeStream.outputMode("append").format("parquet")
      .option("path", histDir).option("checkpointLocation", tmp("fkhck")).start()
    def settle(): Unit = { cat.awaitAll(); histQ.processAllAvailable() }

    writeChanges(src, "b1.json", Seq(
      Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "10"), 1L),
      Change("insert", 2L, ts(1), Map("city" -> "par", "amount" -> "20"), 2L),
      Change("insert", 3L, ts(2), Map("city" -> "rom", "amount" -> "30"), 3L)))
    settle()
    writeChanges(src, "b2.json", Seq(
      Change("update", 2L, ts(10), Map("city" -> "par", "amount" -> "25"), 4L)))
    settle()

    // purge refuses while the key is live anywhere
    val eLive = intercept[IllegalArgumentException] { cat.forgetKey(2L, Seq(histDir)) }
    assert(eLive.getMessage.contains("still live"), eLive.getMessage)
    assert(traceMap(cat, 2L, Seq(histDir)).values.sum > 0, "key 2 must have traces pre-purge")

    // source retracts key 2; two far-future batches advance the watermark
    // past delete + ttl so the state tombstone expires in every view
    writeChanges(src, "b3.json", Seq(Change("delete", 2L, ts(20), Map.empty, 5L)))
    settle()
    writeChanges(src, "b4.json", Seq(
      Change("update", 1L, ts(90), Map("city" -> "ber", "amount" -> "11"), 6L)))
    settle()
    writeChanges(src, "b5.json", Seq(
      Change("update", 3L, ts(180), Map("city" -> "rom", "amount" -> "31"), 7L)))
    settle()

    // pre-purge: history still answers for key 2 at an old batch
    val v1Batches = cat.versions("v1")
    val asOfOld = cat.snapshotAsOf("v1", v1Batches.head)
    assert(asOfOld.filter(org.apache.spark.sql.functions.col("city") === "par").count() > 0 ||
      v1Batches.length > 1, "sanity: early snapshot exists")

    val audit = cat.forgetKey(2L, Seq(histDir)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSet
    assert(audit.exists { case (a, k, n) => a == "v1" && k == "sink" && n > 0 },
      s"v1 sink rows must be dropped: $audit")
    assert(audit.exists { case (a, k, n) => a == "v2" && k == "sink" && n > 0 },
      s"v2 sink rows must be dropped: $audit")
    assert(audit.exists { case (a, k, n) => a == histDir && k == "history" && n > 0 },
      s"SCD2 versions must be dropped: $audit")

    val traces = traceMap(cat, 2L, Seq(histDir))
    assert(traces.values.forall(_ == 0L), s"all traces must be zero after FORGET KEY: $traces")
    // time travel no longer resurrects the key at ANY batch
    cat.versions("v1").foreach { b =>
      assert(cat.snapshotAsOf("v1", b)
        .filter(org.apache.spark.sql.functions.col("city") === "par").count() == 0L,
        s"snapshotAsOf($b) resurrected the purged key")
    }
    // the rest of the graph is intact
    assert(cat.snapshot("v3").collect().map(r =>
      (r.getAs[String]("city"), r.getAs[String]("n"))).toSet == Set(("ber", "1"), ("rom", "1")),
      "surviving keys must keep serving")

    // restart the whole graph from checkpoints: the purge must hold
    cat.stopAll(); histQ.stop()
    val cat2 = new ViewCatalog(spark, root)
    cat2.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    assert(cat2.resume().toSet == Set("v1", "v2", "v3"))
    writeChanges(src, "b6.json", Seq(
      Change("update", 3L, ts(240), Map("city" -> "rom", "amount" -> "32"), 8L)))
    cat2.awaitAll()
    val traces2 = traceMap(cat2, 2L, Seq(histDir))
    assert(traces2.values.forall(_ == 0L), s"traces must stay zero after restart: $traces2")
    assert(cat2.snapshot("v3").collect().map(r =>
      (r.getAs[String]("city"), r.getAs[String]("total"))).toSet
      .exists(_._1 == "rom"), "resumed graph keeps maintaining")
    assert(v3.cols == Seq("city", "n", "total"))
    cat2.stopAll()
  }

  test("#338b FORGET KEY sweeps the live-index stores: postings, words, locators (tombstones incl.), probes dead, restart holds") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col

    // deterministic 4-dim vectors; key 7 is the purge target, key 9 is
    // deleted through the feed first (its locator trace is a TOMBSTONE)
    def vec(id: Long): Array[Float] =
      Array((id + 1).toFloat, ((id * 7) % 5 - 2).toFloat, ((id * 3) % 4).toFloat, 1.0f)
    val ids = (0L until 12L).toSeq

    val (annRoot, bmRoot, postRoot) = (tmp("fkann"), tmp("fkbm"), tmp("fkpost"))
    val (annCk, bmCk, postCk) = (tmp("fkannck"), tmp("fkbmck"), tmp("fkpostck"))

    val annIn = MemoryStream[VecChg]
    val bmIn = MemoryStream[BmChg]
    val postIn = MemoryStream[DocChg]
    val annQ = AnnIndexView.maintain(annIn.toDF(), annRoot, annCk, numPlanes = 4, keyBuckets = 4).start()
    val bmQ = BitmapIndexView.maintain(bmIn.toDF(), bmRoot, bmCk, keyBuckets = 4).start()
    val postQ = PostingIndexView.maintain(postIn.toDF(), postRoot, postCk, buckets = 8, keyBuckets = 4).start()
    def drainAll(): Unit = { annQ.processAllAvailable(); bmQ.processAllAvailable(); postQ.processAllAvailable() }
    try {
      annIn.addData(ids.map(i => VecChg("I", i, vec(i), 1000L, i)): _*)
      bmIn.addData(ids.map(i => BmChg("I", i, if (i % 2 == 0) "red" else "blue", 1000L, i)): _*)
      postIn.addData(ids.map(i => DocChg("I", i, s"spark stream doc $i spark stream", 1000L, i)): _*)
      drainAll()
      // key 9 deleted through the feed: leaves a locator tombstone in each store
      annIn.addData(VecChg("D", 9L, vec(9L), 2000L, 100L))
      bmIn.addData(BmChg("D", 9L, "blue", 2000L, 100L))
      postIn.addData(DocChg("D", 9L, "", 2000L, 100L))
      drainAll()
    } finally { annQ.stop(); bmQ.stop(); postQ.stop() }

    // the IVF store (no stream needed — the purge contract is at-rest)
    val ivfRoot = tmp("fkivf")
    IvfIndexView.create(spark, ivfRoot, ids.map(i => (i, vec(i))).toDF("vec_id", "embedding"), k = 4, iters = 1)
    IvfIndexView.updateBatch(ids.map(i => VecChg("I", i, vec(i), 1000L, i)).toDF(), ivfRoot, 4)
    IvfIndexView.updateBatch(Seq(VecChg("D", 9L, vec(9L), 2000L, 100L)).toDF(), ivfRoot, 4)

    val cat = new ViewCatalog(spark, tmp("fkcat"))
    cat.registerIndexStore("ann_idx", "ann", annRoot)
    cat.registerIndexStore("bm_idx", "bitmap", bmRoot)
    cat.registerIndexStore("post_idx", "posting", postRoot)
    cat.registerIndexStore("ivf_idx", "ivf", ivfRoot)
    assert(cat.indexStoreNames.toSet == Set("ann_idx", "bm_idx", "post_idx", "ivf_idx"))

    def traces(key: Long): Map[String, Long] =
      cat.keyTraces(key).collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // pre-purge sanity: key 7 (live) traces in all three; key 9 traces
    // are tombstone-only but NONZERO (the tombstone names the key)
    assert(traces(7L).values.forall(_ > 0L), s"key 7 must trace in all stores: ${traces(7L)}")
    assert(traces(9L).values.forall(_ > 0L), s"key 9's tombstones must trace: ${traces(9L)}")
    val cellsBefore = BitmapIndexView.cellCounts(spark, bmRoot, bmRoot)
      .filter(col("a_val") === "blue" && col("b_val") === "blue").collect().head.getLong(2)

    // purge the LIVE key and the TOMBSTONED key
    val audit = cat.forgetKey(7L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSet
    assert(audit.exists { case (a, k, n) => a == "ann_idx" && k == "index:ann" && n > 0 },
      s"ann purge must drop rows: $audit")
    assert(audit.exists { case (a, k, n) => a == "bm_idx" && k == "index:bitmap" && n >= 2 },
      s"bitmap purge must clear the bit and the locator row: $audit")
    assert(audit.exists { case (a, k, n) => a == "post_idx" && k == "index:posting" && n > 0 },
      s"posting purge must drop rows: $audit")
    assert(audit.exists { case (a, k, n) => a == "ivf_idx" && k == "index:ivf" && n > 0 },
      s"ivf purge must drop rows: $audit")
    cat.forgetKey(9L)

    assert(traces(7L).values.forall(_ == 0L), s"key 7 must be traceless: ${traces(7L)}")
    assert(traces(9L).values.forall(_ == 0L), s"key 9's tombstone must be gone: ${traces(9L)}")

    // probes no longer return the purged keys
    val queries = Seq((7L, vec(7L)), (6L, vec(6L))).toDF("query_id", "embedding")
    val nbrs = AnnIndexView.similarTo(spark, annRoot, queries, k = 11, numPlanes = 4)
      .collect().map(_.getLong(1)).toSet
    assert(!nbrs.contains(7L) && !nbrs.contains(9L) && nbrs.nonEmpty,
      s"purged keys must never surface as neighbors: $nbrs")
    val cellsAfter = BitmapIndexView.cellCounts(spark, bmRoot, bmRoot)
      .filter(col("a_val") === "blue" && col("b_val") === "blue").collect().head.getLong(2)
    assert(cellsAfter == cellsBefore - 1, s"blue cell must shrink by key 7's bit: $cellsBefore -> $cellsAfter")
    val hits = PostingIndexView.phraseSearch(spark, postRoot, Seq(Seq("spark", "stream")), buckets = 8)
      .collect().map(_.getLong(1)).toSet
    assert(!hits.contains(7L) && !hits.contains(9L) && hits.nonEmpty,
      s"purged docs must not match phrases: $hits")

    // restart each maintenance stream from its checkpoint, feed OTHER
    // keys: the purge holds and maintenance keeps working
    val annQ2 = AnnIndexView.maintain(annIn.toDF(), annRoot, annCk, numPlanes = 4, keyBuckets = 4).start()
    val bmQ2 = BitmapIndexView.maintain(bmIn.toDF(), bmRoot, bmCk, keyBuckets = 4).start()
    val postQ2 = PostingIndexView.maintain(postIn.toDF(), postRoot, postCk, buckets = 8, keyBuckets = 4).start()
    try {
      annIn.addData(VecChg("U", 3L, vec(20L), 3000L, 200L))
      bmIn.addData(BmChg("U", 3L, "red", 3000L, 200L))
      postIn.addData(DocChg("U", 3L, "updated doc three", 3000L, 200L))
      annQ2.processAllAvailable(); bmQ2.processAllAvailable(); postQ2.processAllAvailable()
    } finally { annQ2.stop(); bmQ2.stop(); postQ2.stop() }
    assert(traces(7L).values.forall(_ == 0L), "purge must survive restart-from-checkpoint")
    assert(traces(9L).values.forall(_ == 0L), "tombstone purge must survive restart")
    assert(traces(3L).values.forall(_ > 0L), "maintenance must keep working after restart")
  }

  test("#367 FORGET KEYS batch: one IN-pruned sweep per store for the whole purge list; untouched partitions untouched; SQL verb") {
    import org.apache.spark.sql.functions.col

    def vec(id: Long): Array[Float] =
      Array((id + 1).toFloat, ((id * 7) % 5 - 2).toFloat, ((id * 3) % 4).toFloat, 1.0f)
    val ids = (0L until 120L).toSeq

    val (annRoot, bmRoot, postRoot, ivfRoot) =
      (tmp("bkann"), tmp("bkbm"), tmp("bkpost"), tmp("bkivf"))
    AnnIndexView.updateBatch(
      ids.map(i => VecChg("I", i, vec(i), 1000L, i)).toDF(), annRoot, numPlanes = 4, keyBuckets = 8)
    BitmapIndexView.updateBatch(
      ids.map(i => BmChg("I", i, if (i % 2 == 0) "red" else "blue", 1000L, i)).toDF(), bmRoot, 8)
    PostingIndexView.updateBatch(
      ids.map(i => DocChg("I", i, s"spark stream doc $i spark stream", 1000L, i)).toDF(),
      postRoot, buckets = 8, keyBuckets = 8)
    IvfIndexView.create(spark, ivfRoot, ids.map(i => (i, vec(i))).toDF("vec_id", "embedding"), k = 4, iters = 1)
    IvfIndexView.updateBatch(ids.map(i => VecChg("I", i, vec(i), 1000L, i)).toDF(), ivfRoot, 8)
    val pqRoot = tmp("bkpq")
    PqIndexView.create(spark, pqRoot, ids.map(i => (i, vec(i))).toDF("vec_id", "embedding"), m = 4, k = 8, iters = 1)
    PqIndexView.updateBatch(ids.map(i => VecChg("I", i, vec(i), 1000L, i)).toDF(), pqRoot, 4, 8)
    // two of the purge keys arrive as deletes first — their locator
    // traces are TOMBSTONES and the batch purge must take those too
    AnnIndexView.updateBatch(Seq(VecChg("D", 8L, vec(8L), 2000L, 200L)).toDF(), annRoot, 4, 8)
    BitmapIndexView.updateBatch(Seq(BmChg("D", 8L, "red", 2000L, 200L)).toDF(), bmRoot, 8)
    PostingIndexView.updateBatch(Seq(DocChg("D", 8L, "", 2000L, 200L)).toDF(), postRoot, 8, 8)
    IvfIndexView.updateBatch(Seq(VecChg("D", 8L, vec(8L), 2000L, 200L)).toDF(), ivfRoot, 8)
    PqIndexView.updateBatch(Seq(VecChg("D", 8L, vec(8L), 2000L, 200L)).toDF(), pqRoot, 4, 8)

    val cat = new ViewCatalog(spark, tmp("bkcat"))
    cat.registerIndexStore("ann_idx", "ann", annRoot)
    cat.registerIndexStore("bm_idx", "bitmap", bmRoot)
    cat.registerIndexStore("post_idx", "posting", postRoot)
    cat.registerIndexStore("ivf_idx", "ivf", ivfRoot)
    cat.registerIndexStore("pq_idx", "pq", pqRoot)

    // purge list: every key < 100 with kb ∈ {0,1,2,3} (kb = key mod 8)
    // → locator partitions kb=4..7 must come through byte-identical
    val purge = ids.filter(i => i < 100L && i % 8 < 4)
    assert(purge.length == 52)
    def kbFiles(root: String): Map[String, Set[String]] = {
      val dir = Paths.get(s"$root/keys")
      import scala.jdk.CollectionConverters._
      Files.list(dir).iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("kb="))
        .map { p =>
          p.getFileName.toString -> Files.list(p).iterator().asScala
            .map(f => s"${f.getFileName}:${Files.getLastModifiedTime(f)}").toSet
        }.toMap
    }
    val beforeKb = Seq(annRoot, bmRoot, postRoot, ivfRoot, pqRoot).map(r => r -> kbFiles(r)).toMap

    val audit = cat.forgetKeys(purge).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // ONE sweep: partitions_rewritten ∝ touched partitions, never ∝
    // keys × partitions — every store's count must sit far below the
    // 50-key list (ann: ≤16 buckets + 4 kbs; bitmap: 2 vals + 4 kbs;
    // posting: ≤8 tbs + 4 kbs; ivf: ≤4 cells + 4 kbs)
    audit.foreach { case (store, (parts, dropped)) =>
      assert(parts > 0L && parts < purge.length.toLong,
        s"$store: partitions_rewritten=$parts must be ≪ ${purge.length} keys")
      assert(dropped >= purge.length.toLong - 2L, s"$store: dropped=$dropped too low")
    }

    // untouched locator partitions byte-identical (kb=4..7)
    Seq(annRoot, bmRoot, postRoot, ivfRoot, pqRoot).foreach { r =>
      val after = kbFiles(r)
      (4 to 7).map(b => s"kb=$b").foreach { d =>
        assert(beforeKb(r).get(d) == after.get(d), s"$r/$d was rewritten by the batch purge")
      }
    }

    // zero traces for the WHOLE list, one scan per store side
    assert(AnnIndexView.readIndex(spark, annRoot)
      .filter(col("vec_id").isin(purge: _*)).count() == 0L)
    assert(spark.read.parquet(s"$annRoot/keys").filter(col("vec_id").isin(purge: _*)).count() == 0L)
    assert(spark.read.parquet(s"$bmRoot/keys").filter(col("key").isin(purge: _*)).count() == 0L)
    assert(PostingIndexView.readIndex(spark, postRoot)
      .filter(col("doc_id").isin(purge: _*)).count() == 0L)
    assert(spark.read.parquet(s"$postRoot/keys").filter(col("doc_id").isin(purge: _*)).count() == 0L)
    assert(IvfIndexView.readIndex(spark, ivfRoot)
      .filter(col("vec_id").isin(purge: _*)).count() == 0L)
    assert(spark.read.parquet(s"$ivfRoot/keys").filter(col("vec_id").isin(purge: _*)).count() == 0L)
    assert(PqIndexView.readIndex(spark, pqRoot)
      .filter(col("vec_id").isin(purge: _*)).count() == 0L)
    assert(spark.read.parquet(s"$pqRoot/keys").filter(col("vec_id").isin(purge: _*)).count() == 0L)
    // the tombstoned key's locator trace went with the batch
    assert(cat.keyTraces(8L).collect().map(_.getLong(2)).sum == 0L)
    // the batch auditor sweeps the whole list in one scan per artifact
    assert(cat.keyTracesAll(purge).collect().map(_.getLong(2)).sum == 0L,
      "keyTracesAll must read zero for the purged list")
    assert(cat.keyTracesAll(Seq(104L, 105L)).collect().map(_.getLong(2)).sum > 0L,
      "keyTracesAll must still see surviving keys")
    // bitmap bits really cleared: no purged key's bit anywhere
    val purgedBits = purge.map(k => (k / 63L, 1L << (k % 63L).toInt))
      .groupBy(_._1).map { case (w, bs) => (w, bs.map(_._2).reduce(_ | _)) }
    val bmLeft = BitmapIndexView.readIndex(spark, bmRoot).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    purgedBits.foreach { case (w, mask) =>
      bmLeft.filter(_._1 == w).foreach { case (_, bits) =>
        assert((bits & mask) == 0L, s"word $w still carries purged bits")
      }
    }
    // survivors intact across all stores
    val survivors = ids.filterNot(purge.contains)
    assert(AnnIndexView.readIndex(spark, annRoot).count() == survivors.count(_ != 8L).toLong)
    assert(IvfIndexView.readIndex(spark, ivfRoot).count() == survivors.count(_ != 8L).toLong)

    // SQL front door: FORGET KEYS (…) returns the audit frame
    val sqlAudit = cat.sql("FORGET KEYS (100, 101)").collect()
    assert(sqlAudit.map(_.getString(0)).toSet ==
      Set("ann_idx", "bm_idx", "post_idx", "ivf_idx", "pq_idx"))
    assert(spark.read.parquet(s"$annRoot/keys")
      .filter(col("vec_id").isin(100L, 101L)).count() == 0L)

    // maintenance after the purge: the sweep holds, new keys index fine
    PostingIndexView.updateBatch(
      Seq(DocChg("U", 110L, "fresh doc after purge", 3000L, 300L)).toDF(), postRoot, 8, 8)
    assert(PostingIndexView.readIndex(spark, postRoot)
      .filter(col("doc_id").isin(purge: _*)).count() == 0L)
    assert(PostingIndexView.keyTraces(spark, postRoot, 110L) > 0L)
  }

  test("#367c FORGET KEYS refuses an IVF store with a half-finished retrain: neither the store nor any sink is rewritten") {
    def vec(id: Long): Array[Float] =
      Array((id + 1).toFloat, ((id * 7) % 5 - 2).toFloat, ((id * 3) % 4).toFloat, 1.0f)
    val ids = (0L until 12L).toSeq
    val (root, src) = (tmp("gdroot"), tmp("gdsrc"))
    val cat = new ViewCatalog(spark, root)
    cat.registerSource("t", () => ChangeFeed.readJsonDir(spark, src).as[Change])
    cat.createView("v1", "SELECT city, amount FROM t WHERE amount > 0")
    try {
      // key 2 reaches v1's sink, then the source deletes it: purgeable
      writeChanges(src, "b1.json", Seq(
        Change("insert", 1L, ts(0), Map("city" -> "ber", "amount" -> "10"), 1L),
        Change("insert", 2L, ts(1), Map("city" -> "par", "amount" -> "20"), 2L)))
      cat.awaitAll()
      writeChanges(src, "b2.json", Seq(Change("delete", 2L, ts(5), Map.empty, 3L)))
      cat.awaitAll()

      val ivfRoot = tmp("gdivf")
      IvfIndexView.create(spark, ivfRoot, ids.map(i => (i, vec(i))).toDF("vec_id", "embedding"), k = 4, iters = 1)
      IvfIndexView.updateBatch(ids.map(i => VecChg("I", i, vec(i), 1000L, i)).toDF(), ivfRoot, 4)
      cat.registerIndexStore("ivf_idx", "ivf", ivfRoot)

      def files(dir: String): Map[String, (Long, Long)] = {
        import scala.jdk.CollectionConverters._
        val s = Files.walk(Paths.get(dir))
        try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
          f.toString -> ((Files.size(f), Files.getLastModifiedTime(f).toMillis))
        }.toMap finally s.close()
      }
      // a retrain that crashed between its data and keys swaps leaves the
      // marker and a locator whose cells may name the OLD quantizer
      val marker = Paths.get(ivfRoot, "_retrain_inprogress")
      Files.write(marker, Array.emptyByteArray)
      val (sinkBefore, storeBefore) = (files(s"$root/views/v1/feed"), files(ivfRoot))
      val eStore = intercept[IllegalArgumentException] { IvfIndexView.forgetKeys(spark, ivfRoot, Seq(2L)) }
      assert(eStore.getMessage.contains("half-finished retrain"), eStore.getMessage)
      val eCat = intercept[IllegalArgumentException] { cat.forgetKeys(Seq(2L)) }
      assert(eCat.getMessage.contains("half-finished retrain"), eCat.getMessage)
      assert(files(s"$root/views/v1/feed") == sinkBefore, "a refused purge must not rewrite any sink")
      assert(files(ivfRoot) == storeBefore, "a refused purge must not rewrite the store")
      assert(IvfIndexView.keyTraces(spark, ivfRoot, 2L) > 0L)

      // once the store is whole again the same purge goes through
      Files.delete(marker)
      val audit = cat.forgetKeys(Seq(2L)).collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      assert(audit("v1") > 0L && audit("ivf_idx") > 0L, s"purge after recovery: $audit")
      assert(cat.keyTracesAll(Seq(2L)).collect().map(_.getLong(2)).sum == 0L)
    } finally cat.stopAll()
  }
}
