package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** r15 — tombstone GC + compaction for the live-index stores (the r14
  * verdict's #2): a churn-heavy I/U/D history's store converges back
  * toward rebuild size (locator rows AND file counts), probes stay
  * exact, and GC is replay-safe — a stale change for a key whose
  * locator entry survives the prune is still rejected by its stored
  * position, while a pruned tombstone's key accepts only changes NEWER
  * than the prune horizon (the standard tombstone-GC contract: the
  * horizon is the feed's maximum admissible lateness, so nothing older
  * may still arrive).
  */
class LiveIndexGcSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(
      Paths.get("target/streaming-tmp").toAbsolutePath, prefix).toString

  private def parquetFiles(dir: String): Long = {
    def walk(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Nil
      else Files.list(p).iterator().asScala.toSeq.flatMap { c =>
        if (Files.isDirectory(c)) walk(c)
        else if (c.getFileName.toString.endsWith(".parquet")) Seq(c) else Nil
      }
    walk(Paths.get(dir)).size.toLong
  }

  test("posting store: tombstone GC bounds the locator, compaction converges files to ~rebuild, probes exact, GC replay-safe") {
    val root = tmp("gcpost")
    def doc(i: Long) = s"spark stream doc $i word${i % 7} tail"
    def batch(rows: Seq[(String, Long, String, Long)]) =
      rows.map { case (op, id, text, ts) => DocChg(op, id, text, ts, id) }.toDF()

    // churn history: 60 docs inserted, 40 of them deleted over later
    // batches (40 tombstones), survivors updated twice (file accretion)
    PostingIndexView.updateBatch(batch((0L until 60L).map(i => ("I", i, doc(i), 1000L))), root, buckets = 8, keyBuckets = 4)
    PostingIndexView.updateBatch(batch((0L until 20L).map(i => ("D", i, "", 2000L))), root, buckets = 8, keyBuckets = 4)
    PostingIndexView.updateBatch(batch((20L until 40L).map(i => ("D", i, "", 3000L))), root, buckets = 8, keyBuckets = 4)
    PostingIndexView.updateBatch(batch((40L until 60L).map(i => ("U", i, doc(i) + " upd", 4000L))), root, buckets = 8, keyBuckets = 4)
    PostingIndexView.updateBatch(batch((40L until 60L).map(i => ("U", i, doc(i) + " upd2", 5000L))), root, buckets = 8, keyBuckets = 4)

    val keysDir = s"$root/keys"
    val locBefore = spark.read.parquet(keysDir).count()
    assert(locBefore == 60L, s"locator must hold 20 live + 40 tombstones: $locBefore")

    // GC: horizon between the two delete batches — only the older 20
    // tombstones are past max-admissible-lateness and drop
    PostingIndexView.pruneTombstones(spark, root, olderThanUs = 2500L)
    val loc = spark.read.parquet(keysDir)
    assert(loc.count() == 40L, "20 pruned tombstones + 20 retained + 20 live")
    assert(loc.filter(!col("live")).count() == 20L, "the newer tombstones survive")

    // replay safety after GC:
    // (a) stale change for a LIVE key: position check still rejects
    PostingIndexView.updateBatch(batch(Seq(("U", 45L, "stale text", 3500L))), root, buckets = 8, keyBuckets = 4)
    val live45 = PostingIndexView.readIndex(spark, root).filter(col("doc_id") === 45L)
      .select("tok").collect().map(_.getString(0)).toSet
    assert(live45.contains("upd2") && !live45.contains("stale"),
      s"stale change for a live key must stay rejected after GC: $live45")
    // (b) stale change for a RETAINED tombstone: still rejected
    PostingIndexView.updateBatch(batch(Seq(("I", 25L, "zombie text", 2800L))), root, buckets = 8, keyBuckets = 4)
    assert(PostingIndexView.readIndex(spark, root).filter(col("doc_id") === 25L).count() == 0L,
      "a retained tombstone must still reject an older re-insert")
    // (c) change NEWER than the prune horizon for a PRUNED key: accepted
    // (the GC contract — nothing older than the horizon may arrive)
    PostingIndexView.updateBatch(batch(Seq(("I", 5L, "fresh doc five", 9000L))), root, buckets = 8, keyBuckets = 4)
    assert(PostingIndexView.readIndex(spark, root).filter(col("doc_id") === 5L).count() > 0L,
      "a genuinely new insert after the horizon must land")

    // file layout: the r16 write discipline (one file per touched leaf,
    // staged swap) keeps the CHURNED store at ~rebuild file count
    // WITHOUT compaction — the convergence compaction used to restore
    // is now maintained continuously; compaction stays probe-exact and
    // never grows the store
    val probeBefore = PostingIndexView.phraseSearch(spark, root, Seq(Seq("spark", "stream")), buckets = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val filesBefore = parquetFiles(root)
    val rebuild = tmp("gcpost_rb")
    val finalCorpus = (40L until 60L).map(i => ("I", i, doc(i) + " upd2", 1L)) :+ (("I", 5L, "fresh doc five", 1L))
    PostingIndexView.updateBatch(batch(finalCorpus), rebuild, buckets = 8, keyBuckets = 4)
    // ~rebuild size BEFORE any compaction: within 2x of a one-shot
    // rebuild's file count (the locator legitimately retains 20
    // tombstones the rebuild lacks)
    assert(filesBefore <= 2 * parquetFiles(rebuild),
      s"churned store must hold ~rebuild file count without compaction: " +
        s"$filesBefore vs ${parquetFiles(rebuild)}")
    PostingIndexView.compactStore(spark, root, targetBytes = 64L << 20, smallBytes = 16L << 20)
    val filesAfter = parquetFiles(root)
    assert(filesAfter <= filesBefore,
      s"compaction must never grow the store: $filesBefore -> $filesAfter")
    val probeAfter = PostingIndexView.phraseSearch(spark, root, Seq(Seq("spark", "stream")), buckets = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(probeAfter == probeBefore, "compaction must not change probe results")
    val probeRebuild = PostingIndexView.phraseSearch(spark, rebuild, Seq(Seq("spark", "stream")), buckets = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(probeAfter == probeRebuild, "GC'd+compacted store must probe exactly like the rebuild")

    // r17 (ADVICE): the r16 write discipline keeps this store compact,
    // so the no-grow assertion above never exercises compaction actually
    // CONSOLIDATING a bloated posting store. Synthesize the bloat the
    // way LiveIndexCompactionSpec does for the ann store — one leaf's
    // rows re-laid as three small files (same rows, the layout an
    // external bulk ingest or pre-r16 engine leaves behind) — and
    // assert compactStore shrinks it back with probes unchanged.
    locally {
      def entries(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
        val s = Files.list(dir)
        try s.iterator().asScala.toList finally s.close()
      }
      val leaf = entries(Paths.get(root, "post"))
        .filter(Files.isDirectory(_)).minBy(_.getFileName.toString)
      // leaf files omit the path-encoded partition column, so reading one
      // leaf directly yields exactly the rows to re-lay
      val rows = spark.read.parquet(leaf.toString)
      val splitDir = tmp("gcpost_split")
      rows.repartition(3).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(splitDir)
      entries(leaf).filter(Files.isRegularFile(_)).foreach(Files.delete)
      entries(Paths.get(splitDir))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .zipWithIndex.foreach { case (p, i) =>
          Files.move(p, leaf.resolve(f"part-split-$i%05d.parquet")): Unit
        }
    }
    val filesSplit = parquetFiles(root)
    assert(filesSplit > filesAfter, s"synthesized split must bloat the store: $filesAfter -> $filesSplit")
    PostingIndexView.compactStore(spark, root, targetBytes = 64L << 20, smallBytes = 16L << 20)
    assert(parquetFiles(root) < filesSplit,
      s"compaction must consolidate the split leaf: $filesSplit -> ${parquetFiles(root)}")
    val probeSplit = PostingIndexView.phraseSearch(spark, root, Seq(Seq("spark", "stream")), buckets = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(probeSplit == probeAfter, "compacting the synthesized split must not change probe results")
  }

  test("bitmap + ann stores: tombstone GC is sidecar-only, probes stay exact, retained positions still reject") {
    implicit val sqlCtx = spark.sqlContext
    // bitmap
    val bmRoot = tmp("gcbm")
    def bm(rows: Seq[(String, Long, String, Long)]) =
      rows.map { case (op, k, v, ts) => BmChg(op, k, v, ts, k) }.toDF()
    BitmapIndexView.updateBatch(bm((0L until 30L).map(i => ("I", i, if (i % 2 == 0) "red" else "blue", 1000L))), bmRoot, keyBuckets = 4)
    BitmapIndexView.updateBatch(bm((0L until 10L).map(i => ("D", i, "", 2000L))), bmRoot, keyBuckets = 4)
    BitmapIndexView.updateBatch(bm((10L until 20L).map(i => ("D", i, "", 3000L))), bmRoot, keyBuckets = 4)
    val cellsBefore = BitmapIndexView.cellCounts(spark, bmRoot, bmRoot)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    BitmapIndexView.pruneTombstones(spark, bmRoot, olderThanUs = 2500L)
    val bmLoc = spark.read.parquet(s"$bmRoot/keys")
    assert(bmLoc.count() == 20L && bmLoc.filter(!col("live")).count() == 10L,
      "older bitmap tombstones pruned, newer retained")
    assert(BitmapIndexView.cellCounts(spark, bmRoot, bmRoot)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet == cellsBefore,
      "bitmap GC must not move any cell count")
    // retained tombstone still rejects an older re-insert
    BitmapIndexView.updateBatch(bm(Seq(("I", 15L, "red", 2800L))), bmRoot, keyBuckets = 4)
    assert(BitmapIndexView.keyTraces(spark, bmRoot, 15L) == 1L,
      "only the tombstone may trace — the stale re-insert must be rejected")

    // the vector families: ann, and ivf/pq over pinned quantizers
    // trained on the same 20 vectors
    def vec(id: Long): Array[Float] =
      Array((id + 1).toFloat, ((id * 7) % 5 - 2).toFloat, ((id * 3) % 4).toFloat, 1.0f)
    def feed(rows: Seq[(String, Long, Long)]) =
      rows.map { case (op, id, ts) => VecChg(op, id, vec(id), ts, id) }.toDF()
    val bootstrap = (0L until 20L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val queries = Seq((10L, vec(10L))).toDF("query_id", "embedding")
    Seq[(LocatorStore, String => Unit, (DataFrame, String) => Unit, String => DataFrame, String => DataFrame)](
      (AnnIndexView, _ => (),
        AnnIndexView.updateBatch(_, _, numPlanes = 4, keyBuckets = 4),
        AnnIndexView.readIndex(spark, _),
        AnnIndexView.similarTo(spark, _, queries, k = 20, numPlanes = 4)),
      (IvfIndexView, IvfIndexView.create(spark, _, bootstrap, k = 4, iters = 1),
        IvfIndexView.updateBatch(_, _, keyBuckets = 4),
        IvfIndexView.readIndex(spark, _),
        IvfIndexView.similarTo(spark, _, queries, k = 20, nprobe = 4)),
      (PqIndexView, PqIndexView.create(spark, _, bootstrap, m = 2, k = 4, iters = 1),
        PqIndexView.updateBatch(_, _, m = 2, keyBuckets = 4),
        PqIndexView.readIndex(spark, _),
        PqIndexView.similarTo(spark, _, queries, k = 20, m = 2))
    ).foreach { case (store, create, fold, read, probe) =>
      val kind = store.kind
      val root = tmp(s"gc$kind")
      create(root)
      fold(feed((0L until 20L).map(i => ("I", i, 1000L))), root)
      fold(feed((0L until 5L).map(i => ("D", i, 2000L))), root)
      fold(feed((5L until 10L).map(i => ("D", i, 3000L))), root)
      store.pruneTombstones(spark, root, olderThanUs = 2500L)
      val loc = spark.read.parquet(s"$root/keys")
      assert(loc.count() == 15L && loc.filter(!col("live")).count() == 5L,
        s"older $kind tombstones pruned, newer retained")
      fold(feed(Seq(("I", 7L, 2800L))), root)
      assert(read(root).filter(col("vec_id") === 7L).count() == 0L,
        s"a retained $kind tombstone must still reject an older re-insert")
      val nbrs = probe(root).collect().map(_.getLong(1)).toSet
      assert(nbrs.nonEmpty && nbrs.forall(_ >= 10L), s"$kind: deleted keys must never probe back: $nbrs")
    }
  }
}
