package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.sources.Tables

/** Similarity search over the `embeddings` table (SURVEY.md §2.4,
  * s01-s03): brute-force cosine top-k as the correctness baseline, a
  * random-hyperplane-LSH bucketed variant as the scale path, and
  * oracle-checked embedding statistics.
  */
object Similarity {

  /** Deterministic random-hyperplane signature: 8 hyperplanes whose
    * components are sin(j*131 + k*0.7) — fixed, seedless, reproducible on
    * any cluster (and by the DuckDB oracle). Bucket = 8 sign bits packed
    * to an int (0..255).
    *
    * Computed per row with indexed `transform` + `aggregate` (in-index-
    * order summation, matching the oracle's `list_aggregate` exactly) —
    * a narrow, shuffle-free map. The previous posexplode+groupBy+join
    * formulation cost two shuffles for the same arithmetic.
    */
  /** SIZING RULE for hyperplane-LSH bucketing: pick enough planes that the
    * expected bucket holds ~`targetBucket` vectors — `planes =
    * ceil(log2(n / targetBucket))`, clamped to [8, 30]. In-bucket work is
    * all-pairs for near-dup (d05) and per-probe linear for ANN (s02), so
    * bucket size, not corpus size, is what must stay constant as the
    * corpus grows: 10^9 vectors at targetBucket=1024 → 20 planes → ~10^6
    * buckets of ~10^3, keeping the d05 verify at ~10^6 * 10^6/2 pair evals
    * instead of the 10^18/2 a fixed 256-bucket split would give.
    * (8-plane floor keeps the small-corpus behavior identical to the
    * DuckDB oracle's 8-plane emulation; 30-plane cap bounds the bucket id
    * in an int.)
    */
  def autoPlanes(corpusSize: Long, targetBucket: Long = 1024L): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, corpusSize.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.min(30, math.max(8, needed))
  }

  def withHyperplaneBucket(embeddings: DataFrame, numPlanes: Int = 8): DataFrame = {
    val bucket = (0 until numPlanes).map { j =>
      val s = aggregate(
        transform(col("embedding"), (x, k) => x.cast("double") * sin(lit(j * 131.0) + k.cast("double") * 0.7)),
        lit(0.0),
        (acc, v) => acc + v,
      )
      when(s > 0, 1 << j).otherwise(0)
    }.reduce(_ + _)
    embeddings.withColumn("bucket", bucket)
  }

  private def queriesOf(embeddings: DataFrame, n: Int = 10): DataFrame =
    embeddings.filter(col("vec_id") < n)

  /** s01: brute-force cosine top-k — the exact baseline. The query side is
    * tiny and broadcast; ranking keys are rounded so ties break identically
    * everywhere.
    */
  def annBruteForce(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir).withColumn("norm", l2Norm(col("embedding")))
    val q = broadcast(
      queriesOf(emb).select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("norm").as("q_norm")))
    val w = Window.partitionBy("query_id").orderBy(col("sim6").desc, col("neighbor_id"))
    emb
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"), col("norm").as("n_norm"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim6", round(dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim6"), 4).as("cosine"), col("rn"))
  }

  /** s02: LSH-bucketed ANN — probe the query's hyperplane bucket plus,
    * with `multiProbe`, every bucket at sign-bit hamming distance 1 (flip
    * each of the 8 bits: 9 probes). This is the 100 TB path: the
    * candidate set per query is the probed buckets, not the corpus —
    * multi-probe lifts recall from the single-bucket baseline at 9x the
    * per-query candidate cost, still a ~28x fan-in cut vs brute force.
    * Probes live on the tiny broadcast query side (exploded BEFORE the
    * broadcast), so the corpus is still scanned exactly once.
    */
  def annLsh(spark: SparkSession, dir: String, k: Int = 3, multiProbe: Boolean = true,
      numPlanes0: Int = 0): DataFrame = {
    // numPlanes0 = 0 → size from the corpus per [[autoPlanes]] (the probe
    // count grows with it: planes+1 probes at hamming distance <= 1).
    // Callers needing oracle parity pin numPlanes0 = 8 explicitly.
    val numPlanes =
      if (numPlanes0 > 0) numPlanes0 else autoPlanes(Tables.embeddings(spark, dir).count())
    val bucketed = withHyperplaneBucket(Tables.embeddings(spark, dir), numPlanes)
      .withColumn("norm", l2Norm(col("embedding")))
    val probes =
      if (!multiProbe) array(col("bucket"))
      else array(col("bucket") +: (0 until numPlanes).map(j => col("bucket").bitwiseXOR(lit(1 << j))): _*)
    val q = broadcast(queriesOf(bucketed)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"),
        explode(probes).as("bucket")))
    val w = Window.partitionBy("query_id").orderBy(col("sim6").desc, col("neighbor_id"))
    bucketed
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"), col("norm").as("n_norm"), col("bucket"))
      .join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim6", round(dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim6"), 4).as("cosine"), col("rn"))
  }

  /** s09: FILTERED ANN — top-k cosine neighbors restricted by a
    * metadata predicate (here: the query's own label — "nearest within
    * my class", the per-language/per-source retrieval every curation
    * pipeline runs). The 100 TB lesson is WHERE the filter goes: not a
    * post-filter over an unfiltered candidate stream (which silently
    * returns < k when the filter is selective — the classic filtered-
    * ANN failure), but INTO the index partitioning: the bucket key
    * becomes (label, hyperplane-bucket), so the equality predicate
    * rides the join key, candidates are filter-correct by
    * construction, and the per-query candidate cost is unchanged.
    * Same multi-probe discipline as s02 (flip-1-bit, planes+1 probes
    * on the tiny broadcast query side).
    */
  def annFiltered(spark: SparkSession, dir: String, k: Int = 3, numPlanes0: Int = 8): DataFrame = {
    val numPlanes =
      if (numPlanes0 > 0) numPlanes0 else autoPlanes(Tables.embeddings(spark, dir).count())
    val bucketed = withHyperplaneBucket(Tables.embeddings(spark, dir), numPlanes)
      .withColumn("norm", l2Norm(col("embedding")))
    val probes =
      array(col("bucket") +: (0 until numPlanes).map(j => col("bucket").bitwiseXOR(lit(1 << j))): _*)
    val q = broadcast(queriesOf(bucketed)
      .select(col("vec_id").as("query_id"), col("label"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), explode(probes).as("bucket")))
    val w = Window.partitionBy("query_id").orderBy(col("sim6").desc, col("neighbor_id"))
    bucketed
      .select(col("vec_id").as("neighbor_id"), col("label"), col("embedding").as("n_emb"),
        col("norm").as("n_norm"), col("bucket"))
      .join(q, Seq("label", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim6", round(dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("label"), col("neighbor_id"),
        round(col("sim6"), 4).as("cosine"), col("rn"))
  }

  /** IVF coarse quantizer: deterministic seeds (the first k vec_ids), a
    * fixed number of Lloyd iterations entirely in DataFrame ops (assign =
    * broadcast-centroid integer argmin-L2; update = per-dimension
    * floored mean via posexplode + groupBy). Returns (assignments
    * (vec_id, embedding, norm, xi, cid), centroids (cid, ci, c2)).
    *
    * FIXED-POINT LLOYD (q80's integer trick applied to k-means): every
    * vector is quantized once to micro-units (`toMicro`), and from
    * there the entire training is exact integer arithmetic —
    *  - assign: argmin |x−c|² = argmax 2·x·c − |c|², both terms BIGINT
    *    (classic expanded form; |x|² is constant per vector);
    *  - update: per-dimension mean ⌊Σxᵢ / n⌋ where the division is a
    *    `floor` over a DOUBLE quotient of EXACT integers < 2⁵³ — the
    *    same bits in any engine, unlike avg(float) whose partial-sum
    *    order varies per run.
    * Result: the index is bit-deterministic and a DuckDB oracle can
    * replay training round by round → s04 is HASH-EXACT, not rows-only.
    * Micro-unit quantization moves centroids by ≤0.5e-6 per component —
    * noise relative to Lloyd's own convergence tolerance.
    *
    * The assign argmax is a `max_by` aggregate over the 16 broadcast-
    * expanded candidate rows per vector — partial aggregation collapses
    * them map-side before the shuffle, where the previous `row_number`
    * window had to shuffle AND sort all k*n rows per Lloyd iteration.
    */
  def ivfIndex(embeddings: DataFrame, k: Int = 16, iters: Int = 2): (DataFrame, DataFrame) = {
    val base = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("norm", l2Norm(col("embedding")))
      .withColumn("xi", toMicro(col("embedding")))

    def assign(centroids: DataFrame): DataFrame =
      base
        .crossJoin(broadcast(centroids))
        .withColumn("score", lit(2L) * dotLong(col("xi"), col("ci")) - col("c2"))
        .groupBy("vec_id")
        // ties on score -> smallest cid, encoded as max of (score, -cid)
        .agg(max_by(
          struct(col("embedding"), col("norm"), col("xi"), col("cid")),
          struct(col("score"), (-col("cid")).as("ncid"))).as("best"))
        .select(col("vec_id"), col("best.embedding").as("embedding"), col("best.norm").as("norm"),
          col("best.xi").as("xi"), col("best.cid").as("cid"))

    def recompute(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cid"), posexplode(col("xi")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(floor(sum("x").cast("double") / count(lit(1))).cast("long").as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), transform(col("pm"), p => p.getField("m")).as("ci"))
        .withColumn("c2", dotLong(col("ci"), col("ci")))

    val seeds = base
      .filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("xi").as("ci"))
      .withColumn("c2", dotLong(col("ci"), col("ci")))
    // same training-cut as pqIndex: cache the scan Lloyd re-reads, then
    // materialize the k centroids so the two consumers (cell table, query
    // probe list) don't each re-run training
    base.persist()
    val finalCentroids = (1 to iters).foldLeft(seeds)((c, _) => recompute(assign(c)))
      .localCheckpoint(true)
    base.unpersist()
    (assign(finalCentroids), finalCentroids)
  }

  /** Back-compat single-result form of [[ivfIndex]]. */
  def withIvfCell(embeddings: DataFrame, k: Int = 16, iters: Int = 2): DataFrame =
    ivfIndex(embeddings, k, iters)._1

  /** s04: IVF-bucketed ANN — probe the query's `nprobe` nearest cells.
    * Same recall/cost trade as s02 but with data-adaptive cells instead
    * of fixed hyperplanes; nprobe=2 doubles the probed fraction and the
    * recall knob scales to any cluster (probe list lives on the tiny
    * broadcast query side; the corpus is scanned once).
    *
    * SIZING RULE (classic IVF): cells k ≈ sqrt(n) balances the two linear
    * terms — per-query coarse scan (k centroids) vs per-probe cell scan
    * (n/k vectors): 10^9 vectors → ~32k cells of ~32k. k=16 here matches
    * the 500-vector test corpus (sqrt(500) ≈ 22); pass k explicitly when
    * indexing a real corpus.
    */
  def annIvf(spark: SparkSession, dir: String, k: Int = 3, nprobe: Int = 2): DataFrame = {
    val (cells, centroids) = ivfIndex(Tables.embeddings(spark, dir))
    // top-nprobe cells per query: 10 queries x 16 centroids — the window
    // sort is over a trivially small broadcast-side set. Probe ranking
    // is the same integer argmin-L2 key training used (2·q·c − |c|²),
    // so the probe list is deterministic too — with the integer Lloyd
    // index this makes the entire s04 dataflow hash-exact.
    val pw = Window.partitionBy("query_id").orderBy(col("pscore").desc, col("cid"))
    val q = broadcast(queriesOf(cells)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"),
        col("xi").as("q_xi"))
      .crossJoin(broadcast(centroids))
      .withColumn("pscore", lit(2L) * dotLong(col("q_xi"), col("ci")) - col("c2"))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("q_norm"), col("cid")))
    val w = Window.partitionBy("query_id").orderBy(col("sim6").desc, col("neighbor_id"))
    cells
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"), col("norm").as("n_norm"), col("cid"))
      .join(q, Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim6", round(dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim6"), 4).as("cosine"), col("rn"))
  }

  /** Product-quantization index (Jégou et al. 2011): each embedding splits
    * into `m` subvectors; each subspace gets its own k=16 codebook
    * (per-subspace Lloyd, seeds = first k vec_ids, deterministic
    * tiebreaks); a vector is stored as m small codes + its norm —
    * 4 bytes + 4 per vector here vs 4·D for raw floats, the compression
    * that keeps a 10^9-vector index in executor memory.
    *
    * Spark-first shape: ALL subspaces train in the same DataFrame with
    * the subspace id `j` as an extra grouping key — one assign aggregate
    * and one recompute aggregate per Lloyd round cover every subspace in
    * parallel; nothing loops per subspace.
    *
    * Assignment minimizes true L2 distance via the expanded form:
    * argmin |x−c|² = argmax 2·x·c − |c|² (|x|² is constant per (vec, j)),
    * so the score is one fused dot against the broadcast codebook.
    *
    * FIXED-POINT LLOYD (the ivfIndex treatment, per subspace): the
    * subvector quantizes once to micro-units, and assignment scores,
    * codebook means (⌊Σ/n⌋ over exact-integer doubles), and ADC lookup
    * dots are all exact BIGINT arithmetic — bit-deterministic under any
    * aggregation order, so s05/s06 replay round-for-round in DuckDB and
    * grade HASH-EXACT instead of rows-only.
    */
  def pqIndex(embeddings: DataFrame, m: Int = 4, k: Int = 16, iters: Int = 2): (DataFrame, DataFrame) = {
    val subs = embeddings
      .select(col("vec_id"), col("embedding"))
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, $m - 1)," +
        s" j -> slice(embedding, j * (size(embedding) div $m) + 1, size(embedding) div $m))"))
        .as(Seq("j", "sv")))
      .select(col("vec_id"), col("j"), toMicro(col("sv")).as("svi"))

    def assign(cb: DataFrame): DataFrame =
      subs
        .join(broadcast(cb), Seq("j"))
        .withColumn("score", lit(2L) * dotLong(col("svi"), col("cvi")) - col("c2"))
        .groupBy("vec_id", "j")
        .agg(max_by(struct(col("svi"), col("code")), struct(col("score"), (-col("code")).as("nc"))).as("best"))
        .select(col("vec_id"), col("j"), col("best.svi").as("svi"), col("best.code").as("code"))

    def recompute(assigned: DataFrame): DataFrame =
      assigned
        .select(col("j"), col("code"), posexplode(col("svi")).as(Seq("pos", "x")))
        .groupBy("j", "code", "pos")
        .agg(floor(sum("x").cast("double") / count(lit(1))).cast("long").as("mu"))
        .groupBy("j", "code")
        .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("pm"))
        .select(col("j"), col("code"), transform(col("pm"), p => p.getField("mu")).as("cvi"))
        .withColumn("c2", dotLong(col("cvi"), col("cvi")))

    val seeds = subs
      .filter(col("vec_id") < k)
      .select(col("j"), col("vec_id").cast("int").as("code"), col("svi").as("cvi"))
      .withColumn("c2", dotLong(col("cvi"), col("cvi")))
    // train against a cached subvector projection (each Lloyd round scans
    // it twice), then MATERIALIZE the m×k codebook: downstream both the
    // code table and the ADC lookup table consume it, and without the cut
    // each consumer would re-run the whole training chain
    subs.persist()
    val codebook = (1 to iters).foldLeft(seeds)((cb, _) => recompute(assign(cb)))
      .localCheckpoint(true)
    subs.unpersist()
    (assign(codebook).select(col("vec_id"), col("j"), col("code")), codebook)
  }

  /** s05: PQ-compressed ANN via asymmetric distance computation — the
    * query stays full-precision, the corpus is scanned as CODES: a
    * broadcast lookup table (query subvector · every codebook centroid,
    * m×k×queries rows) joins the code table on (j, code), and the
    * approximate dot is the per-(query, vector) SUM of m table entries —
    * a map-side-combined aggregate over the code scan. Stored norms turn
    * the dot estimate into a cosine estimate. The raw embedding column is
    * never touched after encoding, which is the entire point at 10^9
    * vectors: the scan reads m bytes + one float per vector.
    *
    * With `rerank > 0` the classic second stage runs: the top `rerank`
    * ADC candidates per query (a k-sized set, not the corpus) join back
    * to their raw embeddings for EXACT cosine, and the final top-k ranks
    * on that — quantization error only costs recall if a true neighbor
    * falls outside the ADC candidate list, the standard PQ recall/cost
    * dial.
    *
    * HASH-EXACT driver entry since the fixed-point Lloyd rewrite: the
    * codebook is integer-deterministic, the per-(query,vector) ADC sum
    * adds m exact BIGINTs (order-free), and the re-rank cosine is the
    * same per-row float pipeline the s01 oracle already replays. The
    * spec additionally pins recall@3 against the exact s01 baseline.
    */
  def annPq(spark: SparkSession, dir: String, k: Int = 3, rerank: Int = 60): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (codes, codebook) = pqIndex(emb)
    val norms = emb.select(col("vec_id"), l2Norm(col("embedding")).as("norm"))
    val lut = broadcast(
      queriesOf(emb)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
        .withColumn("q_norm", l2Norm(col("q_emb")))
        .select(col("query_id"), col("q_norm"), posexplode(expr(
          "transform(sequence(0, 3), j -> slice(q_emb, j * (size(q_emb) div 4) + 1, size(q_emb) div 4))"))
          .as(Seq("j", "qsv")))
        .join(broadcast(codebook), Seq("j"))
        .select(col("query_id"), col("q_norm"), col("j"), col("code"),
          dotLong(toMicro(col("qsv")), col("cvi")).as("pdot")))
    val adcW = Window.partitionBy("query_id").orderBy(col("adot").desc, col("neighbor_id"))
    val cand = codes
      .join(lut, Seq("j", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("pdot").as("adot"), first("q_norm").as("q_norm"))
      .join(norms.select(col("vec_id").as("neighbor_id"), col("norm").as("n_norm")), Seq("neighbor_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("arn", row_number().over(adcW))
      .filter(col("arn") <= math.max(k, rerank))
    val w = Window.partitionBy("query_id").orderBy(col("sim6").desc, col("neighbor_id"))
    val scored =
      if (rerank <= 0)
        // adot is micro²-scaled (10⁻¹² per unit): rescale before the
        // cosine estimate
        cand.withColumn("sim6",
          round(col("adot").cast("double") / 1e12 / (col("q_norm") * col("n_norm")), 6))
      else
        cand
          .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")), Seq("neighbor_id"))
          .join(broadcast(queriesOf(emb).select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))),
            Seq("query_id"))
          .withColumn("sim6", round(dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")), 6))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim6"), 4).as("approx_cosine"), col("rn"))
  }

  /** #139: persist the PQ index — codes co-bucketed with the stored norms
    * (one table, the per-vector scan unit) plus the tiny codebook. This
    * is what "the training cost is paid once" means operationally: the
    * 10× probe showed inline codebook training dominating s05; a
    * deployment builds the index per corpus snapshot and every query
    * afterwards reads codes + codebook, never raw embeddings.
    */
  def savePqIndex(spark: SparkSession, dir: String, indexDir: String): Unit = {
    val emb = Tables.embeddings(spark, dir)
    val (codes, codebook) = pqIndex(emb)
    codes
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("j"), col("code")))).as("jc"))
      .join(emb.select(col("vec_id"), l2Norm(col("embedding")).as("norm")), Seq("vec_id"))
      .select(col("vec_id"), transform(col("jc"), x => x.getField("code")).as("codes"), col("norm"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$indexDir/codes")
    codebook.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$indexDir/codebook")
  }

  /** s05 served FROM a persisted index: identical ADC + re-rank dataflow,
    * but codes/codebook come off disk — no Lloyd work on the query path.
    * (Re-rank still touches raw embeddings for its top-R candidates only,
    * exactly as a production PQ store keeps full vectors for refinement.)
    */
  def annPqFromIndex(spark: SparkSession, dir: String, indexDir: String,
      k: Int = 3, rerank: Int = 60): DataFrame = {
    val emb      = Tables.embeddings(spark, dir)
    val codebook = spark.read.parquet(s"$indexDir/codebook")
    val stored   = spark.read.parquet(s"$indexDir/codes")
    val codes = stored.select(col("vec_id"), col("norm"),
      posexplode(col("codes")).as(Seq("j", "code")))
    val lut = broadcast(
      queriesOf(emb)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
        .withColumn("q_norm", l2Norm(col("q_emb")))
        .select(col("query_id"), col("q_norm"), posexplode(expr(
          "transform(sequence(0, 3), j -> slice(q_emb, j * (size(q_emb) div 4) + 1, size(q_emb) div 4))"))
          .as(Seq("j", "qsv")))
        .join(broadcast(codebook), Seq("j"))
        .select(col("query_id"), col("q_norm"), col("j"), col("code"),
          dotLong(toMicro(col("qsv")), col("cvi")).as("pdot")))
    val adcW = Window.partitionBy("query_id").orderBy(col("adot").desc, col("neighbor_id"))
    val cand = codes
      .join(lut, Seq("j", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("pdot").as("adot"), first("q_norm").as("q_norm"), first("norm").as("n_norm"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("arn", row_number().over(adcW))
      .filter(col("arn") <= math.max(k, rerank))
    val w = Window.partitionBy("query_id").orderBy(col("sim6").desc, col("neighbor_id"))
    cand
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")), Seq("neighbor_id"))
      .join(broadcast(queriesOf(emb).select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))),
        Seq("query_id"))
      .withColumn("sim6", round(dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim6"), 4).as("approx_cosine"), col("rn"))
  }

  /** Per-(app, corpus-snapshot) index memo for the SERVED driver entry:
    * the r4 verdict's perf item was s05 re-running Lloyd training
    * inline on every call — the 10× probe measured training dominating
    * at 3.9 s. A deployment builds the PQ index once per corpus
    * snapshot; this memo is that lifecycle in miniature (build on first
    * query, serve codes+codebook from parquet afterwards). Keyed like
    * [[planeMemo]]: applicationId string (no pinned SparkSession
    * references) + the corpus FILE FINGERPRINT, so a rewritten corpus
    * re-indexes automatically instead of serving stale codes.
    */
  private val pqIndexDirs =
    new scala.collection.concurrent.TrieMap[(String, String, Long), String]

  /** s06: PQ ANN served from the persisted index — identical ADC +
    * re-rank dataflow to s05, ZERO Lloyd work on the query path after
    * the first call per corpus. HASH-EXACT since the fixed-point Lloyd
    * rewrite: the persisted codebook is bit-identical to the inline
    * build, so s06 answers replay the same DuckDB oracle as s05; the
    * #139 spec additionally asserts served == inline exactly.
    */
  def annPqServed(spark: SparkSession, dir: String, k: Int = 3, rerank: Int = 60): DataFrame = {
    val indexDir = pqIndexDirs.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, Tables.fingerprint(spark, dir, "embeddings")), {
        val d = java.nio.file.Files.createTempDirectory("graft_pq_served").toString
        savePqIndex(spark, dir, d)
        d
      })
    annPqFromIndex(spark, dir, indexDir, k, rerank)
  }

  /** Approximate k-NN GRAPH over the corpus (s07's index): seeded by
    * hyperplane-LSH buckets (in-bucket exact top-`g` per vertex), then
    * ONE NN-Descent refinement round — "my neighbor's neighbors are
    * probably my neighbors" (Dong et al. 2011): candidate edges =
    * 2-hop pairs through the seed graph, scored exactly, best `g` kept
    * per vertex. Every stage is a bounded equi-join (bucket-bounded
    * seed, g²-bounded expansion) and fully deterministic (fixed
    * hyperplanes, round(·,6)+id tiebreaks) — so unlike IVF/PQ the whole
    * index is DuckDB-oracle-replayable.
    */
  def knnGraph(embeddings: DataFrame, g: Int = 8, numPlanes0: Int = 0,
      randomEdges: Int = 4, rounds: Int = 2): DataFrame = {
    // Seed-bucket sizing: in-bucket pair work is quadratic in bucket
    // size, so planes must grow with the corpus (autoPlanes, target 64:
    // ~64 locality candidates per vertex at ANY n — measured: fixed 8
    // planes cost 40 s at 20k vectors where auto-sizing stays linear).
    // The 8-plane floor keeps every corpus ≤ 16k vectors — including
    // all oracle-gate SFs — byte-identical to the DuckDB replay.
    val numPlanes =
      if (numPlanes0 > 0) numPlanes0 else autoPlanes(embeddings.count(), targetBucket = 64L)
    val base = withHyperplaneBucket(embeddings, numPlanes)
      .withColumn("norm", l2Norm(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("norm"), col("bucket"))
    val w = Window.partitionBy("src").orderBy(col("sim6").desc, col("dst"))
    // exact-score a candidate edge set and keep the best g per vertex
    def topG(cands: DataFrame): DataFrame = cands
      .join(base.select(col("vec_id").as("src"), col("embedding").as("s_emb"), col("norm").as("s_norm")), Seq("src"))
      .join(base.select(col("vec_id").as("dst"), col("embedding").as("d_emb"), col("norm").as("d_norm")), Seq("dst"))
      .select(col("src"), col("dst"),
        round(dot(col("s_emb"), col("d_emb")) / (col("s_norm") * col("d_norm")), 6).as("sim6"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= g)
      .select("src", "dst", "sim6")
    // seed = LSH in-bucket pairs (locality) ∪ deterministic pseudo-random
    // edges (DIVERSITY — NN-Descent's convergence depends on long-range
    // hops; with locality-only seeds the 2-hop closure never leaves its
    // bucket's connected component, measured as zero recall lift)
    val bucketPairs = base.as("a")
      .join(base.as("b"), col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    val nVec = broadcast(embeddings.agg(count(lit(1)).as("n_vec")))
    val randPairs = base.select(col("vec_id").as("src"))
      .crossJoin(nVec)
      .select(col("src"), explode(array((1 to randomEdges).map(j =>
        pmod(col("src") * 37 + lit(j * 101), col("n_vec"))): _*)).as("dst"))
      .filter(col("dst") =!= col("src"))
    val seed = topG(bucketPairs.union(randPairs).distinct())
    // NN-Descent rounds: 2-hop candidates ∪ current graph, rescored,
    // re-selected — each round tightens edges toward true neighbors
    (1 to rounds).foldLeft(seed) { (graph, _) =>
      val twoHop = graph.as("e1")
        .join(graph.as("e2"), col("e1.dst") === col("e2.src"))
        .filter(col("e1.src") =!= col("e2.dst"))
        .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
      topG(twoHop.union(graph.select("src", "dst")).distinct())
    }
  }

  /** s07: graph-based ANN (the HNSW idea re-expressed batch-first —
    * #7 in the r4 gap list): serve queries by walking the [[knnGraph]]
    * instead of scanning buckets — the query's own graph edges are the
    * entry set, expanded one hop through its neighbors' adjacency
    * (beam search unrolled one level, which at g=6 already probes ≤
    * g+g² candidates), scored exactly, top-k. Two hash joins on vertex
    * ids per batch of queries; the corpus is never rescanned at query
    * time. Deterministic end to end → hash-exact oracle, unlike
    * s04/s05.
    */
  /** Graph memo — the kNN graph is an INDEX (build once per corpus
    * snapshot, serve many queries), exactly the s06 lifecycle: the
    * first call pays the NN-Descent build and materializes the edge
    * list (localCheckpoint cuts the 2-round join lineage); every later
    * call is the two-hash-join graph walk.
    */
  private val graphCache =
    new scala.collection.concurrent.TrieMap[(SparkSession, String, Int), DataFrame]

  def annGraph(spark: SparkSession, dir: String, k: Int = 3, g: Int = 8): DataFrame = {
    graphCache.keySet.foreach { key => if (key._1.sparkContext.isStopped) graphCache.remove(key) }
    val graph = graphCache.getOrElseUpdate((spark, dir, g),
      knnGraph(Tables.embeddings(spark, dir), g).localCheckpoint(true))
    val entry = graph.filter(col("src") < 10)
      .select(col("src").as("query_id"), col("dst").as("cand"))
    val adj = graph.select(col("src").as("cand"), col("dst").as("cand2"))
    val hop2 = entry.join(adj, Seq("cand")).select(col("query_id"), col("cand2").as("cand"))
    // second hop: the unrolled greedy walk goes one level deeper —
    // candidates g + g² + g³, still a constant per query vs the corpus
    val hop3 = hop2.join(adj, Seq("cand")).select(col("query_id"), col("cand2").as("cand"))
    val emb = Tables.embeddings(spark, dir).withColumn("norm", l2Norm(col("embedding")))
    val q = broadcast(emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("norm").as("q_norm")))
    val w = Window.partitionBy("query_id").orderBy(col("sim6").desc, col("neighbor_id"))
    entry.union(hop2).union(hop3).distinct()
      .filter(col("cand") =!= col("query_id"))
      .withColumnRenamed("cand", "neighbor_id")
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"), col("norm").as("n_norm")),
        Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("sim6", round(dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim6"), 4).as("cosine"), col("rn"))
  }

  /** s08: k-NN JOIN — top-k neighbors for EVERY corpus vector, the
    * all-pairs form of ANN that training pipelines actually run at full
    * corpus scale (semantic-dedup candidate mining, retrieval-pair
    * mining, cluster seeding). s01-s07 answer a query SET; this answers
    * the corpus against itself.
    *
    * Shape: one hyperplane-LSH bucket self-join (candidates only within
    * a bucket — [[autoPlanes]] keeps expected bucket size constant as
    * the corpus grows, so in-bucket all-pairs cost is buckets×B²/2,
    * linear in n at fixed B), then per-vector top-k via the bounded
    * [[graft.functions.TopK]] aggregate — O(k) state per vector,
    * map-side combined, NO Window node over the candidate pairs
    * (a row_number window here would sort every candidate pair of
    * every vector under one rank; plan-asserted absent). Norms are
    * computed once per vector before the join, not once per pair.
    *
    * Deterministic end to end (fixed hyperplanes, exact rescoring,
    * ties broken by neighbor id) → HASH-EXACT oracle, with the
    * 8-plane floor keeping every oracle-gate corpus identical to the
    * DuckDB 8-plane replay.
    */
  private val planeMemo =
    new scala.collection.concurrent.TrieMap[(String, String, Long), Int]

  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
    // the sizing count is per (app, corpus-fingerprint), not per call —
    // the one driver action stays off the repeated query path (s06/s07
    // pattern). Keying on the applicationId string (not the
    // SparkSession itself) pins no session references, and the
    // fingerprint invalidates automatically when the corpus is
    // rewritten; the plane count is a pure function of corpus size, so
    // sharing across sessions of one app is sound.
    val planes = planeMemo.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, Tables.fingerprint(spark, dir, "embeddings")),
      autoPlanes(raw.count(), 1024L))
    val emb = withHyperplaneBucket(raw, planes)
      .withColumn("norm", l2Norm(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("norm"), col("bucket"))
      // r17: pin the bucket exchange at defaultParallelism (d09's fix,
      // guide §8): the rescoring dot-products run in the self-join's
      // output stage, whose parallelism AQE sizes by input BYTES — the
      // MB-scale vector table coalesced the quadratic in-bucket CPU
      // onto a couple of tasks at sf1 (s08/s14 flat 8v32). A user
      // repartition is exempt from AQE coalescing and BOTH join sides
      // reuse this one exchange; scale-adaptive via the core count,
      // never a fact-table shuffle (vectors are the small table).
      .repartition(spark.sparkContext.defaultParallelism, col("bucket"))
    val cands = emb
      .join(
        emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
          col("norm").as("n_norm"), col("bucket")),
        Seq("bucket"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .withColumn("sim6", round(dot(col("embedding"), col("n_emb")) / (col("norm") * col("n_norm")), 6))
    cands
      .groupBy("vec_id")
      .agg(expr("graft_top3(sim6, neighbor_id)").as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("i", "e")))
      // cosine stays at the ranking precision (6dp): re-rounding a
      // rounded double to 4dp is where Spark (decimal-string HALF_UP)
      // and DuckDB (binary round) can split on a .5 boundary — observed
      // on the sf0.01 pair (23,141), sim6 = 0.26685
      .select(
        col("vec_id"),
        col("e.key").as("neighbor_id"),
        col("e.score").as("cosine"),
        (col("i") + 1).cast("long").as("rn"),
      )
  }

  /** s14: MUTUAL nearest neighbors — pairs where each vector is the
    * OTHER's top-1 in-bucket neighbor (reciprocal best match). The
    * classic high-precision pairing primitive: one-directional top-1
    * links form hubs (a popular vector is "nearest" to many), mutual
    * links are the symmetric core used for canonical-pair selection and
    * bitext mining (the margin/reciprocal criterion). Pure composition
    * over [[knnJoin]]'s rank-1 rows: one self-join on the reversed edge
    * — rank-1-row-sized input, so cost beyond s08 is negligible at any
    * scale. Ties inside knnJoin break by neighbor_id, so mutuality is
    * deterministic cross-engine.
    */
  def mutualNn(spark: SparkSession, dir: String): DataFrame = {
    // r17: LAZY localCheckpoint (the d06/q80 loop-cut pattern) — without
    // it the self-join's two sides each recompute the ENTIRE knnJoin
    // (plan: 4 parquet scans, two full bucket joins + rescoring; no
    // exchange reuse fires across the alias rename). The cut table is
    // rank-1 rows only — one row per vector, the smallest table in the
    // operator — so the materialization is negligible at any scale.
    val m = knnJoin(spark, dir).filter(col("rn") === 1)
      .select(col("vec_id"), col("neighbor_id"), col("cosine"))
      .localCheckpoint(false)
    m.as("a")
      .join(m.as("b"),
        col("a.neighbor_id") === col("b.vec_id") && col("b.neighbor_id") === col("a.vec_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("a.neighbor_id").as("vec_b"),
        col("a.cosine").as("cosine"))
  }

  /** q58: embedding-diversity sample — pick `perBucket` vectors from each
    * hyperplane-LSH region, so the sample spans the embedding space
    * instead of oversampling its dense cores (the diversity step of data
    * curation: near-duplicate regions contribute the same budget as
    * sparse frontier regions). Selection within a bucket is hash-rank
    * (deterministic, engine-portable) like q48; the bucket assignment is
    * the same shuffle-free projection d05/s02 use, so the whole operator
    * is one narrow shuffle on the bucket key.
    */
  def diversitySample(spark: SparkSession, dir: String, perBucket: Int = 4): DataFrame = {
    val w = Window
      .partitionBy("bucket")
      .orderBy(substring(md5(col("vec_id").cast("string")), 1, 4), col("vec_id"))
    withHyperplaneBucket(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"), col("bucket"), row_number().over(w).cast("long").as("r"))
      .filter(col("r") <= perBucket)
  }

  /** s03: embedding statistics per label (oracle-checked — the per-element
    * sum order matches DuckDB's list_aggregate exactly).
    */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(spark, dir)
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        round(avg(l2Norm(col("embedding"))), 4).as("avg_norm"),
        round(avg(size(col("embedding"))), 4).as("avg_dim"),
      )

  /** q87: semantic decontamination — the embedding-space complement of
    * q44's n-gram containment check: a corpus document is contaminated
    * when it is too close IN EMBEDDING SPACE to any held-out benchmark
    * item (the paraphrase leak n-gram overlap can't see). Benchmark =
    * vec_id < nBench (the s01/s04 query convention); every corpus
    * vector reports its nearest benchmark item (max_by with the
    * deterministic (sim, -bench_id) tiebreak — no window, combines
    * map-side) and a contaminated verdict at the threshold.
    *
    * Scale shape: the benchmark side is SMALL by construction (a test
    * set, not a corpus) and broadcasts; the corpus scans ONCE with no
    * shuffle wider than the final per-vector max_by combine — the same
    * O(n·|bench|) brute-force kernel as s01, which is the RIGHT
    * algorithm here because |bench| is a constant (for benchmark sets
    * beyond ~10⁵ items, route through the d05/d12 bucketed candidates
    * instead). τ default matches d05's calibration to the
    * near-isotropic synthetic corpus; real text embeddings use 0.9+.
    */
  def semanticContamination(spark: SparkSession, dir: String, nBench: Int = 10,
      tau: Double = 0.25): DataFrame = {
    val emb = Tables.embeddings(spark, dir).withColumn("norm", l2Norm(col("embedding")))
    val bench = broadcast(emb.filter(col("vec_id") < nBench)
      .select(col("vec_id").as("bench_id"), col("embedding").as("b_emb"), col("norm").as("b_norm")))
    // sim6 (the 1e-6 grid) is ONLY the argmax key and threshold operand;
    // the output cosine rounds the RAW double once. Rounding the grid
    // value again (round(sim6, 4)) manufactures exact .xxxx50 halves
    // where Spark's decimal HALF_UP and DuckDB's binary multiply-round
    // disagree — the r10 sf1 gate caught 15 such rows. Single rounding
    // of a raw double only disagrees within 1 ulp of a half boundary
    // (the d05 regime, hash-exact at every probed sf).
    emb
      .filter(col("vec_id") >= nBench)
      .crossJoin(bench)
      .withColumn("sim", dot(col("embedding"), col("b_emb")) / (col("norm") * col("b_norm")))
      .withColumn("sim6", round(col("sim"), 6))
      .groupBy("vec_id")
      .agg(max_by(
        struct(col("bench_id"), col("sim6"), col("sim")),
        struct(col("sim6"), (-col("bench_id")).as("nb"))).as("best"))
      .select(
        col("vec_id"),
        col("best.bench_id").as("bench_id"),
        round(col("best.sim"), 4).as("cosine"),
        (col("best.sim6") >= tau).as("contaminated"))
  }

  /** d12: SemDeDup-style cluster-level semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space with the s04
    * fixed-point Lloyd quantizer (bit-deterministic training), then
    * inside each cluster drop every vector that has a LOWER-id neighbor
    * above the cosine threshold — survivors are the canonical semantic
    * representatives, one per tight semantic neighborhood, without any
    * corpus-wide pair enumeration.
    *
    * Exactness: the threshold test never touches floats. With micro-unit
    * integer vectors, `cos(x,y) >= τ` (τ = tauPermille/1000) is decided
    * as `x·y >= 0 AND 1e6·(x·y)² >= τ²_permille·|x|²·|y|²` — all terms
    * exact integers (≤ ~3e32 for 64-dim unit-scale inputs, inside
    * DECIMAL(38) / DuckDB HUGEINT), so the survivor set is
    * engine-identical and the DuckDB oracle replays it hash-exact.
    *
    * Scale shape: Lloyd cost is the s04 index (built once per corpus
    * snapshot); in-cluster verify is all-pairs ONLY within a cell, so
    * the cost model is cell size, exactly like d05's buckets — size
    * k ≈ n/targetCell (SemDeDup's own regime: tens of thousands of
    * clusters for billions of docs) and the quadratic term stays
    * constant as the corpus grows. Default τ=0.25 is calibrated to the
    * near-isotropic synthetic corpus (max pairwise cosine ~0.51, same
    * reasoning as d05); real text embeddings would use 0.9+.
    */
  def semDedup(spark: SparkSession, dir: String, tauPermille: Long = 250L): DataFrame = {
    val a = ivfIndex(Tables.embeddings(spark, dir))._1
      .select(col("vec_id"), col("cid"), col("xi"))
      .withColumn("x2", dotLong(col("xi"), col("xi")))
      .localCheckpoint(false) // three consumers below; never re-run Lloyd
    val tau2 = tauPermille * tauPermille
    val dup = a.as("l")
      .join(a.as("r"), col("l.cid") === col("r.cid") && col("l.vec_id") < col("r.vec_id"))
      .withColumn("d", dotLong(col("l.xi"), col("r.xi")))
      .filter(col("d") >= 0L &&
        col("d").cast("decimal(20,0)") * col("d").cast("decimal(20,0)") * lit(1000000L) >=
          lit(tau2) * col("l.x2").cast("decimal(20,0)") * col("r.x2").cast("decimal(20,0)"))
      .select(col("r.vec_id").as("vec_id"))
      .distinct()
    a.join(dup, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid").cast("int").as("cid"))
  }

  /** s10: ANN recall audit — recall@k of the LSH index (s02, pinned at 8
    * planes for oracle parity) against the exact baseline (s01), the
    * measurement every approximate index ships with: per query, how many
    * of the true top-3 neighbors the probed buckets actually surfaced.
    * Without this number an ANN rollout is faith, not engineering; with
    * it, the planes/probes knobs become a measured recall↔cost dial.
    *
    * Emitted as exact integer (k, n_hit) pairs per query — the ratio is
    * the consumer's division. Scale shape: both sides are the already-
    * audited top-k pipelines (bounded O(k) per query); the audit itself
    * is one keyed join + fold over 2·k·|queries| rows — vanishing next
    * to either index pass.
    */
  def annRecallAudit(spark: SparkSession, dir: String): DataFrame =
    recallOf(
      annBruteForce(spark, dir, k = 3),
      annLsh(spark, dir, k = 3, multiProbe = true, numPlanes0 = 8))

  /** s11: the same recall@3 audit for the PQ index (s05's ADC pipeline)
    * — the compressed-index counterpart of s10: PQ answers from 4-bit
    * codes + a rerank set, so its recall story is the whole reason the
    * rerank knob exists; this measures it against the exact baseline
    * with the identical intersect-and-count contract.
    */
  def annPqRecallAudit(spark: SparkSession, dir: String): DataFrame =
    recallOf(annBruteForce(spark, dir, k = 3), annPq(spark, dir, k = 3))

  /** s12: recall@3 for the IVF index (s04, nprobe=2) — completes the
    * audit triad over all three index families (LSH / PQ / IVF): the
    * nprobe knob's recall cost measured against the exact baseline,
    * same intersect-and-count contract.
    */
  def annIvfRecallAudit(spark: SparkSession, dir: String): DataFrame =
    recallOf(annBruteForce(spark, dir, k = 3), annIvf(spark, dir, k = 3))

  /** |exact top-k ∩ approx top-k| per query as exact integer pairs. */
  private def recallOf(exactTopK: DataFrame, approxTopK: DataFrame): DataFrame = {
    val exact  = exactTopK.select(col("query_id"), col("neighbor_id"))
    val approx = approxTopK.select(col("query_id"), col("neighbor_id"))
    val hits = exact
      .join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hit"))
    exact
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("k"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
  }

  /** q135: HYBRID retrieval via Reciprocal Rank Fusion (Cormack et al.
    * 2009, the fusion every RAG stack runs): the lexical leg (t15's BM25
    * top-20 for the query terms) and the vector leg (exact cosine top-20
    * against doc 0's embedding — vec_id ≡ doc_id in this corpus) fuse by
    * rrf = Σ 1/(60 + rank), kept exact as integer ppm (1e6 DIV (60+rank)),
    * missing legs contribute 0. Output: top-10 fused docs with both leg
    * ranks visible (NULL = not retrieved by that leg).
    *
    * Ranks are derived WITHOUT a global window: each leg's top-20 comes
    * from a TakeOrdered cut (structurally scale-free), and rank-within-20
    * is a broadcast triangular count over the 20-row list — the bounded
    * idiom, so no SinglePartition touches table-sized data. At 100 TB the
    * vector leg swaps brute-force scoring for the s02/s04 index probes;
    * the fusion stage never changes (it only ever sees two k-row lists).
    */
  def hybridRrf(spark: SparkSession, dir: String, kList: Int = 20, kOut: Int = 10): DataFrame = {
    def rankOf(top: DataFrame, idCol: String, scoreCol: String, rankName: String): DataFrame =
      top.as("a").join(broadcast(top.as("b")),
          col(s"b.$scoreCol") > col(s"a.$scoreCol") ||
            (col(s"b.$scoreCol") === col(s"a.$scoreCol") && col(s"b.$idCol") < col(s"a.$idCol")),
          "left")
        .groupBy(col(s"a.$idCol").as("doc_id"))
        .agg((count(col(s"b.$idCol")) + 1L).as(rankName))
    val lex = rankOf(TextAnalysis.bm25Rank(spark, dir, k = kList), "doc_id", "bm25", "lex_rank")
    val emb = Tables.embeddings(spark, dir).withColumn("norm", l2Norm(col("embedding")))
    val q = broadcast(emb.filter(col("vec_id") === 0L)
      .select(col("embedding").as("q_emb"), col("norm").as("q_norm")))
    val vecTop = emb.filter(col("vec_id") =!= 0L)
      .crossJoin(q)
      .select(col("vec_id").as("doc_id"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6).as("sim6"))
      .orderBy(col("sim6").desc, col("doc_id"))
      .limit(kList)
    val vec = rankOf(vecTop, "doc_id", "sim6", "vec_rank")
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        (coalesce(expr("1000000 DIV (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000 DIV (60 + vec_rank)"), lit(0L))).as("rrf_e6"))
      .orderBy(col("rrf_e6").desc, col("doc_id"))
      .limit(kOut)
  }
}
