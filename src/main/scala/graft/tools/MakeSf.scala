package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REALISTIC scale-up generator: `runMain graft.tools.MakeSf <srcDir>
  * <outDir> [factor]` — the sf1 validation corpus (r9 verdict #2).
  *
  * Where [[Make10x]] builds the deliberately ADVERSARIAL probe (exact
  * duplicates, dimensions unscaled), this builds a corpus shaped like a
  * real sf×`factor`: EVERY entity population scales — customers,
  * suppliers, parts, orders, lineitems, users, documents, embeddings —
  * with referential integrity preserved across replicas (one GLOBAL id
  * offset shared by every id column, the Make10x collision argument),
  * documents becoming NEAR-duplicates (per-replica suffix, n_chars
  * recomputed) rather than exact copies, and embeddings deterministically
  * perturbed (exact copies would tie every ANN distance; scaling alone
  * would not — cosine is scale-invariant — so a small id-seeded additive
  * nudge breaks ties). Deterministic end to end: no RNG, pure arithmetic
  * on (id, element index).
  */
object MakeSf {
  def main(args: Array[String]): Unit = {
    val src    = args(0)
    val out    = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // one offset for EVERY replicated id column: per-table offsets would
    // break lineitem→orders/part/supplier and orders→customer FK
    // alignment between replicas; global max(id)+1 keeps replicas
    // disjoint and FK-consistent at any SF
    val idSpec = Seq(
      "customer"   -> Seq("c_custkey"),
      "supplier"   -> Seq("s_suppkey"),
      "part"       -> Seq("p_partkey"),
      "orders"     -> Seq("o_orderkey", "o_custkey"),
      "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events"     -> Seq("event_id", "user_id"),
      "documents"  -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    val offset = idSpec.flatMap { case (t, cols) =>
      val aggs = cols.map(c => max(col(c).cast("long")).as(c))
      val m = spark.read.parquet(s"$src/$t.parquet").agg(aggs.head, aggs.tail: _*).head()
      cols.indices.map(i => m.getLong(i))
    }.max + 1L

    // one FILE per table (the driver layout — DuckDB's oracle reads
    // `<t>.parquet` as a file): write a single part then move it
    def writeSingle(df: DataFrame, table: String): Unit = {
      val tmp = s"$out/_tmp_$table"
      // r17: ~2 MB row groups (default 128 MB left every table ONE row
      // group, so any scan — and the per-row expression work that runs
      // inside it — was a single task at any core count; the r17 scaling
      // probe read flat 8v32 purely from this). A 100 TB table is many
      // files/row groups; the probe corpus should parallelize like one.
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (2L * 1024 * 1024).toString)
        .parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
      val dst = new java.io.File(s"$out/$table.parquet")
      dst.delete()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
    def replicas(table: String)(tf: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      writeSingle((0 until copies).map(i => tf(base, i)).reduce(_ union _), table)
    }
    def shifted(df: DataFrame, i: Int, idCols: String*): DataFrame =
      idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i.toLong * offset)))

    replicas("customer")((d, i) => shifted(d, i, "c_custkey"))
    replicas("supplier")((d, i) => shifted(d, i, "s_suppkey"))
    replicas("part")((d, i) => shifted(d, i, "p_partkey"))
    replicas("orders")((d, i) => shifted(d, i, "o_orderkey", "o_custkey"))
    replicas("lineitem")((d, i) => shifted(d, i, "l_orderkey", "l_partkey", "l_suppkey"))
    replicas("events")((d, i) => shifted(d, i, "event_id", "user_id"))
    // near-duplicates, not exact: replica i>0 appends a short marker and
    // recomputes n_chars, so each sf0.1 exact-dup family yields `copies`
    // disjoint exact families plus cross-replica NEAR-dup pairs — the
    // realistic crawl shape
    replicas("documents") { (d, i) =>
      val s = shifted(d, i, "doc_id")
      if (i == 0) s
      else s
        .withColumn("text", concat(col("text"), lit(s" r$i")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    // id-seeded deterministic nudge per element (±0.006 max): breaks
    // distance ties across replicas without moving any vector far
    replicas("embeddings") { (d, i) =>
      val s = shifted(d, i, "vec_id")
      if (i == 0) s
      else s.withColumn("embedding",
        expr("transform(embedding, (x, j) -> cast(x + 0.001d * (pmod(vec_id * 7 + j, 13) - 6) as float))"))
    }
    Seq("region", "nation").foreach { t =>
      writeSingle(spark.read.parquet(s"$src/$t.parquet"), t)
    }
    spark.stop()
  }
}
