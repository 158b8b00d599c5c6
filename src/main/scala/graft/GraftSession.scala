package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuning defaults.
  *
  * Local runs use `local[n]` with `shuffle.partitions == n`; on a real
  * cluster the same builder is used with `shuffle.partitions ~= 2x total
  * cores` and AQE coalescing enabled so the setting only bounds the
  * pre-coalesce split count. Everything else (AQE, skew-join handling,
  * broadcast threshold) is identical between local tests and cluster runs
  * so the plans we verify locally are the plans that ship.
  */
object GraftSession {
  /** Static SQL configs — must be set on the BUILDER (before the shared
    * state exists); `spark.conf.set` would throw for these at runtime.
    *
    * codegen.cache.maxEntries: the default 100-entry janino class cache is
    * sized for a handful of repeated queries; a suite of ~60 queries (x
    * several whole-stage-codegen units each) cycles the cache completely,
    * so every re-execution recompiles every stage — the dedup operators
    * pay 5-10 s of janino per run instead of only on first execution. A
    * long-running changefeed server keeps its compiled classes; 4096
    * entries makes the bench (and any multi-query session) behave the
    * same way.
    */
  val staticTuning: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // declarative registration of the native expressions: every session
    // derived from this context (incl. newSession()) resolves them
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
  )

  /** Configs applied to every graft session (driver mains + tests). */
  val tuning: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    // rejects natively; read it as long nanos (converted in Tables.events).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // 10 MB default is fine locally; on a 100 TB cluster raise to ~64 MB so
    // dimension tables (nation/region/supplier/part) always broadcast.
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // recursive CTEs (q77) carry a 1M-row safety budget by default
    // (RECURSION_ROW_LIMIT_EXCEEDED) counted over the whole recursion —
    // the 10x probe's 20k-part hierarchy already exceeds it. Size it
    // like shuffle.partitions: deliberately, for the deployment. 100M
    // keeps a runaway recursion bounded while clearing any
    // depth-bounded hierarchy walk this engine ships.
    "spark.sql.cteRecursionRowLimit" -> "100000000",
    // the driver tables are ONE parquet file each; at sf1 lineitem is
    // ~100 MB, which the 128 MB default would scan as a single task.
    // 16 MB keeps every sf<=0.1 plan identical (files are <10 MB) and
    // splits the sf1 facts ~7-way; on a 100 TB cluster this goes back
    // up (64-128 MB) — there the files are many and the executors are
    // the parallelism, not intra-file splits. Parameterised (r17) so the
    // scaling probes can split the single-file probe corpora finer; the
    // default is unchanged, so every driver bench/verify run is
    // identical to prior rounds.
    "spark.sql.files.maxPartitionBytes" ->
      maxPartitionBytes(sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")).toString,
    // every streaming checkpoint file goes through graft's manager: local
    // paths skip Hadoop's forked chmod/readlink, other schemes keep
    // Spark's default manager (see LocalCheckpointFileManager)
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName,
  )

  /** `SPARK_GRAFT_MAX_PARTITION_BYTES` as a positive byte count; unset
    * means 16 MB.
    */
  private[graft] def maxPartitionBytes(env: Option[String]): Long = env match {
    case None => 16L * 1024 * 1024
    case Some(v) => v.trim.toLongOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_MAX_PARTITION_BYTES must be a positive whole number of bytes, got '$v'"))
  }

  def local(threads: Int = 4): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
    staticTuning.foreach { case (k, v) => b.config(k, v) }
    tuning.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerFunctions(spark)
    spark
  }

  /** Apply graft tuning to an externally created session (driver mains). */
  def tune(spark: SparkSession): SparkSession = {
    tuning.foreach { case (k, v) => spark.conf.set(k, v) }
    registerFunctions(spark)
    spark
  }

  /** Register graft's native Catalyst expressions (idempotent). Done at
    * runtime rather than via SparkSessionExtensions so externally built
    * sessions (the driver's Verify/Bench mains) get them too.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[graft.plans.DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => graft.plans.DotProduct(children(0), children(1)),
    )
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_dotl"),
      new ExpressionInfo(classOf[graft.plans.LongDotProduct].getName, "graft_dotl"),
      (children: Seq[Expression]) => graft.plans.LongDotProduct(children(0), children(1)),
    )
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[graft.plans.ShingleArray].getName, "graft_shingles"),
      (children: Seq[Expression]) => graft.plans.ShingleArray(children(0), children(1)),
    )
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[graft.plans.NormalizeString].getName, "graft_normalize"),
      (children: Seq[Expression]) => graft.plans.NormalizeString(children(0), children(1)),
    )
    spark.udf.register(
      "graft_wavg",
      org.apache.spark.sql.functions.udaf(new graft.functions.WeightedAvg),
    )
    spark.udf.register(
      "graft_top3",
      org.apache.spark.sql.functions.udaf(new graft.functions.TopK(3)),
    )
    spark.udf.register(
      "graft_mg8",
      org.apache.spark.sql.functions.udaf(new graft.functions.HeavyHitters(8)),
    )
  }
}
