package graftbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  SortMergeJoinExec}

import graft.SparkEntry
import graft.sources.Tables

/** snapshot-mix: one client runs a fixed mix of `SparkEntry.queries`
  * one at a time over the generated snapshot tables, each forced with
  * `queryExecution.toRdd`, every pass in a seeded order.
  */
object SnapshotMix {
  /** (query, the operator module it exercises). */
  val mix: Seq[(String, String)] = Seq(
    "q01_filter_project" -> "relational",
    "q21_cdc_latest_state" -> "temporal",
    "q84_triangle_stats" -> "relational",
    "q150_weighted_median" -> "relational",
    "t25_char_entropy" -> "text",
    "s08_knn_join" -> "similarity",
    "d03_dedup_minhash_lsh" -> "dedup",
    "d09_fuzzy_match" -> "dedup",
    "d15_substring_dedup" -> "dedup")
  /** Cheap, planning-bound controls: their latency is `read_p50_ms`.
    * Besides their place in the mix, each runs `controlRepeats` more times
    * after every pass. */
  val controls = Set("q01_filter_project", "q21_cdc_latest_state")
  val controlRepeats = 3
  val tables = Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region",
    "events", "documents", "embeddings")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.result
    val tr = ctx.tracer
    val dir = ctx.inputs

    // set-up: warm the table scans, then run the mix `warm` times. The
    // first warm pass writes every result for the correctness gate.
    val t0 = System.nanoTime()
    tables.foreach(t => Tables.table(spark, dir, t).queryExecution.toRdd.count())
    res.layer("sources.warm_load_ms", Stats.ms(System.nanoTime() - t0), "ms")
    res.layer("sources.input_bytes", tables.map(t =>
      java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/$t.parquet")).toDouble).sum, "bytes")
    val tw = System.nanoTime()
    val warm = ctx.warm
    val results = s"${ctx.work}/results"
    val warmMs = for (pass <- 0 until warm) yield {
      val t = System.nanoTime()
      order(ctx.seed, -1 - pass).foreach { case (q, _) =>
        val df = SparkEntry.queries(q)(spark, dir)
        if (pass == 0) df.write.parquet(s"$results/$q") else df.queryExecution.toRdd.count()
      }
      Stats.ms(System.nanoTime() - t)
    }
    res.notes("warm_pass_ms") = warmMs.map(_.round).mkString(",")
    res.layer("setup.warm_ms", Stats.ms(System.nanoTime() - tw), "ms")
    val oracle = mix.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$results/oracle_sql.json"),
      Json.obj(oracle).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    res.setupEndMs = System.currentTimeMillis()

    // measured phase: closed loop, one query at a time
    val lat = mutable.ArrayBuffer.empty[Double]
    val ctl = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passMs = Seq(mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
    var done = 0L
    var controlS = 0.0
    ctx.exec.foreach(_.reset())
    // whole passes only, so every run measures the same query composition
    val elapsed = Main.closedLoop(ctx.seconds) { pass =>
      // traced runs alternate traced and untraced passes: the gap
      // between the two is the tracing overhead
      tr.on = tr.enabled && pass % 2 == 0
      val passStart = System.nanoTime()
      order(ctx.seed, pass).zipWithIndex.foreach { case ((q, module), j) =>
        val i = pass * mix.size + j
        val sample = mutable.ArrayBuffer.empty[Double]
        val ok = res.op(sample) {
          tr.span(s"operators.$module", i) {
            val df = tr.span("operators.plan", i) {
              val d = SparkEntry.queries(q)(spark, dir)
              d.queryExecution.executedPlan
              d
            }
            tr.span("operators.exec", i)(df.queryExecution.toRdd.count())
          }
        }
        if (ok) done += 1
        lat ++= sample
        if (tr.on) perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) ++= sample
      }
      passMs(pass % 2) += Stats.ms(System.nanoTime() - passStart)
      // the controls again, outside the mix, so read_p50_ms rests on
      // enough samples; their time is kept out of the throughput
      val tc = System.nanoTime()
      for (_ <- 1 to controlRepeats; q <- controls.toSeq.sorted)
        res.op(ctl)(SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count())
      controlS += (System.nanoTime() - tc) / 1e9
      true
    } - controlS
    tr.on = tr.enabled

    res.metric("throughput_per_s", done / elapsed, "1/s")
    res.metric("latency_p50_ms", Stats.median(lat.toSeq), "ms")
    res.metric("latency_tail_ms", Stats.quantile(lat.toSeq, tailP), "ms")
    res.metric("read_p50_ms", Stats.median(ctl.toSeq), "ms")
    res.notes("samples") = lat.size.toString
    res.notes("passes") = f"${lat.size.toDouble / mix.size}%.2f"
    res.notes("pass_ms") = passMs.flatten.map(_.round).mkString(",")

    if (tr.enabled) {
      Seq("relational", "temporal", "dedup", "similarity", "text").foreach { m =>
        res.layer(s"operators.$m.ms", Stats.median(tr.durations(s"operators.$m")), "ms")
      }
      res.layer("operators.plan_ms", Stats.median(tr.durations("operators.plan")), "ms")
      res.layer("operators.exec_ms", Stats.median(tr.durations("operators.exec")), "ms")
      mix.foreach { case (q, _) =>
        res.layer(s"query.$q.p50_ms", Stats.median(perQuery.getOrElse(q, Nil).toSeq), "ms")
      }
      traceOverhead(res, passMs(0).toSeq, passMs(1).toSeq)
      // drift-free counters: one census pass in the fixed mix order
      ctx.exec.foreach(_.reset())
      val census = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      mix.foreach { case (q, _) =>
        val df = SparkEntry.queries(q)(spark, dir)
        df.queryExecution.toRdd.count()
        planCounts(df.queryExecution.executedPlan).foreach { case (k, v) => census(k) += v }
      }
      Main.readExec(ctx, 1.0)
      Seq("fallback_nodes", "exchanges", "sort_merge_joins", "broadcast_joins").foreach { k =>
        res.layer(s"plans.$k", census(k), "count")
      }
    }
  }

  /** The tail percentile reported as `latency_tail_ms`. A 10 s run
    * measures two to four whole passes (18-36 queries); see README.md. */
  val tailP = 0.67

  /** The mix in the seeded order of `pass`. */
  def order(seed: Long, pass: Int): Seq[(String, String)] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(mix)

  def traceOverhead(res: Result, traced: Seq[Double], plain: Seq[Double]): Unit =
    res.layer("trace.overhead_pct",
      if (traced.isEmpty || plain.isEmpty) 0.0
      else (Stats.median(traced) / Stats.median(plain) - 1) * 100, "%")

  /** Operator counts of one executed (adaptive, final) plan. */
  def planCounts(plan: SparkPlan): Map[String, Double] = {
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ =>
        p match {
          case _: ShuffleExchangeExec => c("exchanges") += 1
          case _: SortMergeJoinExec => c("sort_merge_joins") += 1
          case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => c("broadcast_joins") += 1
          case _ =>
        }
        c("fallback_nodes") += p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    c.toMap
  }
}
