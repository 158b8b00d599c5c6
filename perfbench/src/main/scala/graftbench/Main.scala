package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one workload run reports back to run.py. Operations are counted
  * as attempted/failed; a failed operation's latency is +inf, so it misses
  * every latency limit.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  var setupEndMs = 0L
  val checks: mutable.Map[String, Boolean] = mutable.LinkedHashMap.empty
  val e2e: mutable.Map[String, (Double, String)] = mutable.LinkedHashMap.empty
  val layers: mutable.Map[String, (Double, String)] = mutable.LinkedHashMap.empty
  val notes: mutable.Map[String, String] = mutable.LinkedHashMap.empty

  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def metric(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)

  /** Time one operation; a throw counts it failed and records +inf. */
  def op(samples: mutable.Buffer[Double])(body: => Unit): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] operation failed: $e")
        e.printStackTrace()
        false
    }
    if (ok) samples += Stats.ms(System.nanoTime() - t0)
    else { failed += 1; samples += Double.PositiveInfinity }
    ok
  }

  import Json.{num, str}
  private def metrics(m: mutable.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")

  def json: String =
    s"""{"attempted":$attempted,"failed":$failed,"setup_end_ms":$setupEndMs,""" +
      s""""checks":${checks.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")},""" +
      s""""e2e":${metrics(e2e)},"layers":${metrics(layers)},""" +
      s""""notes":${notes.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")}}"""
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
}

/** Everything a workload needs: the session, its inputs, the clock. */
final case class Ctx(spark: SparkSession, inputs: String, work: String, seconds: Double,
    seed: Long, warm: Int, tracer: Tracer, exec: Option[ExecListener], result: Result)

/** `Main --workload <name> --inputs <dir> --work <dir> --seconds <s>
  *  --seed <n> --trace <0|1> --warm <steps> --out <result.json>`
  *
  * Runs one closed-loop workload in a fresh local[nproc] session and
  * writes the run's [[Result]] as JSON to `--out`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts.get("trace").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()
    val result = new Result
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(cores)
    result.layer("setup.session_ms", (System.currentTimeMillis() - jvmStart).toDouble, "ms")
    val exec = if (trace) {
      val l = new ExecListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = Ctx(spark, opts("inputs"), opts("work"), opts("seconds").toDouble,
      opts.get("seed").map(_.toLong).getOrElse(1L), opts("warm").toInt,
      new Tracer(trace), exec, result)
    try workload match {
      case "snapshot-mix"     => SnapshotMix.run(ctx)
      case "changefeed-views" =>
        ChangefeedViews.run(ctx)
        if (trace) indexLayers(ctx)
      case "live-index-churn" => LiveIndexChurn.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      Files.write(Paths.get(opts("out")), result.json.getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  /** The live-index layers are traced inside changefeed-views: a short
    * live-index-churn pass over the same session (its own inputs, store
    * roots and checks) whose `index.*` numbers join the traced result. */
  def indexLayers(ctx: Ctx): Unit = {
    val sub = new Result
    LiveIndexChurn.run(ctx.copy(inputs = s"${ctx.inputs}/churn", work = s"${ctx.work}/churn",
      seconds = 1, warm = 0, result = sub))
    sub.layers.foreach { case (k, v) => if (k.startsWith("index.")) ctx.result.layers(k) = v }
    sub.checks.foreach { case (k, v) => ctx.result.checks(s"index_$k") = v }
    ctx.result.attempted += sub.attempted
    ctx.result.failed += sub.failed
  }

  /** Run `step` closed-loop until `seconds` have passed; returns the
    * measured wall time in seconds. The step in flight at the deadline
    * completes and is counted. */
  def closedLoop(seconds: Double)(step: Int => Boolean): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    var more = true
    while (more && System.nanoTime() < deadline) {
      more = step(i)
      i += 1
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Drain the listener bus and read the exec counters into `result`. */
  def readExec(ctx: Ctx, perStep: Double): Unit = ctx.exec.foreach { l =>
    org.apache.spark.graftbench.Bus.drain(ctx.spark.sparkContext)
    l.snapshot().foreach { case (k, v, u) =>
      val scaled = if (k.endsWith("task_skew")) v else v / math.max(perStep, 1.0)
      ctx.result.layer(k, scaled, u)
    }
  }
}
