package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Order statistics over one run's samples. */
object Stats {
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def ms(nanos: Long): Double = nanos / 1e6
}

/** In-memory spans, recorded around the benchmark's calls into graft's
  * public functions; counters come from [[ExecListener]], the streaming
  * progress events and the stores' file census. One client thread, so the
  * open-span stack gives each span its parent. Off, `span` only runs the
  * body.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Long)

  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  /** Traced runs may switch recording off for a stretch (overhead A/B). */
  var on: Boolean = enabled

  def span[T](name: String, op: Long)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.getOrElse(0)
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        open.pop()
        done += Span(id, name, t0, System.nanoTime(), parent, op)
      }
    }

  /** Durations (ms) of every closed span named `name`. */
  def durations(name: String): Seq[Double] =
    done.iterator.filter(_.name == name).map(s => Stats.ms(s.endNs - s.startNs)).toSeq
}

/** Executor-side counters from Spark's own task metrics. `reset` opens a
  * window; read the window after [[org.apache.spark.graftbench.Bus.drain]].
  */
final class ExecListener extends SparkListener {
  var cpuNs, gcMs, shuffleRead, shuffleWrite, spill, tasks, stages, jobs = 0L
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  def reset(): Unit = synchronized {
    cpuNs = 0; gcMs = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0
    tasks = 0; stages = 0; jobs = 0
    stageTaskMs.clear()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobs += 1 }

  /** The largest max/median task run time over stages of at least two
    * tasks whose median is at least 1 ms (1.0 when none qualify). */
  def taskSkew: Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= 2).flatMap { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med >= 1.0) Some(ts.max / med) else None
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def snapshot(prefix: String = "exec."): Seq[(String, Double, String)] = synchronized {
    Seq(
      (prefix + "cpu_ms", cpuNs / 1e6, "ms"),
      (prefix + "gc_ms", gcMs.toDouble, "ms"),
      (prefix + "shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
      (prefix + "shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
      (prefix + "spill_bytes", spill.toDouble, "bytes"),
      (prefix + "tasks", tasks.toDouble, "count"),
      (prefix + "stages", stages.toDouble, "count"),
      (prefix + "jobs", jobs.toDouble, "count"),
      (prefix + "task_skew", taskSkew, "ratio"))
  }
}
