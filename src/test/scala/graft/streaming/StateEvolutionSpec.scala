package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

import graft.SparkSpec

/** V1 of an evolving per-key state: LWW cursor + running total. */
case class EvoStateV1(tsUs: Long, seq: Long, total: Double)

/** V2 adds a field: changes applied SINCE the v2 upgrade. Option[Long]
  * → Avro nullable-with-null-default, the evolution-compatible shape
  * (a pre-upgrade state row decodes with None here).
  */
case class EvoStateV2(tsUs: Long, seq: Long, total: Double, nChanges: Option[Long])

case class EvoOut(key: Long, total: Double, nChanges: Long)

class EvoProcessorV1 extends StatefulProcessor[Long, Change, EvoOut] {
  @transient private var state: ValueState[EvoStateV1] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState("evo", Encoders.product[EvoStateV1], TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[Change], timers: TimerValues): Iterator[EvoOut] = {
    var cur = if (state.exists()) state.get() else EvoStateV1(Long.MinValue, Long.MinValue, 0.0)
    rows.toSeq.sortBy(c => (CdcMaterializer.micros(c.ts), c.seq)).foreach { c =>
      cur = EvoStateV1(CdcMaterializer.micros(c.ts), c.seq,
        cur.total + c.payload.getOrElse("v", "0").toDouble)
    }
    state.update(cur)
    Iterator.single(EvoOut(key, cur.total, -1L))
  }
}

class EvoProcessorV2 extends StatefulProcessor[Long, Change, EvoOut] {
  @transient private var state: ValueState[EvoStateV2] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState("evo", Encoders.product[EvoStateV2], TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[Change], timers: TimerValues): Iterator[EvoOut] = {
    var cur = if (state.exists()) state.get() else EvoStateV2(Long.MinValue, Long.MinValue, 0.0, None)
    rows.toSeq.sortBy(c => (CdcMaterializer.micros(c.ts), c.seq)).foreach { c =>
      cur = EvoStateV2(CdcMaterializer.micros(c.ts), c.seq,
        cur.total + c.payload.getOrElse("v", "0").toDouble,
        Some(cur.nChanges.getOrElse(0L) + 1L))
    }
    state.update(cur)
    Iterator.single(EvoOut(key, cur.total, cur.nChanges.getOrElse(0L)))
  }
}

/** #149: the operational upgrade story — a transformWithState checkpoint
  * must survive ADDING a field to the state case class. Requires the
  * Avro state encoding (`spark.sql.streaming.stateStore.encodingFormat
  * = avro`; the default unsaferow encoding is byte-layout-rigid by
  * design) and the RocksDB provider transformWithState already
  * mandates. The v2 run resumes the SAME checkpoint with the evolved
  * schema: pre-upgrade rows decode with the new field at its null
  * default, and the fold continues on the pre-restart totals.
  */
class StateEvolutionSpec extends SparkSpec {

  private def ts(minutes: Int): Timestamp = new Timestamp(1700000000000L + minutes * 60000L)

  private def tmp(prefix: String): String = {
    val base = new java.io.File("target/streaming-tmp").toPath.toAbsolutePath
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix).toString
  }

  private def withEvolvableState[A](body: => A): A = {
    val confs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.encodingFormat" -> "avro",
    )
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("#149 checkpoint survives adding a state field: v1 rows decode into v2 with the default, fold continues") {
    withEvolvableState {
      import spark.implicits._
      val srcDir = tmp("evosrc")
      val ck     = tmp("evock")
      val outDir = tmp("evoout")
      def iso(minutes: Int): String =
        java.time.Instant.ofEpochMilli(ts(minutes).getTime).toString
      def writeFile(name: String, rows: Seq[(String, Long, Long, String)]): Unit =
        Files.write(
          java.nio.file.Paths.get(srcDir, name),
          rows.map { case (t, k, s, v) =>
            s"""{"op":"update","key":$k,"ts":"$t","payload":{"v":"$v"},"seq":$s}"""
          }.mkString("\n").getBytes("UTF-8"))
      def run(mk: Dataset[Change] => Dataset[EvoOut]): Unit = {
        val q = mk(ChangeFeed.readJsonDir(spark, srcDir).as[Change])
          .toDF()
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            df.withColumn("batch_id", lit(id)).write.mode("append").parquet(outDir)
          }
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", ck)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      implicit val outEnc: org.apache.spark.sql.Encoder[EvoOut] = Encoders.product[EvoOut]
      // deployment 1: v1 state schema
      writeFile("f1.json", Seq((iso(0), 1L, 1L, "10.0"), (iso(1), 2L, 2L, "5.0")))
      run(_.groupByKey(_.key).transformWithState(new EvoProcessorV1, TimeMode.None(), OutputMode.Update()))
      // deployment 2: SAME checkpoint, state class gained nChanges
      writeFile("f2.json", Seq((iso(10), 1L, 3L, "2.5"), (iso(11), 3L, 4L, "1.0")))
      run(_.groupByKey(_.key).transformWithState(new EvoProcessorV2, TimeMode.None(), OutputMode.Update()))
      val rows = spark.read.parquet(outDir).collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("key"),
          r.getAs[Double]("total"), r.getAs[Long]("nChanges")))
      val lastByKey = rows.groupBy(_._2).map { case (k, vs) => k -> vs.maxBy(_._1) }
      // key 1: pre-restart total 10.0 SURVIVED the schema change and the
      // new 2.5 folded onto it; nChanges counts post-upgrade changes only
      assert(lastByKey(1L)._3 == 12.5,
        s"v1 state must decode into v2 and keep folding: ${lastByKey(1L)}")
      assert(lastByKey(1L)._4 == 1L, s"evolved field starts from its default: ${lastByKey(1L)}")
      // key 3 is born post-upgrade: counter starts at 0 + 1
      assert(lastByKey(3L)._3 == 1.0 && lastByKey(3L)._4 == 1L)
      // key 2 saw no post-upgrade change: its last row is the v1 emission
      assert(lastByKey(2L)._3 == 5.0 && lastByKey(2L)._4 == -1L)
    }
  }
}
