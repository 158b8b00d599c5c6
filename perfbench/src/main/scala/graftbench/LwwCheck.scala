package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.streaming.{CdcMaterializer, Change, ChangeFeed}

/** `LwwCheck <feedDir> <out.jsonl>`: fold every change file under
  * `feedDir` with `CdcMaterializer` and write the live keys' final
  * payloads, one `{"key":k,"payload":{...}}` line each, so the
  * generator's own LWW fold can be checked against the engine's.
  */
object LwwCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(2)
    import spark.implicits._
    try {
      val changes = spark.read.schema(ChangeFeed.schema).json(s"${args(0)}/*.json").as[Change]
      val live = CdcMaterializer.materialize(changes).filter(!_.deleted).collect()
      val lines = live.sortBy(_.key).map { s =>
        s"""{"key":${s.key},"payload":${Json.obj(s.payload)}}"""
      }
      Files.write(Paths.get(args(1)), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
