package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, FileSystem, FilterFileSystem,
  Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** A scheme Hadoop does not treat as local: a FilterFileSystem over a raw
  * local FS that answers to `graftremote://`.
  */
class GraftRemoteTestFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("graftremote:///")
})

/** The same scheme for FileContext, which Spark's default manager uses. */
class GraftRemoteTestAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRemoteTestFs, conf, "graftremote", false)

/** Semantics of [[LocalCheckpointFileManager]]: the publish contract every
  * streaming checkpoint file relies on, on local paths and on a scheme
  * that must stay on Spark's own manager.
  */
class CheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def tmp(prefix: String): java.nio.file.Path = {
    val root = new java.io.File("target/streaming-tmp").toPath.toAbsolutePath
    Files.createDirectories(root)
    Files.createTempDirectory(root, prefix)
  }

  private def names(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic publishes the whole file only on close; cancel leaves no temp file") {
    val dir = tmp("cfm_atomic")
    val fm = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
    assert(fm.isLocal && fm.remote.isEmpty)
    val target = new Path(dir.resolve("state/0/1.delta").toUri)
    val bytes = Array.tabulate[Byte](300000)(i => (i * 31 + i / 7).toByte) // spans several buffers
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write(bytes)
    assert(!fm.exists(target), "a half-written file must not be visible")
    out.close()
    val in = fm.open(target)
    try assert(in.readAllBytes().sameElements(bytes), "published bytes differ") finally in.close()
    val stateDir = dir.resolve("state/0")
    assert(names(stateDir) == Seq("1.delta"), s"temp file or Hadoop sidecar left: ${names(stateDir)}")

    val cancelled = fm.createAtomic(new Path(stateDir.resolve("2.delta").toUri), overwriteIfPossible = true)
    cancelled.write(bytes)
    cancelled.cancel()
    assert(names(stateDir) == Seq("1.delta"), s"cancel must leave nothing behind: ${names(stateDir)}")
    assert(fm.list(new Path(stateDir.toUri)).map(_.getPath.getName).toSeq == Seq("1.delta"))
  }

  test("no-overwrite publish onto an existing file throws FileAlreadyExistsException; overwrite replaces it") {
    val dir = tmp("cfm_publish")
    val p = new Path(dir.resolve("offsets/7").toUri)
    // written by Spark's default manager, through Hadoop's checksummed
    // local FS: the file gets a `.7.crc` sidecar
    val sparkDefault = new FileContextBasedCheckpointFileManager(p, conf)
    sparkDefault.mkdirs(p.getParent)
    write(sparkDefault, p, "v1", overwrite = false)
    val sidecar = dir.resolve("offsets/.7.crc")
    assert(Files.exists(sidecar), s"expected a Hadoop sidecar: ${names(dir.resolve("offsets"))}")

    val fm = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
    intercept[FileAlreadyExistsException](write(fm, p, "v2 longer", overwrite = false))
    assert(read(FileSystem.getLocal(conf), p) == "v1", "a lost publish must not touch the file")
    assert(names(dir.resolve("offsets")) == Seq(".7.crc", "7"), "a lost publish must leave no temp file")
    assert(fm.list(new Path(dir.resolve("offsets").toUri)).map(_.getPath.getName).toSeq == Seq("7"),
      "list must hide Hadoop sidecars")

    write(fm, p, "v3 replaces it", overwrite = true)
    assert(!Files.exists(sidecar), "overwrite must drop the stale sidecar")
    // Hadoop's checksummed reader (Spark's default manager) still reads it
    assert(read(FileSystem.getLocal(conf), p) == "v3 replaces it")
    assert(read(FileSystem.getLocal(conf).getRawFileSystem, p) == "v3 replaces it")

    Files.write(sidecar, Array[Byte](1, 2, 3))
    fm.delete(p)
    assert(names(dir.resolve("offsets")).isEmpty, "delete must also remove the sidecar")
    fm.delete(p) // deleting a missing file is a no-op, as in Spark's managers
  }

  test("a non-local scheme goes to Spark's FileContext manager") {
    val remoteConf = new Configuration()
    remoteConf.set("fs.graftremote.impl", classOf[GraftRemoteTestFs].getName)
    remoteConf.set("fs.graftremote.impl.disable.cache", "true")
    remoteConf.set("fs.AbstractFileSystem.graftremote.impl", classOf[GraftRemoteTestAfs].getName)
    val dir = tmp("cfm_remote")
    val root = new Path(s"graftremote://${dir.toAbsolutePath}")
    val fm = new LocalCheckpointFileManager(root, remoteConf)
    assert(!fm.isLocal)
    assert(fm.remote.map(_.getClass).contains(classOf[FileContextBasedCheckpointFileManager]),
      s"delegate: ${fm.remote}")
    val p = new Path(root, "commits/0")
    fm.mkdirs(p.getParent)
    write(fm, p, "remote", overwrite = false)
    assert(fm.exists(p))
    val in = fm.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "remote") finally in.close()
    assert(names(dir.resolve("commits")).contains("0"))
    intercept[FileAlreadyExistsException](write(fm, p, "again", overwrite = false))
    fm.delete(p)
    assert(!fm.exists(p))
  }

  test("graft sessions register the manager for every checkpoint and keep Spark's checkpoint checksums") {
    val spark = graft.TestSpark.spark
    val fm = CheckpointFileManager.create(
      new Path(tmp("cfm_session").toUri), spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[LocalCheckpointFileManager], s"session manager: ${fm.getClass}")
    assert(spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true")
  }
}
