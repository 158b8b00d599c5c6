package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{FileSystemException, Files, Path => NioPath}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileStatus,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Every streaming checkpoint file (offset, commit and source logs,
  * state-store deltas and snapshots, Spark's checkpoint checksum files)
  * goes through this manager; `GraftSession.tuning` registers it as
  * `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * Without Hadoop's NativeIO, the local file system forks `chmod` on
  * every create, and FileContext forks `readlink` on every rename. A
  * micro-batch publishes one delta per stateful operator per partition,
  * plus log entries, so those forks dominate a local commit. On a local
  * path this manager writes the temp file with java.nio and publishes
  * it with one rename, so no process is forked and no Hadoop `.crc`
  * sidecar is written. Spark's own checksum files still guard state
  * files. Every other scheme goes to the manager Spark would pick
  * itself, unchanged.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {

  private val raw: Option[RawLocalFileSystem] = fs match {
    case l: LocalFileSystem => Option(l.getRawFileSystem).collect { case r: RawLocalFileSystem => r }
    case r: RawLocalFileSystem => Some(r)
    case _ => None
  }

  /** Spark's choice for a non-local path (`CheckpointFileManager.create`
    * without the class conf): FileContext, or FileSystem when the scheme
    * has no AbstractFileSystem.
    */
  private[streaming] val remote: Option[CheckpointFileManager] =
    if (raw.isDefined) None
    else Some(
      try new FileContextBasedCheckpointFileManager(path, conf)
      catch { case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf) })

  private def local(p: Path): NioPath = raw.get.pathToFile(p).toPath
  /** Where Hadoop's checksummed local FS keeps a file's checksum. */
  private def crc(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    remote.fold(super.createAtomic(p, overwriteIfPossible))(_.createAtomic(p, overwriteIfPossible))

  override def createTempFile(p: Path): FSDataOutputStream = {
    val f = local(p)
    Files.createDirectories(f.getParent)
    new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f, CREATE_NEW, WRITE), 64 << 10), null)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
    val (s, d) = (local(src), local(dst))
    def lost(): Nothing = {
      Files.deleteIfExists(s)
      throw new FileAlreadyExistsException(s"Failed to rename $src to $dst as destination already exists")
    }
    if (overwriteIfPossible) {
      // an earlier Hadoop writer's sidecar would fail checksummed reads of
      // the new bytes; dropping it first leaves no window where it lies
      Files.deleteIfExists(crc(d))
      Files.move(s, d, ATOMIC_MOVE)
    } else {
      // link(2) fails atomically when the destination exists
      try Files.createLink(d, s)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => lost()
        case _: UnsupportedOperationException | _: FileSystemException =>
          // no hard links on this volume: check, then rename
          if (Files.exists(d)) lost() else Files.move(s, d, ATOMIC_MOVE)
      }
      Files.deleteIfExists(s)
    }
  }

  override def open(p: Path): FSDataInputStream = remote.fold(raw.get.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    remote.fold(super.list(p, filter))(_.list(p, filter))

  override def mkdirs(p: Path): Unit = remote.fold(Files.createDirectories(local(p)): Unit)(_.mkdirs(p))

  override def exists(p: Path): Boolean = remote.fold(super.exists(p))(_.exists(p))

  override def delete(p: Path): Unit = remote.fold {
    val f = local(p)
    if (Files.isDirectory(f)) super.delete(p)
    else { Files.deleteIfExists(f); Files.deleteIfExists(crc(f)): Unit }
  }(_.delete(p))

  override def isLocal: Boolean = remote.fold(super.isLocal)(_.isLocal)

  override def createCheckpointDirectory(): Path = remote.fold {
    val q = fs.makeQualified(path)
    mkdirs(q)
    q
  }(_.createCheckpointDirectory())

  override def close(): Unit = remote.foreach(_.close())
}
