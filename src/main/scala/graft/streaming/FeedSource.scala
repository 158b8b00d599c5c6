package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** A [[FeedSink]] feed's `batch_id=<id>` partitions for a given set of
  * batch ids, as a [[FileIndex]]. The caller names the partitions, so
  * Spark infers no partition values and never lists the feed root (past
  * 32 directories that listing is a Spark job). Each named directory is
  * listed on the driver when the index is built, as Spark's own file
  * index lists its paths; an id without a directory (an empty
  * micro-batch, or a batch FORGET KEY emptied) contributes no files.
  */
private[streaming] final class FeedFileIndex(spark: SparkSession, feedDir: String,
    batches: Seq[Long]) extends FileIndex {

  private val (fs, root) = IndexStoreOps.storeFs(spark, feedDir)
  private def dir(b: Long) = new Path(root, s"batch_id=$b")

  override val partitionSchema: StructType = StructType(Seq(StructField("batch_id", LongType)))

  override def rootPaths: Seq[Path] = batches.map(dir)

  private def list(): Seq[PartitionDirectory] = batches.flatMap { b =>
    val files =
      try fs.listStatus(dir(b)).filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    if (files.isEmpty) None else Some(PartitionDirectory(InternalRow(b), files))
  }

  @volatile private var partitions = list()

  /** Partition filters are not re-applied after the scan, so they are
    * evaluated here against each batch id.
    */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    partitionFilters.reduceOption(And) match {
      case None => partitions
      case Some(f) =>
        val p = Predicate.createInterpreted(f.transform {
          case _: AttributeReference => BoundReference(0, LongType, nullable = true)
        })
        partitions.filter(d => p.eval(d.values))
    }

  override def inputFiles: Array[String] =
    partitions.flatMap(_.files.map(_.getPath.toString)).toArray

  override def refresh(): Unit = partitions = list()

  override def sizeInBytes: Long = partitions.flatMap(_.files).map(_.getLen).sum
}

/** The streaming read of a [[FeedSink]] feed. Its offset is the highest
  * batch id whose commit marker exists, so an idle poll is one listing of
  * `_graft_commits`, and the micro-batch for offsets (start, end] reads
  * exactly the committed batches in that range. A batch is delivered once
  * its marker lands and never again: a crash-replayed upstream batch
  * re-stamps an id the reader has already passed.
  *
  * A checkpoint begun on the earlier file-source reader stores
  * `{"logOffset":N}` for this source. Such an offset resumes at the
  * highest upstream batch id that the old reader's log (`metadataPath`,
  * its entries 0..N) had delivered, so the resumed view reads only what
  * was committed after it stopped.
  */
private[streaming] final class FeedSource(spark: SparkSession, feedDir: String, metadataPath: String) extends Source {

  override def schema: StructType = FeedSink.feedSchema

  override def getOffset: Option[Offset] =
    FeedSink.committedBatches(feedDir).maxOption.map(LongOffset(_))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val (from, to) = (start.map(batchOf).getOrElse(-1L), batchOf(end))
    FeedSink.readBatches(spark, feedDir,
      FeedSink.committedBatches(feedDir).filter(b => b > from && b <= to), streaming = true)
  }

  private def batchOf(o: Offset): Long = o match {
    case LongOffset(b) => b
    case SerializedOffset(json) => json.trim.toLongOption.getOrElse(
      FeedSource.LegacyOffset.findFirstMatchIn(json)
        .map(m => FeedSource.legacyBatch(spark, metadataPath, m.group(1).toLong))
        .getOrElse(throw new IllegalArgumentException(s"not a feed offset: $json")))
  }

  override def stop(): Unit = ()

  override def toString: String = s"FeedSource[$feedDir]"
}

object FeedSource {
  private val LegacyOffset = """"logOffset"\s*:\s*(-?\d+)""".r
  private val LogFile = """(\d+)(\.compact)?""".r
  private val BatchDir = """batch_id=(\d+)/""".r

  /** The highest feed batch id named in the old file-source log at
    * `sourceLog` up to log entry `logOffset` (-1 if none). A compacted
    * log file `<n>.compact` repeats every entry up to `n`, so reading
    * every file at or below `logOffset` sees them all.
    */
  private[streaming] def legacyBatch(spark: SparkSession, sourceLog: String, logOffset: Long): Long = {
    val (fs, dir) = IndexStoreOps.storeFs(spark, sourceLog)
    val logs = if (!fs.exists(dir)) Array.empty[Path] else fs.listStatus(dir).map(_.getPath).filter {
      p => p.getName match {
        case LogFile(n, _) => n.toLong <= logOffset
        case _             => false
      }
    }
    logs.flatMap { p =>
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      BatchDir.findAllMatchIn(text).map(_.group(1).toLong)
    }.maxOption.getOrElse(-1L)
  }
}

/** `spark.readStream.format(classOf[FeedSourceProvider].getName).load(feedDir)`
  * — the provider behind [[FeedSink.readChangeFeed]].
  */
class FeedSourceProvider extends StreamSourceProvider {
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (s"FeedSource[${parameters("path")}]", FeedSink.feedSchema)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new FeedSource(sqlContext.sparkSession, parameters("path"), metadataPath)
}
