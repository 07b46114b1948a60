package graft.sstable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The scan shared by the two file-set sources (`sstable`, `aegjson`).
  * A source supplies its file listing, the planning of a set of files
  * into input partitions, and its reader factory; the batch scan plans
  * the listing once, the stream ([[FileSetStream]]) plans slices of it
  * with the same planner. Options (keys arrive lowercased):
  * `blocksize` (bytes per split, default 64 MiB) and
  * `maxFilesPerTrigger` (files per micro-batch, default all). */
abstract class FileSetScan(options: Map[String, String], required: StructType)
    extends Scan with Batch with SupportsReportStatistics {

  /** the session's Hadoop conf, for the driver and the tasks: a bare
    * `new Configuration()` would drop spark.hadoop.* settings
    * (credentials, endpoints). */
  protected val hconf = new SerializableConfiguration(
    SparkSession.active.sessionState.newHadoopConf())

  protected val blocksize: Long =
    options.getOrElse("blocksize", (64L * 1024 * 1024).toString).toLong

  protected def listFiles(): Seq[(FileSystem, FileStatus)]
  protected def plan(files: Seq[(FileSystem, FileStatus)]): Array[InputPartition]
  /** the input bytes one planned partition covers (statistics). */
  protected def partitionBytes(p: InputPartition): Long
  /** the files the batch scan reads: the listing, unless pruned. */
  protected def batchFiles(): Seq[(FileSystem, FileStatus)] = listFiles()

  /** Glob-expand each `path`/`paths` root, then list what `under`
    * finds there. */
  protected def listRoots(sourceName: String)(
      under: (FileSystem, FileStatus) => Seq[FileStatus]): Seq[(FileSystem, FileStatus)] =
    SSTableSource.optionPaths(options, sourceName).flatMap { p =>
      val root = new Path(p)
      val fs = root.getFileSystem(hconf.value)
      val matched = fs.globStatus(root)
      require(matched != null && matched.nonEmpty, s"Path not found: $root")
      matched.toSeq.flatMap(under(fs, _)).map(st => (fs, st))
    }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = planned

  // cached: statistics and execution pay the listing and sidecar reads once
  private lazy val planned: Array[InputPartition] = plan(batchFiles())

  /** planned input bytes, so Catalyst can broadcast a small table into
    * a join instead of assuming `Long.MaxValue`. */
  override def estimateStatistics(): Statistics = {
    val total = planned.iterator.map(partitionBytes).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(total)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FileSetStream(() => listFiles(), plan, createReaderFactory(),
      options.get("maxfilespertrigger").map(_.toInt))
}

/** Micro-batches over an APPEND-ONLY file set. The offset counts the
  * listed files ordered by (modification time, path): files are
  * immutable and new ones land later (Cassandra's flush contract), so
  * the first N files stay the same across listings and `[start, end)`
  * names a fixed batch of new files. `maxFilesPerTrigger` caps how many
  * files one batch admits. */
final class FileSetStream(
    listFiles: () => Seq[(FileSystem, FileStatus)],
    plan: Seq[(FileSystem, FileStatus)] => Array[InputPartition],
    readerFactory: PartitionReaderFactory,
    maxFilesPerTrigger: Option[Int])
    extends MicroBatchStream with SupportsAdmissionControl {

  private case class FileCount(n: Int) extends Offset {
    override def json(): String = s"""{"n":$n}"""
  }

  private def listSorted(): Seq[(FileSystem, FileStatus)] =
    listFiles().sortBy { case (_, st) => (st.getModificationTime, st.getPath.toString) }

  private def count(o: Offset): Int = o.asInstanceOf[FileCount].n

  override def initialOffset(): Offset = FileCount(0)
  override def latestOffset(): Offset = FileCount(listSorted().size)
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.fold(ReadLimit.allAvailable())(n => ReadLimit.maxFiles(n))
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = limit match {
    case m: ReadMaxFiles => FileCount(math.min(listSorted().size, count(start) + m.maxFiles))
    case _ => latestOffset()
  }
  override def deserializeOffset(json: String): Offset =
    FileCount(raw"""\{"n":(\d+)\}""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(s"bad file-set offset: $json")))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    plan(listSorted().slice(count(start), count(end)))

  override def createReaderFactory(): PartitionReaderFactory = readerFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
