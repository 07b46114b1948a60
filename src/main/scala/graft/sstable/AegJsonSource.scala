package graft.sstable

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.Text
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 reader for aeg-JSON output dirs
  * (`spark.read.format("aegjson").load(dir)`) — the Pig-loader
  * replacement (SURVEY §3.3; reference `pig/AegisthusLoader.java`)
  * as a PRUNING source: the loader pushes projection into the parse
  * (`AegisthusLoader.java:215-241`), so a keys-only scan must not pay
  * for parsing every cell. Column pruning here selects the parse
  * level per line:
  *
  *  - only `key` required       -> parse the key string, skip the rest;
  *  - `key`/`deletedAt`         -> parse the fixed header, skip cells;
  *  - `columns` (or clean mode) -> full parse (+ F5 cleanse).
  *
  * Files split by newline-aligned byte ranges (`blocksize`, default
  * 64 MiB) — the standard seek(start-1)/discard-first-line rule, so
  * splits scale with file size like any text scan. The source also
  * streams ([[FileSetStream]]): chained pipelines can watch one job's
  * compacted snapshots and load them downstream as they land.
  *
  * Options: `clean` (default true — drop tombstoned/shadowed cells and
  * rows left empty, reference `AegisthusLoader.java:75-90`),
  * `blocksize`, `mapView` (default false — add the reference loader's
  * name-keyed `map_columns` dual view, see
  * [[AegJsonSource.MapSchema]]). */
class AegJsonSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "aegjson"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AegJsonSource.schemaFor(options.asScala.toMap)
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AegJsonTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object AegJsonSource {
  val CellSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("status", StringType, nullable = true),
    StructField("ttl", LongType, nullable = true),
    StructField("localDeletionTime", LongType, nullable = true),
    StructField("tsOfLastDelete", LongType, nullable = true)))

  /** matches `Encoders.product[AegRow]`'s shape so the DSv2 path is a
    * drop-in for the old textFile.map(parse) frame. */
  val Schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("deletedAt", LongType, nullable = false),
    StructField("columns", ArrayType(CellSchema, containsNull = false), nullable = false)))

  /** the reference loader's DUAL view (`AegisthusLoader.java:185-194`
    * exposes `map_columns` MAP alongside `bag_columns`): name-keyed
    * cell lookup — the most common consumption pattern of the
    * snapshot — without a lateral explode+filter. The map value is the
    * full cell struct (name included), matching the reference's map
    * tuple (`AegisthusLoader.java:262-265`); on duplicate names the
    * last cell wins (HashMap put semantics there), first-seen key
    * order here for determinism. */
  val MapSchema: StructType = StructType(Schema.fields :+
    StructField("map_columns",
      MapType(StringType, CellSchema, valueContainsNull = false), nullable = false))

  /** option keys arrive lowercased from `CaseInsensitiveStringMap` on
    * the scan path but original-cased via table properties — check
    * case-insensitively. A malformed value fails NAMING the option,
    * not with a bare "For input string". */
  def schemaFor(options: Map[String, String]): StructType = {
    val mapView = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("mapview") =>
        v.trim.toLowerCase match {
          case "true" => true
          case "false" => false
          case other => throw new IllegalArgumentException(
            s"aegjson option mapView must be true or false, got '$other'")
        }
    }.getOrElse(false)
    if (mapView) MapSchema else Schema
  }
}

final class AegJsonTable(props: Map[String, String])
    extends Table with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"aegjson(${props.getOrElse("path", props.getOrElse("paths", "?"))})"
  override def schema(): StructType = AegJsonSource.schemaFor(props)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AegJsonScanBuilder(options.asScala.toMap)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new AegJsonWriteBuilder(props ++ info.options.asScala.toMap, info.schema())
}

final class AegJsonScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = AegJsonSource.schemaFor(options)
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new AegJsonScan(options, required)
}

final case class AegJsonPartition(path: String, start: Long, end: Long,
    hosts: Array[String] = Array.empty) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

final class AegJsonScan(options: Map[String, String], required: StructType)
    extends FileSetScan(options, required) {
  override def description(): String = "graft-aegjson"

  /** the non-hidden, non-empty files directly under each root. */
  override protected def listFiles(): Seq[(FileSystem, FileStatus)] =
    listRoots("aegjson") { (fs, st) =>
      val files =
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(s => s.isFile && !SSTableSource.isHidden(s.getPath))
        else Seq(st)
      files.filter(_.getLen > 0)
    }

  /** `blocksize` byte ranges per file; the reader aligns them to lines. */
  override protected def plan(files: Seq[(FileSystem, FileStatus)]): Array[InputPartition] =
    files.flatMap { case (fs, st) =>
      (0L until st.getLen by blocksize).map { off =>
        val end = math.min(off + blocksize, st.getLen)
        AegJsonPartition(st.getPath.toString, off, end, SSTableSource.hostsFor(fs, st, off, end - off))
      }
    }.toArray[InputPartition]

  override protected def partitionBytes(p: InputPartition): Long = p match {
    case a: AegJsonPartition => a.end - a.start
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AegJsonReaderFactory(required, options.getOrElse("clean", "true").toBoolean, hconf)
}

final class AegJsonReaderFactory(required: StructType, clean: Boolean,
    // session Hadoop conf must travel to tasks (credentials/endpoints)
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[AegJsonPartition]
    val fieldNames = required.fieldNames // computed once, not per row
    val needColumns =
      clean || fieldNames.contains("columns") || fieldNames.contains("map_columns")
    val needDeletedAt = needColumns || fieldNames.contains("deletedAt")
    // Catalyst also prunes NESTED fields (a `map_columns['x'].ts`
    // lookup arrives as MAP<STRING, STRUCT<ts>>) — emit cell structs
    // with exactly the required subfields, in the required order
    val arrayCellFields: Array[String] = required.fields
      .find(_.name == "columns")
      .map(_.dataType.asInstanceOf[ArrayType]
        .elementType.asInstanceOf[StructType].fieldNames)
      .getOrElse(Array.empty)
    val mapCellFields: Array[String] = required.fields
      .find(_.name == "map_columns")
      .map(_.dataType.asInstanceOf[MapType]
        .valueType.asInstanceOf[StructType].fieldNames)
      .getOrElse(Array.empty)
    new PartitionReader[InternalRow] {
      private val path = new Path(p.path)
      private val fs = path.getFileSystem(hadoopConf.value)
      private val in = fs.open(path)
      private var pos = p.start
      private val lines = {
        if (p.start != 0) {
          // seek(start-1) + discard one line: a line beginning exactly
          // at `start` is preserved, one spanning the boundary is
          // owned by the previous split
          in.seek(p.start - 1)
          pos = p.start - 1
          val skipped = new org.apache.hadoop.util.LineReader(in)
          pos += skipped.readLine(new Text())
          skipped
        } else new org.apache.hadoop.util.LineReader(in)
      }
      private val text = new Text()
      private var current: InternalRow = _

      override def next(): Boolean = {
        while (pos < p.end) {
          val consumed = lines.readLine(text)
          if (consumed == 0) return false
          pos += consumed
          if (text.getLength > 0) {
            val line = text.toString
            val row = convert(line)
            if (row != null) { current = row; return true }
          }
        }
        false
      }

      private def convert(line: String): InternalRow = {
        if (needColumns) {
          val parsed0 = AegJsonCodec.parse(line)
          val parsed = if (clean) AegJsonCodec.cleanse(parsed0) else parsed0
          if (clean && parsed.columns.isEmpty) return null
          fromFields(parsed.key, parsed.deletedAt, parsed.columns)
        } else if (needDeletedAt) {
          val (key, deletedAt) = AegJsonCodec.parseHeader(line)
          fromFields(key, deletedAt, Seq.empty)
        } else {
          fromFields(AegJsonCodec.parseKey(line), 0L, Seq.empty)
        }
      }

      private def cellValue(c: AegCell, field: String): Any = field match {
        case "name" => UTF8String.fromString(c.name)
        case "value" => UTF8String.fromString(c.value)
        case "ts" => c.ts
        case "status" => c.status.map(UTF8String.fromString).orNull
        case "ttl" => c.ttl.map(Long.box).orNull
        case "localDeletionTime" => c.localDeletionTime.map(Long.box).orNull
        case "tsOfLastDelete" => c.tsOfLastDelete.map(Long.box).orNull
      }

      private def cellStruct(c: AegCell, sub: Array[String]): GenericInternalRow =
        new GenericInternalRow(sub.map(cellValue(c, _)))

      private def fromFields(key: String, deletedAt: Long, cols: Seq[AegCell]): InternalRow = {
        val values = fieldNames.map {
          case "key" => UTF8String.fromString(key)
          case "deletedAt" => deletedAt
          case "columns" =>
            new GenericArrayData(cols.map(cellStruct(_, arrayCellFields): Any).toArray[Any])
          case "map_columns" =>
            // name-keyed dual view: last cell wins per name (reference
            // HashMap put), first-seen key order for determinism
            val idx = new util.LinkedHashMap[String, AegCell]()
            cols.foreach(c => idx.put(c.name, c))
            val keys = new Array[Any](idx.size)
            val vals = new Array[Any](idx.size)
            var i = 0
            idx.forEach { (name, cell) =>
              keys(i) = UTF8String.fromString(name)
              vals(i) = cellStruct(cell, mapCellFields)
              i += 1
            }
            new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
        }
        new GenericInternalRow(values.asInstanceOf[Array[Any]])
      }

      override def get(): InternalRow = current
      override def close(): Unit = lines.close()
    }
  }
}

// ---------------------------------------------------------------------------
// DSv2 WRITE path (`df.write.format("aegjson").save(dir)`) over the
// sinks' one commit protocol, [[TaskCommit]]: each task stages its
// `aeg-%05d` file (numbered by partition id) in its attempt directory
// and returns that directory; the driver's job commit publishes every
// file only after EVERY task has succeeded. Overwrite mode (truncate)
// replaces every `aeg-NNNNN` file of the target; append refuses to
// replace an existing one. Input schema must be the source's own read
// schema, so load → transform → save round-trips; ordering and
// partitioning are the caller's.
// ---------------------------------------------------------------------------

import org.apache.spark.sql.connector.write._

final class AegJsonWriteBuilder(options: Map[String, String], schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  // truncate == SaveMode.Overwrite on a path-based table
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val path = SSTableSource.optionPaths(options, "aegjson").head
      AegJsonBatchWrite.validateSchema(schema)
      new AegJsonBatchWrite(path, schema, overwrite,
        new org.apache.spark.util.SerializableConfiguration(
          SparkSession.active.sessionState.newHadoopConf()))
    }
  }
}

object AegJsonBatchWrite {
  def validateSchema(schema: StructType): Unit = {
    val expected = AegJsonSource.Schema
    require(expected.fields.forall(f => schema.fields.exists(g =>
      g.name == f.name && g.dataType == f.dataType)),
      s"aegjson write expects schema ${expected.simpleString}, got ${schema.simpleString}")
  }
}

final class AegJsonBatchWrite(
    outDir: String,
    schema: StructType,
    overwrite: Boolean,
    hconf: org.apache.spark.util.SerializableConfiguration) extends BatchWrite {

  private val jobId = TaskCommit.newJobId()

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new AegJsonWriterFactory(outDir, jobId, schema, hconf)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    try TaskCommit.publish(hconf.value, outDir, messages.toSeq.map { case TaskCommit.Staged(d) => d },
      if (overwrite) Some(AegJsonCodec.FileNames) else None)
    finally TaskCommit.cleanupJob(hconf.value, outDir, jobId)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    TaskCommit.cleanupJob(hconf.value, outDir, jobId)
}

final class AegJsonWriterFactory(
    outDir: String,
    jobId: String,
    schema: StructType,
    hconf: org.apache.spark.util.SerializableConfiguration) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val (fs, dir) = TaskCommit.attemptDir(hconf.value, outDir, jobId)
    val w = AegJsonCodec.create(fs, dir, partitionId)
    val keyIdx = schema.fieldIndex("key")
    val delIdx = schema.fieldIndex("deletedAt")
    val colsIdx = schema.fieldIndex("columns")

    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = {
        val cols = row.getArray(colsIdx)
        val cells = (0 until cols.numElements()).map { i =>
          val c = cols.getStruct(i, 7)
          AegCell(
            c.getUTF8String(0).toString,
            c.getUTF8String(1).toString,
            c.getLong(2),
            if (c.isNullAt(3)) None else Some(c.getUTF8String(3).toString),
            if (c.isNullAt(4)) None else Some(c.getLong(4)),
            if (c.isNullAt(5)) None else Some(c.getLong(5)),
            if (c.isNullAt(6)) None else Some(c.getLong(6)))
        }
        w.write(AegJsonCodec.serialize(
          AegRow(row.getUTF8String(keyIdx).toString, row.getLong(delIdx), cells)))
        w.write('\n')
      }

      override def commit(): WriterCommitMessage = {
        w.close()
        TaskCommit.Staged(dir.toString)
      }

      override def abort(): Unit = {
        try w.close() catch { case _: Exception => () }
        TaskCommit.discard(fs, dir)
      }

      override def close(): Unit = ()
    }
  }
}
