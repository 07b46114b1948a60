package graft.sstable

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Avro container-file sink for the relational pivot path — parity
  * with the reference's `SSTableExport` Avro output
  * (`org/coursera/SSTableExport.java:108-112,174-181` via
  * `AvroKeyOutputFormat`). This Spark distribution ships avro-core but
  * not the `spark-avro` datasource module, so the sink drives
  * `DataFileWriter` directly: schema derived from the DataFrame
  * (the reference instead demands a user-authored schema file and
  * merely validates it), one container file per partition, committed
  * through the sinks' one commit protocol, [[TaskCommit]]. */
object AvroSink {

  /** Spark schema → Avro record schema. Every field is a
    * `[null, T]` union (CQL columns are individually nullable).
    * Timestamps map to long `timestamp-millis`, dates to int `date`. */
  def avroSchema(schema: StructType, recordName: String): Schema = {
    val fields = schema.fields.map { f =>
      new Schema.Field(f.name, nullable(avroType(f.dataType, s"${recordName}_${f.name}")),
        null, Schema.Field.NULL_DEFAULT_VALUE)
    }
    Schema.createRecord(recordName, null, "graft", false, fields.toList.asJava)
  }

  private def nullable(s: Schema): Schema =
    Schema.createUnion(java.util.List.of(Schema.create(Schema.Type.NULL), s))

  private def avroType(dt: DataType, name: String): Schema = dt match {
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case ByteType | ShortType | IntegerType => Schema.create(Schema.Type.INT)
    case LongType => Schema.create(Schema.Type.LONG)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case StringType => Schema.create(Schema.Type.STRING)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case TimestampType =>
      org.apache.avro.LogicalTypes.timestampMillis()
        .addToSchema(Schema.create(Schema.Type.LONG))
    case DateType =>
      org.apache.avro.LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case d: DecimalType => Schema.create(Schema.Type.STRING) // rendered; pivot emits none
    case ArrayType(e, _) => Schema.createArray(nullable(avroType(e, name)))
    case MapType(StringType, v, _) => Schema.createMap(nullable(avroType(v, name)))
    case st: StructType => avroSchema(st, name)
    case other => throw new IllegalArgumentException(s"unsupported Avro mapping: $other")
  }

  private def toAvro(v: Any, dt: DataType, schema: Schema): AnyRef = v match {
    case null => null
    case _ => dt match {
      case BinaryType => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case ByteType => Int.box(v.asInstanceOf[Byte].toInt)
      case ShortType => Int.box(v.asInstanceOf[Short].toInt)
      case TimestampType => Long.box(v.asInstanceOf[java.sql.Timestamp].getTime)
      case DateType => Int.box(v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt)
      case _: DecimalType => v.toString
      case ArrayType(e, _) =>
        val elemSchema = resolve(schema).getElementType
        v.asInstanceOf[scala.collection.Seq[Any]]
          .map(x => toAvro(x, e, elemSchema)).asJava
      case MapType(StringType, mv, _) =>
        val valSchema = resolve(schema).getValueType
        v.asInstanceOf[scala.collection.Map[String, Any]]
          .map { case (k, x) => k -> toAvro(x, mv, valSchema) }.asJava
      case st: StructType => record(v.asInstanceOf[Row], st, resolve(schema))
      case _ => v.asInstanceOf[AnyRef]
    }
  }

  /** unwrap the `[null, T]` union to T. */
  private def resolve(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION) s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  private def record(row: Row, st: StructType, schema: Schema): GenericRecord = {
    val rec = new GenericData.Record(schema)
    st.fields.zipWithIndex.foreach { case (f, i) =>
      rec.put(f.name, toAvro(row.get(i), f.dataType, schema.getField(f.name).schema()))
    }
    rec
  }

  /** Write `df` as `<dataset>-%05d.avro` container files, one per
    * partition, via [[TaskCommit]] (a failed job keeps the previous
    * run's files). */
  def write(df: DataFrame, outDir: String, dataset: String = "export",
      numFiles: Int = -1): Unit = {
    val schema = df.schema
    val avroJson = avroSchema(schema, dataset).toString
    val repart = if (numFiles > 0) df.repartition(numFiles) else df
    val names = (java.util.regex.Pattern.quote(s"$dataset-") + raw"\d{5,}\.avro").r
    TaskCommit.write(repart, outDir, names) { (fs, dir, idx, it) =>
      if (it.hasNext) {
        val sch = new Schema.Parser().parse(avroJson)
        val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](sch))
        w.create(sch, fs.create(new org.apache.hadoop.fs.Path(dir, f"$dataset-$idx%05d.avro"), true))
        it.foreach(r => w.append(record(r, schema, sch)))
        w.close()
      }
    }
  }

  /** Read container files back as generic records (test/verification
    * utility; the production read path for columnar exports is
    * parquet). */
  def readRecords(conf: org.apache.hadoop.conf.Configuration, dir: String): Seq[GenericRecord] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".avro")).sortBy(_.getPath.getName)
      .flatMap { st =>
        val in = fs.open(st.getPath)
        val r = new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
        try r.iterator().asScala.toVector finally { r.close() }
      }.toSeq
  }
}
