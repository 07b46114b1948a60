package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable.{AvroSink, CellOut, CompactedRow, SSTableFormat}

/** Avro sink parity with the reference's `SSTableExport` export path
  * (`SSTableExport.java:174-181`): pivoted relational rows round-trip
  * through Avro container files, committed speculation-safe. */
class AvroSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def conf = new org.apache.hadoop.conf.Configuration()

  test("pivoted CQL rows (incl. map collection + static) round-trip through Avro") {
    import spark.implicits._
    def comp(parts: Array[Byte]*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      parts.foreach { p =>
        out.write(p.length >> 8); out.write(p.length & 0xff)
        out.write(p); out.write(0)
      }
      out.toByteArray
    }
    def s(x: String): Array[Byte] = x.getBytes("UTF-8")
    def i32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(v).array()
    def cell(name: Array[Byte], value: Array[Byte], ts: Long) =
      CellOut(SSTableFormat.KindColumn, name, value, ts, None, None, None)

    val row = CompactedRow(i32(7), Long.MinValue, Seq(
      cell(comp(i32(1), s("")), Array.emptyByteArray, 10L),
      cell(comp(i32(1), s("m"), s("k1")), i32(5), 10L),
      cell(comp(i32(1), s("v")), i32(42), 10L)))
    val df = GraftSSTable.pivotToRelational(spark.createDataset(Seq(row)),
      "CREATE TABLE t (pk int, ck int, v int, m map<text, int>, PRIMARY KEY (pk, ck))")

    val out = java.nio.file.Files.createTempDirectory("avro-sink").toString
    GraftSSTable.writeAvro(df, out, dataset = "t", numFiles = 1)
    val recs = AvroSink.readRecords(conf, out)
    assert(recs.length == 1)
    val r = recs.head
    assert(r.get("pk") == 7 && r.get("ck") == 1 && r.get("v") == 42)
    val m = r.get("m").asInstanceOf[java.util.Map[AnyRef, AnyRef]]
    assert(m.size() == 1 && m.values().iterator().next() == 5)
    assert(!new java.io.File(out, "_temporary").exists, "commit protocol cleans up")
  }

  test("scalar/temporal/binary/array/null round-trip with logical types") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("raw", BinaryType),
      StructField("ok", BooleanType),
      StructField("score", DoubleType),
      StructField("at", TimestampType),
      StructField("day", DateType),
      StructField("tags", ArrayType(StringType))))
    val t0 = 1700000000123L
    val rows = Seq(
      Row(1L, "a", Array[Byte](1, 2), true, 1.5, new java.sql.Timestamp(t0),
        java.sql.Date.valueOf("2024-02-29"), Seq("x", "y")),
      Row(2L, null, null, false, -0.5, null, null, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    val out = java.nio.file.Files.createTempDirectory("avro-sink2").toString
    AvroSink.write(df, out, dataset = "mix")
    val recs = AvroSink.readRecords(conf, out).sortBy(_.get("id").asInstanceOf[Long])
    assert(recs.length == 2)
    val a = recs.head
    assert(a.get("name").toString == "a")
    assert(a.get("at") == t0, "timestamp-millis logical type preserves epoch millis")
    assert(a.get("day") == java.sql.Date.valueOf("2024-02-29").toLocalDate.toEpochDay.toInt)
    val raw = a.get("raw").asInstanceOf[java.nio.ByteBuffer]
    assert(raw.remaining() == 2 && raw.get(0) == 1 && raw.get(1) == 2)
    val tags = a.get("tags").asInstanceOf[java.util.List[AnyRef]]
    assert(tags.size() == 2 && tags.get(0).toString == "x")
    val b = recs(1)
    assert(b.get("name") == null && b.get("raw") == null && b.get("at") == null
      && b.get("tags") == null, "nullable unions carry SQL NULLs")
    // schema audit: logical types are declared for readers
    val avroSchema = AvroSink.avroSchema(schema, "mix")
    assert(avroSchema.toString.contains("timestamp-millis"))
    assert(avroSchema.toString.contains("\"date\""))
  }
}
