package graft

import java.math.BigInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.cql.{CqlPivot, CqlTable}
import graft.sstable.CassType.CompositeType
import graft.sstable.{CellOut, CompactedRow, SSTableFormat, SSTableVersion, SSTableWriter}

/** CQL relational pivot (M4) against the reference fixtures whose
  * decoded goldens are known (FIXTURES.md §1.1-1.2), plus synthetic
  * static-column, collection and per-type decoding cases. */
class CqlPivotSpec extends AnyFunSuite {
  private val testRoot = "/root/reference/aegisthus-hadoop/src/test/resources/testdata"

  lazy val spark: SparkSession = TestUtil.session()

  test("CQL parse: keys, clustering, static, collections") {
    val t = CqlTable.parse(
      """CREATE TABLE ks.t (pk1 int, pk2 text, ck int, s text static,
        |v1 bigint, v2 list<blob>, v3 map<text, int>,
        |PRIMARY KEY ((pk1, pk2), ck)) WITH CLUSTERING ORDER BY (ck DESC)""".stripMargin)
    assert(t.partitionKeys.map(_.name) == Seq("pk1", "pk2"))
    assert(t.clusteringKeys.map(_.name) == Seq("ck"))
    assert(t.staticColumns.map(_.name) == Seq("s"))
    assert(t.regularColumns.map(_.name) == Seq("v1", "v2", "v3"))
  }

  test("CQL parse: real-world DDL formatting variants") {
    // lowercase + IF NOT EXISTS
    assert(CqlTable.parse("create table if not exists ks.t (a int primary key, b text)")
      .partitionKeys.map(_.name) == Seq("a"))
    // quoted identifiers + WITH clause containing parens/braces
    val q = CqlTable.parse(
      "CREATE TABLE \"Ks\".\"T\" (\n a int,\n b text,\n PRIMARY KEY (a)\n) " +
        "WITH CLUSTERING ORDER BY (b DESC) AND compaction = {'class': 'stcs'}")
    assert(q.name == "Ks.T" && q.partitionKeys.map(_.name) == Seq("a"))
    // thrift-era alias still emitted by old schema dumps
    assert(CqlTable.parse("CREATE COLUMNFAMILY t (a int PRIMARY KEY, b text)")
      .partitionKeys.map(_.name) == Seq("a"))
  }

  test("pivot randomtable fixtures to relational rows") {
    val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/2.0.10/randomtable/input")
    val compacted = GraftSSTable.compact(atoms, numPartitions = 4)
    val df = GraftSSTable.pivotToRelational(compacted,
      """CREATE TABLE testdata.randomtable (key int PRIMARY KEY, guid blob,
        |name text, email text, words text, latlong list<blob>,
        |smallnumber int, rfc2822formatteddate timestamp)""".stripMargin)
    val rows = df.collect().map(r => r.getInt(0) -> r).toMap
    assert(rows.size == df.count().toInt)
    val r1 = rows(1)
    assert(r1.getAs[String]("name") == "Joel Head")
    assert(r1.getAs[String]("email") == "orci@lobortisClass.ca")
    assert(r1.getAs[String]("words") == "Lorem ipsum")
    assert(r1.getAs[Int]("smallnumber") == 0x75)
    assert(r1.getAs[Long]("rfc2822formatteddate") == 0x0000014e7b4832b0L)
    assert(r1.getSeq[Array[Byte]](r1.fieldIndex("latlong")).size == 2)
    assert(graft.sstable.CassType.hex(r1.getAs[Array[Byte]]("guid")) ==
      "d9c7b86f9da439ab3e262bddea0f4ea5")
  }

  test("end-to-end: raw sstables -> compact -> pivot -> parquet -> relational query") {
    // the full product journey a migrating user runs: snapshot in,
    // relational warehouse table out, queried with plain Spark SQL
    val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/2.0.10/randomtable/input")
    val pivoted = GraftSSTable.pivotToRelational(
      GraftSSTable.compact(atoms, numPartitions = 4),
      """CREATE TABLE testdata.randomtable (key int PRIMARY KEY, guid blob,
        |name text, email text, words text, latlong list<blob>,
        |smallnumber int, rfc2822formatteddate timestamp)""".stripMargin)
    val out = java.nio.file.Files.createTempDirectory("graft_e2e").toFile
    try {
      pivoted.write.mode("overwrite").parquet(s"$out/warehouse")
      val tbl = spark.read.parquet(s"$out/warehouse")
      tbl.createOrReplaceTempView("randomtable")
      // every source row survives the chain with its key intact
      assert(tbl.count() == pivoted.count() && tbl.count() > 0)
      val agg = spark.sql(
        """SELECT count(*) AS n, count(DISTINCT key) AS nk,
          |       sum(smallnumber) AS total, max(length(name)) AS maxname
          |FROM randomtable""".stripMargin).head()
      assert(agg.getLong(0) == agg.getLong(1), "key is unique through the pivot")
      // pin two content aggregates so a silent value corruption anywhere
      // in the chain (decode, merge, pivot, parquet codec) fails here
      val direct = pivoted.selectExpr("sum(smallnumber)", "max(length(name))").head()
      assert(agg.getLong(2) == direct.getLong(0))
      assert(agg.getInt(3) == direct.getInt(1))
    } finally TestUtil.deleteRecursively(out)
  }

  test("pivot rangetombstone fixtures (clustering + tombstoned columns)") {
    val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/2.0.10/rangetombstone/input")
    val compacted = GraftSSTable.compact(atoms, numPartitions = 4)
    val df = GraftSSTable.pivotToRelational(compacted,
      """CREATE TABLE testdata.rangetombstone (key ascii, ck int,
        |columna int, columnb int, columnc int, PRIMARY KEY (key, ck))""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("key") == "row1")
    assert(r.getAs[Int]("ck") == 1)
    assert(r.getAs[Int]("columna") == 3)
    // columnb was covered by the range tombstone -> null after compaction
    assert(r.isNullAt(r.fieldIndex("columnb")))
    assert(r.getAs[Int]("columnc") == 3)
  }

  test("static columns and map collections (synthetic)") {
    import spark.implicits._
    def comp(parts: Array[Byte]*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      parts.foreach { p =>
        out.write(p.length >> 8); out.write(p.length & 0xff)
        out.write(p); out.write(0)
      }
      out.toByteArray
    }
    def static(parts: Array[Byte]*): Array[Byte] =
      Array[Byte](0xff.toByte, 0xff.toByte) ++ comp(parts: _*)
    def s(x: String): Array[Byte] = x.getBytes("UTF-8")
    def i32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(v).array()

    def cell(name: Array[Byte], value: Array[Byte], ts: Long) =
      CellOut(SSTableFormat.KindColumn, name, value, ts, None, None, None)

    val row = CompactedRow(i32(7), Long.MinValue, Seq(
      cell(static(s("stot")), i32(99), 10L),                 // static column
      cell(comp(i32(1), s("")), Array.emptyByteArray, 10L),  // row marker
      cell(comp(i32(1), s("m"), s("k1")), i32(5), 10L),      // map entry
      cell(comp(i32(1), s("m"), s("k2")), i32(6), 10L),
      cell(comp(i32(1), s("v")), i32(42), 10L)))             // regular

    val ds = spark.createDataset(Seq(row))
    val df = CqlPivot.pivot(ds,
      "CREATE TABLE t (pk int, ck int, stot int static, v int, m map<text, int>, PRIMARY KEY (pk, ck))")
    val r = df.collect().head
    assert(r.getAs[Int]("pk") == 7)
    assert(r.getAs[Int]("ck") == 1)
    assert(r.getAs[Int]("stot") == 99)
    assert(r.getAs[Int]("v") == 42)
    assert(r.getAs[Map[String, Int]]("m") == Map("k1" -> 5, "k2" -> 6))
  }

  test("typed compaction of a CQL table with a static column reaches every pivoted row") {
    def comp(parts: Array[Byte]*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      parts.foreach { p =>
        out.write(p.length >> 8); out.write(p.length & 0xff)
        out.write(p); out.write(0)
      }
      out.toByteArray
    }
    // 2.0 static name: the 0xFFFF marker, an empty clustering component
    def static(col: String): Array[Byte] =
      Array[Byte](0xff.toByte, 0xff.toByte) ++ comp(Array.emptyByteArray, s(col))
    def s(x: String): Array[Byte] = x.getBytes("UTF-8")
    def i32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(v).array()
    def cell(name: Array[Byte], value: Array[Byte], ts: Long) =
      CellOut(SSTableFormat.KindColumn, name, value, ts, None, None, None)
    val dir = java.nio.file.Files.createTempDirectory("cql-static").toFile
    def sstable(gen: Int, cells: Seq[CellOut]): Unit = {
      val f = new java.io.DataOutputStream(new java.io.FileOutputStream(
        new java.io.File(dir, s"ks-t-jb-$gen-Data.db")))
      SSTableWriter.writeRow(f, CompactedRow(s("p1"), Long.MinValue, cells), SSTableVersion("jb"))
      f.close()
    }
    sstable(1, Seq(
      cell(static("st"), s("old"), 1L),
      cell(comp(i32(1), Array.emptyByteArray), Array.emptyByteArray, 1L),
      cell(comp(i32(1), s("v")), s("a"), 1L)))
    sstable(2, Seq(
      cell(static("st"), s("new"), 2L),
      cell(comp(i32(2), Array.emptyByteArray), Array.emptyByteArray, 2L),
      cell(comp(i32(2), s("v")), s("b"), 2L)))

    val cql = "CREATE TABLE ks.t (pk text, ck int, st text static, v text, PRIMARY KEY (pk, ck))"
    val atoms = GraftSSTable.readAtoms(spark, dir.toString, Map("cql" -> cql))
    val compacted = GraftSSTable.compact(atoms, numPartitions = 2)
    val rows = GraftSSTable.pivotToRelational(compacted, cql).collect()
      .map(r => (r.getAs[String]("pk"), r.getAs[Int]("ck"), r.getAs[String]("st"), r.getAs[String]("v")))
      .sortBy(_._2).toSeq
    assert(rows == Seq(("p1", 1, "new", "a"), ("p1", 2, "new", "b")))
  }

  test("wide-row valve drops an over-cap partition and counts it (no OOM path)") {
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

    // "wide": 200 cells of ~30 bytes each; "narrow": 1 cell
    val wide = CompactedRow(i32(1), Long.MinValue,
      (1 to 200).map(i => cell(comp(i32(i), s("v")), i32(i), 10L)))
    val narrow = CompactedRow(i32(2), Long.MinValue,
      Seq(cell(comp(i32(1), s("v")), i32(7), 10L)))
    val cql = "CREATE TABLE t (pk int, ck int, v int, PRIMARY KEY (pk, ck))"

    val ds = spark.createDataset(Seq(wide, narrow))
    val capped = CqlPivot.pivot(ds, cql, maxRowBytes = 1024)
    val rows = capped.collect()
    assert(rows.map(_.getAs[Int]("pk")).toSeq == Seq(2),
      "the over-cap partition must be dropped, the narrow one kept")
    assert(CqlPivot.rowsTooBig.map(_.value.toLong).contains(1L),
      "dropped wide rows must be counted for the driver-side assert")

    // uncapped default still pivots everything
    assert(CqlPivot.pivot(ds, cql).count() == 201L)
  }

  // helpers of the per-type tests below: CQL3 composite names, values
  private def comp(parts: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    parts.foreach { p =>
      out.write(p.length >> 8); out.write(p.length & 0xff)
      out.write(p); out.write(0)
    }
    out.toByteArray
  }
  private def utf8(x: String): Array[Byte] = x.getBytes("UTF-8")
  private def int32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(v).array()
  private def varint(v: BigInt): Array[Byte] = v.bigInteger.toByteArray
  private def column(name: Array[Byte], value: Array[Byte]) =
    CellOut(SSTableFormat.KindColumn, name, value, 10L, None, None, None)
  /** one CQL row: its row marker plus one cell per regular column. */
  private def cqlRow(ck: Array[Byte], values: (String, Array[Byte])*): Seq[CellOut] =
    column(comp(ck, Array.emptyByteArray), Array.emptyByteArray) +:
      values.map { case (c, v) => column(comp(ck, utf8(c)), v) }

  test("varint values decode at any length (1 and 5 bytes), as strings") {
    import spark.implicits._
    assert(varint(5).length == 1 && varint(BigInt(1) << 31).length == 5)
    val row = CompactedRow(int32(1), Long.MinValue,
      cqlRow(int32(1), "v" -> varint(5)) ++ cqlRow(int32(2), "v" -> varint(BigInt(1) << 31)))
    val df = CqlPivot.pivot(spark.createDataset(Seq(row)),
      "CREATE TABLE t (pk int, ck int, v varint, PRIMARY KEY (pk, ck))")
    assert(df.schema("v").dataType == StringType)
    val got = df.collect().map(r => r.getAs[Int]("ck") -> r.getAs[String]("v")).sortBy(_._1).toSeq
    assert(got == Seq(1 -> "5", 2 -> "2147483648"))
  }

  test("a varint clustering key compacts in numeric order and pivots every row") {
    val dir = java.nio.file.Files.createTempDirectory("cql-varint").toFile
    try {
      def sstable(gen: Int, cks: BigInt*): Unit = {
        val f = new java.io.DataOutputStream(new java.io.FileOutputStream(
          new java.io.File(dir, s"ks-t-jb-$gen-Data.db")))
        val cells = cks.flatMap(ck => cqlRow(varint(ck), "v" -> utf8(s"v$ck")))
        SSTableWriter.writeRow(f, CompactedRow(utf8("p1"), Long.MinValue, cells), SSTableVersion("jb"))
        f.close()
      }
      // out of numeric order within and across files; byte order
      // (ff, 05, 012c, 0080000000) differs from numeric order too
      sstable(1, 300, -1)
      sstable(2, BigInt(1) << 31, 5)
      val cql = "CREATE TABLE ks.t (pk text, ck varint, v text, PRIMARY KEY (pk, ck))"
      val atoms = GraftSSTable.readAtoms(spark, dir.toString, Map("cql" -> cql))
      val compacted = GraftSSTable.compact(atoms, numPartitions = 2)
      val cks = compacted.collect().toSeq.flatMap(_.columns)
        .map(c => CompositeType.split(c.name).head).filter(_.nonEmpty)
        .map(b => BigInt(new BigInteger(b))).distinct
      assert(cks == Seq(BigInt(-1), BigInt(5), BigInt(300), BigInt(1) << 31))
      val rows = GraftSSTable.pivotToRelational(compacted, cql).collect()
        .map(r => (r.getAs[String]("ck"), r.getAs[String]("v"))).toSeq
      assert(rows == Seq("-1" -> "v-1", "5" -> "v5", "300" -> "v300", "2147483648" -> "v2147483648"))
    } finally TestUtil.deleteRecursively(dir)
  }

  test("the Spark schema of every CQL type is pinned") {
    val t = CqlTable.parse(
      """CREATE TABLE ks.all_types (k int, vi varint, bi bigint, cn counter,
        |tx text, vc varchar, asc ascii, bl blob, id uuid, tid timeuuid,
        |ts timestamp, d double, f float, b boolean,
        |l list<int>, s set<text>, m map<text, bigint>, PRIMARY KEY (k))""".stripMargin)
    assert(t.sparkSchema == StructType(Seq(
      StructField("k", IntegerType), StructField("vi", StringType),
      StructField("bi", LongType), StructField("cn", LongType),
      StructField("tx", StringType), StructField("vc", StringType),
      StructField("asc", StringType), StructField("bl", BinaryType),
      StructField("id", StringType), StructField("tid", StringType),
      StructField("ts", LongType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("b", BooleanType),
      StructField("l", ArrayType(IntegerType)), StructField("s", ArrayType(StringType)),
      StructField("m", MapType(StringType, LongType)))))
  }

  test("smallint, tinyint, decimal and inet values pivot") {
    import spark.implicits._
    val short = java.nio.ByteBuffer.allocate(2).putShort((-1234).toShort).array()
    // decimal: [i32 scale][varint unscaled] -> 12345 x 10^-3
    val decimal = int32(3) ++ varint(12345)
    val inet = Array[Byte](10, 0, 0, 1)
    val row = CompactedRow(int32(1), Long.MinValue,
      cqlRow(int32(1), "sm" -> short, "ti" -> Array[Byte](-7), "de" -> decimal, "ip" -> inet))
    val df = CqlPivot.pivot(spark.createDataset(Seq(row)),
      """CREATE TABLE t (pk int, ck int, sm smallint, ti tinyint, de decimal, ip inet,
        |PRIMARY KEY (pk, ck))""".stripMargin)
    assert(df.schema.map(_.dataType).drop(2) == Seq(ShortType, ByteType, StringType, StringType))
    val r = df.collect().head
    assert(r.getAs[Short]("sm") == -1234)
    assert(r.getAs[Byte]("ti") == -7)
    assert(r.getAs[String]("de") == "12.345")
    assert(r.getAs[String]("ip") == "10.0.0.1")
  }
}
