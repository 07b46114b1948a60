package graft

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable._

/** O1 typed comparators end-to-end (reference
  * `AegisthusKeySortingComparator.java:35-61`): the distributed
  * compaction must shuffle-sort column names by the CONFIGURED marshal
  * comparator, not raw bytes — wrong order means wrong range-tombstone
  * coverage and wrong LWW adjacency.
  *
  * Two layers of proof:
  *  1. a property check that [[CassType.sortKey]]'s binary encoding,
  *     the only statement of a type's order, agrees in sign with the
  *     test-side [[TypedOrder]] oracle for every pair in a pool of
  *     adversarial values (prefixes, zeros, sign flips, NaN/infinities,
  *     byte-vs-time order divergence);
  *  2. distributed `GraftSSTable.compact` runs over LongType and
  *     CompositeType(TimeUUIDType) names — written through the real
  *     [[SSTableWriter]] → DSv2 scan path — asserting the merged
  *     column order follows the comparator and that a range tombstone
  *     only deletes under the comparator that covers it.
  */
class TypedComparatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def longB(v: Long): Array[Byte] = ByteBuffer.allocate(8).putLong(v).array()
  private def intB(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()
  /** DecimalType wire format: [i32 scale][varint unscaled]. */
  private def decB(unscaled: String, scale: Int): Array[Byte] = {
    val u = new java.math.BigInteger(unscaled).toByteArray
    ByteBuffer.allocate(4 + u.length).putInt(scale).put(u).array()
  }
  private def floatB(v: Float): Array[Byte] = ByteBuffer.allocate(4).putFloat(v).array()
  private def doubleB(v: Double): Array[Byte] = ByteBuffer.allocate(8).putDouble(v).array()

  /** v1 UUID with the given time fields and node tail. */
  private def v1uuid(timeLow: Long, timeMid: Int, timeHi: Int, tail: Long): Array[Byte] = {
    val bb = ByteBuffer.allocate(16)
    bb.putInt(timeLow.toInt).putShort(timeMid.toShort).putShort((0x1000 | timeHi).toShort)
    bb.putLong(tail)
    bb.array()
  }

  /** Cassandra composite encoding: [u16 len][bytes][u8 eoc] per part. */
  private def composite(parts: Array[Byte]*): Array[Byte] = {
    val total = parts.map(2 + _.length + 1).sum
    val bb = ByteBuffer.allocate(total)
    parts.foreach { p => bb.putShort(p.length.toShort).put(p).put(0.toByte) }
    bb.array()
  }

  /** the order the merge and the shuffle use: sort keys as unsigned bytes */
  private def keyOrder(t: CassType, a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(t.sortKey(a), t.sortKey(b))

  private def assertAgreement(t: CassType, pool: Seq[Array[Byte]], label: String): Unit =
    for (a <- pool; b <- pool) {
      val viaOracle = Integer.signum(TypedOrder.compare(t, a, b))
      val viaKey = Integer.signum(keyOrder(t, a, b))
      assert(viaOracle == viaKey,
        s"$label: sortKey order disagrees with TypedOrder for ${CassType.hex(a)} vs ${CassType.hex(b)}")
    }

  test("sortKey agrees with TypedOrder for every marshal type (property pool)") {
    val rnd = new scala.util.Random(42)
    val longs = Seq(Long.MinValue, -1L, 0L, 1L, 255L, Long.MaxValue) ++
      Seq.fill(20)(rnd.nextLong())
    assertAgreement(CassType.LongType, longs.map(longB), "LongType")
    val ints = Seq(Int.MinValue, -1, 0, 1, Int.MaxValue) ++ Seq.fill(20)(rnd.nextInt())
    assertAgreement(CassType.Int32Type, ints.map(intB), "Int32Type")
    val floats = Seq(Float.NegativeInfinity, -1.5f, -0.0f, 0.0f, 1.5f,
      Float.PositiveInfinity, Float.NaN) ++ Seq.fill(20)(rnd.nextFloat() * 2e9f - 1e9f)
    assertAgreement(CassType.FloatType, floats.map(floatB), "FloatType")
    val doubles = Seq(Double.NegativeInfinity, -1.5, -0.0, 0.0, 1.5,
      Double.PositiveInfinity, Double.NaN) ++ Seq.fill(20)(rnd.nextDouble() * 2e9 - 1e9)
    assertAgreement(CassType.DoubleType, doubles.map(doubleB), "DoubleType")

    // byte order vs time order divergence + tie-broken tails
    val uuids = Seq(
      v1uuid(0xffffffffL, 0x0001, 0x001, 0x8000000000000000L),
      v1uuid(0x00000001L, 0x0002, 0x001, 0x8000000000000000L),
      v1uuid(0x00000001L, 0x0002, 0x001, 0x9000000000000000L),
      v1uuid(0x00000001L, 0x0001, 0x002, 0x8000000000000000L)) ++
      Seq.fill(10)(v1uuid(rnd.nextInt().toLong & 0xffffffffL,
        rnd.nextInt() & 0xffff, rnd.nextInt() & 0xfff, rnd.nextLong()))
    assertAgreement(CassType.TimeUUIDType, uuids, "TimeUUIDType")

    // variable-length types: prefixes and embedded zeros are the traps
    val bytes = Seq(Array.emptyByteArray, Array[Byte](0), Array[Byte](0, 0),
      Array[Byte](0, 1), Array[Byte](1), Array[Byte](1, 0), Array[Byte](-1),
      "a".getBytes, "ab".getBytes, "a\u0000b".getBytes, "b".getBytes)
    assertAgreement(CassType.BytesType, bytes, "BytesType")
    assertAgreement(CassType.UTF8Type, bytes, "UTF8Type")
    assertAgreement(CassType.ReversedType(CassType.UTF8Type), bytes, "Reversed(UTF8)")
    assertAgreement(CassType.ReversedType(CassType.LongType), longs.map(longB), "Reversed(Long)")

    val comp = CassType.parse("CompositeType(Int32Type, UTF8Type)")
    val compVals = (for (i <- Seq(-2, 0, 3); s <- Seq("", "a", "ab", "b"))
      yield composite(intB(i), s.getBytes)) ++
      Seq(composite(intB(-2)), composite(intB(3))) // fewer components sort first
    // 2.0 static names (0xFFFF marker, empty clustering component) sort
    // after the empty name and before every other name
    def staticName(col: String): Array[Byte] =
      Array[Byte](-1, -1) ++ composite(Array.emptyByteArray, col.getBytes)
    val staticVals = Seq(staticName(""), staticName("s"), staticName("t"), Array.emptyByteArray)
    assertAgreement(comp, compVals ++ staticVals, "Composite(Int32,UTF8) with static names")
    staticVals.init.foreach { st =>
      assert(keyOrder(comp, Array.emptyByteArray, st) < 0)
      compVals.foreach(v => assert(keyOrder(comp, st, v) < 0 && keyOrder(comp, v, st) > 0))
    }
    val reversed = CassType.CompositeType(Seq(CassType.ReversedType(CassType.LongType), CassType.UTF8Type))
    assertAgreement(reversed, Seq(longB(-1L), longB(0L), longB(7L)).map(composite(_, "v".getBytes)) ++
      staticVals, "Composite(Reversed(Long),UTF8) with static names")

    val compUuid = CassType.CompositeType(Seq(CassType.TimeUUIDType))
    assertAgreement(compUuid, uuids.map(composite(_)), "Composite(TimeUUID)")

    // arbitrary-precision varint: two's-complement minimal bytes
    val bigs = (Seq("0", "1", "-1", "255", "-255", "256", "65536", "-65536",
      "123456789012345678901234567890", "-123456789012345678901234567890") ++
      Seq.fill(25)(BigInt(rnd.nextInt(200) + 1, new java.util.Random(rnd.nextLong())) *
        (if (rnd.nextBoolean()) -1 else 1)).map(_.toString))
      .map(s => new java.math.BigInteger(s))
    assertAgreement(CassType.IntegerType, bigs.map(_.toByteArray), "IntegerType(varint)")

    // decimal: exercises exponent + digit-prefix + trailing-zero
    // normalization paths
    val decs = Seq(
      decB("0", 0), decB("0", 5),
      decB("12345", 2), decB("12345", 5), decB("123450", 3), decB("12345", -3),
      decB("-12345", 2), decB("-12", 2), decB("-123", 2), decB("12", 2),
      decB("123", 2), decB("1", -2), decB("100", 0), decB("123", 5)) ++
      Seq.fill(25)(decB((rnd.nextLong() % 100000000L).toString, rnd.nextInt(12) - 4))
    assertAgreement(CassType.DecimalType, decs, "DecimalType")

    val shorts = Seq(Short.MinValue, -1, 0, 1, Short.MaxValue).map(v =>
      ByteBuffer.allocate(2).putShort(v.toShort).array()) ++
      Seq.fill(10)(ByteBuffer.allocate(2).putShort(rnd.nextInt().toShort).array())
    assertAgreement(CassType.ShortType, shorts, "ShortType")
    val tiny = Seq(-128, -1, 0, 1, 127).map(v => Array(v.toByte)) ++
      Seq.fill(10)(Array(rnd.nextInt().toByte))
    assertAgreement(CassType.ByteType, tiny, "ByteType")
  }

  test("LWW collapses comparator-equal but byte-distinct names (Decimal 2.5 vs 2.50)") {
    def a(name: Array[Byte], v: String, ts: Long) =
      AtomRec("k".getBytes, "src", Long.MinValue, SSTableFormat.KindColumn,
        name, v.getBytes, Some(ts), None, None, None, null)
    // 2.5 (scale 1) and 2.50 (scale 2): different bytes, one sort key
    val n1 = decB("25", 1)
    val n2 = decB("250", 2)
    assert(keyOrder(CassType.DecimalType, n1, n2) == 0 && !java.util.Arrays.equals(n1, n2))
    val merged = Compaction.merge(
      Iterator(a(n1, "old", 10L), a(n2, "new", 20L)), CassType.DecimalType).toList
    assert(merged.head.columns.map(c => new String(c.value)) == Seq("new"),
      "comparator-equal names must collapse to one LWW winner")
  }

  test("extended marshal renders: varint, decimal, inet, short, byte, empty") {
    assert(CassType.parse("IntegerType").getString(
      new java.math.BigInteger("123456789012345678901234567890").toByteArray) ==
      "123456789012345678901234567890")
    assert(CassType.parse("DecimalType").getString(decB("12345", 2)) == "123.45")
    assert(CassType.parse("InetAddressType").getString(Array(10, 0, 0, 1)) == "10.0.0.1")
    assert(CassType.parse("ShortType").getString(Array(0xff.toByte, 0xfe.toByte)) == "-2")
    assert(CassType.parse("ByteType").getString(Array(0x7f.toByte)) == "127")
    assert(CassType.parse("EmptyType").getString("whatever".getBytes) == "")
    assert(CassType.parse(
      "CompositeType(IntegerType,DecimalType)").typeName ==
      "CompositeType(IntegerType,DecimalType)")
  }

  private def atom(key: String, name: Array[Byte], value: String, ts: Long) =
    AtomRec(key.getBytes, "src", Long.MinValue, SSTableFormat.KindColumn,
      name, value.getBytes, Some(ts), None, None, None, null)

  private def rtAtom(key: String, min: Array[Byte], max: Array[Byte], mfda: Long) =
    AtomRec(key.getBytes, "src", Long.MinValue, SSTableFormat.KindRangeTombstone,
      min, Array.emptyByteArray, Some(mfda), None, None, None, max)

  test("distributed compaction orders LongType names numerically and honors typed RT coverage") {
    import spark.implicits._
    // names -3 and 5: binary order says 5 < -3 (0x00.. < 0xFF..);
    // Long order says -3 < 5. RT [-10, 0] covers -3 only under LongType.
    val atoms = Seq(
      atom("k1", longB(5L), "v5", 100L),
      atom("k1", longB(-3L), "v-3", 100L),
      rtAtom("k1", longB(-10L), longB(0L), 200L)).toDS().toDF()

    val typed = GraftSSTable.compact(atoms, CassType.LongType, numPartitions = 2).collect()
    assert(typed.length == 1)
    val typedNames = typed.head.columns.map(c => ByteBuffer.wrap(c.name).getLong)
    assert(typedNames == Seq(5L), "RT must delete -3 under the Long comparator")

    val raw = GraftSSTable.compact(atoms, CassType.BytesType, numPartitions = 2).collect()
    val rawNames = raw.head.columns.map(c => ByteBuffer.wrap(c.name).getLong)
    // binary comparator: min 0xFF..F6 > max 0x00..00, RT covers nothing
    assert(rawNames.toSet == Set(5L, -3L), "binary comparator must not apply the Long-range RT")

    // pure ordering (no RT): merged column order follows the comparator
    val ordAtoms = Seq(atom("k2", longB(7L), "a", 1L), atom("k2", longB(-9L), "b", 1L),
      atom("k2", longB(0L), "c", 1L)).toDS().toDF()
    val ordered = GraftSSTable.compact(ordAtoms, CassType.LongType, numPartitions = 2).collect()
    assert(ordered.head.columns.map(c => ByteBuffer.wrap(c.name).getLong) == Seq(-9L, 0L, 7L))
  }

  test("SSTableWriter -> DSv2 scan -> typed compaction round-trip (Long + Composite(TimeUUID))") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("typedcomp").toFile
    // two sstables for the same key whose Long-named columns interleave
    // in time order but not byte order
    def write(name: String, cells: Seq[CellOut]): Unit = {
      val f = new java.io.DataOutputStream(new java.io.FileOutputStream(
        new java.io.File(tmp, name)))
      SSTableWriter.writeRow(f, CompactedRow("key1".getBytes, Long.MinValue, cells), SSTableVersion("jb"))
      f.close()
    }
    def cell(n: Array[Byte], v: String, ts: Long) =
      CellOut(SSTableFormat.KindColumn, n, v.getBytes, ts, None, None, None)
    write("ks-cf-jb-1-Data.db", Seq(cell(longB(2L), "two", 10L), cell(longB(-1L), "neg-old", 5L)))
    write("ks-cf-jb-2-Data.db", Seq(cell(longB(-1L), "neg-new", 20L), cell(longB(100L), "hundred", 10L)))

    val atoms = GraftSSTable.readAtoms(spark, tmp.toString)
    val rows = GraftSSTable.compact(atoms, CassType.LongType, numPartitions = 2).collect()
    assert(rows.length == 1)
    val cols = rows.head.columns.map(c =>
      (ByteBuffer.wrap(c.name).getLong, new String(c.value)))
    // LWW on -1 picks ts=20; order is numeric: -1, 2, 100
    assert(cols == Seq((-1L, "neg-new"), (2L, "two"), (100L, "hundred")))

    // Composite(TimeUUID): time order differs from byte order
    val tmp2 = java.nio.file.Files.createTempDirectory("typedcomp2").toFile
    val earlier = composite(v1uuid(0xffffffffL, 0x0001, 0x001, 0x8000000000000000L))
    val later = composite(v1uuid(0x00000001L, 0x0002, 0x001, 0x8000000000000000L))
    val f2 = new java.io.DataOutputStream(new java.io.FileOutputStream(
      new java.io.File(tmp2, "ks-cf-jb-1-Data.db")))
    SSTableWriter.writeRow(f2, CompactedRow("key1".getBytes, Long.MinValue,
      Seq(cell(earlier, "early", 1L), cell(later, "late", 1L))), SSTableVersion("jb"))
    f2.close()
    val ct = CassType.CompositeType(Seq(CassType.TimeUUIDType))
    val atoms2 = GraftSSTable.readAtoms(spark, tmp2.toString)
    val rows2 = GraftSSTable.compact(atoms2, ct, numPartitions = 2).collect()
    assert(rows2.head.columns.map(c => new String(c.value)) == Seq("early", "late"))
    // and under the default binary comparator the byte order wins instead
    val rowsRaw = GraftSSTable.compact(atoms2, numPartitions = 2).collect()
    assert(rowsRaw.head.columns.map(c => new String(c.value)) == Seq("late", "early"))
  }

  test("cql reader option configures comparator + rendering end-to-end (CFMetadataUtility analog)") {
    val tmp = java.nio.file.Files.createTempDirectory("cqlopt").toFile
    val earlyUuid = v1uuid(0xffffffffL, 0x0001, 0x001, 0x8000000000000000L)
    val lateUuid = v1uuid(0x00000001L, 0x0002, 0x001, 0x8000000000000000L)
    def cell(n: Array[Byte], v: String, ts: Long) =
      CellOut(SSTableFormat.KindColumn, n, v.getBytes, ts, None, None, None)
    val f = new java.io.DataOutputStream(new java.io.FileOutputStream(
      new java.io.File(tmp, "ks-tbl-jb-1-Data.db")))
    SSTableWriter.writeRow(f, CompactedRow("key1".getBytes, Long.MinValue, Seq(
      cell(composite(earlyUuid, "val".getBytes), "early", 1L),
      cell(composite(lateUuid, "val".getBytes), "late", 1L))), SSTableVersion("jb"))
    f.close()

    val ddl = """CREATE TABLE ks.tbl (id blob, ck timeuuid, val text,
      PRIMARY KEY (id, ck))"""
    val atoms = GraftSSTable.readAtoms(spark, tmp.toString, Map("cql" -> ddl))
    assert(GraftSSTable.configuredKeyType(atoms).contains(CassType.BytesType))
    val comparator = GraftSSTable.configuredColumnType(atoms)
    assert(comparator.contains(
      CassType.CompositeType(Seq(CassType.TimeUUIDType, CassType.UTF8Type))))

    // no explicit comparator passed: compact picks it up from the scan
    val rows = GraftSSTable.compact(atoms, numPartitions = 2).collect()
    assert(rows.head.columns.map(c => new String(c.value)) == Seq("early", "late"),
      "cql-configured comparator must drive the shuffle sort")

    // rendering via the DDL-derived comparator: "(uuid, colname)"
    val line = Compaction.toAegJson(rows.head, nameType = comparator.get)
    assert(line.contains("ffffffff-0001-1001"), "rendered TimeUUID component")
    assert(line.contains(", val)"), "rendered UTF8 column-identifier component")

    // explicit columnType option overrides the cql derivation
    val over = GraftSSTable.readAtoms(spark, tmp.toString,
      Map("cql" -> ddl, "columnType" -> "LongType"))
    assert(GraftSSTable.configuredColumnType(over).contains(CassType.LongType))

    // bad marshal names fail at plan time
    intercept[Exception] {
      GraftSSTable.readAtoms(spark, tmp.toString, Map("columnType" -> "NopeType")).schema
    }
  }

  test("CLUSTERING ORDER BY DESC derives a ReversedType comparator that flips compaction order") {
    val ddl = """CREATE TABLE ks.tbl (id blob, ck bigint, val text,
      PRIMARY KEY (id, ck)) WITH CLUSTERING ORDER BY (ck DESC)"""
    val table = graft.cql.CqlTable.parse(ddl)
    assert(table.descClustering == Set("ck"))
    val cmp = table.comparatorMarshal
    assert(cmp == CassType.CompositeType(Seq(
      CassType.ReversedType(CassType.LongType), CassType.UTF8Type)))
    // round-trips through the schema-metadata option path
    assert(CassType.parse(cmp.typeName) == cmp)

    import spark.implicits._
    val atoms = Seq(
      atom("k1", composite(longB(1L), "val".getBytes), "one", 1L),
      atom("k1", composite(longB(5L), "val".getBytes), "five", 1L),
      atom("k1", composite(longB(3L), "val".getBytes), "three", 1L)).toDS().toDF()
    val rows = GraftSSTable.compact(atoms, cmp, numPartitions = 2).collect()
    assert(rows.head.columns.map(c => new String(c.value)) == Seq("five", "three", "one"),
      "DESC clustering key must compact in descending order")
  }
}
