package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sstable.CassType

/** Marshal-type system (X1/X2): parse, render, order (by sort key) —
  * incl. the newly covered Boolean/Float/Double and time-ordered
  * TimeUUID. */
class CassTypesSpec extends AnyFunSuite {
  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def keyOrder(t: CassType, x: Array[Byte], y: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(t.sortKey(x), t.sortKey(y))

  test("parse handles the full SURVEY X2 subset") {
    Seq("BytesType", "UTF8Type", "AsciiType", "LongType", "Int32Type",
      "UUIDType", "TimeUUIDType", "TimestampType", "BooleanType",
      "FloatType", "DoubleType", "ReversedType(LongType)",
      "CompositeType(Int32Type, UTF8Type)",
      "org.apache.cassandra.db.marshal.BytesType").foreach { n =>
      assert(CassType.parse(n) != null, n)
    }
    intercept[IllegalArgumentException](CassType.parse("NopeType"))
  }

  test("renders: boolean, float, double, long") {
    assert(CassType.parse("BooleanType").getString(b(1)) == "true")
    assert(CassType.parse("BooleanType").getString(b(0)) == "false")
    assert(CassType.parse("FloatType").getString(b(0x3f, 0x80, 0, 0)) == "1.0")
    assert(CassType.parse("DoubleType").getString(
      b(0x40, 0x09, 0x21, 0xfb, 0x54, 0x44, 0x2d, 0x18)).startsWith("3.14159"))
    assert(CassType.parse("LongType").getString(b(0, 0, 0, 0, 0, 0, 0, 16)) == "16")
  }

  test("TimeUUID orders by embedded timestamp, not bytes") {
    // v1 UUIDs: time_low is the HIGH bytes lexically but the LOW bits
    // of the timestamp — craft two where byte order and time order differ
    def v1(timeLow: Int, timeMid: Int, timeHi: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putInt(timeLow).putShort(timeMid.toShort).putShort((0x1000 | timeHi).toShort)
      bb.putLong(0x8000000000000000L)
      bb.array()
    }
    val earlier = v1(0xffffffff, 0x0001, 0x001) // huge time_low, small time_mid/hi
    val later = v1(0x00000001, 0x0002, 0x001)   // small time_low, bigger time_mid
    val t = CassType.parse("TimeUUIDType")
    assert(keyOrder(t, earlier, later) < 0, "time order must win")
    assert(java.util.Arrays.compareUnsigned(earlier, later) > 0, "byte order disagrees by construction")
  }

  test("ReversedType flips ordering; Composite compares per component") {
    val rev = CassType.parse("ReversedType(Int32Type)")
    assert(keyOrder(rev, b(0, 0, 0, 1), b(0, 0, 0, 2)) > 0)
    val comp = CassType.parse("CompositeType(Int32Type, UTF8Type)").asInstanceOf[CassType.CompositeType]
    def enc(i: Int, s: String): Array[Byte] = {
      val sb = s.getBytes
      val bb = java.nio.ByteBuffer.allocate(2 + 4 + 1 + 2 + sb.length + 1)
      bb.putShort(4).putInt(i).put(0.toByte).putShort(sb.length.toShort).put(sb).put(0.toByte)
      bb.array()
    }
    assert(keyOrder(comp, enc(1, "zzz"), enc(2, "aaa")) < 0)
    assert(keyOrder(comp, enc(2, "aaa"), enc(2, "abc")) < 0)
  }

  test("collection types round-trip through typeName and render hex") {
    import CassType._
    Seq(ListType(Int32Type), SetType(UTF8Type), MapType(UTF8Type, LongType),
      MapType(TimeUUIDType, ListType(ReversedType(DoubleType)))).foreach { t =>
      assert(CassType.parse(t.typeName) == t, t.typeName)
    }
    assert(CassType.parse("org.apache.cassandra.db.marshal.ListType(" +
      "org.apache.cassandra.db.marshal.Int32Type)") == ListType(Int32Type))
    assert(SetType(UTF8Type).getString(b(0, 1, 0xab)) == "0001ab")
  }
}
