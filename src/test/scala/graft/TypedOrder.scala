package graft

import java.nio.ByteBuffer

import graft.sstable.CassType
import graft.sstable.CassType._

/** Test oracle for Cassandra's typed name orders, stated independently
  * of [[CassType.sortKey]]: each value is decoded and compared with the
  * Scala/JDK ordering of its type. Nothing here calls into `src/main`
  * beyond matching on the type's case.
  *
  *  - Long, Int32, Short, Byte: signed integer order;
  *  - Float, Double: `Float.compare` / `Double.compare` (-0.0 below 0.0,
  *    NaN last);
  *  - Integer (varint): `BigInteger`; Decimal: `BigDecimal` by value,
  *    so 2.5 and 2.50 are equal;
  *  - TimeUUID: version-1 timestamp, then unsigned bytes;
  *  - Reversed: the base order negated; Empty: every value equal;
  *  - Composite: the empty name first, then static (0xFFFF) names, then
  *    component-wise with an empty component first, fewer components
  *    first;
  *  - every other type: unsigned bytes. */
object TypedOrder {

  def compare(t: CassType, a: Array[Byte], b: Array[Byte]): Int = t match {
    case LongType => java.lang.Long.compare(wrap(a).getLong, wrap(b).getLong)
    case Int32Type => java.lang.Integer.compare(wrap(a).getInt, wrap(b).getInt)
    case ShortType => java.lang.Short.compare(wrap(a).getShort, wrap(b).getShort)
    case ByteType => java.lang.Byte.compare(a(0), b(0))
    case FloatType => java.lang.Float.compare(wrap(a).getFloat, wrap(b).getFloat)
    case DoubleType => java.lang.Double.compare(wrap(a).getDouble, wrap(b).getDouble)
    case IntegerType => new java.math.BigInteger(a).compareTo(new java.math.BigInteger(b))
    case DecimalType => decimal(a).compareTo(decimal(b))
    case TimeUUIDType =>
      val byTime = java.lang.Long.compare(uuidTime(a), uuidTime(b))
      if (byTime != 0) byTime else unsigned(a, b)
    case EmptyType => 0
    case ReversedType(base) => -compare(base, a, b)
    case CompositeType(components) => composite(components, a, b)
    case _ => unsigned(a, b)
  }

  private def wrap(x: Array[Byte]): ByteBuffer = ByteBuffer.wrap(x)

  private def unsigned(a: Array[Byte], b: Array[Byte]): Int = java.util.Arrays.compareUnsigned(a, b)

  /** DecimalType wire format: [i32 scale][varint unscaled]. */
  private def decimal(x: Array[Byte]): java.math.BigDecimal =
    new java.math.BigDecimal(new java.math.BigInteger(x.drop(4)), wrap(x).getInt)

  /** RFC 4122 v1: time_low(32) | time_mid(16) | version(4) + time_hi(12). */
  private def uuidTime(x: Array[Byte]): Long = {
    val msb = wrap(x).getLong
    ((msb & 0x0fffL) << 48) | (((msb >> 16) & 0xffffL) << 32) | (msb >>> 32)
  }

  private def isStatic(x: Array[Byte]): Boolean =
    x.length >= 2 && (x(0) & 0xff) == 0xff && (x(1) & 0xff) == 0xff

  /** [u16 len][bytes][u8 end-of-component] per component, after an
    * optional static marker. */
  private def components(x: Array[Byte]): List[Array[Byte]] = {
    val bb = wrap(x)
    if (isStatic(x)) bb.position(2)
    val out = List.newBuilder[Array[Byte]]
    while (bb.hasRemaining) {
      val c = new Array[Byte](bb.getShort & 0xffff)
      bb.get(c)
      if (bb.hasRemaining) bb.get()
      out += c
    }
    out.result()
  }

  /** for a pair where at least one side is empty */
  private def emptyFirst(a: Array[Byte], b: Array[Byte]): Int =
    java.lang.Boolean.compare(a.nonEmpty, b.nonEmpty)

  private def composite(types: Seq[CassType], a: Array[Byte], b: Array[Byte]): Int =
    if (a.isEmpty || b.isEmpty) emptyFirst(a, b)
    else if (isStatic(a) != isStatic(b)) (if (isStatic(a)) -1 else 1)
    else {
      val (as, bs) = (components(a), components(b))
      as.zip(bs).zipWithIndex.iterator.map { case ((x, y), i) =>
        if (x.isEmpty || y.isEmpty) emptyFirst(x, y)
        else compare(types.lift(i).getOrElse(BytesType), x, y)
      }.find(_ != 0).getOrElse(java.lang.Integer.compare(as.length, bs.length))
    }
}
