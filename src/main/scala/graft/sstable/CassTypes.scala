package graft.sstable

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{types => sql}

/** Minimal clean-room Cassandra marshal-type system (SURVEY §2.8 X1/X2):
  * parse type-name strings and render byte values as display strings,
  * mirroring `AbstractType.getString` behavior for the types the
  * reference exercises (`output/JsonOutputFormat.java:49-60,92-106`).
  * BytesType (the default everywhere) renders lowercase hex. The same
  * types type the columns of a CQL table ([[graft.cql.CqlTable]]):
  * they order its keys and decode its values ([[compose]]). */
sealed trait CassType {
  def getString(bytes: Array[Byte]): String
  /** Spark type of [[compose]]'s value: the column type of the CQL
    * pivot's relational schema. */
  def sparkType: sql.DataType = sql.StringType
  /** the value the CQL pivot puts in a `Row` (`AbstractType.compose`).
    * The default is the rendered string, lossless at any length; types
    * with a native Spark counterpart override both, following the
    * reference's Hive-friendly mapping
    * (`org/coursera/mapreducer/CQLMapper.java:159-189`). */
  def compose(bytes: Array[Byte]): Any = getString(bytes)
  /** The type's order (O1, the `aegisthus.columntype` comparator —
    * reference `AegisthusKeySortingComparator.java:35-61`), stated once
    * as a binary encoding: names order as their sort keys do under
    * unsigned byte comparison (`java.util.Arrays.compareUnsigned`, the
    * order of Spark's BinaryType). The compaction shuffle sorts on these
    * keys and the merge compares them for LWW adjacency and
    * range-tombstone coverage; byte-distinct names with equal keys
    * (Decimal 2.5 and 2.50) are one name. Identity for types ordered by
    * their unsigned bytes; a name too short for its type keys as its
    * raw bytes. */
  def sortKey(bytes: Array[Byte]): Array[Byte] = bytes
  /** canonical parseable name (inverse of [[CassType.parse]]). */
  def typeName: String = toString
}

object CassType {
  private val hexChars = "0123456789abcdef".toCharArray

  def hex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      sb.append(hexChars(b >> 4)).append(hexChars(b & 0xf))
      i += 1
    }
    sb.toString
  }

  /** 8-byte big-endian with the sign bit flipped — signed-long order
    * under unsigned byte comparison. */
  private[sstable] def signedLongKey(v: Long): Array[Byte] = {
    val flipped = v ^ Long.MinValue
    val out = new Array[Byte](8)
    var i = 0
    while (i < 8) { out(i) = (flipped >>> (56 - 8 * i)).toByte; i += 1 }
    out
  }

  private[sstable] def signedIntKey(v: Int): Array[Byte] = {
    val flipped = v ^ Int.MinValue
    Array((flipped >>> 24).toByte, (flipped >>> 16).toByte,
      (flipped >>> 8).toByte, flipped.toByte)
  }

  /** Unsigned 8-byte big-endian (for non-negative values, e.g. the
    * 60-bit TimeUUID timestamp). */
  private[sstable] def unsignedLongKey(v: Long): Array[Byte] = {
    val out = new Array[Byte](8)
    var i = 0
    while (i < 8) { out(i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
    out
  }

  /** Escape (0x00 -> 0x00 0xFF) and terminate (0x00 0x00) — the
    * standard memcomparable component encoding: concatenated encoded
    * components compare like the component sequence (shorter prefix
    * first), because the terminator is strictly below any escaped
    * content byte. */
  private[sstable] def escapeTerminate(b: Array[Byte]): Array[Byte] = {
    var zeros = 0
    var i = 0
    while (i < b.length) { if (b(i) == 0) zeros += 1; i += 1 }
    val out = new Array[Byte](b.length + zeros + 2)
    var j = 0
    i = 0
    while (i < b.length) {
      if (b(i) == 0) { out(j) = 0; out(j + 1) = 0xff.toByte; j += 2 }
      else { out(j) = b(i); j += 1 }
      i += 1
    }
    // trailing 0x00 0x00 terminator already zero-initialized
    out
  }

  private[sstable] def invert(b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](b.length)
    var i = 0
    while (i < b.length) { out(i) = (~b(i)).toByte; i += 1 }
    out
  }

  /** Order-preserving encoding for arbitrary-precision integers:
    * sign marker (0x7F neg / 0x80 zero / 0x81 pos), then magnitude
    * length (4-byte BE; inverted for negatives so longer = smaller),
    * then magnitude bytes (inverted for negatives). */
  private[sstable] def varintKey(v: java.math.BigInteger): Array[Byte] = {
    val s = v.signum()
    if (s == 0) return Array(0x80.toByte)
    val mag = v.abs().toByteArray.dropWhile(_ == 0)
    val lenKey = Array((mag.length >>> 24).toByte, (mag.length >>> 16).toByte,
      (mag.length >>> 8).toByte, mag.length.toByte)
    if (s > 0) Array(0x81.toByte) ++ lenKey ++ mag
    else Array(0x7f.toByte) ++ invert(lenKey) ++ invert(mag)
  }

  /** Order-preserving encoding for decimals: normalize to
    * 0.digits x 10^e (stripTrailingZeros), then sign marker
    * (0x80 neg / 0x81 zero / 0x82 pos), adjusted-exponent key, digit
    * bytes, terminator — exponent/digits/terminator inverted for
    * negatives so prefix ordering reverses correctly. */
  private[sstable] def decimalKey(v: java.math.BigDecimal): Array[Byte] = {
    val s = v.signum()
    if (s == 0) return Array(0x81.toByte)
    val n = v.stripTrailingZeros()
    val digits = n.unscaledValue().abs().toString.getBytes
    val e = n.precision() - n.scale() // value = 0.digits * 10^e
    if (s > 0) Array(0x82.toByte) ++ signedIntKey(e) ++ digits ++ Array(0x00.toByte)
    else Array(0x80.toByte) ++ invert(signedIntKey(e)) ++ invert(digits) ++ Array(0xff.toByte)
  }

  case object BytesType extends CassType {
    override def getString(bytes: Array[Byte]): String = hex(bytes)
    override def sparkType: sql.DataType = sql.BinaryType
    override def compose(bytes: Array[Byte]): Any = bytes
  }
  case object UTF8Type extends CassType {
    override def getString(bytes: Array[Byte]): String = new String(bytes, StandardCharsets.UTF_8)
  }
  case object AsciiType extends CassType {
    override def getString(bytes: Array[Byte]): String = new String(bytes, StandardCharsets.US_ASCII)
  }
  case object LongType extends CassType {
    override def getString(bytes: Array[Byte]): String =
      if (bytes.isEmpty) "" else ByteBuffer.wrap(bytes).getLong.toString
    override def sortKey(bytes: Array[Byte]): Array[Byte] =
      if (bytes.length < 8) bytes else signedLongKey(ByteBuffer.wrap(bytes).getLong)
    override def sparkType: sql.DataType = sql.LongType
    override def compose(bytes: Array[Byte]): Any = ByteBuffer.wrap(bytes).getLong
  }
  case object Int32Type extends CassType {
    override def getString(bytes: Array[Byte]): String =
      if (bytes.isEmpty) "" else ByteBuffer.wrap(bytes).getInt.toString
    override def sortKey(bytes: Array[Byte]): Array[Byte] =
      if (bytes.length < 4) bytes else signedIntKey(ByteBuffer.wrap(bytes).getInt)
    override def sparkType: sql.DataType = sql.IntegerType
    override def compose(bytes: Array[Byte]): Any = ByteBuffer.wrap(bytes).getInt
  }
  case object UUIDType extends CassType {
    override def getString(bytes: Array[Byte]): String = {
      val bb = ByteBuffer.wrap(bytes)
      new java.util.UUID(bb.getLong, bb.getLong).toString
    }
  }
  /** Time-ordered UUIDs (version-1 timestamp first, then bytes) —
    * Cassandra TimeUUIDType semantics. */
  case object TimeUUIDType extends CassType {
    override def getString(bytes: Array[Byte]): String = UUIDType.getString(bytes)
    override def sortKey(bytes: Array[Byte]): Array[Byte] = {
      if (bytes.length < 8) return bytes
      val msb = ByteBuffer.wrap(bytes).getLong
      // RFC 4122 v1: time_low(32) | time_mid(16) | ver(4)+time_hi(12)
      val t = ((msb & 0x0fffL) << 48) | (((msb >> 16) & 0xffffL) << 32) | (msb >>> 32)
      // 60-bit timestamp is non-negative: plain unsigned BE, then the
      // raw bytes break ties (all TimeUUIDs are 16 bytes, so the
      // variable tail never changes relative order)
      unsignedLongKey(t) ++ bytes
    }
  }
  case object BooleanType extends CassType {
    override def getString(bytes: Array[Byte]): String =
      if (bytes.isEmpty) "" else (bytes(0) != 0).toString
    override def sparkType: sql.DataType = sql.BooleanType
    override def compose(bytes: Array[Byte]): Any = bytes.nonEmpty && bytes(0) != 0
  }
  case object FloatType extends CassType {
    override def getString(bytes: Array[Byte]): String =
      if (bytes.isEmpty) "" else ByteBuffer.wrap(bytes).getFloat.toString
    override def sortKey(bytes: Array[Byte]): Array[Byte] = {
      if (bytes.length < 4) return bytes
      // IEEE754 total-order trick matching Float.compare (canonical
      // NaN via floatToIntBits): positives flip the sign bit,
      // negatives flip every bit
      val bits = java.lang.Float.floatToIntBits(ByteBuffer.wrap(bytes).getFloat)
      val k = if (bits < 0) ~bits else bits ^ Int.MinValue
      Array((k >>> 24).toByte, (k >>> 16).toByte, (k >>> 8).toByte, k.toByte)
    }
    override def sparkType: sql.DataType = sql.FloatType
    override def compose(bytes: Array[Byte]): Any = ByteBuffer.wrap(bytes).getFloat
  }
  case object DoubleType extends CassType {
    override def getString(bytes: Array[Byte]): String =
      if (bytes.isEmpty) "" else ByteBuffer.wrap(bytes).getDouble.toString
    override def sortKey(bytes: Array[Byte]): Array[Byte] = {
      if (bytes.length < 8) return bytes
      val bits = java.lang.Double.doubleToLongBits(ByteBuffer.wrap(bytes).getDouble)
      val k = if (bits < 0) ~bits else bits ^ Long.MinValue
      val out = new Array[Byte](8)
      var i = 0
      while (i < 8) { out(i) = (k >>> (56 - 8 * i)).toByte; i += 1 }
      out
    }
    override def sparkType: sql.DataType = sql.DoubleType
    override def compose(bytes: Array[Byte]): Any = ByteBuffer.wrap(bytes).getDouble
  }
  /** composes to epoch millis, as the reference does. */
  case object TimestampType extends CassType {
    override def getString(bytes: Array[Byte]): String = LongType.getString(bytes)
    override def sparkType: sql.DataType = sql.LongType
    override def compose(bytes: Array[Byte]): Any = LongType.compose(bytes)
  }
  case object ShortType extends CassType {
    override def getString(bytes: Array[Byte]): String =
      if (bytes.isEmpty) "" else ByteBuffer.wrap(bytes).getShort.toString
    override def sortKey(bytes: Array[Byte]): Array[Byte] =
      if (bytes.length < 2) bytes
      else Array(((bytes(0) ^ 0x80) & 0xff).toByte, bytes(1))
    override def sparkType: sql.DataType = sql.ShortType
    override def compose(bytes: Array[Byte]): Any = ByteBuffer.wrap(bytes).getShort
  }
  case object ByteType extends CassType {
    override def getString(bytes: Array[Byte]): String =
      if (bytes.isEmpty) "" else bytes(0).toString
    override def sortKey(bytes: Array[Byte]): Array[Byte] =
      if (bytes.isEmpty) bytes else Array(((bytes(0) ^ 0x80) & 0xff).toByte)
    override def sparkType: sql.DataType = sql.ByteType
    override def compose(bytes: Array[Byte]): Any = bytes(0)
  }
  /** Cassandra `IntegerType` is the arbitrary-precision varint
    * (two's-complement minimal big-endian bytes). */
  case object IntegerType extends CassType {
    override def getString(bytes: Array[Byte]): String =
      if (bytes.isEmpty) "" else new java.math.BigInteger(bytes).toString
    override def sortKey(bytes: Array[Byte]): Array[Byte] =
      if (bytes.isEmpty) bytes else varintKey(new java.math.BigInteger(bytes))
  }
  /** DecimalType: [i32 scale][varint unscaled]. */
  case object DecimalType extends CassType {
    private def decode(bytes: Array[Byte]): java.math.BigDecimal = {
      val bb = ByteBuffer.wrap(bytes)
      val scale = bb.getInt
      val rest = new Array[Byte](bb.remaining())
      bb.get(rest)
      new java.math.BigDecimal(new java.math.BigInteger(rest), scale)
    }
    override def getString(bytes: Array[Byte]): String =
      if (bytes.isEmpty) "" else decode(bytes).toPlainString
    override def sortKey(bytes: Array[Byte]): Array[Byte] =
      if (bytes.length < 4) bytes else decimalKey(decode(bytes))
  }
  case object InetAddressType extends CassType {
    override def getString(bytes: Array[Byte]): String =
      java.net.InetAddress.getByAddress(bytes).getHostAddress
  }
  case object EmptyType extends CassType {
    override def getString(bytes: Array[Byte]): String = ""
    override def sortKey(bytes: Array[Byte]): Array[Byte] = Array.emptyByteArray
  }
  final case class ReversedType(base: CassType) extends CassType {
    override def getString(bytes: Array[Byte]): String = base.getString(bytes)
    // escape+terminate makes variable-length keys safely invertible:
    // plain bit-inversion alone would NOT reverse prefix ordering
    override def sortKey(bytes: Array[Byte]): Array[Byte] =
      invert(escapeTerminate(base.sortKey(bytes)))
    override def typeName: String = s"ReversedType(${base.typeName})"
  }

  /** CQL collections (`list<e>`, `set<e>`, `map<k,v>`): a collection
    * is one cell per element, so the CQL pivot composes its elements
    * cell by cell; a whole value renders as hex. The reference rejects
    * collections (`CQLMapper.java:150-153`); supporting them is a
    * deliberate superset (SURVEY §1.3). */
  sealed trait CollectionType extends CassType {
    override def getString(bytes: Array[Byte]): String = hex(bytes)
    override def compose(bytes: Array[Byte]): Any =
      throw new UnsupportedOperationException(s"$typeName composes per element cell")
  }
  final case class ListType(elem: CassType) extends CollectionType {
    override def sparkType: sql.DataType = sql.ArrayType(elem.sparkType)
    override def typeName: String = s"ListType(${elem.typeName})"
  }
  final case class SetType(elem: CassType) extends CollectionType {
    override def sparkType: sql.DataType = sql.ArrayType(elem.sparkType)
    override def typeName: String = s"SetType(${elem.typeName})"
  }
  final case class MapType(key: CassType, value: CassType) extends CollectionType {
    override def sparkType: sql.DataType = sql.MapType(key.sparkType, value.sparkType)
    override def typeName: String = s"MapType(${key.typeName},${value.typeName})"
  }

  /** CompositeType: components encoded as [u16 len][bytes][u8 eoc]...;
    * renders as Cassandra does for CQL3 names (hex of raw by default —
    * the reference renders composite names via the configured
    * comparator; with BytesType that is plain hex, which the goldens
    * use, so Composite rendering is only needed for explicit
    * composite-typed configs). A 2.0 static column's name starts with
    * the 0xFFFF marker and has empty clustering components. As in
    * Cassandra's `AbstractCompositeType`, the empty name sorts first,
    * then static names, then all others; an empty component sorts
    * before any other value of its type (`AbstractType`'s rule, kept
    * by `ReversedType` too). */
  final case class CompositeType(components: Seq[CassType]) extends CassType {
    override def getString(bytes: Array[Byte]): String = {
      val parts = CompositeType.split(bytes).zipWithIndex.map { case (c, i) =>
        components.lift(i).getOrElse(BytesType).getString(c)
      }
      parts.mkString("(", ", ", ")")
    }
    override def typeName: String =
      s"CompositeType(${components.map(_.typeName).mkString(",")})"
    /** empty name -> empty key; otherwise a 0x00 (static) or 0x01
      * prefix, then the escaped-and-terminated component keys. */
    override def sortKey(bytes: Array[Byte]): Array[Byte] = {
      if (bytes.isEmpty) return bytes
      val parts = CompositeType.split(bytes)
      val encoded = new Array[Array[Byte]](parts.length)
      var total = 1
      var i = 0
      while (i < parts.length) {
        val t = components.lift(i).getOrElse(BytesType)
        encoded(i) = escapeTerminate(if (parts(i).isEmpty) parts(i) else t.sortKey(parts(i)))
        total += encoded(i).length
        i += 1
      }
      val out = new Array[Byte](total)
      out(0) = if (CompositeType.isStatic(bytes)) 0 else 1
      var off = 1
      i = 0
      while (i < encoded.length) {
        System.arraycopy(encoded(i), 0, out, off, encoded(i).length)
        off += encoded(i).length
        i += 1
      }
      out
    }
  }

  object CompositeType {
    private val StaticMarker = 0xffff

    /** a 2.0 static column's name: the composite opens with 0xFFFF. */
    def isStatic(bytes: Array[Byte]): Boolean =
      bytes.length >= 2 && (((bytes(0) & 0xff) << 8) | (bytes(1) & 0xff)) == StaticMarker

    /** split composite-encoded bytes into component byte arrays (X4),
      * skipping a static marker. */
    def split(bytes: Array[Byte]): Array[Array[Byte]] = {
      val out = Array.newBuilder[Array[Byte]]
      val bb = ByteBuffer.wrap(bytes)
      if (isStatic(bytes)) bb.position(2)
      while (bb.remaining() > 0) {
        val len = bb.getShort & 0xffff
        val comp = new Array[Byte](len)
        bb.get(comp)
        if (bb.remaining() > 0) bb.get() // end-of-component byte
        out += comp
      }
      out.result()
    }
  }

  /** Parse a Cassandra type-name string (subset of TypeParser). */
  def parse(name: String): CassType = {
    val trimmed = name.trim.stripPrefix("org.apache.cassandra.db.marshal.")
    val paren = trimmed.indexOf('(')
    val base = if (paren >= 0) trimmed.substring(0, paren) else trimmed
    val args = if (paren >= 0) splitTop(trimmed.substring(paren + 1, trimmed.lastIndexOf(')'))) else Nil
    base match {
      case "BytesType" => BytesType
      case "UTF8Type" => UTF8Type
      case "AsciiType" => AsciiType
      case "LongType" => LongType
      case "Int32Type" => Int32Type
      case "ShortType" => ShortType
      case "ByteType" => ByteType
      case "IntegerType" => IntegerType
      case "DecimalType" => DecimalType
      case "InetAddressType" => InetAddressType
      case "EmptyType" => EmptyType
      case "UUIDType" | "LexicalUUIDType" => UUIDType
      case "TimeUUIDType" => TimeUUIDType
      case "TimestampType" | "DateType" => TimestampType
      case "BooleanType" => BooleanType
      case "FloatType" => FloatType
      case "DoubleType" => DoubleType
      case "ReversedType" => ReversedType(parse(args.head))
      case "CompositeType" => CompositeType(args.map(parse))
      case "ListType" => ListType(parse(args.head))
      case "SetType" => SetType(parse(args.head))
      case "MapType" => MapType(parse(args.head), parse(args(1)))
      case other => throw new IllegalArgumentException(s"Unsupported Cassandra type: $other")
    }
  }

  /** Split on the commas outside any `<>` or `()` nesting: the
    * arguments of a marshal type (`CompositeType(A, B)`) or of a CQL
    * collection (`map<k, v>`), and the column list of a CQL DDL. */
  def splitTop(s: String): List[String] = {
    val out = List.newBuilder[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c =>
        if (c == '<' || c == '(') depth += 1
        if (c == '>' || c == ')') depth -= 1
        cur.append(c)
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
