package graft.sstable

import java.io.{DataInputStream, EOFException, InputStream}

/** Clean-room model of the pre-3.0 Cassandra SSTable on-disk format,
  * derived from the reference's scan/write behavior
  * (`/root/reference/aegisthus-hadoop/.../io/sstable/SSTableColumnScanner.java:71-167`,
  * `output/SSTableOutputFormat.java:83-112`) and fixture hexdumps.
  *
  * Row layout:
  * {{{
  * [u16 keyLen][key]
  * [i64 rowSize]                 (only versions < "ja", e.g. "ic")
  * [i32 localDeletionTime][i64 markedForDeleteAt]
  * [i32 columnCount]             (only versions < "ja")
  * cells... ([u16 0] END_OF_ROW marker for versions >= "ja")
  * }}}
  *
  * Cell layout: `[u16 nameLen][name][u8 flags]` then by flags:
  *  - RANGE_TOMBSTONE (0x10): [u16 maxLen][max][i32 ldt][i64 markedForDeleteAt]
  *  - COUNTER (0x04):   [i64 timestampOfLastDelete][i64 ts][i32 len][value]
  *  - EXPIRING (0x02):  [i32 ttl][i32 ldt][i64 ts][i32 len][value]
  *  - otherwise:        [i64 ts][i32 len][value]; DELETED if flags&0x01
  */
object SSTableFormat {
  val DeletionMask = 0x01
  val ExpirationMask = 0x02
  val CounterMask = 0x04
  val CounterUpdateMask = 0x08
  val RangeTombstoneMask = 0x10

  /** Atom kinds mirroring SURVEY §1.1 (c/d/e/x columns, rt, row marker). */
  val KindColumn = "c"
  val KindDeleted = "d"
  val KindExpiring = "e"
  val KindCounter = "x"
  val KindRangeTombstone = "rt"
  val KindEmptyRow = "row"
}

/** SSTable format version; ordering matches Cassandra's lexicographic
  * version strings ("ic" < "ja" <= "jb" < "la"). */
final case class SSTableVersion(name: String) {
  /** versions before "ja" store [i64 rowSize] + [i32 columnCount] and
    * have no END_OF_ROW marker. */
  val hasRowSizeAndColumnCount: Boolean = name < "ja"
}

object SSTableVersion {
  val Current: SSTableVersion = SSTableVersion("la")

  /** Sniff the format version from an sstable filename — handles both
    * legacy `ks-cf-<ver>-<gen>-Data.db` and 2.2+ `<ver>-<gen>-big-Data.db`
    * names; unknown names fall back to Current (reference:
    * `input/readers/SSTableRecordReader.java:99-104`). The version is
    * the two-letter token followed by the numeric generation, so a
    * two-letter keyspace or table name is not mistaken for it. */
  def fromFilename(fileName: String): SSTableVersion =
    fileName.split('-').sliding(2).collectFirst {
      case Array(v, gen) if v.length == 2 && v.forall(c => c >= 'a' && c <= 'z') &&
          gen.nonEmpty && gen.forall(_.isDigit) => SSTableVersion(v)
    }.getOrElse(Current)
}

/** One cell/tombstone/row-marker from one source file — the engine's
  * fundamental dataflow unit (SURVEY §1.1 "Atom"). */
final case class AtomRec(
    key: Array[Byte],
    source: String,
    rowDeletedAt: Long,
    kind: String,
    name: Array[Byte],
    value: Array[Byte],
    ts: Option[Long],
    ttl: Option[Int],
    localDeletionTime: Option[Int],
    tsOfLastDelete: Option[Long],
    rtMax: Array[Byte]) {

  /** On-disk size accounting for the maxRowSize guards (reference
    * `CassSSTableReducer.java:89-96`, `JsonOutputFormat.java:127-146`). */
  def serializedSize: Long = kind match {
    case SSTableFormat.KindRangeTombstone =>
      2L + name.length + 1 + 2 + rtMax.length + 4 + 8
    case SSTableFormat.KindCounter => 2L + name.length + 1 + 8 + 8 + 4 + value.length
    case SSTableFormat.KindExpiring => 2L + name.length + 1 + 4 + 4 + 8 + 4 + value.length
    case SSTableFormat.KindEmptyRow => 0L
    case _ => 2L + name.length + 1 + 8 + 4 + value.length
  }
}

/** Streaming single-pass deserializer of a Data.db byte range
  * [start, end) into atoms — the Spark-side S1 operator. The stream
  * must already be positioned at `start` (and decompressed);
  * consumed-byte accounting replaces the reference's manual size
  * arithmetic. */
final class SSTableScanner(
    rawIn: InputStream,
    start: Long,
    end: Long,
    version: SSTableVersion,
    source: String) extends Iterator[AtomRec] with AutoCloseable {

  private var pos = start
  private val in = new DataInputStream(new InputStream {
    override def read(): Int = { val b = rawIn.read(); if (b >= 0) pos += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = rawIn.read(b, off, len); if (n > 0) pos += n; n
    }
  })

  private var queue: List[AtomRec] = Nil
  private var finished = false

  override def hasNext: Boolean = {
    while (queue.isEmpty && !finished) {
      if (pos >= end) finished = true else readRow()
    }
    queue.nonEmpty
  }

  override def next(): AtomRec = {
    if (!hasNext) throw new NoSuchElementException
    val a = queue.head
    queue = queue.tail
    a
  }

  override def close(): Unit = rawIn.close()

  private def readFully(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    in.readFully(b)
    b
  }

  private def readRow(): Unit = {
    val keyLen =
      try in.readUnsignedShort()
      catch { case _: EOFException => finished = true; return }
    val key = readFully(keyLen)
    if (version.hasRowSizeAndColumnCount) in.readLong() // rowSize — unused, pos tracking replaces it
    in.readInt() // row localDeletionTime — reference ignores it too
    val markedForDeleteAt = in.readLong()
    val columnCount = if (version.hasRowSizeAndColumnCount) in.readInt() else Int.MaxValue

    var produced = 0
    var i = 0
    var endOfRow = false
    val buf = List.newBuilder[AtomRec]
    while (i < columnCount && !endOfRow) {
      val nameLen = in.readUnsignedShort()
      if (nameLen == 0 && !version.hasRowSizeAndColumnCount) {
        endOfRow = true // END_OF_ROW marker
      } else {
        val name = readFully(nameLen)
        val flags = in.readUnsignedByte()
        import SSTableFormat._
        val atom: AtomRec =
          if ((flags & RangeTombstoneMask) != 0) {
            val maxLen = in.readUnsignedShort()
            val max = readFully(maxLen)
            val ldt = in.readInt()
            val mfda = in.readLong()
            AtomRec(key, source, markedForDeleteAt, KindRangeTombstone, name, Array.emptyByteArray,
              Some(mfda), None, Some(ldt), None, max)
          } else if ((flags & CounterMask) != 0) {
            val tsOfLastDelete = in.readLong()
            val ts = in.readLong()
            val value = readFully(in.readInt())
            AtomRec(key, source, markedForDeleteAt, KindCounter, name, value,
              Some(ts), None, None, Some(tsOfLastDelete), null)
          } else if ((flags & ExpirationMask) != 0) {
            val ttl = in.readInt()
            val ldt = in.readInt()
            val ts = in.readLong()
            val value = readFully(in.readInt())
            AtomRec(key, source, markedForDeleteAt, KindExpiring, name, value,
              Some(ts), Some(ttl), Some(ldt), None, null)
          } else {
            val ts = in.readLong()
            val value = readFully(in.readInt())
            val kind = if ((flags & DeletionMask) != 0) KindDeleted else KindColumn
            AtomRec(key, source, markedForDeleteAt, kind, name, value,
              Some(ts), None, None, None, null)
          }
        buf += atom
        produced += 1
      }
      i += 1
    }
    if (produced == 0)
      // empty-row preservation (reference SSTableColumnScanner.java:161-164)
      buf += AtomRec(key, source, markedForDeleteAt, SSTableFormat.KindEmptyRow,
        null, Array.emptyByteArray, None, None, None, None, null)
    queue = buf.result()
  }
}

/** Index.db scanner: yields each row's Data.db offset for split
  * planning (reference `io/sstable/IndexDatabaseScanner.java:60-85`). */
object IndexScanner {
  def dataOffsets(in: InputStream): Iterator[Long] = {
    val d = new DataInputStream(in)
    new Iterator[Long] {
      private var nextOffset: Option[Long] = advance()
      private def advance(): Option[Long] =
        try {
          val keyLen = d.readUnsignedShort()
          d.skipBytes(keyLen)
          val dataOffset = d.readLong()
          val promoted = d.readInt()
          if (promoted > 0) {
            var left = promoted.toLong
            while (left > 0) {
              val s = d.skip(left)
              if (s <= 0) throw new EOFException("bad promoted index")
              left -= s
            }
          }
          Some(dataOffset)
        } catch { case _: EOFException => None }
      override def hasNext: Boolean = nextOffset.isDefined
      override def next(): Long = {
        val v = nextOffset.get
        nextOffset = advance()
        v
      }
    }
  }
}
