package graft.sstable

import java.util.Arrays.compareUnsigned
import scala.collection.mutable.ArrayBuffer

/** One surviving cell of a compacted row. */
final case class CellOut(
    kind: String,
    name: Array[Byte],
    value: Array[Byte],
    ts: Long,
    ttl: Option[Int],
    localDeletionTime: Option[Int],
    tsOfLastDelete: Option[Long])

/** A compacted row: the A1 aggregation output (SURVEY §2.4). */
final case class CompactedRow(key: Array[Byte], deletedAt: Long, columns: Seq[CellOut])

/** Distributed-compaction merge (operator A1 + filters F1/F2/F3):
  * single-pass streaming merge over atoms sorted by (key, name, ts) —
  * the faithful port of the reference's `CassSSTableReducer.RowReducer`
  * (`mapreduce/CassSSTableReducer.java:120-192`) with Cassandra's
  * `RangeTombstone.Tracker` semantics. Rows stream; a row's surviving
  * cells are buffered until the row ends, bounded only by `maxRowSize`,
  * which drops the cells past it:
  *
  *  - row deletedAt = max over all fragments' markedForDeleteAt;
  *  - last-writer-wins per column name (strictly-greater timestamp
  *    replaces — first wins ties, matching `:154-163`);
  *  - a column is discarded if any open range tombstone covers its
  *    name with markedForDeleteAt >= column ts (`:142-153`);
  *  - range tombstones are never emitted (`:164-165,186-187`);
  *  - after the row: purge columns with ts <= deletedAt (`:183-191`);
  *  - rows left with zero columns are preserved (empty-row markers);
  *  - maxRowSize stops accumulation (F3, `:89-96`).
  *
  * Names are ordered by `nameType.sortKey` (the order the shuffle
  * sorted them in), compared as unsigned bytes.
  */
object Compaction {

  /** name ordering must match the shuffle sort order; default BytesType
    * (unsigned lexicographic — same as Spark's BinaryType ordering). */
  def merge(
      atoms: Iterator[AtomRec],
      nameType: CassType = CassType.BytesType,
      maxRowSize: Long = Long.MaxValue): Iterator[CompactedRow] =
    mergeImpl(atoms, nameType, maxRowSize, traceSource = false).map(_._2)

  /** Trace-source variant (O2): one compacted row per (key, sourcePath)
    * — source becomes part of the group, matching
    * `aegisthus.trace_source` (`SSTableRecordReader.java:133-141`).
    * Input must be sorted by (key, source, name, ts). */
  def mergeTraced(
      atoms: Iterator[AtomRec],
      nameType: CassType = CassType.BytesType,
      maxRowSize: Long = Long.MaxValue): Iterator[(String, CompactedRow)] =
    mergeImpl(atoms, nameType, maxRowSize, traceSource = true)

  private def mergeImpl(
      atoms: Iterator[AtomRec],
      nameType: CassType,
      maxRowSize: Long,
      traceSource: Boolean): Iterator[(String, CompactedRow)] =
    new Iterator[(String, CompactedRow)] {
      private val it = atoms.buffered
      override def hasNext: Boolean = it.hasNext
      override def next(): (String, CompactedRow) = {
        val key = it.head.key
        val source = it.head.source
        var deletedAt = Long.MinValue
        val columns = new ArrayBuffer[CellOut]()
        // (min, max, mfda), bounds as sort keys
        val openTombstones = new ArrayBuffer[(Array[Byte], Array[Byte], Long)]()
        var curr: CellOut = null
        var currKey: Array[Byte] = null // sort key of curr's name
        var totalSize = 0L
        var truncated = false

        while (it.hasNext && java.util.Arrays.equals(it.head.key, key) &&
            (!traceSource || it.head.source == source)) {
          val a = it.next()
          if (a.rowDeletedAt > deletedAt) deletedAt = a.rowDeletedAt
          if (a.kind != SSTableFormat.KindEmptyRow && !truncated) {
            totalSize += a.serializedSize
            if (totalSize > maxRowSize) {
              truncated = true // F3: stop accumulating, keep draining for deletedAt
            } else if (a.kind == SSTableFormat.KindRangeTombstone) {
              val mfda = a.ts.get
              val min = nameType.sortKey(a.name)
              val max = nameType.sortKey(a.rtMax)
              // an older cell named exactly at the lower bound sorts
              // BEFORE the tombstone (name, then ts): it is still pending
              if (curr != null && mfda >= curr.ts &&
                  compareUnsigned(min, currKey) <= 0 && compareUnsigned(currKey, max) <= 0) curr = null
              openTombstones += ((min, max, mfda))
            } else {
              val nameKey = nameType.sortKey(a.name)
              // expire tombstones that end before this column's name
              var i = 0
              while (i < openTombstones.length) {
                if (compareUnsigned(openTombstones(i)._2, nameKey) < 0) {
                  openTombstones.remove(i)
                } else i += 1
              }
              val ts = a.ts.get
              val deletedByRt = openTombstones.exists { case (min, max, mfda) =>
                compareUnsigned(min, nameKey) <= 0 && compareUnsigned(nameKey, max) <= 0 && mfda >= ts
              }
              if (!deletedByRt) {
                val cell = CellOut(a.kind, a.name, a.value, ts, a.ttl, a.localDeletionTime, a.tsOfLastDelete)
                // sort-key equality, not byte equality: typed orders
                // equate byte-distinct encodings (e.g. Decimal 2.5 vs
                // 2.50, non-minimal varints) and those must collapse to
                // one LWW winner
                if (curr != null && compareUnsigned(currKey, nameKey) == 0) {
                  if (cell.ts > curr.ts) curr = cell // LWW, first wins ties
                } else {
                  if (curr != null) columns += curr
                  curr = cell
                  currKey = nameKey
                }
              }
            }
          }
        }
        if (curr != null) columns += curr
        // F1: purge columns at or below the row deletion watermark
        val survivors = columns.filter(_.ts > deletedAt).toSeq
        (source, CompactedRow(key, deletedAt, survivors))
      }
    }

  /** X5: legacy column-name normalization
    * (`AegisthusKeySortingComparator.legacyColumnNameFormat`). */
  def legacyColumnNameFormat(name: String): String =
    name.replaceAll("[\\s\\p{Cntrl}]", " ").replace("\\", "\\\\").replace("\"", "\\\"")

  /** Render a compacted row as one aeg-JSON line (X6; byte-compatible
    * with `output/JsonOutputFormat.java:108-182`):
    * `hexKey\t{"hexKey":{"deletedAt":L,"columns":[[n,v,ts],...]}}`.
    *
    * @param traceSource       prepend `sourcePath\t` after the key (O2
    *                          trace mode, `JsonOutputFormat.java:116-119`)
    * @param sortColumnsByName order columns by rendered display name
    *                          instead of comparator order (O4)
    * @param legacyFormatting  X5 normalization of rendered names
    */
  def toAegJson(
      row: CompactedRow,
      keyType: CassType = CassType.BytesType,
      nameType: CassType = CassType.BytesType,
      valueType: CassType = CassType.BytesType,
      maxColSize: Long = -1L,
      traceSource: Option[String] = None,
      sortColumnsByName: Boolean = false,
      legacyFormatting: Boolean = false): String = {
    val sb = new java.lang.StringBuilder(64 + row.columns.size * 48)
    AegJsonCodec.appendHead(sb, renderSafe(keyType, row.key), traceSource, row.deletedAt)
    def renderName(c: CellOut): String = {
      val n = renderSafe(nameType, c.name)
      if (legacyFormatting) legacyColumnNameFormat(n) else n
    }
    var cols = if (sortColumnsByName) row.columns.sortBy(renderName) else row.columns
    var needComma = false
    if (maxColSize >= 0) {
      val size = cols.map(SSTableWriter.cellSize).sum
      if (size > maxColSize) {
        // F4: oversize row replaced by an error marker triple
        AegJsonCodec.appendError(sb, f"row too large: $size%,d bytes - limit $maxColSize%,d bytes")
        cols = Seq.empty
        needComma = true
      }
    }
    cols.foreach { c =>
      if (needComma) sb.append(',')
      needComma = true
      val status = c.kind match {
        case SSTableFormat.KindDeleted => "d"
        case SSTableFormat.KindExpiring => "e"
        case SSTableFormat.KindCounter => "c"
        case _ => null
      }
      AegJsonCodec.appendCell(sb, renderName(c), renderSafe(valueType, c.value), c.ts, status,
        c.ttl.getOrElse(0).toLong, c.localDeletionTime.getOrElse(0).toLong, c.tsOfLastDelete.getOrElse(0L))
    }
    AegJsonCodec.appendTail(sb)
    sb.toString
  }

  /** render with MarshalException-style fallback to hex (reference
    * `JsonOutputFormat.java:92-103`). */
  private def renderSafe(t: CassType, bytes: Array[Byte]): String =
    try t.getString(bytes)
    catch { case _: Exception => CassType.hex(bytes) }
}
