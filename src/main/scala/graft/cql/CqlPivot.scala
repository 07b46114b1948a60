package graft.cql

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import graft.sstable.{CassType, CellOut, CompactedRow, SSTableWriter}
import graft.sstable.CassType.CompositeType

/** Relational pivot of compacted CQL3 rows (SURVEY §3.2): one output
  * record per (partition key, clustering prefix) group — partition-key
  * columns + clustering columns + regular columns + static columns —
  * the Spark rebuild of `CQLMapper.handleGroup`
  * (`org/coursera/mapreducer/CQLMapper.java:93-146`), **plus**
  * collections support (list/set/map), the reference's declared TODO.
  *
  * Unlike the reference (a map-only job that is only correct when each
  * partition key lives in a single sstable), this runs on compacted
  * rows, so cross-file merge correctness is inherited from A1. The
  * per-row pivot is a pure flatMap — no extra shuffle beyond the
  * compaction's. */
object CqlPivot {

  /** rows dropped by the wide-row valve in the last pivot() action
    * (the F3 `reducerRowsTooBig` pattern,
    * `CassSSTableReducer.java:89-96`). */
  @volatile var rowsTooBig: Option[org.apache.spark.util.LongAccumulator] = None

  /** @param maxRowBytes wide-row valve (the F3 pattern, reference
    *   `CassSSTableReducer.java:89-96` / `aegisthus.maxcolsize`): a
    *   partition whose cells exceed this byte budget is DROPPED and
    *   counted in [[rowsTooBig]] instead of buffered into the pivot's
    *   per-group maps — the typed relational schema cannot carry F4's
    *   error-marker string, so the valve uses F3's drop-and-count
    *   semantics; assert the accumulator driver-side like
    *   `assertCorruptFilesBelow`. Size accounting is the on-disk cell
    *   size ([[graft.sstable.SSTableWriter.cellSize]]), as in the JSON
    *   valve. */
  def pivot(rows: Dataset[CompactedRow], cql: String, maxRowBytes: Long = Long.MaxValue): DataFrame = {
    val table = CqlTable.parse(cql)
    val acc = rows.sparkSession.sparkContext.longAccumulator("cqlPivot.rowsTooBig")
    rowsTooBig = Some(acc)
    rows.flatMap { row =>
      if (maxRowBytes != Long.MaxValue &&
          row.columns.iterator.map(SSTableWriter.cellSize).sum > maxRowBytes) {
        acc.add(1L)
        Iterator.empty
      } else pivotRow(row, table)
    }(Encoders.row(table.sparkSchema))
  }

  /** Pivot one compacted row into relational records. */
  private[cql] def pivotRow(row: CompactedRow, table: CqlTable): Iterator[Row] = {
    val nCk = table.clusteringKeys.size
    // partition key components
    val pkValues: Seq[Any] =
      if (table.partitionKeys.size == 1)
        Seq(table.partitionKeys.head.tpe.compose(row.key))
      else {
        val comps = CompositeType.split(row.key)
        table.partitionKeys.zip(comps).map { case (c, b) => c.tpe.compose(b) }
      }

    // group cells by clustering prefix (hex string key keeps ordering)
    final case class Group(ck: Array[Array[Byte]], cells: mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Array[Byte], CellOut)]])
    val groups = mutable.LinkedHashMap[String, Group]()
    val staticCells = mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Array[Byte], CellOut)]]()

    row.columns.foreach { cell =>
      val comps = CompositeType.split(cell.name)
      if (CompositeType.isStatic(cell.name)) {
        if (comps.length >= 1) {
          val colId = new String(comps(nCk min (comps.length - 1)), "UTF-8")
          if (colId.nonEmpty) {
            val collKey = if (comps.length > nCk + 1) comps.last else Array.emptyByteArray
            staticCells.getOrElseUpdate(colId, mutable.ArrayBuffer()) += ((collKey, cell))
          }
        }
      } else if (comps.length >= nCk + 1) {
        val ck = comps.take(nCk)
        val colId = new String(comps(nCk), "UTF-8")
        val ckKey = ck.map(CassType.hex).mkString("|")
        val g = groups.getOrElseUpdate(ckKey, Group(ck, mutable.LinkedHashMap()))
        if (colId.nonEmpty) { // empty id = CQL3 row marker — grouping only
          val collKey = if (comps.length > nCk + 1) comps(nCk + 1) else Array.emptyByteArray
          g.cells.getOrElseUpdate(colId, mutable.ArrayBuffer()) += ((collKey, cell))
        }
      }
    }

    def composeValue(col: CqlColumn, cellsRaw: Option[mutable.ArrayBuffer[(Array[Byte], CellOut)]]): Any = {
      // tombstoned cells read as SQL NULL (the reference's map-only
      // pivot never sees merged tombstones; post-compaction we must)
      val cells = cellsRaw.map(_.filterNot(_._2.kind == graft.sstable.SSTableFormat.KindDeleted))
        .filter(_.nonEmpty)
      cells match {
        case None => null
        case Some(cs) => col.tpe match {
          case CassType.ListType(elem) => cs.map { case (_, c) => elem.compose(c.value) }.toSeq
          case CassType.SetType(elem) => cs.map { case (k, _) => elem.compose(k) }.toSeq
          case CassType.MapType(k, v) => cs.map { case (kk, c) => k.compose(kk) -> v.compose(c.value) }.toMap
          case t if cs.last._2.value.isEmpty => null
          case t => t.compose(cs.last._2.value)
        }
      }
    }

    val staticValues: Seq[Any] = table.staticColumns.map(c => composeValue(c, staticCells.get(c.name)))

    if (groups.isEmpty && staticCells.nonEmpty) {
      // static-only partition (CQLMapper.java:102-111 special case)
      val ckNulls = table.clusteringKeys.map(_ => null)
      val regNulls = table.regularColumns.map(_ => null)
      Iterator.single(Row.fromSeq(pkValues ++ ckNulls ++ regNulls ++ staticValues))
    } else {
      groups.valuesIterator.map { g =>
        val ckValues = table.clusteringKeys.zip(g.ck).map { case (c, b) => c.tpe.compose(b) }
        val regValues = table.regularColumns.map(c => composeValue(c, g.cells.get(c.name)))
        Row.fromSeq(pkValues ++ ckValues ++ regValues ++ staticValues)
      }
    }
  }
}
