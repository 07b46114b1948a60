package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import graft.GraftSSTable
import graft.sstable.{AtomRec, CassType, Compaction, CompactedRow, SSTableFormat}

/** Incremental (streaming) compaction: the batch merge
  * ([[graft.sstable.Compaction.merge]]) folded over micro-batches under
  * mapGroupsWithState — the merge-associative aggregator SURVEY §2.9
  * calls for. There is no second statement of the merge rules here.
  *
  * State per key is the part of the input the merge can still need:
  * the last merge's surviving cells (as value-less atoms), every
  * distinct range tombstone seen so far, and one empty-row marker
  * carrying `deletedAt`. Each micro-batch is sorted with that state
  * the way the compaction shuffle sorts (comparator sort key, then
  * ts) and merged once. Dropping the rest is exact: a superseded cell
  * has a lower ts than its survivor, so whatever kills the survivor
  * kills it too; a shadowed cell stays shadowed by the retained range
  * tombstone; a purged cell stays below the row watermark, which only
  * grows. State is bounded by live columns plus range tombstones, not
  * by input size.
  *
  * The comparator is the one configured on the scan (the reader's
  * `cql` / `columnType` options), else BytesType — the same
  * resolution [[graft.GraftSSTable.compact]] makes, so a typed scan
  * compacts the same way in both modes.
  */
object StreamingCompaction {

  final case class RowUpdate(keyHex: String, deletedAt: Long, nLiveColumns: Int)

  private val StateSource = "state"

  /** the compaction shuffle's order: name sort key unsigned (null-named
    * row markers first), then ts. */
  private val ShuffleOrder: Ordering[(Option[Array[Byte]], Option[Long])] =
    Ordering.Tuple2(
      Ordering.Option(Ordering.fromLessThan[Array[Byte]](java.util.Arrays.compareUnsigned(_, _) < 0)),
      Ordering.Option(Ordering.Long))

  /** atom identity by content (byte arrays compared by value). */
  private def content(a: AtomRec): List[Any] =
    a.productIterator.map { case b: Array[Byte] => b.toSeq; case v => v }.toList

  /** Merge one micro-batch of one key into its state: returns the
    * compacted row and the next state. The stable sort puts state
    * before the batch, so an equal-ts tie keeps the incumbent. */
  private[graft] def fold(
      state: Seq[AtomRec],
      batch: Iterator[AtomRec],
      ct: CassType): (CompactedRow, Seq[AtomRec]) = {
    val atoms = state ++ batch
    val sorted = atoms.map(a => (Option(a.name).map(ct.sortKey), a.ts) -> a)
      .sortBy(_._1)(ShuffleOrder).map(_._2)
    val row = Compaction.merge(sorted.iterator, ct).next()
    val marker = AtomRec(row.key, StateSource, row.deletedAt, SSTableFormat.KindEmptyRow,
      null, Array.emptyByteArray, None, None, None, None, null)
    val cells = row.columns.map { c =>
      AtomRec(row.key, StateSource, Long.MinValue, c.kind, c.name, Array.emptyByteArray,
        Some(c.ts), c.ttl, c.localDeletionTime, c.tsOfLastDelete, null)
    }
    val rangeTombstones = atoms.filter(_.kind == SSTableFormat.KindRangeTombstone)
      .map(_.copy(source = StateSource, rowDeletedAt = Long.MinValue))
      .distinctBy(content)
    (row, marker +: (cells ++ rangeTombstones))
  }

  /** Streaming (or batch) incremental compaction: emits the current
    * compacted view of each row key on every update. */
  def compactIncremental(atoms: Dataset[AtomRec]): Dataset[RowUpdate] = {
    val spark = atoms.sparkSession
    import spark.implicits._
    val ct = GraftSSTable.configuredColumnType(atoms.toDF()).getOrElse(CassType.BytesType)
    atoms.groupByKey(a => CassType.hex(a.key))
      .mapGroupsWithState[Seq[AtomRec], RowUpdate](GroupStateTimeout.NoTimeout) {
        (keyHex, it, state: GroupState[Seq[AtomRec]]) =>
          val (row, next) = fold(state.getOption.getOrElse(Nil), it, ct)
          state.update(next)
          RowUpdate(keyHex, row.deletedAt, row.columns.size)
      }
  }
}
