package graft

import graft.sstable.{AtomRec, CassType, CompactedRow, SSTableFormat}
import graft.streaming.StreamingCompaction

/** A naive, order-free model of Cassandra's merge rules for one row
  * key, stated independently of [[graft.sstable.Compaction]]: no sort,
  * no sweep, no state, and names ordered by the test-side
  * [[TypedOrder]], not by the sort keys the merge compares.
  *
  *  - `deletedAt` is the max row-deletion marker over all atoms;
  *  - a cell dies if some range tombstone covers its name by the
  *    comparator with `markedForDeleteAt >= ts`;
  *  - per comparator-equal name the max `ts` wins;
  *  - cells with `ts <= deletedAt` are purged.
  *
  * An equal-ts tie between cells of one name (different kinds, or
  * byte-distinct encodings of one value) has no defined winner, so
  * the model accepts any of the tied cells. */
object MergeModel {

  /** one surviving name: the winning ts and the acceptable
    * (nameHex, kind) cells at that ts. */
  final case class Survivor(ts: Long, cells: Set[(String, String)])
  final case class Row(deletedAt: Long, survivors: Seq[Survivor])

  def expected(atoms: Seq[AtomRec], ct: CassType): Row = {
    val deletedAt = atoms.map(_.rowDeletedAt).max
    val rts = atoms.filter(_.kind == SSTableFormat.KindRangeTombstone)
    val cells = atoms.filter(a => a.kind != SSTableFormat.KindRangeTombstone &&
      a.kind != SSTableFormat.KindEmptyRow)
    def shadowed(c: AtomRec): Boolean = rts.exists { rt =>
      TypedOrder.compare(ct, rt.name, c.name) <= 0 && TypedOrder.compare(ct, c.name, rt.rtMax) <= 0 &&
        rt.ts.get >= c.ts.get
    }
    // comparator-equal names form one class
    val classes = cells.foldLeft(List.empty[List[AtomRec]]) { (acc, c) =>
      acc.find(cls => TypedOrder.compare(ct, cls.head.name, c.name) == 0) match {
        case Some(cls) => (c :: cls) :: acc.filterNot(_ eq cls)
        case None => List(c) :: acc
      }
    }
    val survivors = classes.flatMap { cls =>
      val top = cls.map(_.ts.get).max
      val winners = cls.filter(_.ts.get == top)
      if (top <= deletedAt || winners.exists(shadowed)) None
      else Some(Survivor(top, winners.map(w => (CassType.hex(w.name), w.kind)).toSet))
    }
    Row(deletedAt, survivors)
  }

  /** None when `row` is a compaction the model accepts, else why not. */
  def disagreement(row: CompactedRow, want: Row): Option[String] = {
    val got = row.columns.map(c => (CassType.hex(c.name), c.ts, c.kind))
    val matched = got.map { case (n, ts, kind) =>
      want.survivors.indexWhere(s => s.ts == ts && s.cells((n, kind)))
    }
    if (row.deletedAt != want.deletedAt) Some(s"deletedAt ${row.deletedAt} != ${want.deletedAt}")
    else if (matched.contains(-1) || matched.distinct.size != matched.size ||
        matched.size != want.survivors.size)
      Some(s"survivors $got != ${want.survivors}")
    else None
  }

  /** the streaming fold over `ordered` in micro-batches of `chunk`
    * atoms: the last batch's compacted row and the state after it. */
  def foldChunks(ordered: Seq[AtomRec], chunk: Int, ct: CassType): (CompactedRow, Seq[AtomRec]) =
    ordered.grouped(chunk).foldLeft((null: CompactedRow, Seq.empty[AtomRec])) {
      case ((_, st), batch) => StreamingCompaction.fold(st, batch.iterator, ct)
    }
}
