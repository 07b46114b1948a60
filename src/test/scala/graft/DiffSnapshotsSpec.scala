package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable._

/** [[GraftSSTable.diffSnapshots]] contract beyond the cass_diff oracle
  * row: the published rowsWritten accumulator covers BOTH snapshot
  * compactions, and a typed CF renders its diff lines with the
  * configured marshal types (matching what writeAegJson would emit),
  * not raw hex. */
class DiffSnapshotsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def writeFixture(file: java.io.File, rows: Seq[CompactedRow]): Unit =
    SparkEntry.writeFixture(file, rows)

  private def longB(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(v).array()

  test("rowsWritten covers both snapshot compactions; typed names render per columnType") {
    val root = java.nio.file.Files.createTempDirectory("graft_diff_spec").toFile
    def cell(n: Long, v: String, ts: Long) =
      CellOut(SSTableFormat.KindColumn, longB(n), v.getBytes, ts, None, None, None)
    // old: k1 (one cell), k2; new: k1 changed, k3 — 2 + 2 compacted rows
    writeFixture(new java.io.File(root, "old/ks-cf-jb-1-Data.db"), Seq(
      CompactedRow("k1".getBytes, Long.MinValue, Seq(cell(7L, "a", 10L))),
      CompactedRow("k2".getBytes, Long.MinValue, Seq(cell(1L, "b", 10L)))))
    writeFixture(new java.io.File(root, "new/ks-cf-jb-1-Data.db"), Seq(
      CompactedRow("k1".getBytes, Long.MinValue, Seq(cell(7L, "a2", 20L))),
      CompactedRow("k3".getBytes, Long.MinValue, Seq(cell(2L, "c", 10L)))))
    val diff = GraftSSTable.diffSnapshots(spark,
      s"$root/old", s"$root/new", Map("columnType" -> "LongType"))
    val rows = diff.collect().map(r =>
      (r.getString(0), r.getString(1), Option(r.getString(2)), Option(r.getString(3))))
      .sortBy(_._1)
    assert(rows.map(t => (t._1, t._2)).toSeq ==
      Seq(("6b31", "changed"), ("6b32", "removed"), ("6b33", "added")))
    // typed rendering: LongType column names appear as decimal "7", not
    // the 16-hex-digit raw bytes
    val k1Old = rows.find(_._1 == "6b31").get._3.get
    assert(k1Old.contains("[\"7\",\"61\",10]"), s"typed name must render numerically: $k1Old")
    // the shared accumulator counted the rows of BOTH compactions
    assert(GraftSSTable.rowsWritten.exists(_.value == 4L),
      s"rowsWritten must cover both sides, got ${GraftSSTable.rowsWritten.map(_.value)}")
    TestUtil.deleteRecursively(root)
  }

  test("a cql-configured scan renders keys and composite names with the table's types") {
    val root = java.nio.file.Files.createTempDirectory("graft_diff_cql").toFile
    def comp(parts: Array[Byte]*): Array[Byte] = parts.flatMap { p =>
      Array((p.length >> 8).toByte, p.length.toByte) ++ p :+ 0.toByte
    }.toArray
    def cell(ck: Int, v: String, ts: Long) = CellOut(SSTableFormat.KindColumn,
      comp(java.nio.ByteBuffer.allocate(4).putInt(ck).array(), "v".getBytes), v.getBytes, ts,
      None, None, None)
    writeFixture(new java.io.File(root, "old/ks-t-jb-1-Data.db"), Seq(
      CompactedRow("k1".getBytes, Long.MinValue, Seq(cell(7, "a", 10L)))))
    writeFixture(new java.io.File(root, "new/ks-t-jb-1-Data.db"), Seq(
      CompactedRow("k1".getBytes, Long.MinValue, Seq(cell(7, "a2", 20L)))))
    try {
      val diff = GraftSSTable.diffSnapshots(spark, s"$root/old", s"$root/new",
        Map("cql" -> "CREATE TABLE ks.t (pk text, ck int, v text, PRIMARY KEY (pk, ck))"))
      val Array(r) = diff.collect()
      assert(r.getString(1) == "changed")
      val oldLine = r.getString(2)
      assert(oldLine.startsWith("k1\t{\"k1\":"), s"UTF8Type key must render as text: $oldLine")
      assert(oldLine.contains("[\"(7, v)\",\"61\",10]"), s"composite name must render typed: $oldLine")
    } finally TestUtil.deleteRecursively(root)
  }
}
