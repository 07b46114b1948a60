package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable._

/** Output-option and guard coverage: trace-source (O2), sort-columns-
  * by-name + legacy formatting (O4/X5), row-size guards (F3/F4), and
  * the engine expressions (X1/X4/X8). */
class CompactionOptionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def cell(name: String, value: String, ts: Long) =
    CellOut(SSTableFormat.KindColumn, name.getBytes, value.getBytes, ts, None, None, None)
  private val row = CompactedRow("k".getBytes, Long.MinValue,
    Seq(cell("bb", "v1", 10), cell("Aa", "v2", 11)))

  test("trace-source mode prepends the source path") {
    val line = Compaction.toAegJson(row, traceSource = Some("/data/f1-Data.db"))
    assert(line.startsWith("6b\t/data/f1-Data.db\t{\"6b\":"))
  }

  test("sort-columns-by-name orders by rendered name (O4)") {
    val line = Compaction.toAegJson(row, nameType = CassType.UTF8Type, sortColumnsByName = true)
    assert(line.indexOf("Aa") < line.indexOf("bb"))
    val unsorted = Compaction.toAegJson(row, nameType = CassType.UTF8Type)
    assert(unsorted.indexOf("bb") < unsorted.indexOf("Aa"))
  }

  test("legacy column-name formatting (X5) normalizes whitespace/escapes") {
    assert(Compaction.legacyColumnNameFormat("a\tb\"c\\d") == "a b\\\"c\\\\d")
  }

  test("F4 output guard replaces oversize rows with an error marker") {
    val line = Compaction.toAegJson(row, maxColSize = 3)
    assert(line.contains("\"error\""))
    assert(line.contains("row too large"))
    assert(!line.contains("6262")) // no column payloads
  }

  test("F3 merge guard stops accumulating but keeps deletedAt") {
    def atom(name: String, ts: Long) = AtomRec("k".getBytes, "src", 5L,
      SSTableFormat.KindColumn, name.getBytes, Array.fill(100)(1.toByte),
      Some(ts), None, None, None, null)
    val merged = Compaction.merge(Iterator(atom("a", 10), atom("b", 11), atom("c", 12)),
      maxRowSize = 250).toList
    assert(merged.size == 1)
    assert(merged.head.columns.size < 3)
    assert(merged.head.deletedAt == 5L)
  }

  test("engine expressions: cass_render, composite_split, hex casters") {
    import spark.implicits._
    val df = Seq(("cafe".getBytes, "00010000000941")).toDF("b", "h")
    val r = df.selectExpr(
      "cass_render(b, 'UTF8Type') AS utf8",
      "cass_render(b, 'BytesType') AS hex",
      "cass_render(cast(x'0000000000000010' as binary), 'LongType') AS lng",
      "size(composite_split(cast(x'000102000003000104000001ff00' as binary))) AS ncomp",
      "hex_to_long('00000075') AS hl",
      "hex_to_long('ff') AS h1",
      "hex_to_double('3f800000') AS hf",
      "hex_to_string('4a6f656c') AS hs").head()
    assert(r.getAs[String]("utf8") == "cafe")
    assert(r.getAs[String]("hex") == "63616665")
    assert(r.getAs[String]("lng") == "16")
    assert(r.getAs[Int]("ncomp") == 3)
    assert(r.getAs[Long]("hl") == 117L)
    assert(r.getAs[Long]("h1") == -1L) // 1-byte widen is signed, like the Pig caster
    assert(r.getAs[Double]("hf") == 1.0)
    assert(r.getAs[String]("hs") == "Joel")
  }

  test("trace-source end-to-end over fixtures keeps per-file rows separate") {
    val testRoot = "/root/reference/aegisthus-hadoop/src/test/resources/testdata"
    val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/2.0.10/randomtable/input")
    val traced = GraftSSTable.compactTraced(atoms, numPartitions = 4)
    val plain = GraftSSTable.compact(atoms, numPartitions = 4)
    // multiple sstables per key => more traced groups than compacted rows
    assert(traced.count() > plain.count())
    val lines = GraftSSTable.aegJsonLinesTraced(traced).collect()
    assert(lines.forall(_._2.split('\t').length == 3))
  }

  test("ParallelCopy stages files (S9 distcp analog)") {
    val tmp = java.nio.file.Files.createTempDirectory("pcopy")
    val src = tmp.resolve("a.txt"); java.nio.file.Files.writeString(src, "hello graft")
    val sz = tmp.resolve("b.snappy")
    val os = new org.xerial.snappy.SnappyOutputStream(java.nio.file.Files.newOutputStream(sz))
    os.write("snappy payload".getBytes); os.close()
    graft.tools.ParallelCopy.copy(spark,
      Seq(src.toString -> tmp.resolve("a_copy.txt").toString), 2)
    graft.tools.ParallelCopy.copy(spark,
      Seq(sz.toString -> tmp.resolve("b_plain.txt").toString), 2, decompressSnappy = true)
    assert(java.nio.file.Files.readString(tmp.resolve("a_copy.txt")) == "hello graft")
    assert(java.nio.file.Files.readString(tmp.resolve("b_plain.txt")) == "snappy payload")
  }

  test("ParallelCopy manifest mode: flat and structure-preserving destinations") {
    val tmp = java.nio.file.Files.createTempDirectory("pcopy_manifest")
    val sub = tmp.resolve("ks/cf"); java.nio.file.Files.createDirectories(sub)
    val f1 = sub.resolve("one.db"); java.nio.file.Files.writeString(f1, "one")
    val f2 = tmp.resolve("two.db"); java.nio.file.Files.writeString(f2, "two")
    val manifest = tmp.resolve("manifest.txt")
    java.nio.file.Files.writeString(manifest, s"$f1\n\n$f2\n")

    val flat = tmp.resolve("flat")
    graft.tools.ParallelCopy.copyFromManifest(spark, manifest.toString, flat.toString)
    assert(java.nio.file.Files.readString(flat.resolve("one.db")) == "one")
    assert(java.nio.file.Files.readString(flat.resolve("two.db")) == "two")

    // recursive: suffix below preserveBase survives (reference -recursive)
    val deep = tmp.resolve("deep")
    graft.tools.ParallelCopy.copyFromManifest(spark, manifest.toString, deep.toString,
      preserveBase = Some(tmp.toString))
    assert(java.nio.file.Files.readString(deep.resolve("ks/cf/one.db")) == "one")
    assert(java.nio.file.Files.readString(deep.resolve("two.db")) == "two")
  }
}
