package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end golden-file equivalence against the reference's own
  * integration corpus (SURVEY §5 pillar 1): scan → compact → aeg-JSON
  * must byte-match `aeg_json_output/aeg-00000` for every version/case,
  * including forced-split, compressed, and mixed-version-union runs
  * (reference AegisthusIntegrationTest.groovy:186-195). */
class SSTableGoldenSpec extends AnyFunSuite {
  private val testRoot = "/root/reference/aegisthus-hadoop/src/test/resources/testdata"

  lazy val spark: SparkSession = TestUtil.session()

  private def goldenLines(caseDir: String): Seq[String] = {
    val src = scala.io.Source.fromFile(s"$testRoot/$caseDir/aeg_json_output/aeg-00000")
    try src.getLines().toList finally src.close()
  }

  private def runPipeline(caseDir: String, options: Map[String, String] = Map.empty): Seq[String] = {
    // the reference always runs with a corrupt-file allowance of 1
    // (AegisthusIntegrationTest.groovy:136) — the combined corpus
    // contains one deliberately corrupted snapshot file
    val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/$caseDir/input",
      options + ("skipCorrupt" -> "true"))
    val compacted = GraftSSTable.compact(atoms, numPartitions = 4)
    val lines = GraftSSTable.aegJsonLines(compacted).collect()
    GraftSSTable.assertCorruptFilesBelow(1)
    lines.sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0).map(_._2).toSeq
  }

  private val cases = Seq(
    ("1.2.18/randomtable", Map("blocksize" -> "1024")),
    ("1.2.18/rangetombstone", Map.empty[String, String]),
    ("2.0.10/randomtable", Map("blocksize" -> "1024")),
    ("2.0.10/rangetombstone", Map.empty[String, String]),
    ("2.0.10_compressed/randomtable", Map.empty[String, String]),
    ("2.0.10_compressed/randomtable", Map("blocksize" -> "1024")),
    ("2.0.10_1.2.18_combined/randomtable", Map("blocksize" -> "1024")),
    ("2.2.4/randomtable", Map("blocksize" -> "1024")),
    ("2.2.4/rangetombstone", Map("blocksize" -> "1024")))

  cases.zipWithIndex.foreach { case ((caseDir, opts), i) =>
    test(s"golden [$i]: $caseDir opts=$opts") {
      val actual = runPipeline(caseDir, opts)
      val expected = goldenLines(caseDir)
      assert(actual.size == expected.size,
        s"row count mismatch: got ${actual.size}, want ${expected.size}")
      actual.zip(expected).zipWithIndex.foreach { case ((a, e), idx) =>
        assert(a == e, s"line $idx differs:\n  got: $a\n want: $e")
      }
    }
  }
}
