package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Write-path correctness proven via the read path (reference
  * round-trip test, AegisthusIntegrationTest.groovy:198-227): compact
  * fixtures → write a NEW sstable in an older target version → feed it
  * back through the pipeline → aeg-JSON must still byte-match the
  * golden file. */
class SSTableRoundTripSpec extends AnyFunSuite {
  private val testRoot = "/root/reference/aegisthus-hadoop/src/test/resources/testdata"

  lazy val spark: SparkSession = TestUtil.session()

  private def goldenLines(caseDir: String): Seq[String] = {
    val src = scala.io.Source.fromFile(s"$testRoot/$caseDir/aeg_json_output/aeg-00000")
    try src.getLines().toList finally src.close()
  }

  private val cases = Seq(
    ("1.2.18/randomtable", "ic"),
    ("1.2.18/rangetombstone", "ic"),
    ("2.0.10/randomtable", "jb"),
    ("2.0.10/rangetombstone", "jb"),
    ("2.2.4/randomtable", "jb"),
    ("2.2.4/rangetombstone", "jb"))

  cases.foreach { case (caseDir, outVersion) =>
    test(s"round-trip $caseDir via $outVersion sstable") {
      val tmp = java.nio.file.Files.createTempDirectory("rt").toString
      val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/$caseDir/input",
        Map("skipCorrupt" -> "true"))
      val compacted = GraftSSTable.compact(atoms, numPartitions = 4)
      GraftSSTable.writeSSTable(compacted, tmp, outVersion)

      val atoms2 = GraftSSTable.readAtoms(spark, tmp)
      val compacted2 = GraftSSTable.compact(atoms2, numPartitions = 4)
      val actual = GraftSSTable.aegJsonLines(compacted2).collect()
        .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0).map(_._2).toSeq
      val expected = goldenLines(caseDir)
      assert(actual.size == expected.size)
      actual.zip(expected).foreach { case (a, e) => assert(a == e) }
    }
  }

  test("writeAegJson numFiles>1: range-partitioned files concatenate to the golden order") {
    val caseDir = "2.0.10/randomtable"
    val tmp = java.nio.file.Files.createTempDirectory("multi").toString
    val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/$caseDir/input",
      Map("skipCorrupt" -> "true"))
    GraftSSTable.writeAegJson(GraftSSTable.compact(atoms, numPartitions = 4), tmp, numFiles = 3)
    val files = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("aeg-"))
      .sortBy(_.getName)
    assert(files.length == 3, "must write one file per range partition")
    val concatenated = files.toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f)
      try src.getLines().toList finally src.close()
    }
    assert(concatenated == goldenLines(caseDir),
      "aeg-%05d files must be globally key-ordered end-to-end")
  }

  test("compaction output is partition-count independent (1, 4, 13 partitions identical)") {
    val caseDir = "2.0.10/randomtable"
    val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/$caseDir/input",
      Map("skipCorrupt" -> "true"))
    val runs = Seq(1, 4, 13).map { n =>
      GraftSSTable.aegJsonLines(GraftSSTable.compact(atoms, numPartitions = n)).collect()
        .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0).map(_._2).toSeq
    }
    assert(runs(0) == goldenLines(caseDir))
    assert(runs.distinct.size == 1, "parallelism must never change results")
  }

  test("multi-path load scans every directory (DSv2 paths option)") {
    val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/1.2.18/randomtable/input")
    val n1 = atoms.count()
    val both = spark.read.format("sstable")
      .option("skipCorrupt", "true")
      .load(s"$testRoot/1.2.18/randomtable/input", s"$testRoot/2.0.10/randomtable/input")
    assert(both.count() > n1, "both directories must contribute atoms")
    assert(both.select("source").distinct().count() >
      atoms.select("source").distinct().count())
  }

  test("round-trip via chunked-LZ4 COMPRESSED sstable (write surface, tiny chunks force splits)") {
    val caseDir = "2.0.10/randomtable"
    val tmp = java.nio.file.Files.createTempDirectory("rtc").toString
    val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/$caseDir/input",
      Map("skipCorrupt" -> "true"))
    val compacted = GraftSSTable.compact(atoms, numPartitions = 4)
    // 1 KiB chunks: many chunks per file, exercises chunk boundaries
    GraftSSTable.writeSSTable(compacted, tmp, "jb", compress = true, chunkLength = 1024)

    assert(new java.io.File(tmp).listFiles().map(_.getName).exists(_.endsWith("-CompressionInfo.db")),
      "must write the CompressionInfo sidecar")
    val atoms2 = GraftSSTable.readAtoms(spark, tmp)
    val compacted2 = GraftSSTable.compact(atoms2, numPartitions = 4)
    val actual = GraftSSTable.aegJsonLines(compacted2).collect()
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0).map(_._2).toSeq
    val expected = goldenLines(caseDir)
    assert(actual.size == expected.size)
    actual.zip(expected).foreach { case (a, e) => assert(a == e) }
  }

  test("round-trip via Snappy- and Deflate-compressed sstables (full write codec matrix)") {
    val caseDir = "2.0.10/randomtable"
    val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/$caseDir/input",
      Map("skipCorrupt" -> "true"))
    val compacted = GraftSSTable.compact(atoms, numPartitions = 4)
    val expected = goldenLines(caseDir)
    Seq("SnappyCompressor", "DeflateCompressor").foreach { codec =>
      val tmp = java.nio.file.Files.createTempDirectory(s"rtc-$codec").toString
      GraftSSTable.writeSSTable(compacted, tmp, "jb",
        compress = true, chunkLength = 1024, codec = codec)
      val compacted2 = GraftSSTable.compact(GraftSSTable.readAtoms(spark, tmp), numPartitions = 4)
      val actual = GraftSSTable.aegJsonLines(compacted2).collect()
        .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0).map(_._2).toSeq
      assert(actual == expected, s"$codec round-trip must reproduce the golden lines")
    }
  }
}
