package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable._

/** S6 split combining (reference `AegisthusCombinedInputFormat`):
  * many small sstables must bin-pack into few scan tasks (100 MB /
  * <= 200 members by default) without changing results, and a corrupt
  * member of a combined partition must lose only its own split. */
class SplitCombineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def writeFixture(dir: java.io.File, n: Int): Unit = {
    (1 to n).foreach { i =>
      val f = new java.io.DataOutputStream(new java.io.FileOutputStream(
        new java.io.File(dir, f"ks-cf-jb-$i-Data.db")))
      SSTableWriter.writeRow(f, CompactedRow(f"key$i%03d".getBytes, Long.MinValue,
        Seq(CellOut(SSTableFormat.KindColumn, "c".getBytes, s"v$i".getBytes, i.toLong,
          None, None, None))), SSTableVersion("jb"))
      f.close()
    }
  }

  test("small files pack into combined partitions; results identical") {
    val tmp = java.nio.file.Files.createTempDirectory("combine").toFile
    writeFixture(tmp, 20)

    val packed = GraftSSTable.readAtoms(spark, tmp.toString)
    assert(packed.rdd.getNumPartitions == 1, "20 tiny files must become one task")

    val capped = GraftSSTable.readAtoms(spark, tmp.toString, Map("combinemembers" -> "5"))
    assert(capped.rdd.getNumPartitions == 4, "member cap must split the bin")

    val unpacked = GraftSSTable.readAtoms(spark, tmp.toString, Map("combine" -> "false"))
    assert(unpacked.rdd.getNumPartitions == 20)

    // byte-size cap: each file is ~30 bytes, so a tiny combinesize
    // forces one member per bin
    val bySize = GraftSSTable.readAtoms(spark, tmp.toString, Map("combinesize" -> "1"))
    assert(bySize.rdd.getNumPartitions == 20)

    val a = packed.select("key", "value").collect().map(r =>
      (new String(r.getAs[Array[Byte]](0)), new String(r.getAs[Array[Byte]](1)))).toSet
    val b = unpacked.select("key", "value").collect().map(r =>
      (new String(r.getAs[Array[Byte]](0)), new String(r.getAs[Array[Byte]](1)))).toSet
    assert(a == b && a.size == 20, "packing must not change scan results")
  }

  test("corrupt member of a combined partition loses only its own split") {
    val tmp = java.nio.file.Files.createTempDirectory("combinecorrupt").toFile
    writeFixture(tmp, 10)
    // corrupt one file's header (the reference's deliberate-corruption
    // trick: leading 0x8080 makes the key length insane)
    val victim = new java.io.RandomAccessFile(new java.io.File(tmp, "ks-cf-jb-5-Data.db"), "rw")
    victim.write(Array(0x80.toByte, 0x80.toByte))
    victim.close()

    val atoms = GraftSSTable.readAtoms(spark, tmp.toString, Map("skipCorrupt" -> "true"))
    assert(atoms.rdd.getNumPartitions == 1, "all 10 files in one combined task")
    val keys = atoms.select("key").collect().map(r => new String(r.getAs[Array[Byte]](0))).toSet
    assert(keys == (1 to 10).filter(_ != 5).map(i => f"key$i%03d").toSet,
      "only the corrupt member's rows may be lost")
    GraftSSTable.assertCorruptFilesBelow(1)
  }

  test("partitions report block hosts for preferredLocations (single + combined)") {
    val tmp = java.nio.file.Files.createTempDirectory("locality").toFile
    writeFixture(tmp, 6)
    spark.sparkContext // ensure SparkSession.active
    val combined = new SSTableScan(Map("path" -> tmp.toString), SSTableSource.Schema)
      .planInputPartitions()
    assert(combined.nonEmpty)
    combined.foreach { p =>
      assert(p.preferredLocations().nonEmpty,
        "local FS supplies block topology; partitions must surface it")
    }
    val single = new SSTableScan(Map("path" -> tmp.toString, "combine" -> "false"),
      SSTableSource.Schema).planInputPartitions()
    assert(single.length == 6)
    single.foreach(p => assert(p.preferredLocations().nonEmpty))
  }

  test("combined-partition locality is the byte-weighted majority of member hosts") {
    val m1 = SSTablePartition("a", 0, 100, None, "jb", Array("h1", "h2"))
    val m2 = SSTablePartition("b", 0, 10, None, "jb", Array("h2", "h3"))
    val m3 = SSTablePartition("c", 0, 5, None, "jb", Array("h3", "h4"))
    val hosts = SSTableCombinedPartition(Array(m1, m2, m3)).preferredLocations()
    assert(hosts.toSeq == Seq("h2", "h1", "h3"),
      s"expected byte-weighted top-3 (h2=110,h1=100,h3=15), got ${hosts.toSeq}")
  }

  test("source-path predicates prune whole files at plan time") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("srcprune").toFile
    writeFixture(tmp, 8)
    val df = GraftSSTable.readAtoms(spark, tmp.toString, Map("combine" -> "false"))
    val target = df.select("source").distinct().collect().map(_.getString(0))
      .find(_.endsWith("ks-cf-jb-3-Data.db")).get

    val one = df.filter(col("source") === target)
    assert(one.rdd.getNumPartitions == 1,
      s"equality on source must plan exactly the one file, got ${one.rdd.getNumPartitions}")
    assert(one.collect().map(r => new String(r.getAs[Array[Byte]](0))).toSeq == Seq("key003"))

    // unfiltered scan still plans everything
    assert(df.rdd.getNumPartitions == 8)
  }

  test("latestBatchOnly walks only the greatest batch_id sibling (string compare, opt-in)") {
    val tmp = java.nio.file.Files.createTempDirectory("batched").toFile
    val b1 = new java.io.File(tmp, "batch_id=001"); b1.mkdirs()
    val b2 = new java.io.File(tmp, "batch_id=002"); b2.mkdirs()
    writeFixture(b1, 3)
    writeFixture(b2, 5)

    // default: both batches contribute (the reference walks everything
    // unless DirectoryWalker.batched is enabled)
    val all = GraftSSTable.readAtoms(spark, tmp.toString, Map("combine" -> "false"))
    assert(all.select("source").distinct().count() == 8)

    // opt-in: only the string-greatest sibling (batch_id=002) is walked
    val latest = GraftSSTable.readAtoms(spark, tmp.toString,
      Map("combine" -> "false", "latestBatchOnly" -> "true"))
    val sources = latest.select("source").distinct().collect().map(_.getString(0))
    assert(sources.length == 5 && sources.forall(_.contains("batch_id=002")),
      s"expected only batch_id=002 files, got ${sources.toSeq}")

    // a lexicographically-greater NON-batch sibling must neither swallow
    // the batch prune nor be dropped by it
    val extra = new java.io.File(tmp, "zz_extra"); extra.mkdirs()
    writeFixture(extra, 2)
    val mixed = GraftSSTable.readAtoms(spark, tmp.toString,
      Map("combine" -> "false", "latestBatchOnly" -> "true"))
    val mixedSrc = mixed.select("source").distinct().collect().map(_.getString(0))
    assert(mixedSrc.count(_.contains("batch_id=002")) == 5 &&
      mixedSrc.count(_.contains("zz_extra")) == 2 &&
      !mixedSrc.exists(_.contains("batch_id=001")),
      s"batch prune must act only among batch_id siblings, got ${mixedSrc.toSeq}")
  }

  test("split planning fans out sidecar probes on a thread pool") {
    val tmp = java.nio.file.Files.createTempDirectory("slowplan").toFile
    writeFixture(tmp, 12)
    spark.sparkContext.hadoopConfiguration.set("fs.slowfs.impl", classOf[SlowFs].getName)
    SlowFs.latencyMs = 200L
    try {
      val t0 = System.nanoTime()
      val parts = new SSTableScan(Map("path" -> s"slowfs://$tmp", "combine" -> "false"),
        SSTableSource.Schema).planInputPartitions()
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(parts.length == 12)
      // each file pays >= one 200 ms sidecar probe: serial planning
      // would take >= 2400 ms; the 20-thread pool pays ~1 round trip
      assert(elapsedMs < 1500,
        f"planning 12 files took $elapsedMs%.0f ms — sidecar probes are not parallel")
    } finally SlowFs.latencyMs = 0L
  }

  test("fromFilename takes the two-letter token before the numeric generation") {
    assert(SSTableVersion.fromFilename("ab-users-ic-1-Data.db").name == "ic")
    assert(SSTableVersion.fromFilename("ks-cf-jb-3-Data.db").name == "jb")
    assert(SSTableVersion.fromFilename("la-1-big-Data.db").name == "la")
  }

  test("input under _/. ancestors is read; _temporary and dot-files inside it are skipped") {
    val tmp = java.nio.file.Files.createTempDirectory("hidden").toFile
    val snap = new java.io.File(tmp, "_x/.y/snap"); snap.mkdirs()
    writeFixture(snap, 3)
    val staged = new java.io.File(snap, "_temporary"); staged.mkdirs()
    writeFixture(staged, 5)
    java.nio.file.Files.copy(new java.io.File(snap, "ks-cf-jb-1-Data.db").toPath,
      new java.io.File(snap, ".ks-cf-jb-9-Data.db").toPath)
    val atoms = GraftSSTable.readAtoms(spark, snap.toString)
    assert(atoms.select("key").collect().map(r => new String(r.getAs[Array[Byte]](0))).sorted
      .toSeq == Seq("key001", "key002", "key003"))

    val aeg = new java.io.File(tmp, "_x/.y/aeg"); aeg.mkdirs()
    def writeLines(name: String, keys: Seq[Int]): Unit =
      java.nio.file.Files.write(new java.io.File(aeg, name).toPath,
        keys.map(i => Compaction.toAegJson(CompactedRow(f"key$i%03d".getBytes, Long.MinValue,
          Seq(CellOut(SSTableFormat.KindColumn, "c".getBytes, "v".getBytes, 1L,
            None, None, None))))).mkString("", "\n", "\n").getBytes)
    writeLines("aeg-00000", Seq(1, 2))
    writeLines(".aeg-00000.crc", Seq(8))
    writeLines("_partial", Seq(9))
    assert(GraftSSTable.readAegJson(spark, aeg.toString).count() == 2)
  }
}

/** RawLocalFileSystem with injected latency on SIDECAR status probes
  * (Index/CompressionInfo) — an object-store stand-in for the
  * parallel-planning test. Latency is scoped to sidecars because that
  * is the per-file cost the planner pool hides; the single recursive
  * listing stays serial by design. */
class SlowFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "slowfs"
  override def getUri: java.net.URI = java.net.URI.create("slowfs:///")
  override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    val n = p.getName
    if (SlowFs.latencyMs > 0 &&
        (n.endsWith("-CompressionInfo.db") || n.endsWith("-Index.db")))
      Thread.sleep(SlowFs.latencyMs)
    super.getFileStatus(p)
  }
}
object SlowFs { @volatile var latencyMs = 0L }
