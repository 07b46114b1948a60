package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable._

/** `spark.readStream.format("sstable")` — micro-batch ingestion over
  * an append-only snapshot dir, the incremental-ingest surface the
  * reference removed with its commit-log readers (`README.md:37-39`).
  * End-to-end: new Data.db files become new micro-batches, and the
  * atom stream drives
  * [[graft.streaming.StreamingCompaction.compactIncremental]] with
  * LWW state carried ACROSS batches. */
class StreamingSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def writeFile(dir: java.io.File, gen: Int,
      rows: Seq[(String, Seq[(String, String, Long)])]): Unit = {
    val f = new java.io.DataOutputStream(new java.io.FileOutputStream(
      new java.io.File(dir, f"ks-cf-jb-$gen%04d-Data.db")))
    rows.foreach { case (key, cells) =>
      SSTableWriter.writeRow(f, CompactedRow(key.getBytes, Long.MinValue,
        cells.map { case (n, v, ts) =>
          CellOut(SSTableFormat.KindColumn, n.getBytes, v.getBytes, ts, None, None, None)
        }), SSTableVersion("jb"))
    }
    f.close()
  }

  test("micro-batch stream picks up newly flushed sstables incrementally") {
    val dir = java.nio.file.Files.createTempDirectory("sst-stream").toFile
    writeFile(dir, 1, Seq("k1" -> Seq(("c", "v1", 10L))))
    writeFile(dir, 2, Seq("k2" -> Seq(("c", "v2", 10L), ("d", "w2", 10L))))

    val q = spark.readStream.format("sstable").load(dir.toString)
      .writeStream.format("memory").queryName("sst_atoms").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sst_atoms").count() == 3, "first batch: 3 atoms from 2 files")

      writeFile(dir, 3, Seq("k1" -> Seq(("c", "v1b", 20L))))
      q.processAllAvailable()
      assert(spark.table("sst_atoms").count() == 4, "new file arrives as a new batch")
      val sources = spark.table("sst_atoms").select("source").distinct().count()
      assert(sources == 3, "atoms carry per-file source paths")
    } finally q.stop()
  }

  test("restart from checkpoint resumes at the committed offset (no reprocessing)") {
    val dir = java.nio.file.Files.createTempDirectory("sst-stream-ckpt").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("sst-stream-ckpt-loc").toString
    writeFile(dir, 1, Seq("k1" -> Seq(("c", "v1", 10L))))

    val sink = java.nio.file.Files.createTempDirectory("sst-stream-ckpt-out").toString
    // memory sink can't recover from a checkpoint; the parquet sink
    // exercises the real exactly-once restart path
    def start() = spark.readStream.format("sstable").load(dir.toString)
      .selectExpr("cast(key as string) AS k")
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(sink).count() == 1)

    writeFile(dir, 2, Seq("k2" -> Seq(("c", "v2", 20L))))
    // fresh query, same checkpoint: deserializeOffset must restore the
    // watermark so only the NEW file is read
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val keys = spark.read.parquet(sink).collect().map(_.getString(0)).sorted.toSeq
    assert(keys == Seq("k1", "k2"), s"restart must resume past file 1 exactly once, got $keys")
  }

  test("aegjson source also streams: new snapshot files arrive as micro-batches") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("aeg-stream-src").toFile
    val out = java.nio.file.Files.createTempDirectory("aeg-stream-out").toString
    // land one compacted snapshot file
    def snapshot(gen: Int, keys: Seq[String]): Unit = {
      val atoms = keys.zipWithIndex.map { case (k, i) =>
        AtomRec(k.getBytes, "src", Long.MinValue, SSTableFormat.KindColumn,
          "c".getBytes, s"v$i".getBytes, Some(i.toLong), None, None, None, null)
      }
      val rows = GraftSSTable.compact(spark.createDataset(atoms).toDF(), numPartitions = 1)
      val lines = GraftSSTable.aegJsonLines(rows).collect().map(_._2)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(src.toString, f"aeg-$gen%05d"),
        (lines.mkString("\n") + "\n").getBytes)
    }
    snapshot(0, Seq("a1", "a2"))
    val q = spark.readStream.format("aegjson").option("clean", "false").load(src.toString)
      .writeStream.format("memory").queryName("aeg_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("aeg_stream").count() == 2)
      snapshot(1, Seq("b1"))
      q.processAllAvailable()
      assert(spark.table("aeg_stream").count() == 3, "new snapshot file becomes a new batch")
    } finally q.stop()
  }

  test("maxFilesPerTrigger=1 reads three files as three batches (sstable and aegjson)") {
    val sst = java.nio.file.Files.createTempDirectory("sst-stream-admit").toFile
    (1 to 3).foreach(g => writeFile(sst, g, Seq(s"k$g" -> Seq(("c", s"v$g", g.toLong)))))
    val aeg = java.nio.file.Files.createTempDirectory("aeg-stream-admit").toFile
    (1 to 3).foreach { g =>
      val line = AegJsonCodec.serialize(AegRow(s"k$g", Long.MinValue,
        Seq(AegCell("c", s"v$g", g.toLong, None, None, None, None))))
      java.nio.file.Files.write(java.nio.file.Paths.get(aeg.toString, f"aeg-$g%05d"),
        (line + "\n").getBytes)
    }
    Seq("sstable" -> sst, "aegjson" -> aeg).foreach { case (format, dir) =>
      val batchRows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.format(format).option("maxFilesPerTrigger", "1")
        .load(dir.toString)
        .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          batchRows.add(df.count()); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      val counts = batchRows.asScala.toSeq.filter(_ > 0)
      assert(counts == Seq(1L, 1L, 1L), s"$format: one file per batch, got $counts")
    }
  }

  test("streamed atoms drive incremental compaction with cross-batch LWW state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sst-stream-compact").toFile
    writeFile(dir, 1, Seq("k1" -> Seq(("c", "old", 10L))))

    val atoms = spark.readStream.format("sstable").load(dir.toString).as[AtomRec]
    val q = graft.streaming.StreamingCompaction.compactIncremental(atoms)
      .writeStream.format("memory").queryName("sst_rowstate").outputMode("update").start()
    try {
      q.processAllAvailable()
      val first = spark.table("sst_rowstate").collect()
      assert(first.map(_.getAs[String]("keyHex")).toSet == Set(CassType.hex("k1".getBytes)))
      assert(first.head.getAs[Int]("nLiveColumns") == 1)

      // second flush: same key, higher-ts overwrite of c + a new column d
      writeFile(dir, 2, Seq("k1" -> Seq(("c", "new", 20L), ("d", "x", 20L))))
      q.processAllAvailable()
      val updates = spark.table("sst_rowstate").collect()
      // update mode appends one row per state change; the LATEST update
      // for k1 must reflect the merged state across both files
      assert(updates.last.getAs[Int]("nLiveColumns") == 2,
        "state must merge across micro-batches (LWW + new column)")
    } finally q.stop()
  }
}
