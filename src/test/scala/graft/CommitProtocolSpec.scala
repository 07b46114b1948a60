package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable.TaskCommit

/** The sinks' one commit protocol, [[TaskCommit]] (reference
  * semantics `output/CustomFileNameFileOutputFormat.java:27-46` via
  * `FileOutputCommitter`): task attempts only stage files, the driver
  * publishes exactly the attempt per partition it accepted once the
  * job has succeeded, a failed attempt or job publishes nothing (the
  * previous output stays whole), and the temp tree is always dropped. */
class CommitProtocolSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def conf = new org.apache.hadoop.conf.Configuration()

  private def tmpDir(): String =
    Files.createTempDirectory("graft-commit").toString

  private val aegNames = raw"aeg-\d{5,}".r

  private def visibleFiles(out: String): Seq[String] =
    Option(new java.io.File(out).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName).sorted.toSeq

  /** no TaskContext here -> each call gets its own attempt dir, which
    * is exactly the speculative-duplicate layout on executors */
  private def stageFile(out: String, jobId: String, name: String, text: String): String =
    TaskCommit.stage(conf, out, jobId) { (fs, dir) =>
      val os = fs.create(new org.apache.hadoop.fs.Path(dir, name), true)
      os.write(text.getBytes); os.close()
    }

  test("two attempts for one partition commit exactly one intact file (first wins)") {
    val out = tmpDir()
    val first = stageFile(out, "job1", "aeg-00000", "attempt-A complete\n")
    val second = stageFile(out, "job1", "aeg-00000", "attempt-B complete\n")
    assert(first != second, "every attempt stages into its own directory")
    assert(visibleFiles(out).isEmpty, "staging publishes nothing")
    // the scheduler accepts the first attempt to succeed and drops the duplicate's result
    TaskCommit.publish(conf, out, Seq(first), Some(aegNames))
    TaskCommit.cleanupJob(conf, out, "job1")
    assert(visibleFiles(out) == Seq("aeg-00000"), "exactly one final file")
    assert(new String(Files.readAllBytes(Paths.get(out, "aeg-00000"))) == "attempt-A complete\n",
      "first committer wins; the duplicate's copy is discarded")
    assert(!new java.io.File(out, "_temporary").exists, "job temp tree removed")
  }

  test("8 racing attempts for one partition still publish exactly one intact file") {
    val n = 8
    val out = tmpDir()
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val attempts = (1 to n).map { i =>
      pool.submit(new java.util.concurrent.Callable[String] {
        override def call(): String = {
          barrier.await() // maximize staging overlap
          stageFile(out, "jobrace", "aeg-00000", s"attempt-$i complete\n" * 100)
        }
      })
    }.map(_.get())
    pool.shutdown()
    assert(attempts.distinct.size == n, "every attempt stages into its own directory")
    assert(visibleFiles(out).isEmpty, "staging publishes nothing")
    // the driver received attempt 2 for partition 0; partition 1 had one attempt
    val other = stageFile(out, "jobrace", "aeg-00001", "partition 1\n")
    TaskCommit.publish(conf, out, Seq(attempts(1), other), Some(aegNames))
    TaskCommit.cleanupJob(conf, out, "jobrace")
    assert(visibleFiles(out) == Seq("aeg-00000", "aeg-00001"), "one intact file per partition")
    assert(new String(Files.readAllBytes(Paths.get(out, "aeg-00000"))) == "attempt-2 complete\n" * 100,
      "the published file is exactly the accepted attempt's bytes, never an interleaving")
    assert(!new java.io.File(out, "_temporary").exists,
      "the other attempts' files are gone with the temp tree")
  }

  test("failed attempt aborts: no final file, no visible debris; a retry then commits") {
    val out = tmpDir()
    intercept[RuntimeException] {
      TaskCommit.stage(conf, out, "job2") { (fs, dir) =>
        val os = fs.create(new org.apache.hadoop.fs.Path(dir, "aeg-00000"), true)
        os.write("partial".getBytes); os.close()
        throw new RuntimeException("task died mid-write")
      }
    }
    assert(!new java.io.File(out, "aeg-00000").exists, "no partial output at a final path")
    assert(Option(new java.io.File(out, "_temporary/job2").list).forall(_.isEmpty),
      "the failed attempt deleted its directory")
    // retry (fresh attempt) succeeds
    val retry = stageFile(out, "job2", "aeg-00000", "retried complete\n")
    TaskCommit.publish(conf, out, Seq(retry), Some(aegNames))
    TaskCommit.cleanupJob(conf, out, "job2")
    assert(new String(Files.readAllBytes(Paths.get(out, "aeg-00000"))) == "retried complete\n")
    assert(!new java.io.File(out, "_temporary").exists)
  }

  test("publish with the sink's name pattern restores overwrite semantics") {
    val out = tmpDir()
    Files.write(Paths.get(out, "aeg-00000"), "stale previous run\n".getBytes)
    Files.write(Paths.get(out, "aeg-00001"), "stale previous run\n".getBytes)
    Files.write(Paths.get(out, "notes.txt"), "not the sink's\n".getBytes)
    val staged = stageFile(out, "job3", "aeg-00000", "fresh\n")
    TaskCommit.publish(conf, out, Seq(staged), Some(aegNames))
    TaskCommit.cleanupJob(conf, out, "job3")
    assert(new String(Files.readAllBytes(Paths.get(out, "aeg-00000"))) == "fresh\n")
    assert(!Files.exists(Paths.get(out, "aeg-00001")), "every file of the sink's pattern is cleared")
    assert(Files.exists(Paths.get(out, "notes.txt")), "files outside the pattern are kept")
    assert(!new java.io.File(out, "_temporary").exists)
  }

  test("a failed rerun keeps every file sink's previous output byte-identical") {
    import graft.sstable.{AtomRec, AvroSink, SSTableFormat}
    import spark.implicits._
    // throws on the second row of every partition, after the write has begun
    def poisoned[T: org.apache.spark.sql.Encoder](ds: org.apache.spark.sql.Dataset[T]) =
      ds.mapPartitions { it =>
        var n = 0
        it.map { r =>
          n += 1
          if (n == 2) throw new RuntimeException("task attempt killed mid-partition")
          r
        }
      }
    def rows(prefix: String) = GraftSSTable.compact(spark.createDataset((1 to 30).map { i =>
      AtomRec(f"$prefix$i%02d".getBytes, "src", Long.MinValue, SSTableFormat.KindColumn,
        "n".getBytes, s"v$i".getBytes, Some(i.toLong), None, None, None, null)
    }).toDF(), numPartitions = 2)
    def records(prefix: String) = spark.createDataset((1 to 30).map(i => (i.toLong, s"$prefix$i")))
    def snapshot(out: String): Map[String, Seq[Byte]] =
      visibleFiles(out).map(n => n -> Files.readAllBytes(Paths.get(out, n)).toSeq).toMap

    val sinks: Seq[(String, (String, Boolean) => Unit)] = Seq(
      "writeAegJson" -> { (out, poison) =>
        val r = rows(if (poison) "b" else "a")
        GraftSSTable.writeAegJson(if (poison) poisoned(r) else r, out, numFiles = 2)
      },
      "writeSSTable" -> { (out, poison) =>
        val r = rows(if (poison) "b" else "a")
        GraftSSTable.writeSSTable(if (poison) poisoned(r) else r, out, numFiles = 2,
          compress = true, writeIndex = true)
      },
      "AvroSink.write" -> { (out, poison) =>
        val r = records(if (poison) "b" else "a")
        // no repartition: the poison fires inside the write task itself
        AvroSink.write((if (poison) poisoned(r) else r).toDF("id", "s"), out)
      })
    sinks.foreach { case (sink, run) =>
      val out = tmpDir()
      run(out, false)
      val first = snapshot(out)
      assert(first.nonEmpty, s"$sink wrote nothing")
      intercept[Exception](run(out, true))
      assert(snapshot(out) == first, s"$sink: a failed rerun must leave the first run's files whole")
      assert(!new java.io.File(out, "_temporary").exists, s"$sink: the failed job's temp tree remains")
    }
  }

  test("a rerun that writes fewer files leaves none of the previous run's files") {
    import graft.sstable.{AtomRec, SSTableFormat}
    import spark.implicits._
    def rows(prefix: String) = GraftSSTable.compact(spark.createDataset((1 to 30).map { i =>
      AtomRec(f"$prefix$i%02d".getBytes, "src", Long.MinValue, SSTableFormat.KindColumn,
        "n".getBytes, s"v$i".getBytes, Some(i.toLong), None, None, None, null)
    }).toDF(), numPartitions = 2)
    def keys(df: org.apache.spark.sql.DataFrame, hex: Boolean) =
      df.select("key").distinct().collect().map { r =>
        if (hex) r.getString(0) else new String(r.getAs[Array[Byte]](0))
      }.sorted.toSeq
    val second = (1 to 30).map(i => f"b$i%02d")

    val aeg = tmpDir()
    GraftSSTable.writeAegJson(rows("a"), aeg, numFiles = 3)
    GraftSSTable.writeAegJson(rows("b"), aeg, numFiles = 1)
    assert(keys(GraftSSTable.readAegJson(spark, aeg, clean = false), hex = true) ==
      second.map(k => graft.sstable.CassType.hex(k.getBytes)))

    val sst = tmpDir()
    GraftSSTable.writeSSTable(rows("a"), sst, numFiles = 3, writeIndex = true)
    GraftSSTable.writeSSTable(rows("b"), sst, numFiles = 1)
    assert(keys(GraftSSTable.readAtoms(spark, sst), hex = false) == second)
  }

  test("writeAegJson end-to-end leaves committed files and no temp tree; rerun overwrites") {
    import graft.sstable.{AtomRec, SSTableFormat}
    import spark.implicits._
    val atoms = (1 to 20).map { i =>
      AtomRec(f"k$i%02d".getBytes, "src", Long.MinValue, SSTableFormat.KindColumn,
        f"n$i%02d".getBytes, s"v$i".getBytes, Some(i.toLong), None, None, None, null)
    }
    val rows = GraftSSTable.compact(spark.createDataset(atoms).toDF(), numPartitions = 2)
    val out = tmpDir()
    GraftSSTable.writeAegJson(rows, out, numFiles = 2)
    val first = new java.io.File(out).listFiles.filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName).sorted.toSeq
    assert(first == Seq("aeg-00000", "aeg-00001"))
    assert(!new java.io.File(out, "_temporary").exists)
    val bytes1 = Files.readAllBytes(Paths.get(out, "aeg-00000"))
    GraftSSTable.writeAegJson(rows, out, numFiles = 2) // rerun into same dir
    assert(java.util.Arrays.equals(bytes1, Files.readAllBytes(Paths.get(out, "aeg-00000"))),
      "rerun must overwrite to identical committed content")
  }

  test("compressed sstable sink commits Data.db with its CompressionInfo sidecar") {
    import graft.sstable.{AtomRec, SSTableFormat}
    import spark.implicits._
    val atoms = (1 to 10).map { i =>
      AtomRec(f"k$i%02d".getBytes, "src", Long.MinValue, SSTableFormat.KindColumn,
        f"n$i%02d".getBytes, s"v$i".getBytes, Some(i.toLong), None, None, None, null)
    }
    val rows = GraftSSTable.compact(spark.createDataset(atoms).toDF(), numPartitions = 2)
    val out = tmpDir()
    GraftSSTable.writeSSTable(rows, out, version = "jb", compress = true)
    val files = new java.io.File(out).listFiles.filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName).sorted.toSeq
    assert(files == Seq(
      "keyspace-dataset-jb-0000000000-CompressionInfo.db",
      "keyspace-dataset-jb-0000000000-Data.db"))
    assert(!new java.io.File(out, "_temporary").exists)
    // the committed pair reads back through the engine's own scan
    val back = GraftSSTable.readAtoms(spark, out)
    assert(back.count() == 10L)
  }
}
