package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable.TaskCommit

/** Speculation-safe sink commit (VERDICT r2 next-round #1; reference
  * semantics `output/CustomFileNameFileOutputFormat.java:27-46` via
  * `FileOutputCommitter`): duplicate task attempts for one partition
  * must publish exactly one complete file, a failed attempt must leave
  * final paths untouched, and the job must clean its temp tree. */
class CommitProtocolSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def conf = new org.apache.hadoop.conf.Configuration()

  private def tmpDir(): String =
    Files.createTempDirectory("graft-commit").toString

  test("two attempts for one partition commit exactly one intact file (first wins)") {
    val out = tmpDir()
    // no TaskContext here -> each call gets its own attempt dir, which
    // is exactly the speculative-duplicate layout on executors
    TaskCommit.withTaskAttemptDir(conf, out, "job1") { (fs, dir) =>
      val os = fs.create(new org.apache.hadoop.fs.Path(dir, "aeg-00000"), true)
      os.write("attempt-A complete\n".getBytes); os.close()
    }
    TaskCommit.withTaskAttemptDir(conf, out, "job1") { (fs, dir) =>
      val os = fs.create(new org.apache.hadoop.fs.Path(dir, "aeg-00000"), true)
      os.write("attempt-B complete\n".getBytes); os.close()
    }
    TaskCommit.cleanupJob(conf, out, "job1")
    val files = new java.io.File(out).listFiles.filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName).toSeq
    assert(files == Seq("aeg-00000"), s"exactly one final file, got $files")
    assert(new String(Files.readAllBytes(Paths.get(out, "aeg-00000"))) == "attempt-A complete\n",
      "first committer wins; the duplicate's copy is discarded")
    assert(!new java.io.File(out, "_temporary").exists, "job temp tree removed")
  }

  test("8 racing attempts for one partition still publish exactly one intact file") {
    val out = tmpDir()
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val futures = (1 to 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = {
          barrier.await() // maximize rename-race overlap
          TaskCommit.withTaskAttemptDir(conf, out, "jobrace") { (fs, dir) =>
            val os = fs.create(new org.apache.hadoop.fs.Path(dir, "aeg-00000"), true)
            // identical content, as real duplicate attempts produce
            os.write(("deterministic line\n" * 100).getBytes); os.close()
          }
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    TaskCommit.cleanupJob(conf, out, "jobrace")
    val files = new java.io.File(out).listFiles.filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName).toSeq
    assert(files == Seq("aeg-00000"))
    assert(new String(Files.readAllBytes(Paths.get(out, "aeg-00000"))) == "deterministic line\n" * 100,
      "the published file must be one attempt's complete bytes, never an interleaving")
    assert(!new java.io.File(out, "_temporary").exists)
  }

  test("failed attempt aborts: no final file, no visible debris; a retry then commits") {
    val out = tmpDir()
    intercept[RuntimeException] {
      TaskCommit.withTaskAttemptDir(conf, out, "job2") { (fs, dir) =>
        val os = fs.create(new org.apache.hadoop.fs.Path(dir, "aeg-00000"), true)
        os.write("partial".getBytes); os.close()
        throw new RuntimeException("task died mid-write")
      }
    }
    assert(!new java.io.File(out, "aeg-00000").exists, "no partial output at a final path")
    // retry (fresh attempt) succeeds
    TaskCommit.withTaskAttemptDir(conf, out, "job2") { (fs, dir) =>
      val os = fs.create(new org.apache.hadoop.fs.Path(dir, "aeg-00000"), true)
      os.write("retried complete\n".getBytes); os.close()
    }
    TaskCommit.cleanupJob(conf, out, "job2")
    assert(new String(Files.readAllBytes(Paths.get(out, "aeg-00000"))) == "retried complete\n")
  }

  test("preClean restores overwrite semantics across job runs") {
    val out = tmpDir()
    Files.write(Paths.get(out, "aeg-00000"), "stale previous run\n".getBytes)
    Files.write(Paths.get(out, "aeg-00001"), "stale previous run\n".getBytes)
    Files.write(Paths.get(out, "notes.txt"), "not the sink's\n".getBytes)
    TaskCommit.preClean(conf, out, raw"aeg-\d{5,}".r)
    TaskCommit.withTaskAttemptDir(conf, out, "job3") { (fs, dir) =>
      val os = fs.create(new org.apache.hadoop.fs.Path(dir, "aeg-00000"), true)
      os.write("fresh\n".getBytes); os.close()
    }
    TaskCommit.cleanupJob(conf, out, "job3")
    assert(new String(Files.readAllBytes(Paths.get(out, "aeg-00000"))) == "fresh\n")
    assert(!Files.exists(Paths.get(out, "aeg-00001")), "every file of the sink's pattern is cleared")
    assert(Files.exists(Paths.get(out, "notes.txt")), "files outside the pattern are kept")
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
