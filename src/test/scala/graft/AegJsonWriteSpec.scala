package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable.{AtomRec, SSTableFormat}

/** DSv2 WRITE path for aeg-JSON (`df.write.format("aegjson")`):
  * load → transform → save round-trips byte-exactly, the job-level
  * commit publishes nothing until every task succeeds, overwrite
  * replaces every `aeg-NNNNN` file and append replaces none. */
class AegJsonWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def mkRows(n: Int) = {
    import spark.implicits._
    val atoms = (1 to n).map { i =>
      AtomRec(f"k$i%03d".getBytes, "src", Long.MinValue, SSTableFormat.KindColumn,
        f"n$i%03d".getBytes, s"v$i".getBytes, Some(i.toLong), None, None, None, null)
    }
    GraftSSTable.compact(spark.createDataset(atoms).toDF(), numPartitions = 2)
  }

  test("read -> save round-trips the aeg-JSON file byte-exactly") {
    val dir1 = Files.createTempDirectory("aegw-src").toString
    GraftSSTable.writeAegJson(mkRows(30), dir1, numFiles = 1)

    // clean=false: preserve every cell verbatim for the identity check
    val dir2 = Files.createTempDirectory("aegw-dst").toString
    spark.read.format("aegjson").option("clean", "false").load(dir1)
      .coalesce(1)
      .write.format("aegjson").mode("append").save(dir2)

    val a = new String(Files.readAllBytes(Paths.get(dir1, "aeg-00000")))
    val b = new String(Files.readAllBytes(Paths.get(dir2, "aeg-00000")))
    assert(a == b, "parse -> serialize through the DSv2 writer must be the identity")
    assert(!new java.io.File(dir2, "_temporary").exists)
  }

  test("multi-partition save numbers files by partition id; overwrite mode works") {
    val dir1 = Files.createTempDirectory("aegw-multi-src").toString
    GraftSSTable.writeAegJson(mkRows(40), dir1, numFiles = 1)
    val df = spark.read.format("aegjson").option("clean", "false").load(dir1)

    val dir2 = Files.createTempDirectory("aegw-multi").toString
    df.repartition(3).write.format("aegjson").mode("append").save(dir2)
    val files = new java.io.File(dir2).listFiles
      .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName).sorted.toSeq
    assert(files == Seq("aeg-00000", "aeg-00001", "aeg-00002"))

    // rows survive intact (order differs across partitions)
    val back = spark.read.format("aegjson").option("clean", "false").load(dir2)
    assert(back.count() == df.count())

    // overwrite with fewer partitions: the whole directory reads back
    // as exactly the new rows, no stale aeg-00001/aeg-00002 merged in
    df.coalesce(1).write.format("aegjson").mode("overwrite").save(dir2)
    val again = spark.read.format("aegjson").option("clean", "false").load(dir2)
    assert(again.count() == df.count())
  }

  test("append never replaces an existing file: it fails naming it") {
    val dir1 = Files.createTempDirectory("aegw-append-src").toString
    GraftSSTable.writeAegJson(mkRows(20), dir1, numFiles = 1)
    val df = spark.read.format("aegjson").option("clean", "false").load(dir1)

    val dir2 = Files.createTempDirectory("aegw-append").toString
    df.coalesce(1).write.format("aegjson").mode("append").save(dir2)
    val before = Files.readAllBytes(Paths.get(dir2, "aeg-00000"))
    val e = intercept[Exception] {
      df.limit(5).coalesce(1).write.format("aegjson").mode("append").save(dir2)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("aeg-00000")), s"error must name the colliding file: $messages")
    assert(java.util.Arrays.equals(before, Files.readAllBytes(Paths.get(dir2, "aeg-00000"))),
      "the first append's file keeps its rows")
    assert(!new java.io.File(dir2, "_temporary").exists)
  }

  test("a failing task aborts the job: no final files published") {
    import org.apache.spark.sql.functions._
    val dir1 = Files.createTempDirectory("aegw-abort-src").toString
    GraftSSTable.writeAegJson(mkRows(20), dir1, numFiles = 1)
    val df = spark.read.format("aegjson").option("clean", "false").load(dir1)

    val dir2 = Files.createTempDirectory("aegw-abort").toString
    val poisoned = df.withColumn("deletedAt",
      udf((k: String) => {
        if (k == "6b303130") throw new RuntimeException("poison") // hex("k010")
        Long.MinValue
      }).apply(col("key")))
    intercept[Exception] {
      poisoned.write.format("aegjson").mode("append").save(dir2)
    }
    val visible = Option(new java.io.File(dir2).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("."))
    assert(visible.isEmpty, "a failed job must publish no final aeg files")
  }

  test("schema mismatch is rejected at plan time") {
    import spark.implicits._
    val bogus = Seq((1, "x")).toDF("a", "b")
    val dir = Files.createTempDirectory("aegw-schema").toString
    val e = intercept[Exception] {
      bogus.write.format("aegjson").mode("append").save(dir)
    }
    // Spark's analyzer rejects against the table's declared schema
    // before our own builder-level validation even runs
    assert(e.getMessage.contains("INCOMPATIBLE_DATA_FOR_TABLE")
      || e.getMessage.contains("aegjson write expects schema"))
  }

  test("aegJsonLines rejects a bad type name when called, before any action") {
    import spark.implicits._
    val rows = spark.createDataset(Seq.empty[graft.sstable.CompactedRow])
    intercept[IllegalArgumentException](GraftSSTable.aegJsonLines(rows, nameType = "NopeType"))
  }
}
