package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable.{AegCell, AegJsonCodec, AegRow}

/** The pruning aeg-JSON DSv2 source: parity with the hand codec on
  * the reference's own golden output, newline-aligned splits,
  * projection pushed into the parse, and F5 clean semantics. */
class AegJsonSourceSpec extends AnyFunSuite {
  private val goldenDir =
    "/root/reference/aegisthus-hadoop/src/test/resources/testdata/2.0.10/randomtable/aeg_json_output"

  lazy val spark: SparkSession = TestUtil.session()

  test("reads the reference golden output; byte-range splits agree with whole-file read") {
    import spark.implicits._
    val df = GraftSSTable.readAegJson(spark, goldenDir, clean = false)
    val viaCodec = scala.io.Source.fromFile(s"$goldenDir/aeg-00000").getLines()
      .map(AegJsonCodec.parse).toList
    val viaSource = df.as[AegRow].collect().sortBy(_.key)
    assert(viaSource.toList == viaCodec.sortBy(_.key), "DSv2 rows must equal the codec parse")

    val split = spark.read.format("aegjson")
      .option("clean", "false").option("blocksize", "1024").load(goldenDir)
    assert(split.rdd.getNumPartitions > 1, "small blocksize must produce multiple splits")
    assert(split.as[AegRow].collect().sortBy(_.key).toList == viaCodec.sortBy(_.key),
      "split reads must lose/duplicate nothing at the boundaries")
  }

  test("projection is pushed into the parse (keys-only scan schema)") {
    val keysOnly = GraftSSTable.readAegJson(spark, goldenDir, clean = false).select("key")
    val scan = keysOnly.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    assert(scan.output.map(_.name) == Seq("key"), "scan must read only the key")
    assert(keysOnly.distinct().count() == 100)

    val header = GraftSSTable.readAegJson(spark, goldenDir, clean = false)
      .select("key", "deletedAt")
    val scan2 = header.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    assert(scan2.output.map(_.name).toSet == Set("key", "deletedAt"))
  }

  test("glob paths expand (parity with the old textFile-based reader)") {
    val viaGlob = GraftSSTable.readAegJson(spark, s"$goldenDir/aeg-*", clean = false)
    assert(viaGlob.count() == 100)
  }

  test("mapView=true adds the reference loader's name-keyed dual view") {
    import org.apache.spark.sql.Row
    val df = GraftSSTable.readAegJson(spark, goldenDir, clean = false, mapView = true)
    assert(df.schema.fieldNames.toSeq ==
      Seq("key", "deletedAt", "columns", "map_columns"),
      "map view must sit ALONGSIDE the array view, not replace it")

    // the map is the array re-keyed by cell name (the golden rows have
    // unique names post-serializer), value = the FULL cell struct
    df.collect().foreach { r =>
      val cols = r.getSeq[Row](2)
      val m = r.getMap[String, Row](3)
      assert(m.size == cols.size)
      cols.foreach { c =>
        assert(m(c.getString(0)) == c, s"map entry must be the full cell struct for ${c.getString(0)}")
      }
    }

    // without the option the schema is unchanged (old readers see the
    // exact frame they always did)
    assert(GraftSSTable.readAegJson(spark, goldenDir, clean = false)
      .schema.fieldNames.toSeq == Seq("key", "deletedAt", "columns"))
  }

  test("map-only projection prunes the array view out of the scan") {
    val mapOnly = GraftSSTable.readAegJson(spark, goldenDir, clean = false, mapView = true)
      .select("key", "map_columns")
    val scan = mapOnly.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    assert(scan.output.map(_.name) == Seq("key", "map_columns"),
      "scan must not materialize the array view for a map-only query")
    // name-keyed lookup — the consumption pattern the view exists for
    // name-keyed lookup agrees with the array view's explode+filter
    // ('000000' is the CQL row-marker cell, present on 90/100 rows)
    val got = mapOnly.selectExpr("key", "map_columns['000000'].ts AS t")
      .where("t IS NOT NULL").count()
    val expected = GraftSSTable.readAegJson(spark, goldenDir, clean = false)
      .selectExpr("key", "filter(columns, c -> c.name = '000000') AS m")
      .where("size(m) > 0").count()
    assert(expected > 0 && got == expected)
  }

  test("mapView duplicate names: last cell wins (reference HashMap put)") {
    val tmp = java.nio.file.Files.createTempDirectory("aegjsonmap").toFile
    try {
      val rows = Seq(AegRow("kk", 0L, Seq(
        AegCell("dup", "old", 10L, None, None, None, None),
        AegCell("solo", "s", 20L, None, None, None, None),
        AegCell("dup", "new", 30L, None, None, None, None))))
      val w = new java.io.PrintWriter(new java.io.File(tmp, "aeg-00000"))
      rows.foreach(r => w.println(AegJsonCodec.serialize(r)))
      w.close()

      val df = GraftSSTable.readAegJson(spark, tmp.toString, clean = false, mapView = true)
      val m = df.collect().head.getMap[String, org.apache.spark.sql.Row](3)
      assert(m.size == 2)
      assert(m("dup").getString(1) == "new", "duplicate name must keep the LAST cell")
      assert(m("solo").getString(1) == "s")

      // clean mode composes: tombstoned cells never reach the map
      val rows2 = Seq(AegRow("kk", 100L, Seq(
        AegCell("live", "v", 200L, None, None, None, None),
        AegCell("dead", "x", 300L, Some("d"), None, None, None))))
      val w2 = new java.io.PrintWriter(new java.io.File(tmp, "aeg-00001"))
      rows2.foreach(r => w2.println(AegJsonCodec.serialize(r)))
      w2.close()
      val cleaned = GraftSSTable.readAegJson(spark, s"$tmp/aeg-00001", mapView = true)
      val m2 = cleaned.collect().head.getMap[String, org.apache.spark.sql.Row](3)
      assert(m2.keySet == Set("live"))
    } finally TestUtil.deleteRecursively(tmp)
  }

  test("clean=true drops tombstoned/shadowed cells and empty rows (F5)") {
    val tmp = java.nio.file.Files.createTempDirectory("aegjson").toFile
    val rows = Seq(
      AegRow("aa", 100L, Seq(
        AegCell("c1", "v1", 200L, None, None, None, None), // live
        AegCell("c2", "v2", 50L, None, None, None, None), // shadowed by deletedAt
        AegCell("c3", "v3", 300L, Some("d"), None, None, None))), // tombstone
      AegRow("bb", 10L, Seq(
        AegCell("c1", "v1", 5L, None, None, None, None)))) // row left empty
    val w = new java.io.PrintWriter(new java.io.File(tmp, "aeg-00000"))
    rows.foreach(r => w.println(AegJsonCodec.serialize(r)))
    w.close()

    import spark.implicits._
    val cleaned = GraftSSTable.readAegJson(spark, tmp.toString).as[AegRow].collect()
    assert(cleaned.length == 1)
    assert(cleaned.head.key == "aa")
    assert(cleaned.head.columns.map(_.name) == Seq("c1"))

    val raw = GraftSSTable.readAegJson(spark, tmp.toString, clean = false).as[AegRow].collect()
    assert(raw.map(_.columns.size).sum == 4)
  }
}
