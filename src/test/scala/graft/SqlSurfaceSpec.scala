package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The pure-SQL consumption path: a user with no graft imports can
  * stand up the engine's sources as temporary views (`USING sstable` /
  * `USING aegjson` resolve through DataSourceRegister) and query them
  * with engine expressions — the "switch to this library" surface a
  * SQL-only shop would actually use. */
class SqlSurfaceSpec extends AnyFunSuite {

  private val fixtures = s"${TestUtil.fixturesRoot}/2.0.10/randomtable/input"

  lazy val spark: SparkSession = TestUtil.session()

  test("CREATE TEMPORARY VIEW ... USING sstable + engine expressions, SQL only") {
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW atoms
      USING sstable OPTIONS (path '$fixtures', skipCorrupt 'true')""")
    val n = spark.sql("SELECT count(*) FROM atoms").head().getLong(0)
    assert(n > 0)
    // engine expression over the view: render keys per marshal type
    val keys = spark.sql(
      "SELECT DISTINCT cass_render(key, 'BytesType') AS k FROM atoms ORDER BY k")
      .collect().map(_.getString(0))
    assert(keys.nonEmpty && keys.forall(_.matches("[0-9a-f]+")))
    // column pruning still applies through the SQL path: the DSv2
    // scan's output is exactly the projected column
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val pruned = spark.sql("SELECT key FROM atoms")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head
    assert(scan.output.map(_.name) == Seq("key"))
  }

  test("CREATE TEMPORARY VIEW ... USING aegjson round-trips through SQL") {
    val out = java.nio.file.Files.createTempDirectory("graft_sql_aegjson").toFile
    try {
      GraftSSTable.writeAegJson(
        GraftSSTable.compact(GraftSSTable.readAtoms(spark, fixtures,
          Map("skipCorrupt" -> "true"))),
        out.toString)
      spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW snapshot
        USING aegjson OPTIONS (path '${out.toString}')""")
      val rows = spark.sql("SELECT count(*) FROM snapshot").head().getLong(0)
      val direct = GraftSSTable.readAegJson(spark, out.toString).count()
      assert(rows == direct && rows > 0)
    } finally TestUtil.deleteRecursively(out)
  }
}
