package graft

/** Shared test plumbing (one copy of the temp-dir cleanup and the
  * reference fixtures root — several suites were re-declaring both). */
object TestUtil {
  val fixturesRoot =
    "/root/reference/aegisthus-hadoop/src/test/resources/testdata"

  /** The suites' session: [[GraftSession]], the conf the entry points
    * run under, with the graft_* functions registered so no suite
    * depends on an earlier one having registered them. */
  def session(): org.apache.spark.sql.SparkSession = {
    val s = GraftSession("graft-test")
    graft.functions.CassFunctions.registerAll(s)
    s
  }

  def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
