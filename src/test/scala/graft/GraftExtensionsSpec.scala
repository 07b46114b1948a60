package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PolyHash

/** The `spark.sql.extensions=graft.GraftExtensions` deployment path:
  * a session built with only that conf must expose every engine
  * expression through plain SQL, with values identical to the
  * library-registered path. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("a session built with the extensions conf resolves engine functions in plain SQL") {
    // extensions apply at session BUILD time, so this suite needs its
    // own session AND SparkContext: stop the default session too (the
    // active one is thread-local — another suite's session created on
    // a different thread would otherwise keep its context alive and
    // getOrCreate would reuse it, skipping extension application)
    (SparkSession.getActiveSession ++ SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = GraftSession("graft-test",
      _.config("spark.sql.extensions", classOf[GraftExtensions].getName))
    try {
      val h = spark.sql("SELECT graft_polyhash('abc', 31) AS h").head().getLong(0)
      assert(h == PolyHash.hash("abc", 31))
      val rendered = spark.sql(
        "SELECT cass_render(cast('686921' as binary), 'BytesType') AS r").head().getString(0)
      // hex of the UTF-8 bytes of the string "686921"
      assert(rendered == "363836393231")
      val sh = spark.sql(
        "SELECT graft_shingle_hashes('a b c d', 2) AS s").head().getSeq[Long](0)
      assert(sh.nonEmpty)
      // hex caster: 8-byte width sniffs to a long
      val hx = spark.sql("SELECT hex_to_long('00000000000000ff') AS v").head().getLong(0)
      assert(hx == 255L)
      val nfc = spark.sql("SELECT graft_nfc('cafe\u0301') AS n").head().getString(0)
      assert(nfc == "caf\u00e9")
      // EVERY builder-listed expression must resolve through this path —
      // a function added to CassFunctions.builders is covered here
      // without editing this spec
      graft.functions.CassFunctions.builders.foreach { case (name, _) =>
        assert(
          spark.sessionState.functionRegistry
            .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
          s"$name not injected by GraftExtensions")
      }
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
