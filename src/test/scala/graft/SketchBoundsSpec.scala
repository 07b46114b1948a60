package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** q37's oracle contract is `TRUE` for every sketch error-bound
  * column — sketch estimates (HLL distinct, approx percentile) must
  * land within 5% of the exact values computed in the same plan. This
  * spec pins that invariant at the spare scale factors so a bound
  * regression surfaces before the driver's sf0.01 gate. */
class SketchBoundsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def assertAllBoundsHold(sfDir: String): Unit = {
    val rows = queries.Relational2.q37.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val boolCols = Seq("parts_ok", "orders_ok", "p50_ok", "p95_ok")
    rows.foreach { r =>
      boolCols.foreach { c =>
        assert(r.getAs[Boolean](c),
          s"$sfDir flag=${r.getAs[String]("flag")}: sketch bound $c violated")
      }
    }
  }

  test("sketch error bounds hold at sf0.001") { assertAllBoundsHold("/root/testdata/sf0.001") }
  test("sketch error bounds hold at sf0.01") { assertAllBoundsHold("/root/testdata/sf0.01") }
}
