package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Baskets

/** Association-measure arithmetic on hand-computed baskets: exact
  * micro support/confidence/lift (including the floor-composed lift
  * surrogate), duplicate-row collapse, canonical pair order, guards,
  * and partition independence. */
class BasketsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def run(rows: Seq[(Long, Long)], minPairs: Long, parts: Int = 4) = {
    import spark.implicits._
    Baskets.assocPairs(rows.toDF("bk", "it").repartition(parts), "bk", "it", minPairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7), r.getLong(8)))
      .toMap
  }

  test("hand-computed measures: 4 baskets, pair threshold 2") {
    // baskets: 1:{A=10,B=20,C=30}, 2:{A,B}, 3:{A,C}, 4:{B}
    val rows = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L),
      (4L, 20L))
    val got = run(rows, minPairs = 2)
    // n_A=3 n_B=3 n_C=2, N=4; AB:2, AC:2, BC:1(below threshold)
    assert(got.keySet === Set((10L, 20L), (10L, 30L)))
    // AB: support=2e6/4=500000, conf_ab=2e6/3=666666, conf_ba=666666,
    // lift=(666666*4)/3=888888
    assert(got((10L, 20L)) === ((2L, 3L, 3L, 500000L, 666666L, 666666L, 888888L)))
    // AC: conf_ab=2e6/3=666666, conf_ba=2e6/2=1000000,
    // lift=(666666*4)/2=1333332
    assert(got((10L, 30L)) === ((2L, 3L, 2L, 500000L, 666666L, 1000000L, 1333332L)))
  }

  test("duplicate (basket, item) rows collapse before counting") {
    val rows = Seq((1L, 10L), (1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (2L, 20L))
    val got = run(rows, minPairs = 2)
    // n_ab=2 from 2 baskets despite the duplicated rows; n_a=n_b=2;
    // lift = (1e6 * 2) div 2 = 1e6
    assert(got === Map((10L, 20L) ->
      ((2L, 2L, 2L, 1000000L, 1000000L, 1000000L, 1000000L))))
  }

  test("partition independence") {
    val rows = (1L to 40L).flatMap(bk => (0L to bk % 5).map(i => (bk, 100L + (bk + i) % 7)))
    assert(run(rows, 2, parts = 1) === run(rows, 2, parts = 7))
  }

  test("guards: bad minPairs and empty input fail fast") {
    import spark.implicits._
    intercept[IllegalArgumentException](
      Baskets.assocPairs(Seq((1L, 1L)).toDF("bk", "it"), "bk", "it", 0L))
    intercept[IllegalArgumentException](
      Baskets.assocPairs(Seq.empty[(Long, Long)].toDF("bk", "it"), "bk", "it", 1L))
  }
}
