package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.RangeJoinRewrite]] (injected by [[GraftExtensions]]):
  * with the bucket-width conf set, a plain inequality join optimizes
  * into the bucketed equi-join — same rows, no nested-loop/cartesian
  * scan; without the conf (or outside the conservative pattern) the
  * rule is a no-op. */
class RangeJoinRewriteSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    (SparkSession.getActiveSession ++ SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    GraftSession("graft-test",
      _.config("spark.sql.extensions", classOf[GraftExtensions].getName))
  }

  private def fixture() = {
    import spark.implicits._
    val pts = (0L until 500L).map(i => (i, i * 3)).toDF("p_id", "pm")
    val ivs = Seq(
      (100L, 0L, 30L), (101L, 25L, 95L), (102L, 51L, 52L),
      (103L, 70L, 70L), (104L, 1480L, 2000L), (105L, 0L, 1500L)
    ).toDF("i_id", "s0", "e0")
    (pts, ivs)
  }

  private def withWidth[A](w: Option[Long])(f: => A): A = {
    w.foreach(v => spark.conf.set("spark.graft.rangeJoin.bucketWidth", v.toString))
    try f finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }

  test("rewrites the inequality join to a bucketed equi-join with identical rows") {
    val (pts, ivs) = fixture()
    val join = pts.join(ivs, col("pm") >= col("s0") && col("pm") < col("e0"))
    val baseline = join.collect().map(r => (r.getLong(0), r.getLong(2))).sorted
    val baselinePlan = join.queryExecution.executedPlan.toString
    assert(baselinePlan.contains("BroadcastNestedLoopJoin") ||
      baselinePlan.contains("CartesianProduct"),
      s"expected Spark's native nested-loop shape without the conf:\n$baselinePlan")
    withWidth(Some(10L)) {
      val rewritten = pts.join(ivs, col("pm") >= col("s0") && col("pm") < col("e0"))
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      assert(plan.contains("Generate"), plan)
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(2))).sorted
      assert(got.toSeq == baseline.toSeq)
      assert(got.nonEmpty)
      assert(got.length == got.distinct.length, "no duplicate pairs")
    }
  }

  test("point side may be left or right; operand order may be flipped") {
    val (pts, ivs) = fixture()
    withWidth(Some(7L)) {
      val a = ivs.join(pts, col("s0") <= col("pm") && col("e0") > col("pm"))
      val plan = a.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      val naive = ivs.join(pts, col("pm") >= col("s0") && col("pm") < col("e0"))
      assert(a.collect().map(_.toSeq).toSet ==
        naive.collect().map(_.toSeq).toSet)
    }
  }

  test("no-op without the conf, with an equi-conjunct, or on non-long types") {
    val (pts, ivs) = fixture()
    import spark.implicits._
    // conf unset: native plan untouched
    val bare = pts.join(ivs, col("pm") >= col("s0") && col("pm") < col("e0"))
      .queryExecution.executedPlan.toString
    assert(bare.contains("BroadcastNestedLoopJoin") || bare.contains("CartesianProduct"))
    withWidth(Some(10L)) {
      // an equality conjunct means Catalyst already has a hash key —
      // the rule must not touch the join (condition has 3 conjuncts)
      val keyed = pts.withColumn("k", col("p_id") % 3)
        .join(ivs.withColumn("k2", col("i_id") % 3),
          col("k") === col("k2") && col("pm") >= col("s0") && col("pm") < col("e0"))
      assert(!keyed.queryExecution.executedPlan.toString.contains("Generate"))
      // doubles: outside the conservative LongType-only pattern
      val dpts = (0 until 50).map(i => i.toDouble).toDF("dm")
      val divs = Seq((0.0, 10.0), (5.0, 25.0)).toDF("ds", "de")
      val dj = dpts.join(divs, col("dm") >= col("ds") && col("dm") < col("de"))
      assert(!dj.queryExecution.executedPlan.toString.contains("Generate"))
      assert(dj.count() == 30)
    }
  }

  test("a malformed bucket-width conf fails with the key named, not a bare NumberFormatException") {
    import spark.implicits._
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "ten")
    try {
      val pts = Seq(1L).toDF("pm")
      val ivs = Seq((0L, 5L)).toDF("s0", "e0")
      val e = intercept[Throwable] {
        pts.join(ivs, col("pm") >= col("s0") && col("pm") < col("e0")).collect()
      }
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(msgs.contains("spark.graft.rangeJoin.bucketWidth") && msgs.contains("ten"),
        s"unexpected failure: $msgs")
    } finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }

  test("boundary semantics survive the rewrite (start inclusive, end exclusive)") {
    import spark.implicits._
    val pts = Seq(9L, 10L, 19L, 20L).toDF("pm")
    val ivs = Seq((10L, 20L)).toDF("s0", "e0")
    withWidth(Some(10L)) {
      val got = pts.join(ivs, col("pm") >= col("s0") && col("pm") < col("e0"))
        .select("pm").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(10L, 19L))
    }
  }
}
