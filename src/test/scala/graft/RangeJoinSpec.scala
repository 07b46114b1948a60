package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Joins

/** [[graft.operators.Joins.rangeJoin]] contract: equivalence to the
  * naive inequality join (every pair, no duplicates, no misses),
  * inclusive/exclusive boundary semantics, multi-bucket intervals,
  * empty-interval drop, and the plan-shape claim the operator exists
  * for — a hash/SMJ equi-join on the bucket id instead of a
  * nested-loop scan. */
class RangeJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def fixture() = {
    import spark.implicits._
    // points at every integer 0..199; intervals of assorted lengths,
    // some spanning many buckets (width 10), some empty, some at exact
    // bucket edges
    val pts = (0L until 200L).map(i => (i, i)).toDF("p_id", "pm")
    val ivs = Seq(
      (100L, 0L, 10L),    // exactly one bucket
      (101L, 5L, 35L),    // spans 4 buckets
      (102L, 17L, 18L),   // single point
      (103L, 50L, 50L),   // empty: matches nothing
      (104L, 60L, 59L),   // inverted: matches nothing
      (105L, 195L, 240L), // runs past the point domain
      (106L, 9L, 11L),    // straddles a bucket edge
      (107L, 0L, 200L)    // covers everything
    ).toDF("i_id", "s0", "e0")
    (pts, ivs)
  }

  test("matches the naive inequality join exactly (no dups, no misses)") {
    val (pts, ivs) = fixture()
    val got = Joins.rangeJoin(pts, ivs, "pm", "s0", "e0", 10L)
      .select("p_id", "i_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = pts.join(ivs, col("pm") >= col("s0") && col("pm") < col("e0"))
      .select("p_id", "i_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.sorted == want.sorted)
    assert(got.size == got.toSet.size, "bucket expansion must not duplicate pairs")
    assert(want.nonEmpty)
  }

  test("boundaries: start inclusive, end exclusive") {
    val (pts, ivs) = fixture()
    val m = Joins.rangeJoin(pts, ivs.filter(col("i_id") === 100L), "pm", "s0", "e0", 10L)
      .select("pm").collect().map(_.getLong(0)).sorted
    assert(m.toSeq == (0L until 10L))
  }

  test("result is bucket-width independent") {
    val (pts, ivs) = fixture()
    val ws = Seq(1L, 3L, 10L, 64L, 1000L)
    val results = ws.map { w =>
      Joins.rangeJoin(pts, ivs, "pm", "s0", "e0", w)
        .select("p_id", "i_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(results.distinct.size == 1)
  }

  test("randomized differential fuzz vs the naive inequality join (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { round =>
      val pts = Seq.fill(300)(rnd.nextLong(2000) - 500).zipWithIndex
        .map { case (pm, i) => (i.toLong, pm) }.toDF("p_id", "pm")
      val ivs = Seq.fill(40) {
        val s = rnd.nextLong(2200) - 600
        (s, s + rnd.nextLong(400) - 20) // ~5% empty/inverted
      }.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }.toDF("i_id", "s0", "e0")
      val width = Seq(7L, 50L, 1000L)(round - 1)
      val got = Joins.rangeJoin(pts, ivs, "pm", "s0", "e0", width)
        .select("p_id", "i_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = pts.join(ivs, col("pm") >= col("s0") && col("pm") < col("e0"))
        .select("p_id", "i_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == want, s"round $round (width=$width) diverged")
    }
  }

  test("asOfForward: earliest at-or-after, inclusive tie, null when none follows") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 20L), (1L, 95L), (2L, 5L))
      .toDF("k", "lt")
    val right = Seq((1L, 10L), (1L, 30L), (1L, 90L), (3L, 1L))
      .toDF("k", "rt")
    val got = Joins.asOfForward(left, right, Seq("k"), "lt", "rt")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got((1L, 10L)) === 10L, "a right row AT the left time qualifies (inclusive)")
    assert(got((1L, 20L)) === 30L, "otherwise the earliest later right row wins")
    assert(got((1L, 95L)) === -1L, "no later right row -> null")
    assert(got((2L, 5L)) === -1L, "keys with no right rows -> null")
    assert(got.size === 4)
  }

  test("asOfForward: differential fuzz vs an in-memory reference (seeded)") {
    import spark.implicits._
    var x = 192837465L
    def nxt(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) >>> 2; x }
    (1 to 3).foreach { round =>
      val left = (1 to 200).map(_ => (nxt() % 12, nxt() % 1000))
      val right = (1 to 150).map(_ => (nxt() % 12, nxt() % 1000))
      val expected = left.map { case (k, lt) =>
        val later = right.collect { case (rk, rt) if rk == k && rt >= lt => rt }
        (k, lt) -> (if (later.isEmpty) -1L else later.min)
      }.groupBy(_._1).map { case (kk, vs) => kk -> vs.head._2 } // dedup same (k,lt)
      val got = Joins.asOfForward(left.toDF("k", "lt"), right.toDF("k", "rt"),
          Seq("k"), "lt", "rt")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      // compare on the distinct (k, lt) domain — duplicate left rows
      // get identical answers by construction
      expected.foreach { case (key, want) =>
        assert(got(key) === want, s"fuzz round $round diverged at $key")
      }
    }
  }

  test("a pathologically long interval fails fast with a diagnosable error, not an OOM") {
    import spark.implicits._
    val pts = Seq(1L).toDF("pm")
    // covers ~9e12 one-unit buckets — would be a multi-terabyte array
    val ivs = Seq((0L, 9000000000000L)).toDF("s0", "e0")
    val e = intercept[Exception] {
      Joins.rangeJoin(pts, ivs, "pm", "s0", "e0", 1L).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("buckets")), s"unexpected error: $e")
  }

  test("column names needing quoting (spaces, dashes, backticks) bind correctly") {
    import spark.implicits._
    val pts = (0L until 20L).map(i => (i, i)).toDF("p_id", "point value")
    val ivs = Seq((1L, 3L, 9L)).toDF("i_id", "start-at", "end`tick")
    val got = Joins.rangeJoin(pts, ivs, "point value", "start-at", "end`tick", 5L)
      .select("p_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (3L until 9L).toSeq)
  }

  test("plan is an equi-join on the bucket — no nested-loop/cartesian scan") {
    val (pts, ivs) = fixture()
    val plan = Joins.rangeJoin(pts, ivs, "pm", "s0", "e0", 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
