package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Profile

/** Profiling semantics on a null-bearing fixture: null counting,
  * exact distinct (nulls excluded, per SQL count(DISTINCT)), min/max
  * ignoring nulls, all-null and single-value columns. */
class ProfileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  test("profile: nulls, distinct, min/max on a hand fixture") {
    import spark.implicits._
    val df = Seq(
      (Some(3L), Some("b")),
      (Some(1L), None),
      (None, Some("a")),
      (Some(3L), Some("a")))
      .toDF("num", "txt")
    val got = Profile.profile(df, Seq("num", "txt"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
      .toMap
    assert(got("num") == ((4L, 1L, 2L, "1", "3")))
    assert(got("txt") == ((4L, 1L, 2L, "a", "b")))
  }

  test("profile: an all-null column yields zero distinct and null min/max") {
    import spark.implicits._
    val df = Seq.fill(3)(Option.empty[String]).toDF("c")
    val r = Profile.profile(df, Seq("c")).collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L && r.getLong(3) == 0L)
    assert(r.isNullAt(4) && r.isNullAt(5))
  }

  test("profile: empty input yields zero counts, not nulls") {
    import spark.implicits._
    val df = Seq.empty[(Option[Long], Option[String])].toDF("num", "txt")
    val rs = Profile.profile(df, Seq("num", "txt")).collect()
    assert(rs.length == 2)
    rs.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L)
      assert(r.isNullAt(4) && r.isNullAt(5))
    }
  }

  test("profile: plan has no Expand (the multi-distinct trap) and prunes each member scan") {
    import spark.implicits._
    val df = Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("k", "s", "x")
    val prof = Profile.profile(df, Seq("k", "s"))
    prof.collect()
    val plan = prof.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"profile must not plan a multi-distinct Expand (VERDICT r11 #1):\n$plan")
  }

  test("benfordAudit: all-non-positive input reports the zero-filled 9-row grid (ADVICE r11)") {
    import spark.implicits._
    val df = Seq(0L, -5L, -17L).toDF("v")
    val got = Profile.benfordAudit(df, "v").collect()
    assert(got.length == 9)
    got.foreach { r =>
      assert(r.getLong(1) == 0L, "n")
      assert(r.getLong(2) == 0L, "n_total")
      assert(r.getLong(3) == 0L, "share_micro must take the zero branch, not NULL")
      assert(r.getLong(5) == r.getLong(4), "dev == benford expectation when share is 0")
    }
  }

  test("benfordAudit: hand counts, pinned expectations, non-positive exclusion, 9-row grid") {
    import spark.implicits._
    // 1, 19, 100 -> digit 1 x3; 25 -> 2; 9 -> 9; 0 and -5 excluded
    val df = Seq(1L, 19L, 100L, 25L, 9L, 0L, -5L).toDF("v")
    val got = Profile.benfordAudit(df, "v").collect()
    assert(got.length == 9, "the grid is always 9 rows")
    assert(got.map(_.getLong(0)).toSeq == (1L to 9L))
    val by = got.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(by(1L) == ((3L, 5L, 600000L, 301029L, 298971L)))
    assert(by(2L) == ((1L, 5L, 200000L, 176091L, 23909L)))
    assert(by(9L) == ((1L, 5L, 200000L, 45757L, 154243L)))
    assert(by(3L) == ((0L, 5L, 0L, 124938L, 124938L)), "absent digits report zeros")
    assert(Profile.BenfordMicro.sum <= 1000000L &&
      Profile.BenfordMicro.sum >= 999990L, "floored shares nearly sum to 1e6")
  }

  test("benfordAudit: differential fuzz vs in-memory first-digit counting (log-uniform + uniform mixes)") {
    import spark.implicits._
    var x = 31415L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    for (trial <- 1 to 3) {
      // mix log-uniform-ish magnitudes (Benford-friendly) with a
      // uniform band plus zeros/negatives that must be excluded
      val vs = (1 to 400).map { _ =>
        val mode = nxt() % 3
        if (mode == 0) (nxt() % 9 + 1) * math.pow(10, (nxt() % 6).toDouble).toLong
        else if (mode == 1) nxt() % 100000
        else -(nxt() % 50) // negatives and zeros excluded
      }
      val pos = vs.filter(_ > 0)
      val byDigit = pos.groupBy(v => v.toString.head.asDigit.toLong)
        .map { case (d, g) => d -> g.size.toLong }
      val total = pos.size.toLong
      val got = Profile.benfordAudit(vs.toDF("v").repartition(4), "v").collect()
      assert(got.length == 9)
      got.foreach { r =>
        val d = r.getLong(0)
        val n = byDigit.getOrElse(d, 0L)
        assert(r.getLong(1) == n, s"trial $trial digit $d count")
        assert(r.getLong(2) == total)
        assert(r.getLong(3) == (if (total == 0) 0L else n * 1000000L / total))
        assert(r.getLong(5) == math.abs(r.getLong(3) - r.getLong(4)))
      }
    }
  }

  /** In-memory weighted-median reference: expand by weight, lower
    * median of the expanded multiset (equivalently smallest v with
    * 2·cumw ≥ total). */
  private def refWMedian(vw: Seq[(Long, Long)]): (Long, Long, Long) = {
    val g = vw.groupBy(_._1).map { case (v, g) => v -> g.map(_._2).sum }
      .toSeq.sortBy(_._1)
    val total = g.map(_._2).sum
    var cum = 0L
    var med = g.head._1
    var cumAt = 0L
    var found = false
    for ((v, w) <- g if !found) {
      cum += w
      if (cum * 2 >= total) { med = v; cumAt = cum; found = true }
    }
    (med, total, cumAt)
  }

  test("weightedMedianExact: differential fuzz vs in-memory expansion (ties, skew, unit weights)") {
    import spark.implicits._
    var x = 777L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    val cases: Seq[Seq[(Long, Long)]] = Seq(
      Seq((10L, 1L)),                                   // single row
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)),      // unit weights, even n -> lower median 2
      Seq((5L, 100L), (1000000L, 1L)),                  // one heavy value dominates
      (1 to 150).map(_ => (nxt() % 500, nxt() % 9 + 1)),       // ties
      (1 to 200).map(_ => (nxt() % 100000000L, nxt() % 20 + 1)) // wide domain, multi-bucket
    )
    for ((vw, i) <- cases.zipWithIndex) {
      val want = refWMedian(vw)
      val r = Profile.weightedMedianExact(vw.toDF("v", "w").repartition(5), "v", "w")
        .collect()(0)
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) === want, s"case $i")
    }
  }
  test("profileProjected matches profile cell-exactly (one-pass projection form)") {
    import spark.implicits._
    val df = Seq(
      (Some(3L), Some("b"), 1.0),
      (Some(1L), None, 2.0),
      (None, Some("a"), 3.0),
      (Some(3L), Some("a"), 4.0))
      .toDF("num", "txt", "unprofiled")
    val cols = Seq("num", "txt")
    val viaProjected = Profile.profileProjected(df, cols)
    try {
      val a = Profile.profile(df, cols).collect().map(_.toSeq).toSet
      val b = viaProjected.collect().map(_.toSeq).toSet
      assert(a == b)
    } finally graft.operators.Storage.release(viaProjected)
  }
}

