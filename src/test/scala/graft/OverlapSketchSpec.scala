package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Curate, Dedup, Profile}

/** [[Dedup.sourceOverlapSketch]] union-merge semantics and
  * [[Profile.joinAdvisor]] decision branches. */
class OverlapSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def docs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  test("identical sources read est 1.0; disjoint sources near 0") {
    val txt = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "one two three four five six seven eight"
    val d = docs(Seq(
      (0L, "a", txt), (1L, "a", other),
      (2L, "b", txt), (3L, "b", other),   // b = exact union twin of a
      (4L, "c", "cold corpus nothing shared here at all today")))
    val out = Dedup.sourceOverlapSketch(d, "text", 3, 32)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(out(("a", "b")) == 1000000L)
    assert(out(("a", "c")) < 200000L && out(("b", "c")) < 200000L)
    assert(out.size == 3)
  }

  test("union merge: a source's sketch equals the sketch of its concatenation") {
    // source split across two docs vs the same text in one doc
    val d = docs(Seq(
      (0L, "split", "red green blue cyan magenta"),
      (1L, "split", "yellow black white gray pink"),
      (2L, "whole", "red green blue cyan magenta yellow black white gray pink")))
    val out = Dedup.sourceOverlapSketch(d, "text", 2, 32).collect().head
    // the split source misses the 2-gram crossing the doc boundary
    // ("magenta yellow"), so est < 1; everything else is shared, so
    // the sketch reads near-1 (expected mismatch rate 1/9 per slot)
    assert(out.getString(0) == "split" && out.getString(1) == "whole")
    assert(out.getLong(2) >= 24L && out.getLong(2) <= 32L)
  }

  test("containment sketch: a subset source reads near-1 containment, small Jaccard") {
    // source "all" holds ten 2-gram-rich docs; source "sub" is an
    // exact subset (2 of the 10 docs) -> containment(sub in all) = 1
    val base = (0 until 10).map(i =>
      s"w${i}a w${i}b w${i}c w${i}d w${i}e")
    val d = docs(
      base.zipWithIndex.map { case (t, i) => (i.toLong, "all", t) } ++
      Seq((20L, "sub", base(0)), (21L, "sub", base(1))))
    val out = Dedup.sourceContainmentSketch(d, "text", 2, 32)
      .collect().head
    assert(out.getString(0) == "all" && out.getString(1) == "sub")
    val (n1, n2) = (out.getLong(3), out.getLong(4))
    assert(n1 == 40L && n2 == 8L)     // 4 distinct 2-grams per doc
    // sub ⊆ all: every sub slot-min is also an all candidate, so the
    // matched-slot estimate puts containment(sub in all) near 1e6
    val c2in1 = out.getLong(6)
    assert(c2in1 > 700000L, s"containment(sub in all) = $c2in1")
    // and the asymmetry reads: all is NOT contained in sub
    assert(out.getLong(5) < 400000L)
  }

  test("waterfillSelect realizes the plan within one doc per source") {
    import spark.implicits._
    val d = (0 until 30).map(i =>
      (i.toLong, s"s${i % 3}", Seq.fill(4)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    // total 120 tokens; budget 60 uniform -> 20 per source (no
    // saturation: each source caps at 40)
    val out = Curate.waterfillSelect(d, "doc_id", "source", "text", 60L)
      .collect()
    val bySrc = out.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum)
    assert(bySrc.toMap.values.forall(_ == 20L))
    // determinism
    val again = Curate.waterfillSelect(d, "doc_id", "source", "text", 60L)
      .collect().map(_.getLong(0)).sorted
    assert(out.map(_.getLong(0)).sorted.toList == again.toList)
  }

  test("joinAdvisor branches: broadcast, salted, plain shuffle") {
    import spark.implicits._
    val small = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val big = (1 to 5000).map(i => ((i % 500).toLong, i.toLong)).toDF("k", "x")
    val skewed = ((1 to 3000).map(_ => 1L) ++ (1 to 2000).map(_.toLong))
      .toDF("k")

    val b = Profile.joinAdvisor(small, "k", big, "k", 100L, 200000L)
      .collect().head
    assert(b.getAs[String]("strategy") == "broadcast")
    assert(b.getAs[String]("broadcast_side") == "left")

    val s1 = Profile.joinAdvisor(skewed, "k", big, "k", 100L, 200000L)
      .collect().head
    assert(s1.getAs[String]("strategy") == "salted_shuffle")
    assert(s1.isNullAt(s1.fieldIndex("broadcast_side")))

    val p = Profile.joinAdvisor(big, "k", big, "k", 100L, 900000L)
      .collect().head
    assert(p.getAs[String]("strategy") == "shuffle_join")
  }

  test("joinAdvisor stats are the exact key profile") {
    import spark.implicits._
    val left = Seq(1L, 1L, 1L, 2L).toDF("k")
    val right = Seq(7L, 8L).toDF("k")
    val r = Profile.joinAdvisor(left, "k", right, "k", 1L, 1000001L)
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 750000L)
    assert(r.getLong(4) == 2L && r.getLong(5) == 2L && r.getLong(6) == 1L)
    assert(r.getLong(7) == 500000L)
  }

  test("joinAdvisor rejects an empty side instead of a NULL advisory") {
    import spark.implicits._
    val some = Seq(1L).toDF("k")
    val none = Seq.empty[Long].toDF("k")
    intercept[IllegalArgumentException](
      Profile.joinAdvisor(none, "k", some, "k", 1L, 500000L))
    intercept[IllegalArgumentException](
      Profile.joinAdvisor(some, "k", none, "k", 1L, 500000L))
  }
}
