package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Curate, TextOps}

/** [[Curate.waterfillBudget]] saturation semantics and invariants, and
  * [[TextOps.zipfFit]] against a hand-computable distribution. */
class WaterfillSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def mk(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  // caps: a=2, b=4, c=10 tokens
  private def corpus() = mk(Seq(
    (0L, "a", "w w"),
    (1L, "b", "w w w w"),
    (2L, "c", "w w w w w w w w w w")))

  test("small sources saturate and their share redistributes") {
    // budget 9, uniform weights: level starts at 3 -> a (cap 2)
    // saturates; remaining 7 over {b, c} -> 3 each (crumb 1 unallocated
    // by contract); b (cap 4) does NOT saturate at level 3.5 -> both
    // unsaturated get (7 * 1) div 2 = 3.
    val out = Curate.waterfillBudget(corpus(), "source", "text", 9L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(3), r.getLong(4)))).toMap
    assert(out("a") == ((2L, true, 2L)))
    assert(out("b") == ((4L, false, 3L)))
    assert(out("c") == ((10L, false, 3L)))
  }

  test("cascading saturation: two sources bind") {
    // budget 14: a saturates (level 14/3 > 2); then b: cap 4 vs
    // remaining 12 over weight 2 -> level 6 > 4 -> b saturates too;
    // c gets (14 - 6) = 8 < cap 10.
    val out = Curate.waterfillBudget(corpus(), "source", "text", 14L)
      .collect().map(r => r.getString(0) -> ((r.getBoolean(3), r.getLong(4)))).toMap
    assert(out("a") == ((true, 2L)))
    assert(out("b") == ((true, 4L)))
    assert(out("c") == ((false, 8L)))
  }

  test("budget >= total caps saturates everyone at cap") {
    val out = Curate.waterfillBudget(corpus(), "source", "text", 100L)
      .collect()
    assert(out.forall(r => r.getBoolean(3) && r.getLong(4) == r.getLong(1)))
  }

  test("budget below any share leaves nobody saturated; allocs respect weights") {
    // budget 3, weights 1/1/2 by source name: w(a)=1, w(b)=1, w(c)=2
    val out = Curate.waterfillBudget(corpus(), "source", "text", 3L,
        weightExpr = "if(source = 'c', 2L, 1L)")
      .collect().map(r => r.getString(0) -> ((r.getBoolean(3), r.getLong(4)))).toMap
    // level 3/4 < all cap/w ratios -> nobody saturated; floor fills:
    // a: 3*1 div 4 = 0, b: 0, c: 3*2 div 4 = 1
    assert(out("a") == ((false, 0L)))
    assert(out("b") == ((false, 0L)))
    assert(out("c") == ((false, 1L)))
  }

  test("invariants: sum(alloc) <= budget, alloc <= cap, crumbs < n_unsat") {
    for (budget <- Seq(1L, 5L, 9L, 13L, 15L, 16L, 17L)) {
      val rows = Curate.waterfillBudget(corpus(), "source", "text", budget)
        .collect()
      val total = rows.map(_.getLong(4)).sum
      assert(total <= budget, s"budget=$budget overshoot")
      assert(rows.forall(r => r.getLong(4) <= r.getLong(1)))
      val nUnsat = rows.count(!_.getBoolean(3))
      assert(budget.min(rows.map(_.getLong(1)).sum) - total < math.max(nUnsat, 1).toLong,
        s"budget=$budget left more than crumbs")
    }
  }

  test("non-positive weight or empty source mass is rejected eagerly") {
    intercept[IllegalArgumentException] {
      Curate.waterfillBudget(corpus(), "source", "text", 5L, weightExpr = "0L")
    }
    intercept[IllegalArgumentException] {
      Curate.waterfillBudget(corpus(), "source", "text", -1L)
    }
  }

  test("zipfFit recovers an exact power law") {
    import spark.implicits._
    // freq(rank r) = 1024 / r for r in 1..8 as an exact power corpus:
    // term t_r occurs 1024/r times (integer for r in {1,2,4,8}; use
    // powers of two ranks only -> 4 terms, perfectly log-linear with
    // slope exactly -1 on the ln grid).
    val words = Seq(("t1", 1024), ("t2", 512), ("t3", 256), ("t4", 128))
      .flatMap { case (w, n) => Seq.fill(n)(w) }
    val docs = words.grouped(64).zipWithIndex
      .map { case (g, i) => (i.toLong, "s", g.mkString(" ")) }.toSeq
      .toDF("doc_id", "source", "text")
    val r = TextOps.zipfFit(docs, "text", 1000).collect().head
    assert(r.getAs[Long]("n_types") == 4L && r.getAs[Long]("n_fit") == 4L)
    // ranks 1..4 have freq 1024/2^(rk-1): ln f = ln 1024 - (rk-1) ln 2,
    // x = ln rk -- NOT linear in ln rank (it's linear in rank), so the
    // fit slope lands between -1.6 and -1.4 with r2 > 0.95: pin ranges,
    // and pin exactness by re-running (same grid -> same integers).
    val slope = r.getAs[Long]("slope_micro")
    assert(slope < -1300000L && slope > -1700000L, s"slope=$slope")
    assert(r.getAs[Long]("r2_micro") > 950000L)
    val r2 = TextOps.zipfFit(docs, "text", 1000).collect().head
    assert(r2 == r)
  }

  test("lnLnFitGrouped: per-group fits are independent and match zipfFit's math") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    // group "pow": the exact power corpus from the zipfFit test;
    // group "flat": four equal counts -> slope 0, r2 convention 1e6
    val powWords = Seq(("t1", 1024), ("t2", 512), ("t3", 256), ("t4", 128))
      .flatMap { case (w, n) => Seq.fill(n)(w) }.map(("pow", _))
    val flatWords = Seq("aa", "bb", "cc", "dd").flatMap(w =>
      Seq.fill(2)(w)).map(("flat", _))
    val counts = (powWords ++ flatWords).toDF("grp", "item")
      .groupBy(col("grp"), col("item")).agg(count(lit(1)).as("c"))
    val out = TextOps.lnLnFitGrouped(counts, 1000)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("flat").getAs[Long]("slope_micro") == 0L)
    assert(out("flat").getAs[Long]("r2_micro") == 1000000L)
    // the pow group must equal the ungrouped zipfFit on the same corpus
    val docs = powWords.map(_._2).grouped(64).zipWithIndex
      .map { case (g, i) => (i.toLong, "s", g.mkString(" ")) }.toSeq
      .toDF("doc_id", "source", "text")
    val solo = TextOps.zipfFit(docs, "text", 1000).collect().head
    assert(out("pow").getAs[Long]("slope_micro") ==
      solo.getAs[Long]("slope_micro"))
    assert(out("pow").getAs[Long]("r2_micro") == solo.getAs[Long]("r2_micro"))
    assert(out("pow").getAs[Long]("n_items") == 4L)
  }

  test("zipfFit on a flat distribution reads slope 0 and r2 convention") {
    import spark.implicits._
    val docs = Seq((0L, "s", "aa bb cc dd aa bb cc dd"))
      .toDF("doc_id", "source", "text")
    val r = TextOps.zipfFit(docs, "text", 1000).collect().head
    assert(r.getAs[Long]("slope_micro") == 0L)
    assert(r.getAs[Long]("r2_micro") == 1000000L)
  }

  test("waterfillFrom equals waterfillBudget on the same per-source caps") {
    import spark.implicits._
    val per = Seq(("a", 2L, 1L), ("b", 4L, 1L), ("c", 10L, 1L))
      .toDF("source", "cap_tokens", "weight")
    val viaFrom = Curate.waterfillFrom(per, 9L).collect().map(_.toSeq)
    val viaDocs = Curate.waterfillBudget(corpus(), "source", "text", 9L)
      .collect().map(_.toSeq)
    assert(viaFrom.toList == viaDocs.toList)
  }

  test("waterfillFrom rejects zero caps and zero weights eagerly") {
    import spark.implicits._
    intercept[IllegalArgumentException](Curate.waterfillFrom(
      Seq(("a", 0L, 1L)).toDF("source", "cap_tokens", "weight"), 5L))
    intercept[IllegalArgumentException](Curate.waterfillFrom(
      Seq(("a", 3L, 0L)).toDF("source", "cap_tokens", "weight"), 5L))
  }

  test("mattrDiversity: hand-computed windows, short-doc fallback, empty doc") {
    import spark.implicits._
    import graft.operators.TextOps
    // doc 0: 6 tokens, w=4 -> 3 windows: [a b a c]=3, [b a c b]=3,
    // [a c b a]=3 -> mattr = 9e6 div 12 = 750000; ttr: 3 types / 6
    // doc 1: 3 tokens < w -> whole-doc TTR fallback (2 types / 3)
    // doc 2: empty -> zeros
    val docs = Seq((0L, "a b a c b a"), (1L, "x y x"), (2L, "?!"))
      .toDF("doc_id", "text")
    val out = TextOps.mattrDiversity(docs, "text", 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(0L) == ((6L, 3L, 500000L, 750000L)), s"doc0: ${out(0L)}")
    assert(out(1L) == ((3L, 1L, 666666L, 666666L)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((0L, 0L, 0L, 0L)), s"doc2: ${out(2L)}")
  }

  test("zipfFit rejects a token-free corpus instead of emitting a NULL fit") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    intercept[IllegalArgumentException](TextOps.zipfFit(empty, "text", 10))
    val blank = Seq((0L, "s", "?!  --")).toDF("doc_id", "source", "text")
    intercept[IllegalArgumentException](TextOps.zipfFit(blank, "text", 10))
  }
}
