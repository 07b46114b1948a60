package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curate

/** [[graft.operators.Curate.pipeline]] stage semantics on a synthetic
  * corpus where every stage provably fires, plus the observe-metric
  * contract (per-stage attrition readable after one action). */
class CurateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def corpus() = {
    import spark.implicits._
    // source a: 6 docs, 2 exact dups of doc 0 (dedup fires), cap 4
    // (cap fires on the survivors), quality gate keeps top 3/4
    val a = Seq(
      (0L, "a", "alpha beta gamma delta epsilon"),
      (1L, "a", "alpha beta gamma delta epsilon"), // dup of 0
      (2L, "a", "alpha beta gamma delta epsilon"), // dup of 0
      (3L, "a", "one two three four"),
      (4L, "a", "one two"),
      (5L, "a", "one two three four five six"),
      (6L, "a", "solo"))
    // source b: 2 unique docs, under every threshold
    val b = Seq((10L, "b", "b one two three"), (11L, "b", "b four"))
    (a ++ b).toDF("doc_id", "source", "text")
  }

  test("every stage fires and ranks over the previous stage's survivors") {
    val out = Curate.pipeline(corpus(), domainCap = 4,
        keepNumerator = 3, keepDenominator = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    // dedup keeps doc 0, drops 1 and 2; cap=4 then keeps docs 0,3,4,5
    // (first four SURVIVORS by id — doc 6 only survives if ranked on
    // the post-dedup set, which is the stage-ordering claim) and drops
    // 6; gate keeps top 3 of 4 by tokens: 5 (6 tok), 0 (5), 3 (4)
    assert(out.keySet == Set(0L, 3L, 5L, 10L))
    // source b: 2 docs, gate keeps rk*4 <= 2*3 -> rk 1 only (10)
    assert(!out.contains(11L))
    // interleave keys are unique and positive
    val keys = out.values.map(_.getLong(3)).toSeq
    assert(keys.distinct.size == keys.size && keys.forall(_ >= 1))
  }

  test("observe metrics report per-stage attrition after one action") {
    val df = Curate.pipeline(corpus(), domainCap = 4,
      keepNumerator = 3, keepDenominator = 4)
    df.collect()
    val m = df.queryExecution.observedMetrics
      .map { case (k, row) => k -> row.getLong(0) }
    assert(m("curate_input") == 9L)
    assert(m("curate_dedup") == 7L, "two exact dups dropped")
    assert(m("curate_cap") == 6L, "domain cap dropped one doc from source a")
    assert(m("curate_gate") == 4L, "quartile gate kept 3 of 4 + 1 of 2")
  }

  test("hashSplit: in-memory hash replay, threshold partition, full coverage") {
    import spark.implicits._
    val ids = (0L until 200L)
    val out = Curate.hashSplit(ids.toDF("doc_id"), "doc_id", "s1", 800, 100)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val P = 1000000007L
    def poly(s: String, m: Long) = s.foldLeft(0L)((a, c) => (a * m + c.toLong) % P)
    def bucket(id: Long) = {
      val h60 = poly(s"s1:$id", 31) * 1073741824L + poly(s"s1:$id", 131) % 1073741824L
      (((h60 % 2147483648L) * 2654435761L) % 2147483648L) % 1000L
    }
    ids.foreach { id =>
      val b = bucket(id)
      val expected = if (b < 800) "train" else if (b < 900) "val" else "test"
      assert(out(id) === ((b, expected)), s"id=$id")
    }
    assert(out.values.map(_._2).toSet === Set("train", "val", "test"),
      "200 ids at 80/10/10 must hit all three splits")
  }

  test("hashSplit: assignment is growth-stable (subset assignments never move) and salt-sensitive") {
    import spark.implicits._
    val all = Curate.hashSplit((0L until 100L).toDF("doc_id"), "doc_id", "s1", 800, 100)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val subset = Curate.hashSplit((0L until 50L).toDF("doc_id"), "doc_id", "s1", 800, 100)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(subset === all.view.filterKeys(_ < 50L).toMap,
      "an id's split must not depend on what else is in the corpus")
    val otherSalt = Curate.hashSplit((0L until 100L).toDF("doc_id"), "doc_id", "s2", 800, 100)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(otherSalt !== all, "a different salt must draw a different split")
  }

  test("hashSplit: guards and map-only plan") {
    import spark.implicits._
    val df = (0L until 10L).toDF("doc_id")
    intercept[IllegalArgumentException](Curate.hashSplit(df, "doc_id", "s", 900, 200))
    intercept[IllegalArgumentException](Curate.hashSplit(df, "doc_id", "it's", 800, 100))
    val plan = Curate.hashSplit(df, "doc_id", "s1", 800, 100)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"hashSplit must be a pure projection:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"hashSplit stays native/codegen:\n$plan")
  }

  private def budgetDocs(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  test("tokenBudgetSelect: Hamilton quotas — floors, largest remainders, name tie-break") {
    // srcA: 7 tokens, srcB: 3 tokens, budget 5 -> bases (3, 1),
    // remainders tie at 5 -> the ONE leftover token goes to srcA by
    // name order -> quotas (4, 1)
    val docs = budgetDocs(
      (1L, "srcA", "a b c d"), (2L, "srcA", "e f g"),
      (3L, "srcB", "h i j"))
    val got = Curate.tokenBudgetSelect(docs, "doc_id", "source", "text", 5L, "s")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    val quotas = got.values.map(v => v._1 -> v._4).toMap
    assert(quotas.get("srcA").forall(_ == 4L))
    assert(quotas.get("srcB").forall(_ == 1L))
    // srcB's only doc is 3 tokens > quota 1 -> nothing selected there
    assert(got.values.forall(_._1 == "srcA"))
    // srcA quota 4 fits exactly one of its docs whichever ranks first
    assert(got.size == 1 && got.values.head._3 <= 4L)
  }

  test("tokenBudgetSelect: differential vs an in-memory Hamilton + greedy reference") {
    import spark.implicits._
    // deterministic corpus: 40 docs over 4 sources, 1-9 tokens each
    var x = 777L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    val rows = (1L to 40L).map { id =>
      (id, s"s${nxt() % 4}", (1L to nxt() % 9 + 1).map(i => s"w$i").mkString(" "))
    }
    val docs = budgetDocs(rows: _*)
    for (budget <- Seq(0L, 17L, 60L, 100000L)) {
      val got = Curate.tokenBudgetSelect(docs, "doc_id", "source", "text", budget, "z")
        .collect().map(r => r.getLong(0)).toSet
      // reference: replay hkeys through the SAME hash expression, then
      // pure-Scala Hamilton apportionment + greedy prefix
      val toks = rows.map { case (id, src, text) =>
        (id, src, text.split(" +").count(_.nonEmpty).toLong)
      }
      val hkeys = docs.selectExpr("doc_id",
          graft.operators.TextOps.strHash60("concat('z', ':', cast(doc_id as string))") + " AS h")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bySrc = toks.groupBy(_._2)
      val w = bySrc.view.mapValues(_.map(_._3).sum).toMap
      val wTot = w.values.sum
      val base = w.view.mapValues(v => budget * v / wTot).toMap
      val rem = w.map { case (s, v) => s -> budget * v % wTot }
      val leftover = budget - base.values.sum
      val bump = rem.toSeq.sortBy { case (s, r) => (-r, s) }.take(leftover.toInt)
        .map(_._1).toSet
      val quota = base.map { case (s, b) => s -> (b + (if (bump(s)) 1L else 0L)) }
      val want = bySrc.flatMap { case (src, ds) =>
        var cum = 0L
        ds.sortBy { case (id, _, _) => (hkeys(id), id) }.takeWhile { case (_, _, n) =>
          cum += n; cum <= quota(src)
        }.map(_._1)
      }.toSet
      assert(got === want, s"budget $budget diverged from the reference")
    }
  }

  test("rebalanceSources: exact integer factor, fractional hash prefix, guards") {
    // A: 10 tokens total, B: 5 -> B's factor is exactly 2.0 (every B
    // doc twice); A is the max source (factor 1.0, one copy each)
    val docs = budgetDocs(
      (1L, "A", "a b c d e"), (2L, "A", "f g h i j"),
      (3L, "B", "k l m"), (4L, "B", "n o"))
    val got = Curate.rebalanceSources(docs, "doc_id", "source", "text", "s")
      .collect().map(r => (r.getLong(0), r.getLong(4))).toSet
    assert(got === Set((1L, 0L), (2L, 0L), (3L, 0L), (3L, 1L), (4L, 0L), (4L, 1L)))
    // fractional factor: A=10, B=4 -> factor 2.5 -> every B doc gets 2
    // or 3 copies, selected by the salted hash bucket (replayed here
    // through the same expression)
    val docs2 = budgetDocs(
      (1L, "A", "a b c d e"), (2L, "A", "f g h i j"),
      (3L, "B", "k l"), (4L, "B", "m n"))
    val out2 = Curate.rebalanceSources(docs2, "doc_id", "source", "text", "s")
      .groupBy("id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val buckets = docs2.selectExpr("doc_id",
        "(((" + graft.operators.TextOps.strHash60("concat('s', ':', cast(doc_id as string))") +
          " % 2147483648L) * 2654435761L) % 2147483648L) % 1000000 AS b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- Seq(3L, 4L))
      assert(out2(id) === (if (buckets(id) < 500000L) 3L else 2L),
        s"doc $id fractional copy count must follow its hash bucket")
    intercept[IllegalArgumentException](
      Curate.rebalanceSources(docs, "doc_id", "source", "text", "it's"))
    intercept[IllegalArgumentException](
      Curate.rebalanceSources(budgetDocs((1L, "A", "x"), (2L, "B", "")),
        "doc_id", "source", "text", "s"))
  }

  test("tokenBudgetSelect: guards") {
    val docs = budgetDocs((1L, "a", "x"))
    intercept[IllegalArgumentException](
      Curate.tokenBudgetSelect(docs, "doc_id", "source", "text", -1L, "s"))
    intercept[IllegalArgumentException](
      Curate.tokenBudgetSelect(docs, "doc_id", "source", "text", 1L, "it's"))
  }

  test("sourceConcentration: differential fuzz vs an in-memory reference (seeded)") {
    import spark.implicits._
    var x = 424242L
    def nxt(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) >>> 2; x }
    (1 to 3).foreach { round =>
      val docs = (1 to 120).map { i =>
        (i.toLong, s"s${nxt() % 6}", Seq.fill((nxt() % 40 + 1).toInt)("w").mkString(" "))
      }
      val w = docs.groupBy(_._2).map { case (src, ds) =>
        src -> ds.map(_._3.split(" ").length.toLong).sum
      }
      val total = w.values.sum
      val shares = w.values.map(_ * 1000000L / total)
      val hhiRaw = shares.map(s => s * s).sum
      val hhi = hhiRaw / 1000000L
      val r = Curate.sourceConcentration(docs.toDF("doc_id", "source", "text"),
        "source", "text").collect()(0)
      assert(r.getLong(0) === w.size.toLong, s"round $round n_sources")
      assert(r.getLong(1) === total, s"round $round total")
      assert(r.getLong(2) === shares.max, s"round $round max share")
      assert(r.getLong(3) === hhi, s"round $round hhi")
      assert(r.getLong(4) === (if (hhi == 0) 0L else 1000000000000L / hhi),
        s"round $round effective sources")
    }
  }

  test("sourceConcentration: micro shares, HHI, and effective source count are exact") {
    import spark.implicits._
    // source a: 10 tokens, source b: 30 tokens -> shares 25% / 75%
    val docs = Seq(
      (1L, "a", Seq.fill(4)("w").mkString(" ")),
      (2L, "a", Seq.fill(6)("w").mkString(" ")),
      (3L, "b", Seq.fill(30)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val r = Curate.sourceConcentration(docs, "source", "text").collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 2L)        // n_sources
    assert(r(0).getLong(1) === 40L)       // total_tokens
    assert(r(0).getLong(2) === 750000L)   // max share 75%
    // HHI = 0.25^2 + 0.75^2 = 0.625 -> 625000 micro
    assert(r(0).getLong(3) === 625000L)
    // effective sources = 1/HHI = 1.6 -> 1600000 micro
    assert(r(0).getLong(4) === 1600000L)
  }

  /** In-memory Gini reference: sort ascending, BigInt the textbook
    * rank formula — the per-distinct-value tie collapse and the
    * bucketed cumsum in the operator must reproduce it exactly. */
  private def refGini(ws: Seq[Long]): (Long, Long, Long) = {
    val sorted = ws.sorted
    val n = BigInt(sorted.length)
    val t = sorted.map(BigInt(_)).sum
    val s1 = sorted.zipWithIndex.map { case (w, i) => BigInt(w) * (i + 1) }.sum
    val g = if (n < 2 || t <= 0) BigInt(0)
      else (2 * s1 - (n + 1) * t) * 1000000 / (n * t)
    (n.toLong, t.toLong, g.toLong)
  }

  test("giniExact: differential fuzz vs the in-memory rank formula (ties, zeros, degenerates)") {
    import spark.implicits._
    var x = 424242L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    val cases = Seq(
      Seq(5L),                          // single row -> 0
      Seq(7L, 7L, 7L, 7L),              // all equal -> 0
      Seq(0L, 0L, 10L),                 // zeros and one holder
      (1 to 200).map(_ => nxt() % 1000),      // heavy ties
      (1 to 300).map(_ => nxt() % 100000000L) // wide domain (multi-bucket)
    )
    for ((ws, i) <- cases.zipWithIndex) {
      val (n, t, g) = refGini(ws)
      val r = Curate.giniExact(ws.toDF("w").repartition(5), "w").collect()(0)
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((n, t, g)),
        s"case $i weights=${ws.take(8)}…")
    }
    assert(Curate.giniExact(Seq(7L, 7L, 7L).toDF("w"), "w")
      .collect()(0).getLong(2) === 0L, "all-equal distribution must score 0")
  }

  /** In-memory top-share reference: sort desc, take ceil(p·n/1000),
    * sum — the tie collapse must reproduce it exactly. */
  private def refTopShare(ws: Seq[Long], permille: Int): (Long, Long, Long, Long, Long) = {
    val sorted = ws.sorted.reverse
    val n = sorted.length.toLong
    val k = (permille * n + 999) / 1000
    val total = sorted.map(BigInt(_)).sum
    val top = sorted.take(k.toInt).map(BigInt(_)).sum
    val share = if (total <= 0) BigInt(0) else top * 1000000 / total
    (n, k, total.toLong, top.toLong, share.toLong)
  }

  test("topShareExact: differential fuzz vs sort-desc-take-K (ties at the cutoff, degenerates)") {
    import spark.implicits._
    var x = 13579L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    val cases = Seq(
      (Seq(10L), 500),
      (Seq(5L, 5L, 5L, 5L), 250),          // cutoff INSIDE a tie group
      (Seq(100L, 1L, 1L, 1L, 1L), 200),    // one whale
      ((1 to 200).map(_ => nxt() % 50).toSeq, 10),   // heavy ties, 1%
      ((1 to 300).map(_ => nxt() % 100000000L).toSeq, 100)) // wide domain
    for (((ws, p), i) <- cases.zipWithIndex) {
      val want = refTopShare(ws, p)
      val r = Curate.topShareExact(ws.toDF("w").repartition(5), "w", p).collect()(0)
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        === want, s"case $i permille=$p")
    }
    intercept[IllegalArgumentException](
      Curate.topShareExact(Seq(1L).toDF("w"), "w", 0))
  }

  test("trimmedMeanExact: differential fuzz vs sort-and-slice (tie-spanning tails, permille 0)") {
    import spark.implicits._
    var x = 8642L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    def ref(ws: Seq[Long], p: Int): (Long, Long, Long, Long, Long) = {
      val v = ws.sorted
      val n = v.length.toLong
      val k = p * n / 1000
      val tr = v.slice(k.toInt, (n - k).toInt)
      val total = v.map(BigInt(_)).sum
      val ts = tr.map(BigInt(_)).sum
      val mean = if (tr.isEmpty) BigInt(0) else ts * 1000 / tr.length
      (n, k, total.toLong, ts.toLong, mean.toLong)
    }
    val cases = Seq(
      (Seq(5L), 0),                                  // no trim
      (Seq(1L, 1L, 1L, 1L, 100L), 200),              // tie-heavy low tail
      (Seq(7L, 7L, 7L, 7L, 7L, 7L), 300),            // tails INSIDE one tie group
      ((1 to 200).map(_ => nxt() % 40).toSeq, 100),  // heavy ties both tails
      ((1 to 300).map(_ => nxt() % 100000000L).toSeq, 50)) // wide domain
    for (((ws, p), i) <- cases.zipWithIndex) {
      val want = ref(ws, p)
      val r = Curate.trimmedMeanExact(ws.toDF("w").repartition(5), "w", p).collect()(0)
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        === want, s"case $i permille=$p")
    }
    intercept[IllegalArgumentException](
      Curate.trimmedMeanExact(Seq(1L).toDF("w"), "w", 500))
  }

  test("annealedMixture: endpoints pin natural and uniform, interpolation monotone, guard") {
    import spark.implicits._
    // source a: 30 tokens, b: 10 -> natural 750000 / 250000, uniform 500000
    val docs = Seq(
      (1L, "a", Seq.fill(30)("w").mkString(" ")),
      (2L, "b", Seq.fill(10)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val rows = Curate.annealedMixture(docs, "source", "text", epochs = 5)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.size == 10, "epochs x sources grid")
    assert(rows((0L, "a"))._3 == 750000L, "epoch 0 IS the natural share")
    assert(rows((4L, "a"))._3 == 500000L, "the last epoch IS uniform")
    assert(rows((0L, "b"))._3 == 250000L && rows((4L, "b"))._3 == 500000L)
    // a anneals DOWN 750000 -> 500000, b UP 250000 -> 500000, both by
    // exact quarters of the gap
    assert((0 to 4).map(e => rows((e.toLong, "a"))._3) ==
      Seq(750000L, 687500L, 625000L, 562500L, 500000L))
    assert((0 to 4).map(e => rows((e.toLong, "b"))._3) ==
      Seq(250000L, 312500L, 375000L, 437500L, 500000L))
    intercept[IllegalArgumentException](
      Curate.annealedMixture(docs, "source", "text", epochs = 1))
  }
}
