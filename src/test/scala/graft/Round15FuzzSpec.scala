package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Curate, Dedup, TextOps}

import scala.util.Random

/** Randomized property fuzz for the round-15 operators — seeded, so
  * failures reproduce. Each property is an algebraic identity the
  * operator must hold on ANY corpus, not a pinned fixture. */
class Round15FuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def randomCorpus(rng: Random, nDocs: Int, vocab: Int) = {
    import spark.implicits._
    (0 until nDocs).map { i =>
      val len = 1 + rng.nextInt(30)
      val text = Seq.fill(len)(s"w${rng.nextInt(vocab)}").mkString(" ")
      (i.toLong, s"src${rng.nextInt(5)}", text)
    }.toDF("doc_id", "source", "text")
  }

  test("heapsCurve: last-decile n_types == distinct type count; curve monotone; new_types sums to it") {
    val rng = new Random(1501L)
    for (trial <- 0 until 4) {
      val d = randomCorpus(rng, 20 + trial * 17, 12 + trial * 9)
      val rows = TextOps.heapsCurve(d, "text", 10).collect()
      val types = d.selectExpr(
        s"explode(${TextOps.tokens("text")}) AS t").distinct().count()
      assert(rows.last.getLong(3) == types, s"trial $trial")
      val curve = rows.map(_.getLong(3))
      assert(curve.zip(curve.tail).forall { case (a, b) => b >= a })
      assert(rows.map(_.getLong(2)).sum == types)
    }
  }

  test("waterfillBudget: invariants hold for random weights and budgets") {
    val rng = new Random(1502L)
    for (trial <- 0 until 4) {
      val d = randomCorpus(rng, 30, 20)
      val total = d.selectExpr(
        s"sum(cast(size(${TextOps.tokens("text")}) as bigint)) AS t")
        .head.getLong(0)
      val budget = rng.nextLong(total * 2 + 1)
      val w = s"1L + length(source) * ${1 + rng.nextInt(3)}L"
      val rows = Curate.waterfillBudget(d, "source", "text", budget, w)
        .collect()
      val alloc = rows.map(_.getLong(4)).sum
      val caps = rows.map(_.getLong(1)).sum
      assert(alloc <= budget && alloc <= caps, s"trial $trial")
      assert(rows.forall(r => r.getLong(4) <= r.getLong(1)))
      // saturated rows are allocated exactly their cap
      assert(rows.filter(_.getBoolean(3)).forall(r => r.getLong(4) == r.getLong(1)))
      // leftover beyond saturation is crumbs: < one token per unsaturated source
      val nUnsat = rows.count(!_.getBoolean(3))
      assert(math.min(budget, caps) - alloc <= math.max(nUnsat - 1, 0).toLong,
        s"trial $trial left non-crumb budget")
    }
  }

  test("rareWindowAudit: n_rare monotone in kAnon; totals partition by source") {
    val rng = new Random(1503L)
    for (trial <- 0 until 3) {
      val d = randomCorpus(rng, 40, 8)
      val byK = (2 to 5).map { k =>
        k -> Dedup.rareWindowAudit(d, "text", 3, k)
          .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      }.toMap
      // per source: rare mass never shrinks as kAnon grows; window
      // mass is kAnon-independent
      for (k <- 3 to 5; (src, (wAll, wRare)) <- byK(k)) {
        val (pAll, pRare) = byK(k - 1)(src)
        assert(wAll == pAll, s"trial $trial src $src window mass moved")
        assert(wRare >= pRare, s"trial $trial src $src rare mass shrank")
      }
      // the audit's per-source totals sum to the corpus window count
      val corpusWindows = d.selectExpr(
          s"size(graft_shingle_hashes_all(text, 3)) AS n")
        .selectExpr("sum(n)").head.getLong(0)
      assert(byK(2).values.map(_._1).sum == corpusWindows)
    }
  }

  test("sourceOverlapSketch: estimates stay in [0, 1e6]; self-similar splits read high") {
    val rng = new Random(1504L)
    val d = randomCorpus(rng, 30, 15)
    val out = Dedup.sourceOverlapSketch(d, "text", 2, 32).collect()
    assert(out.forall(r => r.getLong(3) >= 0L && r.getLong(3) <= 1000000L))
    assert(out.forall(r => r.getLong(2) >= 0L && r.getLong(2) <= 32L))
    // matrix covers every unordered source pair exactly once
    val srcs = d.select("source").distinct().count()
    assert(out.length == (srcs * (srcs - 1) / 2).toInt)
  }

  test("privacyGate: survivors + dropped partition the corpus; gate monotone in threshold") {
    val rng = new Random(1505L)
    val d = randomCorpus(rng, 40, 10)
    val n = d.count()
    val counts = Seq(0L, 250000L, 500000L, 1000000L).map { tau =>
      Dedup.privacyGate(d, "text", 3, 3, tau).count()
    }
    assert(counts.last == n)
    assert(counts.zip(counts.tail).forall { case (a, b) => b >= a })
  }
}
