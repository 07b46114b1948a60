package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** The prefix-filtered Jaccard variant must find exactly the same
  * pairs as the full count-join (prefix filtering is exact). */
class DedupVariantsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  test("prefix-filtered jaccard == full candidate jaccard") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("d1", "d2", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = pairs(Dedup.ngramJaccardPairs(docs, "text", 3, 0.5))
    val prefix = pairs(Dedup.ngramJaccardPairsPrefix(docs, "text", 3, 0.5))
    assert(full == prefix)
    assert(full.nonEmpty)
  }

  test("containment finds doc-inside-doc pairs that Jaccard misses") {
    import spark.implicits._
    // doc 2 is a verbatim quote of doc 1 inside a much longer doc:
    // containment(quote) = 1.0, but the union is dominated by the
    // host so Jaccard is far below any useful threshold
    val host = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (1 to 6).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, s"$host unique tail terms"), (2L, quote))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "text", 3, 0.9)
      .select("d1", "d2", "containment").collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(cont.head.getDouble(2) == 1.0)
    val jac = Dedup.ngramJaccardPairs(docs, "text", 3, 0.5).collect()
    assert(jac.isEmpty, "symmetric Jaccard must NOT flag the inclusion pair")
  }

  test("containment >= jaccard on every shared candidate pair; capped == uncapped off the hot set") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val capped = Dedup.containmentPairs(docs, "text", 3, 0.6, maxDocFreq = 64)
      .select("d1", "d2", "shared", "n1", "n2", "containment").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(capped.nonEmpty)
    capped.foreach { case (_, (shared, n1, n2, c)) =>
      val jaccard = shared.toDouble / (n1 + n2 - shared).toDouble
      assert(c >= jaccard && c <= 1.0)
      assert(c == shared.toDouble / math.min(n1, n2).toDouble)
    }
    // the uncapped exact-recall path agrees wherever the cap kept the pair
    val uncapped = Dedup.containmentPairs(docs, "text", 3, 0.6)
      .select("d1", "d2", "containment").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    capped.foreach { case (k, (_, _, _, c)) =>
      assert(uncapped(k) == c, s"pair $k differs between capped and exact paths")
    }
  }

  test("weighted jaccard: hand-computed min-sum over token counts") {
    import spark.implicits._
    // shared 3-gram "x y z" makes (1,2) a candidate; token multisets
    // {x,y,z,a,a,a} vs {x,y,z,b,b,b}: minsum 3, totals 6+6
    // -> J_w = 3 / (12 - 3) = 1/3
    val docs = Seq((1L, "x y z a a a"), (2L, "x y z b b b")).toDF("doc_id", "text")
    val got = Dedup.weightedJaccardPairs(docs, "text", 3, 0.3)
      .select("d1", "d2", "minsum", "t1", "t2", "wjaccard").collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((1L, 2L, 3L, 6L, 6L)))
    assert(math.abs(r.getDouble(5) - 1.0 / 3.0) < 1e-12)
    // the same pair falls below a 0.4 threshold
    assert(Dedup.weightedJaccardPairs(docs, "text", 3, 0.4).collect().isEmpty)
  }

  test("weighted jaccard penalizes repetition that set containment cannot see") {
    import spark.implicits._
    // doc 2 is doc 1's only sentence repeated 5 times: SET containment
    // is a perfect 1.0 ("verbatim duplicate"), but the token MULTISET
    // overlap is only 5/25 — the repetition-inflation signal
    val sent = "alpha beta gamma delta epsilon"
    val docs = Seq((1L, sent), (2L, Seq.fill(5)(sent).mkString(" ")))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "text", 5, 0.9)
      .select("containment").collect()
    assert(cont.length == 1 && cont.head.getDouble(0) == 1.0,
      "set containment must call this a perfect inclusion")
    val wj = Dedup.weightedJaccardPairs(docs, "text", 5, 0.0)
      .select("minsum", "t1", "t2", "wjaccard").collect().head
    // minsum = 5 (one copy of each token), totals 5 and 25 -> 5/25
    assert((wj.getLong(0), wj.getLong(1), wj.getLong(2)) == ((5L, 5L, 25L)))
    assert(math.abs(wj.getDouble(3) - 0.2) < 1e-12)
  }

  test("weighted jaccard: differential fuzz vs a brute in-memory reference") {
    import spark.implicits._
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    def reference(docs: Seq[(Long, String)]): Map[(Long, Long), (Long, Double)] = {
      val sh = docs.map { case (id, t) =>
        id -> toks(t).sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      }.toMap
      val tc = docs.map { case (id, t) =>
        id -> toks(t).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      }.toMap
      (for {
        (a, _) <- docs; (b, _) <- docs
        if a < b && sh(a).intersect(sh(b)).nonEmpty
      } yield {
        val minsum = tc(a).keySet.intersect(tc(b).keySet).toSeq
          .map(k => math.min(tc(a)(k), tc(b)(k))).sum
        val union = tc(a).values.sum + tc(b).values.sum - minsum
        (a, b) -> ((minsum, minsum.toDouble / union.toDouble))
      }).toMap.filter(_._2._1 > 0)
    }
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    var x = 42424242L
    def nxt(): Int = { x = (x * 48271) % 2147483647L; (x % 1000).toInt }
    val docs = (1L to 18L).map(i =>
      i -> (1 to 8 + nxt() % 10).map(_ => words(nxt() % words.size)).mkString(" "))
    val got = Dedup.weightedJaccardPairs(docs.toDF("doc_id", "text"), "text", 3, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(5))))
      .toMap
    val want = reference(docs)
    assert(got.keySet === want.keySet, "candidate pair sets diverged")
    got.foreach { case (k, (ms, wj)) =>
      assert(ms == want(k)._1, s"minsum diverged on $k")
      assert(math.abs(wj - want(k)._2) < 1e-12, s"wjaccard diverged on $k")
    }
    assert(got.nonEmpty)
  }

  test("lsh planner: S-curve math, noise minimization, unreachable-recall guard") {
    def p(s: Double, b: Int, r: Int) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
    // the registered d03 config (16 hashes, 4x4) must be among what the
    // planner would pick for a 0.5-threshold with lenient recall
    val (b1, r1) = Dedup.planLshBands(16, threshold = 0.5, minRecall = 0.2,
      noiseSim = 0.2)
    assert(b1 * r1 == 16 && p(0.5, b1, r1) >= 0.2)
    // every divisor split meeting recall must have >= the chosen noise
    val noise1 = p(0.2, b1, r1)
    (1 to 16).filter(16 % _ == 0).foreach { r =>
      val b = 16 / r
      if (p(0.5, b, r) >= 0.2) assert(p(0.2, b, r) >= noise1 - 1e-15)
    }
    // a tight recall target at high threshold forces more bands /
    // fewer rows than a loose one
    val (bLoose, rLoose) = Dedup.planLshBands(64, 0.8, 0.5, 0.3)
    val (bTight, rTight) = Dedup.planLshBands(64, 0.8, 0.99, 0.3)
    assert(p(0.8, bTight, rTight) >= 0.99 && p(0.8, bLoose, rLoose) >= 0.5)
    assert(rTight <= rLoose, "tighter recall cannot need LONGER bands")
    // unreachable recall throws with the best achievable in the message
    val e = intercept[IllegalArgumentException](
      Dedup.planLshBands(2, 0.1, 0.999, 0.01))
    assert(e.getMessage.contains("best achievable"))
  }

  test("novelty: unique-shingle fractions with < n-token docs excluded") {
    import spark.implicits._
    // d1/d2 share the shingle "a b c d e"; each also owns one unique
    // shingle -> both 1/2 novel; d3 has < 5 tokens -> no score row
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e z"), (3L, "q r"))
      .toDF("doc_id", "text")
    val got = Dedup.noveltyScores(docs, "text", 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(1L -> ((2L, 1L, 500000L)), 2L -> ((2L, 1L, 500000L))))
  }

  test("editRerank: exact Levenshtein over the prefix valve, threshold filter, guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefghij"),
      (2L, "abXdeYghij"),      // two substitutions inside the prefix
      (3L, "abcdefghijZZZZZ"), // differs only PAST the 10-char prefix
      (4L, "qqqqqqqqqq"))      // far: 10 substitutions
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("d1", "d2")
    val got = Dedup.editRerank(docs, "doc_id", "text", pairs, 10, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map((1L, 2L) -> 2L, (1L, 3L) -> 0L))
    // tightening the threshold drops the 2-edit pair
    val tight = Dedup.editRerank(docs, "doc_id", "text", pairs, 10, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight === Set((1L, 3L)))
    intercept[IllegalArgumentException](
      Dedup.editRerank(docs, "doc_id", "text", pairs, 0, 1L))
    intercept[IllegalArgumentException](
      Dedup.editRerank(docs, "doc_id", "text", pairs, 10, -1L))
  }

  test("planner-driven banding (d11): pinned split, and refined bands recall a superset") {
    // the d11 configuration: recall >= 0.85 at J=0.5 over a 16-perm
    // signature forces 2-row bands (4-row misses at 0.8999); pinned so
    // a planner change shows up as a spec failure, not silent drift
    assert(Dedup.planLshBands(16, 0.5, 0.85, 0.2) === ((8, 2)))
    // refinement superset: every 4-row band match implies both 2-row
    // halves match (the slices align), so the 8-band candidate set —
    // and with the SAME est threshold, the surviving pair set —
    // contains d03's
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(bands: Int) =
      Dedup.minhashLshPairs(docs, "text", 3, 16, bands, 0.5)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p4 = pairs(4)
    val p8 = pairs(8)
    assert(p4.subsetOf(p8), s"refined banding lost pairs: ${p4 -- p8}")
    assert(p4.nonEmpty)
  }
}
