package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Retrieval

/** BM25 top-k: full in-memory replay of the rational-core +
  * Padé-idf + micro-quantized scoring (the same arithmetic the
  * DuckDB oracle runs), self-retrieval sanity, tie-breaks, k capping,
  * query-term truncation, empty-doc exclusion, and plan-shape
  * audits. */
class RetrievalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private val corpus = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown cat sleeps on the warm mat",
    3L -> "foxes and dogs are common household animals",
    4L -> "quantum computing uses qubits not classical bits",
    5L -> "the dog chased the fox over the hill",
    6L -> "", // excluded from the index: no tokens
    7L -> "bits and bytes and qubits")

  private def run(queries: Seq[(Long, String)], k: Int, maxTerms: Int) = {
    import spark.implicits._
    Retrieval.bm25TopK(
        corpus.toDF("doc_id", "text"), "text",
        queries.toDF("q_id", "text"), "text", k, maxTerms)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
  }

  /** In-memory twin: tokenization, postings, df, the exact
    * rational/IEEE scoring sequence, HALF_UP micro rounding,
    * integer sums, (score desc, doc_id asc) ranking. */
  private def reference(queries: Seq[(Long, String)], k: Int, maxTerms: Int) = {
    def toks(s: String) = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val docs = corpus.map { case (id, t) => id -> toks(t) }.filter(_._2.nonEmpty)
    val n = docs.size.toLong
    val tt = docs.map(_._2.size.toLong).sum
    val tf = docs.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, o) => (t, id, o.size.toLong, ts.size.toLong) }
    }
    val dft = tf.groupBy(_._1).map { case (t, ps) => t -> ps.size.toLong }
    def microScore(termTf: Long, dl: Long, df: Long): Long = {
      val r = (2 * n - 2 * df + 1).toDouble / (2 * df + 1).toDouble
      val core = (22 * termTf * tt).toDouble /
        (10 * termTf * tt + 3 * tt + 9 * dl * n).toDouble
      BigDecimal(2 * (r - 1) / (r + 1) * core * 1000000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    queries.flatMap { case (qid, qtext) =>
      val qterms = toks(qtext).distinct.sorted.take(maxTerms)
      val perDoc = tf.filter(p => qterms.contains(p._1))
        .groupBy(_._2)
        .map { case (doc, ps) =>
          (doc, ps.map(p => microScore(p._3, p._4, dft(p._1))).sum, ps.size.toLong)
        }.toSeq
      perDoc.sortBy { case (doc, s, _) => (-s, doc) }
        .take(k).zipWithIndex
        .map { case ((doc, s, hits), i) => (qid, i + 1L, doc, s, hits) }
    }
  }

  test("full scoring replay matches the in-memory twin") {
    val qs = Seq(10L -> "quick brown fox", 11L -> "qubits bits", 12L -> "dog")
    assert(run(qs, 5, 6).toSeq.sortBy(r => (r._1, r._2)) ===
      reference(qs, 5, 6).sortBy(r => (r._1, r._2)))
  }

  test("self-retrieval: a doc queried by its own rare terms ranks itself first") {
    val res = run(Seq(4L -> "quantum computing uses qubits not classical bits"), 3, 6)
    assert(res.head._1 === 4L && res.head._2 === 1L && res.head._3 === 4L,
      s"doc 4 must be its own top hit, got ${res.toSeq}")
  }

  test("tie-break: identical docs rank by ascending doc_id") {
    import spark.implicits._
    val dup = Seq(1L -> "alpha beta gamma", 2L -> "alpha beta gamma",
      3L -> "delta epsilon zeta")
    val res = Retrieval.bm25TopK(dup.toDF("doc_id", "text"), "text",
        Seq(9L -> "alpha beta").toDF("q_id", "text"), "text", 5, 6)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(res.sorted.toSeq === Seq((1L, 1L), (2L, 2L)),
      "equal scores must break ties on doc_id ascending")
  }

  test("k caps the hit list and maxQueryTerms truncates lexicographically") {
    // every doc shares 'the' except 4 and 7; k=2 keeps only two
    val res = run(Seq(20L -> "the fox dog"), 2, 6)
    assert(res.count(_._1 == 20L) === 2)
    // maxTerms=1 keeps only the lexicographically first distinct
    // token ('dog' < 'fox' < 'the') — so only dog-bearing docs match
    val res1 = run(Seq(21L -> "the fox dog"), 5, 1)
    assert(res1.map(_._3).toSet === Set(1L, 5L),
      s"only docs containing the exact token 'dog' may match (doc 3 has 'dogs'), got ${res1.toSeq}")
  }

  test("empty docs never match; empty query yields no rows") {
    val res = run(Seq(30L -> "the"), 10, 6)
    assert(!res.map(_._3).contains(6L), "doc 6 has no tokens and no postings")
    assert(run(Seq(31L -> "; ;; ,,"), 5, 6).isEmpty)
  }

  test("postings artifact: bm25TopKWith matches the self-contained path; release returns storage to baseline") {
    import spark.implicits._
    val baseRdds = spark.sparkContext.getPersistentRDDs.keySet
    val qs = Seq(10L -> "quick brown fox", 11L -> "qubits bits", 12L -> "dog")
    val idx = Retrieval.fitPostings(corpus.toDF("doc_id", "text"), "text")
    // TWO consumers of ONE fit — different k/maxTerms, same index
    val a = Retrieval.bm25TopKWith(idx, qs.toDF("q_id", "text"), "text", 5, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val b = Retrieval.bm25TopKWith(idx, qs.toDF("q_id", "text"), "text", 2, 1)
      .collect()
    idx.release()
    assert(a.toSeq.sortBy(r => (r._1, r._2)) ===
      run(qs, 5, 6).toSeq.sortBy(r => (r._1, r._2)),
      "artifact-served scores must equal the self-contained plan's")
    assert(b.nonEmpty && b.forall(_.getLong(1) <= 2))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseRdds
    assert(leaked.isEmpty, s"index release leaked: $leaked")
  }

  test("rrfFuse: exact integer contributions, cross-list sums, tie-breaks, top-k cap") {
    import spark.implicits._
    // doc 100 ranks 1st in A and 2nd in B; doc 200 ranks 2nd in A
    // only; doc 300 ranks 1st in B only
    val a = Seq((1L, 100L, 1L), (1L, 200L, 2L)).toDF("q_id", "doc_id", "rnk")
    val b = Seq((1L, 300L, 1L), (1L, 100L, 2L)).toDF("q_id", "doc_id", "rnk")
    val res = Retrieval.rrfFuse(Seq(a, b), k0 = 60, k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    def c(r: Long) = 1000000L / (60L + r)
    assert(res.toSeq.sortBy(_._1) === Seq(
      (1L, 100L, c(1) + c(2), 2L),  // both lists: 16393 + 16129
      (2L, 300L, c(1), 1L),         // single list, rank 1: 16393
      (3L, 200L, c(2), 1L)),        // single list, rank 2: 16129
      s"got ${res.toSeq}")
  }

  test("rrfFuse: ties break by ascending doc_id; k caps output; guards reject bad args") {
    import spark.implicits._
    val a = Seq((1L, 5L, 1L), (1L, 3L, 1L)).toDF("q_id", "doc_id", "rnk")
    val res = Retrieval.rrfFuse(Seq(a), 60, 1).collect()
    assert(res.length === 1 && res.head.getLong(2) === 3L,
      "equal contributions must keep the smaller doc_id first")
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Seq.empty, 60, 5))
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Seq(a), 0, 5))
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Seq(a), 60, 0))
  }

  test("plan shape: equi-joins only besides the 1-row totals broadcast") {
    import spark.implicits._
    val df = Retrieval.bm25TopK(corpus.toDF("doc_id", "text"), "text",
      Seq(1L -> "fox").toDF("q_id", "text"), "text", 5, 6)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"bm25 must not plan a cartesian:\n$plan")
  }

  test("tfidfTopPairs: df ceiling bounds the pair join under universal boilerplate") {
    import spark.implicits._
    // 200 docs ALL sharing one boilerplate header shingle; each doc
    // additionally carries a rare shingle shared with exactly one
    // partner. Uncapped, the header alone generates 200·199/2 = 19900
    // candidate pairs; under the cap only the 100 partner pairs (plus
    // nothing else) can meet.
    val docs = (0 until 200).map { i =>
      val pair = i / 2 // docs 2j and 2j+1 share rareA{j} rareB{j} rareC{j}
      (i.toLong, s"legal header boilerplate text rareA$pair rareB$pair rareC$pair")
    }.toDF("doc_id", "text")
    val capped = graft.operators.Retrieval
      .tfidfTopPairs(docs, "doc_id", "text", topPerDoc = 5, dfCap = 100L,
        k = 1000000)
      .collect()
    // every doc pairs ONLY with its partner: exactly 100 pairs survive
    assert(capped.length == 100, s"expected 100 partner pairs, got ${capped.length}")
    assert(capped.forall(r => r.getLong(2) == r.getLong(1) + 1),
      "each pair must be (2j, 2j+1) partners")
    // the same corpus with the cap lifted pairs everything with
    // everything through the header: the quadratic blow-up the cap
    // exists to prevent (199·100 pairs + the partner links)
    val uncapped = graft.operators.Retrieval
      .tfidfTopPairs(docs, "doc_id", "text", topPerDoc = 5, dfCap = 1000000L,
        k = 1000000)
      .count()
    assert(uncapped == 19900L, s"uncapped should be all-pairs, got $uncapped")
  }

  test("tfidfTopPairs: capped selection still gives boilerplate docs informative slots") {
    import spark.implicits._
    // a doc whose text is MOSTLY hot shingles still contributes its
    // rare ones: the cap filters before per-doc selection
    val docs = (0 until 50).map { i =>
      (i.toLong, "common common common common common common unique" + (i / 2))
    }.toDF("doc_id", "text")
    val got = graft.operators.Retrieval
      .tfidfTopPairs(docs, "doc_id", "text", topPerDoc = 2, dfCap = 10L, k = 100)
      .collect()
    assert(got.length == 25, s"expected 25 partner pairs, got ${got.length}")
    assert(got.forall(r => r.getLong(3) >= 1L), "pairs share >=1 rare shingle")
  }
}
