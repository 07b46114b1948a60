package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity, Storage}

/** Round-8 cache-hygiene contract: operators that share an
  * intermediate across plan branches (signatures, assignments) must
  * not leak it — after the operator returns, the CacheManager holds
  * nothing new, and after the caller's terminal action +
  * [[Storage.release]] the executor's persistent-RDD map is back to
  * its pre-call baseline. (Round 7: five operators cached
  * corpus-sized frames forever; a long-lived library session
  * accumulated them without recourse.) */
class CacheHygieneSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestUtil.session()

  private def checkHygiene(name: String)(op: => DataFrame): Unit = {
    val baseCached = spark.sharedState.cacheManager.isEmpty
    assert(baseCached, s"$name: CacheManager not empty before the call — broken fixture")
    val baseRdds = spark.sparkContext.getPersistentRDDs.keySet
    val out = op
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$name: operator left an entry in the CacheManager")
    assert(out.count() > 0, s"$name: empty fixture result")
    Storage.release(out)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseRdds
    assert(leaked.isEmpty,
      s"$name: ${leaked.size} persistent RDD(s) leaked beyond release: $leaked")
  }

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("ngramJaccardPairs releases its shingle-set cache") {
    checkHygiene("ngramJaccardPairs")(
      Dedup.ngramJaccardPairs(docs, "text", 3, 0.5, maxDocFreq = 64))
  }

  test("ngramJaccardPairsPrefix releases its sorted-set cache") {
    checkHygiene("ngramJaccardPairsPrefix")(
      Dedup.ngramJaccardPairsPrefix(docs, "text", 3, 0.5))
  }

  test("minhashLshPairs releases its signature cache") {
    checkHygiene("minhashLshPairs")(
      Dedup.minhashLshPairs(docs, "text", 3, 16, 4, 0.5))
  }

  test("assocPairs releases its distinct basket-item cache") {
    checkHygiene("assocPairs")(
      graft.operators.Baskets.assocPairs(
        Tables.lineitem(spark, sfDir).selectExpr("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", minPairs = 1L))
  }

  test("simhashPairs releases its simhash cache") {
    checkHygiene("simhashPairs")(Dedup.simhashPairs(docs, "text", 3))
  }

  test("semanticDedup releases its assignment cache") {
    checkHygiene("semanticDedup")(Similarity.semanticDedup(emb, 8, 0.4))
  }

  test("semanticDedupTrained releases its assignment cache") {
    checkHygiene("semanticDedupTrained")(
      Similarity.semanticDedupTrained(emb, 8, 2, 0.4))
  }

  test("fitMinhashSignatures artifact: consumers share it; release returns storage to baseline") {
    val baseRdds = spark.sparkContext.getPersistentRDDs.keySet
    val sigs = Dedup.fitMinhashSignatures(docs, "text", 3, 16)
    val pairs = Dedup.minhashLshPairsFrom(sigs, 16, 4, 0.5)
    // two consumers of ONE artifact — neither recomputes signatures
    assert(pairs.count() > 0)
    assert(pairs.select("d2").distinct().count() > 0)
    Storage.release(sigs)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseRdds
    assert(leaked.isEmpty, s"artifact release leaked: $leaked")
  }

  test("BPE tokenizer artifact: vocab + encode share one fit; release returns storage to baseline") {
    import graft.operators.Bpe
    val baseRdds = spark.sparkContext.getPersistentRDDs.keySet
    val tok = Bpe.fit(docs, "text", 4)
    assert(tok.merges.nonEmpty)
    assert(Bpe.vocabOf(tok, 10).count() > 0)
    assert(Bpe.encodeWith(tok, docs, "text").count() > 0)
    tok.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseRdds
    assert(leaked.isEmpty, s"tokenizer release leaked: $leaked")
  }

  test("weightedJaccardPairs releases both its shingle-set and token-count caches") {
    checkHygiene("weightedJaccardPairs")(
      Dedup.weightedJaccardPairs(docs, "text", 3, 0.1, maxDocFreq = 64))
  }

  test("every round-8/9/10/11 registered query returns storage to baseline after release") {
    // VERDICT r8 Next #6: the registry-level contract — run each
    // recent-round query the way the bench harness does (terminal
    // action, then Storage.release) and assert the executor's
    // persistent-RDD map is back to its pre-query baseline
    (graft.queries.Pipeline5.all ++ graft.queries.Pipeline6.all ++
      graft.queries.Pipeline7.all ++ graft.queries.Pipeline8.all ++
      graft.queries.Pipeline9.all ++ graft.queries.Pipeline10.all ++
      graft.queries.Pipeline11.all ++ graft.queries.Pipeline12.all).foreach { q =>
      assert(spark.sharedState.cacheManager.isEmpty,
        s"${q.name}: CacheManager dirty before the call")
      val baseRdds = spark.sparkContext.getPersistentRDDs.keySet
      val out = q.run(spark, sfDir)
      assert(out.count() > 0, s"${q.name}: empty result")
      Storage.release(out)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"${q.name}: left a CacheManager entry")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseRdds
      assert(leaked.isEmpty, s"${q.name}: leaked ${leaked.size} RDD(s): $leaked")
    }
  }

  test("composed pipelines (d05-style anti-join over released pairs) still compute") {
    // the checkpointed pair frame must stay consumable after the
    // intermediate release — lineage was truncated at materialization
    val pairs = Dedup.minhashLshPairs(docs, "text", 3, 16, 4, 0.5)
    val kept = docs.join(
      pairs.select(org.apache.spark.sql.functions.col("d2").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    assert(kept.count() > 0 && kept.count() < docs.count())
    Storage.release(pairs)
  }
}
