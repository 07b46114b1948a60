package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bpe, Similarity, Storage}

/** Failure-path storage-lifecycle fuzz (VERDICT r8 Next #8 + ADVICE):
  * the round-8 leak fixes got machine checks for the SUCCESS path
  * (CacheHygieneSpec); these kill materialization mid-flight and
  * assert the failure paths release every block too — a library
  * caller whose job dies must not inherit orphaned cache or
  * checkpoint blocks that only the ContextCleaner would ever free. */
class StorageChaosSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestUtil.session()

  /** run `op`, require it to throw, and assert storage is back to the
    * pre-call baseline: nothing new in the CacheManager, nothing new
    * in the executor's persistent-RDD map. */
  private def assertNoLeakOnFailure(name: String)(op: => Any): Unit = {
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$name: CacheManager not empty before the call — broken fixture")
    val baseRdds = spark.sparkContext.getPersistentRDDs.keySet
    val thrown = intercept[Throwable](op)
    assert(thrown != null)
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$name: failure leaked a CacheManager entry")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseRdds
    assert(leaked.isEmpty,
      s"$name: ${leaked.size} persistent RDD(s) leaked on the failure path: $leaked")
  }

  /** a text column that evaluates fine at plan time but throws on the
    * first evaluated row — kills whichever job first touches it. */
  private def poisonedDocs =
    Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "lang", "source", "n_chars",
        "concat(text, ifnull(assert_true(doc_id < 0), '')) AS text")

  test("withCached: a throwing build releases the intermediate cache") {
    assertNoLeakOnFailure("withCached/build-throws") {
      Storage.withCached(Tables.documents(spark, sfDir).select("doc_id")) { _ =>
        throw new RuntimeException("boom at build time")
      }
    }
  }

  test("withCached: a failing materialization releases cache AND partial checkpoint blocks") {
    assertNoLeakOnFailure("withCached/materialize-throws") {
      Storage.withCached(Tables.documents(spark, sfDir).select("doc_id", "text")) {
        tmp => tmp.selectExpr("doc_id", "ifnull(assert_true(doc_id < 0), text) AS t")
      }
    }
  }

  test("BPE trainLoop killed on round 3 releases the base and every round checkpoint") {
    assertNoLeakOnFailure("trainLoop/round-3-kill") {
      Bpe.trainLoop(Tables.documents(spark, sfDir), "text", 8,
        onRound = step => if (step == 3) throw new RuntimeException("chaos: round 3"))
    }
  }

  test("BPE trainLoop whose base materialization dies releases the base checkpoint") {
    assertNoLeakOnFailure("trainLoop/base-dies") {
      Bpe.trainLoop(poisonedDocs, "text", 3)
    }
  }

  test("BPE operator surfaces propagate mid-training failures leak-free") {
    assertNoLeakOnFailure("vocabAfterTraining/corpus-dies") {
      Bpe.vocabAfterTraining(poisonedDocs, "text", 3, 10)
    }
    assertNoLeakOnFailure("encodeDocs/corpus-dies") {
      Bpe.encodeDocs(poisonedDocs, "text", 3).collect()
    }
  }

  test("k-means training loop on a dying corpus holds no storage (driver-literal state only)") {
    // trainedCodebook checkpoints nothing — its loop state is the
    // O(k·D) driver codebook; this pins that a mid-iteration failure
    // cannot leak because there is nothing TO leak
    val poisonedEmb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "label",
        "if(vec_id < 8, embedding, " +
          "transform(embedding, x -> x + ifnull(assert_true(vec_id < 0), 0f))) AS embedding")
    assertNoLeakOnFailure("kmeansTrain/corpus-dies") {
      Similarity.kmeansTrain(poisonedEmb, 8, 3).collect()
    }
    // the trained SemDeDup surface wraps the same loop in withCached —
    // the composed failure path must release the assignment cache too
    assertNoLeakOnFailure("semanticDedupTrained/corpus-dies") {
      Similarity.semanticDedupTrained(poisonedEmb, 8, 2, 0.4)
    }
  }
}
