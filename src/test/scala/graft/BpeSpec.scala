package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.operators.Bpe

/** Iterated BPE training semantics: greedy-apply non-overlap on runs
  * (merged symbols never chain inside one pass), deterministic
  * tie-break (n DESC, l ASC, r ASC), early exhaustion when the corpus
  * runs out of adjacent pairs, the short-token filter, and the c01
  * loop discipline (no leaked checkpoint blocks after the terminal
  * action).
  */
class BpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def train(docs: Seq[String], steps: Int): Seq[(Long, String, String, Long)] = {
    import spark.implicits._
    Bpe.trainMerges(docs.toDF("text"), "text", steps)
      .orderBy("step")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
  }

  test("greedy apply does not chain merges inside one pass") {
    // "aaaa": pairs (a,a)x3 -> merge 1 = (a,a). Canonical apply gives
    // [aa, aa], NOT [aaa, a] — so round 2's top pair is (aa, aa)x1.
    val out = train(Seq("aaaa"), 2)
    assert(out == Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)))
  }

  test("tie-break is (n DESC, l ASC, r ASC)") {
    // "ba" and "ab" each give one pair with count 2; (a,b) wins on l.
    val out = train(Seq("ab ab ba ba"), 1)
    assert(out == Seq((1L, "a", "b", 2L)))
  }

  test("stops early when the corpus runs out of pairs") {
    // one token "ab": round 1 merges it to a single symbol; rounds
    // 2..5 have zero adjacent pairs -> one row, not five.
    val out = train(Seq("ab"), 5)
    assert(out == Seq((1L, "a", "b", 1L)))
  }

  test("sub-2-char tokens carry no pairs (t12's filter)") {
    // "a b c" contributes nothing; merges come from "xy" only.
    val out = train(Seq("a b c xy", "a xy"), 1)
    assert(out == Seq((1L, "x", "y", 2L)))
  }

  test("merge table replays a hand-computed 3-round trace") {
    // corpus tokens: lower, lower, low
    // r1: (l,o)x3 top (e,r)x2 (o,w)x3 (w,e)x2 -> (l,o)=3 ties (o,w)=3, l wins on "l"<"o"
    // r2: after merge: [lo,w,e,r]x2 [lo,w]x1 -> (lo,w)x3 wins
    // r3: [low,e,r]x2 [low]x1 -> (e,r)x2 ties (low,e)x2, "e"<"low"
    val out = train(Seq("lower lower low"), 3)
    assert(out == Seq((1L, "l", "o", 3L), (2L, "lo", "w", 3L), (3L, "e", "r", 2L)))
  }

  test("vocab after training: encoded symbol mass, weighted by token frequency") {
    import spark.implicits._
    // merges (see the trace test): (l,o), (lo,w), (e,r)
    // lower(x2) encodes to [low, er]; low(x1) encodes to [low]
    val out = Bpe.vocabAfterTraining(
        Seq("lower lower low").toDF("text"), "text", 3, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("low", 3L), ("er", 2L)))
  }

  test("encodeDocs: trace, 1-char pass-through, empty doc, map-only plan") {
    import spark.implicits._
    val docs = Seq((1L, "a lower lowest"), (2L, ""), (3L, "low")).toDF("doc_id", "text")
    // merges over this corpus (tokens lower, lowest, low):
    // r1 (l,o)x3  r2 (lo,w)x3  r3 ties (e,s)(lo,we)?? -> computed by
    // the same trainMerges under test, so assert against the
    // independent Scala reference instead of a hand trace
    val merges = Bpe.trainMerges(docs, "text", 3)
      .orderBy("step").select("l", "r").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val enc = Bpe.encodeDocs(docs, "text", 3)
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encode must be a pure projection:\n$plan")

    def refApply(token: String): Seq[String] =
      merges.foldLeft(token.map(_.toString): Seq[String]) { case (cur, (l, r)) =>
        cur.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
          else acc :+ x
        }
      }
    def refDoc(text: String): Seq[String] =
      text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq.flatMap(refApply)

    val got = enc.select(col("doc_id"), col("subwords")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == refDoc("a lower lowest"))
    assert(got(1L).head == "a", "1-char tokens must pass through unchanged")
    assert(got(2L) == Seq.empty, "empty doc encodes to an empty sequence")
    assert(got(3L) == refDoc("low"))
  }

  test("native apply == independent greedy reference on fuzz corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alpha = "ab"
    val docs = (0L until 40L).map { id =>
      val words = Seq.fill(rnd.nextInt(6) + 1)(
        (0 until rnd.nextInt(8) + 1).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      (id, words.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val merges = Bpe.trainMerges(df, "text", 5)
      .orderBy("step").select("l", "r").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    def refApply(token: String): Seq[String] =
      merges.foldLeft(token.map(_.toString): Seq[String]) { case (cur, (l, r)) =>
        cur.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
          else acc :+ x
        }
      }
    val got = Bpe.encodeDocs(df, "text", 5).select(col("doc_id"), col("subwords"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    docs.foreach { case (id, text) =>
      val expected = text.split(" ").filter(_.nonEmpty).toSeq.flatMap(refApply)
      assert(got(id) == expected, s"doc $id: $text")
    }
  }

  test("graft_bpe_apply from plain SQL: apply order, and named errors on malformed input") {
    import spark.implicits._
    // merges applied IN ORDER: (a,b) then (ab,c) -> 'abc' collapses fully
    val out = spark.sql(
      "SELECT graft_bpe_apply(array('a','b','c'), array(array('a','b'), array('ab','c'))) AS s")
      .collect()(0).getSeq[String](0)
    assert(out == Seq("abc"))
    // reversed order: (ab,c) can never fire before (a,b) exists
    val out2 = spark.sql(
      "SELECT graft_bpe_apply(array('a','b','c'), array(array('ab','c'), array('a','b'))) AS s")
      .collect()(0).getSeq[String](0)
    assert(out2 == Seq("ab", "c"))

    def failureOf(sql: String): String = {
      val e = intercept[Throwable](spark.sql(sql).collect())
      Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
        .takeWhile(_ != null).map(m => String.valueOf(m.getMessage)).mkString(" | ")
    }
    assert(failureOf(
      "SELECT graft_bpe_apply(array('a', cast(null as string)), array(array('a','b')))")
      .contains("null symbol"))
    assert(failureOf(
      "SELECT graft_bpe_apply(array('a'), array(array('a','b','c')))")
      .contains("expected [l, r]"))
    assert(failureOf(
      "SELECT graft_bpe_apply(array('a'), array(array('a', cast(null as string))))")
      .contains("null side"))
  }

  test("no leaked storage after training (cache hygiene)") {
    import spark.implicits._
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val before = spark.sparkContext.getPersistentRDDs.size
    val df = Bpe.trainMerges(Seq("abc abd abe").toDF("text"), "text", 3)
    df.collect(): Unit
    assert(spark.sparkContext.getPersistentRDDs.size == before)

    // the encode keeps only the O(topK) result checkpoint, freed by
    // Storage.release (the withCached contract)
    val vocab = Bpe.vocabAfterTraining(Seq("abc abd abe").toDF("text"), "text", 3, 10)
    vocab.collect(): Unit
    graft.operators.Storage.release(vocab)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }
}
