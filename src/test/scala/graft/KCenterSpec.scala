package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

/** [[Similarity.kCenterCoreset]] greedy semantics on hand-checkable
  * geometry, and [[Dedup.rareWindowAudit]] k-anonymity counting. */
class KCenterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def emb(rows: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    rows.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
  }

  test("farthest-point selection on a line picks the extremes first") {
    // points at x = 0, 1, 9, 10 (1-d embeddings): seed = vec 0 (x=0),
    // then farthest = x=10 (d2=100), then max-min: x=9 has min(81,1)=1,
    // x=1 has min(1,81)=1 -> tie on distance, lowest vec_id wins (1).
    val e = emb(Seq(0L -> Seq(0f), 1L -> Seq(1f), 2L -> Seq(9f), 3L -> Seq(10f)))
    val out = Similarity.kCenterCoreset(e, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(out == List((1L, 0L), (2L, 3L), (3L, 1L)))
    val d = Similarity.kCenterCoreset(e, 3).collect()
    assert(d(0).isNullAt(2) && d(1).getDouble(2) == 100.0 && d(2).getDouble(2) == 1.0)
  }

  test("k = 1 returns only the seed; k > n saturates at the corpus") {
    val e = emb(Seq(5L -> Seq(1f, 2f), 7L -> Seq(3f, 4f)))
    val one = Similarity.kCenterCoreset(e, 1).collect()
    assert(one.length == 1 && one.head.getLong(1) == 5L)
    // k=3 over 2 points: third pick is a zero-distance re-pick of the
    // lowest remaining-by-tiebreak vector — still deterministic
    val three = Similarity.kCenterCoreset(e, 3).collect()
    assert(three.length == 3 && three(2).getDouble(2) == 0.0)
  }

  test("coverage radius never increases along the selection order") {
    val e = emb((0L until 20L).map(i =>
      i -> Seq((i % 7).toFloat, (i % 5).toFloat, (i % 3).toFloat)))
    val d = Similarity.kCenterCoreset(e, 8).collect()
      .drop(1).map(_.getDouble(2))
    assert(d.zip(d.tail).forall { case (a, b) => b <= a })
  }

  test("coresetSample is balanced, deterministic, and assigns to the nearest center") {
    // two tight clusters far apart: 12 points near 0, 12 near 100
    val e = emb((0L until 24L).map(i =>
      i -> Seq((if (i < 12) i * 0.01f else 100f + i * 0.01f), 0f)))
    val out = Similarity.coresetSample(e, 2, perStratum = 5, salt = "t")
      .collect()
    val byStratum = out.groupBy(_.getLong(0))
    assert(byStratum.size == 2)
    assert(byStratum.values.forall(_.length == 5))
    // every selected member is genuinely nearest its stratum center:
    // cluster membership = id < 12 iff center is the low cluster
    val centers = Similarity.kCenterCoreset(e, 2)
      .collect().map(_.getLong(1)).toSet
    assert(centers.exists(_ < 12L) && centers.exists(_ >= 12L))
    out.foreach { r =>
      val sameSide = (r.getLong(2) < 12L) == (r.getLong(0) < 12L)
      assert(sameSide, s"vec ${r.getLong(2)} in stratum ${r.getLong(0)}")
    }
    // deterministic: same salt -> same rows
    val again = Similarity.coresetSample(e, 2, perStratum = 5, salt = "t")
      .collect()
    assert(out.map(_.toString).toList == again.map(_.toString).toList)
  }

  private def docs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  test("rareWindowAudit counts singleton windows and finds the worst doc") {
    // n=2, kAnon=2: windows rarer than 2 occurrences = singletons.
    // doc 0: "a b a b" -> windows (a b), (b a), (a b): "a b" x2, "b a" x1
    // doc 1: "a b c"   -> (a b), (b c): "a b" now x3 total, (b c) x1
    // doc 2 (src y): "x y z" -> (x y), (y z) both singletons
    val d = docs(Seq(
      (0L, "x", "a b a b"),
      (1L, "x", "a b c"),
      (2L, "y", "x y z")))
    val out = Dedup.rareWindowAudit(d, "text", 2, 2)
      .collect().map(r => r.getString(0) -> r).toMap
    val x = out("x")
    assert(x.getLong(1) == 5L)          // n_windows: 3 + 2
    assert(x.getLong(2) == 2L)          // rare: "b a", "b c"
    assert(x.getLong(4) == 2L)          // both docs carry a rare window
    assert(x.getLong(5) == 0L && x.getLong(6) == 1L) // tie (1 each) -> doc 0
    val y = out("y")
    assert(y.getLong(1) == 2L && y.getLong(2) == 2L)
    assert(y.getLong(3) == 1000000L)    // all windows rare
  }

  test("rareWindowAudit: higher kAnon strictly widens the rare set") {
    val d = docs(Seq(
      (0L, "s", "p q r p q r p q r"),   // "p q" x3, "q r" x3, "r p" x2
      (1L, "s", "p q")))                // "p q" x4 total
    val r2 = Dedup.rareWindowAudit(d, "text", 2, 2).collect().head.getLong(2)
    val r4 = Dedup.rareWindowAudit(d, "text", 2, 4).collect().head.getLong(2)
    val r9 = Dedup.rareWindowAudit(d, "text", 2, 9).collect().head.getLong(2)
    assert(r2 == 0L)                    // nothing is a singleton
    assert(r4 > r2 && r9 > r4)          // "r p"(x2) then everything
    assert(r9 == Dedup.rareWindowAudit(d, "text", 2, 9)
      .collect().head.getLong(1))       // at kAnon=9 every window is rare
  }

  test("docs shorter than n are invisible; short-only sources absent") {
    val d = docs(Seq((0L, "s", "lone"), (1L, "t", "a b c d")))
    val out = Dedup.rareWindowAudit(d, "text", 3, 2).collect()
    assert(out.map(_.getString(0)).toList == List("t"))
  }
}
