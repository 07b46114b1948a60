package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, TextOps}

/** [[TextOps.heapsCurve]] first-occurrence bucketing and
  * [[Dedup.privacyGate]] threshold semantics. */
class HeapsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def docs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  test("heapsCurve: new types land in the decile of their first occurrence") {
    // 20 tokens total, deciles of 2 tokens each. doc order by doc_id:
    // doc 0: "a a a a a a a a a a" (10 tokens, type a at gpos 1)
    // doc 1: "b b b b b c c c c d" (type b at 11, c at 16, d at 20)
    val d = docs(Seq(
      (0L, "s", "a a a a a a a a a a"),
      (1L, "s", "b b b b b c c c c d")))
    val out = TextOps.heapsCurve(d, "text", 10).collect()
    assert(out.length == 10)
    val byDecile = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byDecile(1L) == ((2L, 1L, 1L)))   // a at pos 1 -> decile 1
    assert(byDecile(5L) == ((10L, 0L, 1L)))  // nothing new through pos 10
    assert(byDecile(6L)._2 == 1L)            // b first at pos 11 -> decile 6
    assert(byDecile(8L)._2 == 1L)            // c at pos 16 -> decile 8
    assert(byDecile(10L) == ((20L, 1L, 4L))) // d at pos 20 -> decile 10
    // curve is the running sum of new_types and ends at the type count
    assert(out.map(_.getLong(3)).toList == out.scanLeft(0L)(
      (acc, r) => acc + r.getLong(2)).tail.toList)
  }

  test("heapsCurve: a template corpus plateaus after its first deciles") {
    val d = docs((0L until 40L).map(i => (i, "s", "same tiny template")))
    val out = TextOps.heapsCurve(d, "text", 10).collect()
    assert(out.head.getLong(3) == 3L && out.last.getLong(3) == 3L)
    assert(out.drop(1).forall(_.getLong(2) == 0L))
  }

  test("privacyGate drops high-rare-share docs and passes short docs") {
    // n=2, kAnon=2: doc 0 and 1 share every window (nothing rare);
    // doc 2 is all-unique windows (share 1e6 -> dropped at 50%);
    // doc 3 is a single token (no windows -> passes with zeros)
    val d = docs(Seq(
      (0L, "s", "a b c d"),
      (1L, "s", "a b c d"),
      (2L, "s", "q r s t u v"),
      (3L, "s", "solo")))
    val out = Dedup.privacyGate(d, "text", 2, 2, 500000L)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(0L, 1L, 3L))
    assert(out(3L).getLong(2) == 0L && out(3L).getLong(4) == 0L)
    assert(out(0L).getLong(2) == 3L && out(0L).getLong(3) == 0L)
  }

  test("privacyGate at share 1e6 keeps everything; at 0 keeps only clean docs") {
    val d = docs(Seq(
      (0L, "s", "a b c d"),
      (1L, "s", "a b x y")))   // "a b" shared; others rare
    val all = Dedup.privacyGate(d, "text", 2, 2, 1000000L).collect()
    assert(all.length == 2)
    val none = Dedup.privacyGate(d, "text", 2, 2, 0L).collect()
    assert(none.isEmpty)       // both docs carry at least one rare window
  }
}
