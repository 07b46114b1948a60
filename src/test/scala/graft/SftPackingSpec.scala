package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dialogue, Profile}

/** [[Dialogue.sftTokenAccounting]] loss-mask semantics and
  * [[Profile.keySkewAudit]] exact distribution stats. */
class SftPackingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def turns(rows: Seq[(Long, Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "role", "text")
  }

  test("only assistant tokens are trainable; share is exact micro") {
    val t = turns(Seq(
      (1L, 1L, "user", "a b c"),
      (1L, 2L, "assistant", "d e f g"),
      (1L, 3L, "tool", "x"),
      (1L, 4L, "assistant", "h i"),
      (2L, 1L, "user", "only prompts here")))
    val out = Dialogue.sftTokenAccounting(t)
      .collect().map(r => r.getLong(0) -> r).toMap
    val c1 = out(1L)
    assert(c1.getLong(1) == 10L && c1.getLong(2) == 6L && c1.getLong(3) == 4L)
    assert(c1.getLong(4) == 600000L)
    val c2 = out(2L)
    assert(c2.getLong(2) == 0L && c2.getLong(4) == 0L)
  }

  test("zero-token conversations report share 0, not a division error") {
    val t = turns(Seq((5L, 1L, "assistant", "...")))
    val r = Dialogue.sftTokenAccounting(t).collect().head
    assert(r.getLong(1) == 0L && r.getLong(4) == 0L)
  }

  test("a custom assistant role tag is honored") {
    val t = turns(Seq(
      (1L, 1L, "bot", "a b"),
      (1L, 2L, "assistant", "c d e")))
    val r = Dialogue.sftTokenAccounting(t, assistantRole = "bot")
      .collect().head
    assert(r.getLong(2) == 2L && r.getLong(3) == 3L)
  }

  private def keyed(counts: Seq[(String, Int)]) = {
    import spark.implicits._
    counts.flatMap { case (k, n) => Seq.fill(n)(k) }.toDF("k")
  }

  test("keySkewAudit computes exact top-share and type-1 quantiles") {
    // 10 keys: sizes 1x8, 5, 50 -> n_rows 63, p50 = rank 5 -> 1,
    // p99 = rank 10 -> 50, top1 = 50/63
    val df = keyed(("hot" -> 50) +: ("mid" -> 5) +:
      (1 to 8).map(i => s"k$i" -> 1))
    val r = Profile.keySkewAudit(df, "k").collect().head
    assert(r.getLong(0) == 63L && r.getLong(1) == 10L && r.getLong(2) == 50L)
    assert(r.getLong(3) == 50L * 1000000L / 63L)
    assert(r.getLong(4) == 1L && r.getLong(5) == 50L)
    assert(r.getLong(6) == 50000000L)
  }

  test("uniform keys read ratio 1e6 and top share 1/n") {
    val df = keyed((1 to 16).map(i => s"k$i" -> 3))
    val r = Profile.keySkewAudit(df, "k").collect().head
    assert(r.getLong(2) == 3L && r.getLong(4) == 3L && r.getLong(5) == 3L)
    assert(r.getLong(6) == 1000000L)
    assert(r.getLong(3) == 62500L)
  }

  test("null keys count as one ordinary key") {
    val df = keyed(Seq("a" -> 2))
      .selectExpr("if(k = 'zzz', k, null) AS k")
      .union(keyed(Seq("b" -> 3)))
    val r = Profile.keySkewAudit(df, "k").collect().head
    assert(r.getLong(1) == 2L && r.getLong(0) == 5L && r.getLong(2) == 3L)
  }

  test("keySkewAudit rejects an empty input instead of a NULL profile row") {
    intercept[IllegalArgumentException](
      Profile.keySkewAudit(keyed(Seq.empty), "k"))
  }
}
