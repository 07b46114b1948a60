package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextOps

/** `graft_shingle_hashes` (one-pass native) must produce bit-identical
  * arrays to the composed SQL form
  * `array_distinct(transform(shingles(tokens(text), n), strHash60))` —
  * the form the DuckDB oracles replicate — on the real corpus and on
  * adversarial edge strings. */
class ShingleHashesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def sqlForm(textCol: String, n: Int): String =
    s"array_distinct(transform(${TextOps.shingles(s"${TextOps.tokens(textCol)}", n)}, " +
      s"x -> ${TextOps.strHash60("x")}))"

  test("native == composed SQL form on the documents corpus (n=3 and n=5)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    Seq(3, 5).foreach { n =>
      val diff = docs.selectExpr("doc_id",
          s"graft_shingle_hashes(text, $n) AS a", s"${sqlForm("text", n)} AS b")
        .filter("a != b")
      assert(diff.count() == 0, s"n=$n: native shingle hashes diverge from the SQL form")
    }
  }

  test("token hashes (non-distinct, ordered) == transform(tokens, strHash60)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val diff = docs.selectExpr("doc_id",
        "graft_token_hashes(text) AS a",
        s"transform(${TextOps.tokens("text")}, s -> ${TextOps.strHash60("s")}) AS b")
      .filter("a != b")
    assert(diff.count() == 0, "token hashes must keep duplicates in token order")
  }

  test("positional shingle hashes (non-distinct, ordered) == transform(shingles, strHash60)") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
      .unionByName(Seq((-1L, ""), (-2L, "a b"), (-3L, "x y x y x y"))
        .toDF("doc_id", "text"))
    Seq(2, 8).foreach { n =>
      val diff = docs.selectExpr("doc_id",
          s"graft_shingle_hashes_all(text, $n) AS a",
          s"transform(${TextOps.shingles(s"${TextOps.tokens("text")}", n)}, " +
            s"x -> ${TextOps.strHash60("x")}) AS b")
        .filter("a != b")
      assert(diff.count() == 0,
        s"n=$n: positional hashes must keep every window in order")
    }
  }

  test("edge strings: empty, short, separators, case, non-ascii") {
    import spark.implicits._
    val edges = Seq("", "a", "a b", "a b c", "  A--B\t\tc  ", "a  b   c d",
      "123 abc 456", "über café naïve test words here", "a.b,c;d:e f")
    val df = edges.toDF("text")
    val diff = df.selectExpr("text",
        "graft_shingle_hashes(text, 3) AS a", s"${sqlForm("text", 3)} AS b")
      .filter("a != b")
    assert(diff.count() == 0, diff.collect().mkString("; "))
  }
}
