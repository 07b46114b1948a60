package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.functions.NfcNormalize]] (graft_nfc) contract: Unicode NFC
  * composition, ASCII pass-through, idempotence, null propagation, and
  * interpreted-vs-codegen agreement. All non-ASCII is spelled with
  * explicit \u escapes so decomposed vs precomposed is unambiguous in
  * the source. */
class TextNormSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def nfc(input: String): String = {
    import spark.implicits._
    Seq(input).toDF("s").selectExpr("graft_nfc(s)").collect()(0).getString(0)
  }

  test("decomposed e + U+0301 composes to U+00E9 (one codepoint shorter)") {
    val out = nfc("cafe\u0301")
    assert(out == "caf\u00e9")
    assert(out.length == 4)
  }

  test("ASCII text is unchanged") {
    assert(nfc("plain ascii text 123") == "plain ascii text 123")
  }

  test("already-composed text is unchanged (idempotence)") {
    val composed = "caf\u00e9 na\u00efve stra\u00dfe"
    assert(nfc(composed) == composed)
  }

  test("multiple combining marks in one string all compose") {
    assert(nfc("a\u0300 o\u0302 n\u0303") == "\u00e0 \u00f4 \u00f1")
  }

  test("null propagates") {
    import spark.implicits._
    val r = Seq[(Integer, String)]((1, null)).toDF("i", "s")
      .selectExpr("graft_nfc(s)").collect()(0)
    assert(r.isNullAt(0))
  }

  test("interpreted eval agrees with the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val inputs = Seq("cafe\u0301", "ascii", "", "a\u0300b\u0301c\u0302")
    inputs.foreach { in =>
      val interpreted = graft.functions.NfcNormalize(Literal(UTF8String.fromString(in)))
        .eval(null).asInstanceOf[UTF8String].toString
      assert(interpreted == nfc(in), s"mismatch on ${in.codePoints().toArray.toSeq}")
    }
  }
}
