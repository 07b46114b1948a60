package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextOps

/** Lexical-diversity operator boundaries: the empty-doc guard (Spark's
  * sequence(1, 0) is [1, 0] descending — unguarded, its j = 0 element
  * throws INVALID_INDEX_OF_ZERO under ANSI element_at), all-hapax,
  * no-hapax, and single-token cases.
  */
class TextOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def div(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    TextOps.lexicalDiversity(docs.toDF("doc_id", "text"), "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
  }

  test("empty and punctuation-only docs yield all-zero counts, not a crash") {
    val out = div(Seq(0L -> "", 1L -> "?!... --- ;;;", 2L -> "real words here"))
    assert(out(0L) == ((0L, 0L, 0L, 0L, 0L)))
    assert(out(1L) == ((0L, 0L, 0L, 0L, 0L)))
    assert(out(2L) == ((3L, 3L, 3L, 1000000L, 1000000L)))
  }

  test("run-boundary counting: types and hapaxes") {
    // sorted tokens: [a, a, b, c, c, c, d] -> 4 types, hapax {b, d}
    val out = div(Seq(0L -> "c a b c d a c"))
    assert(out(0L) == ((7L, 4L, 2L, 571428L, 500000L)))
  }

  test("single token is one type and one hapax") {
    val out = div(Seq(0L -> "solo"))
    assert(out(0L) == ((1L, 1L, 1L, 1000000L, 1000000L)))
  }

  test("no hapax when every type repeats") {
    val out = div(Seq(0L -> "x y x y"))
    assert(out(0L) == ((4L, 2L, 0L, 500000L, 0L)))
  }

  // ---- stripHtml (t18) ----

  private def strip(html: String): (Long, Long, String) = {
    import spark.implicits._
    val r = TextOps.stripHtml(Seq((0L, html)).toDF("doc_id", "html"), "html").collect().head
    (r.getLong(1), r.getLong(2), r.getString(3))
  }

  test("stripHtml removes script/style/comment blocks WITH their content") {
    val (_, _, t) = strip(
      "<html><head><script>if (1 < 2) { emit(\"&amp;\"); }</script>" +
        "<style>p > em { color: red; }</style></head>" +
        "<body><!-- secret\nmultiline -->kept</body></html>")
    assert(t == "kept", s"got: '$t'")
  }

  test("stripHtml entity decode order: &amp; last, so &amp;lt; stays a literal &lt;") {
    val (_, nEnt, t) = strip("<p>a &amp;lt; b, c &lt; d, x &amp;amp; y</p>")
    // &amp;lt; -> &lt; (NOT <); &lt; -> <; &amp;amp; -> &amp;
    assert(t == "a &lt; b, c < d, x &amp; y", s"got: '$t'")
    assert(nEnt == 3L) // &amp; x2 + the bare &lt; (the 'lt;' after &amp; is raw text, not an entity)
  }

  test("stripHtml tags become spaces so adjacent words never fuse; whitespace collapses") {
    val (nTags, _, t) = strip("<p>foo</p><p>bar</p>\n\n  <br/>baz\t end")
    assert(t == "foo bar baz end", s"got: '$t'")
    assert(nTags == 5L)
  }

  test("stripHtml degrades on malformed markup — unclosed tags pass through as text") {
    val (_, _, t) = strip("before <div unclosed and a lone & stays")
    assert(t.contains("before") && t.contains("& stays"), s"got: '$t'")
  }

  test("stripHtml decodes the full entity set") {
    val (_, nEnt, t) = strip("&lt;tag&gt; &quot;q&quot; it&#39;s a&nbsp;b")
    assert(t == "<tag> \"q\" it's a b", s"got: '$t'")
    assert(nEnt == 6L)
  }

  test("readability: hand-computed surrogate counts and flesch micro score") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello world."), // 2 words, 1 sentence run, vowel groups e/o/o = 3
      (2L, "no punctuation here"), // sentence floor kicks in at 1
      (3L, "!!!"), // zero words -> excluded
      (4L, "Why?! Two runs... right?")) // ?! + ... + ? = 3 runs, 4 words
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps.readability(docs, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(!got.contains(3L), "a wordless doc has no readability")
    assert(got(1L)._1 == 2L && got(1L)._2 == 1L && got(1L)._3 == 3L)
    // 206835000 - 1015000*2/1 - 84600000*3/2 = 77905000
    assert(got(1L)._4 == 206835000L - 2030000L - 126900000L)
    assert(got(2L)._2 == 1L, "no terminal punctuation floors at one sentence")
    // "Why?! Two runs... right?": words {why,two,runs,right},
    // vowel groups why->none(y is not a vowel here), two->o, runs->u,
    // right->i  = 3
    assert(got(4L) == ((4L, 3L, 3L, 206835000L - (1015000L * 4 / 3) - (84600000L * 3 / 4))))
  }

  test("simpsonDiversity: hand counts, tiny-source floor, and an all-same-token source") {
    import spark.implicits._
    val docs = Seq(
      // source a: tokens a a a b b c -> N=6, types=3,
      // rep = 3*2 + 2*1 + 0 = 8 -> 8e6/(6*5) = 266666
      (1L, "a", "A a a b"),
      (2L, "a", "b c"),
      // source b: one token -> N=1 -> floored to 0
      (3L, "b", "solo"),
      // source c: x x x x -> rep = 4*3 = 12 -> 12e6/(4*3) = 1000000
      (4L, "c", "x x X x"))
      .toDF("doc_id", "source", "text")
    val got = TextOps.simpsonDiversity(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((6L, 3L, 266666L)))
    assert(got("b") == ((1L, 1L, 0L)), "a 1-token source floors to 0")
    assert(got("c") == ((4L, 1L, 1000000L)),
      "an all-same-token source maxes at exactly 1e6")
  }

  test("lexicalRichness: hapax/dis hand counts and share floor") {
    import spark.implicits._
    val docs = Seq(
      // source a: a a a b b c d -> types {a:3, b:2, c:1, d:1}
      // -> 4 types, 2 hapax, 1 dis, share 500000
      (1L, "a", "a a A b"),
      (2L, "a", "b c d"),
      // source b: x y z all once -> 3 types, 3 hapax -> 1e6
      (3L, "b", "x y z"))
      .toDF("doc_id", "source", "text")
    val got = TextOps.lexicalRichness(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a") == ((4L, 2L, 1L, 500000L)))
    assert(got("b") == ((3L, 3L, 0L, 1000000L)))
  }
  // ---- repetitionGates (the Gopher repetition filters, r13) ----

  private def gates(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, Long, Long, Boolean)] = {
    import spark.implicits._
    TextOps.repetitionGates(docs.toDF("doc_id", "text"), "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap
  }

  test("repetitionGates: top-2-gram share and repeated-3-gram coverage on hand fixtures") {
    val out = gates(Seq(
      // "a b" occurs 3 times out of 5 2-gram positions -> 600000;
      // "a b a" at 1 and 3 (overlapping) -> 3-gram [1,3] covers 1..5 of 6
      0L -> "a b a b a b",
      // no repeated 2- or 3-gram
      1L -> "one two three four five",
      // shorter than the 2-gram window: zero shares, never flagged
      2L -> "single"))
    // doc 0: n=6, 5 two-gram positions, "a b" at 1,3,5 -> c=3 -> 600000
    //   3-grams: aba(1) bab(2) aba(3) bab(4): both repeat -> cov=[1,2,3,4]
    //   covers tokens 1..6 -> dup3 = 6 -> 1000000, flagged
    assert(out(0L) == ((6L, 3L, 600000L, 6L, 1000000L, true)))
    assert(out(1L) == ((5L, 1L, 250000L, 0L, 0L, true)))
    assert(out(2L) == ((1L, 0L, 0L, 0L, 0L, false)))
  }

  test("repetitionGates: threshold boundary - share exactly at the pinned cut does not flag") {
    // top2_share exactly 200000 (1 of 5 positions = 200000) and zero
    // 3-gram coverage: strict > means NOT flagged
    val out = gates(Seq(0L -> "q w e r t y"))
    assert(out(0L)._3 == 200000L && !out(0L)._6)
  }
}
