package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dialogue

/** Role-aware multi-turn dedup/scrub: assistant-only fingerprints
  * (user-turn invariance, turn-order sensitivity, empty-assistant
  * seed), verbatim user-turn preservation through the scrub,
  * turn-bounded windows, NULL evalPred handling, and a differential
  * fuzz against an in-memory reference. */
class DialogueSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def turnsDf(rows: Seq[(Long, Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "role", "text")
  }

  // ------------------------------------------ dialogueExactDedup

  private def dedup(rows: Seq[(Long, Long, String, String)]): Map[Long, (Long, Long, Boolean)] =
    Dialogue.dialogueExactDedup(turnsDf(rows)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap

  test("identical assistant streams group despite entirely different user turns") {
    val rows = Seq(
      (0L, 1L, "user", "how do i sort a list"),
      (0L, 2L, "assistant", "use the built in sorted function"),
      (1L, 1L, "user", "completely different question text here"),
      (1L, 2L, "assistant", "use the built in sorted function"),
      (2L, 1L, "user", "how do i sort a list"),
      (2L, 2L, "assistant", "a totally different answer"))
    val out = dedup(rows)
    assert(out(0L) == ((2L, 0L, true)), s"canonical keeps lowest conv: ${out(0L)}")
    assert(out(1L) == ((2L, 0L, false)), "same assistant text = duplicate")
    assert(out(2L)._1 == 1L, "same USER text alone never groups")
  }

  test("fingerprint is turn-ORDER sensitive and segmentation sensitive") {
    val rows = Seq(
      (0L, 1L, "assistant", "alpha beta"), (0L, 2L, "assistant", "gamma"),
      (1L, 1L, "assistant", "gamma"), (1L, 2L, "assistant", "alpha beta"),
      (2L, 1L, "assistant", "alpha"), (2L, 2L, "assistant", "beta gamma"))
    val out = dedup(rows)
    assert(Set(out(0L)._1, out(1L)._1, out(2L)._1) == Set(1L),
      s"reordered or resegmented assistant turns are NOT duplicates: $out")
  }

  test("conversations with no assistant turns fingerprint together (empty seed)") {
    val rows = Seq(
      (0L, 1L, "user", "hello"),
      (1L, 1L, "user", "entirely different"),
      (2L, 1L, "assistant", "hi"))
    val out = dedup(rows)
    assert(out(0L) == ((2L, 0L, true)) && out(1L) == ((2L, 0L, false)),
      s"no-assistant convs group on the bare seed: $out")
    assert(out(2L)._1 == 1L)
  }

  test("fingerprint is the 60-bit two-track pack (in-memory recompute)") {
    val P = 1000000007L
    def ph(s: String, m: Long) = s.foldLeft(0L)((a, c) => (a * m + c.toLong) % P)
    def fold(xs: Seq[Long], m: Long, seed: Long) =
      xs.foldLeft(seed)((a, x) => (a * m + x) % P)
    def toks(x: String) = x.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    def refFp(asst: Seq[(Long, String)]): Long =
      if (asst.isEmpty) Dialogue.EmptyAssistantFp
      else {
        val srt = asst.sortBy(_._1).map(_._2)
        val fa = fold(srt.map(t => fold(toks(t).map(ph(_, 31L)), 1000003L, 7L)),
          1000003L, 7L)
        val fb = fold(srt.map(t => fold(toks(t).map(ph(_, 131L)), 999983L, 13L)),
          999983L, 13L)
        fa * 1073741824L + fb % 1073741824L
      }
    val rows = Seq(
      (0L, 1L, "user", "hello there"),
      (0L, 2L, "assistant", "use the built in sorted function"),
      (0L, 3L, "assistant", "and reverse with reverse true"),
      (1L, 1L, "assistant", "something else entirely"),
      (2L, 1L, "user", "no assistant here"))
    val out = Dialogue.dialogueExactDedup(turnsDf(rows)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byConv = rows.groupBy(_._1).map { case (c, rs) =>
      c -> rs.collect { case (_, ti, "assistant", x) => (ti, x) }.toSeq
    }
    for ((c, asst) <- byConv)
      assert(out(c) == refFp(asst), s"conv $c fingerprint")
    assert(out(2L) == Dialogue.EmptyAssistantFp)
    assert(out(0L) > 1073741824L && out(1L) > 1073741824L,
      "packed fingerprints use the high 30 bits")
  }

  test("a quoted assistantRole is rejected by every operator in the family") {
    val df = turnsDf(Seq((0L, 1L, "assistant", "x"), (1L, 1L, "user", "y")))
    intercept[IllegalArgumentException](
      Dialogue.dialogueExactDedup(df, "a'r"))
    intercept[IllegalArgumentException](
      Dialogue.dialogueContamination(df, 3, "conv_id % 2 = 1", "a'r"))
    intercept[IllegalArgumentException](
      Dialogue.dialogueScrub(df, 3, "conv_id % 2 = 1", "a'r"))
    intercept[IllegalArgumentException](
      Dialogue.sftTokenAccounting(df, "a'r"))
    intercept[IllegalArgumentException](
      Dialogue.dialogueMinhashPairs(df, 3, 16, 4, 0.5, "a'r"))
  }

  // ------------------------------------------ dialogueMinhashPairs

  test("near-dup pairs survive re-segmentation and ignore user turns") {
    val answer = "use the built in sorted function and pass reverse" +
      " true when you need descending order of the values"
    val (a, b) = answer.splitAt(answer.indexOf("pass"))
    val rows = Seq(
      // conv 0: one assistant turn; conv 1: SAME stream split in two
      // turns with entirely different user filler — invisible to the
      // signature, fatal to d35's segmentation-sensitive fingerprint
      (0L, 1L, "user", "how do i sort a list"),
      (0L, 2L, "assistant", answer),
      (1L, 1L, "user", "completely different filler text here"),
      (1L, 2L, "assistant", a.trim),
      (1L, 3L, "user", "more unrelated filler"),
      (1L, 4L, "assistant", b.trim),
      // conv 2: unrelated assistant stream
      (2L, 1L, "assistant", "a totally different answer about databases" +
        " and indexes and storage layout on disk"))
    val df = turnsDf(rows)
    val pairs = Dialogue.dialogueMinhashPairs(df, 3, 16, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)),
      s"resegmented identical stream pairs; unrelated does not: $pairs")
    val exact = Dialogue.dialogueExactDedup(df).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(exact(0L) == 1L && exact(1L) == 1L,
      "the exact fingerprint must NOT group the resegmented stream")
  }

  // ------------------------------------------------ dialogueScrub

  private def scrub(rows: Seq[(Long, Long, String, String)], k: Int,
      pred: String = "conv_id % 2 = 1"): Map[(Long, Long), (String, Long, Long, String)] =
    Dialogue.dialogueScrub(turnsDf(rows), k, pred).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap

  test("eval assistant spans are scrubbed from train assistant turns; user turns verbatim") {
    val rows = Seq(
      (0L, 1L, "user", "Tell me: what is The Answer?!"), // punctuation survives
      (0L, 2L, "assistant", "well alpha beta gamma indeed"),
      (1L, 1L, "user", "irrelevant"),
      (1L, 2L, "assistant", "alpha beta gamma"))          // eval (odd conv)
    val out = scrub(rows, 3)
    assert(!out.contains((1L, 1L)) && !out.contains((1L, 2L)),
      "eval conversations never appear in the output")
    assert(out((0L, 1L)) == (("user", 6L, 6L, "Tell me: what is The Answer?!")),
      s"user turn preserved VERBATIM (case + punctuation): ${out((0L, 1L))}")
    assert(out((0L, 2L)) == (("assistant", 5L, 2L, "well indeed")),
      s"eval span scrubbed from the assistant turn: ${out((0L, 2L))}")
  }

  test("user-turn text never contributes eval hashes") {
    val rows = Seq(
      (0L, 1L, "assistant", "alpha beta gamma"),
      (1L, 1L, "user", "alpha beta gamma")) // eval conv, but USER text
    val out = scrub(rows, 3)
    assert(out((0L, 1L)) == (("assistant", 3L, 3L, "alpha beta gamma")),
      s"eval USER text must not scrub train: ${out((0L, 1L))}")
  }

  test("windows never cross turn boundaries") {
    // eval assistant has "alpha beta gamma"; the train conv holds
    // "alpha beta" | "gamma" split across two turns — no 3-token
    // window exists in either train turn, so nothing is scrubbed
    val rows = Seq(
      (0L, 1L, "assistant", "alpha beta"),
      (0L, 2L, "assistant", "gamma delta epsilon"),
      (1L, 1L, "assistant", "alpha beta gamma"))
    val out = scrub(rows, 3)
    assert(out((0L, 1L))._4 == "alpha beta" &&
      out((0L, 2L))._4 == "gamma delta epsilon",
      s"a span interrupted by a turn boundary is not contiguous: $out")
  }

  test("NULL evalPred counts as train (scrubbed, never dropped)") {
    import spark.implicits._
    val df = Seq(
      (0L, 1L, "assistant", "alpha beta gamma tail", Some(false)),
      (1L, 1L, "assistant", "alpha beta gamma", Some(true)),
      (2L, 1L, "assistant", "pre alpha beta gamma", None))
      .toDF("conv_id", "turn_idx", "role", "text", "flag")
    val out = Dialogue.dialogueScrub(df, 3, "flag").collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getString(5)))).toMap
    assert(out.keySet == Set(0L, 2L), s"NULL-flag conv survives as train: ${out.keySet}")
    assert(out(2L) == ((1L, "pre")), s"NULL-flag conv is scrubbed like train: ${out(2L)}")
  }

  // ---------------------------------------- dialogueContamination

  test("audit/action reconciliation: the audit's span mass is what the scrub removes") {
    val rows = Seq(
      (0L, 1L, "user", "tell me things"),
      (0L, 2L, "assistant", "well alpha beta gamma indeed here"),
      (1L, 1L, "user", "alpha beta gamma"),   // eval conv, USER text
      (1L, 2L, "assistant", "alpha beta gamma"))
    val audit = Dialogue.dialogueContamination(turnsDf(rows), 3, "conv_id % 2 = 1")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // the audit direction is eval-side reporting: eval conv 1's
    // assistant text occurs in TRAIN conv 0's assistant turn, so
    // conv 1 reports 3 contaminated of its 3 assistant tokens (its
    // user turn is ignored in the denominator and the hash set)
    assert(audit.keySet == Set(1L), s"one row per eval conv: $audit")
    assert(audit(1L) == ((3L, 1L, 3L, 1000000L)), s"audit: ${audit(1L)}")
    // and the scrub removes exactly that overlap from the TRAIN side
    val scrubbed = scrub(rows, 3)
    assert(scrubbed((0L, 2L)) == (("assistant", 6L, 3L, "well indeed here")),
      s"scrub action mirrors the audited span: ${scrubbed((0L, 2L))}")
  }

  test("audit: user text contributes on NEITHER side; clean eval convs zero-fill") {
    val rows = Seq(
      (0L, 1L, "user", "alpha beta gamma"),       // train USER text
      (0L, 2L, "assistant", "something else"),
      (1L, 1L, "assistant", "alpha beta gamma"),  // eval: matches only train USER text
      (3L, 1L, "assistant", "totally clean"))     // eval: no overlap at all
    val audit = Dialogue.dialogueContamination(turnsDf(rows), 3, "conv_id % 2 = 1")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(audit(1L) == ((3L, 0L, 0L, 0L)),
      s"train USER text is not trainable leakage: ${audit(1L)}")
    assert(audit(3L) == ((2L, 0L, 0L, 0L)), s"clean zero-fill: ${audit(3L)}")
  }

  test("audit: NULL evalPred counts as train (its windows ARE train presence)") {
    import spark.implicits._
    val df = Seq(
      (0L, 1L, "assistant", "alpha beta gamma", Some(true)),  // eval
      (2L, 1L, "assistant", "alpha beta gamma", None))        // unknown → train
      .toDF("conv_id", "turn_idx", "role", "text", "flag")
    val audit = Dialogue.dialogueContamination(df, 3, "flag")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(audit == Map(0L -> 3L),
      s"the NULL-flag conv's windows must contaminate the eval conv: $audit")
  }

  test("p62 composition invariant: contamination over scrubbed-train ∪ eval reads zero") {
    import org.apache.spark.sql.functions.{col, expr}
    val rows = Seq(
      // eval conv 1: assistant text whose span also lives in train
      (1L, 1L, "user", "please quote the famous passage"),
      (1L, 2L, "assistant", "the quick brown fox jumps over the lazy dog today"),
      // train conv 2: contains the eval span (plus a prefix/suffix)
      (2L, 1L, "user", "tell me something"),
      (2L, 2L, "assistant", "well the quick brown fox jumps over the lazy dog today indeed"),
      // train conv 4: exact duplicate assistant stream of conv 2
      (4L, 1L, "user", "a different prompt entirely"),
      (4L, 2L, "assistant", "well the quick brown fox jumps over the lazy dog today indeed"),
      // train conv 6: clean
      (6L, 1L, "assistant", "completely unrelated clean answer text"))
    val pred = "conv_id % 2 = 1"
    val df = turnsDf(rows)
    val train = df.filter(expr(s"NOT ($pred)"))
    val evalT = df.filter(expr(pred))
    val canon = Dialogue.dialogueExactDedup(train)
      .filter(col("is_canonical")).select("conv_id")
    val kept = train.join(canon, Seq("conv_id"))
    assert(kept.select("conv_id").distinct().collect().map(_.getLong(0)).toSet
      == Set(2L, 6L), "dedup drops the duplicate train conversation")
    val scrubbed = Dialogue.dialogueScrub(kept.unionByName(evalT), 5, pred)
    val c2 = scrubbed.filter(col("conv_id") === 2L && col("turn_idx") === 2L)
      .collect().head
    assert(c2.getLong(3) == 12L && c2.getLong(4) == 2L,
      s"scrub acted on the contaminated train turn: $c2")
    val recombined = scrubbed
      .selectExpr("conv_id", "turn_idx", "role", "text_out AS text")
      .unionByName(evalT)
    val audit = Dialogue.dialogueContamination(recombined, 5, pred)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(audit.nonEmpty && audit.values.forall(_ == 0L),
      s"post-scrub contamination must read zero everywhere: $audit")
  }

  test("differential fuzz vs an in-memory reference") {
    val rnd = new scala.util.Random(0xD1A)
    val vocab = Vector("a", "b", "c", "d", "e")
    val K = 3
    for (trial <- 0 until 5) {
      val rows = for {
        conv <- 0L until 16L
        turn <- 1L to (1 + rnd.nextInt(4)).toLong
      } yield (conv, turn, if (rnd.nextBoolean()) "assistant" else "user",
        Seq.fill(1 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      // reference: eval = odd convs; collect K-gram TEXT of eval
      // assistant turns; scrub train assistant turns, user verbatim
      val toks = rows.map { case (c, t, r, x) =>
        (c, t, r, x, x.split(" ").filter(_.nonEmpty).toSeq)
      }
      def grams(t: Seq[String]) =
        (0 to t.length - K).map(i => t.slice(i, i + K).mkString(" "))
      val evalG = toks.collect {
        case (c, _, "assistant", _, t) if c % 2 == 1 => grams(t)
      }.flatten.toSet
      val expect = toks.collect { case (c, ti, r, x, t) if c % 2 == 0 =>
        if (r != "assistant") (c, ti) -> ((r, t.length.toLong, t.length.toLong, x))
        else {
          val cov = (0 to t.length - K).filter(i => evalG(grams(t)(i)))
            .flatMap(i => i until i + K).toSet
          val kept = t.indices.filterNot(cov).map(t)
          (c, ti) -> ((r, t.length.toLong, kept.length.toLong, kept.mkString(" ")))
        }
      }.toMap
      assert(scrub(rows, K) == expect, s"trial $trial")
    }
  }
}
