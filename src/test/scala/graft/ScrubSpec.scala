package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Exact repeated-passage removal: first-occurrence retention,
  * overlapping-window coverage union, within-doc repeats, short-doc
  * passthrough, and a differential fuzz against an in-memory
  * reference implementation. */
class ScrubSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private val N = 3 // small window so fixtures stay readable

  private def scrub(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    import spark.implicits._
    Dedup.scrubRepeatedPassages(docs.toDF("doc_id", "text"), "text", N)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
  }

  /** In-memory reference: rank every n-gram occurrence by (doc, pos),
    * remove token spans of every occurrence ranked >= 2. */
  private def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    }
    val occ = for {
      (id, t) <- toks
      i <- 0 to t.length - N
    } yield (t.slice(i, i + N).mkString(" "), id, i)
    val removed = occ.groupBy(_._1).values.flatMap { os =>
      os.sortBy(o => (o._2, o._3)).drop(1)
    }.toSeq
    val covByDoc = removed.groupBy(_._2).view
      .mapValues(_.flatMap(o => o._3 until o._3 + N).toSet).toMap
    toks.map { case (id, t) =>
      val cov = covByDoc.getOrElse(id, Set.empty)
      val kept = t.indices.filterNot(cov).map(t)
      id -> ((t.length.toLong, kept.length.toLong, kept.mkString(" ")))
    }.toMap
  }

  test("first occurrence is kept, later copies scrubbed") {
    val docs = Seq(
      0L -> "alpha beta gamma delta",
      1L -> "zzz alpha beta gamma yyy")
    val out = scrub(docs)
    assert(out(0L) == ((4L, 4L, "alpha beta gamma delta")))
    assert(out(1L) == ((5L, 2L, "zzz yyy")))
  }

  test("within-doc repeat scrubs the second copy only") {
    val out = scrub(Seq(0L -> "a b c x y a b c"))
    assert(out(0L) == ((8L, 5L, "a b c x y")))
  }

  test("overlapping repeated windows union their covered spans") {
    // "a b c d" repeated: windows (a b c) and (b c d) both rank 2 in
    // doc 1 — the union covers all four tokens exactly once
    val out = scrub(Seq(0L -> "a b c d", 1L -> "q a b c d r"))
    assert(out(1L) == ((6L, 2L, "q r")))
  }

  test("docs shorter than the window pass through untouched") {
    val out = scrub(Seq(0L -> "one two", 1L -> "one two"))
    assert(out(0L) == ((2L, 2L, "one two")))
    assert(out(1L) == ((2L, 2L, "one two")))
  }

  test("differential fuzz vs the in-memory reference") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (0L until 40L).map { id =>
      id -> Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    assert(scrub(docs) == reference(docs))
  }

  test("graft_scrub_keep parity vs the exists() form it replaced (random cov/n/len)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val cases = (0 until 200).map { i =>
      val len = rnd.nextInt(40)
      val n = 1 + rnd.nextInt(5)
      val nCov = rnd.nextInt(10)
      val cov = Seq.fill(nCov)(1L + rnd.nextInt(math.max(1, len + 2))).sorted
      (i.toLong, cov, n, len)
    }
    val df = cases.toDF("id", "cov", "n", "len")
    val out = df.selectExpr("id",
        "graft_scrub_keep(cov, n, len) AS fast",
        // the pre-round-8 O(len*|cov|) form — retained here as the
        // executable semantic oracle
        "if(len = 0, cast(array() as array<int>), " +
          "filter(sequence(1, len), j -> NOT exists(cov, i -> i <= j AND i > j - n))) AS slow")
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"case ${r.getLong(0)}: fast ${r.getSeq[Int](1)} != slow ${r.getSeq[Int](2)}")
    }
  }

  test("graft_scrub_keep rejects unsorted cov (the two-pointer contract)") {
    import spark.implicits._
    val e = intercept[Throwable] {
      Seq((1L, Seq(5L, 2L))).toDF("id", "cov")
        .selectExpr("graft_scrub_keep(cov, 3, 10)").collect()
    }
    val msgs = Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
      .takeWhile(_ != null).map(m => String.valueOf(m.getMessage)).mkString(" | ")
    assert(msgs.contains("sorted ascending"), s"unexpected failure: $msgs")

    // the out-of-order witness parked BEHIND an entry > len: a
    // consumed-elements-only check never reaches it (the merge never
    // advances past 1000000) and silently returns the wrong kept-set —
    // the guard must validate the whole array
    val e2 = intercept[Throwable] {
      Seq((1L, Seq(1000000L, 3L))).toDF("id", "cov")
        .selectExpr("graft_scrub_keep(cov, 2, 10)").collect()
    }
    val msgs2 = Iterator.iterate(e2.asInstanceOf[Throwable])(_.getCause)
      .takeWhile(_ != null).map(m => String.valueOf(m.getMessage)).mkString(" | ")
    assert(msgs2.contains("sorted ascending"), s"unexpected failure: $msgs2")
  }

  test("pathological long doc (100k tokens, ~90% repeated) scrubs in linear time") {
    // one hot 10-token phrase repeated 9000 times + 10k unique tokens:
    // cov has ~90k entries over a 100k-token doc — the shape that made
    // the exists() form O(len*|cov|) ~ 9e9 lambda steps. The linear
    // two-pointer expression finishes in seconds.
    val phrase = (0 until 10).map(i => s"p$i").mkString(" ")
    val text = ((0 until 10000).map(i => s"u$i") ++ Seq.fill(9000)(phrase))
      .mkString(" ")
    val t0 = System.nanoTime()
    val out = scrub(Seq(0L -> text))(0L)
    val secs = (System.nanoTime() - t0) / 1e9
    // 100_000 tokens in; the first phrase occurrence survives, every
    // later repeat (and the windows straddling repeats) is scrubbed
    assert(out._1 == 100000L)
    // survivors: the 10k unique prefix + the phrase's first copy (all
    // later copies are fully covered by rank>=2 windows)
    assert(out._2 == 10010L, s"kept ${out._2} tokens")
    assert(secs < 90, f"scrub took $secs%.1f s — quadratic path suspected")
  }

  test("scrub result is partition-count independent") {
    import spark.implicits._
    val docs = Seq(0L -> "a b c d e", 1L -> "x a b c y", 2L -> "z b c d w")
    val one = Dedup.scrubRepeatedPassages(
      docs.toDF("doc_id", "text").repartition(1), "text", N).collect().toSet
    val many = Dedup.scrubRepeatedPassages(
      docs.toDF("doc_id", "text").repartition(7), "text", N).collect().toSet
    assert(one == many)
  }
  // ---- exactSubstrScrub (the cross-document removal face, r13) ----

  private def xScrub(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    import spark.implicits._
    Dedup.exactSubstrScrub(docs.toDF("doc_id", "text"), "text", N)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
  }

  /** In-memory reference for the cross-document scrub: shingle-TEXT
    * identity (no hash), windows held by >= 2 distinct docs, one
    * canonical (lowest (doc, pos)) occurrence kept corpus-wide, all
    * other occurrences' token spans removed. */
  private def xReference(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    }
    val occ = for {
      (id, t) <- toks
      i <- 0 to t.length - N
    } yield (t.slice(i, i + N).mkString(" "), id, i)
    val crossDoc = occ.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
    val removed = occ.filter(o => crossDoc(o._1)).groupBy(_._1).values.flatMap { os =>
      os.sortBy(o => (o._2, o._3)).drop(1)
    }.toSeq
    val covByDoc = removed.groupBy(_._2).view
      .mapValues(_.flatMap(o => o._3 until o._3 + N).toSet).toMap
    toks.map { case (id, t) =>
      val cov = covByDoc.getOrElse(id, Set.empty)
      val kept = t.indices.filterNot(cov).map(t)
      id -> ((t.length.toLong, kept.length.toLong, kept.mkString(" ")))
    }.toMap
  }

  test("exactSubstrScrub: canonical copy survives, every other holder is scrubbed") {
    val docs = Seq(
      0L -> "alpha beta gamma delta",
      1L -> "zzz alpha beta gamma yyy",
      2L -> "qqq alpha beta gamma")
    val out = xScrub(docs)
    assert(out(0L) == ((4L, 4L, "alpha beta gamma delta")))
    assert(out(1L) == ((5L, 2L, "zzz yyy")))
    assert(out(2L) == ((4L, 1L, "qqq")))
  }

  test("exactSubstrScrub: within-doc-ONLY repeats are untouched (the universe difference vs scrubRepeatedPassages)") {
    val docs = Seq(
      0L -> "a b c x y a b c",       // repeat is within doc 0 only
      1L -> "totally unrelated words here")
    val out = xScrub(docs)
    assert(out(0L) == ((8L, 8L, "a b c x y a b c")))
    // ...while the within-corpus scrub removes the second copy
    assert(scrub(docs)(0L) == ((8L, 5L, "a b c x y")))
  }

  test("exactSubstrScrub: later occurrences inside the canonical doc are scrubbed too (one copy corpus-wide)") {
    // "a b c" is cross-doc duplicated; doc 0 holds it twice - only the
    // FIRST copy is canonical, the second is scrubbed like doc 1's
    val out = xScrub(Seq(0L -> "a b c x a b c", 1L -> "y a b c z"))
    assert(out(0L) == ((7L, 4L, "a b c x")))
    assert(out(1L) == ((5L, 2L, "y z")))
  }

  test("exactSubstrScrub: differential fuzz vs the in-memory reference") {
    val rnd = new scala.util.Random(41)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (trial <- 0 until 6) {
      val docs = (0L until 30L).map { id =>
        id -> Seq.fill(2 + rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      assert(xScrub(docs) == xReference(docs), s"trial $trial")
    }
  }

  test("exactSubstrScrub result is partition-count independent") {
    import spark.implicits._
    val docs = Seq(0L -> "a b c d e", 1L -> "x a b c y", 2L -> "z b c d w")
    val one = Dedup.exactSubstrScrub(
      docs.toDF("doc_id", "text").repartition(1), "text", N).collect().toSet
    val many = Dedup.exactSubstrScrub(
      docs.toDF("doc_id", "text").repartition(7), "text", N).collect().toSet
    assert(one == many)
  }

  // ------------------------------------------- decontaminationScrub

  /** eval = odd doc ids (spec-local convention). */
  private def dScrub(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    import spark.implicits._
    Dedup.decontaminationScrub(docs.toDF("doc_id", "text"), "text", N,
        "doc_id % 2 = 1")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
  }

  /** In-memory reference: remove from every TRAIN doc the token span
    * of every N-gram whose text occurs in ANY eval doc. */
  private def dReference(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    }
    def grams(t: Seq[String]) =
      (0 to t.length - N).map(i => t.slice(i, i + N).mkString(" "))
    val evalGrams = toks.collect { case (id, t) if id % 2 == 1 => grams(t) }
      .flatten.toSet
    toks.collect { case (id, t) if id % 2 == 0 =>
      val cov = (0 to t.length - N)
        .filter(i => evalGrams(t.slice(i, i + N).mkString(" ")))
        .flatMap(i => i until i + N).toSet
      val kept = t.indices.filterNot(cov).map(t)
      id -> ((t.length.toLong, kept.length.toLong, kept.mkString(" ")))
    }.toMap
  }

  test("decontaminationScrub: eval-overlapping spans leave train; eval docs are not rewritten; train-train overlap survives") {
    val docs = Seq(
      0L -> "intro alpha beta gamma outro",   // train: holds eval text
      1L -> "alpha beta gamma",                // eval (odd id)
      2L -> "shared shared shared tail one",   // train: overlaps doc 4
      4L -> "shared shared shared tail two")   // train: overlaps doc 2
    val out = dScrub(docs)
    assert(out.keySet == Set(0L, 2L, 4L), "eval docs never appear in the output")
    assert(out(0L) == ((5L, 2L, "intro outro")),
      s"the eval span is scrubbed from train: ${out(0L)}")
    assert(out(2L) == ((5L, 5L, "shared shared shared tail one")) &&
      out(4L) == ((5L, 5L, "shared shared shared tail two")),
      "train-to-train overlap is NOT contamination and survives")
  }

  test("decontaminationScrub composes with spanContamination: the audit reads zero after the scrub") {
    import spark.implicits._
    val docs = Seq(
      (0L, "one two alpha beta gamma delta tail"),
      (2L, "alpha beta gamma delta epsilon filler words"),
      (1L, "alpha beta gamma delta"),
      (3L, "epsilon filler words and more"))
    val df = docs.toDF("doc_id", "text")
    // before: eval windows DO appear in train (p46 direction: eval
    // docs report the train-side presence of their windows)
    val before = Dedup.spanContamination(df, "text", N, "doc_id % 2 = 1")
      .agg(org.apache.spark.sql.functions.sum("contaminated_tokens")).head.getLong(0)
    assert(before > 0L, s"fixture must start contaminated: $before")
    // after: rebuild the corpus as (scrubbed train) UNION (eval as-is)
    val scrubbed = Dedup.decontaminationScrub(df, "text", N, "doc_id % 2 = 1")
      .selectExpr("doc_id", "text_scrubbed AS text")
      .unionByName(df.filter("doc_id % 2 = 1").select("doc_id", "text"))
    val after = Dedup.spanContamination(scrubbed, "text", N, "doc_id % 2 = 1")
      .agg(org.apache.spark.sql.functions.sum("contaminated_tokens")).head.getLong(0)
    assert(after == 0L, s"no eval window may survive in train: $after")
  }

  test("decontaminationScrub: differential fuzz vs the in-memory reference") {
    val rnd = new scala.util.Random(0xD14)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (trial <- 0 until 6) {
      val docs = (0L until 30L).map { id =>
        id -> Seq.fill(2 + rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      assert(dScrub(docs) == dReference(docs), s"trial $trial")
    }
  }

  test("p54 composition invariant: scrub -> exact-substr scrub -> gates leaves ZERO span contamination vs eval") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum => fsum}
    // eval = odd ids; doc 0 holds eval text (p52's job), docs 2 and 4
    // share a cross-doc duplicated run (d32's job), doc 6 is a
    // repetition-heavy doc the gates must drop
    val docs = Seq(
      (0L, "intro alpha beta gamma outro words one two three four"),
      (1L, "alpha beta gamma"),                            // eval
      // tails long and distinct enough that the post-scrub remainder
      // of the NON-canonical copy still clears the top-2-gram gate
      (2L, "shared run of tokens here qq ww ee rr tt yy uu"),
      (4L, "shared run of tokens here aa ss dd ff gg hh jj"),
      (6L, "spam spam spam spam spam spam spam spam spam spam"))
      .toDF("doc_id", "text")
    val sc1 = Dedup.decontaminationScrub(docs, "text", N, "doc_id % 2 = 1")
      .selectExpr("doc_id", "text_scrubbed AS text")
    val sc2 = Dedup.exactSubstrScrub(sc1, "text", N)
      .selectExpr("doc_id", "text_scrubbed AS text")
    val kept = graft.operators.TextOps.repetitionGates(sc2, "text")
      .filter(!col("flagged")).select(col("doc_id"))
      .join(sc2, Seq("doc_id"))
    assert(kept.filter(col("doc_id") === 6L).isEmpty,
      "the repetition gate must drop the spam doc")
    // THE invariant: the curated output united with the untouched
    // eval set audits clean at the same window width
    val audited = kept.unionByName(docs.filter("doc_id % 2 = 1"))
    val after = Dedup.spanContamination(audited, "text", N, "doc_id % 2 = 1")
      .agg(fsum("contaminated_tokens")).head.getLong(0)
    assert(after == 0L, s"composed chain must audit clean: $after")
    // and the chain acted at every stage: doc 0 lost the eval span,
    // the 2/4 duplicate run survives in exactly one copy
    val texts = kept.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!texts(0L).contains("alpha beta gamma"), s"stage 1 acted: $texts")
    assert(texts(2L).contains("shared run of tokens here") &&
      !texts(4L).contains("shared run of tokens here"),
      s"stage 2 keeps exactly the (doc_id, pos)-minimal copy: $texts")
  }

  test("decontaminationScrub: NULL evalPred counts as train (scrubbed, never dropped)") {
    import spark.implicits._
    // doc 2's split flag is NULL: under three-valued logic it would
    // fail BOTH is_eval and NOT is_eval and vanish (r14 ADVICE —
    // silent train-data loss); the coalesce pins it to TRAIN, so it
    // is present in the output AND scrubbed against the eval set.
    val docs = Seq(
      (0L, "intro alpha beta gamma outro", Some(false)), // train
      (1L, "alpha beta gamma", Some(true)),              // eval
      (2L, "pre alpha beta gamma post", None))           // unknown → train
      .toDF("doc_id", "text", "flag")
    val out = Dedup.decontaminationScrub(docs, "text", N, "flag")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out.keySet == Set(0L, 2L), s"NULL-flag doc must survive as train: ${out.keySet}")
    assert(out(2L) == ((5L, 2L, "pre post")),
      s"NULL-flag doc is scrubbed like any train doc: ${out(2L)}")
  }

  test("spanContamination: NULL evalPred counts as train (windows ARE train presence)") {
    import spark.implicits._
    // the audit-side direction of the NULL rule: an unknown-provenance
    // doc must not vanish from the train hash set (that would
    // UNDER-report contamination); its windows count as train presence
    val docs = Seq(
      (1L, "alpha beta gamma", Some(true)),  // eval
      (2L, "alpha beta gamma", None))        // unknown → train
      .toDF("doc_id", "text", "flag")
    val audit = Dedup.spanContamination(docs, "text", N, "flag")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(audit == Map(1L -> 3L),
      s"NULL-flag doc's windows must contaminate the eval doc: $audit")
  }

  test("decontaminationScrub result is partition-count independent") {
    import spark.implicits._
    val docs = Seq(0L -> "a b c d e", 1L -> "a b c", 2L -> "z b c d w",
      3L -> "b c d", 4L -> "q a b c r")
    val one = Dedup.decontaminationScrub(
      docs.toDF("doc_id", "text").repartition(1), "text", N, "doc_id % 2 = 1")
      .collect().toSet
    val many = Dedup.decontaminationScrub(
      docs.toDF("doc_id", "text").repartition(7), "text", N, "doc_id % 2 = 1")
      .collect().toSet
    assert(one == many)
  }
}
