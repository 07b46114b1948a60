package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.LanguageModel

/** Bigram-LM fluency: in-memory replay of the hashed add-one model
  * and the exact micro arithmetic, fluent-vs-gibberish ordering,
  * degenerate docs, and plan shape. */
class LanguageModelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private val P = 1000000007L

  private def run(corpus: Seq[(Long, String)], buckets: Int) = {
    import spark.implicits._
    LanguageModel.bigramSurprisal(corpus.toDF("doc_id", "text"), "text", buckets)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
  }

  /** In-memory twin: same tokenizer, polynomial hash, add-one
    * smoothing, IEEE division, HALF_UP micro rounding, integer
    * sums/floors. */
  private def reference(corpus: Seq[(Long, String)], buckets: Int) = {
    def toks(s: String) = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    def hash(s: String) = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
    val grams = corpus.flatMap { case (id, t) =>
      toks(t).sliding(2).filter(_.size == 2).map(p => (id, p.head, p.mkString(" ")))
    }
    val withB = grams.map { case (id, w1, s) =>
      (id, hash(w1) % buckets, hash(s) % buckets)
    }
    val cc = withB.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cb = withB.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    corpus.map { case (id, _) =>
      val mine = withB.filter(_._1 == id)
      val n = mine.size.toLong
      val sum = mine.map { case (_, c, b) =>
        BigDecimal((cc(c) + buckets).toDouble / (cb(b) + 1).toDouble * 1000000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      id -> ((n, sum, if (n == 0) 0L else sum / n))
    }.toMap
  }

  private val corpus = Seq(
    1L -> "the cat sat on the mat",
    2L -> "the cat sat on the rug",
    3L -> "the dog sat on the mat",
    4L -> "zyx qwv plk mjn bgt", // gibberish: every transition unique
    5L -> "one", //  single token: no bigrams
    6L -> "") //    empty: no tokens

  test("replay matches the in-memory twin (several bucket counts)") {
    for (b <- Seq(7, 64, 4096)) {
      assert(run(corpus, b) === reference(corpus, b), s"buckets=$b")
    }
  }

  test("gibberish scores strictly higher mean inverse probability than fluent text") {
    val scores = run(corpus, 4096)
    val fluent = Seq(1L, 2L, 3L).map(scores(_)._3).max
    assert(scores(4L)._3 > fluent,
      s"unique transitions must out-surprise repeated ones: ${scores.toSeq.sortBy(_._1)}")
  }

  test("degenerate docs: <2 tokens yields zero bigrams and zero score") {
    val scores = run(corpus, 64)
    assert(scores(5L) === ((0L, 0L, 0L)))
    assert(scores(6L) === ((0L, 0L, 0L)))
  }

  test("model artifact: same-corpus scoring matches the self-contained path; held-out slices score under corpus-wide counts") {
    import spark.implicits._
    val baseRdds = spark.sparkContext.getPersistentRDDs.keySet
    val model = LanguageModel.fitBigramModel(corpus.toDF("doc_id", "text"), "text", 64)
    // consumer 1: whole corpus — must equal bigramSurprisal exactly
    val whole = LanguageModel.bigramSurprisalWith(
        model, corpus.toDF("doc_id", "text"), "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // consumer 2: a held-out slice — counts stay CORPUS-wide, so the
    // scores must match the whole-corpus run restricted to the slice
    // (a refit on the slice would differ: doc 1's transitions also
    // appear in docs 2/3)
    val slice = corpus.filter(_._1 <= 2L)
    val held = LanguageModel.bigramSurprisalWith(
        model, slice.toDF("doc_id", "text"), "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    model.release()
    assert(whole === reference(corpus, 64))
    assert(held === whole.view.filterKeys(_ <= 2L).toMap)
    assert(held !== reference(slice, 64),
      "held-out scoring must use the fitted corpus counts, not a slice refit")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseRdds
    assert(leaked.isEmpty, s"model release leaked: $leaked")
  }

  test("collocations: hand-computed lift, deterministic cut, empty survivor set") {
    import spark.implicits._
    // corpus "a b" / "a b" / "a c": bigrams (a,b):2 (a,c):1; tokens
    // T = 6, counts a:3 b:2 c:1. minCount 2 keeps only (a,b):
    // lift = 2 * 6 * 1e6 // (3 * 2) = 2_000_000
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val got = LanguageModel.pmiCollocations(corpus, "text", minCount = 2L, topK = 10)
    val rows = got.collect()
    graft.operators.Storage.release(got)
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq ==
      Seq(("a", "b", 2L, 3L, 2L, 2000000L)))
    // a minCount above every bigram count yields an empty result, not
    // a crash in the overflow require (null max aggregate path)
    val empty = LanguageModel.pmiCollocations(corpus, "text", minCount = 99L, topK = 10)
    assert(empty.collect().isEmpty)
    graft.operators.Storage.release(empty)
    intercept[IllegalArgumentException](
      LanguageModel.pmiCollocations(corpus, "text", minCount = 0L, topK = 10))
    intercept[IllegalArgumentException](
      LanguageModel.pmiCollocations(corpus, "text", minCount = 1L, topK = 0))
  }

  test("collocations: storage hygiene (bigram checkpoint released, result caller-owned)") {
    import spark.implicits._
    val corpus = Seq((1L, "a b a b a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val baseRdds = spark.sparkContext.getPersistentRDDs.keySet
    val out = LanguageModel.pmiCollocations(corpus, "text", minCount = 1L, topK = 5)
    assert(out.count() > 0)
    graft.operators.Storage.release(out)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseRdds
    assert(leaked.isEmpty, s"pmiCollocations leaked: $leaked")
  }

  test("guards and plan shape: count tables broadcast, no cartesian") {
    import spark.implicits._
    intercept[IllegalArgumentException](
      LanguageModel.bigramSurprisal(corpus.toDF("doc_id", "text"), "text", 0))
    val plan = LanguageModel.bigramSurprisal(corpus.toDF("doc_id", "text"), "text", 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the O(B) count tables must broadcast:\n$plan")
  }

  private def ccnet(rows: Seq[(Long, String, String)], buckets: Int = 4096) = {
    import spark.implicits._
    LanguageModel.ccnetBuckets(
      rows.toDF("doc_id", "text", "lang"), "text", "lang", buckets)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(6),
        r.getLong(2), if (r.isNullAt(4)) None else Some(r.getLong(4)))))
      .toMap
  }

  test("ccnet buckets: tertile assignment head<middle<tail, unscored isolation") {
    // lang xx, disjoint token sets so per-doc scores are analyzable:
    // doc 0 repeats one bigram heavily (most fluent), doc 1 medium,
    // doc 2 all-distinct bigrams (least fluent), doc 3 has 1 token
    // (no bigrams -> unscored, NOT counted in the tertile n)
    val out = ccnet(Seq(
      (0L, ("a b " * 10).trim, "xx"),
      (1L, "c d c d", "xx"),
      (2L, "e f g h", "xx"),
      (3L, "z", "xx")))
    assert(out(0L)._1 == "head")
    assert(out(1L)._1 == "middle")
    assert(out(2L)._1 == "tail")
    assert(out(3L) == (("unscored", 0L, None)))
  }

  test("ccnet buckets: value-based assignment keeps tie groups together") {
    // two byte-identical lowest-score docs: cut1 AND cut2 land on
    // their shared value (ranks 1 and 2 of n=3), so BOTH go head and
    // middle is empty -- a tie group never straddles a boundary
    val out = ccnet(Seq(
      (0L, "m n m n m n", "yy"),
      (1L, "m n m n m n", "yy"),
      (2L, "p q r s", "yy")))
    assert(out(0L)._1 == "head" && out(1L)._1 == "head")
    assert(out(2L)._1 == "tail")
  }

  test("ccnet buckets: plan shape — count tables + cuts broadcast, no cartesian, no per-lang flat window") {
    import spark.implicits._
    val rows = Seq((0L, "a b c d e", "xx"), (1L, "f g h i", "yy"))
    // audit the LAZY builder chain: the public API returns a
    // checkpointed frame whose lineage is truncated (the q88
    // builder-audit convention)
    val df = rows.toDF("doc_id", "text", "lang")
    val grams = LanguageModel.gramsPlanLang(df, "text", "lang", 64)
    val plan = LanguageModel.assignPlanLang(df, "lang",
      LanguageModel.scoredPlanLang(grams, LanguageModel.countsPlanLang(grams), 64))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"count tables / cuts must broadcast:\n$plan")
    // the per-VALUE ranking window must carry the (lang, range-bucket)
    // composite PARTITION key, never partition on lang alone (the q88
    // single-task-per-group trap). windowspecdefinition prints
    // partition keys first, then order keys: the ranking window is
    // "(lang#_, rb#_, c#_ ASC..." (partitioned lang+rb, ordered by c)
    // while the legitimate lang-only offs window is "(lang#_, rb#_
    // ASC..." (ordered by rb, bounded ~65 rows/lang). Asserting on
    // the partition-key PORTION means an rb ORDER key can no longer
    // mask a lang-only partition of a per-value window.
    val winSpecs = plan.split("\n").filter(_.contains("windowspecdefinition"))
    val rankingWin = """windowspecdefinition\(lang#\d+L?, rb#\d+L?, c#\d+L?""".r
    val langOnlyPerValue = """windowspecdefinition\(lang#\d+L?, c#\d+L?""".r
    assert(winSpecs.exists(l => rankingWin.findFirstIn(l).isDefined),
      s"per-value ranking window must partition on (lang, rb):\n${winSpecs.mkString("\n")}")
    assert(winSpecs.forall(l => langOnlyPerValue.findFirstIn(l).isEmpty),
      s"no per-value window may partition on lang alone:\n${winSpecs.mkString("\n")}")
  }

  test("ccnet buckets: differential fuzz vs an in-memory reference (tertiles, ties, unscored)") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xCC13)
    val langs = Seq("aa", "bb", "cc")
    val vocab = "abcdefgh".map(_.toString)
    for (trial <- 1 to 5) {
      // tiny vocab + buckets=16 force hash collisions and tie groups;
      // len 0/1 docs exercise the unscored path
      val docs = (0L until 40L).map { id =>
        val lang = langs(rnd.nextInt(langs.size))
        val text = Seq.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        (id, text, lang)
      }
      val out = LanguageModel.ccnetBuckets(
          docs.toDF("doc_id", "text", "lang"), "text", "lang", 16)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
          r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5)), r.getString(6)))).toMap
      assert(out === ccnetRef(docs, 16), s"trial $trial")
    }
  }

  /** in-memory twin of [[LanguageModel.ccnetBuckets]]: per-language
    * counts, HALF_UP micro inverse probabilities, integer mean,
    * rank-⌈n/3⌉/⌈2n/3⌉ type-1 cuts, value-based assignment. */
  private def ccnetRef(docs: Seq[(Long, String, String)], buckets: Int)
      : Map[Long, (String, Long, Long, Option[Long], Option[Long], String)] = {
    def toks(s: String) = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    def hash(s: String) = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
    val grams = docs.flatMap { case (id, t, lang) =>
      toks(t).sliding(2).filter(_.size == 2)
        .map(p => (id, lang, hash(p.head) % buckets, hash(p.mkString(" ")) % buckets))
    }
    val cc = grams.groupBy(g => (g._2, g._3)).view.mapValues(_.size.toLong).toMap
    val cb = grams.groupBy(g => (g._2, g._4)).view.mapValues(_.size.toLong).toMap
    val scored = docs.flatMap { case (id, t, lang) =>
      val mine = grams.filter(_._1 == id)
      if (mine.isEmpty) None else {
        val s = mine.map { case (_, l, c, b) =>
          BigDecimal((cc((l, c)) + buckets).toDouble / (cb((l, b)) + 1).toDouble * 1000000)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }.sum
        Some((id, lang, mine.size.toLong, s / mine.size))
      }
    }
    val cuts = scored.groupBy(_._2).view.mapValues { ds =>
      val means = ds.map(_._4).sorted
      val n = means.size.toLong
      (means(((n + 2) / 3 - 1).toInt), means(((2 * n + 2) / 3 - 1).toInt))
    }.toMap
    docs.map { case (id, _, lang) =>
      scored.find(_._1 == id) match {
        case None => id -> ((lang, 0L, 0L, None, None, "unscored"))
        case Some((_, _, n, m)) =>
          val (c1, c2) = cuts(lang)
          val bucket = if (m <= c1) "head" else if (m <= c2) "middle" else "tail"
          id -> ((lang, n, m, Some(c1), Some(c2), bucket))
      }
    }.toMap
  }

  test("ccnet buckets: models are fit PER LANGUAGE (lang B corpus never shifts lang A scores)") {
    val alone = ccnet(Seq(
      (0L, ("a b " * 10).trim, "xx"),
      (1L, "c d c d", "xx"),
      (2L, "e f g h", "xx")))
    // add a second language REUSING the same token universe: if the
    // count tables were global, xx's scores (and cuts) would shift
    val mixed = ccnet(Seq(
      (0L, ("a b " * 10).trim, "xx"),
      (1L, "c d c d", "xx"),
      (2L, "e f g h", "xx"),
      (10L, "a b c d", "zz"),
      (11L, "a b a b a b a b", "zz"),
      (12L, "e f e f", "zz")))
    Seq(0L, 1L, 2L).foreach { id =>
      assert(mixed(id) == alone(id), s"doc $id shifted under lang zz")
    }
  }
}
