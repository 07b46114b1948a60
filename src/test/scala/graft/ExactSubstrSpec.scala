package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, TextOps}

/** Cross-document exact-substring span semantics (VERDICT r11 #2 —
  * the Lee et al. 2021 ExactSubstr face): mid-document spans the
  * prefix-fingerprint tier provably misses, maximal-span merging,
  * the cross-document-only universe, and a brute-force differential
  * fuzz against an in-memory reference. */
class ExactSubstrSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def df(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  private def spans(docs: Seq[(Long, String)], k: Int): Map[Long, Seq[(Long, Long, Long)]] =
    Dedup.exactSubstrSpans(df(docs), "text", k).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap

  /** In-memory reference: same tokenizer, shingle-TEXT identity (no
    * hash), min-2-distinct-docs seeds, gap-≤k island merge. */
  private def refSpans(docs: Seq[(Long, String)], k: Int): Map[Long, Seq[(Long, Long, Long)]] = {
    def toks(s: String) =
      s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val windows = docs.flatMap { case (id, t) =>
      val ts = toks(t)
      if (ts.length < k) Seq.empty
      else ts.sliding(k).zipWithIndex
        .map { case (w, i) => (w.mkString(" "), id, i + 1L) }.toSeq
    }
    val holders = windows.groupBy(_._1).map { case (s, ws) =>
      s -> ws.map(_._2).distinct.size
    }
    windows.filter { case (s, _, _) => holders(s) >= 2 }
      .groupBy(_._2).map { case (id, ws) =>
        val ps = ws.map(_._3).sorted
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var start = ps.head; var last = ps.head; var nw = 1L
        for (p <- ps.tail) {
          if (p - last <= k) { last = p; nw += 1 }
          else { out += ((start, last + k - 1 - start + 1, nw)); start = p; last = p; nw = 1 }
        }
        out += ((start, last + k - 1 - start + 1, nw))
        id -> out.toSeq
      }
  }

  test("mid-document shared span is found; the 40-token-prefix tier provably misses it") {
    val shared = "lorem ipsum shared boiler plate passage here"
    val docs = Seq(
      1L -> s"alpha one two three $shared tail1 tail2",
      2L -> s"beta gamma delta epsilon zeta $shared omega")
    val got = spans(docs, 3)
    // doc 1: shared tokens occupy positions 5..11 (7 tokens)
    assert(got(1L) == Seq((5L, 7L, 5L)), s"doc1: ${got.get(1L)}")
    // doc 2: positions 6..12
    assert(got(2L) == Seq((6L, 7L, 5L)), s"doc2: ${got.get(2L)}")
    // the d27/d28 prefix tier: 40-token-prefix hashes are all distinct
    // on this fixture, so it flags NOTHING — the gap this operator closes
    val prefixDups = df(docs)
      .selectExpr(s"${TextOps.tokens("text")} AS t")
      .selectExpr(s"${TextOps.strHash60("concat_ws(' ', slice(t, 1, 40))")} AS fp")
      .groupBy("fp").count().filter("count > 1").count()
    assert(prefixDups == 0L, "prefix fingerprints must NOT see the mid-doc span")
  }

  test("within-doc-only repeats are not spans (cross-document universe)") {
    val rep = "same four words again"
    val docs = Seq(
      1L -> s"$rep filler filler2 $rep",
      2L -> "completely different content with no overlap at all")
    assert(spans(docs, 4).isEmpty)
  }

  test("gap > k splits spans; gap <= k merges them; exact-k span at both edges") {
    // two shared 3-windows far apart in doc 1 -> two spans
    val docs = Seq(
      1L -> "s1 s2 s3 f1 f2 f3 f4 f5 f6 f7 f8 t1 t2 t3",
      2L -> "s1 s2 s3 x1 x2 x3 x4 x5 x6 x7 x8 t1 t2 t3")
    val got = spans(docs, 3)
    assert(got(1L) == Seq((1L, 3L, 1L), (12L, 3L, 1L)))
    assert(got(2L) == Seq((1L, 3L, 1L), (12L, 3L, 1L)))
  }

  test("overlapping seed windows merge into one maximal span (length > k)") {
    val docs = Seq(
      1L -> "p1 c1 c2 c3 c4 c5 q1 q2",
      2L -> "r1 r2 c1 c2 c3 c4 c5 u1")
    val got = spans(docs, 3)
    // 5 shared tokens, k=3 -> 3 seed windows each side, one merged span
    assert(got(1L) == Seq((2L, 5L, 3L)))
    assert(got(2L) == Seq((3L, 5L, 3L)))
  }

  test("stats rollup sums disjoint spans") {
    val docs = Seq(
      1L -> "s1 s2 s3 f1 f2 f3 f4 f5 f6 f7 f8 t1 t2 t3 t4",
      2L -> "s1 s2 s3 y1 y2 y3 y4 y5 y6 y7 y8 t1 t2 t3 t4")
    val got = Dedup.exactSubstrStats(df(docs), "text", 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 7L, 4L))) // spans of 3 and 4 tokens
    assert(got(2L) == ((2L, 7L, 4L)))
  }

  test("pair spans: partner attribution, per-diagonal merge, df-cap prunes hot shingles") {
    val shared = "c1 c2 c3 c4 c5"
    val docs = Seq(
      1L -> s"a1 a2 $shared a3",
      2L -> s"b1 $shared b2 b3",
      3L -> s"z1 z2 z3 $shared")
    // k=3: 5 shared tokens -> 3 seed windows per doc, one aligned span
    // of 5 tokens per pair (each pair has its own diagonal)
    val got = Dedup.exactSubstrPairSpans(df(docs), "text", 3, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    got.values.foreach(v => assert(v == ((1L, 5L, 5L)), s"got $v"))
    // the cap: each shared window occurs 3 times; maxOcc = 2 drops all
    val capped = Dedup.exactSubstrPairSpans(df(docs), "text", 3, 2).count()
    assert(capped == 0L, "hashes above the occurrence cap generate no pairs")
  }

  test("pair spans: differential fuzz vs in-memory reference") {
    val rnd = new scala.util.Random(0xD31)
    for (trial <- 1 to 3) {
      val k = 2 + rnd.nextInt(2)
      val vocab = (1 to 20).map(i => s"w$i")
      val base = (1L to 8L).map { id =>
        id -> Seq.fill(12 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val docs = base.map { case (id, t) =>
        if (rnd.nextInt(2) == 0 && id > 1) {
          val (_, srcT) = base((id - 2).toInt)
          val st = srcT.split(" ")
          val from = rnd.nextInt(math.max(1, st.length - k - 1))
          val slice = st.slice(from, from + k + rnd.nextInt(3))
          val tt = t.split(" ")
          val at = rnd.nextInt(tt.length)
          id -> (tt.take(at) ++ slice ++ tt.drop(at)).mkString(" ")
        } else id -> t
      }
      val cap = 16
      val got = Dedup.exactSubstrPairSpans(df(docs), "text", k, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      // in-memory reference: same cap, same per-diagonal merge
      def toks(s: String) = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      val windows = docs.flatMap { case (id, t) =>
        val ts = toks(t)
        if (ts.length < k) Seq.empty
        else ts.sliding(k).zipWithIndex.map { case (w, i) => (w.mkString(" "), id, i + 1L) }.toSeq
      }
      val byS = windows.groupBy(_._1)
      val live = byS.filter { case (_, ws) =>
        ws.size <= cap && ws.map(_._2).distinct.size >= 2 }
      val pairRows = for {
        (s1, d1, p1) <- live.values.flatten.toSeq
        (s2, d2, p2) <- byS(s1) if live.contains(s2) && s1 == s2 && d1 < d2
      } yield ((d1, d2, p1 - p2), p1)
      val ref = pairRows.groupBy(_._1).toSeq
        .flatMap { case ((d1, d2, diag), ps) =>
          val sorted = ps.map(_._2).distinct.sorted
          val spans = scala.collection.mutable.ArrayBuffer.empty[Long]
          var start = sorted.head; var last = sorted.head
          for (p <- sorted.tail) {
            if (p - last <= k) last = p
            else { spans += (last - start + k); start = p; last = p }
          }
          spans += (last - start + k)
          spans.map(sp => (d1, d2) -> sp)
        }
        .groupBy(_._1).view.mapValues { sps =>
          val v = sps.map(_._2)
          (v.size.toLong, v.max, v.sum)
        }.toMap
      assert(got == ref, s"trial $trial k=$k:\ngot $got\nref $ref")
    }
  }

  test("span contamination: only train-side presence contaminates; clean eval docs zero-fill") {
    val leaked = "t1 t2 t3 t4 t5"
    val docs = Seq(
      // eval docs (pred: doc_id % 2 = 0)
      2L -> s"e1 e2 $leaked e3",      // contaminated from train doc 1
      4L -> "shared eval only span here padding words",
      6L -> "shared eval only span here other padding",  // 4<->6 overlap is eval-eval
      // train docs
      1L -> s"a1 $leaked a2 a3",
      3L -> "unrelated train content entirely")
    val got = Dedup.spanContamination(df(docs), "text", 3, "doc_id % 2 = 0")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == Set(2L, 4L, 6L), "every eval doc reports")
    // doc 2: 5 leaked tokens of 8 -> 625000 micro
    assert(got(2L) == ((8L, 1L, 5L, 625000L)), s"got ${got(2L)}")
    // eval<->eval overlap must NOT count as contamination
    assert(got(4L) == ((7L, 0L, 0L, 0L)))
    assert(got(6L) == ((7L, 0L, 0L, 0L)))
  }

  test("differential fuzz vs in-memory reference (planted cross-copy spans)") {
    val rnd = new scala.util.Random(0xE5A7)
    for (trial <- 1 to 5) {
      val k = 2 + rnd.nextInt(3) // 2..4
      val vocab = (1 to 25).map(i => s"w$i")
      val base = (1L to 12L).map { id =>
        id -> Seq.fill(15 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      // plant verbatim cross-copies: splice a random slice of one doc
      // into another at a random offset
      val docs = base.map { case (id, t) =>
        if (rnd.nextInt(3) == 0) {
          val (srcId, srcT) = base(rnd.nextInt(base.size))
          if (srcId == id) id -> t
          else {
            val st = srcT.split(" ")
            val from = rnd.nextInt(math.max(1, st.length - k - 2))
            val slice = st.slice(from, from + k + rnd.nextInt(4))
            val tt = t.split(" ")
            val at = rnd.nextInt(tt.length)
            id -> (tt.take(at) ++ slice ++ tt.drop(at)).mkString(" ")
          }
        } else id -> t
      }
      val got = spans(docs, k)
      val ref = refSpans(docs, k)
      assert(got == ref, s"trial $trial k=$k:\ngot $got\nref $ref")
    }
  }
  test("idCol parameter: a renamed id column yields identical spans, stats, pairs, contamination (ADVICE r12)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta middle shared span one two three"),
      (2L, "totally different head words here shared span one two three and a different tail"),
      (3L, "no overlap with anything else at all in this third document"))
    val renamed = df(docs).withColumnRenamed("doc_id", "my_id")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    assert(rows(Dedup.exactSubstrSpans(df(docs), "text", 4)) ==
      rows(Dedup.exactSubstrSpans(renamed, "text", 4, idCol = "my_id")))
    assert(rows(Dedup.exactSubstrStats(df(docs), "text", 4)) ==
      rows(Dedup.exactSubstrStats(renamed, "text", 4, idCol = "my_id")))
    assert(rows(Dedup.exactSubstrPairSpans(df(docs), "text", 4, 16)) ==
      rows(Dedup.exactSubstrPairSpans(renamed, "text", 4, 16, idCol = "my_id")))
    assert(rows(Dedup.spanContamination(df(docs), "text", 4, "doc_id % 2 = 0")) ==
      rows(Dedup.spanContamination(renamed, "text", 4, "my_id % 2 = 0", idCol = "my_id")))
  }
}

