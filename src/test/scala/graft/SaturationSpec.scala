package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Storage}

/** Saturation observability for capped candidate generation
  * (VERDICT r13 #2): when the df/occurrence caps prune candidates,
  * the operator must SAY so — via the
  * [[Dedup.SaturationMetricPrefix]] observe metrics on the lazy plan
  * builders (and a WARN log on the eager wrappers), plus the
  * registered d33 audit query — instead of returning an empty frame
  * indistinguishable from "no duplicates".
  */
class SaturationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def satMetrics(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.queryExecution.observedMetrics.toSeq.collect {
      case (name, row) if name.startsWith(Dedup.SaturationMetricPrefix) =>
        (row.getAs[Long]("pruned_groups"), row.getAs[Long]("total_groups"))
    }

  /** n docs all sharing one hot 3-shingle, each with a private tail —
    * at cap < n the hot shingle is pruned and NO pair survives (the
    * tails are disjoint). */
  private def saturatedDocs(n: Int) = {
    import spark.implicits._
    (1 to n).map(i =>
        (i.toLong, s"hot hot hot t${i}a t${i}b t${i}c t${i}d"))
      .toDF("doc_id", "text")
  }

  test("PINNED CAVEAT: AQE empty propagation prunes the observe node exactly when the plan collapses to empty") {
    // this is WHY the eager wrappers probe explicitly instead of
    // trusting the observe: when the cap prunes EVERY candidate, the
    // downstream joins go empty, AQE replaces the whole subtree with
    // EmptyRelation, and the CollectMetrics node vanishes from the
    // final plan - observedMetrics is silent in the one case the
    // signal exists for. If a Spark upgrade starts preserving the
    // node, this test fails and the probe can become observe-only.
    val docs = saturatedDocs(8)
    val sets = Dedup.shingleHashSets(docs, "text", 3)
    val out = Dedup.ngramJaccardPairsFrom(sets, 0.1, maxDocFreq = 4)
    assert(out.collect().isEmpty,
      "every candidate rides the pruned hot shingle - recall collapses")
    assert(satMetrics(out).isEmpty,
      "documented AQE behavior: the metric is pruned with the subtree")
    // the RELIABLE channel on the same corpus: the explicit probe core
    val audit = Dedup.dfSaturationAuditFrom(sets, 4).collect().head
    assert(audit.getLong(1) == 1L && audit.getLong(4) == 28L,
      s"the probe must see the pruned hot shingle: $audit")
  }

  test("capped jaccard on a diverse corpus: metric present, zero pruned") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val sets = Dedup.shingleHashSets(docs, "text", 3)
    val out = Dedup.ngramJaccardPairsFrom(sets, 0.5, maxDocFreq = 64)
    assert(out.collect().nonEmpty)
    val ms = satMetrics(out)
    assert(ms.nonEmpty && ms.head._1 == 0L,
      s"nothing over the cap on the diverse corpus: $ms")
  }

  test("exactSubstrPairSpans occurrence cap: pruned cross-doc hashes are counted") {
    import spark.implicits._
    // one 2-token window repeated across 5 docs (> maxOcc 4, cross-doc
    // -> pruned); a second window shared by exactly 2 docs (kept)
    val docs = Seq(
      (1L, "alpha beta alpha beta x1 shared pair y1"),
      (2L, "alpha beta x2 shared pair y2"),
      (3L, "alpha beta x3"), (4L, "alpha beta x4"), (5L, "alpha beta x5"))
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstrPairSpans(docs, "text", 2, maxOcc = 4)
    val rows = out.collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)),
      "only the under-cap 'shared pair' window may generate a pair")
    val ms = satMetrics(out)
    assert(ms.nonEmpty && ms.head._1 >= 1L,
      s"the over-cap cross-doc window must be counted as pruned: $ms")
  }

  test("d33 dfSaturationAudit: exact counts on a hand-checked corpus") {
    val out = Dedup.dfSaturationAudit(saturatedDocs(8), "text", 3, 4)
      .collect().head
    // per doc: tokens = [hot hot hot tXa tXb tXc tXd] -> 5 distinct
    // 3-shingles; 'hot hot hot' is shared by all 8 docs, the other 4
    // are private -> 1 + 8*4 = 33 distinct hashes, 1 over the cap
    assert(out.getLong(0) == 33L, s"n_shingles: $out")
    assert(out.getLong(1) == 1L, s"n_pruned: $out")
    assert(out.getLong(2) == 8L, s"max_df: $out")
    assert(out.getLong(3) == 8L, s"pruned_occurrences: $out")
    assert(out.getLong(4) == 28L, s"pruned_pairs C(8,2): $out")
    assert(out.getLong(5) == 1000000L / 33L,
      s"saturated_micro floor(1e6/33): $out")
  }

  test("d33 on an empty corpus: zero row, no division error") {
    import spark.implicits._
    val out = Dedup.dfSaturationAudit(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", 3, 64)
      .collect().head
    assert((0 to 5).map(out.getLong) == Seq(0L, 0L, 0L, 0L, 0L, 0L))
  }

  test("d34 bandSkewAudit: exact counts on a hand-banded frame") {
    import spark.implicits._
    // band 0: buckets {1:3 docs, 2:1}; band 1: buckets {1:2, 3:2}
    val bands = Seq(
      (10L, 0L, 1L), (11L, 0L, 1L), (12L, 0L, 1L), (13L, 0L, 2L),
      (10L, 1L, 1L), (11L, 1L, 1L), (12L, 1L, 3L), (13L, 1L, 3L))
      .toDF("doc_id", "band", "bucket")
      .select(org.apache.spark.sql.functions.col("band"),
        org.apache.spark.sql.functions.col("bucket"))
    val out = Dedup.bandSkewAuditFrom(bands).collect().head
    assert(out.getLong(0) == 4L, s"n_buckets: $out")
    assert(out.getLong(1) == 3L, s"max_bucket: $out")
    // band 0: C(3,2)+C(1,2) = 3; band 1: C(2,2)+C(2,2) = 2 -> 5 total
    assert(out.getLong(2) == 5L, s"cand_pairs: $out")
    assert(out.getLong(3) == 3L, s"hot_bucket_pairs C(3,2): $out")
    assert(out.getLong(4) == 0L, s"top_band (3 > 2 pairs): $out")
    assert(out.getLong(5) == 3L, s"top_band_pairs: $out")
    assert(out.getLong(6) == 3L * 1000000L / 5L, s"skew_micro: $out")
  }

  test("d34 top_band tie elects the LOWEST band") {
    import spark.implicits._
    val bands = Seq((1L, 2L, 7L), (2L, 2L, 7L), (3L, 5L, 9L), (4L, 5L, 9L))
      .toDF("doc_id", "band", "bucket").select("band", "bucket")
    val out = Dedup.bandSkewAuditFrom(bands).collect().head
    assert(out.getLong(4) == 2L && out.getLong(5) == 1L,
      s"equal pair mass (1 vs 1) must elect band 2, not 5: $out")
  }

  test("d34 on a funnel corpus: one mega-bucket owns the join and skew_micro says so") {
    // every doc identical -> identical simhash -> all 4 bands funnel
    // all docs into one bucket each; the hottest bucket owns 1/4 of
    // the candidate mass exactly
    import spark.implicits._
    val docs = (1 to 32).map(i => (i.toLong, "same text every time"))
      .toDF("doc_id", "text")
    val out = Dedup.simhashBandSkewAudit(docs, "text").collect().head
    assert(out.getLong(0) == 4L, s"4 occupied buckets (one per band): $out")
    assert(out.getLong(1) == 32L, s"max_bucket = all docs: $out")
    assert(out.getLong(2) == 4L * (32L * 31L / 2L), s"cand_pairs: $out")
    assert(out.getLong(6) == 250000L, s"skew_micro = 1/4: $out")
    // the diverse contrast: saturatedDocs' private tails spread
    // simhashes, so no bucket dominates
    val diverse = Dedup.simhashBandSkewAudit(saturatedDocs(32), "text")
      .collect().head
    assert(diverse.getLong(1) < 32L && diverse.getLong(2) < out.getLong(2),
      s"diverse corpus must not funnel: $diverse")
  }

  test("d34 on an empty corpus: zero row, no division error") {
    import spark.implicits._
    val out = Dedup.simhashBandSkewAudit(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "text")
      .collect().head
    assert((0 to 6).map(out.getLong) == Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L))
  }

  test("eager wrapper pairing: empty capped result + audit names the cause") {
    val docs = saturatedDocs(8)
    // the EAGER wrapper (withCached -> checkpointed) drains the metric
    // into a WARN log; its caller-facing contract here is the PAIRING:
    // d02's machinery returns nothing while d33's audit explains why
    val pairs = Dedup.ngramJaccardPairs(docs, "text", 3, 0.1, maxDocFreq = 4)
    try assert(pairs.collect().isEmpty)
    finally Storage.release(pairs)
    val audit = Dedup.dfSaturationAudit(docs, "text", 3, 4).collect().head
    assert(audit.getLong(1) == 1L && audit.getLong(4) == 28L,
      s"the audit must name the pruned candidate mass: $audit")
  }
}
