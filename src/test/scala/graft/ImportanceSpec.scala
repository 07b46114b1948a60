package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Importance, Storage}

/** [[graft.operators.Importance]] (DSIR-style selection): exact-value
  * parity against an independent Scala replay of the published
  * formula, boundary-tie semantics of the k-th-value threshold, and
  * the empty/short-doc edges. */
class ImportanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private val P = 1000000007L

  // --- independent replay of the operator's arithmetic (ASCII input,
  // so char == code point) ---
  private def polyhash(s: String): Long =
    s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
  private def tokens(s: String): Seq[String] =
    s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
  private def grams(s: String, n: Int): Seq[String] = {
    val t = tokens(s)
    if (t.size < n) Seq.empty else t.sliding(n).map(_.mkString(" ")).toSeq
  }
  private def halfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private def expected(corpus: Seq[(Long, String)], target: Seq[(Long, String)],
      n: Int, b: Int): Map[Long, (Long, Long)] = {
    def bks(s: String): Seq[Long] = grams(s, n).map(g => polyhash(g) % b)
    val raws = corpus.flatMap { case (_, s) => bks(s) }
    val tgts = target.flatMap { case (_, s) => bks(s) }
    val cr = raws.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val ct = tgts.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val (nr, nt) = (raws.size.toLong, tgts.size.toLong)
    def lamMicro(bk: Long): Long = {
      val pt = (ct.getOrElse(bk, 0L) + 1).toDouble / (nt + b).toDouble
      val pr = (cr(bk) + 1).toDouble / (nr + b).toDouble
      val r = pt / pr
      halfUp(((2 * (r - 1)) / (r + 1)) * 1000000)
    }
    corpus.map { case (id, s) =>
      val bs = bks(s)
      (id, (bs.size.toLong, bs.map(lamMicro).sum))
    }.toMap
  }

  private val corpus: Seq[(Long, String)] = Seq(
    (0L, "spark shuffles data across the cluster"),
    (1L, "spark shuffles data across executors nightly"),
    (2L, "cats chase mice around old barns"),
    (3L, "dogs chase cats around old barns"),
    (4L, "spark cluster data shuffles"),
    (5L, "x"), // single token: zero bigrams
    (6L, ""), // empty doc
    (7L, "mice eat cheese in old barns"))
  // target distribution: the "spark" docs
  private val target: Seq[(Long, String)] = corpus.filter(_._1 <= 1) ++
    Seq((4L, "spark cluster data shuffles"))

  private def df(rows: Seq[(Long, String)]) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("scores match the independent Scala replay exactly") {
    val got = Importance.dsirWeights(df(corpus), df(target), "text", 2, 64)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected(corpus, target, 2, 64))
  }

  test("target-dense docs score positive, off-target docs negative, short docs zero") {
    val got = Importance.dsirWeights(df(corpus), df(target), "text", 2, 64)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got(0L)._2 > 0 && got(1L)._2 > 0 && got(4L)._2 > 0,
      s"target-style docs must score positive: $got")
    assert(got(2L)._2 < 0 && got(7L)._2 < 0,
      s"off-target docs must score negative: $got")
    assert(got(5L) === ((0L, 0L)) && got(6L) === ((0L, 0L)),
      "docs with < n tokens carry zero grams and zero score")
  }

  test("thresholdTopK returns the k-th largest value (ties collapse to one value)") {
    val s = spark; import s.implicits._
    val scored = Seq((0L, 30L), (1L, 20L), (2L, 20L), (3L, 10L), (4L, 5L))
      .toDF("doc_id", "score_micro")
    assert(Importance.thresholdTopK(scored, 1) === 30L)
    assert(Importance.thresholdTopK(scored, 2) === 20L)
    assert(Importance.thresholdTopK(scored, 3) === 20L) // tie at the boundary
    assert(Importance.thresholdTopK(scored, 4) === 10L)
    assert(Importance.thresholdTopK(scored, 5) === 5L)
    intercept[IllegalArgumentException](Importance.thresholdTopK(scored, 0))
    intercept[IllegalArgumentException](Importance.thresholdTopK(scored, 6))
  }

  test("dsirSelect keeps ceil(num/den * N) docs, boundary ties all kept") {
    val out = Importance.dsirSelect(df(corpus), df(target), "text", 2, 64, 1, 4)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    val k = (corpus.size * 1 + 3) / 4 // ceil(8/4) = 2
    val kept = rows.filter(_._3)
    assert(kept.length >= k, s"must keep at least $k docs: ${rows.mkString(",")}")
    val minKept = kept.map(_._2).min
    assert(rows.filter(!_._3).forall(_._2 < minKept),
      "every dropped doc scores strictly below every kept doc")
    assert(rows.count(_._2 > minKept) < k,
      "threshold is the k-th VALUE: fewer than k docs score strictly above it")
    Storage.release(out)
  }

  test("dsirSelect leaves no CacheManager entries; release returns storage to baseline") {
    val base = spark.sparkContext.getPersistentRDDs.keySet
    val out = Importance.dsirSelect(df(corpus), df(target), "text", 2, 64, 1, 2)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(out.count() === corpus.size.toLong)
    Storage.release(out)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- base
    assert(leaked.isEmpty, s"leaked: $leaked")
  }
}
