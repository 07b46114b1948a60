package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.QualityModel

/** [[graft.operators.QualityModel]]: bit-exact weight parity against
  * an independent Scala replay of the quantized-GD update, separation
  * on the heuristic label, and the empty-doc edge. */
class QualityModelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private val stopEn = Set("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  private def tokens(s: String): Seq[String] =
    s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  /** (y, x1, x2, x3) replayed with the operator's exact op order. */
  private def feats(text: String, en: Boolean): (Double, Double, Double, Double) = {
    val t = tokens(text)
    val nt = t.size.toLong
    val x1 = if (nt == 0) 0.0 else t.count(stopEn).toDouble / nt.toDouble
    val x2 = if (nt == 0) 0.0 else t.distinct.size.toDouble / nt.toDouble
    val x3 = nt.toDouble / (nt + 100).toDouble
    (if (en) 1.0 else 0.0, x1, x2, x3)
  }

  private def halfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private def replayFit(rows: Seq[(Double, Double, Double, Double)], steps: Int): Array[Double] = {
    val w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to steps) {
      val gs = Array(0L, 0L, 0L, 0L)
      rows.foreach { case (y, x1, x2, x3) =>
        val e = (w(0) + x1 * w(1) + x2 * w(2) + x3 * w(3)) - y
        gs(0) += halfUp((1 * e) * 1000000)
        gs(1) += halfUp((x1 * e) * 1000000)
        gs(2) += halfUp((x2 * e) * 1000000)
        gs(3) += halfUp((x3 * e) * 1000000)
      }
      for (j <- 0 until 4) {
        val g = (gs(j).toDouble / 1000000) / rows.size.toDouble
        w(j) = w(j) - g / 2
      }
    }
    w
  }

  private val corpus: Seq[(Long, String, String)] = Seq(
    (0L, "the cat sat on the mat with a hat and a bat", "en"),
    (1L, "a story of the sea and the wind in the north for everyone", "en"),
    (2L, "to be or not to be is the question for the ages", "en"),
    (3L, "der hund lief durch den wald und über die wiese", "de"),
    (4L, "el gato come pescado en la cocina de la casa", "es"),
    (5L, "word word word word word word word word", "de"),
    (6L, "", "fr"),
    (7L, "unique tokens everywhere nothing repeats here today friend", "en"))

  private def df = {
    val s = spark; import s.implicits._
    corpus.toDF("doc_id", "text", "lang")
  }

  test("trained weights are bit-identical to the independent GD replay") {
    val got = QualityModel.fit(df, "text", "lang = 'en'", steps = 4)
    val want = replayFit(corpus.map(c => feats(c._2, c._3 == "en")), steps = 4)
    assert(got.toSeq === want.toSeq, s"weights diverged: ${got.toSeq} vs ${want.toSeq}")
    assert(got.exists(_ != 0.0), "training moved the weights")
  }

  test("trained scorer separates the labeled slice (higher mean score for y=1)") {
    val w = QualityModel.fit(df, "text", "lang = 'en'", steps = 4)
    val rows = QualityModel.score(df, "text", "lang = 'en'", w)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val (pos, neg) = rows.partition(_._1 == 1L)
    val meanPos = pos.map(_._2).sum.toDouble / pos.length
    val meanNeg = neg.map(_._2).sum.toDouble / neg.length
    assert(meanPos > meanNeg,
      s"trained model must rank labeled docs higher: $meanPos <= $meanNeg ($rows)")
  }

  test("scoring emits the weights micro-quantized; empty docs score the intercept") {
    val w = QualityModel.fit(df, "text", "lang = 'en'", steps = 4)
    val rows = QualityModel.score(df, "text", "lang = 'en'", w).collect()
    val r0 = rows.head
    assert((3 to 6).map(j => r0.getLong(j)) ===
      w.toSeq.map(x => halfUp(x * 1000000)))
    val empty = rows.find(_.getLong(0) == 6L).get
    assert(empty.getLong(2) === halfUp((w(0) + 0.0 * w(1) + 0.0 * w(2) + 0.0 * w(3)) * 1000000))
  }

  test("fit releases its feature checkpoint; rejects zero steps and empty corpora") {
    val base = spark.sparkContext.getPersistentRDDs.keySet
    QualityModel.fit(df, "text", "lang = 'en'", steps = 2): Unit
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- base
    assert(leaked.isEmpty, s"fit leaked feature blocks: $leaked")
    intercept[IllegalArgumentException](QualityModel.fit(df, "text", "lang = 'en'", 0))
    intercept[IllegalArgumentException](
      QualityModel.fit(df.filter("doc_id < 0"), "text", "lang = 'en'", 1))
  }
}
