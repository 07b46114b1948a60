package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Parity + guard specs for the native coarse-quantization
  * expressions now on the hot path ([[graft.functions.CentroidRanks]]
  * behind assignCentroids/ivfTopK, [[graft.functions.PqEncode]]
  * behind productQuantize): the expression results are fuzz-checked
  * against the closure semantics they replaced
  * ([[Similarity.nearestCentroid]]'s strict `c > bestCos` argmax),
  * including the NaN/zero-norm degenerate cases ADVICE r7 flagged,
  * and every analysis/eval-time guard throws instead of silently
  * truncating. */
class CentroidExprsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def nrm(v: Array[Double]): Double = {
    var a = 0.0; var i = 0
    while (i < v.length) { a += v(i) * v(i); i += 1 }
    a
  }

  /** deterministic pseudo-random corpus incl. a zero vector. */
  private def fuzzVectors(n: Int, d: Int, seed: Int): Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val v =
        if (i == n - 1) Array.fill(d)(0.0) // zero-norm degenerate
        else Array.fill(d)(rnd.nextInt(2001) / 1000.0 - 1.0)
      (i.toLong, v)
    }
  }

  private def toPrepared(vs: Seq[(Long, Array[Double])]) = {
    import spark.implicits._
    vs.map { case (id, v) => (id, v.toSeq, nrm(v)) }.toDF("vec_id", "v", "nrm")
  }

  test("assignment parity fuzz vs the closure argmax (zero-norm vector included)") {
    val vs = fuzzVectors(60, 16, seed = 13)
    val cb = vs.take(5).map { case (id, v) => (id * 7, v, nrm(v)) }.toArray // sparse ids
    val got = Similarity.assignTo(toPrepared(vs), cb)
      .select("vec_id", "centroid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    vs.foreach { case (id, v) =>
      val want = Similarity.nearestCentroid(v, nrm(v), cb)
      assert(got(id) == want, s"vec $id: expression ${got(id)} != closure $want")
    }
    // the zero-norm vector's cosines are all NaN -> closure -1, and
    // the expression's empty ranking coalesces to the same -1
    assert(got(59L) == -1L)
  }

  test("a zero-norm CENTROID is never assigned or probed (NaN cosine skipped)") {
    val vs = fuzzVectors(30, 8, seed = 29).filter(_._2.exists(_ != 0.0))
    val zeroCent = (100L, Array.fill(8)(0.0), 0.0)
    val cb = (vs.take(3).map { case (id, v) => (id, v, nrm(v)) } :+ zeroCent).toArray
    val out = Similarity.assignTo(toPrepared(vs), cb)
      .select("vec_id", "centroid").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) != 100L, s"vec ${r.getLong(0)} assigned the zero-norm centroid")
      val want = Similarity.nearestCentroid(
        vs.find(_._1 == r.getLong(0)).get._2,
        nrm(vs.find(_._1 == r.getLong(0)).get._2), cb)
      assert(r.getLong(1) == want)
    }
  }

  test("rank prefix parity: slice(ranks, 1, nprobe) is the closure's (cos DESC, cid) probe list") {
    val vs = fuzzVectors(20, 8, seed = 7).filter(_._2.exists(_ != 0.0))
    val cb = vs.take(6).map { case (id, v) => (id, v, nrm(v)) }.toArray
    val cents = typedLit(cb.map(_._2.toSeq).toSeq)
    val cnorms = typedLit(cb.map(_._3).toSeq)
    val ranks = toPrepared(vs)
      .withColumn("rk", call_function("graft_centroid_ranks", col("v"), cents, cnorms))
      .select("vec_id", "rk").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def cos(v: Array[Double], nv: Double, w: Array[Double], nw: Double) = {
      var dot = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * w(i); i += 1 }
      dot / (math.sqrt(nv) * math.sqrt(nw))
    }
    vs.foreach { case (id, v) =>
      val want = cb.indices
        .map(p => (p, cos(v, nrm(v), cb(p)._2, cb(p)._3)))
        .sortBy { case (p, c) => (-c, p) }.map(_._1.toLong)
      assert(ranks(id) == want, s"vec $id rank order diverged")
    }
  }

  test("PqEncode parity: position codes map to ids; recon_cos matches a JVM replay") {
    val vs = fuzzVectors(25, 16, seed = 41)
    import spark.implicits._
    val emb = vs.map { case (id, v) => (id, v.map(_.toFloat).toSeq, "x") }
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.productQuantize(emb, m = 4, kCodes = 8)
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getDouble(2)))).toMap
    // JVM replay of the argmin coding over the same float-widened data
    val dvs = vs.map { case (id, v) => (id, v.map(x => x.toFloat.toDouble)) }
    val cb = dvs.take(8).map(_._2)
    dvs.foreach { case (id, v) =>
      val d = v.length / 4
      val codes = (0 until 4).map { j =>
        cb.indices.minBy { c =>
          val dist = (0 until d).map { i =>
            val df = v(j * d + i) - cb(c)(j * d + i); df * df
          }.sum
          (dist, c)
        }.toLong
      }
      assert(out(id)._1 == codes, s"vec $id codes diverged")
      val vr = codes.toArray.zipWithIndex.flatMap { case (c, j) =>
        cb(c.toInt).slice(j * d, (j + 1) * d)
      }
      val (dot, nv2, nr) = v.zip(vr).foldLeft((0.0, 0.0, 0.0)) {
        case ((a, b, c2), (x, y)) => (a + x * y, b + x * x, c2 + y * y)
      }
      val want = if (nv2 == 0.0 || nr == 0.0) 0.0 else dot / (math.sqrt(nv2) * math.sqrt(nr))
      assert(math.abs(out(id)._2 - want) < 1e-12, s"vec $id recon_cos diverged")
    }
  }

  private def rootMessages(t: Throwable): String = {
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
  }

  test("guards: empty codebook, non-positive m, and dimension mismatches all throw") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("vec_id", "v")
    def run(sql: String): Unit =
      df.selectExpr(sql).collect(): Unit
    val emptyCb = intercept[Throwable](run("graft_pq(v, array(), 2)"))
    // an empty array() literal is ARRAY<VOID> — either the type check or
    // the non-empty guard must reject it with a clear message
    assert(rootMessages(emptyCb).contains("graft_pq"))
    val emptyCb2 = intercept[Throwable](
      run("graft_pq(v, cast(array() as array<array<double>>), 2)"))
    assert(rootMessages(emptyCb2).contains("non-empty"))
    val badM = intercept[Throwable](run("graft_pq(v, array(array(1d,2d,3d,4d)), 0)"))
    assert(rootMessages(badM).contains("positive"))
    val dimPq = intercept[Throwable](run("graft_pq(v, array(array(1d,2d)), 2)"))
    assert(rootMessages(dimPq).contains("dim"))
    val raggedCb = intercept[Throwable](
      run("graft_pq(v, array(array(1d,2d,3d,4d), array(1d)), 2)"))
    assert(rootMessages(raggedCb).contains("dimension"))
    val dimRanks = intercept[Throwable](
      run("graft_centroid_ranks(v, array(array(1d,2d)), array(5d))"))
    assert(rootMessages(dimRanks).contains("dim"))
    val normLen = intercept[Throwable](
      run("graft_centroid_ranks(v, array(array(1d,2d,3d,4d)), array(5d, 6d))"))
    assert(rootMessages(normLen).contains("norms"))
  }
}
