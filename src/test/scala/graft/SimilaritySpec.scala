package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Similarity, Storage}

/** Similarity-operator invariants not expressible as DuckDB oracles:
  * k-means-update determinism under repartitioning (the exact-integer
  * micro-mean claim), centroid self-assignment, and the banded-LSH
  * near-dup pair contract vs the brute-force N^2 oracle (perfect
  * precision — exact re-rank — plus a recall floor on the fixture). */
class SimilaritySpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestUtil.session()

  test("kmeansUpdate is partition-count independent (order-insensitive integer sums)") {
    val emb = Tables.embeddings(spark, sfDir)
    val one = Similarity.kmeansUpdate(emb.repartition(1), 8).collect().toSet
    val many = Similarity.kmeansUpdate(emb.repartition(7), 8).collect().toSet
    assert(one == many)
    assert(one.nonEmpty)
  }

  test("every centroid vector assigns to itself (cos=1 is its own argmax)") {
    val asg = Similarity.assignCentroids(Tables.embeddings(spark, sfDir), 8)
      .selectExpr("vec_id", "centroid")
      .filter("vec_id < 8")
      .collect()
    assert(asg.length == 8)
    asg.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("member counts partition the corpus exactly") {
    val emb = Tables.embeddings(spark, sfDir)
    val total = emb.count()
    val perCluster = Similarity.kmeansUpdate(emb, 8)
      .filter("dim = 1").selectExpr("sum(n_members)").collect()(0).getLong(0)
    assert(perCluster == total)
  }

  test("banded near-dup pairs: perfect precision, bounded recall loss vs brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val banded = Similarity.nearDupPairs(emb, 0.95)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.nearDupPairsBrute(emb, 0.95)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(brute), "exact re-rank must never emit a false pair")
    if (brute.nonEmpty) {
      val recall = banded.size.toDouble / brute.size
      assert(recall >= 0.5, s"LSH recall degraded: $recall (${banded.size}/${brute.size})")
    }
  }

  test("assignToJoin == assignToLiteral: both assignment paths agree, degenerate vectors included") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "centroid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    // the real corpus, seed codebook
    val p = Similarity.prepared(emb).select("vec_id", "v", "nrm")
    val cb = Similarity.trainedCodebook(emb, 8, 0)
    assert(pairs(Similarity.assignToJoin(p, cb)) == pairs(Similarity.assignToLiteral(p, cb)))
    // trained (non-corpus) centroid vectors
    val cbT = Similarity.trainedCodebook(emb, 8, 2)
    assert(pairs(Similarity.assignToJoin(p, cbT)) == pairs(Similarity.assignToLiteral(p, cbT)))
    // zero-norm corpus vector: both paths must yield -1
    val emb2 = Seq(
      (0L, "a", Seq(1.0f, 0.0f)), (1L, "a", Seq(0.0f, 1.0f)),
      (2L, "a", Seq(1.0f, 1.0f)), (9L, "a", Seq(0.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val p2 = Similarity.prepared(emb2).select("vec_id", "v", "nrm")
    val cb2 = Similarity.trainedCodebook(emb2, 2, 0)
    val (j2, l2) = (pairs(Similarity.assignToJoin(p2, cb2)),
      pairs(Similarity.assignToLiteral(p2, cb2)))
    assert(j2 == l2)
    assert(j2(9L) == -1L)
  }

  test("assignment auto-dispatch: literal up to 1e6 codebook doubles, join above; auto-k is ceil(sqrt(N))") {
    assert(!Similarity.useJoinAssign(15625, 64)) // exactly 1e6 doubles — literal
    assert(Similarity.useJoinAssign(15626, 64))
    assert(!Similarity.useJoinAssign(256, 64)) // the s16 regime forces the join path explicitly
    assert(Similarity.useJoinAssign(50000, 768)) // the SemDeDup paper regime auto-switches
    assert(Similarity.autoKCentroids(1) == 1)
    assert(Similarity.autoKCentroids(100) == 10)
    assert(Similarity.autoKCentroids(500) == 23)
    assert(Similarity.autoKCentroids(2000) == 45)
    assert(Similarity.autoKCentroids(1000000000L) == 31623)
  }

  test("ivfTopK candidate pairs are unique — the property the removed distinct() guarded") {
    // k larger than any candidate list => the filter keeps EVERY scored
    // candidate, so this checks the raw candidate set, not the top-k cut
    val emb = Tables.embeddings(spark, sfDir)
    val cands = Similarity.ivfTopK(emb, 10, Int.MaxValue, 16, 2)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.nonEmpty)
    assert(cands.length == cands.distinct.length,
      "every (q_id, n_id) must meet through exactly one (centroid) probe row")
  }

  test("ivfPqTopK: unbounded rerank reduces to exact IVF ranking; exact cos verified scalar-side") {
    val emb = Tables.embeddings(spark, sfDir)
    // with the shortlist covering EVERY candidate, the final exact
    // re-rank must equal ivfTopKTrained's ranking — the ADC stage can
    // then only reorder the shortlist, never change its membership
    val full = Similarity.ivfPqTopK(emb, 8, 3, nQueries = 10, k = 3,
        nprobe = 2, m = 8, rerank = Int.MaxValue)
      .select("q_id", "rk", "n_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(t => (t._1, t._2))
    val ivf = Similarity.ivfTopKTrained(emb, 8, 3, 10, 3, 2)
      .select("q_id", "rk", "n_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(t => (t._1, t._2))
    assert(full.nonEmpty)
    assert(full.toSeq == ivf.toSeq,
      "rerank=∞ IVF-PQ must return exactly the trained-IVF exact top-k")

    // tight shortlist: every returned exact cosine matches a scalar
    // recomputation from the raw vectors, and adc came from a genuine
    // codebook reconstruction (bounded to [-1, 1])
    val out = Similarity.ivfPqTopK(emb, 8, 3, nQueries = 10, k = 3,
        nprobe = 2, m = 8, rerank = 6).collect()
    assert(out.nonEmpty)
    val vecs = Similarity.prepared(emb).select("vec_id", "v", "nrm").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Double](1).toArray, r.getDouble(2))).toMap
    out.foreach { r =>
      val (q, n, adc, cos) = (r.getLong(0), r.getLong(2), r.getDouble(3), r.getDouble(4))
      val (qv, qn) = vecs(q)
      val (nv, nn) = vecs(n)
      var dot = 0.0; var i = 0
      while (i < qv.length) { dot += qv(i) * nv(i); i += 1 }
      assert(cos == dot / (math.sqrt(qn) * math.sqrt(nn)), s"exact cos mismatch for ($q,$n)")
      assert(adc >= -1.0001 && adc <= 1.0001, s"adc $adc out of cosine range")
    }
    // per query at most k rows, ranks contiguous from 1
    out.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.length <= 3)
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("semanticDedup: drop policy is exactly 'lower-id cluster-mate above threshold'") {
    val emb = Tables.embeddings(spark, sfDir)
    val tau = 0.4
    val out = Similarity.semanticDedup(emb, 8, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == emb.count())
    // recompute ground truth from the assignment + exact cosines
    val asg = Similarity.assignCentroids(emb, 8)
      .selectExpr("vec_id", "centroid", "v", "nrm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray, r.getDouble(3)))
    val byCluster = asg.groupBy(_._2)
    def cosine(a: (Long, Long, Array[Double], Double), b: (Long, Long, Array[Double], Double)) = {
      var dot = 0.0; var i = 0
      while (i < a._3.length) { dot += a._3(i) * b._3(i); i += 1 }
      dot / (math.sqrt(a._4) * math.sqrt(b._4))
    }
    val expectDropped = (for {
      (_, members) <- byCluster.toSeq
      b <- members
      if members.exists(a => a._1 < b._1 && cosine(a, b) >= tau)
    } yield b._1).toSet
    out.foreach { case (id, _, kept) =>
      assert(kept == !expectDropped.contains(id), s"vec $id kept=$kept")
    }
    // the lowest id of every cluster can never be dropped
    byCluster.values.foreach { members =>
      val lowest = members.map(_._1).min
      assert(out.find(_._1 == lowest).exists(_._3))
    }
  }

  test("productQuantize: codes are the true per-subvector argmin; codebook vectors reconstruct exactly") {
    val emb = Tables.embeddings(spark, sfDir)
    val k = 8
    val out = Similarity.productQuantize(emb, m = 8, kCodes = k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getDouble(2))))
      .toMap
    val vecs = Similarity.prepared(emb).select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cb = (0L until k).map(vecs)
    def l2(v: Array[Double], c: Array[Double], j: Int, d: Int): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val df = v(j * d + i) - c(j * d + i); s += df * df; i += 1 }
      s
    }
    vecs.foreach { case (id, v) =>
      val d = v.length / 8
      val (codes, cos) = out(id)
      (0 until 8).foreach { j =>
        val chosen = l2(v, cb(codes(j).toInt), j, d)
        cb.indices.foreach(c => assert(chosen <= l2(v, cb(c), j, d),
          s"vec $id sub $j: code ${codes(j)} is not the argmin"))
      }
      if (id < k) {
        assert(codes == (0 until 8).map(_ => id), s"codebook vec $id must code to itself")
        // vr == v exactly, but nrm/(sqrt(nrm)*sqrt(nrm)) is not IEEE 1.0
        assert(math.abs(cos - 1.0) < 1e-12,
          s"codebook vec $id must reconstruct (near-)exactly, got $cos")
      }
    }
  }

  test("kmeansTrain: step 0 is the seed codebook; training is partition-count independent") {
    val emb = Tables.embeddings(spark, sfDir)
    val seed = Similarity.trainedCodebook(emb, 8, 0)
    // 0 steps == the fixed deterministic seed
    assert(seed.map(_._1).toSeq == (0L until 8L))
    val one = Similarity.kmeansTrain(emb.repartition(1), 8, 3).collect().toSet
    val many = Similarity.kmeansTrain(emb.repartition(7), 8, 3).collect().toSet
    assert(one == many && one.nonEmpty)
  }

  test("kmeansTrain: member counts still partition the corpus after training") {
    val emb = Tables.embeddings(spark, sfDir)
    val total = emb.count()
    val perCluster = Similarity.kmeansTrain(emb, 8, 3)
      .filter("dim = 1").selectExpr("sum(n_members)").collect()(0).getLong(0)
    assert(perCluster == total)
  }

  test("kmeansGain/pqGain: training strictly improves assignment quality and PQ reconstruction") {
    val emb = Tables.embeddings(spark, sfDir)
    val g = Similarity.kmeansGain(emb, 8, 3).collect()(0)
    assert(g.getBoolean(2), s"trained ${g.getLong(1)} !> seed ${g.getLong(0)}")
    val p = Similarity.pqGain(emb, 8, 3, 8).collect()(0)
    assert(p.getBoolean(2), s"trained recon ${p.getLong(1)} !> seed ${p.getLong(0)}")
  }

  test("quantizeInt8: codes in [-127,127], per-element error <= scale/2") {
    val rows = Similarity.quantizeInt8(Tables.embeddings(spark, sfDir))
      .selectExpr("vec_id", "v", "maxabs", "q").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val maxabs = r.getDouble(2)
      val q = r.getSeq[Int](3)
      assert(q.length == v.length)
      assert(q.forall(qi => qi >= -127 && qi <= 127))
      if (maxabs > 0) {
        val scale = maxabs / 127
        v.zip(q).foreach { case (x, qi) =>
          assert(math.abs(x - qi * scale) <= scale / 2 + 1e-12,
            s"vec ${r.getLong(0)}: |$x - $qi*$scale| > scale/2")
        }
      } else assert(q.forall(_ == 0))
    }
  }

  test("zero-norm vectors: unassignable (-1), excluded from cluster means, kept by dedup") {
    import spark.implicits._
    // vec_ids 0..3 are unit-ish seed vectors; 9 is all-zero (NaN cosine
    // to every centroid — the closure contract assigns -1)
    val emb = Seq(
      (0L, "a", Seq(1.0f, 0.0f)), (1L, "a", Seq(0.0f, 1.0f)),
      (2L, "a", Seq(1.0f, 1.0f)), (3L, "a", Seq(-1.0f, 0.5f)),
      (9L, "a", Seq(0.0f, 0.0f))).toDF("vec_id", "label", "embedding")

    val assigned = Similarity.assignCentroids(emb, 2)
      .select("vec_id", "centroid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned(9L) == -1L, "zero-norm vector must be unassignable")
    assert(assigned.filterKeys(_ != 9L).values.forall(_ >= 0L))

    // cluster means never see the unassignable vector (and the update
    // table carries no -1 group — the oracle replays this by ranking
    // over non-NaN cosines only)
    val upd = Similarity.kmeansUpdate(emb, 2).collect()
    assert(upd.forall(_.getLong(0) >= 0L), "no -1 group in the update table")
    val membersDim1 = upd.filter(_.getLong(1) == 1L).map(_.getLong(2)).sum
    assert(membersDim1 == 4L, "the 4 assignable vectors partition; the zero-norm one is out")

    // semantic dedup still covers the WHOLE corpus: the zero-norm
    // vector comes back as (vec_id, -1, kept) rather than vanishing
    val sd = Similarity.semanticDedup(emb, 2, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(sd.length == 5)
    val zeroRow = sd.find(_._1 == 9L).get
    assert(zeroRow._2 == -1L && zeroRow._3,
      "a lone zero-norm vector is its own -1 group and survives")

    // TWO zero-norm cluster-mates: the pair cosine is NULL ("no
    // similarity evidence" — not an ANSI DIVIDE_BY_ZERO crash, which
    // this case hit before cosExpr's zero-norm guard), so neither is
    // ever dropped — the oracle's CASE..NULL replays this exactly
    val emb2 = emb.union(Seq((10L, "a", Seq(0.0f, 0.0f))).toDF("vec_id", "label", "embedding"))
    val sd2 = Similarity.semanticDedup(emb2, 2, 0.4)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(sd2(9L) && sd2(10L),
      "degenerate vectors must never be deduplicated away on NULL evidence")
  }

  test("mmrRerank: diversity demotes the redundant twin that pure relevance ranks second") {
    import spark.implicits._
    // query 0 = [1,0,0]. Candidates 1 and 2 are EXACT twins (rel 0.9,
    // mutual sim 1.0 — their shared off-query component is invisible
    // to relevance); 3 is slightly less relevant (0.85) but diverse
    // (sim to the twins 0.765). Pure relevance ranks 1, 2, 3 (twin
    // tie broken by n_id). MMR at lambda = 0.7:
    // round 2 scores (micro): twin 0.7*900000 - 0.3*1000000 = 330000
    // vs diverse 0.7*850000 - 0.3*765000 = 365500 -> picks 3, then 2.
    val emb = Seq(
      (0L, "q", Seq(1.0f, 0.0f, 0.0f)),
      (1L, "a", Seq(0.9f, 0.43589f, 0.0f)),
      (2L, "a", Seq(0.9f, 0.43589f, 0.0f)),
      (3L, "b", Seq(0.85f, 0.0f, 0.52678f))).toDF("vec_id", "label", "embedding")
    val got = Similarity.mmrRerank(emb, "vec_id < 1", pool = 3, k = 3, 700000L)
    val rows = got.orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    Storage.release(got)
    assert(rows.toSeq == Seq((0L, 1L, 1L), (0L, 2L, 3L), (0L, 3L, 2L)),
      s"expected MMR order 1, 3, 2 — got ${rows.toSeq}")
  }

  test("mmrRerank: degenerate settings collapse to pure relevance; guards fire") {
    import spark.implicits._
    val emb = Seq(
      (0L, "q", Seq(1.0f, 0.0f)),
      (1L, "a", Seq(0.9f, 0.1f)),
      (2L, "a", Seq(0.8f, 0.3f)),
      (3L, "b", Seq(0.1f, 0.9f))).toDF("vec_id", "label", "embedding")
    // lambda = 1e6 ignores redundancy entirely -> brute top-k order
    val mmr = Similarity.mmrRerank(emb, "vec_id < 1", pool = 3, k = 3, 1000000L)
    val order = mmr.orderBy("q_id", "rank").collect().map(_.getLong(2)).toSeq
    Storage.release(mmr)
    val brute = Similarity.cosineTopK(emb, 1, 3)
      .orderBy("q_id", "rk").collect().map(_.getLong(2)).toSeq
    assert(order == brute, "lambda = 1 must reproduce the relevance ranking")
    intercept[IllegalArgumentException](
      Similarity.mmrRerank(emb, "vec_id < 1", pool = 3, k = 4, 700000L))
    intercept[IllegalArgumentException](
      Similarity.mmrRerank(emb, "vec_id < 1", pool = 3, k = 2, 1000001L))
  }

  test("mmrRerank: storage hygiene (cand/sims released, result caller-owned)") {
    val emb = Tables.embeddings(spark, sfDir)
    val baseRdds = spark.sparkContext.getPersistentRDDs.keySet
    val out = Similarity.mmrRerank(emb, "vec_id < 4", pool = 5, k = 2, 700000L)
    assert(out.count() > 0)
    Storage.release(out)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseRdds
    assert(leaked.isEmpty, s"mmrRerank leaked: $leaked")
  }

  test("randomProjectionTopK: differential vs an in-memory sketch reference") {
    import spark.implicits._
    // small synthetic corpus: 20 vectors, 8 dims; vec 10 duplicates
    // vec 0 (note: in UNNORMALIZED sketch space a longer aligned
    // vector may legitimately outrank an exact duplicate — the
    // reference ranking, not a rank-1 claim, is the contract)
    def vec(id: Long): Array[Float] =
      if (id == 10L) vec(0L)
      else Array.tabulate(8)(i => (((id * 7 + i * 13) % 19).toFloat - 9) / 9f)
    val emb = (0L until 20L).map(id => (id, vec(id), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.randomProjectionTopK(emb, dims = 6, nQueries = 2, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // in-memory twin: same quantization, same sign matrix, same ties
    def q8(v: Array[Float]): Array[Int] = {
      val vd = v.map(_.toDouble)
      val maxabs = vd.map(math.abs).foldLeft(0.0)(math.max)
      // HALF_UP (away from zero), matching Spark/DuckDB round() —
      // math.round would round -63.5 to -63, Spark to -64
      if (maxabs == 0) vd.map(_ => 0)
      else vd.map(x => BigDecimal(x * 127 / maxabs)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toInt)
    }
    def sketch(v: Array[Float]): Array[Long] = {
      val q = q8(v)
      Array.tabulate(6)(j =>
        q.indices.map(d => q(d).toLong * (1 - 2 * ((d * 31 + j * 17) % 2))).sum)
    }
    val sks = (0L until 20L).map(id => id -> sketch(vec(id))).toMap
    for (qid <- 0L until 2L) {
      val want = (0L until 20L).filter(_ != qid)
        .map(n => n -> sks(qid).zip(sks(n)).map { case (a, b) => a * b }.sum)
        .sortBy { case (n, dot) => (-dot, n) }.take(4)
      val gotQ = (1 to 4).map(rk => got((qid, rk.toLong)))
      assert(gotQ.map(_._1) === want.map(_._1),
        s"query $qid sketch ranking diverged")
      assert(gotQ.map(_._2) === want.map(_._2), s"query $qid sketch dots diverged")
    }
    intercept[IllegalArgumentException](
      Similarity.randomProjectionTopK(emb, 0, 1, 1))
  }

  test("knnClassify: differential fuzz vs a brute-force in-memory reference") {
    var x = 5566778899L
    def nxt(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) >>> 2; x }
    val dim = 8
    (1 to 2).foreach { round =>
      val vecs = (0L until 60L).map { id =>
        (id, Array.fill(dim)(((nxt() % 2001L) - 1000L) / 1000.0f), (nxt() % 4L).toInt)
      }
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < dim) {
          d += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val expected = vecs.filter(_._1 % 5 == 0).map { case (q, qv, ql) =>
        val top = vecs.filter(_._1 != q)
          .map { case (n, nv, nl) => (n, nl, cos(qv, nv)) }
          .sortBy { case (n, _, c) => (-c, n) }.take(3)
        val votes = top.groupBy(_._2).map { case (l, g) => (l.toLong, g.size.toLong) }
        val (pred, nV) = votes.toSeq.sortBy { case (l, n) => (-n, l) }.head
        q -> ((pred, nV, ql.toLong, pred == ql.toLong))
      }.toMap
      val df = {
        import spark.implicits._
        vecs.toDF("vec_id", "embedding", "label")
      }
      val got = Similarity.knnClassify(df, "vec_id % 5 = 0", 3).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
        .toMap
      assert(got === expected, s"fuzz round $round diverged")
    }
  }

  test("knnClassify: majority vote over the k nearest, count ties break to the smaller label") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f), 1),       // query; its own label makes correct=true
      (1L, Array(1f, 0.01f), 1),
      (2L, Array(1f, 0.02f), 2),
      (3L, Array(1f, 0.03f), 2),
      (4L, Array(1f, 0.04f), 1),
      (5L, Array(-1f, 0f), 3))      // far away: must not be in the top-4
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(emb, "vec_id = 0", 4).collect()
    assert(got.length === 1)
    val r = got(0)
    // neighbors 1..4 vote {1:2, 2:2} — tie, smaller label wins
    assert(r.getLong(0) === 0L)      // q_id
    assert(r.getLong(1) === 1L)      // pred_label
    assert(r.getLong(2) === 2L)      // n_votes
    assert(r.getLong(3) === 1L)      // actual
    assert(r.getBoolean(4))          // correct
  }

  test("evalContamination: flag at tau, smallest-id tie-break, zero-norm exclusion") {
    import spark.implicits._
    // eval: e0 = x-axis, e1 = y-axis (vec_id < 50); train: 100 is a
    // near-copy of e0 (cos ≈ 1 → contaminated at τ = 0.95), 101 is
    // equidistant to both (cos = √2/2 to each — nn tie breaks to the
    // SMALLER eval id 0), 102 points away from e0 (max is 0.0 at e1),
    // 103 is zero-norm (excluded entirely)
    val emb = Seq(
      (0L, 0, Seq(1.0f, 0.0f)), (1L, 0, Seq(0.0f, 1.0f)),
      (100L, 0, Seq(0.9999f, 0.0001f)), (101L, 0, Seq(1.0f, 1.0f)),
      (102L, 0, Seq(-1.0f, 0.0f)), (103L, 0, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.evalContamination(emb, "vec_id < 50", 950000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.keySet == Set(100L, 101L, 102L))
    assert(out(100L)._1 == 0L && out(100L)._3, s"near-copy must flag: $out")
    assert(out(100L)._2 > 950000L)
    assert(out(101L) == ((0L, 707107L, false)), "tie → smallest eval id")
    assert(out(102L) == ((1L, 0L, false)), "max cos picks e1's 0 over e0's −1")
  }

  test("evalContamination: an empty eval side is rejected, never a silently-clean audit") {
    import spark.implicits._
    val emb = Seq((100L, 0, Seq(1.0f, 0.0f)), (101L, 0, Seq(0.0f, 1.0f)),
      (102L, 0, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    // predicate matches nothing
    val e1 = intercept[IllegalArgumentException] {
      Similarity.evalContamination(emb, "vec_id < 0", 950000L)
    }
    assert(e1.getMessage.contains("matched no"), e1.getMessage)
    // predicate matches ONLY a zero-norm vector (excluded up front)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.evalContamination(emb, "vec_id = 102", 950000L)
    }
    assert(e2.getMessage.contains("matched no"), e2.getMessage)
  }

  test("evalContamination: one corpus pass, eval broadcast, partial-agg shuffle") {
    val plan = Similarity.evalContamination(
      graft.Tables.embeddings(spark, sfDir), "vec_id < 50", 950000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"eval side must broadcast:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("partial"),
      s"the per-vec max must combine map-side:\n$plan")
  }
}
