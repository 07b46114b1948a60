package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Decontaminate, Dedup}

/** [[graft.operators.Decontaminate]]: exact-semantics equivalence to
  * the brute-force anti-join at every Bloom size (including a
  * deliberately saturated image where false positives abound), the
  * no-false-negative invariant, the bit-image replay, and the
  * clean-docs-never-join plan shape. */
class DecontaminateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private val P = 1000000007L

  // bench docs 0-1; docs 10-11 contaminated (share a 3-gram), 12-14 clean
  private val rows: Seq[(Long, String)] = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "pack my box with five dozen liquor jugs"),
    (10L, "he saw the quick brown fox run away yesterday"), // shares "the quick brown"
    (11L, "they pack my box with care every single time"), // shares "pack my box"
    (12L, "completely unrelated text about sailing ships"),
    (13L, "another clean document discussing mountain weather"),
    (14L, "short one"))

  private def df: DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }
  private def corpus = df.filter(col("doc_id") >= 10)
  private def bench = df.filter(col("doc_id") < 10)

  private def bruteClean(n: Int): Set[Long] = {
    def grams(s: String): Set[String] = {
      val t = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      if (t.size < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
    }
    val bg = rows.filter(_._1 < 10).flatMap(r => grams(r._2)).toSet
    rows.filter(_._1 >= 10).collect {
      case (id, s) if grams(s).intersect(bg).isEmpty => id
    }.toSet
  }

  test("kept set equals the brute-force anti-join at every Bloom size") {
    // m = 64: ~every probe collides (saturated image, heavy FPs) —
    // the verify join must still restore exactness. m = 2^14: sane.
    for (m <- Seq(64, 1 << 14)) {
      val got = Decontaminate.cleanDocs(corpus, bench, "text", 3, m, 3)
        .collect().map(_.getLong(0)).toSet
      assert(got === bruteClean(3), s"m=$m kept set diverged")
    }
  }

  test("no false negatives: every truly contaminated doc probes maybe") {
    val benchHashes = Dedup.shingleHashSets(bench, "text", 3)
      .selectExpr("explode(hs) AS sgl").distinct()
    val bits = Decontaminate.bloomBits(benchHashes, 1 << 14, 3)
    val maybes = Decontaminate.probed(corpus, "text", 3, bits, 3)
      .filter(col("maybe")).collect().map(_.getLong(0)).toSet
    val contaminated = rows.filter(_._1 >= 10).map(_._1).toSet -- bruteClean(3)
    assert(contaminated.subsetOf(maybes),
      s"bloom dropped a contaminated doc: $contaminated vs maybe=$maybes")
  }

  test("a fully saturated image marks every shingled doc maybe; shingle-less docs never probe") {
    // all-ones image: every probe position is set, so every doc with
    // >= 1 shingle is a guaranteed false positive — the deterministic
    // worst case for the verify join (test 1 proves the kept set
    // stays exact under FPs; this pins the probe semantics directly)
    val allOnes = Array.fill(4)(-1L)
    val maybes = Decontaminate.probed(corpus, "text", 3, allOnes, 3)
      .filter(col("maybe")).collect().map(_.getLong(0)).toSet
    assert(maybes === Set(10L, 11L, 12L, 13L),
      s"every doc with shingles must probe positive on all-ones bits, and the" +
        s" 2-token doc 14 must not (exists over empty = false): $maybes")
  }

  test("bit image matches a Scala replay of the probe hash chain") {
    val benchHashes = Dedup.shingleHashSets(bench, "text", 3)
      .selectExpr("explode(hs) AS sgl").distinct()
    val hs = benchHashes.collect().map(_.getLong(0))
    val m = 1 << 10
    val want = new Array[Long](m / 64)
    for (h <- hs; i <- 0 until 3) {
      val a = ((i + 1) * 1103515245L + 12345L) % P
      val b = ((i + 1) * 69069L + 7L) % P
      val pos = (((a * (h % P) + b) % P) % m).toInt
      want(pos / 64) |= 1L << (pos % 64)
    }
    assert(Decontaminate.bloomBits(benchHashes, m, 3).toSeq === want.toSeq)
  }

  test("plan shape: one verify join + one anti join, both broadcast; no cartesian") {
    val out = Decontaminate.cleanDocs(corpus, bench, "text", 3, 1 << 14, 3)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"decontamination must stay equi:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"benchmark/confirmed sides must broadcast (corpus is never shuffled):\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
  }

  test("docs with fewer than n tokens are clean by definition") {
    val got = Decontaminate.cleanDocs(corpus, bench, "text", 3, 1 << 14, 3)
      .collect().map(_.getLong(0)).toSet
    assert(got.contains(14L), "a 2-token doc has no 3-grams and must be kept")
  }
}
