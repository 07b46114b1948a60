package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Packing

/** Greedy token-budget packing: boundary semantics (exact fit stays,
  * overflow opens a bin, oversize item gets its own bin, first item
  * always opens bin 0) and shuffle/partition invariance. */
class PackingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def pack(rows: Seq[(String, Long, Long)], budget: Long) = {
    import spark.implicits._
    Packing.packGreedy(rows.toDF("g", "o", "n"), "g", "o", "n", budget)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
  }

  test("exact fit stays in the bin; overflow opens the next") {
    val out = pack(Seq(("a", 1L, 60L), ("a", 2L, 40L), ("a", 3L, 1L)), budget = 100L)
    // 60 + 40 == 100 exactly -> same bin; the next item overflows
    assert(out.map(t => (t._4, t._5)).toSeq ==
      Seq((0L, 60L), (0L, 100L), (1L, 1L)))
  }

  test("oversize item gets a bin of its own and never blocks packing") {
    val out = pack(Seq(("a", 1L, 10L), ("a", 2L, 500L), ("a", 3L, 10L)), budget = 100L)
    assert(out.map(t => (t._4, t._5)).toSeq ==
      Seq((0L, 10L), (1L, 500L), (2L, 10L)))
    // first item oversize: still opens bin 0 (the oracle's base case)
    val first = pack(Seq(("a", 1L, 500L), ("a", 2L, 10L)), budget = 100L)
    assert(first.map(t => (t._4, t._5)).toSeq == Seq((0L, 500L), (1L, 10L)))
  }

  test("groups pack independently") {
    val out = pack(Seq(("a", 1L, 90L), ("b", 2L, 90L), ("a", 3L, 90L)), budget = 100L)
    assert(out.map(t => (t._1, t._4)).toSeq ==
      Seq(("a", 0L), ("a", 1L), ("b", 0L)))
  }

  test("differential fuzz vs an in-memory greedy reference (incl. a null group)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val budget = 100L
    val rows: Seq[(String, Long, Long)] = (1 to 300).map { i =>
      val g = if (i % 37 == 0) null else s"g${rnd.nextInt(5)}"
      (g, i.toLong, 1L + rnd.nextInt(150))
    }
    // sequential reference: same recurrence, one group at a time
    val expected = rows.groupBy(_._1).flatMap { case (_, items) =>
      var first = true; var bin = 0L; var fill = 0L
      items.sortBy(_._2).map { case (g, o, n) =>
        if (first) { first = false; fill = n }
        else if (fill + n > budget) { bin += 1; fill = n }
        else fill += n
        (Option(g), o) -> ((bin, fill))
      }
    }
    val got = Packing.packGreedy(rows.toDF("g", "o", "n"), "g", "o", "n", budget)
      .collect()
      .map(r => (Option(r.getString(0)), r.getLong(1)) -> ((r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == expected)
  }

  test("null size packs as 0; null order fails fast with a clear error") {
    import spark.implicits._
    val withNullSize = Seq(("a", 1L, Some(90L)), ("a", 2L, None), ("a", 3L, Some(20L)))
      .toDF("g", "o", "n")
    val out = Packing.packGreedy(withNullSize, "g", "o", "n", 100L)
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).sortBy(_._1)
    // the null-size row consumes no budget: 90 + 0 + 20 > 100 -> item 3 overflows
    assert(out.toSeq == Seq((1L, 0L, 90L), (2L, 0L, 90L), (3L, 1L, 20L)))

    val withNullOrder = Seq((Some("a"), Some(1L), 10L), (Some("a"), None, 10L))
      .toDF("g", "o", "n")
    val e = intercept[Exception] {
      Packing.packGreedy(withNullOrder, "g", "o", "n", 100L).collect()
    }
    assert(e.getMessage != null && e.toString.contains("packGreedy") ||
      Option(e.getCause).exists(_.toString.contains("packGreedy")),
      s"expected the packGreedy null-order error, got $e")
  }

  test("result is invariant to input partitioning and order") {
    import spark.implicits._
    val rows = (1 to 400).map { i =>
      (s"g${i % 7}", i.toLong, 1L + (i * 37 % 90))
    }
    val base = pack(rows, budget = 128L)
    val shuffled = Packing.packGreedy(
      scala.util.Random.shuffle(rows).toDF("g", "o", "n").repartition(13),
      "g", "o", "n", 128L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    assert(base.toSeq == shuffled.toSeq)
    // every non-oversize bin respects the budget
    assert(base.filter(_._3 <= 128L).forall(_._5 <= 128L))
  }
}
