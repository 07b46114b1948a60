package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.functions.CollectCapped]] (graft_collect_capped) contract:
  * exact cap boundary (cap kept, cap+1 nulls), sorted output, null
  * skipping, buffer release on overflow, and the differential claim
  * the d02 rewrite rests on — one capped pass == the old df-count +
  * broadcast-anti-join + collect three-pass shape. */
class CollectCappedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  test("groups at the cap survive sorted; groups past the cap are null") {
    import spark.implicits._
    // group 1: exactly 4 values; group 2: 5 values (> cap=4); group 3: 1
    val df = (Seq((1L, 40L), (1L, 10L), (1L, 30L), (1L, 20L)) ++
        (1L to 5L).map(i => (2L, i)) ++ Seq((3L, 7L)))
      .toDF("g", "v")
      .repartition(4) // force merges across partial buffers
      .groupBy("g").agg(expr("graft_collect_capped(v, 4)").as("vs"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    assert(df(1L).contains(Seq(10L, 20L, 30L, 40L)), "sorted, exactly-at-cap kept")
    assert(df(2L).isEmpty, "cap+1 values must collapse to null")
    assert(df(3L).contains(Seq(7L)))
  }

  test("nulls count toward the cap (count(*) df semantics) but are not collected") {
    import spark.implicits._
    // 4 rows (2 null) > cap 2 -> the GROUP overflows, like count(*)>cap
    val over = Seq((1L, Some(2L)), (1L, None), (1L, Some(1L)), (1L, None))
      .toDF("g", "v")
      .groupBy("g").agg(expr("graft_collect_capped(v, 2)").as("vs"))
      .collect()(0)
    assert(over.isNullAt(1))
    // 3 rows (1 null) <= cap 3 -> kept; only the non-nulls collected
    val under = Seq((1L, Some(2L)), (1L, None), (1L, Some(1L)))
      .toDF("g", "v")
      .groupBy("g").agg(expr("graft_collect_capped(v, 3)").as("vs"))
      .collect()(0).getSeq[Long](1)
    assert(under == Seq(1L, 2L))
  }

  test("string-set variant: row-count cap, distinct sorted values, merge overflow") {
    import spark.implicits._
    // group 1: 4 rows / 2 distinct values (cap 4 on ROWS — survives);
    // group 2: 5 rows (> cap — null even though only 2 distinct);
    // group 3: 1 row
    val rows = Seq((1L, "b"), (1L, "a"), (1L, "b"), (1L, "a")) ++
      (1 to 5).map(i => (2L, if (i % 2 == 0) "x" else "y")) ++ Seq((3L, "z"))
    val out = rows.toDF("g", "v")
      .repartition(4)
      .groupBy("g").agg(expr("graft_collect_set_capped(v, 4)").as("vs"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    assert(out(1L).contains(Seq("a", "b")), "distinct + sorted")
    assert(out(2L).isEmpty, "the cap counts rows, not distinct values")
    assert(out(3L).contains(Seq("z")))
  }

  test("p06's one-pass capped set equals the old df-prune + collect_set shape") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val cap = 3
    val e = docs.selectExpr("doc_id", "source", "graft_shingle_hashes(text, 3) AS hs")
      .selectExpr("doc_id", "source", "explode(hs) AS sgl")
    val hot = e.groupBy(col("sgl")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("sgl")
    assert(hot.count() > 0, s"fixture has no hot shingles at cap=$cap — test is vacuous")
    val old = e.join(broadcast(hot), Seq("sgl"), "left_anti")
      .groupBy(col("sgl")).agg(array_sort(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val capped = e.groupBy(col("sgl"))
      .agg(expr(s"graft_collect_set_capped(source, $cap)").as("ss"))
      .filter(col("ss").isNotNull && size(col("ss")) >= 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(capped == old)
  }

  test("results survive the sort-based aggregation fallback (hash map pressure path)") {
    // ObjectHashAggregate falls back to sort-based aggregation past
    // this threshold — a different merge/serialize code path than the
    // in-memory hash map; force it immediately and require identical
    // results
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def run(): Set[(Long, Long, Long)] =
      graft.operators.Dedup.ngramJaccardPairs(docs, "text", 3, 0.5, maxDocFreq = 8)
        .select("d1", "d2", "shared").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val normal = run()
    spark.conf.set(key, "1")
    try {
      val fallback = run()
      assert(fallback == normal, "sort-based fallback changed the capped-collect results")
      assert(normal.nonEmpty)
    } finally spark.conf.unset(key)
  }

  test("aggregation algebra: random chunking + serialize round-trips + merge order never change the result") {
    import graft.functions.CollectCapped
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    val rnd = new scala.util.Random(7)
    val agg = CollectCapped(BoundReference(0, LongType, nullable = true), cap = 8)
    (1 to 50).foreach { trial =>
      val n = rnd.nextInt(16) + 1
      val values = Seq.fill(n)(if (rnd.nextInt(10) == 0) null
        else java.lang.Long.valueOf(rnd.nextLong(20)))
      // reference semantics: > cap ROWS -> null, else sorted non-nulls
      val expect = if (values.length > 8) null
        else values.flatMap(Option(_)).map(_.longValue).sorted
      // split into random chunks, update each into its own partial
      // buffer, serialize+deserialize (the shuffle path), then merge
      // in shuffled order
      val chunks = values.grouped(rnd.nextInt(4) + 1).toSeq
      val partials = chunks.map { chunk =>
        val b = agg.createAggregationBuffer()
        chunk.foreach(v => agg.update(b, InternalRow(v)))
        agg.deserialize(agg.serialize(b))
      }
      val merged = rnd.shuffle(partials)
        .foldLeft(agg.createAggregationBuffer())(agg.merge)
      val got = agg.eval(merged) match {
        case null => null
        case a: org.apache.spark.sql.catalyst.util.GenericArrayData =>
          a.toLongArray.toSeq
      }
      assert(got == expect, s"trial $trial: values=$values chunks=$chunks")
    }
  }

  test("d02's one-pass capped collect equals the old three-pass df-prune shape") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val cap = 3 // small cap so the prune actually fires on the fixture
    val ex = graft.operators.Dedup.shingleHashSets(docs, "text", 3)
      .selectExpr("doc_id", "explode(hs) AS sgl")
    // old shape: count doc frequencies, broadcast the hot set for an
    // anti-join, then collect the survivors
    val hot = ex.groupBy(col("sgl")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("sgl")
    assert(hot.count() > 0, s"fixture has no hot shingles at cap=$cap — test is vacuous")
    val old = ex.join(broadcast(hot), Seq("sgl"), "left_anti")
      .groupBy(col("sgl"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .selectExpr("sgl", "ds")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val capped = ex.groupBy(col("sgl"))
      .agg(expr(s"graft_collect_capped(doc_id, $cap)").as("ds"))
      .filter(col("ds").isNotNull && size(col("ds")) >= 2)
      .selectExpr("sgl", "ds")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(capped == old)
  }

  test("non-literal and non-integral caps fail with clear messages, not opaque eval errors") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("v", "c")
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    val nonLit = intercept[Throwable](
      df.selectExpr("graft_collect_capped(v, c)").collect())
    assert(msgs(nonLit).contains("cap must be a literal"), msgs(nonLit))
    val strCap = intercept[Throwable](
      df.selectExpr("graft_collect_capped(v, 'ten')").collect())
    assert(msgs(strCap).contains("integral literal"), msgs(strCap))
    val nullCap = intercept[Throwable](
      df.selectExpr("graft_collect_set_capped(cast(v as string), cast(null as int))").collect())
    assert(msgs(nullCap).contains("non-null"), msgs(nullCap))
  }
}
