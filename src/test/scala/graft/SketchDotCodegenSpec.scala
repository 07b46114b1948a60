package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 §4 closure: `graft_dot` / `graft_dot_long` are whole-stage
  * codegen natives (no CodegenFallback) and `graft_rp_sketch` replaces
  * s20's transform(sequence…aggregate) ±1 projection — each must stay
  * value-identical to the interpreted lambda form it replaced (the
  * form the DuckDB oracles replicate), INCLUDING the edge semantics
  * the r16 ADVICE flagged: arrays of different lengths yield NULL
  * (the zip_with null-pad), and a null input/element yields the
  * lambda form's null shape. */
class SketchDotCodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  test("graft_dot_long == aggregate(zip_with(...)) fold on the int8 corpus") {
    val s = spark
    val q = graft.operators.Similarity
      .quantizeInt8(Tables.embeddings(s, "/root/testdata/sf0.001"))
      .select("vec_id", "q")
    val diff = q.as("a").crossJoin(q.as("b").limit(3))
      .selectExpr(
        "graft_dot_long(a.q, b.q) AS nat",
        "aggregate(zip_with(a.q, b.q, (x, y) -> cast(x as bigint) * y), " +
          "cast(0 as bigint), (acc, p) -> acc + p) AS ref")
      .filter("nat IS DISTINCT FROM ref")
    assert(diff.count() == 0, "native integer dot diverges from the lambda fold")
  }

  test("graft_dot == aggregate(zip_with(...)) IEEE fold on the double corpus") {
    val s = spark
    val v = graft.operators.Similarity
      .prepared(Tables.embeddings(s, "/root/testdata/sf0.001"))
      .select("vec_id", "v")
    val diff = v.as("a").crossJoin(v.as("b").limit(3))
      .selectExpr(
        "graft_dot(a.v, b.v) AS nat",
        "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), " +
          "cast(0 as double), (acc, p) -> acc + p) AS ref")
      .filter("nat IS DISTINCT FROM ref")
    assert(diff.count() == 0, "native double dot diverges from the IEEE-ordered fold")
  }

  test("length mismatch / null element / null array: both dots mirror the zip_with form") {
    val s = spark
    // (name, native, lambda-reference) triples evaluated in one row
    val r = s.sql(
      """SELECT
        |  graft_dot_long(array(1, 2, 3), array(1, 2)) AS l_mismatch,
        |  aggregate(zip_with(array(1, 2, 3), array(1, 2),
        |    (x, y) -> cast(x as bigint) * y), cast(0 as bigint),
        |    (acc, p) -> acc + p) AS l_mismatch_ref,
        |  graft_dot(array(1.0d, 2.0d), array(1.0d)) AS d_mismatch,
        |  aggregate(zip_with(array(1.0d, 2.0d), array(1.0d),
        |    (x, y) -> x * y), cast(0 as double), (acc, p) -> acc + p)
        |    AS d_mismatch_ref,
        |  graft_dot_long(array(1, cast(null as int), 3), array(1, 2, 3))
        |    AS l_nullelem,
        |  graft_dot_long(cast(null as array<int>), array(1)) AS l_nullarr,
        |  graft_dot_long(cast(array() as array<int>),
        |    cast(array() as array<int>)) AS l_empty
        |""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1), "length mismatch must be NULL (zip_with null-pad)")
    assert(r.isNullAt(2) && r.isNullAt(3))
    assert(r.isNullAt(4), "a null element nulls the fold")
    assert(r.isNullAt(5), "a null array nulls the result")
    assert(r.getLong(6) == 0L, "empty arrays fold to the zero accumulator")
  }

  test("graft_rp_sketch == transform(sequence(...), aggregate(...)) on the int8 corpus") {
    val s = spark
    val q = graft.operators.Similarity
      .quantizeInt8(Tables.embeddings(s, "/root/testdata/sf0.001"))
      .select("vec_id", "q")
    val diff = q.selectExpr(
        "graft_rp_sketch(q, 16) AS nat",
        "transform(sequence(0, 15), j -> " +
          "aggregate(sequence(0, size(q) - 1), cast(0 as bigint), " +
          "(a, d) -> a + q[d] * (1 - 2 * ((d * 31 + j * 17) % 2)))) AS ref")
      .filter("nat IS DISTINCT FROM ref")
    assert(diff.count() == 0, "native rp sketch diverges from the lambda form")
  }

  test("graft_rp_sketch null array / null element yields dims NULL coordinates (the lambda shape)") {
    val s = spark
    val r = s.sql(
      """SELECT
        |  graft_rp_sketch(cast(null as array<int>), 4) AS nullarr,
        |  graft_rp_sketch(array(1, cast(null as int)), 4) AS nullelem,
        |  transform(sequence(0, 3), j ->
        |    aggregate(sequence(0, size(array(1, cast(null as int))) - 1),
        |      cast(0 as bigint),
        |      (a, d) -> a + array(1, cast(null as int))[d]
        |        * (1 - 2 * ((d * 31 + j * 17) % 2)))) AS nullelem_ref
        |""".stripMargin).head()
    val nullarr = r.getSeq[Any](0)
    val nullelem = r.getSeq[Any](1)
    val ref = r.getSeq[Any](2)
    assert(nullarr.size == 4 && nullarr.forall(_ == null),
      "null input array -> array of dims nulls, never a null array")
    assert(nullelem == ref, "null element shape must match the lambda form")
  }

  test("the plans carry no CodegenFallback for the dot/sketch natives") {
    val s = spark
    // codegen-clean input (no higher-order lambdas in the same
    // Project — those are interpreted regardless and would mask the
    // natives' own codegen): the whole projection must land inside a
    // whole-stage-codegen span, rendered as a `*(n)` prefix in the
    // executed plan (CodegenFallback expressions break the span and
    // strip the star)
    val df = s.range(64)
      .selectExpr("graft_rp_sketch(array(cast(id as int), 7, -3), 16) AS sk")
      .selectExpr("graft_dot_long(sk, sk) AS ss")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val starredProject = """\*\(\d+\) Project""".r.findFirstIn(plan).isDefined
    assert(starredProject && plan.contains("rpsketch")
        && plan.contains("dotproductlong"),
      s"dot/sketch projection must sit in a codegen (*) span:\n$plan")
  }
}
