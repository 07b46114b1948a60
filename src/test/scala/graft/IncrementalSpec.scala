package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Incremental

/** The algebraic-merge contract: merging per-slice rollup states must
  * equal the single-pass rollup of the union, for ANY slicing —
  * differential-fuzzed over random slicings, plus guards. */
class IncrementalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def events(rows: (String, String, Double)*) = {
    import spark.implicits._
    rows.toDF("tss", "event_type", "value")
      .selectExpr("cast(tss as timestamp) AS ts", "event_type", "value")
  }

  private def collectRollup(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1)) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap

  test("merge of slice states == single-pass rollup; random slicings (differential fuzz)") {
    // deterministic pseudo-random event set over 5 days x 3 types
    var x = 424242L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    val all = (1 to 200).map { _ =>
      (f"2024-01-${nxt() % 5 + 1}%02d 0${nxt() % 9}:00:00",
        Seq("a", "b", "c")(nxt().toInt % 3),
        (nxt() % 10000).toDouble / 100.0)
    }
    val full = collectRollup(Incremental.mergeStates(
      Seq(Incremental.dailyTypeState(events(all: _*), "event_type", "ts", "value")),
      Seq("day", "event_type")))
    for (seed <- Seq(1, 2, 3)) {
      // slice by hash of index into `seed + 1` groups, some possibly empty
      val slices = all.zipWithIndex.groupBy { case (_, i) => (i * 31 + seed) % (seed + 1) }
        .values.map(g => events(g.map(_._1): _*)).toSeq
      val merged = collectRollup(Incremental.mergeStates(
        slices.map(Incremental.dailyTypeState(_, "event_type", "ts", "value")),
        Seq("day", "event_type")))
      assert(merged === full, s"slicing seed $seed diverged from the single-pass rollup")
    }
  }

  test("a state re-merged with an empty state is unchanged") {
    val base = events(("2024-01-01 10:00:00", "a", 1.23), ("2024-01-01 11:00:00", "a", 4.56))
    val st = Incremental.dailyTypeState(base, "event_type", "ts", "value")
    val emptyState = Incremental.dailyTypeState(
      base.filter("event_type = 'never'"), "event_type", "ts", "value")
    val merged = collectRollup(Incremental.mergeStates(Seq(st, emptyState),
      Seq("day", "event_type")))
    assert(merged === collectRollup(
      Incremental.mergeStates(Seq(st), Seq("day", "event_type"))))
    assert(merged === Map(("2024-01-01", "a") -> ((2L, 579L, 123L, 456L))))
  }

  test("sketch rollup: exact weekly distinct pinned; estimate within bound on hand fixture") {
    import spark.implicits._
    // 2024-01-01 is a Monday: week 1 = Jan 1-7 (users 1,2,3 — user 2
    // twice), week 2 = Jan 8-14 (users 2,3,4,5)
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"), (2L, "2024-01-02 10:00:00"),
      (2L, "2024-01-03 10:00:00"), (3L, "2024-01-07 23:00:00"),
      (2L, "2024-01-08 00:00:00"), (3L, "2024-01-09 10:00:00"),
      (4L, "2024-01-10 10:00:00"), (5L, "2024-01-14 10:00:00"))
      .toDF("user_id", "tss")
      .selectExpr("user_id", "cast(tss as timestamp) AS ts")
    val got = Incremental.sketchDistinctRollup(ev, "user_id", "ts")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      "2024-01-01" -> ((3L, true)),
      "2024-01-08" -> ((4L, true))))
  }

  test("streaming face: per-micro-batch states merged via foreachBatch == batch rollup") {
    // the production loop: each arriving micro-batch contributes ONE
    // partial state; the standing rollup is the merge of all states —
    // Structured Streaming picks the batch boundaries, so this is a
    // REAL arbitrary-slicing instance of the merge contract
    val sfDir = "/root/testdata/sf0.001"
    val stream = graft.streaming.EventStreams.readEventStream(spark, sfDir)
    val states = scala.collection.mutable.ArrayBuffer.empty[Array[org.apache.spark.sql.Row]]
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        states += Incremental.dailyTypeState(batch, "event_type", "ts", "value").collect()
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(states.nonEmpty && states.map(_.length).sum > 0, "no micro-batch states captured")
    val schema = Incremental.dailyTypeState(
      Tables.events(spark, sfDir), "event_type", "ts", "value").schema
    val stateDfs = states.toSeq.map(rows =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), schema))
    val merged = collectRollup(Incremental.mergeStates(stateDfs, Seq("day", "event_type")))
    val batch = collectRollup(Incremental.mergeStates(
      Seq(Incremental.dailyTypeState(Tables.events(spark, sfDir), "event_type", "ts", "value")),
      Seq("day", "event_type")))
    assert(merged === batch, "streaming state merge diverged from the batch rollup")
  }

  test("guards: empty state list, missing key, missing state column") {
    import spark.implicits._
    intercept[IllegalArgumentException](
      Incremental.mergeStates(Seq.empty, Seq("day")))
    val st = Incremental.dailyTypeState(
      events(("2024-01-01 10:00:00", "a", 1.0)), "event_type", "ts", "value")
    intercept[IllegalArgumentException](
      Incremental.mergeStates(Seq(st), Seq.empty))
    intercept[IllegalArgumentException](
      Incremental.mergeStates(Seq(st.drop("max_cents")), Seq("day", "event_type")))
  }
}
