package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** Structured Streaming specs: memory-sink smoke + batch/stream parity
  * (the same transform over readStream must equal the batch run). */
class EventStreamsSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestUtil.session()

  test("stateStorePartitions: sizing rule clamps and ceils") {
    import EventStreams.stateStorePartitions
    assert(stateStorePartitions(0L) == 1, "empty state still needs one partition")
    assert(stateStorePartitions(1L) == 1)
    assert(stateStorePartitions(65536L) == 1)
    assert(stateStorePartitions(65537L) == 2, "ceil, not floor")
    assert(stateStorePartitions(200000L) == 4)
    assert(stateStorePartitions(1000000000L) == 200, "capped at maxParallelism")
    assert(stateStorePartitions(1000L, targetKeysPerPartition = 100L) == 10)
    assert(stateStorePartitions(1000000000L, maxParallelism = 32) == 32)
    intercept[IllegalArgumentException](stateStorePartitions(-1L))
  }

  test("withStateStorePartitions: the count is frozen into the running query and the session is restored") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    EventStreams.withStateStorePartitions(spark, expectedStateKeys = 130000L) {
      assert(spark.conf.get(key) == "2", "ceil(130000/65536) = 2")
      val stream = EventStreams.readEventStream(spark, sfDir)
      val q = EventStreams.windowedTypeCounts(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("ssp_out").start()
      try {
        q.processAllAvailable()
        val sp = q.lastProgress.stateOperators(0).numShufflePartitions
        assert(sp == 2L,
          s"the stateful operator must run at the sized partition count: $sp")
      } finally q.stop()
    }
    assert(spark.conf.get(key) == before, "session setting restored")
  }

  test("windowed agg: stream (memory sink) == batch") {
    val stream = EventStreams.readEventStream(spark, sfDir)
    val q = EventStreams.windowedTypeCounts(stream)
      .writeStream.outputMode("append").format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      // append mode only emits windows closed by the watermark; compare
      // those against the batch equivalent restricted to the same horizon
      val streamed = spark.sql("SELECT * FROM win_out")
      val batch = EventStreams.windowedTypeCounts(Tables.events(spark, sfDir))
      val sCount = streamed.count()
      val bCount = batch.count()
      assert(sCount > 0, "stream emitted no closed windows")
      assert(sCount <= bCount)
      val joined = streamed.join(batch, Seq("window_start", "event_type"), "inner")
        .where(streamed("n") === batch("n") && streamed("cents") === batch("cents"))
      assert(joined.count() == sCount, "streamed windows disagree with batch results")
    } finally q.stop()
  }

  test("slidingActiveUsersExact: every event lands in exactly its two epoch-aligned windows") {
    import spark.implicits._
    val df = Seq(
      (1L, "2024-01-01 00:07:00"), // windows 00:00 and 00:05
      (1L, "2024-01-01 00:08:00"), // same user, same windows: distinct=1
      (2L, "2024-01-01 00:09:59"), // windows 00:00 and 00:05
      (3L, "2024-01-01 00:10:00")) // windows 00:05 and 00:10 (boundary: start-inclusive)
      .toDF("user_id", "tss")
      .selectExpr("user_id", "cast(tss as timestamp) AS ts")
    val got = EventStreams.slidingActiveUsersExact(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    assert(got(base) === ((2L, 3L)))            // u1(x2), u2
    assert(got(base + 300000L) === ((3L, 4L)))  // all three users
    assert(got(base + 600000L) === ((1L, 1L)))  // u3 only
    assert(got.size === 3)
    // total window memberships = 2 x events (the bounded 2x explode)
    assert(got.values.map(_._2).sum === 8L)
  }

  test("slidingActiveUsersExact: differential fuzz vs in-memory window membership") {
    var x = 1122334455L
    def nxt(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) >>> 2; x }
    (1 to 3).foreach { round =>
      val rows = (1 to 500).map(_ => (nxt() % 40, 1700000000000L + nxt() % 7200000L))
      val expected = rows
        .flatMap { case (u, ms) =>
          val w1 = (ms / 300000L) * 300000L
          Seq((w1, u), (w1 - 300000L, u))
        }
        .groupBy(_._1)
        .map { case (w, m) => w -> ((m.map(_._2).distinct.size.toLong, m.size.toLong)) }
      val df = {
        import spark.implicits._
        rows.toDF("user_id", "ms").selectExpr("user_id", "timestamp_millis(ms) AS ts")
      }
      val got = EventStreams.slidingActiveUsersExact(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === expected, s"fuzz round $round diverged")
    }
  }

  test("sessionize: bounded and total cents conservation") {
    import spark.implicits._
    val events = Tables.events(spark, sfDir).as[EventStreams.Event]
    val sessions = EventStreams.sessionize(events, gapMinutes = 30)
    // flatMapGroupsWithState on a batch Dataset runs the same state fn
    val sCents = sessions.selectExpr("sum(total_cents)").as[Long].head() +: Nil
    val bounded = EventStreams.sessionizeBounded(events, gapMinutes = 30)
    val totalCents = events.selectExpr("sum(cast(round(value * 100) as bigint))").as[Long].head()
    assert(bounded.selectExpr("sum(total_cents)").as[Long].head() == totalCents,
      "bounded sessionization must conserve total cents")
    assert(bounded.selectExpr("sum(n_events)").as[Long].head() == events.count())
    // sessions have positive durations and event counts
    assert(bounded.filter("session_end < session_start OR n_events <= 0").count() == 0)
    val _ = sCents
  }

  test("session_window variant emits exactly the bounded sessionizer's rows") {
    import spark.implicits._
    val events = Tables.events(spark, sfDir).as[EventStreams.Event]
    val bounded = EventStreams.sessionizeBounded(events, gapMinutes = 30)
      .selectExpr("user_id", "unix_millis(session_start) AS s", "unix_millis(session_end) AS e",
        "n_events", "total_cents")
    val native = EventStreams.sessionizeWindows(events.toDF(), gapMinutes = 30)
      .selectExpr("user_id", "unix_millis(session_start) AS s", "unix_millis(session_end) AS e",
        "n_events", "total_cents")
    assert(bounded.count() == native.count())
    assert(bounded.exceptAll(native).isEmpty && native.exceptAll(bounded).isEmpty,
      "session_window must reproduce the custom sessionizer exactly")
  }

  test("streaming dedup keeps one row per event_id") {
    val stream = EventStreams.readEventStream(spark, sfDir)
    val q = EventStreams.dedupStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT count(DISTINCT event_id) FROM dedup_out").head().getLong(0)
      val total = spark.sql("SELECT count(*) FROM dedup_out").head().getLong(0)
      assert(n == total)
      assert(total == Tables.events(spark, sfDir).count())
    } finally q.stop()
  }

  test("both sessionizers agree at the exact-gap boundary (merge at ==gap, split at gap+1ms)") {
    import spark.implicits._
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.Event
    val t0 = 1700000000000L
    val gapMs = 30L * 60 * 1000
    def run(deltaMs: Long): (Long, Long) = {
      val df = Seq(
        Event(1L, new java.sql.Timestamp(t0), 1L, "a", 1.0, "{}"),
        Event(2L, new java.sql.Timestamp(t0 + deltaMs), 1L, "a", 1.0, "{}")).toDF()
      (EventStreams.sessionizeWindows(df, gapMinutes = 30).count(),
        EventStreams.sessionizeBounded(df.as[Event], gapMinutes = 30).count())
    }
    // two events EXACTLY gap apart merge in both implementations
    // (session_window's overlap test is end-inclusive, matching the
    // custom path's `t - last <= gap` and the st01/st02 oracle's
    // `t - lag(t) > gap` new-session flag)
    assert(run(gapMs) == ((1L, 1L)), "exact-gap events must merge in BOTH sessionizers")
    // one millisecond past the gap splits in both
    assert(run(gapMs + 1) == ((2L, 2L)), "gap+1ms events must split in BOTH sessionizers")
  }

  test("stream-stream interval join: stream (memory sink) == batch == q38's match set") {
    // sf0.001 averages one event per ~43 min, so a 60 s window matches
    // nothing — one hour yields a meaningful pair set
    val winSec = 3600L
    val stream = EventStreams.readEventStream(spark, sfDir)
    val q = EventStreams.purchasesNearErrors(stream, windowSeconds = winSec)
      .writeStream.outputMode("append").format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT e_id, p_id FROM ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = EventStreams.purchasesNearErrors(
          Tables.events(spark, sfDir), windowSeconds = winSec)
        .select("e_id", "p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch,
        s"stream-stream join diverged from batch: ${streamed.size} vs ${batch.size}")
      assert(batch.nonEmpty, "fixture produced no error->purchase pairs")
      // same match set as the bucketed range-join operator (q38's plan)
      val w = winSec * 1000000L
      val ev = Tables.events(spark, sfDir)
        .withColumn("tm", org.apache.spark.sql.functions.expr("unix_micros(ts)"))
      val pts = ev.filter("event_type = 'purchase'")
        .selectExpr("event_id AS p_id", "tm AS pm")
      val ivs = ev.filter("event_type = 'error'")
        .selectExpr("event_id AS e_id", "tm AS w_start", s"tm + $w AS w_end")
      val bucketed = graft.operators.Joins.rangeJoin(pts, ivs, "pm", "w_start", "w_end", w)
        .select("e_id", "p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bucketed == batch)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: matched set == inner join; nulls single and never contradicted") {
    val winSec = 3600L
    val stream = EventStreams.readEventStream(spark, sfDir)
    val q = EventStreams.purchasesWithErrorAttribution(stream, windowSeconds = winSec)
      .writeStream.outputMode("append").format("memory").queryName("soj_out").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row): (Long, Option[Long]) =
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
      val streamed = spark.sql("SELECT p_id, e_id FROM soj_out").collect().map(key).toSeq
      val batch = EventStreams.purchasesWithErrorAttribution(
          Tables.events(spark, sfDir), windowSeconds = winSec)
        .select("p_id", "e_id").collect().map(key).toSet
      // the batch form is the plain left join: its matched subset must
      // equal the inner operator's pair set, and every purchase must
      // appear — unmatched ones exactly once, with NULL
      val inner = EventStreams.purchasesNearErrors(
          Tables.events(spark, sfDir), windowSeconds = winSec)
        .select("p_id", "e_id").collect().map(key).toSet
      assert(inner.nonEmpty, "fixture produced no matches at this window")
      assert(batch.filter(_._2.isDefined) == inner)
      val purchases = Tables.events(spark, sfDir)
        .filter("event_type = 'purchase'")
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(batch.map(_._1) == purchases, "left join must emit every purchase")
      val matchedP = batch.filter(_._2.isDefined).map(_._1)
      assert(batch.filter(_._2.isEmpty).map(_._1).intersect(matchedP).isEmpty,
        "a matched purchase must not also carry a NULL row (batch)")
      // streaming without flush sentinels: every match emits (matches
      // never wait on the watermark); NULLs may be withheld at the
      // tail but each emitted row is a batch row, emitted once, and
      // never contradicts a match — the eviction-correctness half;
      // exact NULL completeness is the st11 query's sentinel-driven
      // oracle check
      assert(streamed.distinct.size == streamed.size,
        "append mode must emit each row at most once")
      val sSet = streamed.toSet
      assert(sSet.subsetOf(batch), s"streamed rows not in batch: ${sSet.diff(batch)}")
      assert(sSet.filter(_._2.isDefined) == inner,
        "all matched pairs must emit without sentinels")
      assert(sSet.filter(_._2.isEmpty).map(_._1).intersect(matchedP).isEmpty,
        "a matched purchase must never also emit NULL (stream)")
    } finally q.stop()
  }

  test("stream-static segment revenue: stream (memory sink) == batch") {
    val dim = Tables.customer(spark, sfDir)
      .selectExpr("c_custkey AS user_id", "c_mktsegment AS segment")
    val stream = EventStreams.readEventStream(spark, sfDir)
    val q = EventStreams.segmentRevenue(stream, dim, watermark = Some("1 hour"))
      .writeStream.outputMode("append").format("memory").queryName("seg_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM seg_out").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
      val batch = EventStreams.segmentRevenue(Tables.events(spark, sfDir), dim)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(streamed.nonEmpty, "stream emitted no closed windows")
      // append mode withholds windows the final watermark hasn't
      // passed — every emitted window must match batch cell-exactly
      streamed.foreach { case (k, v) =>
        assert(batch.get(k).contains(v), s"window $k diverged: $v vs ${batch.get(k)}")
      }
      // the watermark may withhold cells of the FINAL day only (one
      // per segment) — every earlier window must have been emitted
      val maxWin = batch.keys.map(_._1).max
      val withheld = batch.keySet -- streamed.keySet
      assert(withheld.forall(_._1 == maxWin),
        s"watermark withheld non-final windows: ${withheld.filter(_._1 != maxWin)}")
    } finally q.stop()
  }

  import org.apache.spark.sql.functions.{col => fcol}
  test("full-outer interval join: bucketed face + reconcile == plain full join (cross-copy trap)") {
    import spark.implicits._
    // Hand-built trap: error e1 at t=59s matches purchase p1 at t=61s
    // through its SECOND bucket copy only — its first copy goes
    // unmatched and emits a spurious NULL the reconcile must drop.
    // e2 at t=500s matches nothing (true NULL). p2 at t=300s has no
    // preceding error (purchase-side NULL).
    val rows = Seq(
      (1L, 59000L, "error"), (2L, 61000L, "purchase"),
      (3L, 500000L, "error"), (4L, 300000L, "purchase"))
      .toDF("event_id", "ms", "event_type")
      .selectExpr("event_id", "timestamp_millis(ms) AS ts", "event_type")
    val raw = EventStreams.errorPurchaseFullOuter(rows)
      .selectExpr("p_id", "e_id", "unix_micros(p_ts) - unix_micros(e_ts) AS gap_us")
    // the raw bucketed output MUST contain the spurious copy (else the
    // trap isn't a trap and reconcile is untested)
    assert(raw.filter(fcol("p_id").isNull && fcol("e_id") === 1L).count() == 1L,
      "e1's unmatched first bucket copy should emit a raw NULL row")
    val got = EventStreams.reconcileFullOuter(raw)
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(got == Set(
      (Some(2L), Some(1L)),   // matched through the second copy
      (Some(4L), None),       // purchase-side NULL
      (None, Some(3L))))      // true error-side NULL — exactly once

    // and on the real corpus: batch face + reconcile == plain full join
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(fcol("ts"), fcol("event_type"), fcol("event_id"))
    val engine = EventStreams.reconcileFullOuter(
      EventStreams.errorPurchaseFullOuter(ev)
        .selectExpr("p_id", "e_id",
          "unix_micros(p_ts) - unix_micros(e_ts) AS gap_us"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    val p = ev.filter(fcol("event_type") === "purchase")
      .select(fcol("event_id").as("p_id"), fcol("ts").as("p_ts"))
    val e = ev.filter(fcol("event_type") === "error")
      .select(fcol("event_id").as("e_id"), fcol("ts").as("e_ts"))
    val plain = p.join(e,
        fcol("p_ts") >= fcol("e_ts") &&
          fcol("p_ts") < fcol("e_ts") + org.apache.spark.sql.functions.expr("INTERVAL 60 SECONDS"),
        "full_outer")
      .selectExpr("p_id", "e_id", "unix_micros(p_ts) - unix_micros(e_ts) AS gap_us")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(engine == plain, "bucketed full outer + reconcile must equal the plain full join")
  }

  test("right-outer interval join: bucketed face + reconcile == plain right join (cross-copy trap)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => fc, expr => fe}
    // e1 matches p1 only via its SECOND bucket copy (first copy's raw
    // NULL must be dropped by reconcile); e2 matches nothing (true
    // NULL row, exactly once); p2 is unmatched and must NOT emit
    val rows = Seq(
      (1L, 59000L, "error"), (2L, 61000L, "purchase"),
      (3L, 500000L, "error"), (4L, 300000L, "purchase"))
      .toDF("event_id", "ms", "event_type")
      .selectExpr("event_id", "timestamp_millis(ms) AS ts", "event_type")
    val raw = EventStreams.errorPurchaseRightOuter(rows)
      .selectExpr("p_id", "e_id", "unix_micros(p_ts) - unix_micros(e_ts) AS gap_us")
    assert(raw.filter(fc("p_id").isNull && fc("e_id") === 1L).count() == 1L,
      "e1's unmatched first bucket copy should emit a raw NULL row")
    val got = EventStreams.reconcileFullOuter(raw)
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(got == Set((Some(2L), Some(1L)), (None, Some(3L))),
      "matched once + one true error NULL; unmatched purchases never emit")

    // real corpus: batch face + reconcile == plain right join
    val ev = Tables.events(spark, sfDir)
      .select(fc("ts"), fc("event_type"), fc("event_id"))
    val engine = EventStreams.reconcileFullOuter(
      EventStreams.errorPurchaseRightOuter(ev)
        .selectExpr("p_id", "e_id",
          "unix_micros(p_ts) - unix_micros(e_ts) AS gap_us"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    val p = ev.filter(fc("event_type") === "purchase")
      .select(fc("event_id").as("p_id"), fc("ts").as("p_ts"))
    val e = ev.filter(fc("event_type") === "error")
      .select(fc("event_id").as("e_id"), fc("ts").as("e_ts"))
    val plain = p.join(e,
        fc("p_ts") >= fc("e_ts") &&
          fc("p_ts") < fc("e_ts") + fe("INTERVAL 60 SECONDS"),
        "right_outer")
      .selectExpr("p_id", "e_id", "unix_micros(p_ts) - unix_micros(e_ts) AS gap_us")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(engine == plain, "bucketed right outer + reconcile must equal the plain right join")
  }

  test("left-semi interval join: bucket copies and multi-matches collapse to existence (batch face)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => fc, expr => fe}
    // p1 matches e1 only through e1's SECOND bucket copy; p2 matches
    // TWO errors (e1 via copy + e2 same-bucket) and must emit once;
    // p3 matches nothing and must not emit at all
    val rows = Seq(
      (1L, 59000L, "error"), (2L, 61000L, "purchase"),
      (3L, 70000L, "error"), (4L, 100000L, "purchase"),
      (5L, 300000L, "purchase"))
      .toDF("event_id", "ms", "event_type")
      .selectExpr("event_id", "timestamp_millis(ms) AS ts", "event_type")
    val got = EventStreams.purchasesAfterErrors(rows)
      .select(fc("p_id")).collect().map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(2L, 4L), "existence once per purchase, no copy duplication")

    // real corpus: batch semi face == plain (unbucketed) left semi
    val ev = Tables.events(spark, sfDir)
      .select(fc("ts"), fc("event_type"), fc("event_id"))
    val engine = EventStreams.purchasesAfterErrors(ev)
      .select(fc("p_id")).collect().map(_.getLong(0)).toSet
    val p = ev.filter(fc("event_type") === "purchase")
      .select(fc("event_id").as("p_id"), fc("ts").as("p_ts"))
    val e = ev.filter(fc("event_type") === "error")
      .select(fc("event_id").as("e_id"), fc("ts").as("e_ts"))
    val plain = p.join(e,
        fc("p_ts") >= fc("e_ts") &&
          fc("p_ts") < fc("e_ts") + fe("INTERVAL 60 SECONDS"),
        "left_semi")
      .select(fc("p_id")).collect().map(_.getLong(0)).toSet
    assert(engine == plain, "bucketed semi must equal the plain left semi")
  }
}
