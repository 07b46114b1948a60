package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Events

/** Funnel ordering semantics (strict after, out-of-order events,
  * repeat events), retention offset math, props extraction typing,
  * and share arithmetic — all on hand-built fixtures. */
class EventsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def ev(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("user_id", "event_type", "tss")
      .selectExpr("user_id", "event_type", "cast(tss as timestamp) AS ts")
  }

  private def runFunnel(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    Events.funnel(df, "event_type", "user_id", "ts", Seq("view", "click", "purchase"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap

  test("funnel: strictly-after ordering, out-of-order drops, repeats take the earliest") {
    val df = ev(
      // user 1: clean conversion
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:01:00"),
      (1L, "purchase", "2024-01-01 10:02:00"),
      // user 2: click BEFORE the first view — no click stage
      (2L, "click", "2024-01-02 09:00:00"),
      (2L, "view", "2024-01-02 10:00:00"),
      (2L, "purchase", "2024-01-02 11:00:00"),
      // user 3: click at exactly the view timestamp — strict > rejects
      (3L, "view", "2024-01-03 10:00:00"),
      (3L, "click", "2024-01-03 10:00:00"),
      // user 4: repeated views; the EARLIEST anchors the chain, so the
      // click between the two views still counts
      (4L, "view", "2024-01-04 08:00:00"),
      (4L, "click", "2024-01-04 08:30:00"),
      (4L, "view", "2024-01-04 09:00:00"),
      // user 5: never viewed
      (5L, "purchase", "2024-01-05 10:00:00"))
    assert(runFunnel(df) === Map("view" -> 4L, "click" -> 2L, "purchase" -> 1L))
  }

  test("funnel: guards on empty and duplicate stage lists") {
    val df = ev((1L, "view", "2024-01-01 00:00:00"))
    intercept[IllegalArgumentException](
      Events.funnel(df, "event_type", "user_id", "ts", Seq.empty))
    intercept[IllegalArgumentException](
      Events.funnel(df, "event_type", "user_id", "ts", Seq("view", "view")))
  }

  test("retention: offsets measured from each user's own first day, window clipped") {
    val df = ev(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "view", "2024-01-01 23:00:00"), // same day: one active day
      (1L, "view", "2024-01-03 10:00:00"), // offset 2
      (2L, "view", "2024-01-02 10:00:00"),
      (2L, "view", "2024-01-03 10:00:00"), // offset 1
      (2L, "view", "2024-01-20 10:00:00")) // offset 18: clipped at 7
    val got = Events.retentionCohorts(df, "user_id", "ts", 7)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("2024-01-01", 0L) -> 1L, ("2024-01-01", 2L) -> 1L,
      ("2024-01-02", 0L) -> 1L, ("2024-01-02", 1L) -> 1L))
  }

  test("props extraction: missing keys go null, negatives parse, sums exact") {
    import spark.implicits._
    val df = Seq(
      ("click", """{"k": 7}"""),
      ("click", """{"k": -3}"""),
      ("click", """{"other": 1}"""),
      ("view", """{"k": 100}"""))
      .toDF("event_type", "props")
    val got = Events.propsKeyStats(df, "event_type", "props", "k")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got("click") == ((3L, 2L, 4L, -3L, 7L)))
    assert(got("view") == ((1L, 1L, 100L, 100L, 100L)))
  }

  test("funnel: differential fuzz vs an in-memory reference on seeded random streams") {
    val stages = Seq("view", "click", "purchase")
    def reference(rows: Seq[(Long, String, Long)]): Map[String, Long] = {
      // frontier recurrence, literally: t_0 = min ts of stage-0;
      // t_i = min ts of stage-i events strictly after t_{i-1}
      val byUser = rows.groupBy(_._1)
      val perStage = Array.fill(stages.size)(0L)
      byUser.values.foreach { evs =>
        var prev = Option.empty[Long]
        var alive = true
        stages.zipWithIndex.foreach { case (st, i) =>
          if (alive) {
            val ts = evs.filter(e => e._2 == st && prev.forall(e._3 > _)).map(_._3)
            if (ts.isEmpty) alive = false
            else { perStage(i) += 1; prev = Some(ts.min) }
          }
        }
      }
      stages.zipWithIndex.map { case (st, i) => st -> perStage(i) }.toMap
    }
    val types = Vector("view", "click", "purchase", "error")
    var x = 987654321L
    def nxt(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) >>> 2; x }
    (1 to 3).foreach { round =>
      val rows = (1 to 400).map { _ =>
        (nxt() % 25, types((nxt() % types.size).toInt), 1700000000000L + nxt() % 86400000)
      }
      val df = {
        import spark.implicits._
        rows.toDF("user_id", "event_type", "ms")
          .selectExpr("user_id", "event_type", "timestamp_millis(ms) AS ts")
      }
      assert(runFunnel(df) === reference(rows), s"fuzz round $round diverged")
      // completions must agree with the final stage count, anchor at
      // each completer's earliest stage-0 event, and end after it
      val comp = Events.funnelCompletions(df, "event_type", "user_id", "ts", stages)
        .collect()
      assert(comp.length.toLong == reference(rows)(stages.last),
        s"fuzz round $round: completions != last-stage count")
      comp.foreach(r => assert(!r.getTimestamp(2).before(r.getTimestamp(1))))
    }
  }

  test("session funnel: a stage reached only in a LATER session does not count") {
    val df = ev(
      // user 1: view + click inside one session
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:10:00"),
      // user 2: click 60 min after the view — new session; the plain
      // funnel counts it, the session funnel must not
      (2L, "view", "2024-01-01 10:00:00"),
      (2L, "click", "2024-01-01 11:00:00"),
      // user 3: two complete view sessions -> stage-1 counts BOTH
      (3L, "view", "2024-01-02 08:00:00"),
      (3L, "view", "2024-01-02 12:00:00"))
    val plain = runFunnel(df)
    assert(plain("click") == 2L, "the plain funnel ignores session boundaries")
    val got = Events.sessionFunnel(df, "event_type", "user_id", "ts",
        Seq("view", "click", "purchase"), gapMinutes = 30)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got === Map("view" -> 4L, "click" -> 1L, "purchase" -> 0L))
  }

  test("rfm: quartile scores against hand-derived thresholds; recency digit inverted") {
    import spark.implicits._
    // four users, one event each on distinct days with distinct values
    // -> per-user metrics 0/1/2/3 age days, freq all 1, cents
    // 100/200/300/400. Interpolated quartiles of (0,1,2,3) are
    // 0.75/1.5/2.25 -> ages 0,1,2,3 score 4,3,2,1 on recency (most
    // recent = 4); freq all equal -> everyone scores 1 (nothing
    // exceeds any threshold); cents quartiles 175/250/325 -> m scores
    // 1,2,3,4.
    val df = Seq(
      (1L, "view", "2024-01-04 10:00:00", 1.00),
      (2L, "view", "2024-01-03 10:00:00", 2.00),
      (3L, "view", "2024-01-02 10:00:00", 3.00),
      (4L, "view", "2024-01-01 10:00:00", 4.00))
      .toDF("user_id", "event_type", "tss", "value")
      .selectExpr("user_id", "event_type", "cast(tss as timestamp) AS ts", "value")
    val got = Events.rfmSegments(df, "user_id", "ts", "value")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(got === Map(
      1L -> ((4L, 1L, 1L, 411L)),
      2L -> ((3L, 1L, 2L, 312L)),
      3L -> ((2L, 1L, 3L, 213L)),
      4L -> ((1L, 1L, 4L, 114L))))
  }

  test("daily share: exact micro division") {
    val df = ev(
      (1L, "error", "2024-01-01 01:00:00"),
      (2L, "view", "2024-01-01 02:00:00"),
      (3L, "view", "2024-01-01 03:00:00"),
      (4L, "error", "2024-01-02 01:00:00"))
    val got = Events.dailyTypeShare(df, "event_type", "ts", "error")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      "2024-01-01" -> ((3L, 1L, 333333L)),
      "2024-01-02" -> ((1L, 1L, 1000000L))))
  }

  private def evId(rows: (Long, Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "event_type", "tss")
      .selectExpr("event_id", "user_id", "event_type", "cast(tss as timestamp) AS ts")
  }

  test("transition matrix: per-user ordering, cross-user isolation, exact micro probs") {
    val df = evId(
      // user 1: view -> click -> view
      (1L, 1L, "view", "2024-01-01 10:00:00"),
      (2L, 1L, "click", "2024-01-01 10:01:00"),
      (3L, 1L, "view", "2024-01-01 10:02:00"),
      // user 2: view -> purchase (a lone trailing event emits nothing)
      (4L, 2L, "view", "2024-01-02 09:00:00"),
      (5L, 2L, "purchase", "2024-01-02 09:30:00"),
      // user 3: single event — no transition at all
      (6L, 3L, "view", "2024-01-03 08:00:00"))
    val got = Events.transitionMatrix(df, "event_type", "user_id", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // from 'view': 2 transitions (v->c by user 1, v->p by user 2), so
    // each carries p = 1e6 div 2; user 1's trailing view emits nothing
    assert(got === Map(
      ("view", "click") -> ((1L, 2L, 500000L)),
      ("view", "purchase") -> ((1L, 2L, 500000L)),
      ("click", "view") -> ((1L, 1L, 1000000L))))
  }

  test("transition matrix: equal timestamps break by the unique id column") {
    val df = evId(
      (10L, 1L, "a", "2024-01-01 10:00:00"),
      (11L, 1L, "b", "2024-01-01 10:00:00"), // same ts — id orders a before b
      (12L, 1L, "c", "2024-01-01 10:01:00"))
    val got = Events.transitionMatrix(df, "event_type", "user_id", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("a", "b"), ("b", "c")))
  }

  test("last-touch attribution: most recent non-conversion wins; orphan conversions drop") {
    import spark.implicits._
    val df = Seq(
      // user 1: view, click, purchase(12.00) -> click credited
      (1L, 1L, "view", "2024-01-01 10:00:00", 0.0),
      (2L, 1L, "click", "2024-01-01 10:05:00", 0.0),
      (3L, 1L, "purchase", "2024-01-01 10:10:00", 12.0),
      // user 1 again: SECOND purchase with no new touch — the earlier
      // click is still the last non-purchase event (purchases never
      // credit each other)
      (4L, 1L, "purchase", "2024-01-01 11:00:00", 5.0),
      // user 2: purchase FIRST (no preceding touch -> dropped), then
      // view, purchase -> view credited
      (5L, 2L, "purchase", "2024-01-02 09:00:00", 99.0),
      (6L, 2L, "view", "2024-01-02 09:10:00", 0.0),
      (7L, 2L, "purchase", "2024-01-02 09:20:00", 3.5))
      .toDF("event_id", "user_id", "event_type", "tss", "value")
      .selectExpr("event_id", "user_id", "event_type",
        "cast(tss as timestamp) AS ts", "value")
    val got = Events.lastTouchAttribution(df, "event_type", "user_id",
        "ts", "event_id", "value", "purchase")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map("click" -> ((2L, 1700L)), "view" -> ((1L, 350L))))
  }

  test("typePaths: trigram counting, rank total-order, cross-user isolation, guards") {
    val df = evId(
      // user 1: a b c a b c -> trigrams abc, bca, cab, abc
      (1L, 1L, "a", "2024-01-01 10:00:00"),
      (2L, 1L, "b", "2024-01-01 10:01:00"),
      (3L, 1L, "c", "2024-01-01 10:02:00"),
      (4L, 1L, "a", "2024-01-01 10:03:00"),
      (5L, 1L, "b", "2024-01-01 10:04:00"),
      (6L, 1L, "c", "2024-01-01 10:05:00"),
      // user 2: b c a -> bca (no cross-user chaining with user 1)
      (7L, 2L, "b", "2024-01-02 10:00:00"),
      (8L, 2L, "c", "2024-01-02 10:01:00"),
      (9L, 2L, "a", "2024-01-02 10:02:00"))
    val got = Events.typePaths(df, "event_type", "user_id", "ts", "event_id",
        n = 3, topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    // abc x2 ranks 1; bca x2 ranks 2 (count tie broken by path); cab x1
    assert(got === Map(
      ("a", "b", "c") -> ((2L, 1L)),
      ("b", "c", "a") -> ((2L, 2L)),
      ("c", "a", "b") -> ((1L, 3L))))
    intercept[IllegalArgumentException](
      Events.typePaths(df, "event_type", "user_id", "ts", "event_id", 1, 5))
  }

  test("hourlyGapFill: zero-filled gap hours, carry-forward, leading gap stays null") {
    import spark.implicits._
    val df = Seq(
      // type x: data in hours 10 and 13 (gap at 11, 12)
      (1L, "x", "2024-01-01 10:15:00", 1.0),
      (2L, "x", "2024-01-01 10:45:00", 2.0),
      (3L, "x", "2024-01-01 13:05:00", 4.0),
      // type y: data only in hour 13 -> leading hours 10-12 all null
      (4L, "y", "2024-01-01 13:30:00", 8.0))
      .toDF("event_id", "event_type", "tss", "value")
      .selectExpr("event_type", "cast(tss as timestamp) AS ts", "value")
    val got = Events.hourlyGapFill(df, "event_type", "ts", "value")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long])))).toMap
    val h10 = java.time.Instant.parse("2024-01-01T10:00:00Z").toEpochMilli
    def h(i: Int) = h10 + i * 3600000L
    assert(got.size === 8, "spine must be 4 hours x 2 types")
    assert(got((h(0), "x")) === ((2L, true, Some(300L), Some(300L))))
    assert(got((h(1), "x")) === ((0L, false, None, Some(300L))), "gap carries forward")
    assert(got((h(2), "x")) === ((0L, false, None, Some(300L))))
    assert(got((h(3), "x")) === ((1L, true, Some(400L), Some(400L))))
    assert(got((h(0), "y")) === ((0L, false, None, None)), "leading gap stays null")
    assert(got((h(3), "y")) === ((1L, true, Some(800L), Some(800L))))
  }

  test("stickiness: trailing-7-day distinct via bounded replication") {
    val df = ev(
      (1L, "view", "2024-01-01 10:00:00"),
      (2L, "view", "2024-01-01 11:00:00"),
      (1L, "view", "2024-01-05 10:00:00"),   // user 1 again inside the window
      (3L, "view", "2024-01-05 11:00:00"),
      (4L, "view", "2024-01-20 10:00:00"))   // far future: fresh window
    val got = Events.stickiness(df, "user_id", "ts")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // Jan 1: dau 2, wau 2; Jan 5: dau 2 (users 1,3), wau = users seen
    // in Dec30..Jan5 = {1,2,3} = 3 -> 666666; Jan 20: isolated
    assert(got === Map(
      "2024-01-01" -> ((2L, 2L, 1000000L)),
      "2024-01-05" -> ((2L, 3L, 666666L)),
      "2024-01-20" -> ((1L, 1L, 1000000L))))
  }

  test("dailyAnomalies: integer cross-multiplied spike/dip; short history never flags") {
    // type 'a': 1/day on Jan 1-4, then 9 on Jan 5 (spike: 9*4 > 2*4),
    // then 0-event days don't exist as rows; Jan 6 back to 1 (no flag:
    // trailing {1,1,1,1,9}=13, 1*5 < 2*13 and 2*1*5=10 < 13 -> DIP)
    val rows = (1 to 4).map(i => (i.toLong, "a", f"2024-01-0$i%d 10:00:00")) ++
      (100L to 108L).map(j => (j, "a", "2024-01-05 10:00:00")) :+
      ((200L, "a", "2024-01-06 10:00:00"))
    val df = ev(rows: _*)
    val got = Events.dailyAnomalies(df, "event_type", "ts")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(got("2024-01-01") === ((1L, 0L, 0L, false, false)), "no history, no flag")
    assert(got("2024-01-03") === ((1L, 2L, 2L, false, false)), "below minDays, no flag")
    assert(got("2024-01-05") === ((9L, 4L, 4L, true, false)), "9*4 > 2*4 spikes")
    assert(got("2024-01-06") === ((1L, 13L, 5L, false, true)), "2*1*5 < 13 dips")
  }

  test("peakConcurrency: inclusive endpoints, midnight split, per-day peaks") {
    import spark.implicits._
    def ms(s: String) = java.time.Instant.parse(s).toEpochMilli
    val sessions = Seq(
      // day 1: A 10-11, B 10:30-12, C starts EXACTLY when A ends
      (1L, ms("2024-01-01T10:00:00Z"), ms("2024-01-01T11:00:00Z")),
      (2L, ms("2024-01-01T10:30:00Z"), ms("2024-01-01T12:00:00Z")),
      (3L, ms("2024-01-01T11:00:00Z"), ms("2024-01-01T11:30:00Z")),
      // D spans midnight into day 2
      (4L, ms("2024-01-01T23:00:00Z"), ms("2024-01-02T01:00:00Z")))
      .toDF("user_id", "s_ms", "e_ms")
    val got = Events.peakConcurrency(sessions, "user_id", "s_ms", "e_ms")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // day 1: 4 segments (A, B, C, D's first); at 11:00 the start of C
    // sweeps before the end of A (inclusive overlap) -> peak 3
    // day 2: D's second segment alone -> peak 1
    assert(got === Map(
      "2024-01-01" -> ((4L, 3L)),
      "2024-01-02" -> ((1L, 1L))))
  }

  test("cumulativeDistinct: first-seen decomposition — rejoining users never recount") {
    val df = ev(
      (1L, "view", "2024-01-01 10:00:00"),
      (2L, "view", "2024-01-01 11:00:00"),
      (1L, "view", "2024-01-02 10:00:00"), // user 1 again: NOT new
      (3L, "view", "2024-01-03 10:00:00"),
      (1L, "click", "2024-01-03 10:00:00")) // same user, other type: new there
    val got = Events.cumulativeDistinct(df, "event_type", "user_id", "ts")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      ("2024-01-01", "view") -> ((2L, 2L)),
      ("2024-01-02", "view") -> ((0L, 2L)),
      ("2024-01-03", "view") -> ((1L, 3L)),
      ("2024-01-03", "click") -> ((1L, 1L))))
  }

  test("funnelBy: per-segment counts sum to the plain funnel's stage counts") {
    import spark.implicits._
    val df = ev(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:01:00"),
      (2L, "view", "2024-01-02 10:00:00"),
      (3L, "view", "2024-01-03 10:00:00"),
      (3L, "click", "2024-01-03 10:30:00"))
    val dim = Seq((1L, "gold"), (2L, "gold"), (3L, "silver")).toDF("uid", "segment")
    val by = Events.funnelBy(df, "event_type", "user_id", "ts",
        Seq("view", "click"), dim)
      .collect().map(r => (r.getLong(0), r.getString(2)) -> r.getLong(3)).toMap
    assert(by === Map(
      (1L, "gold") -> 2L, (1L, "silver") -> 1L,
      (2L, "gold") -> 1L, (2L, "silver") -> 1L))
    // the marginal over segments is the plain funnel
    val plain = runFunnel(df.filter("event_type in ('view','click')"))
    assert(by.filter(_._1._1 == 1L).values.sum === plain("view"))
    assert(by.filter(_._1._1 == 2L).values.sum === plain("click"))
  }

  test("typePaths(n=2) counts agree with transitionMatrix — cross-operator invariant") {
    val df = evId(
      (1L, 1L, "view", "2024-01-01 10:00:00"),
      (2L, 1L, "click", "2024-01-01 10:01:00"),
      (3L, 1L, "view", "2024-01-01 10:02:00"),
      (4L, 2L, "view", "2024-01-02 09:00:00"),
      (5L, 2L, "purchase", "2024-01-02 09:30:00"))
    val paths = Events.typePaths(df, "event_type", "user_id", "ts", "event_id",
        n = 2, topN = 100)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val matrix = Events.transitionMatrix(df, "event_type", "user_id", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(paths === matrix, "bigram paths and the transition matrix count the same pairs")
  }

  test("peakConcurrency: differential fuzz vs an in-memory sweep (incl. midnight spans)") {
    import spark.implicits._
    var x = 31337L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
    // 120 random sessions over ~5 days, lengths up to 30h (forcing
    // multi-day segments)
    val sessions = (1 to 120).map { i =>
      val s = base + nxt() % (5L * 86400000L)
      (i.toLong, s, s + nxt() % (30L * 3600000L))
    }
    val got = Events.peakConcurrency(sessions.toDF("user_id", "s_ms", "e_ms"),
        "user_id", "s_ms", "e_ms")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // in-memory twin: same day segmentation + inclusive sweep
    val segs = sessions.flatMap { case (_, s, e) =>
      val d0 = s / 86400000L
      val d1 = e / 86400000L
      (d0 to d1).map { d =>
        val dayStart = d * 86400000L
        (d, math.max(s, dayStart), math.min(e, dayStart + 86399999L))
      }
    }
    val want = segs.groupBy(_._1).map { case (d, ss) =>
      val deltas = ss.flatMap { case (_, a, b) => Seq((a, 1L), (b, -1L)) }
        .sortBy { case (t, delta) => (t, -delta) }
      var run = 0L
      var peak = 0L
      deltas.foreach { case (_, dl) => run += dl; peak = math.max(peak, run) }
      java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
        .format(java.time.LocalDate.ofEpochDay(d)) ->
        ((ss.size.toLong, peak))
    }
    assert(got === want, "distributed sweep diverged from the in-memory reference")
  }

  test("chi-square drift: hand-computed 2x2, including an absent cell") {
    // before: 3 view, 1 error; after: 1 view, 3 error, 2 signup
    // (signup has NO before-cell — its (0-e)^2/e term must still count)
    val df = ev(
      (1L, "view", "2024-01-01 01:00:00"),
      (2L, "view", "2024-01-02 01:00:00"),
      (3L, "view", "2024-01-03 01:00:00"),
      (4L, "error", "2024-01-04 01:00:00"),
      (5L, "view", "2024-01-20 01:00:00"),
      (6L, "error", "2024-01-21 01:00:00"),
      (7L, "error", "2024-01-22 01:00:00"),
      (8L, "error", "2024-01-23 01:00:00"),
      (9L, "signup", "2024-01-24 01:00:00"),
      (10L, "signup", "2024-01-25 01:00:00"))
    val got = Events.typeDriftChi2(df, "event_type", "ts", "2024-01-16 00:00:00")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // N=10, col totals: before 4, after 6
    def cell(o: Long, rowTot: Long, colTot: Long): Long = {
      val e = (rowTot * colTot).toDouble / 10.0
      math.round((o - e) * (o - e) / e * 1e6)
    }
    assert(got("view") === ((3L, 1L, cell(3, 4, 4) + cell(1, 4, 6))))
    assert(got("error") === ((1L, 3L, cell(1, 4, 4) + cell(3, 4, 6))))
    assert(got("signup") === ((0L, 2L, cell(0, 2, 4) + cell(2, 2, 6))))
  }

  test("cohortLtv: Monday-week cohorts, day-diff age, cumulative cents, per-member floor") {
    import spark.implicits._
    val df = Seq(
      // u1: first purchase Wed 2024-01-10 -> cohort Mon 2024-01-08;
      // later purchases 8 and 15 days on -> ages 1 and 2
      (1L, "view", "2023-12-01 09:00:00", 99.99), // pre-purchase noise: no cohort effect
      (1L, "purchase", "2024-01-10 09:00:00", 10.00),
      (1L, "purchase", "2024-01-18 09:00:00", 5.00),
      (1L, "purchase", "2024-01-25 09:00:00", 2.50),
      // u2: same cohort week, single purchase
      (2L, "purchase", "2024-01-12 09:00:00", 20.00),
      // u3: next cohort week
      (3L, "purchase", "2024-01-16 09:00:00", 1.00))
      .toDF("user_id", "event_type", "tss", "value")
      .selectExpr("user_id", "event_type", "cast(tss as timestamp) AS ts", "value")
    val got = Events.cohortLtv(df, "event_type", "user_id", "ts", "value", "purchase")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // (cohort_users, n_active, cents, cum_cents, ltv_cents_per_user)
    assert(got(("2024-01-08", 0L)) === ((2L, 2L, 3000L, 3000L, 1500L)))
    assert(got(("2024-01-08", 1L)) === ((2L, 1L, 500L, 3500L, 1750L)))
    assert(got(("2024-01-08", 2L)) === ((2L, 1L, 250L, 3750L, 1875L)))
    assert(got(("2024-01-15", 0L)) === ((1L, 1L, 100L, 100L, 100L)))
    assert(got.size === 4)
  }

  test("cohortLtv: differential fuzz vs an in-memory reference on seeded random streams") {
    import java.time.{DayOfWeek, LocalDate}
    import java.time.temporal.{ChronoUnit, TemporalAdjusters}
    def reference(rows: Seq[(Long, String, Long, Double)])
        : Map[(String, Long), (Long, Long, Long, Long, Long)] = {
      val p = rows.filter(_._2 == "purchase")
        .map(r => (r._1, LocalDate.ofEpochDay(r._3 / 86400000L), math.round(r._4 * 100)))
      val firstByUser = p.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).min }
      def wk(d: LocalDate): String =
        d.`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY)).toString
      val cohortUsers = firstByUser.values.groupBy(wk).map { case (c, ds) => c -> ds.size.toLong }
      val grid = p.groupBy { case (u, od, _) =>
        (wk(firstByUser(u)), ChronoUnit.DAYS.between(firstByUser(u), od) / 7)
      }.map { case (k, es) =>
        k -> ((es.map(_._1).distinct.size.toLong, es.map(_._3).sum))
      }
      grid.keys.groupBy(_._1).flatMap { case (c, ks) =>
        var cum = 0L
        ks.toSeq.sortBy(_._2).map { k =>
          val (nAct, cents) = grid(k)
          cum += cents
          k -> ((cohortUsers(c), nAct, cents, cum, cum / cohortUsers(c)))
        }
      }
    }
    var x = 24681357L
    def nxt(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) >>> 2; x }
    val types = Vector("purchase", "view", "purchase", "error")
    (1 to 3).foreach { round =>
      // values skew NEGATIVE (refunds) so cumulative cents cross zero:
      // the per-member division must agree across Spark `div`, DuckDB
      // `//`, and Java `/` — all three truncate toward zero (DuckDB
      // verified by hand: (-7) // 2 = -3), so refund-dominated cohorts
      // hash-compare too (ADVICE r10 hypothesized a floor/truncate
      // divergence here; this fuzz pins that there is none)
      val rows = (1 to 300).map { _ =>
        (nxt() % 20, types((nxt() % types.size).toInt),
          1700000000000L + nxt() % (45L * 86400000L),
          (nxt() % 10000 - 6000) / 100.0)
      }
      val df = {
        import spark.implicits._
        rows.toDF("user_id", "event_type", "ms", "value")
          .selectExpr("user_id", "event_type", "timestamp_millis(ms) AS ts", "value")
      }
      val got = Events.cohortLtv(df, "event_type", "user_id", "ts", "value", "purchase")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      assert(got === reference(rows), s"fuzz round $round diverged")
    }
  }
}
