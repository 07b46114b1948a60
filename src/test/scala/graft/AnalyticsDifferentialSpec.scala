package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Baskets, Dedup, Events, Graph, Incremental, Storage}

/** Differential fuzzes for the round-10 analytics tail (VERDICT r10
  * Next #3): the Spark plan and the DuckDB oracle share an author, so
  * each high-logic-density operator is additionally replayed against
  * an INDEPENDENT in-memory Scala reference on seeded random inputs —
  * a third implementation that would have to share the same bug to
  * let a divergence through. Seeds are fixed (replayable); inputs
  * deliberately include the awkward cases (timestamp ties, types
  * missing from one half, day-spanning sessions, duplicate basket
  * rows, self-loops / duplicate edges).
  */
class AnalyticsDifferentialSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private var seed = 0x5DEECE66DL
  private def nxt(): Long = {
    seed = (seed * 6364136223846793005L + 1442695040888963407L) >>> 2; seed
  }

  test("transitionMatrix: differential fuzz vs in-memory pair counting (with ts ties)") {
    import spark.implicits._
    val types = Vector("view", "click", "purchase", "error")
    (1 to 3).foreach { _ =>
      // ms collides often so the (ts, event_id) tiebreak is exercised
      val rows = (1 to 400).map { i =>
        (nxt() % 25, 1700000000000L + (nxt() % 50) * 1000L, i.toLong,
          types((nxt() % types.size).toInt))
      }
      val df = rows.toDF("user_id", "ms", "event_id", "event_type")
        .selectExpr("user_id", "timestamp_millis(ms) AS ts", "event_id",
          "event_type")
      val got = Events.transitionMatrix(df, "event_type", "user_id", "ts",
          "event_id")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val pairs = rows.groupBy(_._1).values.flatMap { es =>
        es.sortBy(e => (e._2, e._3)).map(_._4).sliding(2)
          .collect { case Seq(a, b) => (a, b) }
      }.toSeq
      val n = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val fromTot = pairs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val want = n.map { case ((a, b), c) =>
        (a, b) -> ((c, fromTot(a), c * 1000000L / fromTot(a)))
      }
      assert(got == want)
    }
  }

  test("typeDriftChi2: differential fuzz vs in-memory Pearson cells (types missing from one half)") {
    import spark.implicits._
    val types = Vector("view", "click", "purchase", "error", "rare_only_late")
    (1 to 3).foreach { _ =>
      val rows = (1 to 300).map { _ =>
        val t = types((nxt() % types.size).toInt)
        // the rare type only ever lands AFTER the split: its before
        // cell is an o=0 (0-e)^2/e term
        val ms =
          if (t == "rare_only_late")
            1705363200000L + nxt() % (10L * 86400000L)
          else 1704067200000L + nxt() % (25L * 86400000L)
        (t, ms)
      }
      val df = rows.toDF("event_type", "ms")
        .selectExpr("event_type", "timestamp_millis(ms) AS ts")
      val got = Events.typeDriftChi2(df, "event_type", "ts",
          "2024-01-16 00:00:00")
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val split = 1705363200000L // 2024-01-16T00:00:00Z
      val cells = rows.groupBy(r => (r._1, if (r._2 < split) 0 else 1))
        .map { case (k, v) => k -> v.size.toLong }
      val rowTot = rows.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val colTot = rows.groupBy(r => if (r._2 < split) 0 else 1)
        .map { case (k, v) => k -> v.size.toLong }
      val nTot = rows.size.toLong
      val want = rowTot.keys.map { t =>
        val contribs = Seq(0, 1).map { h =>
          val o = cells.getOrElse((t, h), 0L).toDouble
          // the EXACT op chain of the operator/oracle: bigint product,
          // one divide, subtract, multiply, divide, scale, round
          val e = (rowTot(t) * colTot(h)).toDouble / nTot.toDouble
          math.round((o - e) * (o - e) / e * 1000000.0)
        }
        t -> ((cells.getOrElse((t, 0), 0L), cells.getOrElse((t, 1), 0L),
          contribs.sum))
      }.toMap
      assert(got == want)
    }
  }

  test("peakConcurrency: differential fuzz vs in-memory sweep line (day-spanning sessions)") {
    import spark.implicits._
    (1 to 3).foreach { _ =>
      val sessions = (1 to 120).map { _ =>
        val s = 1704067200000L + nxt() % (3L * 86400000L)
        (nxt() % 40, s, s + nxt() % (2L * 86400000L)) // up to 2-day spans
      }
      val df = sessions.toDF("uid", "s_ms", "e_ms")
      val got = Events.peakConcurrency(df, "uid", "s_ms", "e_ms")
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // reference: clip each session to its days, then a per-day sweep
      // with +1 sorting before -1 at equal timestamps
      val segs = sessions.flatMap { case (_, s, e) =>
        val d0 = s / 86400000L
        val d1 = e / 86400000L
        (d0 to d1).map { d =>
          val dayStart = d * 86400000L
          (d, math.max(s, dayStart), math.min(e, dayStart + 86399999L))
        }
      }
      val want = segs.groupBy(_._1).map { case (d, ss) =>
        val deltas = ss.flatMap(s => Seq((s._2, 1L), (s._3, -1L)))
          .sortBy { case (t, delta) => (t, -delta) }
        var run = 0L; var peak = 0L
        deltas.foreach { case (_, delta) =>
          run += delta; if (run > peak) peak = run
        }
        java.time.LocalDate.ofEpochDay(d).toString -> ((ss.size.toLong, peak))
      }
      assert(got == want)
    }
  }

  test("dailyTypeState: random slice boundaries merge to the one-shot rollup (associativity)") {
    import spark.implicits._
    val types = Vector("view", "click", "purchase")
    val rows = (1 to 500).map { _ =>
      (types((nxt() % types.size).toInt),
        1704067200000L + nxt() % (20L * 86400000L),
        (nxt() % 20000 - 5000) / 100.0)
    }
    def mk(rs: Seq[(String, Long, Double)]) =
      rs.toDF("event_type", "ms", "value")
        .selectExpr("event_type", "timestamp_millis(ms) AS ts", "value")
    val oneShot = Incremental.dailyTypeState(mk(rows), "event_type", "ts",
        "value")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    (1 to 3).foreach { _ =>
      // random 3-way slicing: same multiset of rows, arbitrary cuts
      val tagged = rows.map(r => (nxt() % 3, r))
      val states = (0 to 2).map(i =>
        Incremental.dailyTypeState(mk(tagged.filter(_._1 == i).map(_._2)),
          "event_type", "ts", "value"))
      val merged = Incremental.mergeStates(states, Seq("day", "event_type"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(merged == oneShot,
        "a rollup of slice rollups must equal the rollup of the union")
    }
  }

  test("assocPairs: differential fuzz vs brute pair enumeration (duplicate basket rows)") {
    import spark.implicits._
    val items = Vector("a", "b", "c", "d", "e", "f")
    (1 to 3).foreach { _ =>
      // duplicated (basket, item) rows exercise the distinct front
      val rows = (1 to 400).map { _ =>
        (nxt() % 60, items((nxt() % items.size).toInt))
      }
      val df = rows.toDF("bk", "it")
      val got = Baskets.assocPairs(df, "bk", "it", minPairs = 1L)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
      val distinctRows = rows.distinct
      val nBaskets = distinctRows.map(_._1).distinct.size.toLong
      val perBasket = distinctRows.groupBy(_._1).values
      val nIt = distinctRows.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
      val nAb = perBasket.flatMap { b =>
        val its = b.map(_._2).sorted
        for (i <- its.indices; j <- (i + 1) until its.size) yield (its(i), its(j))
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val want = nAb.map { case ((a, b), c) =>
        val (na, nb) = (nIt(a), nIt(b))
        (a, b) -> ((c, na, nb, c * 1000000L / nBaskets, c * 1000000L / na,
          c * 1000000L / nb, (c * 1000000L / na) * nBaskets / nb))
      }
      assert(got == want)
    }
  }

  test("funnel: differential fuzz vs in-memory strictly-after frontier recursion") {
    import spark.implicits._
    val types = Vector("view", "click", "purchase", "error")
    val stages = Seq("view", "click", "purchase")
    (1 to 3).foreach { _ =>
      val rows = (1 to 400).map { _ =>
        (nxt() % 30, types((nxt() % types.size).toInt),
          1700000000000L + (nxt() % 80) * 997L) // frequent equal-ts ties
      }
      val df = rows.toDF("user_id", "event_type", "ms")
        .selectExpr("user_id", "event_type", "timestamp_millis(ms) AS ts")
      val got = Events.funnel(df, "event_type", "user_id", "ts", stages)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      // reference: per user, earliest stage-i event STRICTLY after the
      // stage-(i-1) frontier time
      var frontier: Map[Long, Long] = rows.filter(_._2 == stages.head)
        .groupBy(_._1).map { case (u, es) => u -> es.map(_._3).min }
      val want = scala.collection.mutable.Map(1L -> frontier.size.toLong)
      stages.zipWithIndex.drop(1).foreach { case (st, i) =>
        frontier = frontier.flatMap { case (u, t) =>
          val cand = rows.filter(r => r._1 == u && r._2 == st && r._3 > t)
          if (cand.isEmpty) None else Some(u -> cand.map(_._3).min)
        }
        want((i + 1).toLong) = frontier.size.toLong
      }
      assert(got == want.toMap)
    }
  }

  test("retentionCohorts: differential fuzz vs in-memory first-day offsets") {
    import spark.implicits._
    (1 to 3).foreach { _ =>
      val rows = (1 to 400).map { _ =>
        (nxt() % 25, 1700000000000L + nxt() % (12L * 86400000L))
      }
      val df = rows.toDF("user_id", "ms")
        .selectExpr("user_id", "timestamp_millis(ms) AS ts")
      val got = Events.retentionCohorts(df, "user_id", "ts", maxOffset = 7)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val byUser = rows.groupBy(_._1)
        .map { case (u, es) => u -> es.map(_._2 / 86400000L).distinct.sorted }
      val want = byUser.toSeq.flatMap { case (_, days) =>
        val d0 = days.head
        days.map(d => (java.time.LocalDate.ofEpochDay(d0).toString, d - d0))
      }.filter(_._2 <= 7)
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == want)
    }
  }

  test("typePaths: differential fuzz vs in-memory n-gram mining with lexicographic tie-break") {
    import spark.implicits._
    val types = Vector("a", "b", "c")
    (1 to 3).foreach { _ =>
      val rows = (1 to 300).map { i =>
        (nxt() % 15, 1700000000000L + (nxt() % 40) * 1000L, i.toLong,
          types((nxt() % types.size).toInt))
      }
      val df = rows.toDF("user_id", "ms", "event_id", "event_type")
        .selectExpr("user_id", "timestamp_millis(ms) AS ts", "event_id",
          "event_type")
      val got = Events.typePaths(df, "event_type", "user_id", "ts", "event_id",
          n = 3, topN = 5)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
          ((r.getLong(3), r.getLong(4)))).toMap
      val paths = rows.groupBy(_._1).values.flatMap { es =>
        es.sortBy(e => (e._2, e._3)).map(_._4).sliding(3)
          .filter(_.size == 3).map(s => (s(0), s(1), s(2)))
      }.toSeq
      val counted = paths.groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }.toSeq
      val want = counted
        .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(5).zipWithIndex
        .map { case ((p, n), i) => p -> ((n, (i + 1).toLong)) }.toMap
      assert(got == want)
    }
  }

  test("cumulativeDistinct: differential fuzz vs brute running distinct per (type, day)") {
    import spark.implicits._
    val types = Vector("view", "click")
    (1 to 3).foreach { _ =>
      val rows = (1 to 300).map { _ =>
        (types((nxt() % types.size).toInt), nxt() % 20,
          1700000000000L + nxt() % (10L * 86400000L))
      }
      val df = rows.toDF("event_type", "user_id", "ms")
        .selectExpr("event_type", "user_id", "timestamp_millis(ms) AS ts")
      val got = Events.cumulativeDistinct(df, "event_type", "user_id", "ts")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      // brute reference: for each ACTIVE (type, day), distinct users
      // seen that day and distinct users seen up to and including it
      val want = rows.groupBy(_._1).flatMap { case (t, es) =>
        val byDay = es.groupBy(e => e._3 / 86400000L)
        byDay.keys.toSeq.sorted.map { d =>
          val newU = byDay(d).map(_._2).distinct
            .count(u => !es.exists(e => e._3 / 86400000L < d && e._2 == u))
          val cum = es.filter(_._3 / 86400000L <= d).map(_._2).distinct.size
          (java.time.LocalDate.ofEpochDay(d).toString, t) ->
            ((newU.toLong, cum.toLong))
        }
      }
      assert(got == want)
    }
  }

  test("kCore: differential fuzz vs an in-memory peeler (self-loops, duplicate and reversed edges)") {
    import spark.implicits._
    (1 to 3).foreach { round =>
      val edges = (1 to 150).map(_ => (nxt() % 30, nxt() % 30))
      val df = edges.toDF("src", "dst")
      val (coreDf, rounds) = Graph.kCore(df, "src", "dst", k = 3, maxRounds = 60)
      val got =
        try coreDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        finally Storage.release(coreDf)
      assert(rounds >= 1 && rounds <= 60)
      // in-memory peel to fixpoint on the canonical undirected graph
      var und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.distinct
      var changed = true
      while (changed) {
        val deg = und.flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        val keep = deg.filter(_._2 >= 3L).keySet
        val next = und.filter { case (a, b) => keep(a) && keep(b) }
        changed = next.size != und.size
        und = next
      }
      val deg = und.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == deg, s"round $round: core mismatch")
      // membership invariant: every surviving node has in-core degree >= k
      assert(deg.values.forall(_ >= 3L))
    }
  }

  test("mergeComponents: differential fuzz vs in-memory union-find over random edge splits") {
    import spark.implicits._
    (1 to 3).foreach { round =>
      val edges = (1 to 120).map(_ => (nxt() % 40, nxt() % 40))
        .filter { case (a, b) => a != b }
      // random split point: everything before it is the standing
      // graph, the tail is the "nightly" slice (arbitrary mix of
      // old-old, old-new and new-new edges — the operator must not
      // care which)
      val cutIdx = (nxt() % edges.size).toInt.max(1)
      val (oldE, newE) = edges.splitAt(cutIdx)
      val base = operators.Cluster.connectedComponents(
        oldE.toDF("a", "b"), "a", "b")
      val merged = operators.Cluster.mergeComponents(
          base, newE.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // union-find over ALL edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val ids = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val want = ids.map(i => i -> find(i)).toMap
      assert(merged == want, s"round $round: incremental != union-find")
    }
  }

  test("peakUserBurst: differential fuzz vs in-memory sliding count (heavy ts ties)") {
    import spark.implicits._
    (1 to 3).foreach { round =>
      val w = 10000000L // 10 s
      val rows = (1 to 300).map { _ =>
        (nxt() % 12, 1700000000000000L + (nxt() % 40) * 3000000L)
      }
      val df = rows.toDF("user_id", "us")
        .selectExpr("user_id", "timestamp_micros(us) AS ts")
      val got = Events.peakUserBurst(df, "user_id", "ts", w)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = rows.groupBy(_._1).values.map { es =>
        val ts = es.map(_._2).sorted
        val mb = ts.map(t => ts.count(u => u >= t - (w - 1) && u <= t).toLong).max
        if (mb >= 10L) 10L else if (mb >= 5L) 5L else mb
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == want, s"round $round: burst histogram mismatch")
    }
  }

  test("bipartiteCooccurrence: differential fuzz vs in-memory set intersection (dup rows, degree cap)") {
    import spark.implicits._
    (1 to 3).foreach { round =>
      val rows = (1 to 250).map(_ =>
        (nxt() % 20, s"t${(nxt() % 8).toInt}"))
      val got = Graph.bipartiteCooccurrence(
          rows.toDF("u", "t"), "u", "t", maxLeftDegree = 3)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      val d = rows.distinct
      val kept = d.groupBy(_._1).filter(_._2.size <= 3)
      val byT = kept.values.flatten.groupBy(_._2)
        .map { case (t, v) => t -> v.map(_._1).toSet }
      val want = (for {
        (t1, s1) <- byT; (t2, s2) <- byT if t1 < t2
        both = (s1 & s2).size.toLong if both > 0
      } yield (t1, t2) -> ((both, s1.size.toLong, s2.size.toLong,
        both * 1000000L / (s1.size + s2.size - both)))).toMap
      assert(got == want, s"round $round: projection mismatch")
    }
  }

  test("segmentDupStats + segmentDedupSavings: differential fuzz vs in-memory segmenting (short docs, within-doc repeats)") {
    import spark.implicits._
    val vocab = Vector("aa", "bb", "cc", "dd")
    (1 to 3).foreach { round =>
      val w = 4
      val docs = (0 until 60).map { i =>
        val len = (nxt() % 19).toInt // 0..18 tokens: tails + sub-width docs
        (i.toLong, (1 to len).map(_ => vocab((nxt() % 4).toInt)).mkString(" "),
          s"s${(nxt() % 3).toInt}")
      }
      val df = docs.toDF("doc_id", "text", "source")
      // in-memory instance table: (doc, source, idx, segment token-seq)
      val inst = docs.flatMap { case (id, text, src) =>
        val t = text.split(" ").filter(_.nonEmpty)
        (0 until t.length / w).map(i =>
          (id, src, i.toLong, t.slice(i * w, i * w + w).toSeq))
      }
      val segDocs = inst.groupBy(_._4).map { case (k, v) =>
        k -> v.map(_._1).toSet.size
      }
      val wantDup = inst.groupBy(_._2).map { case (src, v) =>
        val dup = v.count(e => segDocs(e._4) >= 2).toLong
        src -> ((v.map(_._1).toSet.size.toLong, v.size.toLong, dup,
          dup * 1000000L / v.size))
      }
      val gotDup = Dedup.segmentDupStats(df, "text", w).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(gotDup == wantDup, s"round $round: dup-mass mismatch")
      val keeper = inst.groupBy(_._4).map { case (k, v) =>
        k -> v.map(e => (e._1, e._3)).min
      }
      val redBySrc = inst.groupBy(_._2).map { case (src, v) =>
        src -> ((v.size.toLong,
          v.count(e => keeper(e._4) != ((e._1, e._3))).toLong))
      }
      val tokBySrc = docs.groupBy(_._3).map { case (src, v) =>
        src -> v.map(_._2.split(" ").count(_.nonEmpty).toLong).sum
      }
      val wantSav = tokBySrc.map { case (src, nt) =>
        val (nseg, nred) = redBySrc.getOrElse(src, (0L, 0L))
        src -> ((nt, nseg, nred, nt - nred * w,
          if (nt == 0) 0L else nred * w * 1000000L / nt))
      }
      val gotSav = Dedup.segmentDedupSavings(df, "text", w).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(gotSav == wantSav, s"round $round: savings mismatch")
    }
  }

  test("timeToConvert: differential fuzz vs in-memory first-view/first-purchase-after (equal-ts traps)") {
    import spark.implicits._
    val types = Vector("view", "purchase", "click")
    (1 to 3).foreach { round =>
      // 1s granularity provokes ts ties across and within types
      val rows = (1 to 300).map { _ =>
        (nxt() % 15, 1700000000000000L + (nxt() % 60) * 1000000L,
          types((nxt() % 3).toInt))
      }
      val df = rows.toDF("user_id", "us", "event_type")
        .selectExpr("user_id", "timestamp_micros(us) AS ts", "event_type")
      val got = Events.timeToConvert(df, "event_type", "user_id", "ts",
        "view", "purchase").collect().head
      val lats = rows.groupBy(_._1).values.flatMap { es =>
        val vts = es.filter(_._3 == "view").map(_._2)
        if (vts.isEmpty) None
        else {
          val v0 = vts.min
          val ps = es.filter(e => e._3 == "purchase" && e._2 > v0).map(_._2)
          if (ps.isEmpty) None else Some((ps.min - v0) / 1000000L)
        }
      }.toSeq.sorted
      assert(got.getLong(0) == lats.size.toLong, s"round $round: converter count")
      if (lats.nonEmpty)
        assert(got.getLong(1) == lats.sum / lats.size, s"round $round: exact mean")
    }
  }

  test("dailyActiveTrend: differential fuzz vs in-memory OLS (single-day and flat series)") {
    import spark.implicits._
    (1 to 3).foreach { round =>
      val nDays = 1 + (nxt() % 9).toInt // includes the degenerate 1-day case
      val rows = (1 to 200).map { _ =>
        (nxt() % 20, 1700000000000000L + (nxt() % nDays) * 86400000000L)
      }
      val df = rows.toDF("user_id", "us")
        .selectExpr("user_id", "timestamp_micros(us) AS ts")
      val got = Events.dailyActiveTrend(df, "user_id", "ts").collect().head
      val daily = rows.map(r => (r._2 / 86400000000L, r._1)).distinct
        .groupBy(_._1).map { case (d, v) => d -> v.size.toLong }
      val d0 = daily.keys.min
      val xy = daily.map { case (d, y) => (d - d0, y) }.toSeq
      val (n, sx, sy) = (xy.size.toLong, xy.map(_._1).sum, xy.map(_._2).sum)
      val sxy = xy.map(p => p._1 * p._2).sum
      val sx2 = xy.map(p => p._1 * p._1).sum
      val den = BigInt(n) * sx2 - BigInt(sx) * sx
      val want = if (den == 0) 0L
        else ((BigInt(n) * sxy - BigInt(sx) * sy) * 1000000 / den).toLong
      assert(got.getLong(0) == n && got.getLong(5) == want,
        s"round $round: slope mismatch (n=$n)")
    }
  }

  test("activeTimeUnion: differential fuzz vs in-memory interval merge (ties, nesting, exact adjacency)") {
    import spark.implicits._
    (1 to 3).foreach { round =>
      val w = 5000000L // 5 s activity window
      // 2s granularity forces ties, overlaps, and EXACT end==start
      // adjacency (t == pmax is NOT a new island — closed intervals)
      val rows = (1 to 250).map { _ =>
        (nxt() % 10, 1700000000000000L + (nxt() % 80) * 2500000L)
      }
      val df = rows.toDF("user_id", "us")
        .selectExpr("user_id", "timestamp_micros(us) AS ts")
      val got = Events.activeTimeUnion(df, "user_id", "ts", w)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = rows.groupBy(_._1).map { case (u, es) =>
        val iv = es.map(_._2).distinct.sorted.map(t => (t, t + w))
        var total = 0L
        var (cs, ce) = iv.head
        iv.tail.foreach { case (s0, e0) =>
          if (s0 > ce) { total += ce - cs; cs = s0; ce = e0 }
          else if (e0 > ce) ce = e0
        }
        total += ce - cs
        u -> total
      }
      assert(got == want, s"round $round: union length mismatch")
    }
  }

  // ---- QueryDef-level fuzzes: the registered query is replayed end
  // to end (Tables read path included) against a synthesized
  // events.parquet in a temp sf-dir, compared to an in-memory
  // reference — one level above the operator fuzzes, so the inline
  // query logic (joins, loop unrolls, coalesces) is covered too. ----

  /** (user_id, ms, event_id, event_type, value) rows -> a temp dir
    * shaped like a testdata sf dir (events.parquet only). */
  private def writeEventsDir(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzz_sf").toFile
    dir.deleteOnExit()
    rows.toDF("user_id", "ms", "event_id", "event_type", "value")
      .selectExpr("event_id", "timestamp_millis(ms) AS ts", "user_id",
        "event_type", "value", "'{}' AS props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.toString
  }

  /** Synthesized orders table for QueryDef fuzzes of the
    * order-analytics tail (skyline, rolling OLS). */
  private def writeOrdersDir(rows: Seq[(Long, Long, Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzz_ord").toFile
    dir.deleteOnExit()
    rows.toDF("o_orderkey", "day_off", "o_totalprice")
      .selectExpr("o_orderkey", "o_orderkey % 7 AS o_custkey",
        "'O' AS o_orderstatus", "o_totalprice",
        "timestamp_millis(1700000000000 + day_off * 86400000) AS o_orderdate",
        "concat('P', o_orderkey % 3) AS o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir.toString
  }

  test("q79 skyline: QueryDef fuzz vs brute N^2 dominance (same-day ties, duplicate prices)") {
    (1 to 3).foreach { round =>
      // coarse price grid + few days -> many exact ties on both axes
      val rows = (1 to 120).map(i =>
        (i.toLong, nxt() % 12, ((nxt() % 40) * 25).toDouble / 100.0))
      val got = queries.Pipeline66.q79.run(spark, writeOrdersDir(rows))
        .collect().map(_.getLong(0)).toSet
      val o = rows.map { case (k, d, p) => (k, d, Math.round(p * 100)) }
      val brute = o.filter { case (_, d, c) =>
        !o.exists { case (_, d2, c2) =>
          d2 <= d && c2 >= c && (d2 < d || c2 > c)
        }
      }.map(_._1).toSet
      assert(got == brute, s"round $round")
    }
  }

  test("q80 rolling OLS: QueryDef fuzz vs in-memory 7-window regression (sparse days, negative slopes)") {
    (1 to 3).foreach { round =>
      // sparse day grid: the dense index (not calendar days) must drive x
      val rows = (1 to 150).map(i =>
        (i.toLong, (nxt() % 40) * 3, ((nxt() % 100000) + 1).toDouble / 100.0))
      val got = queries.Pipeline68.q80.run(spark, writeOrdersDir(rows))
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val daily = rows.groupBy(_._2).map { case (d, g) =>
        d -> g.map(r => Math.round(r._3 * 100)).sum
      }.toSeq.sortBy(_._1)
      val want = daily.indices.drop(6).map { j =>
        val w = (j - 6 to j).map(k => (BigInt(k + 1), BigInt(daily(k)._2)))
        val n = BigInt(7)
        val sx = w.map(_._1).sum
        val sy = w.map(_._2).sum
        val sxy = w.map { case (x, y) => x * y }.sum
        val sx2 = w.map(p => p._1 * p._1).sum
        daily(j)._1 -> ((n * sxy - sx * sy) * 1000000 / (n * sx2 - sx * sx)).toLong
      }.toMap
      assert(got.size == want.size, s"round $round sizes")
      want.foreach { case (d, s) =>
        val key = got.keys.find(_.startsWith(
          java.time.Instant.ofEpochMilli(1700000000000L + d * 86400000L)
            .toString.take(10))).get
        assert(got(key) == s, s"round $round day $d")
      }
    }
  }

  private val fuzzTypes = Vector("view", "click", "purchase", "error")

  private def randomEvents(n: Int, users: Int, msSlots: Int): Seq[(Long, Long, Long, String, Double)] =
    (1 to n).map { i =>
      (nxt() % users, 1700000000000L + (nxt() % msSlots) * 1000L, i.toLong,
        fuzzTypes((nxt() % fuzzTypes.size).toInt), (nxt() % 10000).toDouble / 100.0)
    }

  test("e35 markov stationary: QueryDef fuzz vs in-memory floor-exact power iteration") {
    (1 to 3).foreach { round =>
      val rows = randomEvents(350, 20, 60)
      val got = queries.Pipeline51.e35.run(spark, writeEventsDir(rows))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val pairs = rows.groupBy(_._1).values.flatMap { es =>
        es.sortBy(e => (e._2, e._3)).map(_._4).sliding(2)
          .collect { case Seq(a, b) => (a, b) }
      }.toSeq
      val cnt = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val fromTot = pairs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val p = cnt.map { case ((a, b), c) => (a, b) -> c * 1000000L / fromTot(a) }
      val types = (pairs.map(_._1) ++ pairs.map(_._2)).distinct
      var m: Map[String, Long] = types.map(_ -> 1000000L / types.size).toMap
      for (_ <- 1 to 8) {
        val inflow = scala.collection.mutable.Map[String, BigInt]()
          .withDefaultValue(BigInt(0))
        p.foreach { case ((a, b), pm) =>
          m.get(a).foreach(mass => inflow(b) += BigInt(mass) * pm)
        }
        m = inflow.map { case (t, s) => t -> (s / 1000000).toLong }.toMap
      }
      val want = types.map(t => t -> m.getOrElse(t, 0L)).toMap
      assert(got == want, s"round $round: stationary mismatch")
    }
  }

  test("q68 exact KS statistic: QueryDef fuzz vs in-memory CDF sweep (tie cents, min-cents argmax)") {
    (1 to 3).foreach { round =>
      // coarse value grid so many cents collide (the grouped-CDF path)
      val rows = randomEvents(300, 15, 40)
        .map(r => r.copy(_5 = (nxt() % 25).toDouble / 2.0))
      val got = queries.Pipeline50.q68.run(spark, writeEventsDir(rows)).collect().head
      val v = rows.filter(r => r._4 == "purchase" || r._4 == "click")
        .map(r => (r._4, Math.round(r._5 * 100)))
      val n1 = v.count(_._1 == "purchase").toLong
      val n2 = v.count(_._1 == "click").toLong
      val byCents = v.groupBy(_._2).toSeq.sortBy(_._1)
      var (c1, c2) = (0L, 0L)
      var best = (BigInt(-1), Long.MinValue) // (term, -cents) lexicographic max
      byCents.foreach { case (cents, g) =>
        c1 += g.count(_._1 == "purchase"); c2 += g.count(_._1 == "click")
        val term = (BigInt(c1) * n2 - BigInt(c2) * n1).abs
        if (term > best._1 || (term == best._1 && -cents > best._2))
          best = (term, -cents)
      }
      val wantKs = (best._1 * 1000000 / (BigInt(n1) * n2)).toLong
      assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ==
        ((n1, n2, wantKs, -best._2)), s"round $round: KS mismatch")
    }
  }

  test("e37 recovery time: QueryDef fuzz vs in-memory next-OK search (unrecovered tails, ts ties)") {
    (1 to 3).foreach { round =>
      val rows = randomEvents(320, 18, 50)
      val got = queries.Pipeline55.e37.run(spark, writeEventsDir(rows)).collect().head
      // per user, row-ordered by (ts, event_id): each error's latency
      // to the next non-error row's ts (None when the tail is errors)
      val lats = rows.groupBy(_._1).values.flatMap { es =>
        val s = es.sortBy(e => (e._2, e._3))
        s.indices.filter(i => s(i)._4 == "error").map { i =>
          s.drop(i + 1).find(_._4 != "error")
            .map(nk => (nk._2 * 1000L - s(i)._2 * 1000L) / 1000000L)
        }
      }.toSeq
      val nErrors = lats.size.toLong
      val rec = lats.flatten.toSeq
      val nRec = rec.size.toLong
      def pct(p: Double): Double = {
        // Spark Percentile: position = p*(n-1), linear interpolation
        // (higher-position)*lower + (position-lower)*higher
        val sorted = rec.sorted.map(_.toDouble)
        val pos = p * (sorted.size - 1)
        val lo = math.floor(pos).toInt
        val hi = math.ceil(pos).toInt
        if (lo == hi) sorted(lo)
        else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
      }
      assert(nErrors > 0 && nRec > 0, s"round $round: degenerate fuzz input")
      val want = (nErrors, nRec, nRec * 1000000L / nErrors,
        if (nRec == 0) 0L else rec.sum / nRec,
        Math.round(pct(0.5) * 1000000), Math.round(pct(0.9) * 1000000))
      assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
        got.getLong(4), got.getLong(5)) == want, s"round $round: recovery mismatch")
    }
  }

  /** Synthesized lineitem table (only the columns the rank-statistics
    * tail reads: quantity, price, discount, returnflag) for QueryDef
    * fuzzes. */
  private def writeLineitemDir(
      rows: Seq[(Long, Double, Double, Double, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzz_li").toFile
    dir.deleteOnExit()
    rows.toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir.toString
  }

  test("q82 spearman: QueryDef fuzz vs in-memory midrank rho (coarse grids, heavy ties)") {
    (1 to 3).foreach { round =>
      // coarse grids on both axes so midranks are fractional (the
      // doubled-rank integer trick is the thing under test)
      val rows = (1 to 200).map(i => (i.toLong,
        ((nxt() % 8) + 1).toDouble, ((nxt() % 30) * 50 + 100).toDouble / 100.0,
        (nxt() % 10).toDouble / 100.0, if (nxt() % 2 == 0) "R" else "N"))
      val got = queries.Pipeline72.q82.run(spark, writeLineitemDir(rows))
        .collect().head
      val xs = rows.map(r => Math.round(r._2))
      val ys = rows.map(r => Math.round(r._3 * 100))
      def r2map(vs: Seq[Long]): Map[Long, BigInt] = {
        var before = 0L
        vs.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
          .toSeq.sortBy(_._1).map { case (v, c) =>
            val r = BigInt(2 * before + c + 1); before += c; v -> r
          }.toMap
      }
      val (rx, ry) = (r2map(xs), r2map(ys))
      val n = BigInt(xs.size)
      val d2 = xs.zip(ys).map { case (x, y) =>
        val d = rx(x) - ry(y); d * d }.sum
      val want = (xs.size.toLong, (d2 / n).toLong,
        (BigInt(1000000) - (6 * d2 * 1000000) / (4 * n * (n * n - 1))).toLong)
      assert((got.getLong(0), got.getLong(1), got.getLong(2)) == want,
        s"round $round: spearman mismatch")
    }
  }

  test("q83 kendall/gamma: QueryDef fuzz vs brute N^2 pair counting (heavy ties both axes)") {
    (1 to 3).foreach { round =>
      // tiny domains on both axes -> every tie class is populated
      val rows = (1 to 150).map(i => (i.toLong,
        ((nxt() % 5) + 1).toDouble, 1.0,
        (nxt() % 4).toDouble / 100.0, "N"))
      val got = queries.Pipeline73.q83.run(spark, writeLineitemDir(rows))
        .collect().head
      val v = rows.map(r => (Math.round(r._2), Math.round(r._4 * 100)))
      var (c, dd, tx, ty, txy) = (BigInt(0), BigInt(0), BigInt(0), BigInt(0), BigInt(0))
      for (i <- v.indices; j <- i + 1 until v.size) {
        val ((x1, y1), (x2, y2)) = (v(i), v(j))
        if (x1 == x2) tx += 1
        if (y1 == y2) ty += 1
        if (x1 == x2 && y1 == y2) txy += 1
        if ((x1 < x2 && y1 < y2) || (x1 > x2 && y1 > y2)) c += 1
        if ((x1 < x2 && y1 > y2) || (x1 > x2 && y1 < y2)) dd += 1
      }
      val n = BigInt(v.size)
      val want = (v.size.toLong, c.toLong, dd.toLong, tx.toLong, ty.toLong,
        txy.toLong,
        (if (c + dd == 0) BigInt(0) else (c - dd) * 1000000 / (c + dd)).toLong,
        ((c - dd) * 1000000 / (n * (n - 1) / 2)).toLong)
      assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
        got.getLong(4), got.getLong(5), got.getLong(6), got.getLong(7)) == want,
        s"round $round: kendall mismatch")
    }
  }

  test("q84 mann-whitney: QueryDef fuzz vs brute pair dominance (tie cents, skewed sizes)") {
    (1 to 3).foreach { round =>
      // coarse cent grid -> midranks fractional; ~25% R rows -> skew
      val rows = (1 to 180).map(i => (i.toLong, 1.0,
        ((nxt() % 12) * 25 + 50).toDouble / 100.0, 0.0,
        if (nxt() % 4 == 0) "R" else "N"))
      val got = queries.Pipeline73.q84.run(spark, writeLineitemDir(rows))
        .collect().head
      val r = rows.filter(_._5 == "R").map(x => Math.round(x._3 * 100))
      val n = rows.filter(_._5 == "N").map(x => Math.round(x._3 * 100))
      def u2(a: Seq[Long], b: Seq[Long]): BigInt =
        BigInt(a.map(x => b.map(y =>
          (if (x > y) 2L else 0L) + (if (x == y) 1L else 0L)).sum).sum)
      val (ur2, un2) = (u2(r, n), u2(n, r))
      val want = (r.size.toLong, n.size.toLong, ur2.toLong, un2.toLong,
        (ur2 * 1000000 / (2 * BigInt(r.size) * n.size)).toLong)
      assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
        got.getLong(4)) == want, s"round $round: mann-whitney mismatch")
    }
  }

  test("e40 twap: QueryDef fuzz vs in-memory step-weighted mean (ts ties, refunds, single-event users)") {
    (1 to 3).foreach { round =>
      // values skew negative; ts collide often; ~1/3 of users have one event
      val rows = (1 to 250).map { i =>
        (nxt() % 30, 1700000000000L + (nxt() % 60) * 1000L, i.toLong,
          "view", (nxt() % 8000 - 3000).toDouble / 100.0)
      }
      val got = queries.Pipeline74.e40.run(spark, writeEventsDir(rows))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val want = rows.groupBy(_._1).flatMap { case (u, es) =>
        val s = es.sortBy(e => (e._2, e._3))
        if (s.size < 2) None
        else {
          val iv = s.sliding(2).collect { case Seq(a, b) =>
            (BigInt(Math.round(a._5 * 100)) * ((b._2 - a._2) * 1000L),
              (b._2 - a._2) * 1000L)
          }.toSeq
          val span = iv.map(_._2).sum
          if (span <= 0) None
          else Some(u -> ((s.size.toLong, span,
            (iv.map(_._1).sum * 1000000 / span).toLong)))
        }
      }
      assert(got == want, s"round $round: twap mismatch")
    }
  }

  /** Synthesized documents table (doc_id, source, text) for QueryDef
    * fuzzes of the corpus-analytics tail. */
  private def writeDocsDir(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzz_doc").toFile
    dir.deleteOnExit()
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("t45 trigram novelty: QueryDef fuzz vs in-memory first-sighting attribution (short docs, shared phrases)") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "mu", "nu")
    (1 to 3).foreach { round =>
      // tiny vocab -> trigrams repeat across docs; some docs < 3 tokens
      val rows = (1 to 40).map { i =>
        val len = (nxt() % 14).toInt + 1
        val text = Seq.fill(len)(vocab((nxt() % vocab.size).toInt)).mkString(" ")
        (i.toLong, s"s${nxt() % 4}", text)
      }
      val got = queries.Pipeline74.t45.run(spark, writeDocsDir(rows))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val tri = rows.map { case (id, src, text) =>
        val t = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
        (id, src, if (t.size < 3) Set.empty[String]
          else t.sliding(3).map(_.mkString(" ")).toSet)
      }
      val first = tri.flatMap { case (id, _, g) => g.map(_ -> id) }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).min }
      val want = tri.groupBy(_._2).map { case (src, ds) =>
        val occ = ds.map(_._3.size.toLong).sum
        val nov = ds.map { case (id, _, g) =>
          g.count(first(_) == id).toLong }.sum
        src -> ((ds.size.toLong, occ, nov,
          if (occ == 0) 0L else (BigInt(nov) * 1000000 / occ).toLong))
      }
      assert(got == want, s"round $round: novelty mismatch")
    }
  }

  test("q85 lorenz curve: QueryDef fuzz vs in-memory sorted cumsum (duplicate values at cuts)") {
    (1 to 3).foreach { round =>
      // coarse price grid -> decile cuts land INSIDE runs of ties
      val rows = (1 to 137).map(i =>
        (i.toLong, nxt() % 12, ((nxt() % 15) * 25 + 25).toDouble / 100.0))
      val res = queries.Pipeline76.q85.run(spark, writeOrdersDir(rows))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val cs = rows.map(r => Math.round(r._3 * 100)).sorted
      val n = cs.size.toLong
      val total = cs.map(BigInt(_)).sum
      val want = (1L to 10L).map { k =>
        val rk = k * n / 10
        val mass = cs.take(rk.toInt).map(BigInt(_)).sum
        k -> ((rk, mass.toLong, (mass * 1000000 / total).toLong))
      }.toMap
      assert(res == want, s"round $round: lorenz mismatch")
    }
  }

  test("e41 gap dispersion: QueryDef fuzz vs in-memory CV^2 (constant gaps, ts ties)") {
    (1 to 3).foreach { round =>
      val rows = randomEvents(300, 15, 90)
      val got = queries.Pipeline76.e41.run(spark, writeEventsDir(rows))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val gaps = rows.groupBy(r => (r._1, r._4)).toSeq.flatMap { case ((_, t), es) =>
        es.sortBy(e => (e._2, e._3)).map(_._2).sliding(2)
          .collect { case Seq(a, b) => t -> ((b - a) * 1000L / 1000000L) }
      }
      val want = gaps.groupBy(_._1).map { case (t, gs) =>
        val v = gs.map(g => BigInt(g._2))
        val (n, sg, sg2) = (BigInt(v.size), v.sum, v.map(x => x * x).sum)
        t -> ((v.size.toLong, (sg / n).toLong,
          if (sg == 0) 0L else ((n * sg2 - sg * sg) * 1000000 / (sg * sg)).toLong))
      }
      assert(got == want, s"round $round: dispersion mismatch")
    }
  }

  test("t46 sentence quantiles: QueryDef fuzz vs in-memory sorted lookup (tie lengths, empty sentences)") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val seps = Vector(". ", "! ", "? ", "... ")
    (1 to 3).foreach { round =>
      val rows = (1 to 30).map { i =>
        val nSent = (nxt() % 5).toInt + 1
        val text = (1 to nSent).map { _ =>
          val len = (nxt() % 7).toInt // 0-token sentences included
          Seq.fill(len)(vocab((nxt() % vocab.size).toInt)).mkString(" ")
        }.zip(Seq.fill(nSent)(seps((nxt() % seps.size).toInt)))
          .map { case (s, sep) => s + sep }.mkString
        (i.toLong, "s0", text)
      }
      val got = queries.Pipeline79.t46.run(spark, writeDocsDir(rows))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val lens = rows.flatMap(_._3.split("[.!?]+"))
        .map(_.toLowerCase.split("[^a-z0-9]+").count(_.nonEmpty).toLong)
        .filter(_ > 0).sorted
      val n = lens.size.toLong
      val want = Seq(25L, 50L, 90L).map { p =>
        val rk = (p * n + 99) / 100
        p -> ((n, rk, lens((rk - 1).toInt)))
      }.toMap
      assert(got == want, s"round $round: quantile mismatch")
    }
  }

  test("q86 winsorized mean: QueryDef fuzz vs in-memory clamp (cuts inside tie runs)") {
    (1 to 3).foreach { round =>
      // coarse grid -> the k and n-k cuts land inside runs of ties
      val rows = (1 to (100 + (nxt() % 80).toInt)).map(i => (i.toLong, 1.0,
        ((nxt() % 9) * 50 + 100).toDouble / 100.0, 0.0, "N"))
      val got = queries.Pipeline80.q86.run(spark, writeLineitemDir(rows))
        .collect().head
      val cs = rows.map(r => Math.round(r._3 * 100)).sorted
      val n = cs.size
      val k = n / 10
      val vLo = cs(k)         // rank k+1, 0-indexed
      val vHi = cs(n - k - 1) // rank n-k
      val wsum = cs.zipWithIndex.map { case (c, i) =>
        BigInt(if (i < k) vLo else if (i >= n - k) vHi else c)
      }.sum
      val want = (n.toLong, k.toLong, vLo, vHi, (wsum / n).toLong)
      assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
        got.getLong(4)) == want, s"round $round: winsorized mismatch")
    }
  }

  test("q87 revenue AR(1): QueryDef fuzz vs in-memory least squares (sparse days, negative slope)") {
    (1 to 3).foreach { round =>
      val rows = (1 to 160).map(i =>
        (i.toLong, (nxt() % 50) * 2, ((nxt() % 90000) + 100).toDouble / 100.0))
      val got = queries.Pipeline80.q87.run(spark, writeOrdersDir(rows))
        .collect().head
      val daily = rows.groupBy(_._2).map { case (d, g) =>
        d -> g.map(r => BigInt(Math.round(r._3 * 100))).sum / 100
      }.toSeq.sortBy(_._1).map(_._2)
      val pairs = daily.sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
      val n = BigInt(pairs.size)
      val sx = pairs.map(_._1).sum
      val sy = pairs.map(_._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sx2 = pairs.map(p => p._1 * p._1).sum
      val want = (pairs.size.toLong, (sx / n).toLong,
        ((n * sxy - sx * sy) * 1000000 / (n * sx2 - sx * sx)).toLong)
      assert((got.getLong(0), got.getLong(1), got.getLong(2)) == want,
        s"round $round: ar1 mismatch")
    }
  }

  test("q88 robust outliers: QueryDef fuzz vs in-memory median/MAD/fence (tie medians, heavy tails)") {
    (1 to 3).foreach { round =>
      // coarse grid + occasional 100x spikes -> real outliers and
      // medians landing inside tie runs
      val rows = (1 to 150).map { i =>
        val base = ((nxt() % 12) * 25 + 100).toDouble / 100.0
        (i.toLong, nxt() % 10,
          if (nxt() % 11 == 0) base * 100 else base)
      }
      val got = queries.Pipeline81.q88.run(spark, writeOrdersDir(rows))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5)))).toMap
      def lowerMedian(vs: Seq[Long]): Long = {
        val s2 = vs.sorted; s2(((vs.size + 1) / 2 - 1).toInt)
      }
      val want = rows.groupBy(r => s"P${r._1 % 3}").map { case (g, rs) =>
        val v = rs.map(r => Math.round(r._3 * 100))
        val med = lowerMedian(v)
        val mad = lowerMedian(v.map(x => math.abs(x - med)))
        val out = v.count(x => math.abs(x - med) > 3 * mad).toLong
        g -> ((v.size.toLong, med, mad, out,
          (BigInt(out) * 1000000 / v.size).toLong))
      }
      assert(got == want, s"round $round: robust outlier mismatch")
    }
  }

  /** Synthesized embeddings table (vec_id, label, embedding) for
    * QueryDef fuzzes of the vector-analytics tail. */
  private def writeEmbeddingsDir(rows: Seq[(Long, Long, Seq[Float])]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzz_emb").toFile
    dir.deleteOnExit()
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir.toString
  }

  test("s38 source cohesion: QueryDef fuzz vs brute pairwise dots (anti-correlated sources)") {
    (1 to 3).foreach { round =>
      val rows = (1 to 60).map { i =>
        val lbl = nxt() % 4
        // one label family is sign-alternating -> negative cohesion
        val v = Seq.tabulate(8) { j =>
          val x = ((nxt() % 2000) - 1000).toFloat / 1000f
          if (lbl == 0 && i % 2 == 0) -x else x
        }
        (i.toLong, lbl, v)
      }
      val got = queries.Pipeline81.s38.run(spark, writeEmbeddingsDir(rows))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      val want = rows.groupBy(_._2.toString).collect {
        case (src, rs) if rs.size > 1 =>
          val qs = rs.map(_._3.map(x =>
            BigInt(Math.round(x.toDouble * 1000))))
          val n = qs.size
          val brute = (for (a <- qs; b <- qs if a ne b) yield
            a.zip(b).map { case (x, y) => x * y }.sum).sum
          src -> ((n.toLong, (brute / (BigInt(n) * (n - 1))).toLong))
      }
      assert(got == want, s"round $round: cohesion mismatch")
    }
  }

  test("e42 handoff latency: QueryDef fuzz vs in-memory per-pair lower median (ts ties, self-loops)") {
    (1 to 3).foreach { round =>
      val rows = randomEvents(300, 15, 60)
      val got = queries.Pipeline83.e42.run(spark, writeEventsDir(rows))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      val hops = rows.groupBy(_._1).values.flatMap { es =>
        val s = es.sortBy(e => (e._2, e._3))
        s.sliding(2).collect { case Seq(a, b) =>
          (a._4, b._4) -> ((b._2 - a._2) * 1000L / 1000000L)
        }
      }.toSeq
      val want = hops.groupBy(_._1).map { case (k, gs) =>
        val v = gs.map(_._2).sorted
        k -> ((v.size.toLong, v((v.size + 1) / 2 - 1)))
      }
      assert(got == want, s"round $round: handoff mismatch")
    }
  }

  test("q91 bowley skewness: QueryDef fuzz vs in-memory quartiles (skewed grids, degenerate IQR)") {
    (1 to 3).foreach { round =>
      // quadratic value grid -> genuinely skewed; round 3 collapses
      // to near-constant values so the q3=q1 guard fires
      val rows = (1 to 140).map { i =>
        val u = (nxt() % 10) + 1
        val c = if (round == 3) 500L else u * u * 25
        (i.toLong, 1.0, c.toDouble / 100.0, 0.0, "N")
      }
      val got = queries.Pipeline84.q91.run(spark, writeLineitemDir(rows))
        .collect().head
      val cs = rows.map(r => Math.round(r._3 * 100)).sorted
      val n = cs.size.toLong
      def q(p: Long): Long = cs(((p * n + 99) / 100 - 1).toInt)
      val (q1, q2, q3) = (q(25), q(50), q(75))
      val want = (n, q1, q2, q3,
        if (q3 == q1) 0L
        else (BigInt(q3 + q1 - 2 * q2) * 1000000 / (q3 - q1)).toLong)
      assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
        got.getLong(4)) == want, s"round $round: bowley mismatch")
    }
  }

  test("c16 dyad census: QueryDef fuzz vs in-memory M/A/N counting (sparse graphs, self-loop drops)") {
    val types = Vector("a", "b", "c", "d", "e", "f")
    (1 to 3).foreach { round =>
      // sparse: ~6 events/user so the transition graph is INCOMPLETE —
      // a mix of mutual, asymmetric and null dyads each round
      val rows = (1 to 60).map { i =>
        (nxt() % 10, 1700000000000L + (nxt() % 50) * 1000L, i.toLong,
          types((nxt() % types.size).toInt), 0.0)
      }
      val got = queries.Pipeline72.c16.run(spark, writeEventsDir(rows))
        .collect().head
      val ed = rows.groupBy(_._1).values.flatMap { es =>
        es.sortBy(e => (e._2, e._3)).map(_._4).sliding(2)
          .collect { case Seq(a, b) if a != b => (a, b) }
      }.toSet
      val nN = ed.flatMap(e => Seq(e._1, e._2)).size.toLong
      val p = ed.map { case (s, t) => if (s < t) (s, t) else (t, s) }.size.toLong
      val r = ed.count(e => ed.contains((e._2, e._1))).toLong
      val want = (nN, ed.size.toLong, r / 2, p - r / 2, nN * (nN - 1) / 2 - p,
        if (ed.isEmpty) 0L else r * 1000000L / ed.size)
      assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
        got.getLong(4), got.getLong(5)) == want, s"round $round: census mismatch")
    }
  }

  test("p48 boundary: a fully-duplicated source (eff_tokens = 0) gets NULL weight, not REMAINDER_BY_ZERO") {
    // source B is two byte-identical 10-token docs: every token sits
    // inside a cross-document >=8-token span, so its effective mass is
    // exactly 0 — the dup-saturated case the 10x slice surfaced (the
    // unguarded div/% threw under ANSI). Source A is novel text.
    val ten = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val rows = Seq(
      (1L, "B", ten), (2L, "B", ten),
      (3L, "A", "one two three four five six seven eight nine ten"),
      (4L, "A", "red orange yellow green blue indigo violet umber ochre teal"))
    val got = queries.Pipeline90.p48.run(spark, writeDocsDir(rows))
      .collect().map(r => r.getString(0) -> r).toMap
    val b = got("B")
    assert(b.getLong(3) == 0L, s"source B must have eff_tokens = 0: $b")
    assert(b.isNullAt(6), s"zero-novel-mass source must have NULL weight: $b")
    assert(b.getLong(5) == 0L, s"eff share of a zero-eff source is 0: $b")
    assert(!b.isNullAt(7) && b.getLong(7) == 0L,
      s"drift ratio of a zero-eff source is 0 (raw share > 0): $b")
    val a = got("A")
    // A now holds ALL effective mass: eff share 1.0, drift 2× its raw
    // share, and the p02 balance weight pulls it DOWN toward uniform
    // over the 2 sources — total_eff/(2·eff_A) = 0.5 exactly
    assert(a.getLong(5) == 1000000L && a.getLong(7) == 2000000L
      && !a.isNullAt(6) && a.getLong(6) == 500000L,
      s"all-novel source: eff share 1.0, drift 2x, balance weight 0.5: $a")
  }

  test("p48 boundary: whole-corpus saturation (total_eff = 0) and all-empty corpus (total_raw = 0) yield NULL shares, not REMAINDER_BY_ZERO") {
    // the same failure class one level up (ADVICE r13): identical docs
    // ACROSS sources saturate every source at once, so the CORPUS
    // effective-mass denominator itself is 0
    val ten = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val sat = queries.Pipeline90.p48
      .run(spark, writeDocsDir(Seq((1L, "A", ten), (2L, "B", ten))))
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("A", "B").foreach { s =>
      val r = sat(s)
      assert(r.getLong(3) == 0L, s"source $s saturated: $r")
      assert(!r.isNullAt(4) && r.getLong(4) == 500000L,
        s"raw share still finite (half the corpus): $r")
      assert(r.isNullAt(5), s"eff share NULL when total_eff = 0: $r")
      assert(r.isNullAt(6) && r.isNullAt(7),
        s"weight and drift NULL when total_eff = 0: $r")
    }
    // all docs empty: zero raw mass anywhere -> every ratio NULL
    val emp = queries.Pipeline90.p48
      .run(spark, writeDocsDir(Seq((1L, "A", ""), (2L, "B", ""))))
      .collect()
    assert(emp.length == 2)
    emp.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(3) == 0L, s"empty corpus: $r")
      (4 to 7).foreach(i => assert(r.isNullAt(i),
        s"all ratio columns NULL on an all-empty corpus: $r"))
    }
  }
}
