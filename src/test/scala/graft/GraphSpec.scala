package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Graph, Storage}

/** PageRank: exact-integer replay against an in-memory reference
  * (same floor-division arithmetic the oracle unrolls), dangling and
  * self-loop handling, teleport floor, centrality ordering on a star
  * graph, guards, and storage hygiene. */
class GraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def run(edges: Seq[(Long, Long, Long)], iters: Int,
      parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    val df = Graph.pageRank(edges.toDF("s", "d", "w").repartition(parts),
      "s", "d", "w", iterations = iters)
    val out = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Storage.release(df)
    out
  }

  /** In-memory twin of the operator's exact integer arithmetic:
    * per-edge floor division, order-insensitive integer sums, floored
    * dangling share, floored damping. */
  private def reference(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val pos = edges.filter(_._3 > 0)
    val nodes = (pos.map(_._1) ++ pos.map(_._2)).distinct
    val n = nodes.size.toLong
    val ow = pos.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      pos.foreach { case (s, d, w) => inflow(d) += r(s) * w / ow(s) }
      val dm = nodes.filterNot(ow.contains).map(r).sum / n
      r = nodes.map(v => v -> (150000L + 850000L * (inflow(v) + dm) / 1000000L)).toMap
    }
    r
  }

  test("cycle + chord + dangling node matches the exact-integer reference") {
    // 1 -> 2 -> 3 -> 1 cycle, a chord 1 -> 3, and 3 -> 4 where 4 has
    // no out-edges (dangling: its mass redistributes uniformly)
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 1L, 3L), (1L, 3L, 1L), (3L, 4L, 1L))
    for (iters <- Seq(1, 2, 5)) {
      assert(run(edges, iters) === reference(edges, iters), s"iters=$iters")
    }
  }

  test("star graph: the hub outranks every spoke") {
    val spokes = (2L to 9L)
    val edges = spokes.map(s => (s, 1L, 1L)) ++ spokes.map(s => (1L, s, 1L))
    val ranks = run(edges, 5)
    assert(ranks === reference(edges, 5))
    val hub = ranks(1L)
    spokes.foreach(s => assert(ranks(s) < hub, s"spoke $s must rank below the hub"))
  }

  test("teleport floor: every rank is at least (1-d) even for a pure sink's sources") {
    val edges = Seq((1L, 2L, 1L), (3L, 2L, 1L))
    val ranks = run(edges, 5)
    assert(ranks === reference(edges, 5))
    ranks.values.foreach(r => assert(r >= 150000L))
  }

  test("self-loops and zero/negative weights: loops feed back, bad edges drop") {
    val edges = Seq((1L, 1L, 5L), (1L, 2L, 1L), (2L, 1L, 1L),
      (7L, 8L, 0L), (8L, 9L, -3L)) // the last two must be ignored entirely
    val ranks = run(edges, 3)
    assert(ranks === reference(edges, 3))
    assert(!ranks.contains(7L) && !ranks.contains(8L) && !ranks.contains(9L),
      "nodes appearing only on non-positive edges are not part of the graph")
  }

  test("partition independence: same ranks from 1 and 7 input partitions") {
    val edges = (1L to 40L).map(i => (i, (i * 7) % 40 + 1, i % 5 + 1))
    assert(run(edges, 4, parts = 1) === run(edges, 4, parts = 7))
  }

  test("guards: empty graph, bad iteration count, bad damping") {
    import spark.implicits._
    val e = Seq((1L, 2L, 1L)).toDF("s", "d", "w")
    intercept[IllegalArgumentException](Graph.pageRank(e, "s", "d", "w", 0))
    intercept[IllegalArgumentException](Graph.pageRank(e, "s", "d", "w", 1, -1L))
    intercept[IllegalArgumentException](Graph.pageRank(e, "s", "d", "w", 1, 1000001L))
    intercept[IllegalArgumentException](
      Graph.pageRank(Seq.empty[(Long, Long, Long)].toDF("s", "d", "w"), "s", "d", "w", 1))
  }

  test("storage hygiene: release() returns executor storage to baseline") {
    import spark.implicits._
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val df = Graph.pageRank(
      (1L to 20L).map(i => (i, i % 20 + 1, 1L)).toDF("s", "d", "w"),
      "s", "d", "w", iterations = 3)
    df.count()
    Storage.release(df)
    // <= not ===: the shared-session ContextCleaner may concurrently
    // reap unreachable blocks left by OTHER suites, shrinking the map
    // under us — pageRank itself must add nothing
    assert(spark.sparkContext.getPersistentRDDs.size <= baseline,
      "pageRank must not leak checkpoint blocks past release()")
  }

  test("converged variant: identical ranks to the fixed-round form once converged") {
    import spark.implicits._
    val edges = ((1L to 15L).map(i => (i, (i * 3) % 15 + 1, i % 4 + 1)) ++
      Seq((1L, 16L, 2L))).toDF("s", "d", "w") // 16 is dangling
    val (conv, rounds) = Graph.pageRankConverged(
      edges, "s", "d", "w", epsilonMicro = 100L, maxRounds = 60)
    val convMap = conv.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Storage.release(conv)
    assert(rounds >= 1 && rounds <= 60)
    // the rounds are the SAME computation; only the stopping rule
    // differs — replaying the fixed form for the discovered round
    // count must be bit-identical
    val fixed = Graph.pageRank(edges, "s", "d", "w", iterations = rounds)
    val fixedMap = fixed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Storage.release(fixed)
    assert(convMap === fixedMap)
    // and one more fixed round moves no rank by >= epsilon
    val plus1 = Graph.pageRank(edges, "s", "d", "w", iterations = rounds + 1)
    val plus1Map = plus1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Storage.release(plus1)
    val maxDelta = convMap.map { case (k, v) => math.abs(plus1Map(k) - v) }.max
    assert(maxDelta < 100L, s"claimed convergence but next-round delta is $maxDelta")
  }

  test("converged variant: the maxRounds valve throws instead of returning unconverged ranks") {
    import spark.implicits._
    // asymmetric (a uniform cycle would converge in one round): a
    // chain 1→2→…→30 whose rank front takes many rounds to settle
    val edges = ((1L until 30L).map(i => (i, i + 1, 1L))).toDF("s", "d", "w")
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[IllegalArgumentException](
      Graph.pageRankConverged(edges, "s", "d", "w", epsilonMicro = 1L, maxRounds = 1))
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "the valve fires after rounds of checkpointing — those blocks must be released")
    intercept[IllegalArgumentException](
      Graph.pageRankConverged(edges, "s", "d", "w", epsilonMicro = 0L, maxRounds = 5))
  }

  /** Brute-force a<b<c triangle reference. */
  private def refTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val tris = for {
      a <- nodes; b <- nodes if a < b && und((a, b))
      c <- nodes if b < c && und((b, c)) && und((a, c))
    } yield Seq(a, b, c)
    val cnt = tris.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    nodes.map(n => n -> cnt.getOrElse(n, 0L)).toMap
  }

  private def runTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.triangleCounts(edges.map(e => (e._1, e._2)).toDF("s", "d"), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangles: K4 (every node in 3), matching the brute-force reference") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val got = runTriangles(k4)
    assert(got === refTriangles(k4))
    assert(got.values.toSet === Set(3L))
  }

  test("triangles: star graph has none; directed dups/self-loops canonicalize away") {
    val star = (2L to 10L).flatMap(s => Seq((1L, s), (s, 1L))) ++ Seq((3L, 3L))
    val got = runTriangles(star)
    assert(got === refTriangles(star))
    assert(got.values.forall(_ == 0L), "a star has no triangles")
  }

  test("triangles: pseudo-random graph matches the brute-force reference") {
    // deterministic LCG edge sample over 40 nodes — dense enough for
    // hundreds of triangles, including high-degree skew
    var x = 12345L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    val edges = (1 to 300).map(_ => (nxt() % 40 + 1, nxt() % 40 + 1))
    assert(runTriangles(edges) === refTriangles(edges))
  }

  test("triangles: partition independence") {
    import spark.implicits._
    val edges = (1L to 60L).map(i => (i, (i * 13) % 60 + 1)) ++
      (1L to 60L).map(i => (i, (i * 7) % 60 + 1))
    val a = Graph.triangleCounts(edges.toDF("s", "d").repartition(1), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.triangleCounts(edges.toDF("s", "d").repartition(7), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("failure hygiene: a guard trip after partial checkpointing releases its blocks") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[IllegalArgumentException](Graph.pageRank(
      Seq((1L, 2L, 0L)).toDF("s", "d", "w"), "s", "d", "w", 3))
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "the empty-graph guard fires AFTER e/nodes checkpoint — those blocks must be released")
  }

  // ------------------------------------------------------------- k-core

  /** In-memory twin of the peel: degrees over surviving undirected
    * edges, drop deg < k, repeat to fixpoint. */
  private def refKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    var result = Map.empty[Long, Long]
    var done = false
    while (!done) {
      val deg = (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
        .map { case (id, xs) => id -> xs.size.toLong }
      val keep = deg.filter(_._2 >= k).keySet
      val next = und.filter { case (a, b) => keep(a) && keep(b) }
      if (next.size == und.size) { done = true; result = deg.filter(_._2 >= k) }
      else und = next
    }
    result
  }

  private def runKCore(edges: Seq[(Long, Long)], k: Int,
      maxRounds: Int = 30, parts: Int = 4): (Map[Long, Long], Int) = {
    import spark.implicits._
    val (core, rounds) = Graph.kCore(
      edges.toDF("s", "d").repartition(parts), "s", "d", k, maxRounds)
    val out = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Storage.release(core)
    (out, rounds)
  }

  test("kCore: multi-round peel matches the reference (tail unravels one node per round)") {
    // triangle core {1,2,3} + tail 3-4-5-6: at k=2 the tail peels from
    // the free end inward, ONE node per round (each tail node keeps
    // degree 2 until its outer neighbor goes)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val (got, rounds) = runKCore(edges, k = 2)
    assert(got === refKCore(edges, 2))
    assert(got.keySet === Set(1L, 2L, 3L) && got.values.forall(_ == 2L))
    assert(rounds >= 4, "the tail must take one peeling round per node")
  }

  test("kCore: pseudo-random graph matches the reference at several k") {
    var x = 98765L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    val edges = (1 to 240).map(_ => (nxt() % 30 + 1, nxt() % 30 + 1))
    for (k <- Seq(2, 4, 8)) assert(runKCore(edges, k)._1 === refKCore(edges, k))
  }

  test("kCore: k above the max degree yields an empty core, cleanly") {
    val (got, _) = runKCore(Seq((1L, 2L), (2L, 3L)), k = 5)
    assert(got.isEmpty)
  }

  test("kCore: directed duplicates and self-loops canonicalize away") {
    // (1,2) twice in both directions + self-loop: one undirected edge
    val (got, _) = runKCore(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L)), k = 1)
    assert(got === Map(1L -> 1L, 2L -> 1L))
  }

  test("kCore: partition independence") {
    var x = 555L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    val edges = (1 to 200).map(_ => (nxt() % 25 + 1, nxt() % 25 + 1))
    assert(runKCore(edges, 4, parts = 1)._1 === runKCore(edges, 4, parts = 7)._1)
  }

  test("kCore: the maxRounds valve throws instead of returning a non-fixpoint") {
    // the triangle+tail graph needs >= 4 rounds to settle at k=2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[IllegalArgumentException](Graph.kCore(
      edges.toDF("s", "d"), "s", "d", k = 2, maxRounds = 2))
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "a valve trip must release every checkpoint block it acquired")
  }

  test("kCore: storage hygiene — release() returns executor storage to baseline") {
    import spark.implicits._
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val (core, _) = Graph.kCore(
      (1L to 20L).map(i => (i, i % 20 + 1)).toDF("s", "d"), "s", "d", 2, 10)
    core.count()
    Storage.release(core)
    assert(spark.sparkContext.getPersistentRDDs.size <= baseline,
      "kCore must not leak checkpoint blocks past release()")
  }

  // ---- scc ----

  /** In-memory reference: boolean transitive closure (Floyd–Warshall
    * over the reflexive edge relation), then the operator's own
    * definition verbatim — scc_id(u) = min{v : u→*v ∧ v→*u}. */
  private def refScc(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.size
    val r = Array.fill(n, n)(false)
    nodes.indices.foreach(i => r(i)(i) = true)
    edges.foreach { case (s, t) => r(idx(s))(idx(t)) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (r(i)(k) && r(k)(j)) r(i)(j) = true
    val lab = nodes.indices.map { i =>
      nodes(i) -> nodes.indices.filter(j => r(i)(j) && r(j)(i)).map(nodes).min
    }.toMap
    val size = lab.values.groupBy(identity).map { case (l, g) => l -> g.size.toLong }
    lab.map { case (u, l) => u -> (l, size(l)) }
  }

  private def runScc(edges: Seq[(Long, Long)], parts: Int = 4,
      maxRounds: Int = 20): Map[Long, (Long, Long)] = {
    import spark.implicits._
    val df = Graph.scc(edges.toDF("s", "t").repartition(parts), "s", "t",
      maxRounds = maxRounds)
    val out = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    Storage.release(df)
    out
  }

  test("scc: two cycles bridged one-way + dangling tail") {
    // cycle {1,2,3} → bridge → cycle {4,5} → tail 6: three components,
    // the bridge direction keeps them separate
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 4L), (5L, 6L))
    val got = runScc(edges)
    assert(got === Map(
      1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L),
      4L -> (4L, 2L), 5L -> (4L, 2L), 6L -> (6L, 1L)))
  }

  test("scc: differential fuzz vs the in-memory closure reference") {
    var x = 424242L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    for (trial <- 1 to 5) {
      val nNodes = 6 + trial * 3
      val edges = (1 to nNodes * 2).map(_ => (nxt() % nNodes + 1, nxt() % nNodes + 1))
      assert(runScc(edges) === refScc(edges), s"trial $trial edges=$edges")
    }
  }

  test("scc: self-loops and duplicate edges are absorbed; acyclic DAG is all singletons") {
    val dag = Seq((1L, 2L), (1L, 2L), (2L, 3L), (1L, 3L), (3L, 3L))
    val got = runScc(dag)
    assert(got === Map(1L -> (1L, 1L), 2L -> (2L, 1L), 3L -> (3L, 1L)))
  }

  test("scc: partition independence") {
    var x = 777L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    val edges = (1 to 60).map(_ => (nxt() % 15 + 1, nxt() % 15 + 1))
    assert(runScc(edges, parts = 1) === runScc(edges, parts = 7))
  }

  // ---- condensation depth ----

  /** In-memory reference: [[refScc]]'s labels, condensed distinct
    * cross-component edges, longest path per super-node by repeated
    * relaxation (bounded by component count on an acyclic graph). */
  private def refCondDepth(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val lab = refScc(edges)
    val cond = edges.map { case (s, t) => (lab(s)._1, lab(t)._1) }
      .filter(p => p._1 != p._2).distinct
    val comps = lab.values.map(_._1).toSeq.distinct
    val depth = scala.collection.mutable.Map(comps.map(_ -> 0L): _*)
    var changed = true
    while (changed) {
      changed = false
      cond.foreach { case (s, t) =>
        if (depth(s) + 1 > depth(t)) { depth(t) = depth(s) + 1; changed = true }
      }
    }
    val size = lab.values.groupBy(_._1).map { case (l, g) => l -> g.size.toLong }
    comps.map(c => c -> ((depth(c), size(c)))).toMap
  }

  private def runCondDepth(edges: Seq[(Long, Long)], parts: Int = 4): Map[Long, (Long, Long)] = {
    import spark.implicits._
    val df = Graph.condensationDepth(edges.toDF("s", "t").repartition(parts),
      "s", "t")
    val out = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    Storage.release(df)
    out
  }

  test("condensationDepth: differential fuzz vs in-memory scc + relaxation") {
    var x = 987654L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    for (trial <- 1 to 5) {
      val nNodes = 5 + trial * 3
      // sparse enough that condensation keeps several layers
      val edges = (1 to nNodes + trial * 2)
        .map(_ => (nxt() % nNodes + 1, nxt() % nNodes + 1))
      assert(runCondDepth(edges) === refCondDepth(edges),
        s"trial $trial edges=$edges")
    }
  }

  test("condensationDepth: pure DAG keeps every node, rings collapse with max depth") {
    // 1→2→3 chain plus a 4↔5 ring hanging off 3: depths 0,1,2,3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 4L))
    val got = runCondDepth(edges)
    assert(got === Map(1L -> (0L, 1L), 2L -> (1L, 1L), 3L -> (2L, 1L),
      4L -> (3L, 2L)))
  }

  // ---- harmonic centrality ----

  /** In-memory reference: per-source BFS over the deduped,
    * self-loop-free edge list, then the operator's floored micro sum. */
  private def refHarmonic(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val e = edges.filter(p => p._1 != p._2).distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val adj = e.groupBy(_._1).map { case (s, g) => s -> g.map(_._2).distinct }
    nodes.map { s =>
      val dist = scala.collection.mutable.Map[Long, Long]()
      var frontier = adj.getOrElse(s, Nil).filterNot(_ == s)
      var d = 1L
      while (frontier.nonEmpty) {
        frontier.foreach(v => dist(v) = d)
        d += 1
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .distinct.filterNot(v => v == s || dist.contains(v))
      }
      s -> ((dist.values.map(1000000L / _).sum, dist.size.toLong))
    }.toMap
  }

  private def runHarmonic(edges: Seq[(Long, Long)], parts: Int = 4,
      maxRounds: Int = 20): Map[Long, (Long, Long)] = {
    import spark.implicits._
    val df = Graph.harmonicCentrality(edges.toDF("s", "t").repartition(parts),
      "s", "t", maxRounds = maxRounds)
    val out = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    Storage.release(df)
    out
  }

  test("scc: the maxRounds valve throws and releases its checkpoints") {
    // a 9-node directed path needs 3 doubling rounds past the seed
    val edges = (1L to 8L).map(i => (i, i + 1))
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[IllegalArgumentException](runScc(edges, maxRounds = 1))
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "a valve trip must release every checkpoint block it acquired")
  }

  test("harmonic: path, cycle, and sink match hand counts") {
    // path 1->2->3 plus a cycle 4<->5 and an edge 3->4
    // d(1,*): 2:1 3:2 4:3 5:4 ; d(2,*): 3:1 4:2 5:3 ; d(3,*): 4:1 5:2
    // d(4,*): 5:1 4? excluded ; d(5,*): 4:1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 4L))
    val got = runHarmonic(edges)
    assert(got(1L) == ((1000000L + 500000L + 333333L + 250000L, 4L)))
    assert(got(2L) == ((1000000L + 500000L + 333333L, 3L)))
    assert(got(3L) == ((1000000L + 500000L, 2L)))
    assert(got(4L) == ((1000000L, 1L)))
    assert(got(5L) == ((1000000L, 1L)))
  }

  test("harmonic: differential fuzz vs in-memory BFS") {
    var x = 31337L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    for (trial <- 1 to 5) {
      val nNodes = 5 + trial * 3
      val edges = (1 to nNodes * 2).map(_ => (nxt() % nNodes + 1, nxt() % nNodes + 1))
      assert(runHarmonic(edges) === refHarmonic(edges), s"trial $trial edges=$edges")
    }
  }

  test("eccentricity: differential fuzz vs in-memory BFS (max face of the shared core)") {
    import spark.implicits._
    var x = 90210L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    for (trial <- 1 to 5) {
      val nNodes = 5 + trial * 3
      val edges = (1 to nNodes * 2).map(_ => (nxt() % nNodes + 1, nxt() % nNodes + 1))
      // the in-memory reference: per-source BFS, ecc = max distance
      val want = refHarmonic(edges) // (harmonicMicro, reachCount) — reuse BFS
      val e = edges.filter(p => p._1 != p._2).distinct
      val adj = e.groupBy(_._1).map { case (s, g) => s -> g.map(_._2).distinct }
      val eccRef = ((e.map(_._1) ++ e.map(_._2)).distinct).map { s =>
        val dist = scala.collection.mutable.Map[Long, Long]()
        var frontier = adj.getOrElse(s, Nil).filterNot(_ == s)
        var d = 1L
        while (frontier.nonEmpty) {
          frontier.foreach(v => dist(v) = d)
          d += 1
          frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
            .distinct.filterNot(v => v == s || dist.contains(v))
        }
        s -> ((if (dist.isEmpty) 0L else dist.values.max, dist.size.toLong))
      }.toMap
      val df = Graph.eccentricity(edges.toDF("s", "t").repartition(4), "s", "t")
      val got = df.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      Storage.release(df)
      assert(got === eccRef, s"trial $trial edges=$edges")
      assert(got.keySet === want.keySet, "both faces see the same node set")
    }
  }

  test("harmonic: partition independence and valve release") {
    var x = 2024L
    def nxt(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    val edges = (1 to 50).map(_ => (nxt() % 12 + 1, nxt() % 12 + 1))
    assert(runHarmonic(edges, parts = 1) === runHarmonic(edges, parts = 7))
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[IllegalArgumentException](
      runHarmonic((1L to 9L).map(i => (i, i + 1)), maxRounds = 2))
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "a valve trip must release every checkpoint block it acquired")
  }
}
