package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Cluster

/** Connected components: chain graphs (pointer-jumping exercises
  * multi-round convergence), multiple components, cliques, empty
  * graphs, partition independence, and a differential fuzz against an
  * in-memory union-find. */
class ClusterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def components(edges: Seq[(Long, Long)], parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    Cluster.connectedComponents(
        edges.toDF("a", "b").repartition(parts), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** in-memory union-find reference */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("a long chain converges to the minimum id (multi-round)") {
    // path 0-1-2-...-40: diameter 40, needs pointer-jumping to finish
    // inside the round budget
    val edges = (0L until 40L).map(i => (i, i + 1))
    val out = components(edges)
    assert(out.size == 41 && out.values.forall(_ == 0L))
  }

  test("separate components keep separate minimum labels") {
    val out = components(Seq((10L, 11L), (11L, 12L), (20L, 21L), (5L, 6L)))
    assert(out(10L) == 10L && out(11L) == 10L && out(12L) == 10L)
    assert(out(20L) == 20L && out(21L) == 20L)
    assert(out(5L) == 5L && out(6L) == 5L)
  }

  test("clique and empty graph") {
    val clique = for { i <- 0L until 5L; j <- i + 1 until 5L } yield (i, j)
    assert(components(clique).values.forall(_ == 0L))
    assert(components(Seq.empty).isEmpty)
  }

  test("result is partition-count independent") {
    val edges = Seq((1L, 2L), (3L, 4L), (2L, 3L), (7L, 8L))
    assert(components(edges, parts = 1) == components(edges, parts = 7))
  }

  test("differential fuzz vs union-find") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
    assert(components(edges) == reference(edges))
  }
}
