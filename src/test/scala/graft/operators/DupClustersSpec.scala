package graft.operators

import graft.SparkSpec

/** Connected components ([[DedupOps.dupClustersOf]]) on crafted graphs,
  * against a driver-side union-find whose label is the component
  * minimum. The loop checks its probe after every second propagation
  * round, so odd-diameter paths (the fixpoint lands on the first round
  * of a pair) and graphs needing many rounds are the cases to pin. */
class DupClustersSpec extends SparkSpec {

  /** (doc_id → cluster_id) by union-find, every node labeled with its
    * component's minimum id. */
  private def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = if (parent(x) == x) x else {
      val r = find(parent(x)); parent(x) = r; r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  private def check(nodes: Seq[Long], edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val got = DedupOps.dupClustersOf(nodes.toDF("doc_id"), edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val want = unionFind(nodes, edges)
    assert(got.keySet == nodes.toSet)
    assert(got.map { case (n, (c, _)) => n -> c } == want)
    assert(got.forall { case (n, (c, canon)) => canon == (n == c) })
  }

  test("crafted graphs: odd-diameter paths, a cycle, a pair and isolated nodes") {
    // path of diameter 5, minimum at one end: the label needs 5 rounds
    val path5 = Seq(100L, 107L, 103L, 109L, 104L, 108L)
    // path of diameter 7, minimum at one end, ids interleaved with path5's
    val path7 = Seq(101L, 110L, 102L, 111L, 105L, 112L, 106L, 113L)
    val cycle = Seq(200L, 204L, 201L, 203L, 202L)
    val chain = (p: Seq[Long]) => p.zip(p.tail)
    // the pair is given in both directions and twice; 400 has a self-loop
    val edges = chain(path5) ++ chain(path7) ++ chain(cycle) ++
      Seq(cycle.last -> cycle.head, 301L -> 300L, 300L -> 301L, 301L -> 300L, 400L -> 400L)
    val nodes = (path5 ++ path7 ++ cycle ++ Seq(300L, 301L, 400L, 401L, 402L)).sorted
    check(nodes, edges)
  }

  test("an empty pair set labels every node with itself") {
    check(Seq(1L, 2L, 3L), Seq.empty)
  }
}
