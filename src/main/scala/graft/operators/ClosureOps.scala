package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** General transitive-closure over a parent/edge table, for hierarchies
  * whose parent function is data (not arithmetic like [[StatusOps.orgClosure]]).
  *
  * Reference semantics: `aws/source_id_manager.py:fetch_org_rules` walks
  * `parent_organizations` chains until exhausted (with a visited set).
  * Set-at-a-time equivalent: the ancestor closure of the edge relation.
  *
  * Scale design: true path doubling. Round k holds every path of
  * length <= 2^k; one self-join per round doubles the reachable depth,
  * so a depth-d hierarchy needs ceil(log2 d) shuffles — not d. The loop
  * is [[Fixpoint.converge]]: two rounds per `localCheckpoint` cut, and
  * the fixpoint test is the pair count of the cut frame.
  */
object ClosureOps {

  /** All distinct (node, ancestor) pairs reachable by following
    * `parentCol` edges, with the shortest path length as `depth`. The
    * state per round is the pair set itself — min(depth) per pair,
    * never raw path rows — so on a cyclic edge set the frame is bounded
    * by |reachable pairs| and the fixpoint converges (a cycle stops
    * contributing once every pair on it is known; with path rows the
    * same pairs would reappear at depth 2^k forever). The pair set only
    * grows, so an unchanged count across a double round means neither
    * round found a pair, and the depths are then exact. */
  def ancestorClosure(edges: DataFrame, nodeCol: String = "node",
      parentCol: String = "parent"): DataFrame = {
    def minDepth(paths: DataFrame): DataFrame =
      paths.groupBy(col("node"), col("ancestor")).agg(min(col("depth")).as("depth"))
    val init = minDepth(edges
      .select(col(nodeCol).as("node"), col(parentCol).as("ancestor"), lit(1).as("depth")))
    Fixpoint.converge(init, count(lit(1))) { paths =>
      val doubled = paths.as("a")
        .join(paths.as("b"), col("a.ancestor") === col("b.node"))
        .select(col("a.node").as("node"), col("b.ancestor").as("ancestor"),
          (col("a.depth") + col("b.depth")).as("depth"))
      minDepth(paths.unionByName(doubled))
    }
  }
}
