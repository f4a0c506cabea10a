package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over the corpus similarity graph. The kNN graph the
  * embedding pipeline already builds ([[AnnOps.knnGraph]]) doubles as a
  * directed graph whose structure carries curation signal: a vector many
  * other vectors point at is a density hub (a cluster center, or a pile
  * of near-duplicates); isolated low-rank vectors are outliers.
  *
  * [[pagerank]] runs fixed-point PageRank in EXACT INTEGER arithmetic:
  * ranks live in units of 1e-12 (BIGINT), contributions are floor
  * divisions, and damping is integer percent math — so every sum is
  * order-independent, the result is bit-identical on any partitioning
  * or engine, and the DuckDB oracle hash-checks an ITERATIVE graph
  * computation (impossible with float ranks, where per-engine summation
  * order drifts the low bits and then the whole fixpoint).
  */
object GraphOps {

  /** Unrolled power iterations. Few, fixed: each is one join + one
    * aggregation, and curation only needs rank ORDER, which stabilizes
    * fast on a k-regular graph. */
  val pagerankIters = 3

  /** Rank mass scale: rank 1.0 = 1e12 units. Total in-flight mass is
    * ≤ scale, so 85·mass stays far below Long.MaxValue even with 1e9
    * nodes. */
  val pagerankScale = 1000000000000L

  /** Generic integer PageRank (damping 0.85) over ANY directed edge
    * list — the edges-in API: callers bring whatever graph they mined
    * (exact kNN, IVF kNN, a persisted similarity graph read straight
    * off parquet) and only the iteration shape lives here.
    *
    * `edges` needs (src, dst); `nodes` needs (vec_id). Out-degree is
    * computed FROM the edge list (one src-keyed aggregation, done
    * once) — a k-regular kNN graph reduces to the classic rank/k
    * split, and irregular graphs (an IVF graph whose boundary cells
    * return fewer than k neighbors, a web graph) divide by their true
    * degree. Dangling mass (nodes with no out-edges) drops out of
    * circulation, standard for curation ranking where only ORDER
    * matters.
    *
    * Every node starts at scale/N units; each iteration every node
    * sends rank/deg along its out-edges and collects
    * 0.15·(scale/N) + 0.85·Σ in-contributions, in floor-division
    * integer math (order-independent — see object doc).
    *
    * Scale shape: each iteration is ONE equi-join of the
    * degree-annotated edge list with the current rank frame (both
    * keyed on the vector id) + ONE hash aggregation on the
    * destination — the textbook distributed PageRank step; nothing is
    * ever collected to the driver and N rides as a 1-row aggregate
    * broadcast. At 100 TB both sides pre-bucket on vec_id so the
    * per-iteration exchange disappears (see sources.Bucketing). The
    * degree-annotated edges are localCheckpoint'd once: every
    * iteration joins them, and without the cut each join re-derives
    * the (expensive) edge-mining subtree — the same eager-cut
    * discipline as DedupOps.collapseOf. In production this IS
    * the persisted kNN-graph table. */
  def pagerankOf(edges: DataFrame, nodes: DataFrame,
      iters: Int = pagerankIters, cutEdges: Boolean = true): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val annotated = edges.join(deg, "src")
      .select(col("src"), col("dst"), col("deg"))
    // cutEdges = true (default) materializes the degree-annotated edges
    // once — right when `edges` is an EXPENSIVE derivation (a kNN mine)
    // that every iteration would otherwise re-run. Pass false when
    // `edges` is a persisted table: the catalyst subtree then survives,
    // so a src-bucketed edge table exposes HashPartitioning(src) to
    // every iteration's join AND to the degree rollup — the fat side of
    // the computation runs with ZERO per-iteration exchange, only the
    // node-sized rank frame shuffles (BucketedPageRankSpec asserts
    // this; a localCheckpoint would erase the bucket metadata). This is
    // the 100 TB configuration: edges persisted bucketed on src, ranks
    // the only moving frame.
    val e = if (cutEdges) annotated.localCheckpoint() else annotated
    val n = nodes.agg(count(lit(1)).as("n"))
    val base = nodes.crossJoin(broadcast(n))
    var ranks = base.select(col("vec_id"), expr(s"$pagerankScale div n").as("r"))
    for (_ <- 1 to iters) {
      val in = e.join(ranks, col("src") === col("vec_id"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("cin"))
      ranks = base
        .join(in, col("vec_id") === col("dst"), "left")
        .select(col("vec_id"),
          expr(s"(15 * ($pagerankScale div n)) div 100 + (85 * coalesce(cin, 0L)) div 100")
            .as("r"))
    }
    ranks.select(col("vec_id"), col("r").as("rank_units")).orderBy("vec_id")
  }

  private def edgesOf(g: DataFrame): DataFrame =
    g.select(col("query_id").as("src"), col("neighbor_id").as("dst"))

  /** PageRank over the EXACT kNN edge set — the deliberate exact twin
    * (the brute-force edge mine keeps the oracle hash-checkable), same
    * convention as q_knn_graph vs q_knn_graph_ivf. */
  def pagerank(s: SparkSession, dir: String): DataFrame =
    pagerankOf(edgesOf(AnnOps.knnGraph(s, dir)),
      Tables.embeddings(s, dir).select(col("vec_id")))

  /** The 100 TB path: the identical iteration over the IVF-mined kNN
    * graph ([[AnnOps.knnGraphIvf]] — candidate scan |N|·nprobe/K, not
    * |N|²). Rows-only at the driver gate: IVF recall is probabilistic,
    * so edge-set (and hence rank) equality with the exact twin is a
    * corpus property, not a contract — GraphOpsSpec pins the invariant
    * contract (mass conservation, one row per node, rank agreement
    * with the exact twin at the fixture's recall). */
  def pagerankIvf(s: SparkSession, dir: String): DataFrame =
    pagerankOf(edgesOf(AnnOps.knnGraphIvf(s, dir)),
      Tables.embeddings(s, dir).select(col("vec_id")))

  /** Oracle: the same integer fixpoint with the iterations unrolled as
    * chained CTEs over the brute-force edge CTE. */
  val pagerankSql: String = {
    val k = AnnOps.topK
    val iterCte = (i: Int) => {
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (
         |  SELECT dst, CAST(sum(r // $k) AS BIGINT) AS cin
         |  FROM edges JOIN $prev ON src = vec_id GROUP BY 1),
         |r$i AS (
         |  SELECT e.vec_id,
         |    (15 * ($pagerankScale // n.n)) // 100
         |      + (85 * coalesce(c$i.cin, 0)) // 100 AS r
         |  FROM e CROSS JOIN n LEFT JOIN c$i ON c$i.dst = e.vec_id)"""
        .stripMargin
    }
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |      CAST(embedding AS DOUBLE[]))) AS norm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS src, c.vec_id AS dst,
       |    list_dot_product(q.v, c.v) / (q.norm * c.norm) AS cosine
       |  FROM e q JOIN e c ON q.vec_id <> c.vec_id),
       |edges AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY cosine DESC, dst ASC) AS rk
       |    FROM scored)
       |  WHERE rk <= $k),
       |n AS (SELECT count(*) AS n FROM e),
       |r0 AS (SELECT vec_id, $pagerankScale // n.n AS r FROM e CROSS JOIN n),
       |${(1 to pagerankIters).map(iterCte).mkString(",\n")}
       |SELECT vec_id, r AS rank_units FROM r$pagerankIters
       |ORDER BY vec_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_pagerank" -> (pagerank _),
    "q_graph_pagerank_ivf" -> (pagerankIvf _))

  def oracles: Map[String, String] = Map(
    "q_graph_pagerank" -> pagerankSql)
}
