package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.{cosineOf, dot}

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): k-means-partition the embedding space, find
  * cosine-near pairs WITHIN each cluster only, then keep one canonical
  * document per semantic-duplicate group. The paper's observation is
  * that semantic duplicates land in the same k-means cell, so the
  * all-pairs search shrinks from O(n²) to Σ cluster_size² — and k is
  * the knob that bounds cluster size as the corpus grows (the paper
  * scales k with n; skew in cell population is an equi-join key skew
  * that AQE can split, unlike a window).
  *
  * Scale design, front to back:
  *  - Duplicate-collapse prepass: the dedup family's one copy-collapse
  *    ([[DedupOps.collapseOf]] on the vector value) runs before
  *    anything else, so a c-times-crawled page costs one row in
  *    training, assignment, and the within-cell self-join instead of
  *    multiplying every stage by c (and the cell pair-gen by c²).
  *    Copies rejoin through [[DedupOps.copyEdgesOf]] at the component
  *    step.
  *  - Centroids train on the DISTINCT vectors (deterministic Lloyd,
  *    [[AnnOps.centroidsOf]]) — dedup-weighted training is the version
  *    you want: a page's crawl count must not drag the means.
  *  - Assignment is map-side (broadcast centroid array, per-row argmax).
  *  - Candidate generation is the within-cell self-join on cluster_id;
  *    exact cosine ([[graft.functions.GraftFunctions.cosineOf]])
  *    verifies every candidate, so precision is exact and only the cell
  *    partition (vs. a global all-pairs) is approximate.
  *  - Groups close transitively with [[DedupOps.dupClustersOf]]
  *    (min-label propagation over edge endpoints, run to its fixpoint by
  *    [[Fixpoint.converge]]); `keep` = the
  *    group's minimum vec_id, so "keep rows" IS the semantically
  *    deduplicated corpus.
  */
object SemDedupOps {

  /** Pair threshold: aligned with [[DedupOps.cosineThreshold]] so the
    * family's exact twin ([[DedupOps.embeddingPairsOf]]) doubles as
    * this operator's recall yardstick. Production SemDeDup on real
    * sentence embeddings runs far tighter (≈ 0.95). */
  val semThreshold: Double = DedupOps.cosineThreshold

  /** Driver entry: semantic dedup of the embeddings table. The collapse
    * groups and trained centroids are the pass's reusable model — cached
    * per (session, corpus) like [[AnnOps.ivfFor]], so repeated queries
    * (and bench repetitions) pay Lloyd once; the pair search + component
    * closure still runs per query. Deterministic training ⇒ cached and
    * fresh results identical. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val (grouped, cents) = modelFor(s, dir)
    semDedupWithCentroids(grouped, cents, semThreshold)
  }

  private val modelCache = new graft.SessionCache[(DataFrame, DataFrame)]()

  private def modelFor(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    modelCache.getOrCompute(s, dir) {
      val vecs = DedupOps.vectorsOf(Tables.spread(s, Tables.embeddings(s, dir)),
        "vec_id", "embedding")
      val grouped = DedupOps.collapseOf(vecs, "vec_id", col("v"))
      val e = grouped.select(col("rep_id").as("vec_id"), col("v"))
        .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      // collapseOf cuts the groups; the centroids are lloydOf's last cut
      (grouped, AnnOps.centroidsOf(e))
    }

  /** Generic API: (vec_id, cluster_id, sem_group, keep) for any
    * embedding frame. `sem_group` is the minimum vec_id reachable
    * through within-cluster cosine ≥ `threshold` edges; `keep` marks
    * the one canonical row per group; `cluster_id` is the k-means cell.
    * Zero vectors have no defined cosine: they still land in a
    * (deterministic, arbitrary) cell but never pair — each keeps
    * itself. */
  def semDedupOf(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val grouped = DedupOps.collapseOf(DedupOps.vectorsOf(vecs, idCol, vecCol),
      "vec_id", col("v"))
    val e = grouped.select(col("rep_id").as("vec_id"), col("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    semDedupWithCentroids(grouped, AnnOps.centroidsOf(e), threshold)
  }

  /** Core, parameterized by the trained centroid frame — the spec pins
    * collapse equivalence and the brute-force-CC twin at fixed
    * centroids (training input changes centroids; the invariant is
    * about everything after them). */
  private[operators] def semDedupWithCentroids(grouped: DataFrame,
      cents: DataFrame, threshold: Double): DataFrame = {
    val e = grouped.select(col("rep_id").as("vec_id"), col("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val assigned = AnnOps.assignmentsOf(e, cents)

    // within-cell candidate pairs (equi-join on the cell id), exact
    // cosine verify — ids and vectors meet only inside a cell
    val a = assigned.select(col("cluster_id"), col("vec_id").as("doc_a"),
      col("v").as("va"), col("norm").as("na"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("doc_b"),
      col("v").as("vb"), col("norm").as("nb"))
    // a zero vector's cosine is null, so it never pairs (the guard
    // also keeps its 0/0 from throwing DIVIDE_BY_ZERO under ANSI mode)
    val repPairs = a.join(b, Seq("cluster_id"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(cosineOf(col("va"), col("vb"), col("na"), col("nb")) >= threshold)
      .select("doc_a", "doc_b")

    // copy-group edges: a copy pair's cosine is dot(v,v)/norm² = 1,
    // which passes any threshold ≤ 1 — but only when the shared vector
    // is non-zero (a zero vector's cosine is undefined ⇒ no edge, same
    // as the uncollapsed plan's null-cosine drop)
    val groupEdges = DedupOps.copyEdgesOf(grouped
      .filter(size(col("members")) >= 2 && dot(col("v"), col("v")) > 0 &&
        lit(threshold) <= 1.0))

    val nodes = grouped.select(explode(col("members")).as("doc_id"))
    val cc = DedupOps.dupClustersOf(nodes, repPairs.unionByName(groupEdges))
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("sem_group"),
        col("is_canonical").as("keep"))

    // members inherit their representative's k-means cell
    val memberCell = grouped.select(col("rep_id"), explode(col("members")).as("vec_id"))
      .join(assigned.select(col("vec_id").as("rep_id"), col("cluster_id")), "rep_id")
      .select(col("vec_id"), col("cluster_id"))
    cc.join(memberCell, Seq("vec_id"), "left")
      .select("vec_id", "cluster_id", "sem_group", "keep")
      .orderBy("vec_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_semdedup" -> (semDedup _))

  /** DELIBERATELY rows-only — promotion to an all-pairs-CC hash oracle
    * was attempted and MEASURED off: cluster assignment depends on
    * in-engine Lloyd training (not SQL-expressible), so the only
    * candidate oracle is brute-force all-pairs reachability — and at
    * sf0.01, 30 of the 59 cosine≥0.4 pairs straddle a k-means cell
    * boundary (max cross-cell cosine 0.513 > max within-cell 0.475);
    * even 3-probe multi-assignment still misses 1/59. Within-cell
    * search IS SemDeDup's documented approximation, so gating it on
    * exact-CC equality would make the driver row red on expected recall
    * behavior, not on bugs (the failure mode the minhash-LSH triage
    * note warns about). Semantics are pinned by SemDedupSpec
    * (brute-force-CC twin at fixed centroids, collapse equivalence,
    * determinism). */
  def oracles: Map[String, String] = Map.empty
}
