package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The row-form PQ encoders that the array-form
  * [[AnnOps.pqEncodeOf]] / [[AnnOps.ivfpqEncodeOf]] replaced — kept in
  * test scope as the twin the encoded arrays are pinned against
  * (AnnPqSpec, IvfPqProbeStreamSpec): the same codebook join and
  * nearest-code argmin, emitted as one (vec_id[, cluster_id], subspace,
  * code) row per (vector, subspace) with no pivot. */
object AnnEncodeTwin {

  private def rowsOf(sub: DataFrame, cb: DataFrame, keys: String*): DataFrame =
    sub.join(broadcast(AnnOps.codebookArr(cb)), "subspace")
      .select((Seq(col("vec_id")) ++ keys.map(col) ++ Seq(col("subspace"),
        array_min(AnnOps.codeScores(col("sv"))).getField("code").as("code"))): _*)

  /** (vec_id, subspace, code) for the session's trained PQ codebook. */
  def pqRowsFor(s: SparkSession, dir: String): DataFrame =
    rowsOf(AnnOps.pqSubvectorsForTest(s, dir), AnnOps.pqFor(s, dir)._1)

  /** (vec_id, cluster_id, subspace, code) for the session's trained
    * IVFADC coarse quantizer and residual codebook. */
  def ivfpqRowsFor(s: SparkSession, dir: String): DataFrame = {
    val (cents, cb, _) = AnnOps.ivfpqFor(s, dir)
    rowsOf(AnnOps.ivfpqResidualSub(AnnOps.embeddingsWithNorm(s, dir), cents), cb,
      "cluster_id")
  }

  /** Host-side pivot of collected row-form codes: vec_id →
    * (cluster_id or -1, codes in subspace order). */
  def pivot(rows: DataFrame): Map[Long, (Long, Seq[Int])] = {
    val hasCell = rows.columns.contains("cluster_id")
    rows.collect().toSeq
      .map(r => (r.getAs[Long]("vec_id"),
        if (hasCell) r.getAs[Long]("cluster_id") else -1L,
        r.getAs[Int]("subspace"), r.getAs[Int]("code")))
      .groupBy(_._1).map { case (vid, rs) =>
        val cells = rs.map(_._2).distinct
        require(cells.size == 1, s"vec $vid spans cells $cells")
        vid -> (cells.head, rs.sortBy(_._3).map(_._4))
      }
  }
}
