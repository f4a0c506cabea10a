package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Pins the native probe/assignment kernel ([[CentroidProbes]]) to the
  * interpreted centScores chain it replaces. */
class CentroidProbesSpec extends SparkSpec {

  import spark.implicits._

  private def dot(a: Column, b: Column) = GraftFunctions.dot(a, b)

  /** The interpreted chain from the pre-optimization AnnOps, with
    * cosineOf's zero-norm guard: a null csim sorts below every score. */
  private def declScores(v: Column, norm: Column): Column =
    transform(col("cents"), c => struct(
      GraftFunctions.cosineOf(v, c.getField("cv"), norm, c.getField("cn")).as("csim"),
      (-c.getField("centroid_id")).as("nid")))

  private def declProbes(v: Column, norm: Column, n: Int): Column =
    transform(slice(reverse(array_sort(declScores(v, norm))), 1, n),
      p => -p.getField("nid"))

  private def withCents(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(
      cents.agg(collect_list(struct(col("centroid_id"), col("cv"), col("cn")))
        .as("cents"))))

  test("native probes match the interpreted sort chain on the corpus, all n") {
    val e = graft.operators.AnnOps.embeddingsWithNorm(spark, sfDir)
    val cents = graft.operators.AnnOps.centroidsOf(e)
    val df = withCents(e, cents)
    Seq(1, 3, 100).foreach { n =>
      val mism = df.select(
        GraftFunctions.centroidProbes(col("v"), col("norm"), col("cents"), n).as("nat"),
        declProbes(col("v"), col("norm"), n).as("dec"))
        .filter(col("nat") =!= col("dec"))
        .count()
      assert(mism == 0L, s"n=$n")
    }
  }

  test("assignment (n=1) equals the array_max argmax on the corpus") {
    val e = graft.operators.AnnOps.embeddingsWithNorm(spark, sfDir)
    val cents = graft.operators.AnnOps.centroidsOf(e)
    val df = withCents(e, cents)
    val mism = df.select(
      element_at(GraftFunctions.centroidProbes(col("v"), col("norm"), col("cents"), 1), 1)
        .as("nat"),
      (-array_max(declScores(col("v"), col("norm"))).getField("nid")).as("dec"))
      .filter(col("nat") =!= col("dec"))
      .count()
    assert(mism == 0L)
  }

  /** Native probes and the guarded twin's, for each (vec_id, v, norm). */
  private def probesBothWays(e: DataFrame, cents: DataFrame, n: Int): Seq[(Seq[Long], Seq[Long])] =
    withCents(e, cents)
      .select(GraftFunctions.centroidProbes(col("v"), col("norm"), col("cents"), n).as("nat"),
        declProbes(col("v"), col("norm"), n).as("dec"))
      .as[(Seq[Long], Seq[Long])].collect().toSeq

  test("a zero-norm query scores no centroid and probes in id order, as the twin does") {
    val cents = Seq((7L, Seq(1.0, 0.0), 1.0), (3L, Seq(0.0, 1.0), 1.0))
      .toDF("centroid_id", "cv", "cn")
    val e = Seq((1L, Seq(0.0, 0.0), 0.0)).toDF("vec_id", "v", "norm")
    assert(probesBothWays(e, cents, 2) == Seq((Seq(3L, 7L), Seq(3L, 7L))))
  }

  test("a zero-norm centroid ranks after every scored one, as the twin does") {
    // centroid 1 is all zeros; every query, even one pointing away from
    // both real centroids, probes it last
    val cents = Seq((1L, Seq(0.0, 0.0), 0.0), (7L, Seq(1.0, 0.0), 1.0),
      (3L, Seq(0.0, 1.0), 1.0)).toDF("centroid_id", "cv", "cn")
    val e = Seq((1L, Seq(0.6, 0.8), 1.0), (2L, Seq(-1.0, -1.0), math.sqrt(2.0)))
      .toDF("vec_id", "v", "norm")
    assert(probesBothWays(e, cents, 3) ==
      Seq((Seq(3L, 7L, 1L), Seq(3L, 7L, 1L)), (Seq(3L, 7L, 1L), Seq(3L, 7L, 1L))))
  }

  test("exact-tie vectors break to the smaller centroid id") {
    // two identical centroids with different ids: every query ties
    val cents = Seq((7L, Seq(1.0, 0.0), 1.0), (3L, Seq(1.0, 0.0), 1.0))
      .toDF("centroid_id", "cv", "cn")
    val e = Seq((1L, Seq(0.5, 0.5), math.sqrt(0.5))).toDF("vec_id", "v", "norm")
    val out = withCents(e, cents)
      .select(GraftFunctions.centroidProbes(col("v"), col("norm"), col("cents"), 2)
        .as("p"))
      .as[Seq[Long]].head()
    assert(out == Seq(3L, 7L))
  }
}
