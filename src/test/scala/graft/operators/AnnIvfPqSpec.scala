package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The composed IVF-PQ index (IVFADC): residuals against the coarse
  * IVF quantizer are PQ-encoded with a shared codebook; search ADCs
  * only against probed cells. Recall is floor-pinned against brute
  * force, the encoded corpus carries no floats, and training is
  * deterministic. */
class AnnIvfPqSpec extends SparkSpec {

  test("IVFADC top-k recalls a solid share of the exact top-k") {
    val brute = AnnOps.annTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfpq = AnnOps.annIvfPq(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivfpq.size == brute.size, "same (query, k) shape")
    val recall = brute.count(ivfpq.contains).toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall over ${brute.size} exact pairs")
  }

  test("residual quantization beats no worse than cell-blind PQ would prune: " +
      "candidates come only from probed cells") {
    val (cents, _, encoded) = AnnOps.ivfpqFor(spark, sfDir)
    // every encoded row's cluster is a real trained cell
    val cells = cents.select(col("centroid_id")).collect().map(_.getLong(0)).toSet
    val used = encoded.select(col("cluster_id")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(used.subsetOf(cells))
    // one row of m codes per vector, codes within range
    val n = graft.Tables.embeddings(spark, sfDir).count()
    val rows = encoded.collect()
    assert(rows.length == n && rows.map(_.getAs[Long]("neighbor_id")).distinct.length == n)
    rows.map(r => r.getSeq[Int](r.fieldIndex("codes"))).foreach { codes =>
      assert(codes.length == AnnOps.pqSubspaces)
      assert(codes.forall(c => c >= 0 && c < AnnOps.pqCodes))
    }
    // the search corpus frame is ints only — the compression claim
    encoded.schema.fields.foreach { f =>
      assert(Seq("bigint", "int", "array<int>").contains(f.dataType.simpleString),
        s"encoded corpus must carry no vectors, found ${f.name}: ${f.dataType}")
    }
  }

  test("candidate volume is the probed cells' population, not the corpus") {
    val (cents, cb, encoded) = AnnOps.ivfpqFor(spark, sfDir)
    val n = graft.Tables.embeddings(spark, sfDir).count()
    val k = cents.count()
    // per query, ADC touches |probed cells| vectors ≈ N·nprobe/K; with
    // cell skew, bound by 4× the expectation
    val cellSizes = encoded.groupBy("cluster_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val worstProbe = cellSizes.values.toSeq.sorted.reverse
      .take(AnnOps.nprobe).sum
    assert(worstProbe <= 4L * n * AnnOps.nprobe / k,
      s"worst-case probe population $worstProbe vs n=$n k=$k")
  }

  test("persisted IVFADC artifacts search identically to the inline-trained index") {
    val (cents, cb, encoded) = AnnOps.ivfpqFor(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    AnnOps.writeIvfPq(cents, cb, encoded, path)
    val (centsL, cbL, encodedL) = AnnOps.loadIvfPq(spark, path)
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < AnnOps.nQueries)
    def rows(c: org.apache.spark.sql.DataFrame, b: AnnOps.PqCodebook,
        enc: org.apache.spark.sql.DataFrame) =
      AnnOps.annIvfPqSearch(q, c, b, enc, e).collect().map(_.toString).toSeq
    assert(rows(centsL, cbL, encodedL) == rows(cents, cb, encoded))
  }

  test("training is deterministic: two fresh trains produce identical artifacts") {
    val e = AnnOps.annTopk(spark, sfDir) // warm nothing relevant; just sanity
    assert(e.columns.nonEmpty)
    val cents = AnnOps.centroids(spark, sfDir)
    def train() = {
      val rs = AnnOps.ivfpqResidualSub(
        graft.Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("norm", sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v")))),
        cents)
      val cb = AnnOps.pqCodebookOf(rs)
      AnnOps.ivfpqEncodeOf(rs, cb).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Int](2)).toMap
    }
    assert(train() == train())
  }
}
