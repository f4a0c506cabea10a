package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnnPqSpec extends SparkSpec {

  test("PQ-ADC top-k recalls a solid share of the exact top-k") {
    val brute = AnnOps.annTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = AnnOps.annPq(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(pq.size == brute.size, "same (query, k) shape")
    val recall = brute.count(pq.contains).toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall over ${brute.size} exact pairs")
  }

  test("training is deterministic: two runs produce identical codebooks") {
    val a = AnnOps.pqCodebook(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val b = AnnOps.pqCodebook(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(a == b)
  }

  test("one m-length codes array per vector, codes in [0, pqCodes)") {
    val n = graft.Tables.embeddings(spark, sfDir).count()
    val enc = AnnOps.pqEncodeOf(
      AnnOps.pqSubvectorsForTest(spark, sfDir),
      AnnOps.pqCodebook(spark, sfDir)).collect()
    assert(enc.length == n && enc.map(_.getLong(0)).distinct.length == n)
    enc.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == AnnOps.pqSubspaces, s"vec ${r.getLong(0)}")
      assert(codes.forall(c => c >= 0 && c < AnnOps.pqCodes), s"vec ${r.getLong(0)}")
    }
  }

  test("PQ codes arrays equal the pivot of the row-form encoder's codes") {
    def arraysOf(encoded: org.apache.spark.sql.DataFrame) = encoded.collect()
      .map(r => r.getAs[Long]("neighbor_id") -> ((-1L, r.getSeq[Int](r.fieldIndex("codes")).toSeq)))
      .toMap
    val (cb, encoded) = AnnOps.pqFor(spark, sfDir)
    val rows = AnnEncodeTwin.pivot(AnnEncodeTwin.pqRowsFor(spark, sfDir))
    assert(rows.nonEmpty && arraysOf(encoded).size == encoded.count())
    assert(arraysOf(encoded) == rows)
    // subvector rows arriving in descending subspace order still pivot
    // to subspace-ordered codes (materialized, so the optimizer cannot
    // drop the sort beneath the encode join)
    val reversed = AnnOps.pqSubvectorsForTest(spark, sfDir)
      .orderBy(col("vec_id"), col("subspace").desc).localCheckpoint()
    assert(arraysOf(AnnOps.pqEncodeOf(reversed, cb)) == rows)
  }
}
