package graft.operators

import graft.SparkSpec

class EmbeddingLshSpec extends SparkSpec {

  test("hyperplane LSH: exact precision, honest recall vs brute force") {
    // oracle twin: the brute-force all-pairs operator (spec-only path)
    val brute = DedupOps.embeddingPairsOf(
      graft.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      DedupOps.cosineThreshold).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = DedupOps.embeddingDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    // precision 1.0: every LSH pair is a true pair with identical cosine
    lsh.foreach { case (pair, c) =>
      assert(brute.contains(pair), s"false positive $pair")
      assert(brute(pair) == c)
    }
    // recall: 4x4 banded hyperplanes at cosine>=0.4 (~66 deg) is a weak
    // locality regime; require it to beat a trivial sampler meaningfully
    if (brute.nonEmpty) {
      val recall = lsh.size.toDouble / brute.size
      assert(recall >= 0.25, s"recall $recall over ${brute.size} true pairs")
    }
  }

  test("zero vectors never pair: exact twin, LSH and SemDedup agree without throwing") {
    import spark.implicits._
    // a zero vector's cosine is 0/0, which throws DIVIDE_BY_ZERO under
    // ANSI mode unless guarded; vectors 3 and 4 are also a copy group,
    // so the LSH's within-group self-cosine takes the same path
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(2.0, 0.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 0.0, 0.0)), (4L, Seq(0.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(DedupOps.embeddingPairsOf(vecs, "vec_id", "embedding",
      DedupOps.cosineThreshold))
    val lsh = pairs(DedupOps.embeddingLshOf(vecs, "vec_id", "embedding",
      DedupOps.cosineThreshold, dim = 4))
    assert(exact == Set((1L, 2L)))
    assert(lsh == exact)
    // SemDedup's rule on the same rows: each zero vector keeps itself
    val sem = SemDedupOps.semDedupOf(vecs, "vec_id", "embedding", SemDedupOps.semThreshold)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(sem(3L) == (3L, true) && sem(4L) == (4L, true))
  }

  test("wider band geometry buys recall, still with exact precision") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val brute = DedupOps.embeddingPairsOf(e, "vec_id", "embedding",
      DedupOps.cosineThreshold).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(planes: Int, bands: Int): Double = {
      val pairs = DedupOps.embeddingLshOf(e, "vec_id", "embedding",
        DedupOps.cosineThreshold, nHyperplanes = planes, nBands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.subsetOf(brute), "precision must stay exact")
      if (brute.isEmpty) 1.0 else pairs.size.toDouble / brute.size
    }
    // more bands of the same width = more chances to collide: recall
    // must not drop when the geometry widens (the production knob)
    assert(recallOf(32, 8) >= recallOf(16, 4))
  }
}
