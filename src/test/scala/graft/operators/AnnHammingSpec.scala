package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnnHammingSpec extends SparkSpec {

  test("sign sketch packs exactly the per-dimension sign bits") {
    val rows = AnnOps.embeddingsWithNorm(spark, sfDir)
      .withColumn("bits", AnnOps.signBits(col("v")))
      .select("vec_id", "v", "bits").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      // Spark SQL float ordering: NaN compares above zero, so NaN dims
      // set their bit — the fold below replicates that contract.
      val expected = v.zipWithIndex.foldLeft(0L) { case (acc, (x, i)) =>
        if (x >= 0.0 || x.isNaN) acc | (1L << i) else acc
      }
      assert(r.getLong(2) == expected, s"vec ${r.getLong(0)}")
    }
  }

  test("hamming column equals the XOR popcount of the two sketches") {
    val bits = AnnOps.embeddingsWithNorm(spark, sfDir)
      .withColumn("bits", AnnOps.signBits(col("v")))
      .select("vec_id", "bits").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = AnnOps.annHamming(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val q = r.getLong(0); val n = r.getLong(2)
      val expect = java.lang.Long.bitCount(bits(q) ^ bits(n))
      assert(r.getInt(3) == expect, s"pair ($q, $n)")
    }
  }

  test("ranks are dense 1..k per query and self is excluded") {
    val rows = AnnOps.annHamming(spark, sfDir).collect()
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val ranks = rs.map(_.getInt(1)).sorted.toSeq
      assert(ranks == (1 to ranks.length), s"query $q ranks $ranks")
      assert(rs.forall(_.getLong(2) != q), s"query $q returned itself")
    }
  }

  test("screening recall vs exact brute force holds the floor") {
    val brute = AnnOps.annTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ham = AnnOps.annHamming(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(brute.nonEmpty && ham.nonEmpty)
    val recall = (brute intersect ham).size.toDouble / brute.size
    // 64-bit sign sketches on 64-dim vectors preserve angular order
    // well; shortlist 50 of ~500 measures 0.9+ here. 0.7 leaves
    // headroom for corpus drift while still proving the screen works.
    assert(recall >= 0.7, s"Hamming recall $recall")
  }

  test("persisted sketch index and encoded arrays search identically to inline") {
    val tmp = java.nio.file.Files.createTempDirectory("ann-sketch").toString
    val e = AnnOps.embeddingsWithNorm(spark, sfDir)
    val q = e.filter(col("vec_id") < AnnOps.nQueries)

    val bandsInline = AnnOps.sketchBandsOf(e)
    AnnOps.writeSketchIndex(bandsInline, tmp)
    val bandsLoaded = AnnOps.loadSketchIndex(spark, tmp)
    val inline = AnnOps.annHammingBandedSearch(q, bandsInline, e)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val loaded = AnnOps.annHammingBandedSearch(q, bandsLoaded, e)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(inline.nonEmpty && inline == loaded)

    val (cents, cb, arrInline) = AnnOps.ivfpqFor(spark, sfDir)
    AnnOps.writeIvfPq(cents, cb, arrInline, tmp)
    val (_, _, arrLoaded) = AnnOps.loadIvfPq(spark, tmp)
    val adcInline = AnnOps.annIvfPqAdcTopk(q, cents, cb, arrInline)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val adcLoaded = AnnOps.annIvfPqAdcTopk(q, cents, cb, arrLoaded)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(adcInline.nonEmpty && adcInline == adcLoaded)
  }

  test("shortlist bound caps the rerank volume per query") {
    // The rerank stage only ever sees hammingShortlist candidates per
    // query — the scale contract: float vectors are touched for
    // |Q| x R rows, never the corpus.
    val perQuery = AnnOps.annHamming(spark, sfDir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length)
    perQuery.foreach { case (q, n) =>
      assert(n <= AnnOps.topK, s"query $q emitted $n rows")
    }
  }
}
