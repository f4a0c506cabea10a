package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class HammingProbeStreamSpec extends SparkSpec {

  private val ops = graft.operators.AnnOps

  private def corpus() = ops.embeddingsWithNorm(spark, sfDir)

  /** Drain `probe` over the sf query vectors through a memory stream
    * into `name`; (query_id, rank, neighbor_id) rows. */
  private def streamed(name: String)(
      probe: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val queries = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < ops.nQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val stream = MemoryStream[(Long, Seq[Float])]
    stream.addData(queries.toSeq)
    val q = probe(stream.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
  }

  test("streaming Hamming probe matches the batch banded search on the same index") {
    val e = corpus().localCheckpoint()
    val bands = ops.sketchBandsOf(e).localCheckpoint()
    val got = streamed("hamprobe")(EventStream.hammingProbeStream(_, bands, e))
    val batch = ops.annHammingBandedSearch(
        e.filter(col("vec_id") < ops.nQueries), bands, e).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && got == batch,
      s"stream-only ${got.diff(batch).size}, batch-only ${batch.diff(got).size}")
  }

  test("every planted near-twin is found at rank 1") {
    // banding is the near-TWIN screen (the embedding-dedup contract),
    // not a general top-k ANN: plant a sign-preserving perturbation of
    // each query (hamming 0, cosine ~1) and require the banded search
    // to surface it first — 100% recall on the class banding promises.
    val e = corpus()
    val twins = e.filter(col("vec_id") < ops.nQueries)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("v"), x => x * 1.01).as("v"))
      .withColumn("norm",
        sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v"))))
    val planted = e.unionByName(twins).localCheckpoint()
    val bands = ops.sketchBandsOf(planted)
    val out = ops.annHammingBandedSearch(
        planted.filter(col("vec_id") < ops.nQueries), bands, planted).collect()
    val rank1 = out.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    (0L until ops.nQueries.toLong).foreach { q =>
      assert(rank1.get(q).contains(q + 10000),
        s"query $q rank-1 = ${rank1.get(q)}, expected twin ${q + 10000}")
    }
    // and the twin's hamming is 0 — the sketch is sign-exact
    out.filter(r => r.getInt(1) == 1).foreach { r =>
      assert(r.getInt(3) == 0, s"twin hamming ${r.getInt(3)} for ${r.getLong(0)}")
    }
  }

  test("wide banded search: 64-dim equals the one-word form; 128-dim finds planted twins") {
    import org.apache.spark.sql.functions.{transform => atransform}
    val twin = graft.operators.HammingBandsTwin
    val e = corpus().localCheckpoint()
    // 64-dim: word 0's bands are the one-word index's bands, row for row
    val bands = ops.sketchBandsOf(e).localCheckpoint()
    val twinBands = twin.sketchBandsOf(e).localCheckpoint()
    val idx = bands.select(col("vec_id"), col("band_id"), col("band_key"),
        col("words")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getSeq[Long](3))).toSet
    val twinIdx = twinBands.select(col("vec_id"), col("band_id"), col("band_key"),
        array(col("bits"))).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getSeq[Long](3))).toSet
    assert(twinIdx.nonEmpty && idx == twinIdx)
    // ... so the search reproduces the one-word search exactly, batch
    val q = e.filter(col("vec_id") < ops.nQueries)
    val general = ops.annHammingBandedSearch(q, bands, e)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSeq
    val oneWord = twin.search(q, twinBands, e)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSeq
    assert(oneWord.nonEmpty && general == oneWord)
    // ... and streaming
    val probe = streamed("ham64")(EventStream.hammingProbeStream(_, bands, e))
    val twinProbe = streamed("ham64twin")(twin.probeStream(_, twinBands, e))
    assert(twinProbe.nonEmpty && probe == twinProbe,
      s"general-only ${probe.diff(twinProbe)}, one-word-only ${twinProbe.diff(probe)}")

    // 128-dim (pairwise-sum second half: genuinely new sign bits), with
    // sign-preserving planted twins recalled at rank 1, hamming 0
    val mix = atransform(sequence(lit(0), lit(63)), i =>
      element_at(col("v"), i + 1) +
        element_at(col("v"), pmod(i + 1, lit(64)) + 1))
    val e128 = e.select(col("vec_id"), concat(col("v"), mix).as("v"))
      .withColumn("norm",
        sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v"))))
    val twins = e128.filter(col("vec_id") < ops.nQueries)
      .select((col("vec_id") + 10000).as("vec_id"),
        atransform(col("v"), x => x * 1.01).as("v"))
      .withColumn("norm",
        sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v"))))
    val planted = e128.unionByName(twins).localCheckpoint()
    val out = ops.annHammingBandedSearch(
        planted.filter(col("vec_id") < ops.nQueries),
        ops.sketchBandsOf(planted), planted).collect()
    val rank1 = out.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    (0L until ops.nQueries.toLong).foreach { q =>
      assert(rank1.get(q).contains((q + 10000, 0)),
        s"query $q rank-1 = ${rank1.get(q)}")
    }
  }

  test("wide streaming probe matches the wide batch search on a 128-dim corpus") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{transform => atransform}
    implicit val sqlCtx = spark.sqlContext
    val mix = atransform(sequence(lit(0), lit(63)), i =>
      element_at(col("v"), i + 1) +
        element_at(col("v"), pmod(i + 1, lit(64)) + 1))
    val e128 = corpus().select(col("vec_id"), concat(col("v"), mix).as("v"))
      .withColumn("norm",
        sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v"))))
      .localCheckpoint()
    val bands = ops.sketchBandsOf(e128).localCheckpoint()
    val queries = e128.filter(col("vec_id") < ops.nQueries)
      .select(col("vec_id"),
        atransform(col("v"), x => x.cast("float")).as("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val stream = MemoryStream[(Long, Seq[Float])]
    stream.addData(queries.toSeq)
    val q = EventStream.hammingProbeStream(
        stream.toDF().toDF("vec_id", "embedding"), bands, e128)
      .writeStream.format("memory").queryName("hamwide")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()

    // the stream casts embeddings float->double like every vec stream;
    // mirror that on the batch side so both search the identical floats
    val qf = e128.filter(col("vec_id") < ops.nQueries)
      .select(col("vec_id"),
        atransform(col("v"), x => x.cast("float").cast("double")).as("v"))
      .withColumn("norm",
        sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v"))))
    val got = spark.table("hamwide").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batch = ops.annHammingBandedSearch(qf, bands, e128).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && got == batch,
      s"stream-only ${got.diff(batch).size}, batch-only ${batch.diff(got).size}")
  }

  test("pigeonhole: any pair within Hamming hammingBands-1 shares a band and is scored") {
    val e = corpus()
    val sk = e.withColumn("bits", ops.signBits(col("v")))
      .select("vec_id", "bits").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bands = ops.sketchBandsOf(e)
    // all candidate pairs the banded search scored (before top-k): use
    // the full ranked output with topK widened by taking every rank —
    // instead probe the candidate contract directly host-side
    val queries = sk.filterKeys(_ < ops.nQueries)
    val close = for {
      (q, qb) <- queries.toSeq
      (c, cb) <- sk.toSeq
      if q != c && java.lang.Long.bitCount(qb ^ cb) <= ops.hammingBands - 1
    } yield (q, c)
    // each close pair must share at least one exact band
    close.foreach { case (q, c) =>
      val shares = (0 until ops.hammingBands).exists { b =>
        ((sk(q) >>> (b * ops.hammingBandBits)) & 0xFFFFL) ==
          ((sk(c) >>> (b * ops.hammingBandBits)) & 0xFFFFL)
      }
      assert(shares, s"pair ($q, $c) within Hamming 3 shares no band")
    }
    // and the banded index join surfaces it as a candidate
    if (close.nonEmpty) {
      val qdf = e.filter(col("vec_id") < ops.nQueries)
      val cands = ops.sketchBandsOf(qdf)
        .select(col("vec_id").as("query_id"), col("band_id"), col("band_key"))
        .join(bands.select(col("vec_id").as("neighbor_id"), col("band_id"),
          col("band_key")), Seq("band_id", "band_key"))
        .select("query_id", "neighbor_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      close.foreach { case (q, c) =>
        assert(cands.contains((q, c)), s"close pair ($q, $c) not a candidate")
      }
    }
  }
}
