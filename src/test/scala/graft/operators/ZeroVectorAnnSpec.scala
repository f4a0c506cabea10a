package graft.operators

import graft.SparkSpec
import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** A zero vector has no direction: every ANN cosine goes through
  * [[graft.functions.GraftFunctions.cosineOf]], which is null for it, and
  * the PQ family (q_ann_pq, IVFADC, the streaming IVFADC probe) neither
  * encodes nor probes it, so it is never anyone's neighbor and has none
  * itself (SemDedup's rule), and no plan throws DIVIDE_BY_ZERO under
  * ANSI mode. */
class ZeroVectorAnnSpec extends SparkSpec {

  private val zeroId = 3L

  /** Twelve 4-dim vectors, vector 3 all zeros. */
  private val vecs: Seq[(Long, Seq[Float])] = (0L until 12L).map { i =>
    i -> (if (i == zeroId) Seq.fill(4)(0.0f)
      else Seq(math.sin(i + 1.0), math.cos(2.0 * i + 1), math.sin(3.0 * i + 2),
        math.cos(i * i + 1.0)).map(_.toFloat))
  }

  /** Twenty-four 16-dim vectors (two dims per PQ subspace), vector 3
    * all zeros: fewer than `pqShortlist`, so the PQ re-rank sees every
    * candidate and its top-k is the exact one. */
  private val vecs16: Seq[(Long, Seq[Float])] = (0L until 24L).map { i =>
    i -> (if (i == zeroId) Seq.fill(16)(0.0f)
      else (0 until 16).map(j => math.sin(7.0 * i + 1.3 * j + 1).toFloat))
  }

  private def dirOf(v: Seq[(Long, Seq[Float])]): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-zero-vec").toString
    v.toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    d
  }

  private lazy val dir: String = dirOf(vecs)
  private lazy val dir16: String = dirOf(vecs16)

  /** Driver-side exact top-k: the same index-order dot and sqrt norms,
    * ranked by (cosine desc, neighbor asc), zero-norm pairs skipped. */
  private def expected(queries: Long => Boolean,
      of: Seq[(Long, Seq[Float])] = vecs): Set[(Long, Int, Long)] = {
    val v = of.map { case (id, x) => id -> x.map(_.toDouble) }.toMap
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    val norm = v.map { case (id, x) => id -> math.sqrt(dot(x, x)) }
    v.keys.filter(queries).flatMap { q =>
      v.keys.filter(n => n != q && norm(q) > 0 && norm(n) > 0).toSeq
        .map(n => (n, dot(v(q), v(n)) / (norm(q) * norm(n))))
        .sortBy { case (n, c) => (-c, n) }.take(AnnOps.topK).zipWithIndex
        .map { case ((n, _), r) => (q, r + 1, n) }
    }.toSet
  }

  private def triples(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("brute-force top-k and the kNN graph skip a zero vector without throwing") {
    val topk = triples(AnnOps.annTopk(spark, dir))
    assert(topk == expected(_ < AnnOps.nQueries))
    val graph = triples(AnnOps.knnGraph(spark, dir))
    assert(graph == expected(_ => true))
    assert(!graph.exists { case (q, _, n) => q == zeroId || n == zeroId })
  }

  test("the streaming IVF probe skips a zero vector and matches its batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = AnnOps.embeddingsWithNorm(spark, dir)
    val cents = AnnOps.centroidsOf(e)
    val assigned = AnnOps.assignmentsOf(e, cents).localCheckpoint()
    val stream = MemoryStream[(Long, Seq[Float])]
    stream.addData(vecs)
    val q = EventStream.annProbeStream(
        stream.toDF().toDF("vec_id", "embedding"), cents, assigned)
      .writeStream.format("memory").queryName("annprobe_zero").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val got = triples(spark.table("annprobe_zero"))
    val batch = triples(AnnOps.annIvfSearch(e, cents, assigned))
    assert(got.nonEmpty && got == batch)
    assert(!got.exists { case (q, _, n) => q == zeroId || n == zeroId })
  }

  private def dotD(a: Seq[Double], b: Seq[Double]) =
    a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }

  /** Vectors 5..7 as centroids, plus `extra` ones. */
  private def centsOf(extra: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] =
    extra ++ vecs.filter { case (i, _) => i >= 5 && i <= 7 }.map { case (i, x) => i -> x.map(_.toDouble) }

  /** IVF assignment (vec_id → cluster_id) of the corpus against `cv`. */
  private def assigned(cv: Seq[(Long, Seq[Double])]): Map[Long, Long] = {
    import spark.implicits._
    val cents = cv.map { case (id, c) => (id, c, math.sqrt(dotD(c, c))) }
      .toDF("centroid_id", "cv", "cn")
    AnnOps.assignmentsOf(AnnOps.embeddingsWithNorm(spark, dir), cents)
      .select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
  }

  /** Best-cosine centroid among the nonzero ones, ties to the smaller id. */
  private def best(x: Seq[Float], cv: Seq[(Long, Seq[Double])]): Long = {
    val v = x.map(_.toDouble)
    cv.filter { case (_, c) => dotD(c, c) > 0 }
      .map { case (id, c) => id -> dotD(v, c) / (math.sqrt(dotD(v, v)) * math.sqrt(dotD(c, c))) }
      .sortBy { case (id, cos) => (-cos, id) }.head._1
  }

  test("IVF assignment: a zero query scores no centroid and takes the smallest id") {
    val cv = centsOf(Nil)
    val got = assigned(cv)
    assert(got == vecs.map { case (q, x) => q -> (if (q == zeroId) 5L else best(x, cv)) }.toMap)
  }

  test("IVF assignment: a zero-norm centroid attracts no vector") {
    // centroid 0 is all zeros and the smallest id: only the zero query,
    // which scores no centroid at all, falls back to it
    val cv = centsOf(Seq(0L -> Seq.fill(4)(0.0)))
    val got = assigned(cv)
    assert(got == vecs.map { case (q, x) => q -> (if (q == zeroId) 0L else best(x, cv)) }.toMap)
    assert(got.count(_._2 == 0L) == 1)
  }

  private def skipsZero(rows: Set[(Long, Int, Long)]): Boolean =
    !rows.exists { case (q, _, n) => q == zeroId || n == zeroId }

  test("PQ search neither encodes nor queries a zero vector") {
    assert(triples(AnnOps.annPq(spark, dir16)) == expected(_ < AnnOps.nQueries, vecs16))
  }

  test("IVFADC search and its streaming probe skip a zero vector without throwing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ivfpq = triples(AnnOps.annIvfPq(spark, dir16))
    assert(ivfpq.nonEmpty && skipsZero(ivfpq))
    val (cents, cb, encoded) = AnnOps.ivfpqFor(spark, dir16)
    val stream = MemoryStream[(Long, Seq[Float])]
    stream.addData(vecs16)
    val q = EventStream.ivfpqProbeStream(
        stream.toDF().toDF("vec_id", "embedding"), cents, cb, encoded)
      .writeStream.format("memory").queryName("ivfpqprobe_zero").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val got = triples(spark.table("ivfpqprobe_zero"))
    val batch = triples(AnnOps.annIvfPqAdcTopk(
      AnnOps.embeddingsWithNorm(spark, dir16), cents, cb, encoded))
    assert(got.nonEmpty && got == batch && skipsZero(got))
  }
}
