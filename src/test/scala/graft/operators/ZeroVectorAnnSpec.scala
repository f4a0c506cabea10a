package graft.operators

import graft.SparkSpec
import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** A zero vector has no direction: every ANN cosine goes through
  * [[graft.functions.GraftFunctions.cosineOf]], which is null for it, so
  * it is never anyone's neighbor and has none itself (SemDedup's rule),
  * and no plan throws DIVIDE_BY_ZERO under ANSI mode. */
class ZeroVectorAnnSpec extends SparkSpec {

  private val zeroId = 3L

  /** Twelve 4-dim vectors, vector 3 all zeros. */
  private val vecs: Seq[(Long, Seq[Float])] = (0L until 12L).map { i =>
    i -> (if (i == zeroId) Seq.fill(4)(0.0f)
      else Seq(math.sin(i + 1.0), math.cos(2.0 * i + 1), math.sin(3.0 * i + 2),
        math.cos(i * i + 1.0)).map(_.toFloat))
  }

  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-zero-vec").toString
    vecs.toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    d
  }

  /** Driver-side exact top-k: the same index-order dot and sqrt norms,
    * ranked by (cosine desc, neighbor asc), zero-norm pairs skipped. */
  private def expected(queries: Long => Boolean): Set[(Long, Int, Long)] = {
    val v = vecs.map { case (id, x) => id -> x.map(_.toDouble) }.toMap
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
}
