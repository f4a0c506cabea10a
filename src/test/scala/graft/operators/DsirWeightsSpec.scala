package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{JobCounter, SparkSpec, Tables}
import graft.functions.GraftFunctions

/** The declarative twin of [[QualityModelOps.dsirWeights]]: the same
  * weights planned per call — both bucket models and their totals are
  * rollups of the per-(doc, bucket) frame, broadcast back onto it, and
  * each document's terms are regrouped and folded in sorted order. */
object DsirWeightsTwin {
  import QualityModelOps.refSources
  private val dsirBuckets = graft.functions.DsirModel.buckets

  def of(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, dir))
    val fb = docs
      .select(col("source"), col("doc_id"),
        explode(GraftFunctions.md5BucketCounts(col("text"))).as("bm"))
      .select(col("source"), col("doc_id"),
        col("bm.bucket").as("bucket"), col("bm.m").as("m"))
    val cr = fb.groupBy(col("bucket")).agg(sum(col("m")).as("cr"))
    val ct = fb.filter(col("source").isin(refSources: _*))
      .groupBy(col("bucket")).agg(sum(col("m")).as("ct"))
    val totals = cr.agg(sum(col("cr")).as("nr"))
      .crossJoin(broadcast(ct.agg(sum(col("ct")).as("nt"))))
    fb
      .join(broadcast(ct), Seq("bucket"), "left")
      .join(broadcast(cr), Seq("bucket"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("m"),
        coalesce(col("ct"), lit(0L)).as("ct0"), col("cr").as("cr0"),
        col("nt"), col("nr"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_features"),
        round(aggregate(
          array_sort(collect_list(struct(
            col("ct0"), col("cr0"), col("m"), col("nt"), col("nr")))),
          lit(0.0),
          (acc, x) => acc + x.getField("m") *
            ((log(x.getField("ct0") + lit(1)) - log(x.getField("nt") + lit(dsirBuckets))) -
              (log(x.getField("cr0") + lit(1)) - log(x.getField("nr") + lit(dsirBuckets))))),
          6).as("log_weight"))
      .select(col("doc_id"), col("n_features"), col("log_weight"),
        (col("log_weight") > 0.0).as("target_like"))
      .orderBy("doc_id")
  }
}

class DsirWeightsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  /** Row count and the sum of per-row xxhash64 over all columns. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  test("session-trained scorer is digest-identical to the per-call twin at sf0.01") {
    val got = QualityModelOps.dsirWeights(spark, sf)
    val want = DsirWeightsTwin.of(spark, sf)
    assert(got.schema.map(f => f.name -> f.dataType) ==
      want.schema.map(f => f.name -> f.dataType))
    assert(digest(got) == digest(want))
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("a warm call consumed in full launches at most 3 Spark jobs") {
    // consumed as the benchmark consumes a query: an aggregate digest,
    // under which the optimizer drops the final orderBy (and with it
    // the range-partition sample job an ordered collect adds)
    digest(QualityModelOps.dsirWeights(spark, sf))
    val (d, jobs) = JobCounter(spark)(digest(QualityModelOps.dsirWeights(spark, sf)))
    assert(d._1 > 0L)
    assert(jobs <= 3, s"warm q_dsir_weights launched $jobs jobs")
    val (_, twinJobs) = JobCounter(spark)(digest(DsirWeightsTwin.of(spark, sf)))
    assert(twinJobs > jobs, s"the per-call twin launched $twinJobs jobs")
  }

  test("after a warm q_dsir_weights a cold ensembleArtifactsFor runs no DSIR training") {
    // a corpus path of its own, so no other spec has warmed its caches
    val dir = java.nio.file.Files.createTempDirectory("graft-dsir-once").toString
    Tables.documents(spark, sfDir).write.parquet(s"$dir/documents.parquet")
    QualityModelOps.dsirWeights(spark, dir).collect()
    // a DSIR training pass is an action whose plan runs the bucket counts
    val trainings = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.optimizedPlan.toString.contains("graft_md5_bucket_counts"))
          trainings.incrementAndGet()
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val (art, jobs) =
      try JobCounter(spark)(QualityModelOps.ensembleArtifactsFor(spark, dir))
      finally spark.listenerManager.unregister(l)
    info(s"cold ensembleArtifactsFor after a warm q_dsir_weights: $jobs jobs")
    assert(jobs > 0 && trainings.get == 0)
    assert(art.dsir eq QualityModelOps.dsirModelFor(spark, dir))
  }

  test("a corpus with no reference documents yields null weights, as the oracle does") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dsir").toString
    Seq((1L, "src9", "en", "alpha beta"), (2L, "src8", "en", "gamma"))
      .toDF("doc_id", "source", "lang", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = QualityModelOps.dsirWeights(spark, dir).collect().toSeq
    assert(got == DsirWeightsTwin.of(spark, dir).collect().toSeq)
    assert(got.map(_.getLong(1)) == Seq(3L, 1L))
    assert(got.forall(_.isNullAt(2)))
  }
}
