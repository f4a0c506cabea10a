package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.QualityModelOps
import graft.sources.ShardWriter

/** End-to-end streaming ingest: raw document stream → the fused
  * quality gate ([[IngestPipeline.gatedDocs]]) → continuous training
  * shards on disk ([[ShardWriter.shardSink]] idempotent batch
  * directories). The pipeline is the composition of already-pinned
  * pieces; this spec pins the composition itself over a micro-batched
  * memory stream: what lands in the shards is EXACTLY the batch gate's
  * keep slice (the training slice), however the stream was
  * micro-batched. */
class IngestPipelineSpec extends SparkSpec {

  test("streamed shards hold exactly the batch pipeline's train slice") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
    val art = QualityModelOps.ensembleArtifactsFor(spark, sfDir)

    val rows = docs.as[(Long, String, String)].collect().toSeq
    val (h1, h2) = rows.splitAt(rows.size / 3)

    val out = Files.createTempDirectory("ingest-shards").toString
    val stream = MemoryStream[(Long, String, String)]
    val q = ShardWriter.shardSink(
        IngestPipeline.gatedDocs(stream.toDF().toDF("doc_id", "lang", "text"), art),
        "doc_id", out, nShards = 4)
      .option("checkpointLocation", Files.createTempDirectory("ingest-ckpt").toString)
      .start()
    try {
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
    } finally q.stop()

    val streamedIds = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    val batchIds = IngestPipeline.gatedDocs(docs, art)
      .select("doc_id").as[Long].collect().toSet
    assert(streamedIds == batchIds)
    assert(streamedIds.nonEmpty && streamedIds.size < rows.size)
  }
}
