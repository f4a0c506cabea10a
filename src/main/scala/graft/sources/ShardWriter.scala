package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic training-shard writer: the last step of a curation
  * pipeline, where the kept corpus is laid out for the trainer.
  *
  * Training wants documents decorrelated from their crawl/source order;
  * pipelines want byte-identical re-runs. Both come from hashing, not
  * RNG: a document's shard is `xxhash64(id) mod n` and its in-shard
  * position is (hash, id) order, so membership, order, and file count
  * are pure functions of the data — any engine, any cluster size, any
  * re-run produces the same shards. (`repartitionByRange` is NOT used:
  * its range boundaries come from seeded sampling that varies across
  * runs.)
  *
  * All rows of a shard hash to the same partition, so each shard
  * directory holds exactly one file; a 100 TB corpus writes n
  * independent files with no global sort and one shuffle.
  */
object ShardWriter {

  def writeShards(df: DataFrame, idCol: String, outDir: String, nShards: Int): Unit =
    df.withColumn("shard", pmod(xxhash64(col(idCol)), lit(nShards)).cast("int"))
      .withColumn("__pos", xxhash64(col(idCol), lit(1)))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__pos"), col(idCol))
      .drop("__pos")
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(outDir)

  /** Streaming twin — the SINK that closes the ingest pipeline: gate a
    * document stream (qualityEnsembleStreamFused, any filter)
    * and land the kept rows as training shards continuously.
    *
    * Exactly-once by idempotent batch directories: micro-batch `b`
    * writes `outDir/batch=b/shard=k/` with Overwrite, so a batch
    * replayed after a failure rewrites the identical directory instead
    * of appending duplicates (the standard foreachBatch idempotency
    * recipe — the batchId is stable across recoveries for the same
    * data). Within a batch the layout is [[writeShards]] verbatim:
    * shard membership and in-shard order are pure functions of the id
    * hash, so a re-run of the same stream produces byte-identical
    * shards, and the trainer reads `outDir` as one
    * (batch, shard)-partitioned table — `shard=k` across batches IS
    * shard k of the corpus. One shuffle per micro-batch, n files per
    * batch, no global state. */
  def shardSink(docs: DataFrame, idCol: String, outDir: String,
      nShards: Int): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeShards(batch.toDF(), idCol, s"$outDir/batch=$batchId", nShards)
    }
}
