package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.functions.{EnsembleArtifacts, GraftFunctions}
import graft.sources.ShardWriter

/** The documented ingest-to-training-shards flow, end to end:
  *
  *   feedstock landing dir ──(graft-feedstock MICRO_BATCH_READ:
  *   O(1) high-water-mark offsets, admission control, pruned per-file
  *   readers)──▶ fused quality-ensemble gate (stateless native scorer,
  *   [[EventStream.qualityEnsembleStreamFused]]'s column)──▶
  *   [[graft.sources.ShardWriter.shardSink]] (idempotent
  *   `batch=b/shard=k` directories — exactly-once across failures and
  *   restarts).
  *
  * Every stage is already individually pinned; this object is the
  * COMPOSITION — one call wires the production pipeline, and
  * GatedIngestSpec pins exactly-once across a stop/restart of the
  * whole thing. Scale shape: the only stateful operator anywhere is
  * the sink's foreachBatch bookkeeping — reading, gating and shard
  * assignment are all map-side, so a 1000-executor deployment ingests
  * at aggregate scan speed and the checkpoint holds one file-path
  * offset. */
object IngestPipeline {

  /** The gate as a frame transform: score each document with the
    * broadcast trained artifacts, keep the keep=true rows, carry the
    * audit columns a shard consumer wants (why did this doc pass) AND
    * the byte-fallback BPE id stream — the column a training shard
    * actually exists to store (zero OOV, byte-lossless; the encoder
    * is the same native per-row expression, so attaching ids costs
    * scan speed). `docs` needs (doc_id, lang, text). */
  private def gatedCore(docs: DataFrame, artifacts: EnsembleArtifacts,
      keep: Seq[String]): DataFrame = {
    import graft.operators.BpeOps
    docs
      .withColumn("e",
        GraftFunctions.qualityEnsemble(col("text"), col("lang"), artifacts))
      .filter(col("e.keep"))
      .select(keep.map(col) ++ Seq(
        col("e.ppl_bucket").as("ppl_bucket"),
        col("e.target_like").as("target_like"),
        BpeOps.bpeTokenIds(
          filter(split(col("text"), " "), w => length(w) > 0),
          BpeOps.defaultModel, BpeOps.defaultIdMapBytes).as("token_ids")): _*)
  }

  def gatedDocs(docs: DataFrame, artifacts: EnsembleArtifacts): DataFrame =
    gatedCore(docs, artifacts, Seq("doc_id", "lang", "text"))

  /** One shard-bound document after the gate — the budgeted pipeline's
    * typed row (the id stream IS the payload a shard stores). */
  final case class ShardDoc(doc_id: Long, source: String, lang: String,
      text: String, ppl_bucket: String, target_like: Boolean,
      token_ids: Seq[Int])

  /** Per-source token-quota admission over the GATED stream — the
    * budget sits after quality (a junk doc never spends quota) and is
    * denominated in the byte-fallback ids the shards actually store,
    * so a source's landed shard mass is its quota to within one
    * document. Same state/order contract as
    * [[EventStream.tokenBudgetGateStream]]: one counter per source,
    * Lehmer-ordered admission within a micro-batch, the running total
    * accumulates over dropped docs too, unlisted sources unthrottled.
    *
    * Memory note: the ordering sort buffers ONE micro-batch's rows per
    * source in the group callback — full ShardDoc rows, text included.
    * The pipeline's `maxFilesPerTrigger` admission control is the
    * sizing knob: it bounds the batch, hence the buffer, regardless of
    * how large a catch-up backlog is. */
  def budgetAdmit(gated: DataFrame,
      budgets: Map[String, Long]): Dataset[ShardDoc] = {
    import gated.sparkSession.implicits._
    gated.select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("ppl_bucket"), col("target_like"), col("token_ids"))
      .as[ShardDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[EventStream.BudgetState, ShardDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[EventStream.BudgetState]) =>
          var spent = state.getOption.map(_.spent).getOrElse(0L)
          val out = rows.toSeq
            .sortBy(d => (graft.operators.BpeOps.lehmerKey(d.doc_id), d.doc_id))
            .flatMap { d =>
              val budget = budgets.getOrElse(d.source, Long.MaxValue)
              val admit = spent < budget
              spent += d.token_ids.length
              if (admit) Some(d) else None
            }
          state.update(EventStream.BudgetState(spent))
          out.iterator
      }
  }

  /** Wire and start the full pipeline. Returns the running query;
    * stop/restart with the same `ckptDir` resumes exactly-once. */
  def start(spark: SparkSession, landingDir: String,
      artifacts: EnsembleArtifacts, shardDir: String, ckptDir: String,
      nShards: Int = 8, maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader: DataStreamReader = spark.readStream.format("graft-feedstock")
    val paced = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
    val docs = paced.load(landingDir)
      .select(col("record.doc_id").as("doc_id"),
        col("record.lang").as("lang"),
        col("record.text").as("text"))
    ShardWriter.shardSink(gatedDocs(docs, artifacts), "doc_id", shardDir, nShards)
      .option("checkpointLocation", ckptDir)
      .start()
  }

  /** The quota-enforcing pipeline: feedstock read → fused gate →
    * per-source token-budget admission → shard sink. Same exactly-once
    * contract; the budget state rides the same checkpoint, so a
    * restart resumes each source's spent counter. */
  def startBudgeted(spark: SparkSession, landingDir: String,
      artifacts: EnsembleArtifacts, budgets: Map[String, Long],
      shardDir: String, ckptDir: String,
      nShards: Int = 8, maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader: DataStreamReader = spark.readStream.format("graft-feedstock")
    val paced = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
    val docs = paced.load(landingDir)
      .select(col("record.doc_id").as("doc_id"),
        col("record.source").as("source"),
        col("record.lang").as("lang"),
        col("record.text").as("text"))
    val gated = gatedCore(docs, artifacts,
      Seq("doc_id", "source", "lang", "text"))
    ShardWriter.shardSink(budgetAdmit(gated, budgets).toDF(),
        "doc_id", shardDir, nShards)
      .option("checkpointLocation", ckptDir)
      .start()
  }

  /** Stand-alone runner: train the gate's artifacts on the reference
    * corpus, then stream a landing directory into training shards.
    *   sbt "runMain graft.streaming.IngestPipeline \
    *     <landingDir> <shardDir> <ckptDir> [sfDir]" */
  def main(args: Array[String]): Unit = {
    val Array(landingDir, shardDir, ckptDir) = args.take(3)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(32, "WARN")

    val artifacts = graft.operators.QualityModelOps.ensembleArtifactsFor(spark, sfDir)

    val q = start(spark, landingDir, artifacts, shardDir, ckptDir)
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(shardDir)
    println(s"== ingest_pipeline landed ${landed.count()} docs into " +
      s"${landed.select("shard").distinct().count()} shards")
    spark.stop()
  }
}
