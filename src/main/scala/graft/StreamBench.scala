package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{DedupOps, PipelineOps, QualityModelOps, SearchOps}
import graft.streaming.EventStream

/** Streaming-throughput diagnostic: pushes a `MULT`× duplicated
  * document corpus through each trained-model scorer / standing-index
  * probe and reports docs/second end-to-end (model training excluded —
  * the artifacts are built once up front, the deployed lifecycle).
  * Not part of the driver contract; complements `Stress` (batch
  * scale headroom) with the streaming side. Run:
  *   SPARK_GRAFT_MULT=4 sbt "runMain graft.StreamBench /root/testdata/sf0.1"
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_MULT", "4").toInt
    val spark = GraftSession.local(32, "ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables.documents(spark, srcDir)
    val shift = 100000000L
    val rows: Seq[(Long, String)] = (0 until mult).flatMap { i =>
      docs.select(col("doc_id") + lit(i * shift), col("text"))
        .as[(Long, String)].collect()
    }

    // ---- standing artifacts, trained once up front (the LM tables
    // for the join-shape leg)
    val dsirModel = QualityModelOps.dsirModelFor(spark, srcDir)
    val lmModel = QualityModelOps.lmModelFor(spark, srcDir)
    val bm25Model = SearchOps.bm25ModelFor(spark, srcDir)
    val (cb, cw) = QualityModelOps.lmModelOf(docs)
    val (cbM, cwM) = (cb.localCheckpoint(), cw.localCheckpoint())
    val hs = DedupOps.shingleHashes(spark, srcDir)
    val bench = hs.filter(col("doc_id") % 97 === 0).localCheckpoint()
    val bloom = PipelineOps.evalBloomOf(bench)
    val windowIdx = DedupOps.windowFreqOf(docs, "doc_id", "text",
      DedupOps.substringW).localCheckpoint()

    // drains a started query and prints its rate: `n` items of `unit`
    def report(name: String, n: Long, unit: String)(q: StreamingQuery): Unit = {
      val t0 = System.nanoTime()
      try q.processAllAvailable() finally q.stop()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"== $name%-22s $n%8d $unit%-5s $dt%7.2f s  ${n / dt}%9.0f $unit/s")
    }

    // one leg: `items` through a memory stream into `f`, to a noop sink
    def start[T: Encoder](mode: String, items: Seq[T])(
        f: Dataset[T] => Dataset[_]): StreamingQuery = {
      val stream = MemoryStream[T]
      stream.addData(items)
      f(stream.toDS()).writeStream.format("noop").outputMode(mode).start()
    }
    def run[T: Encoder](name: String, mode: String, items: Seq[T], unit: String = "docs")(
        f: Dataset[T] => Dataset[_]): Unit =
      report(name, items.size, unit)(start(mode, items)(f))

    // a leg over the (doc_id, text) corpus copies
    def docLeg(name: String, mode: String)(f: DataFrame => DataFrame): Unit =
      run(name, mode, rows)(ds => f(ds.toDF("doc_id", "text")))

    // untimed warm-up: the JVM's first streaming query pays start-up
    // costs no leg should carry
    val warm = start("append", rows)(ds =>
      QualityModelOps.dsirWeightsOf(ds.toDF("doc_id", "text"), dsirModel))
    try warm.processAllAvailable() finally warm.stop()

    docLeg("dsir_score", "append")(df => QualityModelOps.dsirWeightsOf(df, dsirModel))
    docLeg("lm_score", "append")(df => QualityModelOps.lmScoresOf(df, lmModel))
    docLeg("lm_score_join", "update")(df => EventStream.lmScoreStreamJoin(df, cbM, cwM))
    docLeg("bm25_score", "append")(df =>
      SearchOps.bm25ScoresOf(df, "doc_id", "text", bm25Model)
        .withColumn("score", round(col("score"), 6)))
    docLeg("contamination", "update")(df =>
      EventStream.contaminationStream(df, bench, bloom, PipelineOps.contaminationFrac))
    docLeg("substring_cut", "update")(df =>
      EventStream.substringCutStream(df, windowIdx, DedupOps.substringW))
    docLeg("heavy_hitters", "update")(df =>
      EventStream.heavyHitterStream(df, 32))

    // ---- ingest token-rate monitor ((source, text, ts) stream; one
    // watermarked (window, source) agg over the native BPE encoder)
    locally {
      val trRows: Seq[(String, String, java.sql.Timestamp)] =
        (0 until mult).flatMap { i =>
          docs.select(col("source"), col("text"))
            .as[(String, String)].collect()
            .map { case (src, text) =>
              (src, text, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
            }
        }
      run("token_rate", "update", trRows)(ds =>
        EventStream.tokenRateStream(ds.toDF("source", "text", "ts")))
    }

    // ---- the full quality-ensemble gate (doc_id, lang, text stream;
    // the fused native scorer over the session-trained artifacts)
    val art = QualityModelOps.ensembleArtifactsFor(spark, srcDir)
    locally {
      val enRows: Seq[(Long, String, String)] = (0 until mult).flatMap { i =>
        docs.select(col("doc_id") + lit(i * shift), col("lang"), col("text"))
          .as[(Long, String, String)].collect()
      }
      run("quality_ens_fused", "append", enRows)(ds =>
        EventStream.qualityEnsembleStreamFused(ds.toDF("doc_id", "lang", "text"), art))
    }

    // ---- token-budget admission gate ((doc_id, source, text) stream;
    // native-encoder counts map-side, ONE O(sources) keyed state)
    locally {
      val budgets = docs
        .withColumn("n_tokens", size(graft.operators.BpeOps.bpeTokens(
          filter(split(col("text"), " "), w => length(w) > 0))).cast("long"))
        .groupBy("source").agg(sum("n_tokens").as("t")).collect()
        .map(r => r.getString(0) -> (r.getLong(1) >> 1)).toMap
      val bgRows: Seq[(Long, String, String)] = (0 until mult).flatMap { i =>
        docs.select(col("doc_id") + lit(i * shift), col("source"), col("text"))
          .as[(Long, String, String)].collect()
      }
      run("token_budget_gate", "append", bgRows)(ds =>
        EventStream.tokenBudgetGateStream(ds.toDF("doc_id", "source", "text"), budgets))
    }

    // ---- the three standing-index ANN probes, over one set of query
    // vectors (vectors/s)
    locally {
      import graft.operators.AnnOps
      val vecRows: Seq[(Long, Seq[Float])] = (0 until mult).flatMap { i =>
        Tables.embeddings(spark, srcDir)
          .select(col("vec_id") + lit(i * shift), col("embedding"))
          .as[(Long, Seq[Float])].collect()
      }
      def vecLeg(name: String)(f: DataFrame => DataFrame): Unit =
        run(name, "update", vecRows, "vecs")(ds => f(ds.toDF("vec_id", "embedding")))

      // Hamming sketch against the banded sign-sketch index: per query,
      // eight 8-bit bucket joins + one windowed top-k rollup — no floats
      // until the cosine join
      val e = AnnOps.embeddingsWithNorm(spark, srcDir).localCheckpoint()
      val bands = AnnOps.sketchBandsOf(e).localCheckpoint()
      vecLeg("hamming_probe")(EventStream.hammingProbeStream(_, bands, e))

      // the plain IVF inverted file (ivfFor's frames are materialized)
      val (cents, assigned) = AnnOps.ivfFor(spark, srcDir)
      vecLeg("ann_probe")(EventStream.annProbeStream(_, cents, assigned))

      // IVFADC against the compressed, cluster-bucketed index: map-side
      // probes + one cluster equi-join + per-query rollup; the corpus
      // side is codes, never floats
      val (pqCents, cb, encoded) = AnnOps.ivfpqFor(spark, srcDir)
      vecLeg("ivfpq_probe")(EventStream.ivfpqProbeStream(_, pqCents, cb, encoded))
    }

    // ---- stateful per-user transition feed over the event stream
    // (events/s, not docs/s: the state is one record per user)
    locally {
      val evRows: Seq[EventStream.TEv] = (0 until mult).flatMap { i =>
        Tables.events(spark, srcDir)
          .select(col("user_id") + lit(i * shift), col("event_id") + lit(i * shift),
            col("ts"), col("event_type"))
          .as[(Long, Long, java.sql.Timestamp, String)].collect()
          .map(t => EventStream.TEv(t._1, t._2, t._3, t._4))
      }
      run("transitions", "append", evRows, "evs")(EventStream.transitionStream)
    }

    // ---- feedstock connector streaming ingest: the corpus written as
    // a flat JSON-lines landing dir (64 files), stream-read end to end
    // with pruning pushed to the per-file readers
    locally {
      val landing = java.nio.file.Files
        .createTempDirectory("graft-sb-feed").toString
      val feed = graft.sources.FeedstockSource.fromDocuments(
        (0 until mult).map(i =>
          docs.withColumn("doc_id", col("doc_id") + lit(i * shift)))
          .reduce(_ union _))
      val n = feed.count()
      feed.repartition(64).write.mode("overwrite").json(s"$landing/_stage")
      // rename spark's part files into the monotonic landing layout
      val stage = new java.io.File(s"$landing/_stage").listFiles()
        .filter(f => f.getName.endsWith(".json"))
      stage.zipWithIndex.foreach { case (f, i) =>
        f.renameTo(new java.io.File(f"$landing/feed-$i%05d.jsonl"))
      }
      report("feedstock_ingest", n, "docs")(
        spark.readStream.format("graft-feedstock").load(landing)
          .select(col("record.doc_id"), col("record.text"))
          .writeStream.format("noop").outputMode("append").start())

      // the COMPOSED pipeline over the same landing dir: feedstock
      // micro-batch read → fused quality gate → shard sink to disk
      val shardDir = java.nio.file.Files
        .createTempDirectory("graft-sb-shards").toString + "/out"
      val ckptDir = java.nio.file.Files
        .createTempDirectory("graft-sb-ckpt").toString
      report("ingest_pipeline", n, "docs")(graft.streaming.IngestPipeline.start(
        spark, landing, art, shardDir, ckptDir, nShards = 8))

      // the quota-enforcing variant: gate → per-source token budget →
      // shards (budgets = half of each source's corpus token mass)
      val budgets = docs
        .withColumn("n", size(graft.operators.BpeOps.bpeTokenIds(
          filter(split(col("text"), " "), w => length(w) > 0),
          graft.operators.BpeOps.defaultModel,
          graft.operators.BpeOps.defaultIdMapBytes)).cast("long"))
        .groupBy("source").agg(sum("n").as("t")).collect()
        .map(r => r.getString(0) -> (r.getLong(1) >> 1)).toMap
      val shardDirB = java.nio.file.Files
        .createTempDirectory("graft-sb-shards-b").toString + "/out"
      val ckptDirB = java.nio.file.Files
        .createTempDirectory("graft-sb-ckpt-b").toString
      report("ingest_budgeted", n, "docs")(graft.streaming.IngestPipeline.startBudgeted(
        spark, landing, art, budgets, shardDirB, ckptDirB, nShards = 8))
    }
    spark.stop()
  }
}
