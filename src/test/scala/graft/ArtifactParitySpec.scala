package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._

/** Write→load→consume parity for every persisted standing artifact
  * family (the AnnOps.writeIndex / WindowIndexSpec discipline extended
  * to the rest of the board): a multi-job pipeline must get the SAME
  * rows from a loaded artifact as from the freshly trained one. */
class ArtifactParitySpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-art-$tag").toString

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("dedup cluster map round-trips and drives identical keep decisions") {
    val built = DedupOps.clusterMapFor(spark, sfDir)
    val path = tmp("clusters")
    DedupOps.writeClusterMap(built, path)
    val loaded = DedupOps.loadClusterMap(spark, path)
    assert(loaded.columns.toSeq == built.columns.toSeq)
    assert(rowsOf(loaded) == rowsOf(built))
  }

  test("near-dup LSH index round-trips and probes to identical incremental pairs") {
    val docs = Tables.documents(spark, sfDir)
    val idx = DedupOps.nearDupIndexOf(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
    val path = tmp("lsh")
    DedupOps.writeNearDupIndex(idx, path)
    val loaded = DedupOps.loadNearDupIndex(spark, path)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val fresh = DedupOps.incrementalNearDupsOf(idx, batch, "doc_id", "text",
      DedupOps.jaccardThreshold)
    val persisted = DedupOps.incrementalNearDupsOf(loaded, batch, "doc_id", "text",
      DedupOps.jaccardThreshold)
    assert(rowsOf(persisted) == rowsOf(fresh))
    assert(fresh.count() > 0) // the probe finds something, not vacuous
  }

  test("LM + DSIR + ppl-cut model tables round-trip and score identically") {
    val docs = Tables.documents(spark, sfDir)
    val (cb, cw) = QualityModelOps.lmModelOf(docs)
    val dsir = QualityModelOps.dsirModelOf(docs)
    val cuts = QualityModelOps.pplCutsOf(
      QualityModelOps.lmPerplexity(spark, sfDir)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")))
    val path = tmp("quality")
    QualityModelOps.writeLmModel(cb, cw, path)
    QualityModelOps.writeDsirModel(dsir, path)
    QualityModelOps.writePplCuts(cuts, path)
    val (cbL, cwL) = QualityModelOps.loadLmModel(spark, path)
    assert(rowsOf(cbL) == rowsOf(cb) && rowsOf(cwL) == rowsOf(cw))
    assert(rowsOf(QualityModelOps.loadDsirModel(spark, path)) == rowsOf(dsir))
    assert(rowsOf(QualityModelOps.loadPplCuts(spark, path)) == rowsOf(cuts))
    // consumer parity: the streaming scorer under loaded tables emits
    // the same scores as under the fresh ones (batch plans — the
    // scorer bodies are plain column chains over any frame)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def score(cbX: DataFrame, cwX: DataFrame, name: String): Map[Long, String] = {
      val stream = MemoryStream[(Long, String)]
      stream.addData(docs.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq.take(50))
      val q = QualityModelOps.lmScoresOf(
          stream.toDF().toDF("doc_id", "text"), graft.functions.LmModel.of(cbX, cwX))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).collect()
        .map(r => r.getLong(0) -> r.mkString(",")).toMap
    }
    assert(score(cbL, cwL, "lm_loaded") == score(cb, cw, "lm_fresh"))

    // the fused ingest scorer assembled from the LOADED artifacts
    // emits verdicts identical to the inline-trained one
    val artFresh = graft.functions.EnsembleArtifacts.of(cb, cw, cuts, dsir)
    val artLoaded = QualityModelOps.loadEnsembleArtifacts(spark, path)
    def fused(a: graft.functions.EnsembleArtifacts): Set[String] =
      rowsOf(graft.streaming.EventStream.qualityEnsembleStreamFused(
        docs.select(col("doc_id"), col("lang"), col("text")), a))
    assert(fused(artLoaded) == fused(artFresh))
  }

  test("NB model tables round-trip and classify identically") {
    val docs = Tables.spread(spark, Tables.documents(spark, sfDir))
      .withColumn("is_train",
        substring(PipelineOps.sampleKeyOf(col("source"), col("doc_id")), 1, 1) <= "b")
    val (model, priors) = ClassifierOps.nbModelOf(docs.filter(col("is_train")))
    val path = tmp("nb")
    ClassifierOps.writeNbModel(model, priors, path)
    val (modelL, priorsL) = ClassifierOps.loadNbModel(spark, path)
    assert(rowsOf(modelL) == rowsOf(model) && rowsOf(priorsL) == rowsOf(priors))
    val test = docs.filter(!col("is_train"))
    val fresh = ClassifierOps.nbClassifyOf(test, model, priors)
    val persisted = ClassifierOps.nbClassifyOf(test, modelL, priorsL)
    assert(rowsOf(persisted) == rowsOf(fresh))
    assert(fresh.count() > 0)
  }

  test("decontamination eval index (shingles + bloom) round-trips and gates identically") {
    val hs = DedupOps.shingleHashes(spark, sfDir)
    val bench = hs.filter(col("doc_id") % 97 === 0)
    val bloom = PipelineOps.evalBloomOf(bench)
    val path = tmp("decontam")
    PipelineOps.writeEvalIndex(spark, bench, bloom, path)
    val (benchL, bloomL) = PipelineOps.loadEvalIndex(spark, path)
    assert(java.util.Arrays.equals(bloomL, bloom))
    assert(rowsOf(benchL) == rowsOf(bench))
    val corpus = hs.filter(col("doc_id") % 97 =!= 0)
    val fresh = PipelineOps.contaminationBloomHashedOf(
      corpus, bench, bloom, PipelineOps.contaminationFrac)
    val persisted = PipelineOps.contaminationBloomHashedOf(
      corpus, benchL, bloomL, PipelineOps.contaminationFrac)
    assert(rowsOf(persisted) == rowsOf(fresh))
  }

  test("BPE merge table round-trips and encodes identically") {
    val path = tmp("bpe")
    BpeOps.writeBpeModel(spark, BpeOps.defaultModel, path)
    val loaded = BpeOps.loadBpeModel(spark, path)
    // the artifact IS the model: rank order and pair content preserved
    assert(loaded.merges == BpeOps.defaultModel.merges)
    // the alphabet half round-trips too, so the derived id space is
    // reproducible across jobs
    BpeOps.writeBpeAlphabet(spark, BpeOps.defaultAlphabet, path)
    val alpha = BpeOps.loadBpeAlphabet(spark, path)
    assert(BpeOps.vocabOf(loaded, alpha) == BpeOps.defaultVocab)
    // consumer parity: the token accounting query under the loaded
    // model is row-identical to the default-model run
    val docs = Tables.documents(spark, sfDir)
    val fresh = BpeOps.bpeTokensOf(docs, col("doc_id"), col("text"))
    val persisted = BpeOps.bpeTokensOf(docs, col("doc_id"), col("text"), loaded)
    assert(rowsOf(persisted) == rowsOf(fresh))
  }
}
