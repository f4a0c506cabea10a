package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Scale-headroom stress: materializes a corpus `MULT`× the size of the
  * given sf directory by unioning doc_id-shifted copies (i.e. "MULT
  * crawls of the same web" — a heavily duplicated corpus, the
  * worst-realistic case for the dedup family, whose candidate pair
  * count grows with the square of the duplication factor), then times
  * the heaviest document/embedding operators on it. Run:
  *   SPARK_GRAFT_MULT=10 sbt "runMain graft.Stress /root/testdata/sf0.1 /tmp/graft_stress"
  *
  * This is a diagnostic, not part of the driver contract: it shows
  * which plans scale linearly with corpus size and which pay the
  * quadratic dup-pair cost, and that none of them fall over when the
  * per-partition row counts grow 10×.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_stress")
    val mult = sys.env.getOrElse("SPARK_GRAFT_MULT", "10").toInt
    val spark = GraftSession.local(32, "WARN")

    // ---- materialize the scaled corpus (id-shifted copies, built by
    // crossJoin with a copy spine — a 1000-child union plan chokes the
    // analyzer at the big decades, one crossJoin does not)
    val shift = 100000000L
    // SPARK_GRAFT_DISTINCT=1: copies get per-copy-mutated text (every
    // word suffixed with the copy number), so the scaled corpus is
    // MULT× MORE CONTENT rather than every page crawled MULT times —
    // the realistic shape for the 100×/1000× decades, where full-corpus
    // c-way duplication would make the OUTPUT itself c² and measure
    // nothing but the result writer. Every `dupEvery`-th copy keeps the
    // original text, so a bounded true-duplicate population
    // (groups of MULT/dupEvery identical docs) still exercises the dup
    // path end to end.
    val distinctMode = sys.env.get("SPARK_GRAFT_DISTINCT").exists(_ != "0")
    val dupEvery = 100
    val tables = sys.env.getOrElse("SPARK_GRAFT_TABLES", "documents,embeddings,events")
      .split(",").map(_.trim).toSet
    def copies: org.apache.spark.sql.DataFrame =
      spark.range(mult).select(col("id").as("_copy"))
    def scale(table: String, idCol: String): Unit = {
      val base = Tables.table(spark, srcDir, table)
      val scaled0 = base.crossJoin(copies)
        .withColumn(idCol, col(idCol) + col("_copy") * lit(shift))
      val scaled =
        if (distinctMode && table == "documents")
          scaled0.withColumn("text",
            when(col("_copy") % dupEvery === 0, col("text"))
              // "_" separates word from copy number (it is outside the
              // word alphabet, so 'foo' in copy 11 and 'foo1' in copy 1
              // can never collide — the MULT-times-more-content property
              // the mode exists to provide)
              .otherwise(regexp_replace(col("text"), lit("([a-z0-9]+)"),
                concat(lit("$1_"), col("_copy")))))
        else if (distinctMode && table == "embeddings")
          // distinct VECTORS, not 100 identical crawls of one vector
          // space: a deterministic per-(copy, dimension) jitter keeps
          // every copy a genuinely new point (so kNN/PageRank at the
          // big decades measure real neighbor search, not duplicate
          // lookup) while staying near the unit sphere
          scaled0.withColumn("embedding",
            when(col("_copy") % dupEvery === 0, col("embedding"))
              .otherwise(zip_with(col("embedding"),
                sequence(lit(0), size(col("embedding")) - 1),
                (x, i) => (x + ((pmod(col("_copy") * 31 + i * 7, lit(13)) - 6)
                  .cast("double") * 0.003).cast("float")).cast("float"))))
        else scaled0
      scaled.drop("_copy").repartition(spark.sparkContext.defaultParallelism)
        .write.mode(SaveMode.Overwrite).parquet(s"$workDir/$table.parquet")
    }
    if (tables("documents")) scale("documents", "doc_id")
    if (tables("embeddings")) scale("embeddings", "vec_id")
    // events: keep ts in whatever physical encoding the source has
    // (Tables.events adapts on read); shift user_id too — the scaled
    // corpus is "MULT× the user base", not longer per-user series,
    // matching how an event stream actually grows
    if (tables("events")) {
      Tables.eventsRaw(spark, srcDir).crossJoin(copies)
        .withColumn("event_id", col("event_id") + col("_copy") * lit(shift))
        .withColumn("user_id", col("user_id") + col("_copy") * lit(shift))
        .drop("_copy")
        .repartition(spark.sparkContext.defaultParallelism).write.mode(SaveMode.Overwrite)
        .parquet(s"$workDir/events.parquet")
    }

    val defaults: Seq[String] = Seq(
      "q_dedup_exact", "q_chunk_dedup", "q_gopher_filter", "q_token_rarity",
      "q_tfidf_top_terms", "q_dup_span_frac", "q_dedup_ngram_jaccard",
      "q_dedup_clusters", "q_dedup_simhash", "q_dedup_minhash_lsh",
      "q_dedup_embedding_lsh", "q_ann_ivf", "q_ann_pq", "q_ann_hamming",
      "q_ann_hamming_banded", "q_semdedup", "q_token_budget_mix",
      "q_lm_perplexity", "q_dsir_weights", "q_dedup_keep",
      "q_gap_fill", "q_locf", "q_ewma", "q_anomaly", "q_winsorize",
      "q_asof_nearest", "q_hopping_window",
      "q_dedup_incremental", "q_corpus_report", "q_curate_pipeline",
      "q_substring_dedup", "q_ppl_buckets", "q_contamination_bloom",
      "q_substring_incremental", "q_fuzzy_dedup", "q_media_dedup",
      "q_knn_graph_ivf", "q_embed_centroids",
      "q_top_ngrams", "q_source_overlap", "q_token_cms",
      "q_stratified_sample", "q_dau_wau", "q_retention_cohorts",
      "q_bm25_topk", "q_phrase_search", "q_rag_chunks",
      "q_leakage_safe_split", "q_rank_fusion", "q_embed_outliers",
      "q_heavy_hitters", "q_image_meta", "q_media_catalog",
      "q_lang_rebalance", "q_temperature_mix", "q_nb_classify", "q_graph_pagerank",
      "q_graph_pagerank_ivf",
      "q_dedup_containment", "q_event_transitions", "q_html_extract",
      "q_encoding_quality", "q_blocklist_filter",
      "q_source_kl", "q_pmi_collocations", "q_backoff_score",
      "q_quality_ensemble", "q_semantic_decontam", "q_cooccurrence")
    val heavies: Seq[String] =
      if (args.length > 2) args.drop(2).toSeq else defaults

    val timings = heavies.map { name =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, workDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"== $name%-24s $dt%8.2f s  $n%10d rows")
      name -> dt
    }
    val total = timings.map(_._2).sum
    println(f"== stress total ${total}%.1f s over ${heavies.size} queries at ${mult}x $srcDir")
    spark.stop()
  }
}
