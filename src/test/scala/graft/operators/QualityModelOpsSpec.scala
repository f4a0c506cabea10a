package graft.operators

import org.apache.spark.sql.functions._

import graft.{JobCounter, SparkSpec, Tables}

class QualityModelOpsSpec extends SparkSpec {

  private lazy val docs = graft.Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("source"),
      size(split(trim(col("text")), "\\s+")).as("n_words"))

  test("lm perplexity: one row per doc, n_bigrams = n_words - 1, all log probs negative") {
    val lp = QualityModelOps.lmPerplexity(spark, sfDir)
    val joined = lp.join(docs, Seq("doc_id")).collect()
    assert(joined.length == docs.count())
    joined.foreach { r =>
      val nWords = r.getAs[Int]("n_words")
      assert(r.getAs[Long]("n_bigrams") == nWords - 1L)
      // smoothed bigram probs are strictly < 1 (cb <= cw, V >= 1)
      assert(r.getAs[Double]("mean_log_prob") < 0.0)
    }
  }

  test("lm perplexity: reference-slice docs score higher than out-of-slice docs on average") {
    val lp = QualityModelOps.lmPerplexity(spark, sfDir).join(docs, Seq("doc_id"))
      .groupBy(col("source").isin(QualityModelOps.refSources: _*).as("is_ref"))
      .agg(avg(col("mean_log_prob")).as("avg_lp"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // docs the model was trained on have every bigram seen (cb >= 1);
    // out-of-slice docs carry unseen bigrams that fall to the smoothing floor
    assert(lp(true) > lp(false))
  }

  test("dsir: n_features = 2*n_words - 1, flag mirrors the rounded weight's sign") {
    val w = QualityModelOps.dsirWeights(spark, sfDir)
    val joined = w.join(docs, Seq("doc_id")).collect()
    assert(joined.length == docs.count())
    joined.foreach { r =>
      val nWords = r.getAs[Int]("n_words")
      assert(r.getAs[Long]("n_features") == 2L * nWords - 1L)
      assert(r.getAs[Boolean]("target_like") == (r.getAs[Double]("log_weight") > 0.0))
    }
  }

  test("dsir: reference-slice docs weigh more target-like than out-of-slice docs on average") {
    val byRef = QualityModelOps.dsirWeights(spark, sfDir).join(docs, Seq("doc_id"))
      .groupBy(col("source").isin(QualityModelOps.refSources: _*).as("is_ref"))
      .agg(avg(col("log_weight")).as("avg_w"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byRef(true) > byRef(false))
  }

  test("stupid backoff: scores are log-probabilities of sub-1 ratios, trigram counts line up") {
    val scored = QualityModelOps.backoffScore(spark, sfDir).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    val words = docs.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    scored.foreach { case (id, nTri, score) =>
      val nw = words(id)
      if (nw >= 3) {
        assert(nTri === nw - 2, s"doc $id trigram count")
        assert(score < 0, s"doc $id score $score not a log of a sub-1 ratio")
      } else assert(nTri === -1L && score.isNaN, s"short doc $id should be unscored")
    }
  }

  test("stupid backoff: reference-slice docs score higher than out-of-slice docs") {
    val bySource = QualityModelOps.backoffScore(spark, sfDir)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .filter(col("mean_log_score").isNotNull)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Double]("mean_log_score")))
    val (ref, rest) = bySource.partition(p => QualityModelOps.refSources.contains(p._1))
    val refMean = ref.map(_._2).sum / ref.length
    val restMean = rest.map(_._2).sum / rest.length
    assert(refMean > restMean, s"in-domain $refMean not above out-of-domain $restMean")
  }

  test("quality ensemble: verdict is exactly the conjunction of its audited signals") {
    val rows = QualityModelOps.qualityEnsemble(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getString(3), r.getBoolean(4), r.getBoolean(5)))
    assert(rows.length === graft.Tables.documents(spark, sfDir).count(),
      "one verdict per document")
    rows.foreach { case (id, gk, rf, bucket, _, keep) =>
      assert(keep === (gk && !rf && bucket != "tail"), s"doc $id verdict drifts")
    }
    // the cascade actually separates: both kept and cut documents exist
    assert(rows.exists(_._6) && rows.exists(!_._6), "degenerate gate")
  }

  test("both scores are deterministic across runs") {
    def digest(df: org.apache.spark.sql.DataFrame): String =
      df.select(md5(concat_ws("#", df.columns.map(c => col(c).cast("string")): _*))
        .as("h")).agg(md5(concat_ws("", collect_list(col("h")))).as("d"))
        .collect()(0).getString(0)
    assert(digest(QualityModelOps.lmPerplexity(spark, sfDir)) ==
      digest(QualityModelOps.lmPerplexity(spark, sfDir)))
    assert(digest(QualityModelOps.dsirWeights(spark, sfDir)) ==
      digest(QualityModelOps.dsirWeights(spark, sfDir)))
  }

  test("feature extraction survives one-word and empty documents") {
    import spark.implicits._
    val docs = Seq((1L, "solo"), (2L, ""), (3L, "  two  words  "))
      .toDF("doc_id", "text")
    val feats = docs.select(col("doc_id"), DsirModelTwin.featuresCol.as("fs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(feats(1L) == Seq("solo"), "one word → one unigram, no bigrams")
    assert(feats(2L) == Seq(""), "empty text → the single empty token")
    assert(feats(3L) == Seq("two", "words", "two words"))
    // and the full scoring path survives them (model + scorer)
    val model = graft.functions.DsirModel.of(
      QualityModelOps.dsirModelOf(docs.withColumn("source", lit("src0"))))
    val scored = QualityModelOps.dsirWeightsOf(docs, model).collect()
    assert(scored.length == 3 && scored.forall(!_.isNullAt(2)))
  }

  test("dsir: a document in buckets unseen in training scores the add-one term everywhere") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(("src0", "alpha"), ("src9", "beta gamma delta")).toDF("source", "text")
    val model = graft.functions.DsirModel.of(QualityModelOps.dsirModelOf(train))
    def bucket(f: String): Int =
      java.security.MessageDigest.getInstance("MD5").digest(f.getBytes("UTF-8"))(0) & 0xff
    // "w w w": unigram w three times, bigram "w w" twice, both unseen
    val w = Iterator.from(0).map(i => s"u$i").find(w =>
      model.cr(bucket(w)) == 0L && model.cr(bucket(s"$w $w")) == 0L).get
    val text = s"$w $w $w"
    val docs = Seq((1L, text)).toDF("doc_id", "text")

    val batch = QualityModelOps.dsirWeightsOf(docs, model).collect().toSeq
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    stream.addData((1L, text))
    val q = QualityModelOps.dsirWeightsOf(stream.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("dsir_unseen").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("dsir_unseen").collect().toSeq == batch)

    // each unseen bucket adds m·(ln(nr+256) − ln(nt+256)), not 0
    val addOne = math.log(model.nr + 256.0) - math.log(model.nt.get + 256.0)
    assert(addOne > 0.0)
    assert(batch.length == 1 && batch.head.getLong(1) == 5L)
    assert(math.abs(batch.head.getDouble(2) - 5 * addOne) < 1e-6)
    assert(batch.head.getBoolean(3))

    // the fused gate: its JVM fold gives the same weight, and its flag
    val hist = new Array[Long](256)
    hist(bucket(w)) += 3L
    hist(bucket(s"$w $w")) += 2L
    assert(model.logWeight(hist) == batch.head.getDouble(2))
    val art = graft.functions.EnsembleArtifacts(
      graft.functions.LmModel(Array.empty, Array(("\u0000", 1L))), model, Array.empty)
    val fused = art.score(org.apache.spark.unsafe.types.UTF8String.fromString(text), null)
    assert(fused.getBoolean(3) == batch.head.getBoolean(3))
  }

  test("a cold ensembleArtifactsFor trains the LM once, and lmModelFor then starts no job") {
    // a corpus path of its own, so no other spec has warmed its caches
    val dir = java.nio.file.Files.createTempDirectory("graft-lm-once").toString
    Tables.documents(spark, sfDir).write.parquet(s"$dir/documents.parquet")
    // an LM training collects lmModelOf's count tables (aggregates named
    // cb and cw); lmPerplexity's plan folds its cb0 terms
    val tableCollects = new java.util.concurrent.atomic.AtomicInteger()
    val perplexityPlans = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        val p = qe.optimizedPlan.toString
        if (p.contains(" AS cb#") || p.contains(" AS cw#")) tableCollects.incrementAndGet()
        if (p.contains("cb0")) perplexityPlans.incrementAndGet()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val (art, jobs) =
      try JobCounter(spark)(QualityModelOps.ensembleArtifactsFor(spark, dir))
      finally spark.listenerManager.unregister(l)
    info(s"cold ensembleArtifactsFor: $jobs jobs")
    // one LmModel.of: its bigram and its context table, once each
    assert(tableCollects.get == 2 && perplexityPlans.get == 0)
    val (lm, warmJobs) = JobCounter(spark)(QualityModelOps.lmModelFor(spark, dir))
    assert(warmJobs == 0 && (lm eq art.lm))
  }
}
