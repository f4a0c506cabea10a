package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.EnsembleArtifacts
import graft.operators.QualityModelOps

/** The fused native quality-ensemble scorer
  * ([[EventStream.qualityEnsembleStreamFused]]): one stateless
  * projection must reproduce the batch gate's verdict rows exactly —
  * on the driver corpus AND on adversarial fixtures exercising every
  * tokenization seam the JVM scorer re-implements (space-only trim,
  * Java-regex `\s+` split with kept empty tokens, code-point lengths,
  * three-valued rep_flag/keep, missing-language cutoffs). */
class QualityEnsembleFusedSpec extends SparkSpec {

  private def artifactsFor(docs: org.apache.spark.sql.DataFrame)
      : EnsembleArtifacts = {
    val (cb, cw) = QualityModelOps.lmModelOf(docs)
    val dsirModel = QualityModelOps.dsirModelOf(docs)
    val pplCuts = QualityModelOps.pplCutsOf(
      QualityModelOps.lmPerplexity(spark, sfDir)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")))
    EnsembleArtifacts.of(cb, cw, pplCuts, dsirModel)
  }

  private def verdicts(rows: Array[org.apache.spark.sql.Row]) =
    rows.map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("gopher_keep"),
          Option(r.getAs[java.lang.Boolean]("rep_flag")),
          r.getAs[String]("ppl_bucket"),
          r.getAs[Boolean]("target_like"),
          Option(r.getAs[java.lang.Boolean]("keep"))))
    }.toMap

  test("fused verdicts are row-identical to the batch gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sfDir)
    val art = artifactsFor(docs)

    val rows = docs.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().toSeq
    val (h1, h2) = rows.splitAt(rows.size / 3)
    val stream = MemoryStream[(Long, String, String)]
    val q = EventStream.qualityEnsembleStreamFused(
        stream.toDF().toDF("doc_id", "lang", "text"), art)
      .writeStream.format("memory").queryName("qef_stream")
      .outputMode("append").start()
    try {
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
    } finally q.stop()

    val fused = verdicts(spark.table("qef_stream").collect())
    val batch = verdicts(QualityModelOps.qualityEnsemble(spark, sfDir).collect())
    assert(fused.keySet == batch.keySet)
    fused.foreach { case (id, v) =>
      assert(v == batch(id), s"doc $id: fused $v vs batch ${batch(id)}")
    }
    // discriminating gate, not vacuous
    assert(fused.values.exists(_._5.contains(true)) &&
      fused.values.exists(_._5.contains(false)))
  }

  test("fused scorer matches the batch column definitions on tokenization edge cases") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val art = artifactsFor(docs)

    // seams: tabs/newlines inside and at the ends (space-only trim ⇒
    // empty tokens), unicode symbols (#/… counting, code-point length),
    // repetition-heavy short docs (3VL flags), one-word and two-word
    // docs (null top_bigram_frac, unscored bucket), unknown + null lang
    val fixtures = Seq(
      (1L, "en", "\tthe of to and in padded\twith tabs " + ("yes no " * 40)),
      (2L, "en", ("dup dup dup dup " * 30).trim),
      (3L, "xx", "word " * 60 + "the of"),
      (4L, null.asInstanceOf[String], "a b " * 30 + "the of and"),
      (5L, "en", "oneword"),
      (6L, "en", "two words"),
      (7L, "en", "# # # … … " * 20 + "the of stopwords here"),
      (8L, "en", "日本語 テキスト の 混在 with ascii words the of " * 8),
      (9L, "en", "   leading and trailing spaces the of   "),
      (10L, "en", "newline\nseparated\nwords the of " * 12))
    val df = fixtures.toDF("doc_id", "lang", "text")

    val fused = EventStream.qualityEnsembleStreamFused(df, art).collect()
    val got = verdicts(fused)

    // the batch definition, signal by signal, over the same fixtures
    import graft.functions.TextFunctions
    val g = df.withColumn("g", TextFunctions.gopherStructCol)
      .withColumn("r", TextFunctions.repetitionStructCol)
      .select(col("doc_id"), col("g.keep").as("gopher_keep"),
        col("r.flagged").as("rep_flag"))
    // LM via the streaming scorer (spec-pinned equal to batch) and DSIR
    // via the one batch/stream scorer, over the same artifacts; a
    // document without a DSIR row or weight is not target-like, as in
    // the batch gate
    val (cb, cw) = QualityModelOps.lmModelOf(docs)
    val pplCuts = QualityModelOps.pplCutsOf(
      QualityModelOps.lmPerplexity(spark, sfDir)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")))
    val lm = QualityModelOps.lmScoresOf(df, graft.functions.LmModel.of(cb, cw))
    val ds = QualityModelOps.dsirWeightsOf(df,
        graft.functions.DsirModel.of(QualityModelOps.dsirModelOf(docs)))
      .select(col("doc_id"), col("target_like"))
    val expected = g
      .join(lm, Seq("doc_id")).join(ds, Seq("doc_id"), "left")
      .join(df.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .join(broadcast(pplCuts), Seq("lang"), "left")
      .select(col("doc_id"), col("gopher_keep"), col("rep_flag"),
        when(col("mean_log_prob").isNull, lit("unscored"))
          .when(col("mean_log_prob") >= col("c_high"), lit("head"))
          .when(col("mean_log_prob") >= col("c_low"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"),
        coalesce(col("target_like"), lit(false)).as("target_like"),
        (col("gopher_keep") && !col("rep_flag") &&
          when(col("mean_log_prob").isNull, lit("unscored"))
            .when(col("mean_log_prob") >= col("c_high"), lit("head"))
            .when(col("mean_log_prob") >= col("c_low"), lit("middle"))
            .otherwise(lit("tail")) =!= "tail").as("keep"))
    val want = verdicts(expected.collect())
    assert(got.keySet == want.keySet)
    got.foreach { case (id, v) =>
      assert(v == want(id), s"fixture $id: fused $v vs batch-defs ${want(id)}")
    }
  }
}
