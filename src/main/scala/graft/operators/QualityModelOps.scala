package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{DsirModel, LmModel}

/** Model-based corpus quality scoring — the two standard "train a cheap
  * model on a clean reference slice, score the whole crawl" filters of
  * an LLM data pipeline:
  *
  *   - [[lmPerplexity]]: CCNet-style bigram language-model scoring
  *     (Wenzek et al. 2019, arXiv:1911.00359 §4.3 — there a 5-gram
  *     KenLM over Wikipedia; here a 2-gram model with add-one
  *     smoothing, the same shape without the external binary model).
  *   - [[dsirWeights]]: DSIR importance weights over hashed n-gram
  *     features (Xie et al. 2023, arXiv:2302.03169 §3 — bag of hashed
  *     unigrams+bigrams, log ratio of target vs raw bucket models).
  *
  * Both are deterministic and engine-portable: model counts are exact
  * integers, documents fold their per-feature log terms in sorted
  * order (see SURVEY.md §6 — hash aggregations sum doubles in
  * partition order, so compared double aggregates are folded over
  * sorted exact-integer pairs on both engines), and every compared
  * log-derived column is rounded to 6 decimals to absorb last-ulp
  * `ln` differences between DuckDB and the JVM.
  */
object QualityModelOps {

  /** The "clean reference" slice the models are trained on — a fixed
    * source subset standing in for the curated corpus (Wikipedia in
    * CCNet/DSIR). */
  val refSources: Seq[String] = Seq("src0", "src1", "src2", "src3")
  private val refSourcesSql = refSources.map(s => s"'$s'").mkString("(", ", ", ")")

  private def wordsCol = split(trim(col("text")), "\\s+")

  /** word-bigram list via one shared split (let-bound as a lambda
    * variable so the split computes once per row — see SURVEY §5).
    * Guarded for <2-word documents: `sequence(0, -1)` counts DOWN
    * ([0, -1]) and the -1 index would throw at element_at, so a short
    * doc yields an empty bigram list (matching DuckDB's `range`,
    * which is empty for non-positive bounds). */
  private[graft] def bigramsCol = element_at(
    transform(array(wordsCol), ws => bigramsOf(ws)), 1)

  private[graft] def bigramsOf(ws: org.apache.spark.sql.Column) =
    when(size(ws) >= 2,
      transform(sequence(lit(0), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2))))
      .otherwise(array().cast("array<string>"))

  // ------------------------------------------- CCNet-style bigram LM

  /** Mean bigram log-probability of every document under an add-one
    * smoothed bigram LM trained on [[refSources]] — low score = high
    * perplexity = far from the reference distribution, the CCNet
    * filter signal.
    *
    * P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), with c(·) bigram /
    * bigram-context counts in the reference slice and V the context
    * vocabulary size; an unseen context degrades to the uniform 1/V.
    *
    * Scale shape: ONE explode feeds everything — per-(doc, bigram)
    * multiplicities, reference bigram counts, reference context
    * counts, and V are all rollups of the same frame, so the heavy
    * tokenization runs once and the exchange is reused. Model counts
    * are groupBy hash aggregations (map-side partials collapse the
    * Zipfian hot bigrams — never a whole-partition window on the
    * token key), the model joins back through plain equi-joins (a
    * web-scale bigram vocabulary must not be hand-broadcast; AQE
    * broadcasts it when the reference slice is actually small), and V
    * rides as a 1-row aggregate cross-join, never a driver count().
    * Trained in every call's plan and never collected, this join shape
    * (and [[pplBuckets]] and [[qualityEnsemble]] on it) is the only
    * batch LM path with no driver bound ([[LmModel.maxModelRows]]). */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, dir))
    val bg = docs
      .select(col("source"), col("doc_id"), explode(bigramsCol).as("bg"))
      .groupBy(col("doc_id"), col("source"), col("bg"))
      .agg(count(lit(1)).as("m"))
    val ref = bg.filter(col("source").isin(refSources: _*))
    val cb = ref.groupBy(col("bg")).agg(sum(col("m")).as("cb"))
    val cw = ref.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("m")).as("cw"))
    val v = cw.agg(count(lit(1)).as("v"))

    val scored = bg
      .join(cb, Seq("bg"), "left")
      .join(cw, col("w1") === substring_index(col("bg"), " ", 1), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("m"),
        coalesce(col("cb"), lit(0L)).as("cb0"),
        coalesce(col("cw"), lit(0L)).as("cw0"),
        col("v"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        aggregate(
          sort_array(collect_list(struct(col("cb0"), col("cw0"), col("m"), col("v")))),
          lit(0.0),
          (acc, x) => acc + x.getField("m") *
            (log(x.getField("cb0") + lit(1)) -
              log(x.getField("cw0") + x.getField("v")))).as("lp_sum"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"),
        round(col("lp_sum") / col("n_bigrams"), 6).as("mean_log_prob"))
      .orderBy("doc_id")
  }

  /** Shared CTE chain of the bigram-LM oracle up to the per-doc sorted
    * term lists — [[lmPerplexitySql]] selects the scores from it and
    * [[pplBucketsSql]] layers the CCNet head/middle/tail cut on top, so
    * the model definition the two oracles share has exactly one text. */
  private val lmModelCtes: String =
    s"""WITH w AS (
       |  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, source, bg, count(*) AS m FROM (
       |    SELECT doc_id, source, unnest(list_transform(range(len(ws) - 1),
       |      i -> ws[i+1] || ' ' || ws[i+2])) AS bg
       |    FROM w)
       |  GROUP BY 1, 2, 3),
       |cb AS (SELECT bg, CAST(sum(m) AS BIGINT) AS cb FROM bg
       |       WHERE source IN $refSourcesSql GROUP BY 1),
       |cw AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(m) AS BIGINT) AS cw
       |       FROM bg WHERE source IN $refSourcesSql GROUP BY 1),
       |v AS (SELECT count(*) AS v FROM cw),
       |per AS (
       |  SELECT doc_id,
       |    CAST(sum(m) AS BIGINT) AS n_bigrams,
       |    list(struct_pack(cb0 := cb0, cw0 := cw0, m := m, v := v)
       |      ORDER BY cb0, cw0, m, v) AS terms
       |  FROM (
       |    SELECT bg.doc_id, bg.m,
       |      coalesce(cb.cb, 0) AS cb0, coalesce(cw.cw, 0) AS cw0, v.v
       |    FROM bg
       |    LEFT JOIN cb USING (bg)
       |    LEFT JOIN cw ON cw.w1 = split_part(bg.bg, ' ', 1)
       |    CROSS JOIN v)
       |  GROUP BY 1)""".stripMargin

  /** The per-doc mean-log-prob select both LM oracles share. */
  private val lmScoreSelect: String =
    """  round(list_reduce(list_prepend(0.0, list_transform(per.terms, t ->
      |    CAST(t.m AS DOUBLE) * (ln(CAST(t.cb0 AS DOUBLE) + 1)
      |      - ln(CAST(t.cw0 AS DOUBLE) + t.v)))),
      |    (acc, x) -> acc + x) / per.n_bigrams, 6) AS mean_log_prob""".stripMargin

  val lmPerplexitySql: String =
    s"""$lmModelCtes
       |SELECT d.doc_id, per.n_bigrams,
       |$lmScoreSelect
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The bigram-LM training pass and persisted form: reference-slice
    * bigram counts (bg, cb) and context counts (w1, cw); V is the cw
    * row count by construction. At production scale these are trained
    * once per reference release and persisted (CCNet ships a KenLM
    * binary; here the model IS two count tables). [[LmModel.of]]
    * collects them for [[lmScoresOf]]. */
  def lmModelOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val refBg = docs.filter(col("source").isin(refSources: _*))
      .select(explode(bigramsCol).as("bg"))
    val cb = refBg.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    val cw = refBg.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(count(lit(1)).as("cw"))
    (cb, cw)
  }

  private val lmModelCache = new graft.SessionCache[LmModel]()

  /** The [[LmModel]] of one corpus, trained once per (session, corpus)
    * and collected under [[LmModel.maxModelRows]]:
    * [[ensembleArtifactsFor]] and StreamBench read this one copy. */
  private[graft] def lmModelFor(s: SparkSession, dir: String): LmModel =
    lmModelCache.getOrCompute(s, dir) {
      val (cb, cw) = lmModelOf(Tables.spread(s, Tables.documents(s, dir)))
      LmModel.of(cb, cw)
    }

  /** The one closure LM scorer, batch or stream: `docs`' columns but
    * `text`, plus (n_bigrams, mean_log_prob), both null under two words.
    * ONE stateless projection of the native [[graft.functions.LmScore]]
    * (the one LM fold, so bit-identical to [[lmPerplexity]]); a model
    * past its bound takes [[graft.streaming.EventStream.lmScoreStreamJoin]]. */
  def lmScoresOf(docs: DataFrame, model: LmModel): DataFrame = {
    val keep = docs.columns.filter(_ != "text").map(col).toSeq
    docs
      .select((keep :+ graft.functions.GraftFunctions.lmScore(col("text"), model).as("s")): _*)
      .select((keep ++ Seq(col("s.n_bigrams").as("n_bigrams"),
        col("s.mean_log_prob").as("mean_log_prob"))): _*)
  }

  // --------------------------------------- Stupid Backoff trigram LM

  /** Backoff discount α (Brants et al. 2007, arXiv on "Large Language
    * Models in Machine Translation" — the web-scale LM recipe that
    * drops normalization for distributability). */
  val backoffAlpha = 0.4

  /** word-trigram list via one shared split, guarded for <3-word
    * documents like [[bigramsCol]]. */
  private[graft] def trigramsCol = element_at(
    transform(array(wordsCol), ws =>
      when(size(ws) >= 3,
        transform(sequence(lit(0), size(ws) - 3),
          i => concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2),
            element_at(ws, i + 3))))
        .otherwise(array().cast("array<string>"))), 1)

  /** Mean Stupid-Backoff trigram log-score per document — the
    * web-scale LM scoring recipe: relative frequencies with a fixed
    * α = 0.4 backoff instead of normalized smoothing, which is what
    * makes the model embarrassingly distributable (every count table
    * is an independent hash aggregation; no per-context normalization
    * pass). S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂), backing off to
    * α·c(w₂w₃)/c(w₂), then α²·c(w₃)/N, then an α²/(N+V) OOV floor.
    *
    * Branch selection depends only on EXACT integer counts, so both
    * engines take identical branches; the per-doc fold is sorted and
    * the output rounds to 6 dp (the ln-ulp discipline of its
    * siblings). Scale shape: ONE trigram explode feeds the doc
    * multiplicities and all model rollups (trained on [[refSources]]);
    * the trigram/bigram/unigram tables join back as planner-decided
    * equi-joins (a web-scale trigram table must never be
    * hand-broadcast — this is the point of Stupid Backoff); totals
    * ride a 1-row broadcast. */
  def backoffScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, dir))
    val tg = docs
      .select(col("source"), col("doc_id"), explode(trigramsCol).as("tg"))
      .groupBy(col("doc_id"), col("source"), col("tg"))
      .agg(count(lit(1)).as("m"))
    val ref = tg.filter(col("source").isin(refSources: _*))
    val ct = ref.groupBy(col("tg")).agg(sum(col("m")).as("ct"))
    // bigram/unigram tables from the same reference slice; the bigram
    // table is the LM's (positions align with trigram contexts up to
    // the final bigram, which backoff never asks for a context count)
    val cb = lmModelOf(docs)._1
    val refW = docs.filter(col("source").isin(refSources: _*))
      .select(explode(wordsCol).as("w"))
    val cw = refW.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val totals = cw.agg(sum(col("cw")).as("n"), count(lit(1)).as("v"))

    val ctx2 = substring_index(col("tg"), " ", 2)
    val bg23 = substring_index(col("tg"), " ", -2)
    val w2 = substring_index(substring_index(col("tg"), " ", 2), " ", -1)
    val w3 = substring_index(col("tg"), " ", -1)
    val la = log(lit(backoffAlpha))
    val scored = tg
      .join(ct, Seq("tg"), "left")
      .join(cb.select(col("bg").as("ctx"), col("cb").as("cctx")),
        ctx2 === col("ctx"), "left")
      .join(cb.select(col("bg").as("b23"), col("cb").as("cb23")),
        bg23 === col("b23"), "left")
      .join(cw.select(col("w").as("w2k"), col("cw").as("cw2")),
        w2 === col("w2k"), "left")
      .join(cw.select(col("w").as("w3k"), col("cw").as("cw3")),
        w3 === col("w3k"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("m"),
        coalesce(col("ct"), lit(0L)).as("ct0"),
        coalesce(col("cctx"), lit(0L)).as("cctx0"),
        coalesce(col("cb23"), lit(0L)).as("cb0"),
        coalesce(col("cw2"), lit(0L)).as("cw20"),
        coalesce(col("cw3"), lit(0L)).as("cw30"),
        col("n"), col("v"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_trigrams"),
        aggregate(
          sort_array(collect_list(struct(col("ct0"), col("cctx0"), col("cb0"),
            col("cw20"), col("cw30"), col("m"), col("n"), col("v")))),
          lit(0.0),
          (acc, x) => acc + x.getField("m") * (
            when(x.getField("ct0") > 0,
              log(x.getField("ct0")) - log(x.getField("cctx0")))
            .when(x.getField("cb0") > 0,
              la + log(x.getField("cb0")) - log(x.getField("cw20")))
            .when(x.getField("cw30") > 0,
              la + la + log(x.getField("cw30")) - log(x.getField("n")))
            .otherwise(la + la - log(x.getField("n") + x.getField("v")))))
          .as("ls_sum"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_trigrams"),
        round(col("ls_sum") / col("n_trigrams"), 6).as("mean_log_score"))
      .orderBy("doc_id")
  }

  val backoffScoreSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |tg AS (
       |  SELECT doc_id, source, tg, count(*) AS m FROM (
       |    SELECT doc_id, source, unnest(list_transform(range(len(ws) - 2),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS tg
       |    FROM w)
       |  GROUP BY 1, 2, 3),
       |ct AS (SELECT tg, CAST(sum(m) AS BIGINT) AS ct FROM tg
       |       WHERE source IN $refSourcesSql GROUP BY 1),
       |cb AS (
       |  SELECT bg, count(*) AS cb FROM (
       |    SELECT unnest(list_transform(range(len(ws) - 1),
       |      i -> ws[i+1] || ' ' || ws[i+2])) AS bg
       |    FROM w WHERE source IN $refSourcesSql)
       |  GROUP BY 1),
       |cwt AS (
       |  SELECT wrd, count(*) AS cw FROM (
       |    SELECT unnest(ws) AS wrd FROM w WHERE source IN $refSourcesSql)
       |  GROUP BY 1),
       |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n, count(*) AS v FROM cwt),
       |per AS (
       |  SELECT doc_id,
       |    CAST(sum(m) AS BIGINT) AS n_trigrams,
       |    list(struct_pack(ct0 := ct0, cctx0 := cctx0, cb0 := cb0,
       |      cw20 := cw20, cw30 := cw30, m := m, n := n, v := v)
       |      ORDER BY ct0, cctx0, cb0, cw20, cw30, m, n, v) AS terms
       |  FROM (
       |    SELECT tg.doc_id, tg.m,
       |      coalesce(ct.ct, 0) AS ct0,
       |      coalesce(cx.cb, 0) AS cctx0,
       |      coalesce(c23.cb, 0) AS cb0,
       |      coalesce(w2c.cw, 0) AS cw20,
       |      coalesce(w3c.cw, 0) AS cw30,
       |      tot.n, tot.v
       |    FROM tg
       |    LEFT JOIN ct USING (tg)
       |    LEFT JOIN cb cx ON cx.bg =
       |      split_part(tg.tg, ' ', 1) || ' ' || split_part(tg.tg, ' ', 2)
       |    LEFT JOIN cb c23 ON c23.bg =
       |      split_part(tg.tg, ' ', 2) || ' ' || split_part(tg.tg, ' ', 3)
       |    LEFT JOIN cwt w2c ON w2c.wrd = split_part(tg.tg, ' ', 2)
       |    LEFT JOIN cwt w3c ON w3c.wrd = split_part(tg.tg, ' ', 3)
       |    CROSS JOIN tot)
       |  GROUP BY 1)
       |SELECT d.doc_id, per.n_trigrams,
       |  round(list_reduce(list_prepend(0.0, list_transform(per.terms, t ->
       |    CAST(t.m AS DOUBLE) * (CASE
       |      WHEN t.ct0 > 0 THEN ln(CAST(t.ct0 AS DOUBLE)) - ln(CAST(t.cctx0 AS DOUBLE))
       |      WHEN t.cb0 > 0 THEN ln(CAST($backoffAlpha AS DOUBLE))
       |        + ln(CAST(t.cb0 AS DOUBLE)) - ln(CAST(t.cw20 AS DOUBLE))
       |      WHEN t.cw30 > 0 THEN 2 * ln(CAST($backoffAlpha AS DOUBLE))
       |        + ln(CAST(t.cw30 AS DOUBLE)) - ln(CAST(t.n AS DOUBLE))
       |      ELSE 2 * ln(CAST($backoffAlpha AS DOUBLE))
       |        - ln(CAST(t.n AS DOUBLE) + t.v) END))),
       |    (acc, x) -> acc + x) / per.n_trigrams, 6) AS mean_log_score
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------- CCNet perplexity buckets

  /** CCNet's head/middle/tail split (arXiv:1911.00359 §4.3): documents
    * are bucketed per language by where their LM score falls against
    * the language's score terciles — `head` is the cleanest third the
    * pipeline keeps unconditionally, `tail` the third it drops or
    * re-filters. Documents too short to score (< 2 words) land in
    * `unscored`.
    *
    * Bucketing is CUTOFF-based, not rank-based: the per-language
    * tercile cutoffs are a 2-value aggregate (one row per language,
    * broadcast back), so assignment is a map-side comparison — no
    * whole-corpus `ntile` window sort on a per-language partition a
    * dominant language would turn into one giant task. Cutoffs are
    * rounded to 6 dp on both engines (the [[TimeSeriesOps.winsorize]]
    * discipline) so the boundary compares identical values; scores are
    * already 6 dp-rounded by [[lmPerplexity]]. At 100 TB the exact
    * per-language percentile becomes `approx_percentile` over a sample
    * — CCNet itself computes the cut on a corpus sample — with the
    * same broadcast-cutoff plan shape (see [[TimeSeriesOps
    * .winsorizeSketch]] for that twin pattern). No driver bound: the
    * scores are [[lmPerplexity]]'s. */
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    val scored = lmPerplexity(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
    scored.join(broadcast(pplCutsOf(scored)), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("mean_log_prob"),
        when(col("mean_log_prob").isNull, lit("unscored"))
          .when(col("mean_log_prob") >= col("c_high"), lit("head"))
          .when(col("mean_log_prob") >= col("c_low"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** The per-language tercile cutoffs as a trained artifact — the CCNet
    * bucket model the fused streaming gate carries
    * ([[graft.streaming.EventStream.qualityEnsembleStreamFused]]); at
    * production scale trained once per reference release and persisted
    * like the LM/DSIR count tables. `scored` needs (lang,
    * mean_log_prob); output is one (lang, c_low, c_high) row per
    * language, cutoffs 6 dp-rounded so the boundary compares identical
    * values on every engine. */
  def pplCutsOf(scored: DataFrame): DataFrame =
    scored.filter(col("mean_log_prob").isNotNull)
      .groupBy(col("lang"))
      .agg(round(expr("percentile(mean_log_prob, 1.0/3)"), 6).as("c_low"),
        round(expr("percentile(mean_log_prob, 2.0/3)"), 6).as("c_high"))

  val pplBucketsSql: String =
    s"""$lmModelCtes,
       |scored AS (
       |  SELECT d.doc_id, d.lang,
       |$lmScoreSelect
       |  FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id),
       |cuts AS (
       |  SELECT lang,
       |    round(quantile_cont(mean_log_prob, 1.0/3), 6) AS c_low,
       |    round(quantile_cont(mean_log_prob, 2.0/3), 6) AS c_high
       |  FROM scored WHERE mean_log_prob IS NOT NULL GROUP BY 1)
       |SELECT s.doc_id, s.lang, s.mean_log_prob,
       |  CASE WHEN s.mean_log_prob IS NULL THEN 'unscored'
       |       WHEN s.mean_log_prob >= c.c_high THEN 'head'
       |       WHEN s.mean_log_prob >= c.c_low THEN 'middle'
       |       ELSE 'tail' END AS ppl_bucket
       |FROM scored s LEFT JOIN cuts c USING (lang)
       |ORDER BY s.doc_id""".stripMargin

  // ------------------------------------------------- DSIR weights

  /** DSIR log importance weight per document: features are hashed word
    * unigrams + bigrams; the target model is bucket frequencies in
    * [[refSources]], the raw model is bucket frequencies in the whole
    * corpus (both add-one smoothed over the 256 buckets); a document's
    * weight is Σ m(b) · [ln p_target(b) − ln p_raw(b)] over its
    * feature buckets — positive means "looks like the reference", the
    * signal DSIR resamples on. `target_like` thresholds the rounded
    * weight at 0 so both engines compare the identical value.
    *
    * The model is trained once per (session, corpus)
    * ([[dsirModelFor]]) and scored by [[dsirWeightsOf]]; the only
    * exchanges are [[Tables.spread]]'s (on a narrow layout) and the
    * final `orderBy`. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val model = dsirModelFor(s, dir)
    dsirWeightsOf(Tables.spread(s, Tables.documents(s, dir)), model).orderBy("doc_id")
  }

  /** The one DSIR scorer, batch or stream: (doc_id, n_features,
    * log_weight, target_like) per document of `docs` (doc_id, text)
    * under a trained [[DsirModel]]. ONE stateless projection over the
    * native per-doc bucket counts ([[graft.functions.Md5BucketCounts]]),
    * the model riding in as two 256-slot literal arrays — no join, no
    * broadcast, no (doc, bucket) row. Documents with no features, null
    * text among them, emit no row, as in the oracle's rollup. */
  def dsirWeightsOf(docs: DataFrame, model: DsirModel): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.md5BucketCounts(col("text")).as("bm"))
      .filter(size(col("bm")) > 0)
      .select(col("doc_id"),
        aggregate(col("bm"), lit(0L), (acc, x) => acc + x.getField("m")).as("n_features"),
        dsirLogWeightOf(col("bm"), model).as("log_weight"))
      .select(col("doc_id"), col("n_features"), col("log_weight"),
        (col("log_weight") > 0.0).as("target_like"))

  /** The DSIR fold over a per-doc (bucket, m) array `bm`: buckets are
    * looked up by index in the model's literal arrays, the (ct0, cr0,
    * m, nt, nr) terms sorted with the compiled `sort_array` and folded
    * in that order — the oracle's terms and order, so the 6dp weight is
    * bit-identical to it and to [[DsirModel.logWeight]]. */
  private[graft] def dsirLogWeightOf(bm: Column, model: DsirModel): Column = {
    val ct = typedLit(model.ct)
    val cr = typedLit(model.cr)
    val nt = model.nt.fold(lit(null).cast("bigint"))(lit(_))
    val nr = lit(model.nr)
    round(aggregate(
      sort_array(transform(bm, x => struct(
        element_at(ct, x.getField("bucket") + 1).as("ct0"),
        element_at(cr, x.getField("bucket") + 1).as("cr0"),
        x.getField("m").as("m"), nt.as("nt"), nr.as("nr")))),
      lit(0.0),
      (acc, x) => acc + x.getField("m") *
        ((log(x.getField("ct0") + lit(1)) - log(x.getField("nt") + lit(DsirModel.buckets))) -
          (log(x.getField("cr0") + lit(1)) - log(x.getField("nr") + lit(DsirModel.buckets))))),
      6)
  }

  /** The one DSIR training pass: per populated bucket (the first md5
    * byte, 0..255), its feature multiplicity over all of `docs` (`cr`)
    * and over the [[refSources]] slice (`ct`, null when no reference
    * feature hashed there), from the native per-doc
    * [[graft.functions.Md5BucketCounts]]. `docs` needs (source, text).
    * At most 256 `(bucket, cr, ct)` rows, which [[DsirModel.of]]
    * collects; also the persisted `dsir_model` table. */
  def dsirModelOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        explode(graft.functions.GraftFunctions.md5BucketCounts(col("text"))).as("bm"))
      .groupBy(col("bm.bucket"))
      .agg(sum(col("bm.m")).as("cr"),
        sum(when(col("source").isin(refSources: _*), col("bm.m"))).as("ct"))

  private val dsirModelCache = new graft.SessionCache[DsirModel]()

  /** The [[DsirModel]] of one corpus, trained once per (session,
    * corpus): q_dsir_weights, [[ensembleArtifactsFor]] and StreamBench
    * all read this one copy. */
  private[graft] def dsirModelFor(s: SparkSession, dir: String): DsirModel =
    dsirModelCache.getOrCompute(s, dir) {
      DsirModel.of(dsirModelOf(Tables.spread(s, Tables.documents(s, dir))))
    }

  val dsirWeightsSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, source, unnest(list_concat(ws,
       |    list_transform(range(len(ws) - 1), i -> ws[i+1] || ' ' || ws[i+2]))) AS f
       |  FROM w),
       |fb AS (
       |  SELECT doc_id, source, substr(md5(f), 1, 2) AS bucket, count(*) AS m
       |  FROM f GROUP BY 1, 2, 3),
       |cr AS (SELECT bucket, CAST(sum(m) AS BIGINT) AS cr FROM fb GROUP BY 1),
       |ct AS (SELECT bucket, CAST(sum(m) AS BIGINT) AS ct FROM fb
       |       WHERE source IN $refSourcesSql GROUP BY 1),
       |tot AS (SELECT
       |  (SELECT CAST(sum(cr) AS BIGINT) FROM cr) AS nr,
       |  (SELECT CAST(sum(ct) AS BIGINT) FROM ct) AS nt),
       |per AS (
       |  SELECT doc_id,
       |    CAST(sum(m) AS BIGINT) AS n_features,
       |    round(list_reduce(list_prepend(0.0, list_transform(
       |      list(struct_pack(ct0 := ct0, cr0 := cr0, m := m, nt := nt, nr := nr)
       |        ORDER BY ct0, cr0, m, nt, nr),
       |      t -> CAST(t.m AS DOUBLE) *
       |        ((ln(CAST(t.ct0 AS DOUBLE) + 1) - ln(CAST(t.nt AS DOUBLE) + ${DsirModel.buckets}))
       |         - (ln(CAST(t.cr0 AS DOUBLE) + 1) - ln(CAST(t.nr AS DOUBLE) + ${DsirModel.buckets}))))),
       |      (acc, x) -> acc + x), 6) AS log_weight
       |  FROM (
       |    SELECT fb.doc_id, fb.m, coalesce(ct.ct, 0) AS ct0, cr.cr AS cr0, nt, nr
       |    FROM fb LEFT JOIN ct USING (bucket) JOIN cr USING (bucket) CROSS JOIN tot)
       |  GROUP BY 1)
       |SELECT doc_id, n_features, log_weight, log_weight > 0 AS target_like
       |FROM per ORDER BY doc_id""".stripMargin

  // ------------------------------------- persisted model artifacts

  /** Save/load for the three quality-model standing artifacts (bigram
    * LM count tables, DSIR bucket model, per-language perplexity
    * cutoffs) via [[graft.ArtifactStore]] — a multi-job pipeline
    * trains once and every later gate/stream run loads; parity is
    * spec-pinned (ArtifactParitySpec). */
  def writeLmModel(cb: DataFrame, cw: DataFrame, path: String): Unit = {
    graft.ArtifactStore.writeTable(cb, path, "lm_cb")
    graft.ArtifactStore.writeTable(cw, path, "lm_cw")
  }

  def loadLmModel(s: SparkSession, path: String): (DataFrame, DataFrame) =
    (graft.ArtifactStore.loadTable(s, path, "lm_cb"),
      graft.ArtifactStore.loadTable(s, path, "lm_cw"))

  def writeDsirModel(model: DataFrame, path: String): Unit =
    graft.ArtifactStore.writeTable(model, path, "dsir_model")

  def loadDsirModel(s: SparkSession, path: String): DataFrame =
    graft.ArtifactStore.loadTable(s, path, "dsir_model")

  def writePplCuts(cuts: DataFrame, path: String): Unit =
    graft.ArtifactStore.writeTable(cuts, path, "ppl_cuts")

  def loadPplCuts(s: SparkSession, path: String): DataFrame =
    graft.ArtifactStore.loadTable(s, path, "ppl_cuts")

  /** The fused ingest gate's closure value, assembled from the three
    * persisted artifacts above — a deployment trains + persists once
    * ([[writeLmModel]]/[[writeDsirModel]]/[[writePplCuts]]) and every
    * ingest job loads the scorer from disk (parity spec-pinned in
    * ArtifactParitySpec). */
  def loadEnsembleArtifacts(s: SparkSession,
      path: String): graft.functions.EnsembleArtifacts = {
    val (cb, cw) = loadLmModel(s, path)
    graft.functions.EnsembleArtifacts.of(
      cb, cw, loadPplCuts(s, path), loadDsirModel(s, path))
  }

  // --------------------------------------------- ensemble gate

  /** The full quality cascade in ONE plan — the CCNet/RefinedWeb
    * filtering recipe end to end: Gopher document-shape rules,
    * repetition signals, per-language LM-perplexity buckets, and the
    * DSIR target-likeness signal, joined into a per-document verdict
    * with the per-signal audit trail a pipeline operator needs to see
    * WHY a document was cut. keep = shape rules pass AND not
    * repetition-flagged AND not in the perplexity tail; target_like
    * rides along as the resampling signal (DSIR reweights rather than
    * gates).
    *
    * Scale shape: each component keeps its own audited plan (broadcast
    * models, map-side rules — see the individual rows); the ensemble
    * adds only doc-keyed equi-joins of conformly-partitioned per-doc
    * frames. Documents too short to featurize are kept gate-decidable:
    * dsir joins left with a false default. No LM driver bound: the
    * buckets are [[pplBuckets]]'. */
  def qualityEnsemble(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val gopher = TextFunctions.gopherFilter(s, dir)
      .select(col("doc_id"), col("keep").as("gopher_keep"))
    val rep = TextFunctions.repetitionScore(s, dir)
      .select(col("doc_id"), col("flagged").as("rep_flag"))
    val ppl = pplBuckets(s, dir).select(col("doc_id"), col("ppl_bucket"))
    val dsir = dsirWeights(s, dir).select(col("doc_id"), col("target_like"))
    gopher
      .join(rep, Seq("doc_id"))
      .join(ppl, Seq("doc_id"))
      .join(dsir, Seq("doc_id"), "left")
      .select(col("doc_id"), col("gopher_keep"), col("rep_flag"),
        col("ppl_bucket"),
        coalesce(col("target_like"), lit(false)).as("target_like"),
        (col("gopher_keep") && !col("rep_flag") && col("ppl_bucket") =!= "tail")
          .as("keep"))
      .orderBy("doc_id")
  }

  /** The SAME gate through the fused native closure scorer
    * ([[graft.functions.QualityEnsembleScore]]) — registered as its
    * own query row against the IDENTICAL DuckDB oracle, so the
    * ingest-speed scorer is hash-checked by an independent engine,
    * not merely spec-pinned to the batch plan: the artifacts are
    * trained from the corpus exactly as the batch gate trains them,
    * collapse into the closure, and one stateless projection emits
    * the verdict rows. `target_like` for featureless docs is false in
    * both (the scorer's empty-histogram sum rounds to 0.0 > 0 =
    * false, matching the batch coalesce). */
  private val ensembleArtCache =
    new graft.SessionCache[graft.functions.EnsembleArtifacts]()

  /** The fused scorer's closure value, built once per (session,
    * corpus) like every other standing artifact ([[graft.operators
    * .AnnOps.ivfFor]] pattern), from the session's one LM
    * ([[lmModelFor]]) and one DSIR model ([[dsirModelFor]]): the LM
    * trains once, and a session that already ran q_dsir_weights trains
    * no DSIR here. The ppl cuts are [[pplCutsOf]] over that LM's own
    * scores ([[lmScoresOf]], bit-identical to [[lmPerplexity]]'s), one
    * map-side pass with no second LM training. */
  def ensembleArtifactsFor(s: SparkSession,
      dir: String): graft.functions.EnsembleArtifacts =
    ensembleArtCache.getOrCompute(s, dir) {
      val lm = lmModelFor(s, dir)
      val docs = Tables.spread(s, Tables.documents(s, dir))
      val cuts = pplCutsOf(lmScoresOf(docs.select(col("lang"), col("text")), lm))
      graft.functions.EnsembleArtifacts.of(lm, cuts, dsirModelFor(s, dir))
    }

  def qualityEnsembleFused(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, dir))
    val art = ensembleArtifactsFor(s, dir)
    graft.streaming.EventStream.qualityEnsembleStreamFused(
      docs.select(col("doc_id"), col("lang"), col("text")), art)
      .orderBy("doc_id")
  }

  /** Oracle: the component oracles verbatim as CTE bodies (each is a
    * hash-green row on its own), joined on doc_id. */
  lazy val qualityEnsembleSql: String = {
    import graft.functions.TextFunctions
    s"""WITH g AS (${TextFunctions.gopherFilterSql}),
       |r AS (${TextFunctions.repetitionScoreSql}),
       |p AS ($pplBucketsSql),
       |d AS ($dsirWeightsSql)
       |SELECT g.doc_id, g.keep AS gopher_keep, r.flagged AS rep_flag,
       |  p.ppl_bucket, COALESCE(d.target_like, false) AS target_like,
       |  (g.keep AND NOT r.flagged AND p.ppl_bucket <> 'tail') AS keep
       |FROM g
       |JOIN r USING (doc_id)
       |JOIN p USING (doc_id)
       |LEFT JOIN d USING (doc_id)
       |ORDER BY g.doc_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lm_perplexity" -> (lmPerplexity _),
    "q_ppl_buckets"   -> (pplBuckets _),
    "q_dsir_weights"  -> (dsirWeights _),
    "q_backoff_score" -> (backoffScore _),
    "q_quality_ensemble" -> (qualityEnsemble _),
    "q_quality_ensemble_fused" -> (qualityEnsembleFused _))

  def oracles: Map[String, String] = Map(
    "q_lm_perplexity" -> lmPerplexitySql,
    "q_ppl_buckets"   -> pplBucketsSql,
    "q_dsir_weights"  -> dsirWeightsSql,
    "q_backoff_score" -> backoffScoreSql,
    "q_quality_ensemble" -> qualityEnsembleSql,
    // the fused scorer must reproduce the identical verdict rows
    "q_quality_ensemble_fused" -> qualityEnsembleSql)
}
