package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Trained-classifier corpus labeling — the fastText-style "train a
  * cheap supervised classifier on labeled data, label the whole crawl"
  * stage of an LLM pipeline (Joulin et al. 2016, arXiv:1607.01759; the
  * CCNet/RedPajama quality- and language-labeling recipe). Here: a
  * multinomial Naive Bayes over word unigrams with add-one smoothing —
  * the same train/broadcast/score lifecycle as the DSIR and bigram-LM
  * scorers in [[QualityModelOps]], with an argmax over classes on top.
  *
  * Deterministic and engine-portable like its siblings: model counts
  * are exact integers, per-(doc, class) log-likelihoods fold their
  * terms in sorted order (SURVEY §6), and the argmax breaks ties by
  * class name, so Spark and DuckDB agree bit-for-bit.
  */
object ClassifierOps {

  /** Held-out evaluation of a Naive Bayes language classifier:
    *
    *   - TRAIN on the deterministic hash-split train slice
    *     ([[PipelineOps.hashSplitOf]]'s `bucket <= 'b'` rule — the
    *     labeled slice of the corpus), counting c(word, lang), per-class
    *     token totals n_l, vocabulary size V and per-class doc priors.
    *   - SCORE every held-out (val/test) document against every class:
    *     score(d, l) = ln((d_l+1)/(D+L)) + Σ_w m(w)·ln((c(w,l)+1)/(n_l+V))
    *   - PREDICT the argmax class (ties → first class name).
    *
    * Scale shape: ONE explode feeds both training counts and eval
    * scoring (the tokenization exchange is reused); the model pivots
    * to ONE row per word (a class→count map — classes are few, words
    * are many) so the eval side joins it once per word, not once per
    * (word, class), and stays a planner-decided equi-join (AQE
    * broadcasts it while it fits — a web-scale vocabulary must not be
    * hand-broadcast). Class-sized stats (priors, totals, V) collapse
    * to a 1-row broadcast; per-class scoring AND the argmax then run
    * map-side over the per-doc term list (a comparator sort of
    * |classes| structs) — the only doc-keyed exchange is the one
    * per-doc rollup, with no ranking window after it. Labeling a
    * 100 TB crawl is one scan + one rollup — exactly the production
    * fastText shape with the model table in place of the binary. */
  def nbClassify(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, dir))
      .withColumn("is_train",
        substring(PipelineOps.sampleKeyOf(col("source"), col("doc_id")), 1, 1) <= "b")
    val (model, priors) = nbModelOf(docs.filter(col("is_train")))
    nbClassifyOf(docs.filter(!col("is_train")), model, priors)
      .orderBy("doc_id")
  }

  /** The trained NB artifact as two reusable frames: the per-class
    * word-count table (l, w, c) and the class priors (l, d_l). Every
    * other statistic the scorer needs (class totals, vocabulary size,
    * smoothed log priors) derives from these two, so they ARE the
    * model — persist them via [[writeNbModel]] and a later job scores
    * without retraining. `train` needs (doc_id, lang, text). */
  def nbModelOf(train: DataFrame): (DataFrame, DataFrame) = {
    // per-document (w, m) counts are the native one-pass
    // [[graft.functions.TokenCounts]] (value-identical to the old
    // explode → groupBy(doc, lang, w) count, spec-pinned): the
    // per-document counting never touches a shuffle, so the model
    // aggregation is the ONLY corpus exchange — the old shape paid a
    // (doc_id, lang, w) exchange of one row per token occurrence
    // first (guide §2.3 "aggregate before you shuffle").
    val dw = train
      .select(col("lang"),
        explode(graft.functions.GraftFunctions.tokenCounts(col("text"))).as("tc"))
      .select(col("lang"), col("tc.w").as("w"), col("tc.c").as("m"))
    val model = dw.groupBy(col("lang").as("l"), col("w")).agg(sum(col("m")).as("c"))
    val priors = train.groupBy(col("lang").as("l")).agg(count(lit(1)).as("d_l"))
    (model, priors)
  }

  def writeNbModel(model: DataFrame, priors: DataFrame, path: String): Unit = {
    graft.ArtifactStore.writeTable(model, path, "nb_model")
    graft.ArtifactStore.writeTable(priors, path, "nb_priors")
  }

  def loadNbModel(s: SparkSession, path: String): (DataFrame, DataFrame) =
    (graft.ArtifactStore.loadTable(s, path, "nb_model"),
      graft.ArtifactStore.loadTable(s, path, "nb_priors"))

  /** Score any (doc_id, lang, text) frame under a trained model —
    * the same plan as before the model/scorer split: model-derived
    * constants collapse to broadcast rows, scoring and argmax run
    * map-side, one per-doc rollup. */
  def nbClassifyOf(test: DataFrame, model: DataFrame,
      priors: DataFrame): DataFrame = {
    val modelByWord = model.groupBy(col("w"))
      .agg(map_from_entries(collect_list(struct(col("l"), col("c")))).as("cs"))
    val nl = model.groupBy(col("l")).agg(sum(col("c")).as("n_l"))
    val vocab = model.agg(count_distinct(col("w")).as("v"))
    val ptot = priors.agg(sum(col("d_l")).as("d_tot"), count(lit(1)).as("n_langs"))
    // every class-level constant in ONE broadcast row: the class list
    // with per-class token totals and smoothed log priors
    val classes = priors.join(nl, Seq("l")).crossJoin(broadcast(ptot))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("l"), col("n_l"),
        (log(col("d_l") + lit(1)) - log(col("d_tot") + col("n_langs"))).as("lp"))))
        .as("ls"))

    test
      // native per-doc term counts (see nbModelOf) — the held-out side
      // joins the model per DISTINCT word per doc with no prior
      // (doc, lang, w) exchange
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.GraftFunctions.tokenCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("lang"), col("tc.w").as("w"), col("tc.c").as("m"))
      .join(modelByWord, Seq("w"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(collect_list(struct(col("m"), col("cs"))).as("terms"))
      .crossJoin(broadcast(classes))
      .crossJoin(broadcast(vocab))
      // per-class sorted-fold log-likelihood + prior, then argmax by
      // (score DESC, class ASC) via a comparator sort — all map-side
      .withColumn("best", element_at(array_sort(
        transform(col("ls"), cl => struct(
          (aggregate(
            array_sort(transform(col("terms"), t => struct(
              coalesce(element_at(t.getField("cs"), cl.getField("l")), lit(0L)).as("c0"),
              t.getField("m").as("m"),
              cl.getField("n_l").as("n_l"),
              col("v").as("v")))),
            lit(0.0),
            (acc, x) => acc + x.getField("m") *
              (log(x.getField("c0") + lit(1)) - log(x.getField("n_l") + x.getField("v"))))
            + cl.getField("lp")).as("score"),
          cl.getField("l").as("l"))),
        (a, b) => when(a.getField("score") > b.getField("score"), -1)
          .when(a.getField("score") < b.getField("score"), 1)
          .when(a.getField("l") < b.getField("l"), -1)
          .when(a.getField("l") > b.getField("l"), 1)
          .otherwise(0)), 1))
      .select(col("doc_id"), col("lang"), col("best.l").as("pred_lang"),
        (col("best.l") === col("lang")).as("correct"))
  }

  val nbClassifySql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, source, text,
       |    substring(md5(source || '#' || CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
       |      AS is_train
       |  FROM documents),
       |dw AS (
       |  SELECT doc_id, lang, is_train, w, count(*) AS m FROM (
       |    SELECT doc_id, lang, is_train,
       |      unnest(string_split_regex(trim(text), '\\s+')) AS w
       |    FROM d)
       |  GROUP BY 1, 2, 3, 4),
       |model AS (
       |  SELECT lang AS l, w, CAST(sum(m) AS BIGINT) AS c
       |  FROM dw WHERE is_train GROUP BY 1, 2),
       |nl AS (SELECT l, CAST(sum(c) AS BIGINT) AS n_l FROM model GROUP BY 1),
       |vocab AS (SELECT count(DISTINCT w) AS v FROM model),
       |priors AS (SELECT lang AS l, count(*) AS d_l FROM d WHERE is_train GROUP BY 1),
       |ptot AS (SELECT CAST(sum(d_l) AS BIGINT) AS d_tot, count(*) AS n_langs
       |         FROM priors),
       |scored AS (
       |  SELECT t.doc_id, t.lang, t.l,
       |    list_reduce(list_prepend(0.0, list_transform(
       |      list(struct_pack(c0 := t.c0, m := t.m, n_l := t.n_l, v := t.v)
       |        ORDER BY t.c0, t.m, t.n_l, t.v),
       |      x -> CAST(x.m AS DOUBLE) * (ln(CAST(x.c0 AS DOUBLE) + 1)
       |        - ln(CAST(x.n_l AS DOUBLE) + x.v)))),
       |      (acc, x) -> acc + x)
       |    + ln(CAST(pr.d_l AS DOUBLE) + 1) - ln(CAST(pt.d_tot AS DOUBLE) + pt.n_langs)
       |      AS score
       |  FROM (
       |    SELECT e.doc_id, e.lang, p.l, e.m,
       |      coalesce(mo.c, 0) AS c0, nl.n_l, vocab.v
       |    FROM dw e
       |    CROSS JOIN (SELECT l FROM priors) p
       |    LEFT JOIN model mo ON mo.l = p.l AND mo.w = e.w
       |    JOIN nl ON nl.l = p.l
       |    CROSS JOIN vocab
       |    WHERE NOT e.is_train) t
       |  JOIN priors pr ON pr.l = t.l
       |  CROSS JOIN ptot pt
       |  GROUP BY t.doc_id, t.lang, t.l, pr.d_l, pt.d_tot, pt.n_langs),
       |ranked AS (
       |  SELECT doc_id, lang, l,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, l) AS rn
       |  FROM scored)
       |SELECT doc_id, lang, l AS pred_lang, l = lang AS correct
       |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_nb_classify" -> (nbClassify _))

  def oracles: Map[String, String] = Map(
    "q_nb_classify" -> nbClassifySql)
}
