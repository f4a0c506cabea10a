package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text analysis for a training-data pipeline: token statistics, quality
  * scoring, marker-based language ID, and document fingerprints — the
  * analytics analog of the reference's per-file metadata extraction
  * (tests/test_extractors.py), expressed as codegen'd column chains over
  * the `documents` corpus. No UDFs: every ratio is IEEE-deterministic so
  * the DuckDB oracle matches bit-for-bit.
  */
object TextFunctions {

  /** BPE-ish token pattern: letter runs, single digits, single symbols. */
  val tokenPattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"

  // ------------------------------------------------------ token counts
  def tokenCount(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(tokenPattern), lit(0))).as("n_bpe_tokens"),
        size(array_distinct(split(trim(col("text")), "\\s+"))).as("n_unique_words"))
      .orderBy("doc_id")
  }

  val tokenCountSql: String =
    s"""SELECT doc_id,
       |  CAST(length(text) AS INTEGER) AS n_chars_m,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$tokenPattern')) AS INTEGER) AS n_bpe_tokens,
       |  CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS INTEGER) AS n_unique_words
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ quality score
  /** Deterministic quality heuristics: stopword ratio (fluency), unique
    * ratio (repetitiveness), length saturation. Identical operand order on
    * both engines → bit-equal doubles without rounding. */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    // let-bind the word array (see SearchOps.phraseSearchOf): the three
    // word-level stats share one split() instead of re-splitting per
    // ratio; operand order inside is unchanged so oracle doubles still
    // match bit-for-bit
    def stats(ws: Column): Column = struct(
      size(filter(ws, w => w.isInCollection(qualityStopwords))).cast("double").as("n_stop"),
      size(ws).cast("double").as("n_words"),
      size(array_distinct(ws)).cast("double").as("n_uniq"))
    val st = element_at(transform(array(split(trim(col("text")), "\\s+")), stats _), 1)
    val nChars = length(col("text")).cast("double")
    val stopRatio = col("st.n_stop") / col("st.n_words")
    val uniqRatio = col("st.n_uniq") / col("st.n_words")
    val lenScore = least(lit(1.0), nChars / lit(500.0))
    Tables.documents(s, dir)
      .withColumn("st", st)
      .select(
        col("doc_id"),
        stopRatio.as("stop_ratio"),
        uniqRatio.as("unique_ratio"),
        lenScore.as("len_score"),
        (stopRatio * lit(0.3) + uniqRatio * lit(0.4) + lenScore * lit(0.3)).as("quality"))
      .orderBy("doc_id")
  }

  val qualityStopwords: Seq[String] =
    Seq("a", "an", "the", "of", "to", "and", "in", "that", "this", "with")

  val qualityScoreSql: String = {
    val stopList = qualityStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH w AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> list_contains($stopList, x))) AS DOUBLE) AS n_stop,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_words,
       |    CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) AS n_uniq,
       |    CAST(length(text) AS DOUBLE) AS n_chars
       |  FROM documents)
       |SELECT doc_id,
       |  n_stop / n_words AS stop_ratio,
       |  n_uniq / n_words AS unique_ratio,
       |  least(1.0, n_chars / 500.0) AS len_score,
       |  (n_stop / n_words) * 0.3 + (n_uniq / n_words) * 0.4 +
       |    least(1.0, n_chars / 500.0) * 0.3 AS quality
       |FROM w ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ language ID
  /** Marker-word profiles per language. The corpus is synthetic so the
    * discriminative power is weak — the operator's contract is the scoring
    * + argmax semantics, which the oracle reproduces exactly. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  private def markerCount(ws: Column, lang: String): Column =
    langMarkers(lang).map(m => size(filter(ws, w => w === lit(m))))
      .reduce(_ + _).cast("long")

  def langId(s: SparkSession, dir: String): DataFrame = {
    // one let-bound split feeds all 20 marker counts (see
    // SearchOps.phraseSearchOf for why a bare split() here would re-split
    // the text once per language x marker)
    val scores = element_at(transform(array(split(trim(col("text")), "\\s+")), ws =>
      struct(
        markerCount(ws, "en").as("en"), markerCount(ws, "es").as("es"),
        markerCount(ws, "de").as("de"), markerCount(ws, "fr").as("fr"))), 1)
    Tables.documents(s, dir)
      .withColumn("sc", scores)
      .withColumn("s_en", col("sc.en"))
      .withColumn("s_es", col("sc.es"))
      .withColumn("s_de", col("sc.de"))
      .withColumn("s_fr", col("sc.fr"))
      .withColumn("predicted",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
      .select("doc_id", "s_en", "s_es", "s_de", "s_fr", "predicted", "lang")
      .orderBy("doc_id")
  }

  val langIdSql: String = {
    def cnt(lang: String): String = langMarkers(lang)
      .map(m => s"len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x = '$m'))")
      .mkString("CAST(", " + ", " AS BIGINT)")
    s"""WITH sc AS (
       |  SELECT doc_id, lang,
       |    ${cnt("en")} AS s_en, ${cnt("es")} AS s_es,
       |    ${cnt("de")} AS s_de, ${cnt("fr")} AS s_fr
       |  FROM documents)
       |SELECT doc_id, s_en, s_es, s_de, s_fr,
       |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |       WHEN s_de >= s_fr THEN 'de'
       |       ELSE 'fr' END AS predicted,
       |  lang
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ fingerprint
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    RollingFingerprint.register(s)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("graft_fingerprint(text)").as("fp"),
        expr("graft_fingerprint(lower(text))").as("fp_normalized"))
      .orderBy("doc_id")
  }

  val fingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fp,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(lower(text), ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fp_normalized
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ TF-IDF
  /** Top-3 characteristic terms per source by TF-IDF. Two aggregations
    * (term frequency per (source, word), document frequency per word) and
    * a window rank — the canonical two-level shuffle shape. Everything is
    * one lazy plan: the corpus size is a 1-row aggregate cross-joined in
    * (exactly the oracle's `CROSS JOIN n`), never a driver-side count();
    * df comes back through a plain equi-join on `word` — a web-scale
    * vocabulary has billions of distinct tokens, so it must not be
    * hand-broadcast (AQE still turns it into a broadcast automatically
    * when the frequency table is actually small). Output is (rank, word),
    * not the score: ln() last-ulp differences between engines can't flip
    * ranks that are tied-broken by word. */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.spread(s, Tables.documents(s, dir))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    // Per-document term counts are the native one-pass
    // [[GraftFunctions.tokenCounts]] (value-identical to
    // explode(split) → per-doc groupBy count, spec-pinned): the
    // per-(word, doc) counting never touches a shuffle — the old shape
    // paid a corpus-wide (word, doc_id, source) exchange of one row
    // PER TOKEN OCCURRENCE just to collapse occurrences into counts
    // (guide §2.3 "aggregate before you shuffle").
    val wd = docs.select(col("source"),
      explode(GraftFunctions.tokenCounts(col("text"))).as("tc"))
    // ONE (source, word) aggregation feeds both statistics: tf is its
    // sum, and df DERIVES from it (df = Σ over sources of per-(source,
    // word) doc counts — doc_id determines source, so the integers are
    // identical; the PMI count-derivation trick). The derivation side
    // aggregates the already-aggregated |sources|·|vocab| rows, never
    // the corpus, and the tokenization runs exactly once.
    // Document frequency stays groupBy + join, NOT a whole-partition
    // window on the word key: words are Zipfian, and a window would
    // stream the hottest word's entire posting list through one
    // partition that AQE cannot split. Map-side partial aggregation
    // collapses a hot word to one row per task before the shuffle; the
    // join back is broadcast when the vocabulary is small (AQE) and an
    // AQE-splittable sort-merge join when it is not.
    val sw = wd
      .groupBy(col("source"), col("tc.w").as("word"))
      .agg(sum(col("tc.c")).as("tf"), count(lit(1)).as("dfs"))
    val df = sw.groupBy(col("word")).agg(sum(col("dfs")).as("df"))
    val tf = sw.select(col("source"), col("word"), col("tf"))
      .join(df, Seq("word"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("word").asc)
    tf
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("source", "rank", "word", "tf", "df")
      .orderBy("source", "rank")
  }

  val tfidfTopTermsSql: String =
    """WITH words AS (
      |  SELECT source, doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
      |  FROM documents),
      |tf AS (SELECT source, word, count(*) AS tf FROM words GROUP BY 1, 2),
      |df AS (SELECT word, count(*) AS df
      |       FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT source, word, tf, df,
      |    tf * ln(CAST(n_docs AS DOUBLE) / df) AS score
      |  FROM tf JOIN df USING (word) CROSS JOIN n)
      |SELECT source, rank, word, tf, df FROM (
      |  SELECT source, word, tf, df,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY score DESC, word ASC) AS INTEGER) AS rank
      |  FROM scored)
      |WHERE rank <= 3
      |ORDER BY source, rank""".stripMargin

  // ------------------------------------------------------ PII scrub
  /** Conservative regex dialect shared by Java and RE2 so Spark and the
    * oracle scrub identically. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val phoneRe = "\\+[0-9][0-9 -]{7,}[0-9]"

  /** PII redaction — the pre-training scrub pass: emails, IPv4s, and
    * international-format phone numbers replaced with typed tokens,
    * counts kept for auditing. The corpus plants deterministic PII on a
    * document subset so the redaction paths are actually exercised; the
    * scrubbed text is verified by hash. Pure regexp_replace chain —
    * codegen'd, map-side only. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = concat(col("text"),
      when(id % 4 === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@example.com or admin@sub.example.org"))).otherwise(lit("")),
      when(id % 6 === 0, concat(lit(" from host 192.168."),
        (id % 256).cast("string"), lit("."), (id % 100).cast("string"))).otherwise(lit("")),
      when(id % 9 === 0, lit(" call +1 555 867-5309")).otherwise(lit("")))
    Tables.documents(s, dir)
      .withColumn("raw", planted)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(ipRe), lit(0))).as("n_ips"),
        size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0))).as("n_phones"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("raw"),
          emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>")).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  val piiScrubSql: String = {
    val (e, i, p) = (emailRe, ipRe, phoneRe)
    s"""WITH raw AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 4 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) ||
       |      '@example.com or admin@sub.example.org' ELSE '' END ||
       |    CASE WHEN doc_id % 6 = 0 THEN ' from host 192.168.' ||
       |      CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
       |    CASE WHEN doc_id % 9 = 0 THEN ' call +1 555 867-5309' ELSE '' END AS raw
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(raw, '$e')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(raw, '$i')) AS INTEGER) AS n_ips,
       |  CAST(len(regexp_extract_all(raw, '$p')) AS INTEGER) AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(raw,
       |    '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'), '$p', '<PHONE>', 'g')) AS scrubbed_md5
       |FROM raw ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ repetition
  /** Gopher repetition thresholds (Rae et al. 2021 §A1.1 family) — ONE
    * definition shared by the batch gate, the map-side struct and the
    * SQL oracle so a retune can never make them disagree. */
  val dupWordFracMax = 0.6
  val topBigramFracMax = 0.18

  /** Gopher-style repetition signals: duplicate-word fraction and the
    * share of the document's bigrams taken by its single most repeated
    * bigram. The bigram mode is an explode + two-level aggregation —
    * shuffles keyed on (doc, bigram) then doc, the shape that holds at
    * corpus scale — and the final flag mirrors the reference-style
    * quality gate (drop if either signal crosses its threshold). */
  def repetitionScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, dir))
    val stats = docs.select(
      col("doc_id"),
      element_at(transform(array(split(trim(col("text")), "\\s+")), ws =>
        struct(size(ws).as("n_words"),
          size(array_distinct(ws)).as("n_uniq"))), 1).as("st"))
    val bigrams = docs.select(col("doc_id"),
        explode(element_at(transform(array(split(trim(col("text")), "\\s+")), ws =>
          transform(sequence(lit(0), size(ws) - 2),
            i => concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2)))), 1))
          .as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bigram_n"), sum(col("c")).as("n_bigrams"))
    stats.join(bigrams, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        (lit(1.0) - col("st.n_uniq").cast("double") / col("st.n_words"))
          .as("dup_word_frac"),
        (col("top_bigram_n").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        ((lit(1.0) - col("st.n_uniq").cast("double") / col("st.n_words")) > dupWordFracMax ||
          (col("top_bigram_n").cast("double") / col("n_bigrams")) > topBigramFracMax)
          .as("flagged"))
      .orderBy("doc_id")
  }

  /** The repetition verdict as ONE map-side struct over `text` — for
    * consumers that hold the whole document in a row anyway (the
    * streaming quality ensemble): instead of [[repetitionScore]]'s
    * explode + two-level aggregation, the top-bigram count is the
    * longest run in the SORTED per-doc bigram array (max run length in
    * a sorted multiset == max multiplicity), an O(n log n) per-row fold
    * with zero shuffles. Values are the identical exact-integer counts
    * divided the same way, so flags can never diverge from the batch
    * gate (spec-pinned per doc in QualityEnsembleStreamSpec); documents
    * with no bigram keep the batch's null `top_bigram_frac`/`flagged`
    * left-join semantics (`flagged` stays true when dup_word_frac alone
    * crosses its threshold). */
  private[graft] def repetitionStructCol: Column = {
    import graft.operators.QualityModelOps
    def build(ws: Column): Column = {
      val nWords = size(ws)
      val dupFrac = lit(1.0) -
        size(array_distinct(ws)).cast("double") / nWords.cast("double")
      def top(bgs: Column): Column = aggregate(
        array_sort(bgs),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, b) => {
          val run = when(b === acc.getField("prev"), acc.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(b.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
      // let-bind the bigram array too: `top` and the size guard share it
      val scored = element_at(
        transform(array(QualityModelOps.bigramsOf(ws)), bgs =>
          struct(
            when(size(bgs) >= 1,
              top(bgs).cast("double") / size(bgs).cast("double"))
              .as("top_bigram_frac"),
            size(bgs).as("n_bigrams"))), 1)
      val topFrac = scored.getField("top_bigram_frac")
      struct(
        dupFrac.as("dup_word_frac"),
        topFrac.as("top_bigram_frac"),
        (dupFrac > dupWordFracMax || topFrac > topBigramFracMax).as("flagged"))
    }
    element_at(transform(array(split(trim(col("text")), "\\s+")), build _), 1)
  }

  val repetitionScoreSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
      |st AS (
      |  SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_uniq FROM w),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(len(ws) - 1),
      |    i -> ws[i+1] || ' ' || ws[i+2])) AS bg
      |  FROM w),
      |bgc AS (
      |  SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams FROM (
      |    SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
      |  GROUP BY doc_id)
      |SELECT st.doc_id,
      |  1.0 - CAST(n_uniq AS DOUBLE) / n_words AS dup_word_frac,
      |  CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac,
      |  (1.0 - CAST(n_uniq AS DOUBLE) / n_words) > @DUP@ OR
      |    (CAST(top_bigram_n AS DOUBLE) / n_bigrams) > @TOP@ AS flagged
      |FROM st LEFT JOIN bgc ON st.doc_id = bgc.doc_id
      |ORDER BY st.doc_id""".stripMargin
      .replace("@DUP@", dupWordFracMax.toString)
      .replace("@TOP@", topBigramFracMax.toString)

  // ------------------------------------------------- token rarity

  /** Mean log corpus-frequency of a document's tokens — the cheap
    * perplexity proxy corpus filters use (a document of common words
    * scores high, gibberish/rare-token text scores low; the true
    * unigram log-probability differs only by the corpus-size constant
    * ln N). One linear pipeline: per-(word, doc) counts, corpus counts
    * as a groupBy + join on the word key (map-side partial aggregation
    * collapses Zipfian hot words before the shuffle — same de-skew
    * rationale as [[tfidfTopTerms]]), one per-doc rollup.
    *
    * FP discipline: a hash aggregation sums doubles in partition order,
    * which is not reproducible across engines (or runs). The per-doc
    * (count, multiplicity) pairs are exact integers, so they are
    * collected, sorted, and folded in sorted order with `aggregate` —
    * Spark and the DuckDB oracle add the same doubles in the same
    * sequence, making the score bit-identical. */
  def tokenRarity(s: SparkSession, dir: String): DataFrame = {
    // Per-(word, doc) counts are the native one-pass
    // [[GraftFunctions.tokenCounts]] (spec-pinned value identity): the
    // per-document counting never touches a shuffle — the old shape
    // paid a (word, doc_id) exchange of one row per token occurrence.
    // The corpus-frequency aggregation and the join probe are two
    // consumers whose join-pushed filters deny exchange reuse, so the
    // scan + tokenize pass runs once per consumer. That is deliberate:
    // wd is corpus-sized (one row per distinct word per document); an
    // eager per-call localCheckpoint of it cost an extra job, measured
    // slower than the second pass, and left the frame pinned in block
    // storage after every call.
    val wd = Tables.spread(s, Tables.documents(s, dir))
      .select(col("doc_id"),
        explode(GraftFunctions.tokenCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.w").as("word"), col("tc.c").as("m"))
    val cf = wd.groupBy(col("word")).agg(sum(col("m")).as("c"))
    wd
      .join(cf, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_tokens"),
        aggregate(
          sort_array(collect_list(struct(col("c"), col("m")))),
          lit(0.0),
          (acc, x) => acc + x.getField("m") * log(x.getField("c"))).as("logfreq_sum"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("logfreq_sum") / col("n_tokens"), 6).as("mean_log_freq"))
      .orderBy("doc_id")
  }

  val tokenRaritySql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
      |  FROM documents),
      |wd AS (SELECT word, doc_id, count(*) AS m FROM w GROUP BY 1, 2),
      |wc AS (SELECT *, sum(m) OVER (PARTITION BY word) AS c FROM wd),
      |per AS (
      |  SELECT doc_id,
      |    CAST(sum(m) AS BIGINT) AS n_tokens,
      |    list(struct_pack(c := c, m := m) ORDER BY c, m) AS pairs
      |  FROM wc GROUP BY 1)
      |SELECT doc_id, n_tokens,
      |  round(list_reduce(list_prepend(0.0,
      |    list_transform(pairs, p -> CAST(p.m AS DOUBLE) * ln(CAST(p.c AS DOUBLE)))),
      |    (acc, x) -> acc + x) / n_tokens, 6) AS mean_log_freq
      |FROM per ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ rule cascade

  /** Every Gopher shape stat and rule flag as ONE struct column over
    * `text`: the native [[GopherStats]] kernel, the single definition
    * of the rule-cascade contract, so the batch gate ([[gopherFilter]]),
    * the batch ensemble and the fused streaming gate (whose
    * [[EnsembleArtifacts]] scorer calls the same kernel) can never
    * disagree on a flag. Integer counts only, so no fold-order FP
    * concerns. */
  private[graft] def gopherStructCol: Column =
    GraftFunctions.gopherStats(col("text"))

  /** Gopher-style document-shape filter (Rae et al. 2021, §A1.1): hard
    * per-document rules — word-count bounds, mean word length bounds,
    * alphabetic-word fraction, symbol-to-word ratio, minimum stopword
    * presence — each emitted as its own flag plus the conjunction
    * `keep`. Complements [[qualityScore]] (soft weighted score) and
    * [[repetitionScore]] (within-doc repetition): these are the
    * drop-before-you-score gates of a curation pipeline.
    *
    * One map-side projection over the corpus — no shuffle, no state;
    * at 100 TB this runs at scan speed inside whole-stage codegen and
    * pushes only (doc_id, text) through the reader. */
  def gopherFilter(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("g", gopherStructCol)
      .select(col("doc_id"), col("g.*"))
      .orderBy("doc_id")

  val gopherFilterSql: String = {
    val stopList = qualityStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH w AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_words,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> regexp_matches(x, '[A-Za-z]'))) AS INTEGER) AS n_alpha,
       |    CAST(len(list_intersect(list_distinct(string_split_regex(trim(text), '\\s+')),
       |      $stopList)) AS INTEGER) AS n_stop,
       |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) AS no_ws,
       |    CAST(length(text) - length(replace(replace(text, '#', ''), '…', ''))
       |      AS DOUBLE) AS n_symbols
       |  FROM documents)
       |SELECT doc_id, n_words,
       |  no_ws / n_words AS mean_word_len,
       |  CAST(n_alpha AS DOUBLE) / n_words AS alpha_frac,
       |  n_symbols / n_words AS symbol_ratio,
       |  n_stop,
       |  n_words BETWEEN 50 AND 100000 AS ok_words,
       |  no_ws / n_words BETWEEN 3.0 AND 10.0 AS ok_mean_len,
       |  CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS ok_alpha,
       |  n_symbols / n_words <= 0.1 AS ok_symbol,
       |  n_stop >= 2 AS ok_stop,
       |  (n_words BETWEEN 50 AND 100000) AND (no_ws / n_words BETWEEN 3.0 AND 10.0)
       |    AND (CAST(n_alpha AS DOUBLE) / n_words >= 0.8)
       |    AND (n_symbols / n_words <= 0.1) AND (n_stop >= 2) AS keep
       |FROM w ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------- count-min token sketch

  /** Count-min depth (independent hash rows) and bucket-key length in
    * md5 hex chars — width = 16^cmsHexChars derives from it, so
    * widening the sketch means changing ONE constant and the bucketing,
    * oracle, and spec bound all follow. Error bound: estimate ≤ true +
    * N·e/width with probability 1 − e^−depth over the hash choice. */
  val cmsDepth = 4
  val cmsHexChars = 2
  val cmsWidth: Int = 1 << (4 * cmsHexChars)

  /** Mergeable count-min sketch of corpus token frequencies — the
    * heavy-hitter sketch that answers "how often does token t appear"
    * in O(depth) lookups over depth×width counters, regardless of
    * vocabulary size. The sketch TABLE (row, bucket, c) is the
    * artifact: shards merge by summing on (row, bucket) (counts are
    * linear), and it rides any plan as a broadcast. Buckets come from
    * md5(row # token) — the engine-common hash, so the full sketch is
    * hash-exact against the oracle, not approximately checked. One
    * token explode, one depth-× expansion of DISTINCT-free token rows,
    * one hash aggregation — map-side partials collapse the Zipfian hot
    * tokens, never a window on the token key. [[cmsEstimateOf]] reads
    * estimates back (min over rows); the overestimate-only bound is
    * pinned in spec. */
  def tokenCms(s: SparkSession, dir: String): DataFrame =
    tokenCmsOf(graft.Tables.spread(s, graft.Tables.documents(s, dir)), col("text"))

  /** Sketch updates are born as per-document partial sketches: the
    * native [[GraftFunctions.cmsBucketCounts]] emits ≤ depth·width
    * (row, bucket, m) counters per document in one pass (the md5 of
    * "row#token" digested from reused buffers — no concat string, no
    * hex rendering, no depth× explode of the token stream), and the
    * corpus sketch is one aggregation of those partials — counts are
    * linear, so Σ m by (row, bucket) equals counting the exploded
    * update stream (spec-pinned in TokenCountsSpec; guide §2.3
    * "aggregate before you shuffle"). The bucket's two lowercase hex
    * chars are re-rendered from the byte only for the final ≤
    * depth·width output rows. */
  def tokenCmsOf(docs: DataFrame, textCol: Column): DataFrame = {
    // the native pass indexes buckets by the digest's FIRST BYTE — the
    // two-hex-char bucket key; widening the sketch beyond one byte
    // must widen the native kernel with it
    require(cmsHexChars == 2,
      "native cms kernel is specialized to 2 hex chars (one digest byte)")
    docs
      .select(explode(GraftFunctions.cmsBucketCounts(textCol, cmsDepth)).as("rc"))
      .groupBy(col("rc.row").as("row"), col("rc.bucket").as("b"))
      .agg(sum(col("rc.m")).as("c"))
      .select(col("row"), format_string("%02x", col("b")).as("bucket"), col("c"))
      .orderBy("row", "bucket")
  }

  /** Engine-common bucket: the first cmsHexChars md5 hex chars of
    * "row#token" — width buckets with zero hex parsing, the same
    * convention as the DSIR feature hash (both engines compute md5
    * identically). */
  private def cmsBucket(row: Column, tok: Column): Column =
    substring(md5(concat_ws("#", row, tok)), 1, cmsHexChars)

  /** Point estimates from a sketch: min over the depth rows of the
    * token's bucket counter — always ≥ the true count, and close for
    * heavy hitters (collisions only ever inflate). */
  def cmsEstimateOf(sketch: DataFrame, tokens: DataFrame,
      tokCol: String): DataFrame =
    tokens
      .select(col(tokCol).as("tok"),
        explode(array((0 until cmsDepth).map(lit(_)): _*)).as("row"))
      .select(col("tok"), col("row"), cmsBucket(col("row"), col("tok")).as("bucket"))
      .join(sketch, Seq("row", "bucket"), "left")
      .groupBy(col("tok"))
      .agg(min(coalesce(col("c"), lit(0L))).as("estimate"))

  val tokenCmsSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |ex AS (
       |  SELECT tok, CAST(u AS INTEGER) AS row
       |  FROM toks CROSS JOIN (SELECT unnest(range($cmsDepth)) AS u) o)
       |SELECT row,
       |  substring(md5(CAST(row AS VARCHAR) || '#' || tok), 1, $cmsHexChars) AS bucket,
       |  count(*) AS c
       |FROM ex GROUP BY 1, 2 ORDER BY row, bucket""".stripMargin

  // -------------------------------------------- corpus top n-grams

  /** Top-k rows kept in the corpus n-gram leaderboard. */
  val topNgramsK = 100

  /** Corpus-wide top-k word-3-grams by document frequency — the
    * "what IS the boilerplate" diagnostic that feeds chunk-dedup and
    * contamination review. Distinct-per-doc shingles (so a phrase
    * repeated inside one page counts once), document frequency as ONE
    * hash aggregation (map-side partials collapse the viral phrases
    * this query exists to find — never a window on the phrase key),
    * and the leaderboard is a TakeOrdered over (df desc, ngram asc) —
    * a k-row heap per partition, no global sort. */
  def topNgrams(s: SparkSession, dir: String): DataFrame =
    // distinct per-doc shingle STRINGS via the native one-pass
    // [[graft.functions.ShingleStrings]] (value-identical to the
    // interpreted word-3-gram chain, spec-pinned; <3-word docs yield an
    // empty array, subsuming the old size filter)
    graft.Tables.spread(s, graft.Tables.documents(s, dir))
      .select(explode(
        GraftFunctions.shingleStrings(col("text"), 3)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("ngram").asc)
      .limit(topNgramsK)

  val topNgramsSql: String = graft.operators.DedupOps.shinglesSql +
    s"""SELECT ngram, df FROM (
       |  SELECT s AS ngram, count(*) AS df
       |  FROM (SELECT unnest(sh) AS s FROM sh_t) GROUP BY 1)
       |ORDER BY df DESC, ngram ASC LIMIT $topNgramsK""".stripMargin

  // ---------------------------------------- PMI collocations

  /** Minimum bigram count for a collocation candidate — the standard
    * floor that keeps one-off juxtapositions of two rare words from
    * topping the PMI board. */
  val pmiMinCount = 5L
  val pmiTopK = 100

  /** Top word-pair collocations by pointwise mutual information — the
    * phrase-mining step (word2vec's phrase pass, Mikolov et al. 2013):
    * pmi(w1, w2) = ln(c12·N / (c1·c2)) over adjacent word pairs, with
    * c1/c2 the first-/second-position word counts from the same bigram
    * stream and N the bigram total. High PMI = the words co-occur far
    * more than their frequencies predict = a phrase to merge before
    * tokenizer/embedding training.
    *
    * Scale shape: one bigram explode (the shared [[QualityModelOps]]
    * tokenization), three hash aggregations off it (bigram, left-word,
    * right-word counts — map-side partials collapse Zipfian hot keys),
    * position counts rejoin the ≥-minCount bigram frame as plain
    * planner-decided equi-joins, N rides a 1-row broadcast, and the
    * top-k is a per-partition heap (TakeOrderedAndProject) — no global
    * sort. Exact-integer counts; ln on identical doubles both engines;
    * tie-break by bigram text. */
  def pmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val bg = graft.Tables.spread(s, graft.Tables.documents(s, dir))
      .select(explode(graft.operators.QualityModelOps.bigramsCol).as("bg"))
    // Position counts DERIVE from the bigram count table: c1(w) =
    // Σ c12 over bigrams starting with w (and symmetrically c2) — the
    // identical integers the raw-stream groupBys computed, but
    // aggregated from |distinct bigrams| rows instead of the full
    // exploded stream. The measured final plan of the raw-stream form
    // ran the corpus explode FOUR times (only the spread exchange was
    // AQE-reused; each position count re-exploded — see
    // plans/r10/q_pmi_collocations_before.txt, Generate at ops 6, 17,
    // 31, 45). Deriving from cb alone is not enough: the joins push
    // per-leg isnotnull predicates below each leg's aggregation, the
    // four cb subtrees stop being canonically equal, and AQE still
    // re-explodes per leg — so cb is MATERIALIZED once
    // (localCheckpoint, |distinct bigrams| rows) and every consumer
    // reads it (guide §2.3 "aggregate before you shuffle" / §2.4). */
    val cb = bg.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val cl = cb.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    val cr = cb.groupBy(substring_index(col("bg"), " ", -1).as("w2"))
      .agg(sum(col("c12")).as("c2"))
    val n = cb.agg(sum(col("c12")).as("n"))
    cb.filter(col("c12") >= pmiMinCount)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(cl, Seq("w1"))
      .join(cr, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("bg"), col("c12"), col("c1"), col("c2"),
        (log(col("c12")) + log(col("n")) - log(col("c1")) - log(col("c2")))
          .as("pmi"))
      .orderBy(col("pmi").desc, col("bg").asc)
      .limit(pmiTopK)
      .select(col("bg"), col("c12"), col("c1"), col("c2"),
        round(col("pmi"), 6).as("pmi"))
  }

  val pmiCollocationsSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |bg AS (
       |  SELECT unnest(list_transform(range(len(ws) - 1),
       |    i -> ws[i+1] || ' ' || ws[i+2])) AS bg
       |  FROM w),
       |cb AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1),
       |cl AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
       |       FROM bg GROUP BY 1),
       |cr AS (SELECT split_part(bg, ' ', 2) AS w2, count(*) AS c2
       |       FROM bg GROUP BY 1),
       |n AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM cb)
       |SELECT bg, c12, c1, c2, round(pmi, 6) AS pmi FROM (
       |  SELECT cb.bg, cb.c12, cl.c1, cr.c2,
       |    ln(CAST(cb.c12 AS DOUBLE)) + ln(CAST(n.n AS DOUBLE))
       |      - ln(CAST(cl.c1 AS DOUBLE)) - ln(CAST(cr.c2 AS DOUBLE)) AS pmi
       |  FROM cb
       |  JOIN cl ON cl.w1 = split_part(cb.bg, ' ', 1)
       |  JOIN cr ON cr.w2 = split_part(cb.bg, ' ', 2)
       |  CROSS JOIN n
       |  WHERE cb.c12 >= $pmiMinCount)
       |ORDER BY pmi DESC, bg ASC LIMIT $pmiTopK""".stripMargin

  // ------------------------------------ windowed co-occurrence

  /** Co-occurrence window radius and the integer distance weights:
    * GloVe weights pairs 1/d by distance; scaling by lcm(1..4) = 12
    * makes every weight an exact integer (12, 6, 4, 3), so the count
    * matrix is hash-exact with no float summation anywhere. */
  val coocWindow = 4
  val coocMinWeight = 60L
  val coocTopK = 100

  /** GloVe-style co-occurrence matrix builder (Pennington et al.
    * 2014): for every token pair within [[coocWindow]] positions,
    * accumulate the integer distance weight; pairs are canonicalized
    * unordered (GloVe's X is symmetric). The board view keeps the
    * strongest [[coocTopK]] cells above [[coocMinWeight]] — the full
    * matrix is the training artifact; the floor is what bounds it at
    * corpus scale (Zipf: almost all cells are tiny).
    *
    * Scale shape: pair generation is MAP-SIDE (a per-row lambda over
    * the let-bound token array emits ≤ window pairs per token — never
    * a positions self-join), the matrix is ONE hash aggregation whose
    * map-side partials collapse the Zipfian hot cells, and the top-k
    * is a per-partition heap. */
  def cooccurrence(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.Tables.spread(s, graft.Tables.documents(s, dir))
      .select(explode(element_at(transform(
        array(split(trim(col("text")), "\\s+")), ws =>
          flatten(transform(sequence(lit(0), size(ws) - 1), i =>
            when(size(ws) - i >= 2,
              transform(sequence(lit(1), least(lit(coocWindow), size(ws) - 1 - i)),
                d => struct(
                  least(element_at(ws, i + 1), element_at(ws, i + d + 1)).as("wa"),
                  greatest(element_at(ws, i + 1), element_at(ws, i + d + 1)).as("wb"),
                  element_at(array(lit(12L), lit(6L), lit(4L), lit(3L)), d).as("wt"))))
              .otherwise(array().cast("array<struct<wa:string,wb:string,wt:bigint>>"))))),
        1)).as("p"))
    pairs
      .groupBy(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .agg(sum(col("p.wt")).as("weight"))
      .filter(col("weight") >= coocMinWeight)
      .orderBy(col("weight").desc, col("wa").asc, col("wb").asc)
      .limit(coocTopK)
  }

  val cooccurrenceSql: String =
    s"""WITH w AS (
       |  SELECT string_split_regex(trim(text), '\\s+') AS ws FROM documents),
       |p AS (
       |  SELECT unnest(flatten(list_transform(range(len(ws)), i ->
       |    list_transform(range(1, least($coocWindow, len(ws) - 1 - i) + 1), d ->
       |      struct_pack(
       |        wa := least(ws[i+1], ws[i+d+1]),
       |        wb := greatest(ws[i+1], ws[i+d+1]),
       |        wt := ([12, 6, 4, 3])[d]))))) AS p
       |  FROM w)
       |SELECT p.wa AS wa, p.wb AS wb, CAST(sum(p.wt) AS BIGINT) AS weight
       |FROM p GROUP BY 1, 2
       |HAVING CAST(sum(p.wt) AS BIGINT) >= $coocMinWeight
       |ORDER BY weight DESC, wa ASC, wb ASC LIMIT $coocTopK""".stripMargin

  // -------------------------------------- bounded heavy hitters

  /** Summary capacity of the heavy-hitters sketch query. */
  val heavyHittersCapacity = 32

  /** Corpus heavy-hitter tokens through the bounded SpaceSaving
    * summary ([[HeavyHittersAgg]]) — the scale path for "top tokens"
    * when the key domain is too large for an exact groupBy (a
    * web-scale vocabulary): O(capacity) state per group, no
    * key-domain shuffle. The token string re-attaches by equi-join on
    * the hash afterward (only `capacity` rows join). Counts are
    * overestimates with a per-key error bound (spec-pinned); the
    * summary content is arrival-order dependent, so the driver row is
    * rows-only (row count = capacity, stable) and the guarantees are
    * what HeavyHittersSpec checks. */
  def heavyHitterTokens(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.Tables.spread(s, graft.Tables.documents(s, dir))
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(col("tok"), xxhash64(col("tok")).as("h"))
    val entries = toks
      .agg(GraftFunctions.heavyHitters(col("h"), heavyHittersCapacity).as("hh"))
      .select(posexplode(col("hh")).as(Seq("r0", "e")))
      .select((col("r0") + 1).cast("int").as("rank"),
        col("e.key").as("key"), col("e.count").as("est_count"),
        col("e.err").as("err"))
    // label recovery: broadcast-semi-filter the token stream down to
    // the `capacity` summary keys BEFORE the distinct — the distinct
    // never shuffles the full vocabulary, only the survivors' rows
    // (map-side partials collapse each hot key per task)
    val labels = toks.select(col("h").as("key"), col("tok"))
      .join(broadcast(entries.select("key")), Seq("key"), "left_semi")
      .distinct()
    entries.join(labels, Seq("key"), "left")
      .select("rank", "tok", "est_count", "err")
      .orderBy("rank")
  }

  // ------------------------------------------ source KL divergence

  /** Per-source distribution drift: KL(p_source ‖ p_corpus) over word
    * unigrams — the corpus-health diagnostic that tells which source's
    * token distribution diverges from the blend (a spam source, a
    * different register, a template farm). No smoothing needed: the
    * sum runs over the source's own words, where both p_s and p_c are
    * positive by construction.
    *
    * Deterministic like its siblings: counts are exact integers, the
    * per-source fold is sorted (SURVEY §6), the compared value rounds
    * to 6 dp. Scale shape: ONE explode feeds the (source, word) counts
    * and the corpus rollup (ReusedExchange); the word-keyed join is
    * planner-decided (vocabulary-sized); the final rollup is bounded
    * by |sources|; corpus totals ride a 1-row broadcast. */
  def sourceKl(s: SparkSession, dir: String): DataFrame = {
    // Native per-doc token counts feed the (source, word) aggregation
    // (guide §2.3 — the occurrence explode and its exchange are gone).
    // sw has three consumers (corpus rollup, totals, join probe) whose
    // join-pushed filters deny exchange reuse, so the tokenize pass is
    // planned once per consumer; each pass ends in a map-side partial
    // aggregation, so what it shuffles is |sources|·|vocab| rows, not
    // the corpus. That recomputation measured cheaper than an eager
    // per-call localCheckpoint of sw, which also left the table pinned
    // in block storage after every call.
    val sw = Tables.spread(s, Tables.documents(s, dir))
      .select(col("source"),
        explode(GraftFunctions.tokenCounts(col("text"))).as("tc"))
      .groupBy(col("source"), col("tc.w").as("word"))
      .agg(sum(col("tc.c")).as("cs"))
    val cw = sw.groupBy(col("word")).agg(sum(col("cs")).as("cc"))
    val nc = cw.agg(sum(col("cc")).as("n_corpus"))
    sw.join(cw, Seq("word"))
      .crossJoin(broadcast(nc))
      .groupBy(col("source"))
      .agg(sum(col("cs")).as("n_tokens"),
        aggregate(
          sort_array(collect_list(struct(col("cs"), col("cc"), col("n_corpus")))),
          lit(0.0),
          (acc, x) => acc + x.getField("cs") *
            (log(x.getField("cs")) - log(x.getField("cc")) + log(x.getField("n_corpus"))))
          .as("klTerms"))
      .select(col("source"), col("n_tokens"),
        round(col("klTerms") / col("n_tokens") - log(col("n_tokens")), 6)
          .as("kl_nats"))
      .orderBy("source")
  }

  /** The fold accumulates Σ c_s·(ln c_s − ln c_c + ln n_c); since
    * Σ c_s = n_s, dividing by n_s and subtracting ln n_s completes
    * KL = Σ (c_s/n_s)·ln((c_s/n_s)/(c_c/n_c)). */
  val sourceKlSql: String =
    """WITH w AS (
      |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS word
      |  FROM documents),
      |sw AS (SELECT source, word, count(*) AS cs FROM w GROUP BY 1, 2),
      |cwv AS (SELECT *, CAST(sum(cs) OVER (PARTITION BY word) AS BIGINT) AS cc
      |        FROM sw),
      |nc AS (SELECT CAST(sum(cs) AS BIGINT) AS n_corpus FROM sw),
      |per AS (
      |  SELECT source,
      |    CAST(sum(cs) AS BIGINT) AS n_tokens,
      |    list(struct_pack(cs := cs, cc := cc, nc := n_corpus)
      |      ORDER BY cs, cc, nc) AS terms
      |  FROM cwv CROSS JOIN nc GROUP BY 1)
      |SELECT source, n_tokens,
      |  round(list_reduce(list_prepend(0.0, list_transform(terms, t ->
      |    CAST(t.cs AS DOUBLE) * (ln(CAST(t.cs AS DOUBLE))
      |      - ln(CAST(t.cc AS DOUBLE)) + ln(CAST(t.nc AS DOUBLE))))),
      |    (acc, x) -> acc + x) / n_tokens
      |    - ln(CAST(n_tokens AS DOUBLE)), 6) AS kl_nats
      |FROM per ORDER BY source""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_source_kl"       -> (sourceKl _),
    "q_pmi_collocations" -> (pmiCollocations _),
    "q_cooccurrence"    -> (cooccurrence _),
    "q_heavy_hitters"   -> (heavyHitterTokens _),
    "q_top_ngrams"      -> (topNgrams _),
    "q_token_cms"       -> (tokenCms _),
    "q_gopher_filter"   -> (gopherFilter _),
    "q_token_rarity"    -> (tokenRarity _),
    "q_tfidf_top_terms" -> (tfidfTopTerms _),
    "q_pii_scrub"     -> (piiScrub _),
    "q_repetition"    -> (repetitionScore _),
    "q_token_count"   -> (tokenCount _),
    "q_quality_score" -> (qualityScore _),
    "q_lang_id"       -> (langId _),
    "q_fingerprint"   -> (fingerprint _))

  def oracles: Map[String, String] = Map(
    "q_source_kl"       -> sourceKlSql,
    "q_pmi_collocations" -> pmiCollocationsSql,
    "q_cooccurrence"    -> cooccurrenceSql,
    "q_top_ngrams"      -> topNgramsSql,
    "q_token_cms"       -> tokenCmsSql,
    "q_gopher_filter"   -> gopherFilterSql,
    "q_token_rarity"    -> tokenRaritySql,
    "q_tfidf_top_terms" -> tfidfTopTermsSql,
    "q_pii_scrub"     -> piiScrubSql,
    "q_repetition"    -> repetitionScoreSql,
    "q_token_count"   -> tokenCountSql,
    "q_quality_score" -> qualityScoreSql,
    "q_lang_id"       -> langIdSql,
    "q_fingerprint"   -> fingerprintSql)
}
