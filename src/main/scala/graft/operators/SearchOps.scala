package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import org.apache.spark.unsafe.types.UTF8String

import graft.Tables

/** Full-text relevance search + retrieval chunking over the document
  * corpus — the query-serving side of a data facility (the reference
  * feeds a search index: aws/submit.py hands datasets to a search
  * ingest, aws/utils.py:get_secret/search_entry serve lookups) and
  * the retrieval side of a RAG training pipeline.
  *
  * Scale shapes:
  *   - BM25 never scores the whole vocabulary: the trained index is
  *     |q| (term, df) pairs plus two corpus counts, collected once into
  *     a [[Bm25Model]] value, and scoring is one map-side projection
  *     with the terms as literals — no explode, no shuffle, no join.
  *     The top-k is a TakeOrderedAndProject (per-partition heap +
  *     driver merge of k rows), never a global sort.
  *   - Chunking is one map-side Generate — zero shuffles; the output
  *     order-by exists only for the deterministic driver compare.
  *
  * FP discipline (SURVEY §6): every constant in the BM25 formula is
  * interpolated from the SAME Scala double into both the Spark plan
  * and the DuckDB oracle, the per-document fold over query terms runs
  * in byte-sorted term order on both, and arithmetic is written with
  * identical association on both engines, so the unrounded doubles
  * agree to the last ulp modulo ln() (absorbed by round 6).
  */
object SearchOps {

  // Robertson/Sparck-Jones BM25 with the standard Lucene parameters.
  val bm25K1 = 1.2
  val bm25B = 0.75
  val bm25TopN = 20
  /** Deterministic benchmark query (terms of the synthetic vocab). */
  val queryTerms = Seq("vector", "hash", "join")

  /** Driver entry: ranks the corpus against the session's one trained
    * index ([[bm25ModelFor]]) through the one scorer ([[bm25ScoresOf]]),
    * so bench repetitions and the rank-fusion consumer never re-train. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25Ranked(bm25ScoresOf(Tables.spread(s, Tables.documents(s, dir)), "doc_id", "text",
      bm25ModelFor(s, dir)), bm25TopN)

  /** Generic API: BM25 top-`topN` documents for a bag of query terms
    * over any (id, text) corpus, the model ([[bm25ModelOf]]) trained
    * and collected inline. Output (rank, doc_id, score). */
  def bm25TopKOf(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], topN: Int): DataFrame = {
    val (dfT, stats) = bm25ModelOf(docs, idCol, textCol, terms)
    bm25Ranked(bm25ScoresOf(docs, idCol, textCol, Bm25Model.of(dfT, stats)), topN)
  }

  /** top-k as a TakeOrderedAndProject; the rank window sees k rows. */
  private def bm25Ranked(scores: DataFrame, topN: Int): DataFrame =
    scores.orderBy(col("score").desc, col("doc_id").asc).limit(topN)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("int"))
      .select(col("rank"), col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy("rank")

  /** A trained BM25 index as a value: the distinct query terms in
    * Spark's string order (UTF-8 bytes, the order the oracle folds in;
    * Scala's `sorted` compares UTF-16 units and differs past the BMP),
    * each with its document frequency (0.0 for a term the corpus
    * lacks), and the corpus stats. [[Bm25Model.of]] collects it from
    * [[bm25ModelOf]]'s |q|+1 rows, [[bm25ModelFor]] caches it per
    * (session, corpus) and [[bm25ScoresOf]] scores with it. */
  final case class Bm25Model(terms: Seq[(String, Double)], nDocs: Long, sumDl: Long)

  object Bm25Model {
    /** Collect [[bm25ModelOf]]'s (tok, df) frame and its 1-row
      * (n_docs, sum_dl) stats; a frame of another shape is rejected. */
    def of(dfT: DataFrame, stats: DataFrame): Bm25Model = {
      def requireCols(frame: DataFrame, want: Seq[String]): Unit = {
        val cols = frame.schema.map(f => s"${f.name} ${f.dataType.simpleString}")
        require(want.forall(cols.contains), s"a BM25 model frame has ${want.mkString(
          "(", ", ", ")")}, got ${cols.mkString("(", ", ", ")")}")
      }
      requireCols(dfT, Seq("tok string", "df double"))
      requireCols(stats, Seq("n_docs bigint", "sum_dl bigint"))
      val st = stats.select("n_docs", "sum_dl").collect()
      require(st.length == 1, s"BM25 stats have one row, got ${st.length}")
      val terms = dfT.select("tok", "df").collect()
        .map(r => (r.getString(0), r.getDouble(1))).sortBy(t => UTF8String.fromString(t._1))
      // an empty corpus sums no length: null
      Bm25Model(terms.toSeq, st(0).getLong(0), if (st(0).isNullAt(1)) 0L else st(0).getLong(1))
    }
  }

  /** The one BM25 scorer, batch or stream: unrounded (doc_id, dl, score)
    * for every document holding a query term (score > 0 under any model
    * [[bm25ModelOf]] trains); null text emits no row. ONE stateless
    * projection: the `\s+` split projected once, each term a literal
    * with a native `array_remove` tf, the weights folded in the model's
    * term order (the oracle's, so the doubles agree to the last ulp
    * modulo ln()). A term the training corpus lacked scores with df = 0.
    * The row filter is a native `arrays_overlap`, not `score > 0`: Spark
    * pushes a filter below the projections, expressions inlined, so a
    * score filter would compute every score twice. The top-k ranks on
    * it, a standing-query stream rounds it. */
  def bm25ScoresOf(docs: DataFrame, idCol: String, textCol: String,
      model: Bm25Model): DataFrame = {
    val ws = col("ws")
    val dl = size(ws).cast("double")
    val avgdl = lit(model.sumDl).cast("double") / lit(model.nDocs)
    // a model of no document scores nothing (its avgdl divides by 0)
    val terms = if (model.nDocs == 0) Nil else model.terms
    val score = terms.foldLeft(lit(0.0)) { case (acc, (t, df)) =>
      val tf = (size(ws) - size(array_remove(ws, t))).cast("double")
      val idf = log(lit(1.0) + (lit(model.nDocs) - lit(df) + lit(0.5)) / (lit(df) + lit(0.5)))
      acc + when(tf > 0, idf * tf * lit(bm25K1 + 1.0) /
        (tf + lit(bm25K1) * (lit(1.0 - bm25B) + lit(bm25B) * dl / avgdl))).otherwise(lit(0.0))
    }
    docs.select(col(idCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("ws"))
      .filter(arrays_overlap(ws, typedLit(terms.map(_._1))))
      .select(col("doc_id"), size(ws).cast("long").as("dl"), score.as("score"))
  }

  private val modelCache = new graft.SessionCache[Bm25Model]()

  /** The [[Bm25Model]] of the benchmark query terms over one corpus,
    * trained once per (session, corpus): q_bm25_topk, q_rank_fusion and
    * StreamBench's standing query all read this one copy. */
  def bm25ModelFor(s: SparkSession, dir: String): Bm25Model =
    modelCache.getOrCompute(s, dir) {
      val (dfT, stats) = bm25ModelOf(
        Tables.spread(s, Tables.documents(s, dir)), "doc_id", "text", queryTerms)
      Bm25Model.of(dfT, stats)
    }

  /** Oracle: identical formula, constants interpolated from the same
    * Scala doubles, fold ordered by term. */
  lazy val bm25TopKSql: String = {
    val termList = queryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents
       |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 1),
       |stats AS (
       |  SELECT count(*) AS n_docs, sum(len(ws)) AS sum_dl FROM base),
       |tf AS (
       |  SELECT doc_id, dl, tok, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
       |          unnest(ws) AS tok FROM base)
       |  WHERE tok IN ($termList) GROUP BY 1, 2, 3),
       |df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |sc AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(0.0, list(
       |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * ${bm25K1 + 1.0} /
       |        (tf + $bm25K1 * (${1.0 - bm25B} + $bm25B * dl /
       |          (CAST(sum_dl AS DOUBLE) / n_docs)))
       |      ORDER BY tok)), (a, b) -> a + b) AS score
       |  FROM tf JOIN df USING (tok) CROSS JOIN stats GROUP BY doc_id)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER)
       |    AS rank,
       |  doc_id, round(score, 6) AS score
       |FROM sc ORDER BY score DESC, doc_id ASC LIMIT $bm25TopN""".stripMargin
  }

  // --------------------------------------------- reciprocal-rank fusion

  /** RRF constant (the standard k = 60 of Cormack et al. 2009, the
    * default in Elasticsearch/OpenSearch hybrid search). */
  val rrfK = 60

  /** Hybrid retrieval via reciprocal-rank fusion: fuse the BM25 top-k
    * shortlist with a length-prior shortlist (longest documents — the
    * stand-in for any second ranker: vector similarity, freshness, a
    * quality model). RRF(d) = Σ_lists 1/(k + rank_d); a doc missing
    * from a list contributes nothing for it. Fusion happens over the
    * SHORTLISTS — two k-row frames, joined full-outer on doc_id — so
    * the fusion stage is constant-size no matter the corpus; each
    * input ranking is itself a TakeOrderedAndProject. This is how
    * production engines fuse (top-N lists, never global ranks). */
  def rankFusion(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, dir))
    val byLen = docs
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .orderBy(col("len").desc, col("doc_id").asc).limit(bm25TopN)
      .withColumn("rank_len", row_number()
        .over(Window.orderBy(col("len").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("rank_len"))
    val byBm25 = bm25TopK(s, dir).select(col("doc_id"), col("rank").as("rank_bm25"))
    byBm25.join(byLen, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_bm25"), col("rank_len"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("rank_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_len")), lit(0.0))).as("rrf0"))
      .orderBy(col("rrf0").desc, col("doc_id").asc).limit(bm25TopN)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("rrf0").desc, col("doc_id").asc)).cast("int"))
      .select(col("rank"), col("doc_id"), round(col("rrf0"), 6).as("rrf_score"),
        col("rank_bm25"), col("rank_len"))
      .orderBy("rank")
  }

  /** Oracle: the same two shortlists + full-outer fusion; the BM25
    * list reuses [[bm25TopKSql]] as a CTE. */
  lazy val rankFusionSql: String =
    s"""WITH bm AS (${bm25TopKSql.replace("\n", "\n  ")}),
       |bylen AS (
       |  SELECT doc_id, CAST(row_number() OVER
       |      (ORDER BY length(text) DESC, doc_id ASC) AS INTEGER) AS rank_len
       |  FROM documents ORDER BY length(text) DESC, doc_id ASC LIMIT $bm25TopN),
       |fused AS (
       |  SELECT COALESCE(bm.doc_id, bylen.doc_id) AS doc_id,
       |    bm.rank AS rank_bm25, bylen.rank_len,
       |    COALESCE(CAST(1.0 AS DOUBLE) / ($rrfK + bm.rank), CAST(0.0 AS DOUBLE)) +
       |      COALESCE(CAST(1.0 AS DOUBLE) / ($rrfK + bylen.rank_len),
       |        CAST(0.0 AS DOUBLE)) AS rrf0
       |  FROM bm FULL OUTER JOIN bylen ON bm.doc_id = bylen.doc_id)
       |SELECT CAST(row_number() OVER (ORDER BY rrf0 DESC, doc_id ASC) AS INTEGER)
       |    AS rank,
       |  doc_id, round(rrf0, 6) AS rrf_score, rank_bm25, rank_len
       |FROM fused ORDER BY rrf0 DESC, doc_id ASC LIMIT $bm25TopN""".stripMargin

  // --------------------------------------------- RAG chunking

  /** Chunk width / overlap in words — the fixed-size sliding chunker
    * every RAG ingestion pipeline starts from. Stride = width −
    * overlap; chunk i covers tokens [i·stride, i·stride + width). */
  val chunkWidth = 40
  val chunkOverlap = 10

  def ragChunks(s: SparkSession, dir: String): DataFrame =
    ragChunksOf(Tables.spread(s, Tables.documents(s, dir)),
      "doc_id", "text", chunkWidth, chunkOverlap)

  /** Generic API: overlapping fixed-width chunks over any (id, text)
    * corpus. One Generate, no shuffle — chunking is embarrassingly
    * parallel; a start is emitted for every stride multiple below the
    * document length, so the final chunk may be shorter than `width`
    * (and is never empty). Output (doc_id, chunk_id, n_tokens,
    * chunk_text). */
  def ragChunksOf(docs: DataFrame, idCol: String, textCol: String,
      width: Int, overlap: Int): DataFrame = {
    require(overlap < width, "chunk overlap must be smaller than the width")
    val stride = width - overlap
    val ws = split(trim(col(textCol)), "\\s+")
    docs.filter(size(ws) >= 1)
      .select(col(idCol).as("doc_id"), ws.as("ws"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("ws")) - lit(1)) / lit(stride)).cast("int")),
          i => slice(col("ws"), i * stride + 1, lit(width)))).as(Seq("chunk_id", "toks")))
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        array_join(col("toks"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  lazy val ragChunksSql: String = {
    val stride = chunkWidth - chunkOverlap
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents
       |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 1),
       |st AS (
       |  SELECT doc_id, ws,
       |    unnest(range(CAST(floor((len(ws) - 1) / $stride.0) AS BIGINT) + 1)) AS i
       |  FROM w)
       |SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
       |  CAST(len(ws[CAST(i*$stride+1 AS BIGINT):CAST(i*$stride+$chunkWidth AS BIGINT)])
       |    AS BIGINT) AS n_tokens,
       |  array_to_string(
       |    ws[CAST(i*$stride+1 AS BIGINT):CAST(i*$stride+$chunkWidth AS BIGINT)], ' ')
       |    AS chunk_text
       |FROM st ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** The BM25 training pass and persisted form for a term set: one
    * (tok, df) row per distinct query term (df = the number of
    * documents holding it, 0.0 when none does) and the 1-row corpus
    * stats (n_docs, sum_dl), all from one aggregate over the `\s+`
    * tokens of every document with text; avgdl is derived at score time
    * (sum/count, both exact integers) so the division happens identically
    * on both engines. [[Bm25Model.of]] collects the |q|+1 rows. */
  def bm25ModelOf(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): (DataFrame, DataFrame) = {
    require(terms.nonEmpty, "a BM25 query has at least one term")
    val ws = col("ws")
    val m = docs.select(split(trim(col(textCol)), "\\s+").as("ws"))
      .filter(size(ws) >= 1)
      .agg(count(lit(1)).as("n_docs"), sum(size(ws).cast("long")).as("sum_dl"),
        array(terms.distinct.map(t => struct(lit(t).as("tok"),
          count_if(array_contains(ws, t)).cast("double").as("df"))): _*).as("dfs"))
    (m.select(inline(col("dfs"))), m.select(col("n_docs"), col("sum_dl")))
  }

  // --------------------------------------------- exact phrase search

  /** Deterministic benchmark phrase (present in the synthetic corpus). */
  val queryPhrase = "hash join"

  def phraseSearch(s: SparkSession, dir: String): DataFrame =
    phraseSearchOf(Tables.spread(s, Tables.documents(s, dir)),
      "doc_id", "text", queryPhrase)

  /** Generic API: exact token-sequence (phrase) match over any (id,
    * text) corpus — the other half of a search surface next to BM25's
    * bag-of-words ranking. Entirely map-side: every candidate start
    * position is tested with one slice-and-join per position (O(len·w)
    * per document, no index, no shuffle); emits only matching docs
    * (doc_id, n_hits, first_pos). At 100 TB the same predicate runs as
    * the verify stage behind a window-hash index probe
    * ([[graft.operators.DedupOps.windowFreqOf]] is that index). */
  def phraseSearchOf(docs: DataFrame, idCol: String, textCol: String,
      phrase: String): DataFrame = {
    val terms = phrase.trim.split("\\s+")
    val w = terms.length
    val ws = split(trim(col(textCol)), "\\s+")
    // let-bind the token array as a lambda variable: a raw `ws` inside
    // the position lambda would re-tokenize the WHOLE document once per
    // candidate position (O(len²) — the HOF pitfall documented at
    // AnnOps.quantizeEmbeddings); bound once, the scan is O(len·w)
    val pos = element_at(transform(array(ws), wsv =>
      filter(sequence(lit(0), size(wsv) - lit(w)),
        i => array_join(slice(wsv, i + 1, lit(w)), " ") === lit(phrase))), 1)
    docs.filter(size(ws) >= w)
      .select(col(idCol).as("doc_id"), pos.as("pos"))
      .filter(size(col("pos")) >= 1)
      .select(col("doc_id"), size(col("pos")).cast("long").as("n_hits"),
        element_at(col("pos"), 1).as("first_pos"))
      .orderBy("doc_id")
  }

  lazy val phraseSearchSql: String = {
    val w = queryPhrase.trim.split("\\s+").length
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents
       |  WHERE len(string_split_regex(trim(text), '\\s+')) >= $w),
       |h AS (
       |  SELECT doc_id, list_filter(range(len(ws) - $w + 1),
       |    i -> array_to_string(ws[CAST(i+1 AS BIGINT):CAST(i+$w AS BIGINT)], ' ')
       |      = '$queryPhrase') AS pos
       |  FROM w)
       |SELECT doc_id, CAST(len(pos) AS BIGINT) AS n_hits,
       |  CAST(pos[1] AS INTEGER) AS first_pos
       |FROM h WHERE len(pos) >= 1 ORDER BY doc_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bm25_topk"     -> (bm25TopK _),
    "q_rag_chunks"    -> (ragChunks _),
    "q_phrase_search" -> (phraseSearch _),
    "q_rank_fusion"   -> (rankFusion _))

  def oracles: Map[String, String] = Map(
    "q_bm25_topk"     -> bm25TopKSql,
    "q_rag_chunks"    -> ragChunksSql,
    "q_phrase_search" -> phraseSearchSql,
    "q_rank_fusion"   -> rankFusionSql)
}
