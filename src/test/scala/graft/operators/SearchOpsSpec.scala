package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SearchOpsSpec extends SparkSpec {

  test("BM25 scores match a local reference computation") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
      .filter(_._2.nonEmpty)
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length).sum.toDouble / n
    val terms = SearchOps.queryTerms
    val dfm = terms.map(t => t -> docs.count(_._2.contains(t)).toDouble).toMap
    val k1 = SearchOps.bm25K1; val b = SearchOps.bm25B
    def score(ws: Seq[String]): Double = terms.sorted.map { t =>
      val tf = ws.count(_ == t).toDouble
      if (tf == 0) 0.0
      else math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5)) * tf * (k1 + 1.0) /
        (tf + k1 * ((1.0 - b) + b * ws.length / avgdl))
    }.sum
    val expect = docs.map { case (id, ws) => (id, score(ws)) }
      .filter(_._2 > 0)
      .sortBy { case (id, s) => (-s, id) }
      .take(SearchOps.bm25TopN)
    val got = SearchOps.bm25TopK(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == expect.length)
    got.zip(expect).zipWithIndex.foreach { case (((rank, id, s), (eid, es)), i) =>
      assert(rank == i + 1)
      assert(id == eid, s"rank ${i + 1}: got doc $id, expected $eid")
      assert(math.abs(s - es) <= 1e-6)
    }
  }

  test("BM25 only scores documents containing at least one query term") {
    val ids = SearchOps.bm25TopK(spark, sfDir).collect().map(_.getLong(1)).toSet
    val texts = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select("text").collect().map(_.getString(0))
    assert(texts.forall(t =>
      SearchOps.queryTerms.exists(t.split("\\s+").contains)))
  }

  test("bm25TopKOf over the corpus returns q_bm25_topk's rows") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), col("text").as("body"))
    val got = SearchOps.bm25TopKOf(docs, "id", "body", SearchOps.queryTerms,
      SearchOps.bm25TopN).collect().toSeq
    val want = SearchOps.bm25TopK(spark, sfDir).collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("bm25TopKOf ignores a duplicated term and a term the corpus lacks") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), col("text").as("body"))
    val terms = SearchOps.queryTerms
    val got = SearchOps.bm25TopKOf(docs, "id", "body",
      terms ++ Seq(terms.head, "no-such-term"), SearchOps.bm25TopN).collect().toSeq
    val want = SearchOps.bm25TopKOf(docs, "id", "body", terms,
      SearchOps.bm25TopN).collect().toSeq
    assert(got.nonEmpty && got == want)
    val (dfT, stats) = SearchOps.bm25ModelOf(docs, "id", "body", Seq("join", "no-such-term"))
    assert(SearchOps.Bm25Model.of(dfT, stats).terms.toMap.get("no-such-term").contains(0.0))
    // an empty corpus trains a model of no document, which scores nothing
    assert(SearchOps.bm25TopKOf(docs.limit(0), "id", "body", terms, 5).isEmpty)
  }

  test("Bm25Model.of orders terms by UTF-8 bytes and rejects a frame of the wrong shape") {
    import spark.implicits._
    val stats = Seq((2L, 10L)).toDF("n_docs", "sum_dl")
    // U+1F600 sorts before U+FF5E in UTF-16 units, after it in UTF-8 bytes
    val dfT = Seq(("\uD83D\uDE00", 1.0), ("\uFF5E", 2.0)).toDF("tok", "df")
    assert(SearchOps.Bm25Model.of(dfT, stats).terms.map(_._1) ==
      Seq("\uFF5E", "\uD83D\uDE00"))
    val wrongDf = Seq(("join", 1L)).toDF("tok", "df")
    val e = intercept[IllegalArgumentException](SearchOps.Bm25Model.of(wrongDf, stats))
    assert(e.getMessage.contains("df double"), e.getMessage)
    intercept[IllegalArgumentException](SearchOps.Bm25Model.of(dfT, dfT))
    intercept[IllegalArgumentException](
      SearchOps.Bm25Model.of(dfT, Seq((2L, 10L), (3L, 4L)).toDF("n_docs", "sum_dl")))
  }

  test("phrase search finds exactly the brute-force occurrences") {
    val phrase = SearchOps.queryPhrase.split("\\s+").toSeq
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    val expect = docs.flatMap { case (id, ws) =>
      val hits = ws.indices.filter(i => ws.slice(i, i + phrase.length) == phrase)
      if (hits.nonEmpty) Some((id, hits.length.toLong, hits.head)) else None
    }.sortBy(_._1).toSeq
    val got = SearchOps.phraseSearch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expect && got.nonEmpty)
  }

  test("rank fusion is the RRF of the two shortlists") {
    val k = SearchOps.rrfK
    val bm = SearchOps.bm25TopK(spark, sfDir).collect()
      .map(r => r.getLong(1) -> r.getInt(0)).toMap
    val byLen = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, l) => (-l, id) }.take(SearchOps.bm25TopN)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val expect = (bm.keySet ++ byLen.keySet).toSeq
      .map { id =>
        val s = bm.get(id).map(r => 1.0 / (k + r)).getOrElse(0.0) +
          byLen.get(id).map(r => 1.0 / (k + r)).getOrElse(0.0)
        (id, s)
      }
      .sortBy { case (id, s) => (-s, id) }.take(SearchOps.bm25TopN)
    val got = SearchOps.rankFusion(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == expect.length)
    got.zip(expect).zipWithIndex.foreach { case (((rank, id, s), (eid, es)), i) =>
      assert(rank == i + 1 && id == eid)
      assert(math.abs(s - es) <= 1e-6)
    }
    // a doc on BOTH shortlists outranks the same positions on one list
    val both = got.filter { case (_, id, _) => bm.contains(id) && byLen.contains(id) }
    both.foreach { case (_, _, s) => assert(s > 1.0 / (k + SearchOps.bm25TopN)) }
  }

  test("chunks reconstruct the document: stride-aligned starts, full coverage, exact overlap") {
    val w = SearchOps.chunkWidth; val o = SearchOps.chunkOverlap
    val stride = w - o
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
      .filter(_._2.nonEmpty).toMap
    val chunks = SearchOps.ragChunks(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    assert(chunks.keySet == docs.keySet)
    chunks.foreach { case (id, cs) =>
      val ws = docs(id)
      val sorted = cs.sortBy(_._2)
      // dense chunk ids, expected count
      assert(sorted.map(_._2).toSeq == (0 until ((ws.length - 1) / stride + 1)))
      sorted.foreach { case (_, cid, nTok, text) =>
        val expect = ws.slice(cid * stride, cid * stride + w)
        assert(nTok == expect.length && text == expect.mkString(" "))
      }
      // consecutive chunks share exactly the overlap (when both full-width)
      sorted.sliding(2).foreach {
        case Array((_, _, n1, t1), (_, _, _, t2)) if n1 == w =>
          assert(t1.split(" ").takeRight(o).sameElements(t2.split(" ").take(o)))
        case _ => ()
      }
      // every token covered: union of chunk spans is [0, len)
      val covered = sorted.flatMap { case (_, cid, nTok, _) =>
        (cid * stride) until (cid * stride + nTok.toInt) }.toSet
      assert(covered == ws.indices.toSet)
    }
  }
}
