package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Value-identity pins for the round-10 native text expressions
  * ([[ShingleStrings]], [[SimHash64]]) against the interpreted chains
  * they replace. */
class NativeTextExprSpec extends SparkSpec {

  import spark.implicits._

  private val edgeCases = Seq(
    1L -> "alpha beta gamma delta epsilon",
    2L -> "dup dup dup dup", // duplicate shingles collapse
    3L -> "a b c",
    4L -> "two words",
    5L -> "one",
    6L -> "",
    7L -> "double  space empty token run",
    8L -> "trailing space ",
    9L -> " leading space",
    10L -> "unicode héllo wörld ≠ ascii ünit")

  // ---------------------------------------------- ShingleStrings

  /** The interpreted twin ([[ShinglesTwin.shinglesOf]]) as a column. */
  private def declShingles(text: Column, n: Int): Column = {
    val ws = split(text, " ")
    val mk = (v: Column) =>
      array_distinct(transform(sequence(lit(0), size(v) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(v, i + k + 1)): _*)))
    when(size(ws) >= n, element_at(transform(array(ws), mk), 1))
      .otherwise(array().cast("array<string>"))
  }

  test("shingle strings match the interpreted chain on the corpus (as sets)") {
    val n = 3
    val mism = graft.Tables.documents(spark, sfDir)
      .select(array_sort(GraftFunctions.shingleStrings(col("text"), n)).as("nat"),
        array_sort(declShingles(col("text"), n)).as("dec"))
      .filter(col("nat") =!= col("dec"))
      .count()
    assert(mism == 0L)
  }

  test("shingle strings match on whitespace/unicode edge cases") {
    val n = 2
    val out = edgeCases.toDF("doc_id", "text")
      .select(col("text"),
        array_sort(GraftFunctions.shingleStrings(col("text"), n)).as("nat"),
        array_sort(declShingles(col("text"), n)).as("dec"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"mismatch on '${r.getString(0)}'")
    }
  }

  test("q_top_ngrams over the native pass equals the interpreted-chain query") {
    val docs = graft.Tables.documents(spark, sfDir)
    val nat = graft.functions.TextFunctions.topNgrams(spark, sfDir)
    val dec = ShinglesTwin.shinglesOf(docs, "doc_id", "text", 3)
      .select(explode(col("sh")).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("ngram").asc)
      .limit(graft.functions.TextFunctions.topNgramsK)
    assert(nat.collect().toSeq == dec.collect().toSeq)
  }

  // ---------------------------------------------- SignBitsWide

  /** The interpreted chain the native wide sketch replaces. */
  private def declSignBitsWide(v: Column): Column = {
    val bitWeights = array((0 until 64).map(i => lit(1L << i)): _*)
    when(size(v) === 0, array().cast("array<bigint>")).otherwise(
      transform(sequence(lit(0), floor((size(v) - 1) / 64).cast("int")),
        w => aggregate(
          zip_with(slice(v, w * 64 + 1, lit(64)), bitWeights,
            (x, wt) => when(x >= 0.0d, wt).otherwise(lit(0L))),
          lit(0L), (acc, b) => acc.bitwiseOR(b))))
  }

  test("native wide sign sketch matches the interpreted chain on the corpus") {
    val mism = graft.Tables.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>").as("v"))
      .select(GraftFunctions.signBitsWide(col("v")).as("nat"),
        declSignBitsWide(col("v")).as("dec"))
      .filter(col("nat") =!= col("dec"))
      .count()
    assert(mism == 0L)
  }

  test("native wide sign sketch matches on NaN/-0.0/null/empty/odd-width corners") {
    val rows: Seq[Seq[java.lang.Double]] = Seq(
      Seq(1.0, -1.0, 0.0, -0.0),
      Seq(Double.NaN, -Double.NaN, -1.0),
      Seq[java.lang.Double](null, 1.0, null, -2.0),
      Seq.empty[java.lang.Double],
      Seq.fill(64)(java.lang.Double.valueOf(-1.0)) :+ java.lang.Double.valueOf(3.0),
      Seq.tabulate(130)(i => java.lang.Double.valueOf(if (i % 3 == 0) -1.0 else 1.0)))
    val df = rows.toDF("v").select(col("v").cast("array<double>").as("v"))
    val out = df.select(GraftFunctions.signBitsWide(col("v")).as("nat"),
      declSignBitsWide(col("v")).as("dec")).collect()
    out.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"mismatch: $r")
    }
  }

  // ---------------------------------------------- ChunkStrings

  /** The interpreted chunker from the pre-optimization chunkDedupOf. */
  private def declChunks(text: Column, n: Int): Column = {
    val ws = split(trim(text), "\\s+")
    element_at(transform(array(ws), wsv =>
      transform(sequence(lit(0), ceil(size(wsv).cast("double") / n).cast("int") - 1),
        i => array_join(slice(wsv, i * n + 1, lit(n)), " "))), 1)
  }

  test("chunk strings match the interpreted chunker on the corpus") {
    val n = 3
    val mism = graft.Tables.documents(spark, sfDir)
      .select(GraftFunctions.chunkStrings(col("text"), n).as("nat"),
        declChunks(col("text"), n).as("dec"))
      .filter(col("nat") =!= col("dec"))
      .count()
    assert(mism == 0L)
  }

  test("chunk strings match the interpreted chunker on edge cases, in order") {
    val n = 3
    val out = edgeCases.toDF("doc_id", "text")
      .select(col("text"),
        GraftFunctions.chunkStrings(col("text"), n).as("nat"),
        declChunks(col("text"), n).as("dec"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"mismatch on '${r.getString(0)}'")
    }
  }

  // ---------------------------------------------- PostingPairs

  test("posting pairs match the interpreted array_sort + transform chain") {
    val lists = Seq(
      Seq((5L, 3), (1L, 7), (9L, 2)),
      Seq((2L, 4), (8L, 1)),
      Seq((3L, 3)),
      Seq.empty[(Long, Int)],
      Seq((10L, 1), (7L, 2), (4L, 9), (12L, 5), (6L, 6)))
      .toDF("raw")
      .select(transform(col("raw"), r =>
        struct(r.getField("_1").as("doc_id"), r.getField("_2").as("sh_size"))).as("ds"))
    val decl = lists
      .withColumn("s", array_sort(col("ds")))
      .select(flatten(transform(col("s"), (a, i) =>
        transform(slice(col("s"), i + 2, size(col("s"))),
          b => struct(a.getField("doc_id").as("doc_a"), b.getField("doc_id").as("doc_b"),
            a.getField("sh_size").as("size_a"), b.getField("sh_size").as("size_b")))))
        .as("pairs"))
    val nat = lists.select(GraftFunctions.postingPairs(col("ds")).as("pairs"))
    assert(nat.collect().map(_.getSeq[org.apache.spark.sql.Row](0)).toSeq ==
      decl.collect().map(_.getSeq[org.apache.spark.sql.Row](0)).toSeq)
  }

  test("posting pairs length filter == filtering the unfiltered pairs by min/max >= t") {
    val t = 0.5
    val lists = Seq(
      Seq((5L, 3), (1L, 7), (9L, 2)),
      Seq((2L, 4), (8L, 1)),
      Seq((3L, 3), (4L, 3)), // equal sizes: min/max = 1.0 always kept
      Seq((1L, 1), (2L, 2)), // exactly at the boundary min/max = 0.5
      Seq((1L, 1), (2L, 3)), // just below: 1/3 < 0.5 dropped
      Seq((10L, 1), (7L, 2), (4L, 9), (12L, 5), (6L, 6)))
      .toDF("raw")
      .select(transform(col("raw"), r =>
        struct(r.getField("_1").as("doc_id"), r.getField("_2").as("sh_size"))).as("ds"))
    val expected = lists
      .select(explode(GraftFunctions.postingPairs(col("ds"))).as("p"))
      .filter(least(col("p.size_a"), col("p.size_b")).cast("double") /
        greatest(col("p.size_a"), col("p.size_b")).cast("double") >= t)
      .collect().map(_.toString).toSeq
    val actual = lists
      .select(explode(GraftFunctions.postingPairs(col("ds"), t)).as("p"))
      .collect().map(_.toString).toSeq
    assert(actual == expected)
    // and the whole-query identity: the filtered generator cannot
    // change the mined pairs at any threshold (the dropped pairs are
    // exactly those the downstream jaccard filter would drop)
  }

  // ---------------------------------------------- SimHash64

  /** The aggregate chain SimHash64 replaces. */
  private def aggSimhash(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", xxhash64(col("word")))
      .groupBy(col("doc_id"))
      .agg(GraftFunctions.simhash(col("h"), col("cnt")).as("simhash"))

  test("native simhash matches the SimHashAgg chain on the corpus") {
    val docs = graft.Tables.documents(spark, sfDir)
    val nat = docs.select(col("doc_id"),
      GraftFunctions.simhash64(col("text")).as("simhash"))
    val agg = aggSimhash(docs)
    assert(nat.exceptAll(agg).count() == 0L)
    assert(agg.exceptAll(nat).count() == 0L)
  }

  test("native simhash matches the chain on edge cases (incl. empty and repeated words)") {
    val docs = edgeCases.toDF("doc_id", "text")
    val nat = docs.select(col("doc_id"),
      GraftFunctions.simhash64(col("text")).as("simhash"))
    val agg = aggSimhash(docs)
    assert(nat.exceptAll(agg).count() == 0L)
    assert(agg.exceptAll(nat).count() == 0L)
  }
}
