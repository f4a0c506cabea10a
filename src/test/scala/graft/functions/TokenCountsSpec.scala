package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Value-identity pins for the round-11 native per-document count
  * passes ([[TokenCounts]], [[CmsBucketCounts]]) against the
  * interpreted chains they replace, plus whole-query identity for the
  * rewired consumers. */
class TokenCountsSpec extends SparkSpec {

  import spark.implicits._

  private val edgeCases = Seq(
    100001L -> "alpha beta gamma beta alpha alpha",
    100002L -> "dup dup dup dup",
    100003L -> "a b c",
    100004L -> "one",
    100005L -> "", // split(trim("")) = [""] — one empty token
    100006L -> "double  space empty token run",
    100007L -> "trailing space ",
    100008L -> " leading space",
    100009L -> "tab\tseparated and\nnewline",
    100010L -> "unicode héllo wörld héllo ≠ ascii ünit")

  private def docs = graft.Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))
    .unionByName(edgeCases.toDF("doc_id", "text"))

  // ---------------------------------------------- TokenCounts

  test("token counts match explode(split(trim)) + per-doc groupBy count") {
    val interp = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val native = docs
      .select(col("doc_id"), explode(GraftFunctions.tokenCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.w"), col("tc.c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(native == interp)
  }

  test("token counts output order is first occurrence") {
    val rows = Seq("b a b c a").toDF("text")
      .select(GraftFunctions.tokenCounts(col("text")).as("tc"))
      .collect()
    val tc = rows.head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(tc == Seq(("b", 2L), ("a", 2L), ("c", 1L)))
  }

  // ---------------------------------------------- CmsBucketCounts

  test("cms bucket counts match the interpreted md5 bucket chain") {
    val depth = TextFunctions.cmsDepth
    val interp = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(col("tok"), explode(array((0 until depth).map(lit(_)): _*)).as("row"))
      .select(col("row"),
        substring(md5(concat_ws("#", col("row"), col("tok"))), 1, 2).as("bucket"))
      .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val native = docs
      .select(explode(GraftFunctions.cmsBucketCounts(col("text"), depth)).as("rc"))
      .groupBy(col("rc.row").as("row"), col("rc.bucket").as("b"))
      .agg(sum(col("rc.m")).as("c"))
      .select(col("row"), format_string("%02x", col("b")).as("bucket"), col("c"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(native == interp)
  }

  // ------------------------------------------ malformed UTF-8

  /** "ab<FF> cd ab<FE>": two different invalid bytes, one word each. */
  private val malformed: Array[Byte] =
    Array('a', 'b', 0xff, ' ', 'c', 'd', ' ', 'a', 'b', 0xfe).map(_.toByte)
  // the same text decoded: each invalid byte becomes one U+FFFD
  private val replaced = "ab\uFFFD cd ab\uFFFD"

  private def malformedDoc = Seq(malformed).toDF("b").select(col("b").cast("string").as("text"))

  test("malformed UTF-8: token counts see the text decoded with U+FFFD replacement") {
    // both invalid bytes decode to U+FFFD, so the two raw-distinct
    // words are one word counted twice — as the interpreted split does
    val tc = TokenCounts.compute(UTF8String.fromBytes(malformed))
    val got = (0 until tc.numElements()).map { i =>
      val r = tc.getStruct(i, 2)
      (r.getUTF8String(0).toString, r.getLong(1))
    }
    assert(got == Seq(("ab\uFFFD", 2L), ("cd", 1L)))
    val interp = malformedDoc
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got.toSet == interp)
  }

  test("malformed UTF-8: cms buckets hash the U+FFFD-replaced token bytes") {
    val depth = TextFunctions.cmsDepth
    def cells(a: org.apache.spark.sql.catalyst.util.ArrayData) =
      (0 until a.numElements()).map { i =>
        val r = a.getStruct(i, 3)
        (r.getInt(0), r.getInt(1), r.getLong(2))
      }
    val got = cells(CmsBucketCounts.compute(UTF8String.fromBytes(malformed), depth))
    assert(got == cells(CmsBucketCounts.compute(UTF8String.fromString(replaced), depth)))
    // and so agree with the interpreted md5 chain, whose split decodes too
    val interp = malformedDoc
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(col("tok"), explode(array((0 until depth).map(lit(_)): _*)).as("row"))
      .select(col("row"), conv(substring(md5(concat_ws("#", col("row"), col("tok"))), 1, 2),
        16, 10).cast("int").as("bucket"))
      .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(got.toSet == interp)
  }

  // ------------------------------------- whole-query identities

  test("q_tfidf_top_terms equals the pre-native explode/groupBy formulation") {
    import org.apache.spark.sql.expressions.Window
    val d = graft.Tables.documents(spark, sfDir)
    val nDocs = d.agg(count(lit(1)).cast("double").as("n_docs"))
    val wd = d.select(col("source"), col("doc_id"),
      explode(split(trim(col("text")), "\\s+")).as("word"))
      .groupBy(col("word"), col("doc_id"), col("source"))
      .agg(count(lit(1)).as("c"))
    val df = wd.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val tf = wd.groupBy(col("source"), col("word")).agg(sum(col("c")).as("tf"))
      .join(df, Seq("word"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("word").asc)
    val old = tf.crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("source", "rank", "word", "tf", "df")
      .orderBy("source", "rank")
      .collect().map(_.toString).toSeq
    val now = TextFunctions.tfidfTopTerms(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(now == old)
  }

  test("q_nb_classify equals the pre-native explode/groupBy formulation") {
    val d = graft.Tables.documents(spark, sfDir)
      .withColumn("is_train",
        substring(graft.operators.PipelineOps.sampleKeyOf(
          col("source"), col("doc_id")), 1, 1) <= "b")
    val train = d.filter(col("is_train"))
    val dwOld = train
      .select(col("doc_id"), col("lang"),
        explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy(col("doc_id"), col("lang"), col("w"))
      .agg(count(lit(1)).as("m"))
    val modelOld = dwOld.groupBy(col("lang").as("l"), col("w")).agg(sum(col("m")).as("c"))
    val priorsOld = train.groupBy(col("lang").as("l")).agg(count(lit(1)).as("d_l"))
    val old = graft.operators.ClassifierOps
      .nbClassifyOf(d.filter(!col("is_train")), modelOld, priorsOld)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val now = graft.operators.ClassifierOps.nbClassify(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(now == old)
  }
}
