package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

class Md5BucketCountsSpec extends SparkSpec {

  import spark.implicits._

  /** The interpreted twin the native expression must match: per-doc
    * (bucket, m) counts via explode(featuresCol) → substring(md5, 1, 2)
    * → groupBy count, bucket decoded back to its integer value. */
  private def interpreted(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs
      .select(id.as("doc_id"),
        explode(graft.operators.DsirModelTwin.featuresCol).as("f"))
      .select(col("doc_id"), conv(substring(md5(col("f")), 1, 2), 16, 10)
        .cast("int").as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("m"))

  private def native(docs: DataFrame, id: Column): DataFrame =
    docs
      .select(id.as("doc_id"),
        explode(GraftFunctions.md5BucketCounts(col("text"))).as("bm"))
      .select(col("doc_id"), col("bm.bucket").as("bucket"), col("bm.m").as("m"))

  test("native bucket counts are value-identical to the interpreted chain on the corpus") {
    val docs = graft.Tables.documents(spark, sfDir)
    val n = native(docs, col("doc_id"))
    val i = interpreted(docs, col("doc_id"), col("text"))
    assert(n.exceptAll(i).count() == 0L)
    assert(i.exceptAll(n).count() == 0L)
  }

  test("whitespace and empty-string edge cases match the interpreted split semantics") {
    val cases = Seq(
      1L -> "plain two words",
      2L -> "  leading spaces trimmed",
      3L -> "trailing spaces trimmed   ",
      4L -> "\ttab leads to empty first token",
      5L -> "mixed \t whitespace\nruns here",
      6L -> "", // split of empty = [""] -> one md5("") unigram
      7L -> " ", // trims to empty
      8L -> "\t", // trims to nothing removable -> ["", ...] semantics
      9L -> "one",
      10L -> "unicode héllo wörld ≠ ascii",
      11L -> "a a a a a", // multiplicities > 1
      12L -> "xy") // VT: raw corpus bytes are loader-normalized, but the expression itself must match split on whatever it is handed
    val docs = cases.toDF("doc_id", "text")
    val n = native(docs, col("doc_id"))
    val i = interpreted(docs, col("doc_id"), col("text"))
    assert(n.exceptAll(i).count() == 0L)
    assert(i.exceptAll(n).count() == 0L)
  }

  test("malformed UTF-8: buckets hash the U+FFFD-replaced feature bytes") {
    // "ab<FF> cd ab<FE>": the two invalid bytes both decode to U+FFFD,
    // so the kernel buckets exactly what it buckets for the decoded text,
    // and the interpreted chain (whose split decodes too) agrees
    val bytes = Array('a', 'b', 0xff, ' ', 'c', 'd', ' ', 'a', 'b', 0xfe).map(_.toByte)
    def pairs(a: org.apache.spark.sql.catalyst.util.ArrayData) =
      (0 until a.numElements()).map { i =>
        val r = a.getStruct(i, 2)
        (r.getInt(0), r.getLong(1))
      }
    val got = pairs(Md5BucketCounts.compute(
      org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes)))
    assert(got == pairs(Md5BucketCounts.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("ab\uFFFD cd ab\uFFFD"))))
    assert(got.map(_._2).sum == 5L) // 3 unigrams + 2 bigrams
    val docs = Seq((1L, bytes)).toDF("doc_id", "b")
      .select(col("doc_id"), col("b").cast("string").as("text"))
    val i = interpreted(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    assert(got.toSet == i)
  }

  test("output is sorted by bucket with only populated buckets, and m sums to 2w-1") {
    val out = Seq("alpha beta gamma delta").toDF("text")
      .select(GraftFunctions.md5BucketCounts(col("text")).as("bm"))
      .select(col("bm"), aggregate(col("bm"), lit(0L), (a, x) => a + x.getField("m")).as("total"))
      .head()
    val arr = out.getSeq[org.apache.spark.sql.Row](0)
    assert(out.getLong(1) == 7) // 4 unigrams + 3 bigrams
    val buckets = arr.map(_.getInt(0))
    assert(buckets == buckets.sorted)
    assert(arr.forall(_.getLong(1) >= 1))
  }

  test("q_dsir_weights output is unchanged by the native bucket pass (old-shape twin)") {
    // the pre-optimization fb shape, wired into the same tail
    val docs = graft.Tables.spread(spark, graft.Tables.documents(spark, sfDir))
    val oldFb = docs
      .select(col("source"), col("doc_id"),
        explode(graft.operators.DsirModelTwin.featuresCol).as("f"))
      .select(col("source"), col("doc_id"),
        conv(substring(md5(col("f")), 1, 2), 16, 10).cast("int").as("bucket"))
      .groupBy(col("doc_id"), col("source"), col("bucket"))
      .agg(count(lit(1)).as("m"))
      .select("source", "doc_id", "bucket", "m")
    val newFb = docs
      .select(col("source"), col("doc_id"),
        explode(GraftFunctions.md5BucketCounts(col("text"))).as("bm"))
      .select(col("source"), col("doc_id"),
        col("bm.bucket").as("bucket"), col("bm.m").as("m"))
    assert(oldFb.exceptAll(newFb).count() == 0L)
    assert(newFb.exceptAll(oldFb).count() == 0L)
    // and the registered query still produces rows with finite weights
    val q = graft.operators.QualityModelOps.dsirWeights(spark, sfDir)
    assert(q.filter(col("log_weight").isNull).count() == 0L)
  }
}
