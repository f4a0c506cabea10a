package graft.functions

import graft.SparkSpec
import graft.operators.DedupOps
import org.apache.spark.sql.functions._

/** The native shingle/minhash expressions must be value-identical to the
  * declarative chains they replaced — same hashes, same signatures — or
  * every dedup oracle silently shifts. */
class ShingleExpressionsSpec extends SparkSpec {

  test("ShingleHashes == array_distinct(transform(shingles, xxhash64)) as a set") {
    val str = ShinglesTwin.shingles(spark, sfDir)
      .select(col("doc_id"), transform(col("sh"), x => xxhash64(x)).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val nat = DedupOps.shingleHashes(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(nat.keySet == str.keySet, "row sets differ")
    nat.foreach { case (id, hs) => assert(hs == str(id), s"hash set differs for doc $id") }
  }

  test("ShingleHashes output is sorted, distinct, and empty under n words") {
    import spark.implicits._
    val df = Seq(
      ("a b c d", 1L), ("a  b c", 2L), // double space => empty token kept
      ("one two", 3L), // < 3 words
      ("x y z x y z x y z", 4L) // repeated shingles collapse
    ).toDF("text", "doc_id")
    val out = df.select(col("doc_id"), GraftFunctions.shingles(col("text"), 3).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(3L).isEmpty)
    out.values.foreach { hs => assert(hs == hs.sorted && hs.distinct == hs) }
    // "x y z ..." has 7 shingle positions but only 3 distinct shingles
    assert(out(4L).size == 3)
    // empty-token shingles hash the original byte span ("a  b c" -> "a  b", " b c")
    assert(out(2L).size == 2)
  }

  test("MinHashSignature == declarative k-permutation chain, bit-identical") {
    val m = MinHashSignature.Mersenne
    val hashed = DedupOps.shingleHashes(spark, sfDir)
    val declarative = hashed
      .withColumn("hx", transform(col("hs"), x => pmod(x, lit(m))))
      .select(col("doc_id"),
        array((0 until DedupOps.minhashK).map { i =>
          array_min(transform(col("hx"),
            x => pmod(x * lit(MinHashSignature.a(i)) + lit(MinHashSignature.b(i)), lit(m))))
        }: _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = DedupOps.minhashSignaturesHashedOf(hashed)
      .select(col("doc_id"), col("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet == declarative.keySet)
    native.foreach { case (id, sig) => assert(sig == declarative(id), s"sig differs for doc $id") }
  }

  test("MinHashSignature of an empty hash array is null, like the declarative min") {
    import spark.implicits._
    // a document shorter than the shingle width has zero shingles; its
    // signature must be null (never a sentinel that band-collides with
    // other empty docs), in both interpreted and codegen paths
    val df = Seq(("too short", 1L), ("long enough to have shingles here", 2L))
      .toDF("text", "doc_id")
      .select(col("doc_id"),
        GraftFunctions.minhash(GraftFunctions.shingles(col("text"), 5), 4).as("sig"))
    val rows = df.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(rows(1L).isEmpty, "empty shingle set must give a null signature")
    assert(rows(2L).nonEmpty)
    // same through the SQL registration
    GraftFunctions.register(spark)
    df.sparkSession.createDataFrame(Seq(Tuple1("a b"))).toDF("text")
      .createOrReplaceTempView("minhash_empty_probe")
    val viaSql = spark.sql(
      "SELECT graft_minhash(graft_shingles(text, 5), 4) AS sig FROM minhash_empty_probe")
      .collect()
    assert(viaSql.head.isNullAt(0))
  }
}
