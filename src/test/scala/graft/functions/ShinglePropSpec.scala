package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property check for the native shingle hasher: on ARBITRARY text —
  * multibyte UTF-8, repeated/leading/trailing spaces, empty words — the
  * byte-span hashes must equal the declarative
  * `array_distinct(transform(..., xxhash64(concat_ws(" ", ...))))`
  * chain as a set. This is the load-bearing equivalence: every dedup
  * oracle assumes the two formulations agree. */
class ShinglePropSpec extends SparkSpec {

  private val wordGen: Gen[String] = Gen.oneOf(
    Gen.stringOfN(3, Gen.alphaNumChar),
    Gen.oneOf("", "a", "émile", "日本語", "naïve", "x y".replace(" ", ""), "Ω≈ç"),
    Gen.stringOfN(2, Gen.oneOf('α', 'ß', '中', 'q', '9')))

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 8)
    ws <- Gen.listOfN(n, wordGen)
    sep <- Gen.listOfN(math.max(0, n - 1), Gen.oneOf(" ", "  "))
  } yield ws.zipAll(sep.map(Some(_)), "", None)
    .flatMap { case (w, s) => w +: s.toList }.mkString

  test("native shingle hashes == declarative chain on arbitrary unicode text") {
    import spark.implicits._
    val prop = Prop.forAll(Gen.listOfN(20, textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val native = graft.operators.DedupOps
        .shingleHashesOf(df, "doc_id", "text", 3)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val declarative = ShinglesTwin
        .shinglesOf(df, "doc_id", "text", 3)
        .select(col("doc_id"), transform(col("sh"), x => xxhash64(x)).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      native == declarative
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }
}
