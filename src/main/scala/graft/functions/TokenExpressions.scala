package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document distinct-token counts in ONE native pass — the
  * compact (word, count) form of `explode(split(trim(text), "\s+"))`
  * followed by a per-document `groupBy(word).count` (spec-pinned in
  * TokenCountsSpec).
  *
  * Tokenization is the interpreted chain's, [[Words.split]].
  *
  * Why it exists (guide §2.3 "aggregate before you shuffle"): the
  * interpreted form explodes one row PER TOKEN OCCURRENCE and then
  * pays a corpus-wide (doc, word) exchange just to collapse the
  * occurrences back into counts; this form emits one (w, c) struct
  * per DISTINCT word per document map-side, so per-document counting
  * never touches a shuffle and downstream statistics (tf, df, NB
  * class counts) aggregate the compact stream directly. Output order
  * is first occurrence, deterministic.
  *
  * Assumes valid UTF-8 (Parquet strings are). The text is decoded
  * once, so each invalid byte sequence becomes U+FFFD before the split
  * — words that differ only in their invalid bytes count as one, as
  * they do in the interpreted split, which decodes the same way
  * (pinned in TokenCountsSpec). */
case class TokenCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w", StringType, nullable = false),
      StructField("c", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_token_counts needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    TokenCounts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenCounts.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)

  override def prettyName: String = "graft_token_counts"
}

object TokenCounts {
  def compute(s: UTF8String): ArrayData = {
    val toks = Words.split(s)
    // first-occurrence order: LinkedHashMap keeps output deterministic
    val counts = new java.util.LinkedHashMap[String, Array[Long]](
      math.max(16, toks.length * 2))
    var j = 0
    while (j < toks.length) {
      val slot = counts.get(toks(j))
      if (slot == null) counts.put(toks(j), Array(1L)) else slot(0) += 1L
      j += 1
    }
    val rows = new Array[Any](counts.size)
    var out = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      rows(out) = InternalRow(UTF8String.fromString(e.getKey), e.getValue()(0))
      out += 1
    }
    new GenericArrayData(rows)
  }
}

/** Per-document count-min bucket counts in ONE native pass — the
  * compact form of the CMS update stream
  * `explode(tokens) × explode(rows 0..depth-1) → md5(row#tok) bucket →
  * count` of [[TextFunctions.tokenCmsOf]] (spec-pinned in
  * TokenCountsSpec).
  *
  * The bucket of (row, token) is the first byte of
  * md5("row" + "#" + token) — exactly the integer the two hex chars
  * `substring(md5(concat_ws("#", row, tok)), 1, 2)` spell
  * ([[Words.md5FirstByte]]); tokens are [[Words.split]]'s. The
  * interpreted form allocates a concat string and a full md5 hex
  * rendering per (occurrence, row) — depth× the exploded token
  * stream; this form is one token split and depth digests per
  * occurrence into a depth×256 count grid per document, emitting one
  * (row, bucket, m) struct per populated counter. Downstream the
  * corpus sketch is one (row, bucket) aggregation of ≤ depth·256 rows
  * per document instead of depth·|tokens|.
  *
  * Assumes valid UTF-8 (Parquet strings are). Tokens are hashed as the
  * UTF-8 bytes of the decoded text, so an invalid byte sequence is
  * hashed as U+FFFD (EF BF BD), not as its raw bytes — the interpreted
  * chain's split decodes the same way (pinned in TokenCountsSpec). */
case class CmsBucketCounts(child: Expression, depth: Int) extends UnaryExpression {
  require(depth >= 1 && depth <= 16, "cms depth out of range")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("row", IntegerType, nullable = false),
      StructField("bucket", IntegerType, nullable = false),
      StructField("m", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cms_bucket_counts needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    CmsBucketCounts.compute(input.asInstanceOf[UTF8String], depth)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CmsBucketCounts.compute($c, $depth);")

  override protected def withNewChildInternal(newChild: Expression): CmsBucketCounts =
    copy(child = newChild)

  override def prettyName: String = "graft_cms_bucket_counts"
}

object CmsBucketCounts {
  // concat_ws("#", row, tok) starts with the row's decimal rendering
  private val rowBytes = Array.tabulate(16)(r => String.valueOf(r).getBytes(UTF_8))

  def compute(s: UTF8String, depth: Int): ArrayData = {
    val tb = Words.utf8(Words.split(s))
    val counts = new Array[Long](depth * 256)
    var j = 0
    while (j < tb.length) {
      var r = 0
      while (r < depth) {
        counts(r * 256 + Words.md5FirstByte(rowBytes(r), '#'.toByte, tb(j))) += 1
        r += 1
      }
      j += 1
    }
    var nonzero = 0
    var k = 0
    while (k < counts.length) { if (counts(k) > 0) nonzero += 1; k += 1 }
    val rows = new Array[Any](nonzero)
    var out = 0
    k = 0
    while (k < counts.length) {
      if (counts(k) > 0) {
        rows(out) = InternalRow(k / 256, k % 256, counts(k))
        out += 1
      }
      k += 1
    }
    new GenericArrayData(rows)
  }
}
