package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `graft_gopher_stats(text)` — every Gopher shape stat and rule flag
  * (Rae et al. 2021, §A1.1) as ONE struct, computed in one byte pass
  * over the document. This is the only implementation of the rule
  * cascade: [[TextFunctions.gopherStructCol]] (batch gate, ensemble,
  * streaming ensemble) returns this expression and
  * [[EnsembleArtifacts.score]] calls [[GopherStats.compute]].
  *
  * Semantics are those of the interpreted chain it replaced (its twin
  * is pinned field by field in GopherStatsSpec):
  *  - words are `split(trim(text), "\s+")`: Spark's `trim` strips the
  *    space character only, then a Java-regex `\s+` split with limit
  *    -1, so a leading/trailing tab, newline, VT, FF or CR keeps an
  *    empty token and an empty text is one empty word;
  *  - `n_alpha` counts words holding an ASCII letter (`rlike
  *    "[A-Za-z]"`), `n_stop` the distinct words in
  *    [[TextFunctions.qualityStopwords]] (case-sensitive);
  *  - `mean_word_len` is the code-point length of the trimmed text
  *    without `\s` characters over the word count, `symbol_ratio` the
  *    number of `#` and `…` code points over the word count;
  *  - null text yields a struct of nulls, as the chain did.
  *
  * Java's `\s` is `[ \t\n\x0B\f\r]`: six ASCII bytes that never occur
  * inside a multi-byte UTF-8 sequence, so the split, the letter test
  * and the stopword compare run on the UTF-8 bytes directly, with no
  * string decode, no regex and no per-word allocation. That is why this
  * kernel keeps its own scan instead of [[Words.split]], the word
  * boundary of the other text kernels: every stat here is a count or a
  * length of words, none needs a word as a string, so the decode and
  * the String per word the split yields would be pure cost.
  *
  * Assumes valid UTF-8 (Parquet strings are). On malformed bytes the
  * word boundaries, `n_words`, `n_alpha` and `n_stop` are still those
  * of the chain, but a code point is counted as one byte that is not
  * a continuation byte (`10xxxxxx`) and `…` as the byte triple
  * E2 80 A6, where the chain decoded invalid sequences to U+FFFD —
  * the lengths can then differ (pinned in GopherStatsSpec). */
case class GopherStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = GopherStats.schema

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_gopher_stats needs a string column, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): Any =
    GopherStats.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.functions.GopherStats.compute(${c.isNull} ? null : ${c.value});
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)

  override def prettyName: String = "graft_gopher_stats"
}

object GopherStats {
  /** The cascade's struct: names, types and (all-nullable) fields of
    * the interpreted chain's struct, so consumers see the same schema. */
  val schema: StructType = StructType(Seq(
    StructField("n_words", IntegerType),
    StructField("mean_word_len", DoubleType),
    StructField("alpha_frac", DoubleType),
    StructField("symbol_ratio", DoubleType),
    StructField("n_stop", IntegerType),
    StructField("ok_words", BooleanType),
    StructField("ok_mean_len", BooleanType),
    StructField("ok_alpha", BooleanType),
    StructField("ok_symbol", BooleanType),
    StructField("ok_stop", BooleanType),
    StructField("keep", BooleanType)))

  val KeepOrdinal: Int = schema.fieldIndex("keep")

  // stopwords as UTF-8 bytes, bucketed by byte length; a word's
  // distinct-stopword hits are one bit each in a Long
  private val stopBytes: Array[Array[Byte]] =
    TextFunctions.qualityStopwords.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
  require(stopBytes.length <= 64, "stopword set must fit a 64-bit mask")
  private val maxStopLen = stopBytes.map(_.length).max
  private val stopByLen: Array[Array[Int]] =
    Array.tabulate(maxStopLen + 1)(n => stopBytes.indices.filter(stopBytes(_).length == n).toArray)

  /** Java regex `\s`: space, \t, \n, VT, \f, \r. */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= 0x09 && b <= 0x0d)

  /** The index bit of the stopword spelled by bytes [from, to), or 0. */
  private def stopBit(base: AnyRef, off: Long, from: Int, to: Int): Long = {
    val len = to - from
    if (len > maxStopLen) return 0L
    val cands = stopByLen(len)
    var k = 0
    while (k < cands.length) {
      val w = stopBytes(cands(k))
      var j = 0
      while (j < len && Platform.getByte(base, off + from + j) == w(j)) j += 1
      if (j == len) return 1L << cands(k)
      k += 1
    }
    0L
  }

  /** The Gopher struct of one document; null text gives all-null
    * fields. Called from generated code and from
    * [[EnsembleArtifacts.score]]. */
  def compute(s: UTF8String): InternalRow = {
    if (s == null) return new GenericInternalRow(schema.length)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var lo = 0
    var hi = s.numBytes
    while (lo < hi && Platform.getByte(base, off + lo) == ' ') lo += 1
    while (hi > lo && Platform.getByte(base, off + hi - 1) == ' ') hi -= 1

    var nWords = 1 // a split always yields one more word than separator runs
    var nAlpha = 0
    var stopSeen = 0L
    var noWs = 0
    var nSymbols = 0
    var wordStart = lo
    var alpha = false
    var i = lo
    while (i <= hi) {
      val b = if (i < hi) Platform.getByte(base, off + i) else ' '.toByte
      if (isWs(b)) {
        // close the word [wordStart, i), then skip the separator run
        if (alpha) nAlpha += 1
        stopSeen |= stopBit(base, off, wordStart, i)
        i += 1
        if (i <= hi) {
          while (i < hi && isWs(Platform.getByte(base, off + i))) i += 1
          nWords += 1
          wordStart = i
          alpha = false
        }
      } else {
        if ((b & 0xc0) != 0x80) noWs += 1
        if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) alpha = true
        else if (b == '#') nSymbols += 1
        else if (b == 0xe2.toByte && i + 2 < hi &&
            Platform.getByte(base, off + i + 1) == 0x80.toByte &&
            Platform.getByte(base, off + i + 2) == 0xa6.toByte) nSymbols += 1
        i += 1
      }
    }

    val nStop = java.lang.Long.bitCount(stopSeen)
    val nW = nWords.toDouble
    val meanWordLen = noWs / nW
    val alphaFrac = nAlpha / nW
    val symbolRatio = nSymbols / nW
    val okWords = nWords >= 50 && nWords <= 100000
    val okMeanLen = meanWordLen >= 3.0 && meanWordLen <= 10.0
    val okAlpha = alphaFrac >= 0.8
    val okSymbol = symbolRatio <= 0.1
    val okStop = nStop >= 2
    new GenericInternalRow(Array[Any](nWords, meanWordLen, alphaFrac, symbolRatio,
      nStop, okWords, okMeanLen, okAlpha, okSymbol, okStop,
      okWords && okMeanLen && okAlpha && okSymbol && okStop))
  }
}
