package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document DSIR feature-bucket counts as ONE native pass — the
  * hot loop of [[graft.operators.QualityModelOps.dsirWeightsOf]].
  *
  * Value-identical to the interpreted chain `explode(features) ->
  * substring(md5(f), 1, 2) -> groupBy count`, where the features are
  * the unigrams ++ adjacent bigrams of `split(trim(text), "\s+")`
  * (the test-scope DsirModelTwin, spec-pinned in Md5BucketCountsSpec): the
  * bucket of a feature is the first byte of its md5 digest — exactly
  * the integer the two hex chars `substring(md5(f), 1, 2)` spell —
  * and `m` is the feature multiplicity of that bucket in the document.
  *
  * The interpreted form allocates every unigram/bigram as a fresh
  * UTF8String, explodes ~2·|words| rows per document, and re-groups
  * them; this form is one token split ([[Words.split]]), one md5 per
  * feature digested straight from the token bytes
  * ([[Words.md5FirstByte]]), and a 256-slot count array per
  * document — no feature strings, no per-feature rows, no
  * (doc, bucket) pre-aggregation exchange. Output is the compact
  * (bucket, m) list sorted by bucket, one row per populated bucket.
  *
  * Assumes valid UTF-8 (Parquet strings are). Features are hashed as
  * the UTF-8 bytes of the decoded text, so an invalid byte sequence is
  * hashed as U+FFFD (EF BF BD), not as its raw bytes — the interpreted
  * chain's split decodes the same way (pinned in Md5BucketCountsSpec).
  */
case class Md5BucketCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("bucket", IntegerType, nullable = false),
      StructField("m", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_md5_bucket_counts needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    Md5BucketCounts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5BucketCounts.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Md5BucketCounts =
    copy(child = newChild)

  override def prettyName: String = "graft_md5_bucket_counts"
}

object Md5BucketCounts {
  def compute(s: UTF8String): ArrayData = {
    val counts = histogram(Words.utf8(Words.split(s)))
    var nonzero = 0
    var j = 0
    while (j < 256) { if (counts(j) > 0) nonzero += 1; j += 1 }
    val rows = new Array[Any](nonzero)
    var out = 0
    j = 0
    while (j < 256) {
      if (counts(j) > 0) {
        rows(out) = InternalRow(j, counts(j))
        out += 1
      }
      j += 1
    }
    new GenericArrayData(rows)
  }

  /** The 256-slot DSIR histogram of one document's words (as UTF-8):
    * slot b counts the unigrams and adjacent bigrams whose md5 starts
    * with byte b. [[EnsembleArtifacts.score]] folds it with
    * [[DsirModel.logWeight]]. */
  private[functions] def histogram(tb: Array[Array[Byte]]): Array[Long] = {
    val counts = new Array[Long](256)
    var j = 0
    while (j < tb.length) {
      counts(Words.md5FirstByte(tb(j))) += 1
      // adjacent-bigram features, only for documents with >= 2 tokens
      // (the interpreted bigramsOf guard)
      if (j + 1 < tb.length) counts(Words.md5FirstByte(tb(j), ' '.toByte, tb(j + 1))) += 1
      j += 1
    }
    counts
  }
}

/** The one trained DSIR model (Xie et al. 2023 §3): per md5 bucket
  * (the first digest byte, 0..255) the feature multiplicity over the
  * reference slice (`ct`) and the whole corpus (`cr`), and their
  * totals; `nt` is None when no reference feature exists (the
  * oracle's empty `sum`: every weight is null). Trained by
  * [[graft.operators.QualityModelOps.dsirModelOf]], whose ≤256
  * `(bucket, cr, ct)` rows are also the persisted `dsir_model` table,
  * and cached per (session, corpus) by `QualityModelOps.dsirModelFor`. */
final case class DsirModel(
    ct: Array[Long], cr: Array[Long], nt: Option[Long], nr: Long) extends Serializable {
  require(ct.length == DsirModel.buckets && cr.length == DsirModel.buckets)

  /** The fused gate's DSIR fold over a 256-slot histogram
    * ([[Md5BucketCounts.histogram]]): the terms of the batch Column fold
    * ([[graft.operators.QualityModelOps.dsirWeightsOf]]),
    * m·((ln(ct+1) − ln(nt+256)) − (ln(cr+1) − ln(nr+256))) per populated
    * bucket, summed in its ascending (ct, cr, m) order with Spark's
    * `log` (StrictMath) and rounded to 6 dp, so the two are
    * bit-identical. An unseen bucket scores its add-one term; an empty
    * histogram 0.0; any other is null when `nt` is None. */
  def logWeight(counts: Array[Long]): java.lang.Double = {
    val terms = (0 until DsirModel.buckets).iterator.filter(counts(_) > 0L)
      .map(b => (ct(b), cr(b), counts(b))).toArray
    if (terms.isEmpty) return 0.0
    if (nt.isEmpty) return null
    java.util.Arrays.sort(terms, Ordering[(Long, Long, Long)])
    val lnT = StrictMath.log((nt.get + DsirModel.buckets).toDouble)
    val lnR = StrictMath.log((nr + DsirModel.buckets).toDouble)
    var lw = 0.0
    terms.foreach { case (t, r, m) =>
      lw += m.toDouble * ((StrictMath.log((t + 1L).toDouble) - lnT) -
        (StrictMath.log((r + 1L).toDouble) - lnR))
    }
    LmModel.round6(lw)
  }
}

object DsirModel {
  /** Hashed feature buckets: the first md5 byte, the one hash both
    * engines compute identically. */
  val buckets = 256

  /** Collect a `(bucket, cr, ct)` frame (`dsirModelOf`, or a loaded
    * `dsir_model` table) into the model: at most 256 rows. A null `ct`
    * is a bucket no reference feature hashed to. */
  def of(frame: org.apache.spark.sql.DataFrame): DsirModel = {
    val cols = frame.schema.map(f => s"${f.name} ${f.dataType.simpleString}")
    require(Seq("bucket int", "cr bigint", "ct bigint").forall(cols.contains),
      s"a DSIR model frame has (bucket int, cr bigint, ct bigint), got ${cols.mkString(
        "(", ", ", ")")}: a (bucket, log_ratio) table is an earlier build's format, retrain it")
    val rows = frame.select("bucket", "cr", "ct").collect()
    val ct = new Array[Long](buckets)
    val cr = new Array[Long](buckets)
    rows.foreach { r =>
      cr(r.getInt(0)) = r.getLong(1)
      if (!r.isNullAt(2)) ct(r.getInt(0)) = r.getLong(2)
    }
    DsirModel(ct, cr, if (rows.exists(!_.isNullAt(2))) Some(ct.sum) else None, cr.sum)
  }
}
