package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two `array<double>` columns.
  *
  * The functions.aggregate/zip_with composition allocates an intermediate
  * array per row pair; on an all-pairs similarity join that allocation is
  * the dominant cost (24s → sub-second on the sf0.1 bench). This
  * expression sums in index order — the same left-fold the higher-order
  * version and the DuckDB oracle use — so results stay bit-identical
  * while the loop runs allocation-free inside whole-stage codegen.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_dot needs two array<double>, got ${l.catalogString}, ${r.catalogString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** One-stop registration for graft's native SQL functions. */
object GraftFunctions {
  import org.apache.spark.sql.{AnalysisException, Column, GraftBridge}

  /** Fold a SQL-surface argument to Int at analysis time: any integral
    * literal width is accepted (a parser may widen `3` to BIGINT), and a
    * non-foldable or non-integral argument raises a standard
    * AnalysisException instead of a ClassCastException at eval. */
  private def intArg(fn: String, e: Expression): Int = {
    if (!e.foldable)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT",
        Map("funcName" -> s"`$fn`", "paramName" -> "`k`", "paramType" -> "\"INT\""))
    e.eval() match {
      case n: Number => n.intValue()
      case _ => throw new AnalysisException("SECOND_FUNCTION_ARGUMENT_NOT_INTEGER",
        Map("functionName" -> fn))
    }
  }

  /** Register every native SQL function in `spark`'s session. Safe to
    * call any number of times: a name the session's registry already
    * holds is left as it is (check before inject, like Pathling's
    * `SqlStrategy.setup`), so repeated calls neither rebuild builders
    * nor log "replaced a previously registered function". */
  def register(spark: SparkSession): Unit = {
    RollingFingerprint.register(spark)
    registerOnce(spark, "graft_dot", exprs => DotProduct(exprs(0), exprs(1)))
    registerOnce(spark, "graft_shingles", exprs => ShingleHashes(exprs(0),
      intArg("graft_shingles", exprs(1))))
    registerOnce(spark, "graft_minhash", exprs => MinHashSignature(exprs(0),
      intArg("graft_minhash", exprs(1))))
    registerOnce(spark, "graft_window_hashes", exprs => WindowHashes(exprs(0),
      intArg("graft_window_hashes", exprs(1))))
    registerOnce(spark, "graft_intersect_count",
      exprs => IntersectCount(exprs(0), exprs(1)))
    registerOnce(spark, "graft_jpeg_dims", exprs => JpegDims(exprs(0)))
    registerOnce(spark, "graft_mp4_duration", exprs => Mp4Duration(exprs(0)))
    registerOnce(spark, "graft_gopher_stats", exprs => GopherStats(exprs(0)))
  }

  /** Register `name` unless the session's function registry has it. */
  private[graft] def registerOnce(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** Gopher shape stats and rule flags struct — see [[GopherStats]]. */
  def gopherStats(text: Column): Column =
    GraftBridge.column(GopherStats(GraftBridge.expression(text)))

  /** Sorted-distinct array intersection size — see [[IntersectCount]]. */
  def intersectCount(a: Column, b: Column): Column =
    GraftBridge.column(IntersectCount(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Distinct xxhash64 word-n-gram shingle hashes — see [[ShingleHashes]]. */
  def shingles(text: Column, n: Int): Column =
    GraftBridge.column(ShingleHashes(GraftBridge.expression(text), n))

  /** Positional sliding w-word window hashes — see [[WindowHashes]]. */
  def windowHashes(text: Column, w: Int): Column =
    GraftBridge.column(WindowHashes(GraftBridge.expression(text), w))

  /** k-permutation MinHash signature over shingle hashes — see
    * [[MinHashSignature]]. */
  def minhash(hashes: Column, k: Int): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(hashes), k))

  /** Per-document DSIR md5 feature-bucket counts — see
    * [[Md5BucketCounts]]. */
  def md5BucketCounts(text: Column): Column =
    GraftBridge.column(Md5BucketCounts(GraftBridge.expression(text)))

  /** Column-level handle, usable without session registration. */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** THE exact cosine of two vectors given their norms: null when
    * either norm is 0. A zero vector has no direction, so it never
    * pairs or ranks as a neighbor (null fails every threshold compare,
    * and [[TopKScoreIdAgg]] skips null scores); the guard also keeps
    * the division from throwing DIVIDE_BY_ZERO under ANSI mode. DuckDB
    * yields NULL for the same 0/0, so the oracles agree. */
  def cosineOf(a: Column, b: Column, na: Column, nb: Column): Column =
    org.apache.spark.sql.functions.when(na > 0 && nb > 0, dot(a, b) / (na * nb))

  /** JPEG SOF dimensions array(width, height, progressive) — see
    * [[JpegDims]]. */
  def jpegDims(payload: Column): Column =
    GraftBridge.column(JpegDims(GraftBridge.expression(payload)))

  /** MP4 mvhd presentation duration in integral microseconds — see
    * [[Mp4Duration]]. */
  def mp4DurationUs(payload: Column): Column =
    GraftBridge.column(Mp4Duration(GraftBridge.expression(payload)))

  /** Per-document quality-ensemble verdict struct under broadcast
    * trained artifacts — see [[QualityEnsembleScore]]. */
  def qualityEnsemble(text: Column, lang: Column,
      artifacts: EnsembleArtifacts): Column =
    GraftBridge.column(QualityEnsembleScore(
      GraftBridge.expression(text), GraftBridge.expression(lang), artifacts))

  /** Top-nprobe centroid ids against a broadcast centroid array — see
    * [[CentroidProbes]]. */
  def centroidProbes(v: Column, norm: Column, cents: Column, nprobe: Int): Column =
    GraftBridge.column(CentroidProbes(GraftBridge.expression(v),
      GraftBridge.expression(norm), GraftBridge.expression(cents), nprobe))

  /** Native streaming LM scorer under a captured [[LmModel]]. */
  def lmScore(text: Column, model: LmModel): Column =
    GraftBridge.column(LmScore(GraftBridge.expression(text), model))

  /** Wide binary sign sketch (ceil(dim/64) longs) — see
    * [[SignBitsWide]]. */
  def signBitsWide(v: Column): Column =
    GraftBridge.column(SignBitsWide(GraftBridge.expression(v)))

  /** Consecutive n-word chunk strings — see [[ChunkStrings]]. */
  def chunkStrings(text: Column, n: Int): Column =
    GraftBridge.column(ChunkStrings(GraftBridge.expression(text), n))

  /** Sorted i<j candidate pairs of one posting list — see
    * [[PostingPairs]]. `minOverMax` > 0 applies the exact jaccard
    * length filter (emit only pairs with min(size)/max(size) >= t). */
  def postingPairs(ds: Column, minOverMax: Double = 0.0): Column =
    GraftBridge.column(PostingPairs(GraftBridge.expression(ds), minOverMax))

  /** Distinct word-n-gram shingle strings — see [[ShingleStrings]]. */
  def shingleStrings(text: Column, n: Int): Column =
    GraftBridge.column(ShingleStrings(GraftBridge.expression(text), n))

  /** One-pass per-document 64-bit SimHash — see [[SimHash64]]. */
  def simhash64(text: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(text)))

  /** Per-document distinct-token (w, c) counts — see [[TokenCounts]]. */
  def tokenCounts(text: Column): Column =
    GraftBridge.column(TokenCounts(GraftBridge.expression(text)))

  /** Per-document count-min (row, bucket, m) counts — see
    * [[CmsBucketCounts]]. */
  def cmsBucketCounts(text: Column, depth: Int): Column =
    GraftBridge.column(CmsBucketCounts(GraftBridge.expression(text), depth))

  /** SimHash aggregate over (word-hash, weight) rows — see [[SimHashAgg]]. */
  def simhash(hash: Column, weight: Column): Column =
    GraftBridge.column(
      SimHashAgg(GraftBridge.expression(hash), GraftBridge.expression(weight))
        .toAggregateExpression())

  /** Element-wise vector sum aggregate over an `array<double>` column
    * (uniform dimensionality) — see [[VectorSumAgg]]. */
  def vecsum(vec: Column): Column =
    GraftBridge.column(VectorSumAgg(GraftBridge.expression(vec)).toAggregateExpression())

  /** Bounded SpaceSaving heavy-hitters summary over a bigint key
    * column — see [[HeavyHittersAgg]]. */
  def heavyHitters(key: Column, capacity: Int): Column =
    GraftBridge.column(
      HeavyHittersAgg(GraftBridge.expression(key), capacity).toAggregateExpression())

  /** Bounded top-k (score, id) summary — see [[TopKScoreIdAgg]]. */
  def topkScoreId(score: Column, id: Column, k: Int, ascending: Boolean): Column =
    GraftBridge.column(
      TopKScoreIdAgg(GraftBridge.expression(score), GraftBridge.expression(id),
        k, ascending).toAggregateExpression())
}
