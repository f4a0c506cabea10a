package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The trained bigram-LM model as a closure value — the one driver
  * copy of the LM tables and the one LM fold, shared by the closure
  * scorer ([[LmScore]], through `QualityModelOps.lmScoresOf`) and the
  * fused quality gate
  * ([[EnsembleArtifacts]]). Vocabulary-sized driver collect
  * ([[LmModel.of]] bounds it), O(1) hash probes per distinct bigram at
  * score time. */
final case class LmModel(
    cbPairs: Array[(String, Long)],
    cwPairs: Array[(String, Long)]) extends Serializable {

  /** context-vocabulary size — the `cw.agg(count(1))` scalar. */
  val v: Long = cwPairs.length.toLong

  @transient private lazy val cb: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](cbPairs.length * 2)
    cbPairs.foreach { case (k, c) => m.put(k, c) }
    m
  }
  @transient private lazy val cw: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](cwPairs.length * 2)
    cwPairs.foreach { case (k, c) => m.put(k, c) }
    m
  }

  private def countOf(m: java.util.HashMap[String, java.lang.Long], k: String): Long = {
    val c = m.get(k)
    if (c == null) 0L else c.longValue()
  }

  /** Score one document: (n_bigrams, mean_log_prob), both null for a
    * <2-word document — the batch operator's unmatched left join. */
  def score(textU: UTF8String): InternalRow = {
    val ws = Words.split(textU)
    if (ws.length < 2) return new GenericInternalRow(Array[Any](null, null))
    val n = ws.length - 1
    new GenericInternalRow(Array[Any](n.toLong, meanLogProb(LmModel.bigramCounts(ws), n)))
  }

  /** The LM fold: the 6dp mean over `n` bigram occurrences of
    * m·(log(cb+1) − log(cw+V)), one term per distinct bigram (`bgCounts`
    * from [[LmModel.bigramCounts]]), summed in ascending (cb, cw, m)
    * order with Spark's `log` (StrictMath). Those are the batch
    * operator's terms, order and log ([[graft.operators.QualityModelOps
    * .lmPerplexity]] folds `sort_array(collect_list(struct(cb0, cw0, m,
    * v)))`), so the score is bit-identical to it. An empty context
    * table (V = 0) makes every term's log(cw + V) the log of 0, which
    * Spark's `log` and so the batch fold read as null: the mean is then
    * null too. */
  private[functions] def meanLogProb(
      bgCounts: java.util.HashMap[String, Array[Long]], n: Int): java.lang.Double = {
    if (v == 0L) return null
    val terms = new Array[(Long, Long, Long)](bgCounts.size())
    val it = bgCounts.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      val bg = e.getKey
      terms(i) = (countOf(cb, bg), countOf(cw, bg.substring(0, bg.indexOf(' '))),
        e.getValue()(0))
      i += 1
    }
    java.util.Arrays.sort(terms, Ordering[(Long, Long, Long)])
    var lp = 0.0
    i = 0
    while (i < terms.length) {
      val t = terms(i)
      lp += t._3.toDouble *
        (StrictMath.log((t._1 + 1L).toDouble) - StrictMath.log((t._2 + v).toDouble))
      i += 1
    }
    LmModel.round6(lp / n)
  }
}

object LmModel {
  /** The distinct adjacent bigrams "w1 w2" of `ws`, each with its
    * multiplicity in a one-slot array. */
  private[functions] def bigramCounts(
      ws: Array[String]): java.util.HashMap[String, Array[Long]] = {
    val m = new java.util.HashMap[String, Array[Long]](math.max(ws.length - 1, 0) * 2)
    var i = 0
    while (i + 1 < ws.length) {
      val bg = ws(i) + " " + ws(i + 1)
      val slot = m.get(bg)
      if (slot == null) m.put(bg, Array(1L)) else slot(0) += 1L
      i += 1
    }
    m
  }

  /** HALF_UP to 6 decimals over the double's shortest decimal string —
    * the rounding every closure scorer applies to a log score. */
  private[functions] def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Driver-size contract of the closure-scorer fast path: the model
    * tables are collected to the driver as boxed (String, Long) pairs
    * and shipped in every task closure, which is only sane for a
    * bounded trained vocabulary. The limit+1 probe bounds what the
    * driver ever holds and fails fast, naming the join-shape
    * [[graft.streaming.EventStream.lmScoreStreamJoin]] as the path for
    * bigger models. That path collects too — its broadcast joins
    * gather both tables on the driver as compact rows to build the
    * broadcast relations — but under Spark's broadcast-table limit
    * (`spark.sql.maxBroadcastTableSize`, 8 GB by default, plus a row
    * cap in the hundreds of millions), not under this one. */
  val maxModelRows: Int = 5000000

  def of(cb: org.apache.spark.sql.DataFrame,
      cw: org.apache.spark.sql.DataFrame,
      maxRows: Int = maxModelRows): LmModel = {
    def bounded(df: org.apache.spark.sql.DataFrame, what: String) = {
      val rows = df.limit(maxRows + 1).collect()
      if (rows.length > maxRows)
        throw new IllegalArgumentException(
          s"LmModel.of: $what exceeds $maxRows rows — the closure-scorer " +
            "fast path assumes a driver-sized trained vocabulary; use " +
            "EventStream.lmScoreStreamJoin (stream-static broadcast join, " +
            "bounded by Spark's broadcast-table limit) for bigger models")
      rows
    }
    LmModel(
      bounded(cb.select("bg", "cb"), "bigram table")
        .map(r => (r.getString(0), r.getLong(1))),
      bounded(cw.select("w1", "cw"), "context table")
        .map(r => (r.getString(0), r.getLong(1))))
  }
}

/** `graft_lm_score(text)` under a captured [[LmModel]]: per-document
  * (n_bigrams, mean_log_prob) struct from [[LmModel.score]] — the
  * words of [[Words.split]] and the one LM fold, so the score is
  * bit-identical to [[graft.operators.QualityModelOps.lmPerplexity]]
  * (LmStreamSpec). One JVM loop with O(1) hash probes per distinct
  * bigram, where a MapType broadcast would probe linearly. Null text
  * yields a null struct; callers read the fields through getField,
  * which nulls them as the batch left join does. */
case class LmScore(child: Expression, model: LmModel) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = true),
    StructField("mean_log_prob", DoubleType, nullable = true)))

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_lm_score needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    model.score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lmModel", model, classOf[LmModel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.score($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): LmScore =
    copy(child = newChild)

  override def prettyName: String = "graft_lm_score"
}

/** Top-`nprobe` centroid ids for one vector against a broadcast
  * centroid array, natively — the probe-selection / assignment kernel
  * of the IVF family ([[graft.operators.AnnOps]]). Value-identical to
  * the interpreted chain `slice(reverse(array_sort(transform(cents,
  * c -> struct(cosineOf(v, cv, norm, cn) AS csim, -id AS nid)))), 1, n)`
  * (and, at n = 1, to `-array_max(...).nid`): csim is the same
  * index-order dot fold [[DotProduct]] computes over `norm * cn`,
  * ordering is csim descending with Spark's float semantics (NaN above
  * everything, -0.0 < 0.0 — exactly java.lang.Double.compare) and ties
  * break to the smaller centroid id. A zero norm on either side gives
  * no similarity (cosineOf's null): such a centroid ranks after every
  * scored one, ties again to the smaller id, so a zero-norm centroid
  * attracts no vector and a zero query probes in id order. The
  * interpreted form allocated a K-struct
  * array + a sort + a reverse per ROW; this is one primitive loop. */
case class CentroidProbes(v: Expression, norm: Expression, cents: Expression,
    nprobe: Int) extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  require(nprobe >= 1, "nprobe must be >= 1")

  override def first: Expression = v
  override def second: Expression = norm
  override def third: Expression = cents

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (v.dataType, norm.dataType, cents.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType,
        ArrayType(StructType(Array(
          StructField(_, LongType, _, _),
          StructField(_, ArrayType(DoubleType, _), _, _),
          StructField(_, DoubleType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"graft_centroid_probes needs (array<double>, double, " +
          s"array<struct<bigint,array<double>,double>>), got " +
          s"(${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }

  override protected def nullSafeEval(vv: Any, nn: Any, cc: Any): Any =
    CentroidProbes.compute(vv.asInstanceOf[ArrayData],
      nn.asInstanceOf[Double], cc.asInstanceOf[ArrayData], nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = graft.functions.CentroidProbes.compute($a, $b, $c, $nprobe);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): CentroidProbes =
    copy(v = newFirst, norm = newSecond, cents = newThird)

  override def prettyName: String = "graft_centroid_probes"
}

object CentroidProbes {
  def compute(v: ArrayData, norm: Double, cents: ArrayData, nprobe: Int): ArrayData = {
    val k = cents.numElements()
    val ids = new Array[Long](k)
    val sims = new Array[Double](k)
    // a zero norm on either side has no direction, hence no similarity
    // (the hasDirection rule of GraftFunctions.cosineOf)
    val scored = new Array[Boolean](k)
    val dim = v.numElements()
    var i = 0
    while (i < k) {
      val c = cents.getStruct(i, 3)
      ids(i) = c.getLong(0)
      val cv = c.getArray(1)
      val cn = c.getDouble(2)
      scored(i) = norm > 0 && cn > 0
      if (scored(i)) {
        // the same index-order fold and min-length rule as DotProduct
        val n = math.min(dim, cv.numElements())
        var acc = 0.0
        var j = 0
        while (j < n) { acc += v.getDouble(j) * cv.getDouble(j); j += 1 }
        sims(i) = acc / (norm * cn)
      }
      i += 1
    }
    val order = Array.tabulate(k)(Integer.valueOf)
    java.util.Arrays.sort(order, (x: Integer, y: Integer) => {
      // scored first, then csim DESC with Spark float semantics, tie ->
      // smaller id
      val c =
        if (scored(x) != scored(y)) (if (scored(x)) -1 else 1)
        else java.lang.Double.compare(sims(y), sims(x))
      if (c != 0) c else java.lang.Long.compare(ids(x), ids(y))
    })
    val m = math.min(nprobe, k)
    val out = new Array[Long](m)
    i = 0
    while (i < m) { out(i) = ids(order(i)); i += 1 }
    ArrayData.toArrayData(out)
  }
}

/** Wide binary sign sketch in one native pass — ceil(dim/64) longs,
  * word w bit i = sign of v(64w+i). Value-identical to the interpreted
  * [[graft.operators.AnnOps.signBitsWide]] HOF chain (spec-pinned):
  * an element >= 0 sets its bit, and Spark's float ordering treats NaN
  * as larger than every value, so NaN sets its bit too; a NULL element
  * leaves its bit clear (the zip_with/when chain's otherwise-0); tail
  * bits beyond dim stay clear; a zero-dim vector sketches to an empty
  * array. The HOF form allocated a zip_with array + an aggregate fold
  * per WORD per row; this is one loop per vector. */
case class SignBitsWide(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_sign_bits_wide needs array<double>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SignBitsWide.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SignBitsWide.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): SignBitsWide =
    copy(child = newChild)

  override def prettyName: String = "graft_sign_bits_wide"
}

object SignBitsWide {
  def compute(v: ArrayData): ArrayData = {
    val dim = v.numElements()
    if (dim == 0) return ArrayData.toArrayData(Array.emptyLongArray)
    val nWords = (dim + 63) / 64
    val words = new Array[Long](nWords)
    var i = 0
    while (i < dim) {
      if (!v.isNullAt(i)) {
        val x = v.getDouble(i)
        // Spark comparison semantics: NaN > everything, -0.0 == 0.0
        if (x >= 0.0 || java.lang.Double.isNaN(x))
          words(i / 64) |= (1L << (i % 64))
      }
      i += 1
    }
    ArrayData.toArrayData(words)
  }
}
