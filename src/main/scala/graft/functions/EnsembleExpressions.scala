package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The full CCNet/RefinedWeb quality-ensemble gate as ONE native
  * per-row scorer — the ingest-speed shape of
  * [[graft.operators.QualityModelOps.qualityEnsemble]].
  *
  * Every trained artifact (the bigram-LM count tables, the
  * [[DsirModel]], the per-language perplexity cutoffs) is collapsed into a
  * value that ships inside the expression tree — the
  * [[graft.functions.BpeModel]] pattern: at production scale the
  * models are a few MB of standing artifact riding the task closure
  * like a broadcast small side, and scoring a document is one JVM
  * loop with O(1) hash-map probes per feature. No explode, no joins,
  * no aggregation state: the streaming gate becomes a stateless
  * projection that runs at scan speed on every executor.
  *
  * Semantics are the batch gate's, signal by signal (the spec pins
  * verdict rows identical to [[graft.operators.QualityModelOps
  * .qualityEnsemble]]):
  *  - The Gopher shape verdict calls [[GopherStats]], the kernel
  *    behind [[TextFunctions.gopherStructCol]]; the repetition flag
  *    mirrors `repetitionStructCol` over [[Words.split]]'s words
  *    (three-valued `flagged` when a doc has no bigram).
  *  - The LM mean-log-prob is [[LmModel.meanLogProb]], the one LM
  *    fold, so the rounded score is bit-identical to
  *    [[graft.operators.QualityModelOps.lmPerplexity]].
  *  - The DSIR weight is [[DsirModel.logWeight]] over
  *    [[Md5BucketCounts]]' 256-slot histogram: the batch fold's terms
  *    in its ascending (ct, cr, m) order, so the 6dp weight is
  *    bit-identical to [[graft.operators.QualityModelOps.dsirWeightsOf]]'s
  *    and `target_like` is its sign. A null weight (no reference
  *    feature in training) is not target-like, as the batch gate's
  *    coalesce reads it.
  *
  * Only the Gopher call, the repetition flag, the cutoff lookup and
  * the keep conjunction live here; words, features and the LM and
  * DSIR folds are the shared kernels'.
  */
final case class EnsembleArtifacts(
    lm: LmModel,
    dsir: DsirModel,
    cutTriples: Array[(String, Double, Double)]) extends Serializable {

  @transient private lazy val cuts: java.util.HashMap[String, (Double, Double)] = {
    val m = new java.util.HashMap[String, (Double, Double)](cutTriples.length * 2)
    cutTriples.foreach { case (l, lo, hi) => m.put(l, (lo, hi)) }
    m
  }

  private val unscored = UTF8String.fromString("unscored")
  private val head = UTF8String.fromString("head")
  private val middle = UTF8String.fromString("middle")
  private val tail = UTF8String.fromString("tail")

  /** Score one document; called from generated code. `langU` may be
    * null (a missing language buckets to `tail` like the batch gate's
    * unmatched left join). */
  def score(textU: UTF8String, langU: UTF8String): InternalRow = {
    // ---- Gopher shape rules: the one kernel (null-free for non-null text)
    val gopherKeep = GopherStats.compute(textU).getBoolean(GopherStats.KeepOrdinal)

    val ws = Words.split(textU)
    val nWords = ws.length
    val distinct = new java.util.HashSet[String](nWords * 2)
    var i = 0
    while (i < nWords) {
      distinct.add(ws(i))
      i += 1
    }
    val bgCounts = LmModel.bigramCounts(ws)
    val nBigrams = nWords - 1

    // ---- repetition flag (TextFunctions.repetitionStructCol), with
    // the batch three-valued semantics when the doc has no bigram
    var repFlag: java.lang.Boolean = null
    if (1.0 - distinct.size / nWords.toDouble > TextFunctions.dupWordFracMax)
      repFlag = java.lang.Boolean.TRUE
    else if (nBigrams >= 1) {
      var maxMult = 0L
      val it = bgCounts.values().iterator()
      while (it.hasNext) {
        val m = it.next()(0)
        if (m > maxMult) maxMult = m
      }
      repFlag = java.lang.Boolean.valueOf(
        maxMult.toDouble / nBigrams > TextFunctions.topBigramFracMax)
    }

    // ---- LM mean log-prob: the one LM fold, cut per language; no
    // score (no bigram, or no context table) is `unscored`
    var bucket: UTF8String = tail
    val mlp = if (nBigrams == 0) null else lm.meanLogProb(bgCounts, nBigrams)
    if (mlp == null) bucket = unscored
    else {
      val cut = if (langU == null) null else cuts.get(langU.toString)
      if (cut != null) {
        if (mlp >= cut._2) bucket = head
        else if (mlp >= cut._1) bucket = middle
      }
    }

    // ---- DSIR target-likeness: the sign of the one DSIR fold
    val lw = dsir.logWeight(Md5BucketCounts.histogram(Words.utf8(ws)))
    val targetLike = lw != null && lw.doubleValue > 0.0

    // ---- keep: three-valued conjunction, exactly Spark's && chain
    val notTail = !bucket.equals(tail)
    val keep: java.lang.Boolean =
      if (!gopherKeep || !notTail || (repFlag != null && repFlag.booleanValue()))
        java.lang.Boolean.FALSE
      else if (repFlag == null) null
      else java.lang.Boolean.TRUE

    new GenericInternalRow(Array[Any](gopherKeep, repFlag, bucket, targetLike, keep))
  }
}

object EnsembleArtifacts {
  /** Collapse the trained standing frames into the closure value —
    * vocabulary-sized artifact loads, the [[graft.ArtifactStore]]
    * class of driver-side collect (bounded by the trained model, never
    * by the corpus). `cb`/`cw` are [[graft.operators.QualityModelOps
    * .lmModelOf]]'s tables, loaded through [[LmModel.of]] and its row
    * bound; `pplCuts` is `pplCutsOf`; the DSIR model is `dsirModelOf`'s
    * frame, loaded through [[DsirModel.of]]. */
  def of(cb: org.apache.spark.sql.DataFrame, cw: org.apache.spark.sql.DataFrame,
      pplCuts: org.apache.spark.sql.DataFrame,
      dsirModel: org.apache.spark.sql.DataFrame): EnsembleArtifacts =
    of(LmModel.of(cb, cw), pplCuts, DsirModel.of(dsirModel))

  /** The same from models already collected. */
  def of(lm: LmModel, pplCuts: org.apache.spark.sql.DataFrame,
      dsir: DsirModel): EnsembleArtifacts = {
    val cutsP = pplCuts.select("lang", "c_low", "c_high").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    EnsembleArtifacts(lm, dsir, cutsP)
  }
}

/** `graft_quality_ensemble(text, lang)` — the per-document quality
  * verdict struct under the artifacts captured at plan time. Null text
  * yields a null struct (the gates' contract is text non-null); null
  * lang scores with no perplexity cutoffs, like the batch left join. */
case class QualityEnsembleScore(left: Expression, right: Expression,
    artifacts: EnsembleArtifacts) extends BinaryExpression {

  override def dataType: DataType = QualityEnsembleScore.schema

  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_quality_ensemble needs (string, string), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def eval(input: InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) null
    else artifacts.score(t.asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ensembleArtifacts", artifacts,
      classOf[EnsembleArtifacts].getName)
    val tEv = left.genCode(ctx)
    val lEv = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${tEv.code}
        ${lEv.code}
        boolean ${ev.isNull} = ${tEv.isNull};
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $ref.score(${tEv.value},
            ${lEv.isNull} ? null : ${lEv.value});
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QualityEnsembleScore =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_quality_ensemble"
}

object QualityEnsembleScore {
  val schema: StructType = StructType(Seq(
    StructField("gopher_keep", BooleanType, nullable = false),
    StructField("rep_flag", BooleanType, nullable = true),
    StructField("ppl_bucket", StringType, nullable = false),
    StructField("target_like", BooleanType, nullable = false),
    StructField("keep", BooleanType, nullable = true)))
}
