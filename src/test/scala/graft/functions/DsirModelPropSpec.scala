package graft.functions

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences,
  Expression, GenericInternalRow, InterpretedUnsafeProjection, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.operators.QualityModelOps

/** [[DsirModel.logWeight]], the fused gate's JVM fold, is bit-equal to
  * the Column fold batch and stream run
  * ([[QualityModelOps.dsirLogWeightOf]]), evaluated interpreted and
  * through generated code, on crafted models and histograms: (ct, cr)
  * ties across buckets with different m, buckets unseen in training,
  * no reference feature (`nt = None`) and single buckets. */
class DsirModelPropSpec extends SparkSpec {

  private val bm = AttributeReference("bm", ArrayType(StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("m", LongType, nullable = false))), containsNull = false))()

  /** The Column fold of `model`, bound to the `bm` array at ordinal 0. */
  private def foldExpr(model: DsirModel): Expression = {
    val p = GraftBridge.ofRows(spark, LocalRelation(bm))
      .select(QualityModelOps.dsirLogWeightOf(col("bm"), model))
      .queryExecution.analyzed.asInstanceOf[Project]
    BindReferences.bindReference(p.projectList.head: Expression, p.child.output)
  }

  private def bits(d: java.lang.Double): Option[Long] =
    Option(d).map(x => java.lang.Double.doubleToRawLongBits(x))

  /** (bucket, m) pairs, ascending by bucket as Md5BucketCounts emits. */
  private type Hist = Seq[(Int, Long)]

  /** A failure message for `model` over `hists`, or None. */
  private def mismatch(model: DsirModel, hists: Seq[Hist]): Option[String] = {
    val e = Seq(foldExpr(model))
    val projections: Seq[(String, UnsafeProjection)] = Seq(
      "interpreted" -> InterpretedUnsafeProjection.createProjection(e),
      "codegen" -> GenerateUnsafeProjection.generate(e))
    hists.iterator.flatMap { h =>
      val row = InternalRow(new GenericArrayData(
        h.map { case (b, m) => new GenericInternalRow(Array[Any](b, m)) }.toArray[Any]))
      val slots = new Array[Long](DsirModel.buckets)
      h.foreach { case (b, m) => slots(b) = m }
      val jvm = bits(model.logWeight(slots))
      projections.flatMap { case (name, p) =>
        val r = p(row)
        val col = if (r.isNullAt(0)) None
          else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(0)))
        if (col == jvm) None
        else Some(s"$name ${col.map(java.lang.Double.longBitsToDouble)} vs JVM " +
          s"${jvm.map(java.lang.Double.longBitsToDouble)} on $h (nt ${model.nt})")
      }
    }.toSeq.headOption
  }

  /** Counts from a tiny range so (ct, cr) pairs tie across buckets;
    * zero is a bucket unseen in training. */
  private val countGen: Gen[Long] =
    Gen.frequency(6 -> Gen.choose(0L, 3L), 1 -> Gen.choose(4L, 1000000L))

  private val modelGen: Gen[DsirModel] = for {
    ct <- Gen.listOfN(DsirModel.buckets, countGen)
    extra <- Gen.listOfN(DsirModel.buckets, countGen)
    noRef <- Gen.frequency(9 -> false, 1 -> true)
  } yield {
    val cts = if (noRef) Array.fill(DsirModel.buckets)(0L) else ct.toArray
    val crs = cts.zip(extra).map { case (t, x) => t + x }
    DsirModel(cts, crs, if (noRef) None else Some(cts.sum), crs.sum)
  }

  private val histGen: Gen[Hist] = for {
    n <- Gen.frequency(2 -> Gen.const(1), 5 -> Gen.choose(2, 40), 1 -> Gen.choose(41, 256))
    bs <- Gen.pick(n, 0 until DsirModel.buckets)
    ms <- Gen.listOfN(n, Gen.frequency(5 -> Gen.choose(1L, 3L), 1 -> Gen.choose(4L, 5000L)))
  } yield bs.sorted.zip(ms).toSeq

  test("JVM fold == Column fold, interpreted and codegen, on crafted models") {
    val prop = Prop.forAll(modelGen, Gen.listOfN(12, histGen)) { (model, hists) =>
      val bad = mismatch(model, hists)
      Prop(bad.isEmpty) :| bad.getOrElse("")
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60).withInitialSeed(16L), prop)
    assert(res.passed, res.status.toString)
  }

  test("edge cases: ties with different m, unseen buckets, no reference, one bucket") {
    val ct = Array.fill(DsirModel.buckets)(2L)
    val cr = Array.fill(DsirModel.buckets)(5L)
    (200 until DsirModel.buckets).foreach { b => ct(b) = 0L; cr(b) = 0L }
    val model = DsirModel(ct, cr, Some(ct.sum), cr.sum)
    val hists: Seq[Hist] = Seq(
      Seq(0 -> 3L, 1 -> 1L, 2 -> 2L, 7 -> 1L),       // one (ct, cr), m differs
      Seq(200 -> 2L, 255 -> 1L),                      // unseen buckets only
      Seq(3 -> 1L, 201 -> 4L),                        // seen and unseen
      Seq(42 -> 1L), Seq(250 -> 7L))                  // a single bucket
    assert(mismatch(model, hists).isEmpty, mismatch(model, hists))
    // an unseen bucket scores its add-one term, not 0
    val one = new Array[Long](DsirModel.buckets)
    one(255) = 1L
    assert(model.logWeight(one) > 0.0)

    val noRef = DsirModel(new Array[Long](DsirModel.buckets), cr, None, cr.sum)
    assert(mismatch(noRef, hists).isEmpty, mismatch(noRef, hists))
    assert(noRef.logWeight(one) == null)
  }

  test("no reference feature: a null weight, batch target_like null, fused false") {
    import spark.implicits._
    val cr = Array.fill(DsirModel.buckets)(5L)
    val model = DsirModel(new Array[Long](DsirModel.buckets), cr, None, cr.sum)
    val text = "alpha beta gamma"
    val batch = QualityModelOps.dsirWeightsOf(Seq((1L, text)).toDF("doc_id", "text"), model)
      .collect()
    assert(batch.length == 1 && batch.head.isNullAt(2) && batch.head.isNullAt(3))
    val art = EnsembleArtifacts(LmModel(Array.empty, Array(("\u0000", 1L))), model, Array.empty)
    assert(!art.score(UTF8String.fromString(text), null).getBoolean(3))
  }
}
