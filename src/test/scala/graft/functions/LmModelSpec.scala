package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.QualityModelOps

/** [[LmModel.of]]'s driver-size bound: the limit+1 probe fails fast
  * past `maxRows`, naming the join-shape escape hatch, and loads the
  * full tables under the default. A model with an empty context table
  * scores no document: a null mean, as the batch fold's log(0). */
class LmModelSpec extends SparkSpec {
  private val sf = sfDir.stripSuffix("sf0.001") + "sf0.01"

  test("LmModel.of throws past maxRows naming lmScoreStreamJoin, and the default passes") {
    val (cb, cw) = QualityModelOps.lmModelOf(Tables.documents(spark, sf))
    val nCb = cb.count()
    val nCw = cw.count()
    assert(nCw <= nCb) // every context word heads at least one bigram

    val e = intercept[IllegalArgumentException](LmModel.of(cb, cw, maxRows = (nCb - 1).toInt))
    assert(e.getMessage.contains("lmScoreStreamJoin"), e.getMessage)
    assert(e.getMessage.contains("bigram table"), e.getMessage)

    // exactly at the bound the probe sees no extra row
    assert(LmModel.of(cb, cw, maxRows = nCb.toInt).cbPairs.length == nCb)

    val m = LmModel.of(cb, cw)
    assert(m.cbPairs.length == nCb && m.v == nCw)
  }

  test("a model trained on one-word documents scores a null mean and does not throw") {
    import spark.implicits._
    val docs = Seq(("src0", "alpha"), ("src1", "beta")).toDF("source", "text")
    val (cb, cw) = QualityModelOps.lmModelOf(docs)
    val m = LmModel.of(cb, cw)
    assert(m.v == 0L && m.cbPairs.isEmpty)

    val text = org.apache.spark.unsafe.types.UTF8String.fromString("alpha beta gamma")
    val r = m.score(text)
    assert(r.getLong(0) == 2L && r.isNullAt(1))

    // the fused gate puts the unscorable document in `unscored`
    val art = EnsembleArtifacts(m, DsirModel.of(QualityModelOps.dsirModelOf(docs)),
      Array(("en", -5.0, -1.0)))
    val verdict = art.score(text, org.apache.spark.unsafe.types.UTF8String.fromString("en"))
    assert(verdict.getUTF8String(2).toString == "unscored")
  }
}
