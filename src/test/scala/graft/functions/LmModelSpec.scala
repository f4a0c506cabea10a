package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.QualityModelOps

/** [[LmModel.of]]'s driver-size bound: the limit+1 probe fails fast
  * past `maxRows`, naming the join-shape escape hatch, and loads the
  * full tables under the default. */
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
}
