package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** [[QualityModelOps.dsirModelOf]], built over the native bucket-count
  * pass, against the string-md5 chain it replaced ([[DsirModelTwin]]). */
class DsirModelSpec extends SparkSpec {
  private val sf = sfDir.stripSuffix("sf0.001") + "sf0.01"

  private def ratios(model: DataFrame): Map[String, Option[Double]] =
    model.collect().map(r =>
      r.getString(0) -> Option(r.getAs[java.lang.Double](1)).map(_.doubleValue)).toMap

  test("dsirModelOf rows equal the string-md5 twin's exactly on sf0.01") {
    val docs = Tables.documents(spark, sf)
    val model = QualityModelOps.dsirModelOf(docs)
    val twin = DsirModelTwin.of(docs)
    assert(model.schema == twin.schema)
    val got = ratios(model)
    val want = ratios(twin)
    assert(got.size == QualityModelOps.dsirBuckets)
    assert(got.keySet == want.keySet)
    got.foreach { case (b, r) =>
      assert(r.isDefined && r == want(b), s"bucket $b: $r vs ${want(b)}")
    }
  }

  test("a corpus with no reference source gives the twin's null log ratios") {
    val docs = Tables.documents(spark, sf)
      .filter(!col("source").isin(QualityModelOps.refSources: _*))
    val got = ratios(QualityModelOps.dsirModelOf(docs))
    assert(got.size == QualityModelOps.dsirBuckets)
    assert(got.values.forall(_.isEmpty))
    assert(got == ratios(DsirModelTwin.of(docs)))
  }
}
