package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.functions.DsirModel

/** [[QualityModelOps.dsirModelOf]], built over the native bucket-count
  * pass, against the string-md5 chain it replaced ([[DsirModelTwin]]),
  * and [[DsirModel.of]]'s reading of that frame. */
class DsirModelSpec extends SparkSpec {
  private val sf = sfDir.stripSuffix("sf0.001") + "sf0.01"

  private def counts(model: DataFrame): Map[Int, (Long, Option[Long])] =
    model.collect().map(r =>
      r.getAs[Int]("bucket") ->
        ((r.getAs[Long]("cr"), Option(r.getAs[java.lang.Long]("ct")).map(_.longValue)))
    ).toMap

  test("dsirModelOf rows equal the string-md5 twin's exactly on sf0.01") {
    val docs = Tables.documents(spark, sf)
    val model = QualityModelOps.dsirModelOf(docs)
    val twin = DsirModelTwin.of(docs)
    assert(model.schema.map(f => f.name -> f.dataType) ==
      twin.schema.map(f => f.name -> f.dataType))
    val got = counts(model)
    assert(got.nonEmpty && got.size <= DsirModel.buckets)
    assert(got == counts(twin))
    val m = DsirModel.of(model)
    assert(m.nr == got.values.map(_._1).sum)
    assert(m.nt.contains(got.values.flatMap(_._2).sum))
  }

  test("a corpus with no reference source gives the twin's null ct and no nt") {
    val docs = Tables.documents(spark, sf)
      .filter(!col("source").isin(QualityModelOps.refSources: _*))
    val model = QualityModelOps.dsirModelOf(docs)
    val got = counts(model)
    assert(got.nonEmpty && got.values.forall(_._2.isEmpty))
    assert(got == counts(DsirModelTwin.of(docs)))
    assert(DsirModel.of(model).nt.isEmpty)
  }

  test("a (bucket, log_ratio) table of an earlier build is rejected by name") {
    import spark.implicits._
    val old = Seq(("00", -0.5), ("ff", 0.25)).toDF("bucket", "log_ratio")
    val e = intercept[IllegalArgumentException](DsirModel.of(old))
    assert(e.getMessage.contains("(bucket, log_ratio)"), e.getMessage)
    assert(e.getMessage.contains("bucket string, log_ratio double"), e.getMessage)
  }
}
