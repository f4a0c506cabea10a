package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.QualityModelOps

class LmStreamSpec extends SparkSpec {

  test("streaming LM scores equal the batch operator's bit for bit, nulls included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sfDir)
    val (cb, cw) = QualityModelOps.lmModelOf(docs)

    val stream = MemoryStream[(Long, String)]
    stream.addData(docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq)
    val q = QualityModelOps.lmScoresOf(
        stream.toDF().toDF("doc_id", "text"), graft.functions.LmModel.of(cb, cw))
      .writeStream.format("memory").queryName("lm_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id") ->
      ((if (r.isNullAt(1)) -1L else r.getAs[Long]("n_bigrams"),
        if (r.isNullAt(2)) Double.NaN else r.getAs[Double]("mean_log_prob")))
    val streamed = spark.table("lm_stream").collect().map(key).toMap
    val batch = QualityModelOps.lmPerplexity(spark, sfDir).collect().map(key).toMap

    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (id, (nb, s)) =>
      val (bnb, bs) = batch(id)
      assert(nb == bnb, s"doc $id n_bigrams $nb vs $bnb")
      if (bs.isNaN) assert(s.isNaN, s"doc $id expected null score")
      // one LM fold: the batch operator's terms, sort order and log
      else assert(java.lang.Double.doubleToRawLongBits(s) ==
        java.lang.Double.doubleToRawLongBits(bs), s"doc $id score $s vs $bs")
    }
  }

  test("join-variant scores equal the map-fold scorer on scoreable docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sfDir)
    val (cb, cw) = QualityModelOps.lmModelOf(docs)

    val stream = MemoryStream[(Long, String)]
    stream.addData(docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq)
    val q = EventStream.lmScoreStreamJoin(
        stream.toDF().toDF("doc_id", "text"), cb, cw)
      .writeStream.format("memory").queryName("lm_stream_join")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()

    val joined = spark.table("lm_stream_join").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batch = QualityModelOps.lmPerplexity(spark, sfDir).collect()
      .filter(!_.isNullAt(1))
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // join variant emits exactly the >=1-bigram documents
    assert(joined.keySet == batch.keySet)
    joined.foreach { case (id, (nb, s)) =>
      val (bnb, bs) = batch(id)
      assert(nb == bnb && math.abs(s - bs) < 1e-9, s"doc $id: ($nb,$s) vs ($bnb,$bs)")
    }
  }
}
