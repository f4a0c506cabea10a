package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.QualityModelOps

class DsirStreamSpec extends SparkSpec {

  test("streaming DSIR scores match the batch operator (1e-9) with identical flags") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sfDir)
    val model = QualityModelOps.dsirModelOf(docs)

    val stream = MemoryStream[(Long, String)]
    stream.addData(docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq)
    val q = EventStream.dsirScoreStream(
        stream.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("dsir_stream").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_features"), r.getAs[Double]("log_weight"),
          r.getAs[Boolean]("target_like")))).toMap
    val batch = QualityModelOps.dsirWeights(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_features"), r.getAs[Double]("log_weight"),
          r.getAs[Boolean]("target_like")))).toMap

    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (id, (nf, w, flag)) =>
      val (bnf, bw, bflag) = batch(id)
      assert(nf == bnf, s"doc $id n_features")
      // same per-bucket log ratios summed in a different fold order
      assert(math.abs(w - bw) < 1e-9, s"doc $id weight $w vs $bw")
      assert(flag == bflag, s"doc $id flag")
    }
  }
}
