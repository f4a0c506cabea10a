package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.QualityModelOps

/** Streaming DSIR is the batch scorer ([[QualityModelOps.dsirWeightsOf]])
  * over a MemoryStream: same rows, same doubles. */
class DsirStreamSpec extends SparkSpec {

  /** `rows` through a MemoryStream into the scorer, collected sorted. */
  private def streamed(rows: Seq[(Long, String)], name: String): Seq[Row] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = QualityModelOps.dsirModelFor(spark, sfDir)
    val stream = MemoryStream[(Long, String)]
    stream.addData(rows)
    val q = QualityModelOps.dsirWeightsOf(stream.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy("doc_id").collect().toSeq
  }

  private def docRows: Seq[(Long, String)] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
  }

  test("streaming DSIR rows equal the batch operator's, doubles exactly") {
    val got = streamed(docRows, "dsir_stream")
    val want = QualityModelOps.dsirWeights(spark, sfDir).collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("a null-text document is dropped in the stream as in batch") {
    import spark.implicits._
    val rows = docRows :+ ((-1L, null.asInstanceOf[String]))
    val got = streamed(rows, "dsir_stream_null")
    val batch: DataFrame = rows.toDF("doc_id", "text")
    val want = QualityModelOps.dsirWeightsOf(batch,
      QualityModelOps.dsirModelFor(spark, sfDir)).orderBy("doc_id").collect().toSeq
    assert(got == want)
    assert(got.length == docRows.length && !got.exists(_.getLong(0) == -1L))
  }
}
