package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.QualityModelOps

class QualityEnsembleStreamSpec extends SparkSpec {

  test("replayed docs re-emit the batch verdict through the fused scorer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sfDir)
    val art = QualityModelOps.ensembleArtifactsFor(spark, sfDir)
    val rows = docs.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().toSeq.take(60)
    val replayed = rows.take(20) // an at-least-once source re-delivers a third

    val stream = MemoryStream[(Long, String, String)]
    val q = EventStream.qualityEnsembleStreamFused(
        stream.toDF().toDF("doc_id", "lang", "text"), art)
      .writeStream.format("memory").queryName("qes_replay")
      .outputMode("append").start()
    try {
      stream.addData(rows); q.processAllAvailable()
      stream.addData(replayed); q.processAllAvailable() // the replay batch
    } finally q.stop()

    def verdict(r: org.apache.spark.sql.Row) =
      (r.getAs[Boolean]("gopher_keep"), Option(r.getAs[java.lang.Boolean]("rep_flag")),
        r.getAs[String]("ppl_bucket"), r.getAs[Boolean]("target_like"),
        Option(r.getAs[java.lang.Boolean]("keep")))
    val batch = QualityModelOps.qualityEnsemble(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> verdict(r)).toMap

    // the scorer is stateless: a replayed doc is emitted once per
    // delivery, every time with the verdict the batch gate reaches
    val replayedIds = replayed.map(_._1).toSet
    val perDoc = spark.table("qes_replay").collect().groupBy(_.getAs[Long]("doc_id"))
    assert(perDoc.size == rows.size)
    perDoc.foreach { case (id, rs) =>
      assert(rs.length == (if (replayedIds(id)) 2 else 1), s"doc $id emitted ${rs.length} rows")
      assert(rs.map(verdict).distinct.toSeq == Seq(batch(id)), s"doc $id verdicts vs batch")
    }
  }

  test("map-side repetition struct equals the batch aggregation per doc") {
    val docs = graft.Tables.documents(spark, sfDir)
    val mapSide = docs
      .withColumn("r", graft.functions.TextFunctions.repetitionStructCol)
      .select(col("doc_id"), col("r.dup_word_frac").as("dup_word_frac"),
        col("r.top_bigram_frac").as("top_bigram_frac"),
        col("r.flagged").as("flagged"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), Option(r.getAs[java.lang.Double](2)),
          Option(r.getAs[java.lang.Boolean](3))))).toMap
    val batch = graft.functions.TextFunctions.repetitionScore(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), Option(r.getAs[java.lang.Double](2)),
          Option(r.getAs[java.lang.Boolean](3))))).toMap
    assert(mapSide.keySet == batch.keySet)
    mapSide.foreach { case (id, v) =>
      assert(v == batch(id), s"doc $id: map-side $v vs batch ${batch(id)}")
    }
  }
}
