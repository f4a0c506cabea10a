package graft

import org.apache.spark.sql.SaveMode

/** The [[Tables.table]] contract: a path's schema is inferred once per
  * session, files are listed on every read. */
class TablesSchemaSpec extends SparkSpec {

  private def freshTable(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    rows.toDF("id", "v").write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    dir
  }

  test("a second read of one path launches no Spark job") {
    val dir = freshTable(Seq(1L -> "a", 2L -> "b"))
    val (first, inferJobs) = JobCounter(spark)(Tables.table(spark, dir, "t"))
    assert(inferJobs >= 1, "the first read infers the schema with a job")
    val (second, jobs) = JobCounter(spark)(Tables.table(spark, dir, "t"))
    assert(jobs == 0, s"second read launched $jobs jobs")
    assert(second.schema == first.schema)
    assert(second.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("rows overwritten at the path with the same schema are seen") {
    import spark.implicits._
    val dir = freshTable(Seq(1L -> "a"))
    assert(Tables.table(spark, dir, "t").count() == 1L)
    Seq(5L -> "x", 6L -> "y", 7L -> "z").toDF("id", "v")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    val after = Tables.table(spark, dir, "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    assert(after == Seq(5L -> "x", 6L -> "y", 7L -> "z"))
  }

  test("a new session infers the schema again") {
    val dir = freshTable(Seq(1L -> "a"))
    Tables.table(spark, dir, "t")
    val other = spark.newSession()
    val (_, jobs) = JobCounter(other)(Tables.table(other, dir, "t"))
    assert(jobs >= 1, "a new session must not reuse another session's schema")
    val (_, again) = JobCounter(other)(Tables.table(other, dir, "t"))
    assert(again == 0)
  }
}
