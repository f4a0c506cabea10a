package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** The loader-seam control-whitespace contract (SURVEY §6): Java's
  * regex `\s` includes vertical tab (\x0B), RE2/DuckDB's does not, so
  * a corpus byte-stream containing VT would tokenize differently
  * across engines. [[Tables.documents]] closes the gap by mapping VT
  * to a plain space at ingest — every `\s+` operator downstream then
  * sees engine-independent token boundaries. */
class TablesVtSpec extends SparkSpec {

  test("documents loader maps vertical tab to a plain space at the seam") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vt").toString
    // doc 2 carries a VT between tokens; doc 3 a VT run mixed with
    // other whitespace — the adversarial bytes the caveat is about
    Seq(
      (1L, "src0", "en", "plain text no controls"),
      (2L, "src0", "en", "alpha\u000Bbeta gamma"),
      (3L, "src1", "de", "x\u000B\u000B y\t\u000Bz")
    ).toDF("doc_id", "source", "lang", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")

    val loaded = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap

    // no VT byte survives the seam
    loaded.values.foreach { case (t, _) => assert(!t.contains('\u000B'), t) }
    // Java-side token counts now equal what RE2's space-split would
    // see on the normalized text: VT acts as a separator on BOTH
    // engines because it IS a space after the seam
    assert(loaded(1L)._2 == 4)
    assert(loaded(2L)._1 == "alpha beta gamma" && loaded(2L)._2 == 3)
    assert(loaded(3L)._1 == "x   y\t z" && loaded(3L)._2 == 3)
  }

  test("replace is translate on VT inside ASCII and multi-byte text") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vt-replace").toString
    Seq(
      (1L, "ascii\u000Bonly\u000B\u000Bruns"),
      (2L, "café\u000Bnaïve…\u000B😀\u000B日本語"),
      (3L, "\u000Bé\u000B"),
      (4L, "no control bytes here é 😀"),
      (5L, ""),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text").write.mode(SaveMode.Overwrite).parquet(dir)
    val rows = spark.read.parquet(dir)
      .select(col("doc_id"),
        replace(col("text"), lit("\u000B"), lit(" ")).as("r"),
        translate(col("text"), "\u000B", " ").as("t"))
      .collect()
    assert(rows.length == 6)
    rows.foreach(r => assert(r.getString(1) == r.getString(2), r))
    assert(rows.find(_.getLong(0) == 2L).get.getString(1) == "café naïve… 😀 日本語")
  }

  test("a documents read plans no translate") {
    val plan = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("replace("), plan)
    assert(!plan.contains("translate"), plan)
  }

  test("driver-corpus reads are byte-identical through the seam") {
    // the seam must be a no-op on VT-free corpora (the driver data):
    // hash the text column raw vs through the loader
    val raw = Tables.table(spark, sfDir, "documents")
      .agg(sum(crc32(col("text"))).as("h")).head.getLong(0)
    val seamed = Tables.documents(spark, sfDir)
      .agg(sum(crc32(col("text"))).as("h")).head.getLong(0)
    assert(raw == seamed)
  }
}
