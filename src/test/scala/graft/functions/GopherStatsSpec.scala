package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Value-identity pins for the native Gopher kernel ([[GopherStats]])
  * against the interpreted rule chain it replaced
  * ([[GopherStatsTwin]]), field by field, on the sf0.01 corpus and on
  * the tokenization seams the kernel re-implements; plus the
  * ensemble's `gopher_keep`, which calls the same kernel. */
class GopherStatsSpec extends SparkSpec {

  import spark.implicits._

  private val sf01 = sfDir.stripSuffix("sf0.001") + "sf0.01"

  private val fieldNames = GopherStats.schema.fieldNames.toSeq

  /** Seams: empty and space-only text; leading/trailing tab, newline,
    * VT, FF, CR (space-only trim keeps their empty tokens); non-ASCII
    * letters and whitespace Java's `\s` does not class as such; `…`
    * and `#` runs; supplementary code points; repeated and
    * case-variant stopwords; null text; and docs long enough to pass. */
  private val edgeCases: Seq[(Long, String)] = Seq(
    1L -> "",
    2L -> " ",
    3L -> "     ",
    4L -> "\tleading tab",
    5L -> "trailing tab\t",
    6L -> "\nnewlines both ends\n",
    7L -> "\u000Bvertical tab ends\u000B",
    8L -> "\fform feed\f",
    9L -> "carriage\r return\r",
    10L -> " \t mixed \r\n\u000B\f runs \t ",
    11L -> "\t",
    12L -> "\r\n",
    13L -> "é",
    14L -> "café naïve ñandú éé über",
    15L -> "no break　ideographic line sep",
    16L -> "……… ### #…# …x x# #",
    17L -> ("# " * 30 + "… " * 30).trim,
    18L -> "😀 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 text 😀😀 a𝔘b",
    19L -> "the the The THE a A an An of Of OF to and in that this with with",
    20L -> ("the of and to words here " * 12).trim,
    21L -> ("quality text with the usual words of english prose " * 8).trim,
    22L -> null,
    23L -> "x",
    24L -> "the",
    25L -> ("a " * 60).trim,
    26L -> ("antidisestablishmentarianism " * 55).trim)

  private def fields(df: DataFrame, g: org.apache.spark.sql.Column): DataFrame =
    df.select(col("doc_id") +: fieldNames.map(f => g.getField(f).as(f)): _*)

  /** Kernel and twin over `df`, keyed by doc_id, fields in schema order. */
  private def both(df: DataFrame): (Map[Long, Row], Map[Long, Row]) = {
    def byId(d: DataFrame) = d.collect().map(r => r.getLong(0) -> r).toMap
    (byId(fields(df, GraftFunctions.gopherStats(col("text")))),
      byId(fields(df, GopherStatsTwin.col(col("text")))))
  }

  private def assertFieldIdentity(kernel: Map[Long, Row], twin: Map[Long, Row]): Unit = {
    assert(kernel.keySet == twin.keySet)
    kernel.foreach { case (id, k) =>
      val t = twin(id)
      fieldNames.indices.foreach { i =>
        assert(k.get(i + 1) == t.get(i + 1),
          s"doc $id field ${fieldNames(i)}: kernel ${k.get(i + 1)} vs twin ${t.get(i + 1)}")
      }
    }
  }

  /** The edge cases as a Parquet-backed frame, so both columns run
    * through whole-stage codegen rather than local-relation folding. */
  private def edgeFrame: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-gopher").toString
    edgeCases.toDF("doc_id", "text").write.mode(SaveMode.Overwrite).parquet(dir)
    spark.read.parquet(dir)
  }

  test("kernel struct has the twin's field names, types and nullability") {
    val docs = graft.Tables.documents(spark, sfDir)
    assert(docs.select(GraftFunctions.gopherStats(col("text"))).schema.head.dataType ==
      docs.select(GopherStatsTwin.col(col("text"))).schema.head.dataType)
    assert(TextFunctions.gopherFilter(spark, sfDir).schema.fields.toSeq ==
      docs.withColumn("g", GopherStatsTwin.col(col("text")))
        .select(col("doc_id"), col("g.*")).schema.fields.toSeq)
  }

  test("every field equals the twin's on the sf0.01 corpus") {
    val docs = graft.Tables.documents(spark, sf01).select("doc_id", "text")
    val (kernel, twin) = both(docs)
    assert(kernel.size == docs.count() && kernel.nonEmpty)
    assertFieldIdentity(kernel, twin)
    // the gate discriminates on this corpus, so the identity is not vacuous
    val keeps = kernel.values.map(_.getAs[Boolean]("keep")).toSet
    assert(keeps == Set(true, false))
  }

  test("every field equals the twin's on the tokenization edge cases") {
    val (kernel, twin) = both(edgeFrame)
    assert(kernel.size == edgeCases.size)
    assertFieldIdentity(kernel, twin)
    // the fixtures reach both sides of every rule
    Seq("ok_words", "ok_mean_len", "ok_alpha", "ok_symbol", "ok_stop", "keep").foreach { f =>
      val seen = kernel.values.flatMap(r => Option(r.getAs[java.lang.Boolean](f))).toSet
      assert(seen.size == 2, s"$f only ever $seen")
    }
  }

  test("interpreted eval equals codegen on the edge cases") {
    val codegen = fields(edgeFrame, GraftFunctions.gopherStats(col("text"))).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    edgeCases.foreach { case (id, text) =>
      val row = GopherStats(Literal.create(text, StringType)).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val interpreted = GopherStats.schema.fields.indices.map(i =>
        if (row.isNullAt(i)) null else row.get(i, GopherStats.schema(i).dataType))
      assert(interpreted == codegen(id), s"doc $id")
    }
  }

  test("null text yields a struct of nulls, as the twin did") {
    val r = edgeFrame.filter(col("text").isNull)
      .select(GraftFunctions.gopherStats(col("text")), GopherStatsTwin.col(col("text")))
      .head()
    assert(!r.isNullAt(0) && !r.isNullAt(1))
    assert(r.getStruct(0) == r.getStruct(1))
    assert(fieldNames.indices.forall(r.getStruct(0).isNullAt))
  }

  test("the ensemble's gopher_keep equals the kernel's keep") {
    // gopher_keep reads no trained artifact, so a one-word model will do
    val art = EnsembleArtifacts(LmModel(Array.empty, Array(("\u0000", 1L))),
      DsirModel(new Array[Long](256), new Array[Long](256), None, 0L), Array.empty)
    val docs = graft.Tables.documents(spark, sf01).select("doc_id", "text")
      .unionByName(edgeFrame.filter(col("text").isNotNull))
    val rows = docs.select(
        GraftFunctions.qualityEnsemble(col("text"), lit(null).cast("string"), art)
          .getField("gopher_keep"),
        GraftFunctions.gopherStats(col("text")).getField("keep"))
      .collect()
    assert(rows.length == docs.count())
    rows.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), r))
    assert(rows.map(_.getBoolean(0)).toSet == Set(true, false))
  }

  // ------------------------------------------------ malformed UTF-8

  private def stats(bytes: Int*): Map[String, Any] = {
    val row = GopherStats.compute(UTF8String.fromBytes(bytes.map(_.toByte).toArray))
    GopherStats.schema.fields.zipWithIndex.map { case (f, i) =>
      f.name -> row.get(i, f.dataType)
    }.toMap
  }

  private def twinOnBytes(bytes: Int*): Row =
    Seq(bytes.map(_.toByte).toArray).toDF("b")
      .select(GopherStatsTwin.col(col("b").cast("string")).as("g"))
      .select(fieldNames.map(f => col("g").getField(f)): _*)
      .head()

  test("malformed UTF-8: word boundaries and word rules follow the bytes") {
    // 0xFF is never valid: the byte stays inside its word, and words,
    // letters and stopwords agree with the twin, which decodes it to U+FFFD
    val s = stats('a', 'b', 0xff, ' ', 't', 'h', 'e', '\t', 0xc3, ' ', 'o', 'f')
    assert(s("n_words") == 4 && s("n_stop") == 2)
    assert(s("alpha_frac") == 0.75)
    val t = twinOnBytes('a', 'b', 0xff, ' ', 't', 'h', 'e', '\t', 0xc3, ' ', 'o', 'f')
    assert(t.getInt(0) == 4 && t.getInt(4) == 2 && t.getDouble(2) == 0.75)
  }

  test("malformed UTF-8: lengths count lead bytes, `…` is the byte triple") {
    // a stray continuation byte is not a code point to the kernel; the
    // twin decoded it to one U+FFFD
    val s = stats('a', 'b', 0x80, 'c', 'd', ' ', 'e', 'f')
    assert(s("mean_word_len") == 3.0)
    assert(twinOnBytes('a', 'b', 0x80, 'c', 'd', ' ', 'e', 'f').getDouble(1) == 3.5)
    // a truncated `…` (E2 80) is one lead byte and no symbol
    val u = stats('x', ' ', 0xe2, 0x80)
    assert(u("mean_word_len") == 1.0 && u("symbol_ratio") == 0.0)
    // a 4-byte lead before ASCII: the kernel counts two code points and
    // no symbol; the twin's raw-minus-decoded length went negative
    val v = stats(0xf0, 'A')
    assert(v("n_words") == 1 && v("mean_word_len") == 2.0 && v("symbol_ratio") == 0.0)
    assert(twinOnBytes(0xf0, 'A').getDouble(3) == -1.0)
    // on the well-formed encoding the two agree again
    val w = stats(0xe2, 0x80, 0xa6, ' ', '#')
    assert(w("symbol_ratio") == 1.0 && w("mean_word_len") == 1.0)
  }

  test("SQL surface: graft_gopher_stats is registered") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_gopher_stats('the of and').n_stop AS n").head()
    assert(r.getInt(0) == 3)
  }
}
