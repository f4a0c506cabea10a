package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal,
  StringSplit, StringTrim, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.expressions.InterpretedUnsafeProjection
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The shared word boundary ([[Words]]) against Spark's own split, on
  * arbitrary bytes: [[Words.split]] must equal `split(trim(s), "\\s+")`
  * and [[Words.spaceSpans]] `split(s, " ")`, word for word, with Spark
  * evaluated both interpreted and through generated code. Every native
  * text kernel reads its words here, so this is their one tokenizer
  * pin; the kernel specs pin what each does with the words. */
class WordsPropSpec extends SparkSpec {

  private val text = BoundReference(0, StringType, nullable = false)
  private val wsSplit: Expression =
    StringSplit(StringTrim(text), Literal("\\s+"), Literal(-1))
  private val spaceSplit: Expression =
    StringSplit(text, Literal(" "), Literal(-1))
  // the chunker at width 1 emits exactly its words: the kernel path,
  // evaluated both ways, next to the module call
  private val chunks1: Expression = ChunkStrings(text, 1)

  private val exprs = Seq(wsSplit, spaceSplit, chunks1)
  private lazy val interpreted: UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(exprs)
  private lazy val generated: UnsafeProjection = GenerateUnsafeProjection.generate(exprs)

  private def words(p: UnsafeProjection, s: UTF8String): Seq[Seq[String]] = {
    val r = p(InternalRow(s))
    exprs.indices.map { i =>
      val a = r.getArray(i)
      (0 until a.numElements()).map(a.getUTF8String(_).toString)
    }
  }

  /** Every check for one input; returns a failure message, or None. */
  private def mismatch(bytes: Array[Byte]): Option[String] = {
    val s = UTF8String.fromBytes(bytes)
    val show = bytes.map(b => f"${b & 0xff}%02x").mkString(" ")
    val i = words(interpreted, s)
    val g = words(generated, s)
    val ws = Words.split(s).toSeq
    val sp = Words.spaceSpans(s, 0)
    val spans = (0 until sp.count).map(j => sp.view(j, j + 1))
    val joined = Words.joined(Words.split(s))
    if (i != g) Some(s"[$show] interpreted $i vs codegen $g")
    else if (ws != i(0)) Some(s"[$show] Words.split $ws vs split(trim) ${i(0)}")
    else if (i(2) != i(0)) Some(s"[$show] ChunkStrings(1) ${i(2)} vs split(trim) ${i(0)}")
    else if (spans.map(_.toString) != i(1))
      Some(s"[$show] spaceSpans ${spans.map(_.toString)} vs split(s, \" \") ${i(1)}")
    else if (Words.spaceSpans(s, sp.count + 1) != null)
      Some(s"[$show] spaceSpans below its minimum is not null")
    else if (s.isValid && spans.map(_.toString.getBytes(UTF_8).toSeq) !=
        spans.map(_.getBytes.toSeq))
      Some(s"[$show] valid UTF-8 span bytes differ from the word bytes")
    else if ((0 until joined.count).map(j => joined.view(j, j + 1).toString) != ws ||
        joined.view(0, joined.count).toString != ws.mkString(" "))
      Some(s"[$show] joined buffer differs from the words joined by spaces")
    else None
  }

  private def utf8(parts: String*): Array[Byte] = parts.mkString.getBytes(UTF_8)

  test("edge cases: leading/trailing \\s, mixed runs, empty, all-space, NBSP, malformed") {
    val cases: Seq[Array[Byte]] =
      Seq("\t", "\n", "\u000B", "\f", "\r").flatMap(c =>
        Seq(utf8(c, "ab cd"), utf8("ab cd", c), utf8(c, " ab ", c))) ++
      Seq(
        utf8("a \t\n\u000B\f\r b"), utf8("  a\r\n\r\nb  "), utf8("\t \t"),
        utf8(""), utf8(" "), utf8("     "),
        utf8("a\u00A0b\u2003c"), utf8("\u00A0a\u00A0"), utf8("\u2003"), utf8(" \u2003 "),
        Array('a', 'b', 0xff, ' ', 'c', 'd', '\t', 0xc3, ' ', 'e').map(_.toByte),
        Array(0xe2, ' ', 0x80, 0x80, ' ', 0xe2, 0x80).map(_.toByte),
        Array(' ', 0xfe, '\n', ' ').map(_.toByte))
    cases.foreach(b => mismatch(b).foreach(m => fail(m)))
  }

  private val pieceGen: Gen[Array[Byte]] = Gen.frequency(
    6 -> Gen.oneOf("a", "bc", "the", "émile", "日本", "Ω", "x9").map(utf8(_)),
    4 -> Gen.oneOf(" ", "  ", "\t", "\n", "\u000B", "\f", "\r", " \t", "\r\n").map(utf8(_)),
    1 -> Gen.oneOf("\u00A0", "\u2003", "").map(utf8(_)),
    1 -> Gen.oneOf(0xff, 0xfe, 0xc3, 0x80, 0xe2).map(b => Array(b.toByte)))

  private val bytesGen: Gen[Array[Byte]] = for {
    n <- Gen.choose(0, 10)
    ps <- Gen.listOfN(n, pieceGen)
  } yield ps.toArray.flatten

  test("Words == Spark's split on arbitrary bytes, interpreted and codegen") {
    val prop = Prop.forAll(Gen.listOfN(25, bytesGen)) { inputs =>
      val bad = inputs.flatMap(mismatch)
      Prop(bad.isEmpty) :| bad.headOption.getOrElse("")
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200).withInitialSeed(13L), prop)
    assert(res.passed, res.status.toString)
  }
}
