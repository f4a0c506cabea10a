package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The one word boundary of the native text kernels, and the one
  * feature hash they share. Every kernel that reads words calls this
  * module; none carries its own split, trim or digest (a source-scan
  * spec keeps it that way).
  *
  * Two word definitions exist, one per operator family:
  *  - [[split]] is `split(trim(text), "\s+")` — the curation
  *    operators' word, and DuckDB's `string_split_regex(trim(text),
  *    '\s+')` on the oracle side (SURVEY §6);
  *  - [[spaceSpans]] is `split(text, " ")` — the dedup shingles' word,
  *    found as byte spans of the input with no decode.
  *
  * [[GopherStats]] and [[SimHash64]] scan bytes on their own: the first
  * needs per-word counts but no word strings, the second one hash per
  * word and no span arrays. */
object Words {
  // compiled once: String.split("\\s+") would recompile it per document
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** `split(trim(s), "\s+")` exactly: Spark's `trim` strips the space
    * character only, then a Java-regex `\s+` split with limit -1 (the
    * `split` default), which keeps the empty token a leading or
    * trailing tab, LF, VT, FF or CR leaves and yields [""] for an empty
    * or all-space string. Java's `\s` is ASCII only, so U+00A0 and
    * U+2003 stay inside their word.
    *
    * The text is decoded once, so each invalid UTF-8 sequence is
    * U+FFFD in the words — as in the interpreted split, which decodes
    * the same way. */
  def split(s: UTF8String): Array[String] = {
    val str = s.toString
    var b0 = 0
    var e0 = str.length
    while (b0 < e0 && str.charAt(b0) == ' ') b0 += 1
    while (e0 > b0 && str.charAt(e0 - 1) == ' ') e0 -= 1
    Whitespace.split(str.substring(b0, e0), -1)
  }

  /** The UTF-8 bytes of each word. */
  def utf8(ws: Array[String]): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](ws.length)
    var j = 0
    while (j < ws.length) { out(j) = ws(j).getBytes(UTF_8); j += 1 }
    out
  }

  /** Word j as the byte span [starts(j), ends(j)) of one buffer (`base`
    * at `offset`, the [[UTF8String]] addressing). Words in the buffer are
    * single-space separated, so the bytes from word i through word k are
    * byte-equal to `concat_ws(" ", w[i], ..., w[k])`. */
  final class Spans(base: AnyRef, offset: Long,
      val starts: Array[Int], val ends: Array[Int]) {
    def count: Int = starts.length

    /** Words [from, until) as a view of the buffer (no copy). */
    def view(from: Int, until: Int): UTF8String =
      UTF8String.fromAddress(base, offset + starts(from), ends(until - 1) - starts(from))

    /** xxhash64 (seed 42, Spark's `xxhash64`) of words [from, until). */
    def hash(from: Int, until: Int): Long =
      XXH64.hashUnsafeBytes(base, offset + starts(from),
        ends(until - 1) - starts(from), ShingleHashes.Seed)
  }

  /** The words of `split(s, " ")` as byte spans of `s` itself — empty
    * words included, exactly like `split` — or null when `s` has fewer
    * than `min` words (checked before any span array is allocated). */
  def spaceSpans(s: UTF8String, min: Int): Spans = {
    val len = s.numBytes()
    var words = 1
    var i = 0
    while (i < len) {
      if (s.getByte(i) == ' '.toByte) words += 1
      i += 1
    }
    if (words < min) return null
    val starts = new Array[Int](words)
    val ends = new Array[Int](words)
    var w = 0
    i = 0
    while (i < len) {
      if (s.getByte(i) == ' '.toByte) {
        ends(w) = i
        w += 1
        starts(w) = i + 1
      }
      i += 1
    }
    ends(w) = len
    new Spans(s.getBaseObject, s.getBaseOffset, starts, ends)
  }

  /** `ws` joined by single spaces into one fresh buffer, as spans: the
    * bytes `array_join(slice(ws, i, n), " ")` spells for any run of
    * consecutive words. */
  def joined(ws: Array[String]): Spans = {
    val tb = utf8(ws)
    var total = math.max(tb.length - 1, 0)
    var j = 0
    while (j < tb.length) { total += tb(j).length; j += 1 }
    val buf = new Array[Byte](total)
    val starts = new Array[Int](tb.length)
    val ends = new Array[Int](tb.length)
    var pos = 0
    j = 0
    while (j < tb.length) {
      if (j > 0) { buf(pos) = ' '.toByte; pos += 1 }
      starts(j) = pos
      System.arraycopy(tb(j), 0, buf, pos, tb(j).length)
      pos += tb(j).length
      ends(j) = pos
      j += 1
    }
    new Spans(buf, Platform.BYTE_ARRAY_OFFSET, starts, ends)
  }

  // one digest per thread: getInstance per feature would dominate the
  // per-feature work the hashing kernels exist to remove
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First byte of md5(a) — the integer the two hex chars
    * `substring(md5(a), 1, 2)` spell, with no hex string. */
  def md5FirstByte(a: Array[Byte]): Int = {
    val md = md5.get()
    md.reset()
    md.update(a)
    md.digest()(0) & 0xff
  }

  /** First byte of md5(a ++ sep ++ b): a two-part feature such as a
    * bigram (`sep` a space) or a count-min key (`sep` '#'). */
  def md5FirstByte(a: Array[Byte], sep: Byte, b: Array[Byte]): Int = {
    val md = md5.get()
    md.reset()
    md.update(a)
    md.update(sep)
    md.update(b)
    md.digest()(0) & 0xff
  }
}
