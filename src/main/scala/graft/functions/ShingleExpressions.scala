package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct 64-bit hashes of word n-gram shingles, as one native pass.
  *
  * Semantics are identical to the declarative chain
  * `array_distinct(transform(sequence(...), i -> xxhash64(concat_ws(" ",
  * w[i], ..., w[i+n-1]))))` over `split(text, " ")`: words are the
  * single-space-separated tokens (empty tokens included, exactly like
  * `split`), and each shingle hash is the xxhash64 (seed 42, Spark's
  * default) of the byte span covering its n words — which is byte-equal
  * to the `concat_ws(" ", ...)` string because the separators in the
  * source text ARE single spaces. Shingling is the hot inner loop of
  * every text-dedup operator (n-gram Jaccard, MinHash, contamination);
  * the higher-order-function form evaluates an interpreted expression
  * tree per shingle, this form is one tight JVM loop per document inside
  * whole-stage codegen with zero string materialization.
  *
  * Output order is ascending by hash (sort-dedup); every consumer
  * (explode → groupBy, array_min folds, set intersection) is
  * order-insensitive.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle width must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingles needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)

  override def prettyName: String = "graft_shingles"
}

object ShingleHashes {
  /** Seed used by Spark's `xxhash64` function. */
  final val Seed = 42L

  /** Hash the byte span of each n-word window of the single-space
    * words ([[Words.spaceSpans]]), sort-dedupe. Returns an empty array
    * when the document has fewer than n words. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val sp = Words.spaceSpans(s, n)
    if (sp == null) return ArrayData.toArrayData(Array.emptyLongArray)
    val m = sp.count - n + 1
    val hs = new Array[Long](m)
    var j = 0
    while (j < m) { hs(j) = sp.hash(j, j + n); j += 1 }
    java.util.Arrays.sort(hs)
    // in-place unique on the sorted array
    var out = 0
    j = 0
    while (j < m) {
      if (j == 0 || hs(j) != hs(j - 1)) { hs(out) = hs(j); out += 1 }
      j += 1
    }
    ArrayData.toArrayData(if (out == m) hs else java.util.Arrays.copyOf(hs, out))
  }
}

/** k-minimum MinHash signature over a document's shingle-hash set.
  *
  * Replicates the declarative chain
  * `array(min(transform(hx, x -> pmod(x*a_i + b_i, M))) for i < k)` with
  * `hx = pmod(h, M)` and M = 2^31-1 — bit-identical results — but in one
  * k×|hs| JVM loop instead of k interpreted array traversals per row.
  * The permutation constants are the same public LCG-derived values the
  * declarative form used.
  */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // an empty hash set has no minimum under any permutation → null
  // signature, matching the declarative `min(...)`-over-empty chain
  // (never a sentinel that could band-collide with other empty docs)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash needs array<bigint>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashSignature.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHashSignature.compute($c, $k);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash"
}

object MinHashSignature {
  final val Mersenne = 2147483647L
  private final val MaxK = 64
  /** Deterministic permutation parameters (public LCG constants); must
    * stay in lockstep with DedupOps' documented values. */
  private val permA: Array[Long] =
    Array.tabulate(MaxK)(i => ((1103515245L * (i + 1) + 12345L) % Mersenne) | 1L)
  private val permB: Array[Long] =
    Array.tabulate(MaxK)(i => (7919L * (i + 37) + 104729L) % Mersenne)

  def a(i: Int): Long = permA(i)
  def b(i: Int): Long = permB(i)

  private def pmod(x: Long, m: Long): Long = { val r = x % m; if (r < 0) r + m else r }

  def compute(hs: ArrayData, k: Int): ArrayData = {
    require(k <= MaxK, s"minhash k capped at $MaxK")
    val n = hs.numElements()
    if (n == 0) return null // no shingles → no signature (see nullable)
    val hx = new Array[Long](n)
    var j = 0
    while (j < n) { hx(j) = pmod(hs.getLong(j), Mersenne); j += 1 }
    val sig = new Array[Long](k)
    var i = 0
    while (i < k) {
      val ai = permA(i)
      val bi = permB(i)
      var best = Long.MaxValue
      j = 0
      while (j < n) {
        val v = pmod(hx(j) * ai + bi, Mersenne)
        if (v < best) best = v
        j += 1
      }
      sig(i) = best
      i += 1
    }
    ArrayData.toArrayData(sig)
  }
}

/** Positional xxhash64 of every sliding w-word window, as one native
  * pass — the hot loop of exact duplicated-substring removal
  * ([[graft.operators.DedupOps.substringDedupOf]]).
  *
  * Semantics are value-identical to the declarative chain
  * `transform(sequence(0, size(ws)-w), i -> xxhash64(array_join(
  * slice(ws, i+1, w), " ")))` over `ws = split(trim(text), "\\s+")`
  * for documents with at least w words (spec-pinned): tokens are
  * [[Words.split]]'s, each window hash is the xxhash64 (seed 42) of the
  * window's tokens joined by single spaces, and windows come back in
  * position order WITH duplicates — unlike [[ShingleHashes]], which
  * sort-dedupes, position is the payload here. Documents with fewer
  * than w words yield an empty array (the declarative chain's
  * `sequence` is undefined there; the operator filters those rows on
  * both engines).
  *
  * The interpreted HOF form re-walks an expression tree and
  * materializes a concat string per window; this is one token split,
  * one normalized byte buffer, and m span hashes per document, inside
  * whole-stage codegen. */
case class WindowHashes(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, "window width must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_window_hashes needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    WindowHashes.compute(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WindowHashes.compute($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)

  override def prettyName: String = "graft_window_hashes"
}

object WindowHashes {
  def compute(s: UTF8String, w: Int): ArrayData = {
    val toks = Words.split(s)
    if (toks.length < w) return ArrayData.toArrayData(Array.emptyLongArray)
    // every window hash is a span of the single-space joined buffer
    val sp = Words.joined(toks)
    val m = toks.length - w + 1
    val hs = new Array[Long](m)
    var j = 0
    while (j < m) { hs(j) = sp.hash(j, j + w); j += 1 }
    ArrayData.toArrayData(hs)
  }
}

/** Consecutive n-word chunk strings in one native pass — the chunker
  * of [[graft.operators.DedupOps.chunkDedupOf]]. Value-identical to
  * `transform(sequence(0, ceil(len(ws)/n)-1), i ->
  * array_join(slice(ws, i*n+1, n), " "))` over
  * `ws = split(trim(text), "\s+")` (spec-pinned): tokens are
  * [[Words.split]]'s, chunk i covers tokens [i·n, i·n+n) joined by single
  * spaces (the tail chunk takes what remains), and `posexplode` over
  * the result reproduces the old (pos, chunk) rows exactly. The
  * interpreted form evaluated an array_join(slice(...)) expression
  * tree per chunk; this is one split, one normalized buffer, and one
  * view of it per chunk. */
case class ChunkStrings(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "chunk width must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_chunk_strings needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    ChunkStrings.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ChunkStrings.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): ChunkStrings =
    copy(child = newChild)

  override def prettyName: String = "graft_chunk_strings"
}

object ChunkStrings {
  def compute(s: UTF8String, n: Int): ArrayData = {
    // chunks are views of one fresh joined buffer, never reused
    val sp = Words.joined(Words.split(s))
    val m = (sp.count + n - 1) / n
    val out = new Array[UTF8String](m)
    var i = 0
    while (i < m) { out(i) = sp.view(i * n, math.min(i * n + n, sp.count)); i += 1 }
    ArrayData.toArrayData(out)
  }
}

/** Ordered candidate pairs from one posting list, natively — the pair
  * generator of the inverted-index dedup miners
  * ([[graft.operators.DedupOps]]). Input: the collect_list posting
  * array of (doc_id, sh_size) structs for one shingle (any order, ids
  * unique within a list). Output: the i<j pairs of the doc_id-sorted
  * list, flattened to (doc_a, doc_b, size_a, size_b) — value-identical
  * to `array_sort(ds)` + the nested transform/slice/struct chain +
  * flatten (spec-pinned), which evaluated an interpreted expression
  * tree per PAIR; candidate pairs are the biggest intermediate stream
  * of the whole dedup tier, so the per-pair constant dominates.
  *
  * `minOverMax` is the exact LENGTH FILTER of similarity-join
  * literature (Arasu et al. 2006; the prefix/length-filter family):
  * for a Jaccard threshold t, a pair's best achievable jaccard is
  * min(|A|,|B|)/max(|A|,|B|) (at common = min the jaccard is exactly
  * min/max), so any pair with min/max < t is guaranteed below
  * threshold and is never emitted at all — the candidate stream
  * shrinks BEFORE the pair exchange with zero recall loss (the
  * dropped pairs could only ever reach the downstream
  * `jaccard >= t` filter with jaccard ≤ min/max < t; double division
  * of exact ints is correctly rounded hence monotone, so the double
  * compares agree with the real-arithmetic argument). 0.0 disables
  * the filter (every i<j pair) — the containment miner's setting,
  * since containment = common/min has no size-ratio bound. */
case class PostingPairs(child: Expression, minOverMax: Double = 0.0)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("doc_a", LongType, nullable = false),
      StructField("doc_b", LongType, nullable = false),
      StructField("size_a", IntegerType, nullable = false),
      StructField("size_b", IntegerType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, _, _), StructField(_, IntegerType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_posting_pairs needs array<struct<bigint,int>>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    PostingPairs.compute(input.asInstanceOf[ArrayData], minOverMax)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PostingPairs.compute($c, $minOverMax);")

  override protected def withNewChildInternal(newChild: Expression): PostingPairs =
    copy(child = newChild)

  override def prettyName: String = "graft_posting_pairs"
}

object PostingPairs {
  def compute(ds: ArrayData, minOverMax: Double): ArrayData = {
    val n = ds.numElements()
    val ids = new Array[Long](n)
    val sizes = new Array[Int](n)
    var i = 0
    while (i < n) {
      val row = ds.getStruct(i, 2)
      ids(i) = row.getLong(0)
      sizes(i) = row.getInt(1)
      i += 1
    }
    // sort by doc_id (unique within a posting list): insertion via
    // index sort keeps the (id, size) rows paired
    val order = (0 until n).toArray
    // simple dual-pivot via boxed sort is fine: lists are DF-capped
    val boxed = order.map(Integer.valueOf)
    java.util.Arrays.sort(boxed, (x: Integer, y: Integer) =>
      java.lang.Long.compare(ids(x), ids(y)))
    val m = n * (n - 1) / 2
    val out = new Array[Any](m)
    var k = 0
    i = 0
    while (i < n) {
      val a = boxed(i)
      var j = i + 1
      while (j < n) {
        val b = boxed(j)
        val sa = sizes(a)
        val sb = sizes(b)
        val smin = if (sa < sb) sa else sb
        val smax = if (sa < sb) sb else sa
        // length filter (see the case-class doc): a pair whose best
        // achievable jaccard min/max is below the threshold is never
        // emitted; 0.0 emits every i<j pair
        if (minOverMax <= 0.0 || smin.toDouble / smax.toDouble >= minOverMax) {
          out(k) = org.apache.spark.sql.catalyst.InternalRow(
            ids(a), ids(b), sa, sb)
          k += 1
        }
        j += 1
      }
      i += 1
    }
    if (k == m) new GenericArrayData(out)
    else {
      val trimmed = new Array[Any](k)
      System.arraycopy(out, 0, trimmed, 0, k)
      new GenericArrayData(trimmed)
    }
  }
}

/** Distinct word n-gram shingle STRINGS in one native pass — the
  * string-output sibling of [[ShingleHashes]] for consumers that need
  * the n-gram text itself (the corpus top-n-gram leaderboard).
  * Semantics are value-identical to
  * `array_distinct(transform(sequence(...), i -> concat_ws(" ", w[i],
  * ..., w[i+n-1])))` over `split(text, " ")` (spec-pinned): words are
  * the single-space splits (empty tokens included), each shingle is
  * the byte span covering its n words (byte-equal to the concat_ws
  * string because the separators ARE single spaces), and duplicates
  * collapse to the first occurrence. Documents with fewer than n
  * words yield an empty array — the callers' `size(ws) >= n` filter
  * built in. The interpreted form evaluates three element_at + a
  * concat_ws expression tree per shingle and then an array_distinct
  * pass; this is one split and one byte-copy per DISTINCT shingle. */
case class ShingleStrings(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle width must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_strings needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    ShingleStrings.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleStrings.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)

  override def prettyName: String = "graft_shingle_strings"
}

object ShingleStrings {
  def compute(s: UTF8String, n: Int): ArrayData = {
    val sp = Words.spaceSpans(s, n)
    if (sp == null) return ArrayData.toArrayData(Array.empty[UTF8String])
    val m = sp.count - n + 1
    // first-occurrence dedupe by string content; each emitted shingle
    // is a fresh byte copy (the input buffer is row-reused upstream)
    val seen = new java.util.HashSet[UTF8String](m * 2)
    val out = new java.util.ArrayList[UTF8String](m)
    var j = 0
    while (j < m) {
      val view = sp.view(j, j + n)
      if (seen.add(view)) out.add(view.clone())
      j += 1
    }
    ArrayData.toArrayData(out.toArray(new Array[UTF8String](out.size())))
  }
}

/** 64-bit SimHash of a document in ONE native pass — the per-document
  * twin of the `explode(split(text, " ")) → groupBy(doc, word) →
  * xxhash64 → SimHashAgg` chain (value-identical, spec-pinned):
  * tokens are the single-space splits (empty tokens included, exactly
  * like `split`), each occurrence contributes ±1 per bit of its
  * xxhash64 (seed 42) — summing ±1 per occurrence equals summing
  * ±count per distinct word, which is [[SimHashAgg]]'s fold — and bit
  * j of the result is set iff its counter is > 0, the same
  * finalization rule. Replaces a per-word explode + a (doc, word)
  * aggregation exchange with a scan projection. It hashes each word as
  * its scan finds it rather than through [[Words.spaceSpans]], which
  * would allocate two span arrays per document for one use of each. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash64 needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash64"
}

object SimHash64 {
  def compute(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    val counters = new Array[Int](64)
    var start = 0
    var i = 0
    // single-space token spans, empty spans included (split semantics)
    while (i <= len) {
      if (i == len || s.getByte(i) == ' '.toByte) {
        val h = XXH64.hashUnsafeBytes(base, off + start, i - start, ShingleHashes.Seed)
        var j = 0
        while (j < 64) {
          counters(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counters(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** Intersection size of two sorted-distinct `array<bigint>` columns —
  * the exact-Jaccard verify kernel of every LSH candidate pair
  * (batch MinHash-LSH, the incremental index probe, and the streaming
  * probe all call it per candidate).
  *
  * Contract: both inputs are ascending-sorted distinct arrays, which
  * is what [[ShingleHashes]] emits by construction (sort-dedup). On
  * such inputs the result equals `size(array_intersect(a, b))`
  * (spec-pinned); the two-pointer merge walk replaces
  * `array_intersect`'s hash-set build + intersection-array
  * materialization with zero allocation per pair — the verify step
  * runs over millions of candidate pairs on a crawl, so the per-pair
  * constant is the cost that matters. */
case class IntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_intersect_count needs two array<bigint> columns, got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    IntersectCount.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.IntersectCount.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_intersect_count"
}

object IntersectCount {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
