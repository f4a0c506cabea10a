package graft.functions

import java.math.{BigInteger, BigDecimal => JBigDecimal}
import java.nio.ByteBuffer

import scala.util.Try

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Cast, CheckOverflowInSum,
  Expression, Literal, Multiply, Subtract}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Sum, TypedImperativeAggregate}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Running state of [[DecimalSumAgg]]: the exact sum, unscaled at the
  * result scale, is `acc + spill` (`spill` stays null until a long add
  * overflows). `overflow` is sticky, like the null a `sum` buffer
  * becomes once its value no longer fits the result precision. */
final class DecimalSumBuffer(var acc: Long = 0L, var spill: BigInteger = null,
    var nonEmpty: Boolean = false, var overflow: Boolean = false) {
  def total: BigInteger = {
    val a = BigInteger.valueOf(acc)
    if (spill == null) a else spill.add(a)
  }
}

/** A decimal expression tree compiled to exact unscaled-long
  * arithmetic. `eval` returns the node's value unscaled at its type's
  * scale, or a sentinel: [[FixedPoint.Null]] when Spark's value is null,
  * [[FixedPoint.Miss]] when this row must leave the fast path. Every
  * real value is bounded strictly inside (−Long.MaxValue, Long.MaxValue),
  * so it never collides with a sentinel. */
private[functions] sealed abstract class FixedPoint extends Serializable {
  def eval(row: InternalRow): Long
}

private[functions] object FixedPoint {
  final val Null: Long = Long.MinValue
  final val Miss: Long = Long.MinValue + 1

  private val pow10L: Array[Long] = Array.iterate(1L, 19)(_ * 10)
  /** 10^s as a double: exact for every s ≤ 22. */
  private val pow10D: Array[Double] = Array.iterate(1.0, 19)(_ * 10)

  /** Exclusive bound on the unscaled values of precision `p`; the
    * long range (minus the sentinels) for p ≥ 19. */
  def limitOf(p: Int): Long = if (p <= 18) pow10L(p) else Long.MaxValue

  @inline def bounded(v: Long, limit: Long): Long =
    if (v > -limit && v < limit) v else Miss

  /** Spark's HALF_UP cast of `d` to decimal(p ≤ 18, s), when it is
    * provably u = round(d·10^s): ulp(d) < ½·10^−s (so |u| < 2^51 and
    * d is finite), fl(u / 10^s) == d and |u| < 10^p. Then d and every
    * decimal that reads back as d (Double.toString's, which Spark
    * rounds) lie within ulp(d) < ½·10^−s of u·10^−s, so HALF_UP lands
    * on u with no tie. Any other double is a [[Miss]]. */
  def castDouble(d: Double, s: Int, limit: Long): Long = {
    val scale = pow10D(s)
    if (!(Math.ulp(d) * scale < 0.5)) return Miss
    val u = Math.round(d * scale)
    if (u.toDouble / scale == d) bounded(u, limit) else Miss
  }

  /** The fast-path form of `e`, if every node of it is a foldable
    * decimal, a double or integral → decimal(p ≤ 18) cast (an integral
    * cast is exact: v·10^s, in range or not at all), an Add/Subtract at the
    * larger operand scale, or a Multiply at scale s1 + s2 — the nodes
    * whose Spark value is exact whenever the unscaled-long one is. */
  def compile(e: Expression): Option[FixedPoint] = e.dataType match {
    case t: DecimalType =>
      val (p, s) = (t.precision, t.scale)
      val limit = limitOf(p)
      e match {
        case _ if e.foldable => constant(e, s)
        case c: Cast if c.child.dataType == DoubleType && p <= 18 =>
          Some(new CastNode(c.child, s, limit))
        case c: Cast if integral(c.child.dataType) && p <= 18 =>
          Some(new IntegralCastNode(c.child, pow10L(s), limit))
        case a: Add => additive(a.left, a.right, s, limit, negate = false)
        case a: Subtract => additive(a.left, a.right, s, limit, negate = true)
        case m: Multiply => (m.left.dataType, m.right.dataType) match {
          case (l: DecimalType, r: DecimalType) if l.scale + r.scale == s =>
            for (l <- compile(m.left); r <- compile(m.right)) yield new MulNode(l, r, limit)
          case _ => None
        }
        case _ => None
      }
    case _ => None
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def constant(e: Expression, s: Int): Option[FixedPoint] =
    Try(e.eval()).toOption.flatMap {
      case null => Some(new ConstNode(Null))
      case d: Decimal =>
        Try(d.toJavaBigDecimal.setScale(s).unscaledValue).toOption
          .filter(_.bitLength < 63).map(u => new ConstNode(u.longValue))
      case _ => None
    }

  private def additive(l: Expression, r: Expression, s: Int, limit: Long,
      negate: Boolean): Option[FixedPoint] = (l.dataType, r.dataType) match {
    case (lt: DecimalType, rt: DecimalType) if s == math.max(lt.scale, rt.scale) =>
      for (a <- compile(l); b <- compile(r))
        yield new AddNode(a, b, pow10L(s - lt.scale), pow10L(s - rt.scale), negate, limit)
    case _ => None
  }

  final class ConstNode(v: Long) extends FixedPoint {
    def eval(row: InternalRow): Long = v
  }

  final class CastNode(in: Expression, s: Int, limit: Long) extends FixedPoint {
    private[this] val ord = in match {
      case b: BoundReference => b.ordinal
      case _ => -1
    }
    def eval(row: InternalRow): Long = {
      val d = if (ord >= 0) {
        if (row.isNullAt(ord)) return Null
        row.getDouble(ord)
      } else {
        val v = in.eval(row)
        if (v == null) return Null
        v.asInstanceOf[Double]
      }
      castDouble(d, s, limit)
    }
  }

  final class IntegralCastNode(in: Expression, scale: Long, limit: Long) extends FixedPoint {
    def eval(row: InternalRow): Long = in.eval(row) match {
      case null => Null
      case v: Number =>
        try bounded(Math.multiplyExact(v.longValue, scale), limit)
        catch { case _: ArithmeticException => Miss }
    }
  }

  /** Left then right, short-circuiting like Spark's null-intolerant
    * binary arithmetic. */
  final class AddNode(l: FixedPoint, r: FixedPoint, lm: Long, rm: Long,
      negate: Boolean, limit: Long) extends FixedPoint {
    def eval(row: InternalRow): Long = {
      val a = l.eval(row)
      if (a <= Miss) return a
      val b = r.eval(row)
      if (b <= Miss) return b
      try {
        val x = Math.multiplyExact(a, lm)
        val y = Math.multiplyExact(b, rm)
        bounded(if (negate) Math.subtractExact(x, y) else Math.addExact(x, y), limit)
      } catch { case _: ArithmeticException => Miss }
    }
  }

  final class MulNode(l: FixedPoint, r: FixedPoint, limit: Long) extends FixedPoint {
    def eval(row: InternalRow): Long = {
      val a = l.eval(row)
      if (a <= Miss) return a
      val b = r.eval(row)
      if (b <= Miss) return b
      try bounded(Math.multiplyExact(a, b), limit)
      catch { case _: ArithmeticException => Miss }
    }
  }
}

/** Exact `sum` of a decimal expression, without BigDecimal per row.
  *
  * Spark's `sum(decimal)` runs every row through `java.math.BigDecimal`
  * (each `Decimal` cast, multiply and add), and a buffer of precision
  * > 18 round-trips a BigInteger through the UnsafeRow per row. Here the
  * child tree is compiled once ([[FixedPoint.compile]]) and evaluated on
  * unscaled longs with `Math.*Exact`, accumulating into a long that
  * spills into a BigInteger on overflow. A row the fast path cannot
  * prove exact — a double whose cast could round differently, a NaN or
  * infinity, an intermediate overflow — is evaluated by the child
  * itself (`child.eval`: Spark's own semantics, ANSI errors included)
  * and added exactly, as is every row of a tree that does not compile.
  *
  * The result is Spark's: `dataType` is `Sum(child).dataType`, nulls
  * are skipped, an empty or all-null group is null, and a running sum
  * that leaves the result precision is null with ANSI off and raises
  * the same overflow error as `sum` with it on. A result of precision
  * > 18 is BigDecimal-backed exactly as an UnsafeRow read returns it,
  * so `Decimal.toDouble` (`toBigDecimal.doubleValue`) and any cast that
  * follows are bit-identical too. `DecimalSumAggSpec` pins all of this
  * against `sum` on random and edge inputs.
  */
case class DecimalSumAgg(
    child: Expression,
    nullOnOverflow: Boolean = !SQLConf.get.ansiEnabled,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DecimalSumBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_decimal_sum"
  override def dataType: DataType = Sum(child).dataType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: DecimalType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_decimal_sum needs a decimal, got ${t.catalogString}")
  }

  private lazy val resultType = dataType.asInstanceOf[DecimalType]
  private lazy val scale = resultType.scale
  /** A result precision ≤ 18 can overflow inside the long accumulator. */
  private lazy val smallResult = resultType.precision <= 18
  private lazy val resultLimit = FixedPoint.limitOf(resultType.precision)
  private lazy val resultBound = BigInteger.TEN.pow(resultType.precision)
  /** Compiled on the executor's bound copy of the child; a
    * nondeterministic child is never compiled, since a [[FixedPoint.Miss]]
    * row would evaluate it a second time. */
  @transient private lazy val plan: FixedPoint =
    if (child.deterministic) FixedPoint.compile(child).orNull else null

  override def createAggregationBuffer(): DecimalSumBuffer = new DecimalSumBuffer()

  override def update(buf: DecimalSumBuffer, input: InternalRow): DecimalSumBuffer = {
    val u = if (plan == null) FixedPoint.Miss else plan.eval(input)
    if (u > FixedPoint.Miss) {
      buf.nonEmpty = true
      addLong(buf, u)
    } else if (u == FixedPoint.Miss) {
      val v = child.eval(input)
      if (v != null) {
        buf.nonEmpty = true
        addBig(buf, v.asInstanceOf[Decimal].toJavaBigDecimal.setScale(scale).unscaledValue)
      }
    }
    buf
  }

  private def addLong(buf: DecimalSumBuffer, u: Long): Unit =
    if (!buf.overflow) {
      val a = buf.acc
      val r = a + u
      if (((a ^ r) & (u ^ r)) < 0) {
        buf.spill = if (buf.spill == null) BigInteger.valueOf(a) else buf.spill.add(BigInteger.valueOf(a))
        buf.acc = u
      } else buf.acc = r
      if (buf.spill != null || smallResult) checkRange(buf)
    }

  private def addBig(buf: DecimalSumBuffer, u: BigInteger): Unit =
    if (u.bitLength < 63) addLong(buf, u.longValue)
    else if (!buf.overflow) {
      buf.spill = if (buf.spill == null) u else buf.spill.add(u)
      checkRange(buf)
    }

  private def checkRange(buf: DecimalSumBuffer): Unit =
    if (buf.spill == null) {
      if (buf.acc <= -resultLimit || buf.acc >= resultLimit) buf.overflow = true
    } else if (buf.total.abs.compareTo(resultBound) >= 0) buf.overflow = true

  override def merge(buf: DecimalSumBuffer, other: DecimalSumBuffer): DecimalSumBuffer = {
    buf.nonEmpty |= other.nonEmpty
    buf.overflow |= other.overflow
    if (other.spill != null) addBig(buf, other.spill)
    addLong(buf, other.acc)
    buf
  }

  override def eval(buf: DecimalSumBuffer): Any =
    if (!buf.nonEmpty) null
    else if (buf.overflow)
      CheckOverflowInSum(Literal(null, resultType), resultType, nullOnOverflow, null).eval(null)
    else if (buf.spill == null && smallResult)
      Decimal(buf.acc, resultType.precision, scale)
    else Decimal(new JBigDecimal(buf.total, scale), resultType.precision, scale)

  override def serialize(buf: DecimalSumBuffer): Array[Byte] = {
    val big = if (buf.spill == null) Array.emptyByteArray else buf.spill.toByteArray
    val flags = (if (buf.nonEmpty) 1 else 0) | (if (buf.overflow) 2 else 0)
    ByteBuffer.allocate(9 + big.length).put(flags.toByte).putLong(buf.acc).put(big).array()
  }

  override def deserialize(bytes: Array[Byte]): DecimalSumBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val flags = bb.get()
    val acc = bb.getLong()
    val spill = if (bb.hasRemaining) {
      val b = new Array[Byte](bb.remaining()); bb.get(b); new BigInteger(b)
    } else null
    new DecimalSumBuffer(acc, spill, (flags & 1) != 0, (flags & 2) != 0)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DecimalSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DecimalSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): DecimalSumAgg =
    copy(child = newChildren(0))
}
