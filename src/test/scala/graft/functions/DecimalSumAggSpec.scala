package graft.functions

import scala.util.Try

import graft.SparkSpec
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** [[DecimalSumAgg]] must be Spark's `sum` on the same child: the same
  * result type, the same values (and the same doubles after the cast
  * that follows), the same nulls, and the same error under ANSI mode —
  * on half-cent ties, −0.0, NaN and ±Inf, doubles too large for the
  * fast path, nulls, empty and all-null groups and a sum that
  * overflows, in one partition and through a shuffled partial → final
  * merge, with ANSI on and off. */
class DecimalSumAggSpec extends SparkSpec {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private val one = lit(1).cast(DecimalType(18, 2))

  /** x: money in any range; w: money that fits decimal(10, 3); y, z:
    * discount-like fractions. */
  private val children: Seq[(String, Column)] = Seq(
    "sum_x" -> dec(col("x")),
    "sum_disc" -> dec(col("x")) * (one - dec(col("y"))),
    // q1's three-factor charge: scale 6 at precision 38
    "sum_charge" -> dec(col("x")) * (one - dec(col("y"))) * (one + dec(col("z"))),
    "sum_diff" -> (dec(col("x")) - col("z").cast(DecimalType(12, 4))),
    // precision below 18: decimal(10, 3) and a decimal(15, 2) sum
    "sum_w" -> col("w").cast(DecimalType(10, 3)),
    "sum_wy" -> col("w").cast(DecimalType(10, 3)) * col("y").cast(DecimalType(5, 2)),
    "sum_y" -> col("y").cast(DecimalType(5, 2)),
    // an integral cast: exact, v·10^s
    "sum_g" -> col("g").cast(DecimalType(12, 6)))

  private val ties = Seq(0.005, 1.125, 2.675, -2.675, 0.015, 1.005, 1234.565, -0.125, 0.045)

  private def opt(g: Gen[Double]): Gen[Option[Double]] =
    Gen.frequency(1 -> Gen.const(None), 9 -> g.map(Some(_)))

  private val moneyX: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-10000000L, 10000000L).map(_ / 100.0),
    2 -> Gen.oneOf(ties),
    1 -> Gen.oneOf(-0.0, 0.0, math.pow(2, 45), -math.pow(2, 45) - 0.5, 1e15 + 0.25,
      9.999999999999998e15, Double.MinPositiveValue, 1e-300),
    // arbitrary binary fractions: mostly off the fast path
    2 -> Gen.choose(-1e6, 1e6))

  private val moneyW: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-999999999L, 999999999L).map(_ / 1000.0),
    2 -> Gen.oneOf(ties),
    1 -> Gen.choose(-9999.0, 9999.0))

  private val fraction: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(0L, 100L).map(_ / 100.0),
    2 -> Gen.oneOf(0.005, 0.015, 0.045, -0.005, -0.0, 0.125),
    1 -> Gen.choose(-1.0, 1.0))

  /** A value no decimal cast of x accepts: null with ANSI off, an
    * error with it on. At most one kind per data set, so the error a
    * failing run raises does not depend on which task fails first. */
  private val bad: Gen[Double] =
    Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e17)

  private type In = (Int, Option[Double], Option[Double], Option[Double], Option[Double])

  private val dataGen: Gen[List[In]] = for {
    rows <- Gen.listOf(for {
      g <- Gen.choose(0, 3); x <- opt(moneyX); w <- opt(moneyW)
      y <- opt(fraction); z <- opt(fraction)
    } yield (g, x, w, y, z))
    poison <- Gen.frequency(4 -> Gen.const(None), 1 -> bad.map(Some(_)))
    at <- Gen.choose(0, 1000)
  } yield poison match {
    case Some(b) if rows.nonEmpty =>
      val i = at % rows.size
      rows.updated(i, rows(i).copy(_2 = Some(b)))
    case _ => rows
  }

  private def frame(rows: Seq[In]): DataFrame = {
    import spark.implicits._
    rows.toDF("g", "x", "w", "y", "z")
  }

  /** Result types and rows of `agg` over every child (plus q1's charge
    * cast to double), or the error condition the run raised. */
  private def run(df: DataFrame, agg: Column => Column, grouped: Boolean,
      cs: Seq[(String, Column)] = children): Either[Option[String], (Seq[DataType], Seq[Seq[Any]])] = {
    val cols = cs.map { case (n, c) => agg(c).as(n) } :+
      agg(children(2)._2).cast("double").as("charge_d")
    val out = if (grouped) df.groupBy("g").agg(cols.head, cols.tail: _*).orderBy("g")
      else df.agg(cols.head, cols.tail: _*)
    Try(out.collect()).toEither match {
      case Left(e) => Left(condition(e))
      case Right(rows) =>
        val types = out.schema.fields.toSeq.map(_.dataType)
        Right((types, rows.toSeq.map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToLongBits(d)
          case v => v
        })))
    }
  }

  private def condition(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }.orElse(Some(e.getClass.getName))

  private def withAnsi[T](on: Boolean)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try f finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  /** Same answer as `sum` with ANSI on and off, in one partition and
    * through a three-partition partial → final merge. */
  private def agrees(df: DataFrame, grouped: Boolean,
      cs: Seq[(String, Column)] = children): Boolean =
    Seq(true, false).forall { ansi =>
      withAnsi(ansi) {
        Seq(df.coalesce(1), df.repartition(3)).forall { d =>
          val want = run(d, sum(_), grouped, cs)
          val got = run(d, GraftFunctions.decimalSum, grouped, cs)
          if (got != want) println(s"MISMATCH ansi=$ansi\n  sum:  $want\n  ours: $got")
          got == want
        }
      }
    }

  test("decimalSum == sum on random money, ties, edges, nulls and bad doubles") {
    val prop = Prop.forAll(dataGen) { rows =>
      val df = frame(rows)
      agrees(df, grouped = true) && agrees(df, grouped = false)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12).withInitialSeed(12L), prop)
    assert(res.passed, res.status.toString)
  }

  test("every tie, −0.0, a too-large double and each bad double alone") {
    val base = (ties :+ -0.0).zipWithIndex.map { case (x, i) =>
      (i, Some(x), Some(x), Some(x / 100), Some(x / 100)) }
    assert(agrees(frame(base), grouped = true))
    // under ANSI a bad row fails the whole run, on both sides alike
    Seq(math.pow(2, 45), Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      1e17).foreach { x =>
      assert(agrees(frame(base :+ ((0, Some(x), Some(1.5), Some(0.05), Some(0.05)))),
        grouped = true), x)
    }
  }

  test("empty input and an all-null group are null, like sum") {
    assert(agrees(frame(Nil), grouped = false))
    assert(agrees(frame(Seq((0, Some(1.25), Some(2.5), Some(0.05), None),
      (1, None, None, None, None), (1, None, None, None, None))), grouped = true))
  }

  test("a running sum that leaves the result precision overflows like sum") {
    // 9.9e15² · 150 > 10^34: the decimal(38, 4) product sum overflows;
    // group 0 stays in range
    val big = Seq.fill(150)((1, Some(9.9e15), Some(1.0), Some(9.9e15), Some(0.0)))
    val df = frame(big ++ Seq((0, Some(12.5), Some(1.0), Some(3.25), Some(0.0))))
    val product = Seq("sum_xy" -> dec(col("x")) * dec(col("y")))
    assert(agrees(df, grouped = true, product))
    withAnsi(false) {
      val rows = df.groupBy("g").agg(GraftFunctions.decimalSum(product.head._2).as("s"))
        .orderBy("g").collect()
      assert(rows(0).getDecimal(1) != null && rows(1).isNullAt(1))
    }
  }

  test("more groups than the object hash map holds before it sorts") {
    val rows = (0 until 3000).map(i => (i % 700, Some(i * 1.01), Some(i / 1000.0),
      Some((i % 10) / 100.0), Some((i % 7) / 100.0)))
    assert(agrees(frame(rows), grouped = true))
  }

  test("as a running window frame sum it equals sum over the same frame") {
    val df = frame((0 until 200).map(i => (i % 5, Some(i * 3.37), Some(i * 0.5),
      Some(0.01 * (i % 9)), Some(0.0))))
    val w = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def frameSum(f: Column => Column) = df
      .select(col("g"), col("x"), f(dec(col("x"))).over(w).as("s"),
        f(dec(col("x"))).over(w).cast("double").as("d"))
      .orderBy("g", "x").collect().toSeq
    val got = frameSum(GraftFunctions.decimalSum)
    assert(got == frameSum(sum(_)))
    assert(got.nonEmpty)
  }

  test("the SQL name resolves to the same aggregate") {
    GraftFunctions.register(spark)
    frame(Seq((0, Some(1.5), None, Some(0.05), None), (0, Some(2.25), None, Some(0.1), None)))
      .createOrReplaceTempView("decsum_t")
    val got = spark.sql(
      "SELECT graft_decimal_sum(CAST(x AS DECIMAL(18,2)) * (1 - CAST(y AS DECIMAL(18,2)))) FROM decsum_t")
    val want = spark.sql(
      "SELECT sum(CAST(x AS DECIMAL(18,2)) * (1 - CAST(y AS DECIMAL(18,2)))) FROM decsum_t")
    assert(got.schema.head.dataType == want.schema.head.dataType)
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("money trees compile to the fast path; exact cents take it, ties do not") {
    val df = frame(Seq((0, Some(1.0), Some(1.0), Some(0.1), Some(0.1))))
    children.foreach { case (n, c) =>
      val Project(Seq(e), _) = df.select(c.as("c")).queryExecution.analyzed
      assert(FixedPoint.compile(e.children.head).isDefined, n)
    }
    val limit = FixedPoint.limitOf(18)
    assert(FixedPoint.castDouble(1234.56, 2, limit) == 123456L)
    assert(FixedPoint.castDouble(-0.0, 2, limit) == 0L)
    assert(FixedPoint.castDouble(-87654.32, 2, limit) == -8765432L)
    (ties.map(_ -> 2) ++ Seq(math.pow(2, 45) -> 2, Double.NaN -> 2,
      Double.PositiveInfinity -> 2, 0.0625 -> 3)).foreach { case (d, s) =>
      assert(FixedPoint.castDouble(d, s, limit) == FixedPoint.Miss, s"$d at scale $s")
    }
    // |u| must fit the cast's precision
    assert(FixedPoint.castDouble(1000.0, 2, FixedPoint.limitOf(5)) == FixedPoint.Miss)
  }
}
