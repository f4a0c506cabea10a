package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling polynomial document fingerprint as a native Catalyst expression.
  *
  * `h = (h * 31 + codepoint) mod 1_000_000_007` over the string's UTF-16
  * code units — deterministic, engine-independent (the DuckDB oracle
  * reproduces it with `list_reduce` over `ascii()` codes; identical for
  * ASCII corpora), and cheap enough for 100 TB because `doGenCode`
  * participates in whole-stage codegen: no boxing, no UDF serialization,
  * the loop is inlined next to the parquet scan.
  *
  * Mirrors the reference's "document fingerprinting" need (dedup keys for
  * indexed records) without its Python-side hashing.
  */
case class RollingFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fingerprint needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    RollingFingerprint.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val str = ctx.freshName("str")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |String $str = $c.toString();
         |long $h = 0L;
         |for (int $i = 0; $i < $str.length(); $i++) {
         |  $h = ($h * 31L + (long) $str.charAt($i)) % 1000000007L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)

  override def prettyName: String = "graft_fingerprint"
}

object RollingFingerprint {
  final val Mod = 1000000007L

  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (h * 31L + s.charAt(i).toLong) % Mod
      i += 1
    }
    h
  }

  /** Register as a SQL function so `expr("graft_fingerprint(text)")` and
    * `spark.sql` both see it; a no-op when the session already has it. */
  def register(spark: SparkSession): Unit =
    GraftFunctions.registerOnce(spark, "graft_fingerprint",
      exprs => RollingFingerprint(exprs.head))
}
