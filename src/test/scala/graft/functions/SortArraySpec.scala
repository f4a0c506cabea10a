package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `sort_array` (compiled) orders arrays of structs exactly as
  * `array_sort` with its default comparator (an interpreted lambda):
  * both use the element type's ordering — -0.0 equal to 0.0, NaN above
  * every number, null fields first — with a stable sort. The sorted
  * folds rely on this for `collect_list` arrays, which hold no null
  * element. */
class SortArraySpec extends SparkSpec {

  /** Element fields with the double as raw bits, so -0.0 and 0.0 (and
    * NaN payloads) stay distinguishable when comparing results. */
  private def bits(a: Seq[Row]): Seq[(Option[Long], Option[String], Int)] =
    a.map(r => (Option(r.get(0)).map(d => java.lang.Double.doubleToRawLongBits(
      d.asInstanceOf[Double])), Option(r.getString(1)), r.getInt(2)))

  test("sort_array equals array_sort over structs with NaN, ±0.0, null fields, duplicates") {
    // 16 groups of 40 elements; element k of a group cycles through a
    // 7-value double alphabet and a 2-value string field (one of them
    // null), so every group holds exact duplicates, NaN, nulls, and
    // -0.0 next to 0.0 under equal other fields (a tie only a stable
    // sort resolves the same way twice)
    val xs = "array(CAST('NaN' AS DOUBLE), CAST('-0.0' AS DOUBLE), 0.0D, -1.5D, " +
      "2.0D, CAST(NULL AS DOUBLE), CAST('-Infinity' AS DOUBLE))"
    val df = spark.range(640).select(
      (col("id") % 16).as("g"),
      struct(
        expr(s"element_at($xs, CAST(pmod(id div 16, 7) + 1 AS INT))").as("x"),
        when((col("id") / 16).cast("long") % 2 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("k"), (col("id") % 3).cast("string"))).as("y"),
        (col("id") % 4).cast("int").as("z")).as("e"))
    val out = df.groupBy(col("g"))
      .agg(collect_list(col("e")).as("l"))
      .select(col("g"), sort_array(col("l")).as("s"), array_sort(col("l")).as("a"))
      .collect()
    assert(out.length == 16)
    out.foreach { r =>
      val s = r.getSeq[Row](1)
      val a = r.getSeq[Row](2)
      assert(s.length == 40)
      assert(bits(s) == bits(a), s"group ${r.getLong(0)}")
    }
    // the alphabet really produced the corner values in one group
    val g0 = bits(out.head.getSeq[Row](1)).map(_._1)
    assert(g0.contains(Some(java.lang.Double.doubleToRawLongBits(-0.0))))
    assert(g0.contains(Some(java.lang.Double.doubleToRawLongBits(0.0))))
    assert(g0.contains(None))
  }

  test("the two sorts agree on a literal array, where -0.0 and 0.0 tie") {
    val out = spark.range(1).select(
      sort_array(expr("array(named_struct('x', 0.0D, 'y', 'b', 'z', 1), " +
        "named_struct('x', CAST('-0.0' AS DOUBLE), 'y', 'b', 'z', 1), " +
        "named_struct('x', CAST('NaN' AS DOUBLE), 'y', CAST(NULL AS STRING), 'z', 0), " +
        "named_struct('x', 0.0D, 'y', CAST(NULL AS STRING), 'z', 2))")).as("s"),
      array_sort(expr("array(named_struct('x', 0.0D, 'y', 'b', 'z', 1), " +
        "named_struct('x', CAST('-0.0' AS DOUBLE), 'y', 'b', 'z', 1), " +
        "named_struct('x', CAST('NaN' AS DOUBLE), 'y', CAST(NULL AS STRING), 'z', 0), " +
        "named_struct('x', 0.0D, 'y', CAST(NULL AS STRING), 'z', 2))")).as("a"))
      .head()
    val s = bits(out.getSeq[Row](0))
    assert(s == bits(out.getSeq[Row](1)))
    // ties keep input order: 0.0 before -0.0; null field first; NaN last
    assert(s.map(_._3) == Seq(2, 1, 1, 0))
    assert(s(1)._1.contains(java.lang.Double.doubleToRawLongBits(0.0)))
    assert(s(2)._1.contains(java.lang.Double.doubleToRawLongBits(-0.0)))
  }
}
