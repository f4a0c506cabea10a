package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.decimalSum

/** Salted join for skewed keys.
  *
  * At 100 TB a handful of hot keys (one dataset with 10^9 records, one
  * user with most events) make one reducer the job's critical path. AQE's
  * skew-join handles sort-merge cases at runtime; this utility is the
  * explicit variant for when the skew is known: replicate the small side
  * `salt` times and scatter the big side's hot keys uniformly, so the
  * hot key's rows land on `salt` reducers instead of one.
  */
object SkewOps {

  /** Inner-join `big` with `small` on `key`, salting `big` uniformly.
    * `small` is replicated `salt` times (explode), so correctness is
    * unchanged for any key distribution. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salt: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt", pmod(xxhash64(monotonically_increasing_id()), lit(salt)))
    val saltedSmall = small
      .withColumn("__salt", explode(sequence(lit(0), lit(salt - 1))))
      .withColumn("__salt", col("__salt").cast("long"))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Driver-verified proof that salting preserves join semantics: the
    * lineitem→supplier equi-join through [[saltedJoin]], aggregated per
    * supplier — hash-identical to the oracle's plain join because the
    * salt column never reaches the output and every (row, match) pair
    * survives replication exactly once. events/users is where real skew
    * lives; supplier keys keep the oracle cheap. The two price columns
    * ride through the join and the discounted product is formed inside
    * the exact sum, so it stays on the unscaled-long path. */
  def saltedRevenue(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .select(col("l_suppkey").as("s_suppkey"), col("l_extendedprice"), col("l_discount"))
    val small = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))
    saltedJoin(big, small, "s_suppkey", salt = 8)
      .groupBy(col("s_name"))
      .agg(decimalSum(AnalyticsOps.discPrice).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("s_name")
  }

  val saltedRevenueSql: String =
    """SELECT s_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name ORDER BY s_name""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_salted_join" -> (saltedRevenue _))

  def oracles: Map[String, String] = Map(
    "q_salted_join" -> saltedRevenueSql)
}
