package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.GraftFunctions.decimalSum

/** Headline relational analytics over the fact tables.
  *
  * Scale notes (100 TB): FIXED-size dimensions (region, nation) are
  * explicitly `broadcast(...)`; tables that scale with the corpus
  * (customer, supplier, part) are joined without a hint — Catalyst's
  * size statistics broadcast them while they fit (they do on every test
  * SF) and AQE falls back to a shuffle join at the scale where a forced
  * broadcast would OOM the executors. Money aggregations run in
  * DECIMAL(18,2) through [[graft.functions.GraftFunctions.decimalSum]] so
  * partial (map-side) aggregation is exact and reassociation-safe —
  * results are bit-identical regardless of partition count, which also
  * makes them hash-comparable against the DuckDB oracle.
  */
object AnalyticsOps {

  /** DECIMAL(18,2) money/measure cast — the FP-discipline workhorse,
    * shared across the operator modules. The exactness contract: sum a
    * tree of `dec` casts, decimal literals, `+`, `-` and `*` with
    * [[graft.functions.GraftFunctions.decimalSum]], never `sum`. Its
    * result is Spark's `sum` of the same tree to the bit (type, value,
    * nulls, overflow, ANSI errors), partial aggregation is exact and
    * reassociation-safe at any partition count, and an exact-cents
    * double (|d| < 2^45, the nearest double to its two-decimal value)
    * is cast, multiplied and added on unscaled longs instead of
    * `java.math.BigDecimal`; any other row takes Spark's own path. */
  private[operators] def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** TPC-H's discounted price, l_extendedprice · (1 − l_discount), in
    * exact decimal (q1, q3, q5 and the salted join sum it). */
  private[operators] def discPrice: Column =
    dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount")))

  // ---------------------------------------------------------------- q1
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("2000-12-31"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decimalSum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        decimalSum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        decimalSum(discPrice).cast("double").as("sum_disc_price"),
        decimalSum(discPrice * (dec(lit(1)) + dec(col("l_tax")))).cast("double").as("sum_charge"),
        (decimalSum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (decimalSum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-31'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q3
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01")
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
    // orders⋈lineitem shuffles on orderkey; customer scales with the
    // corpus, so its join is left to the planner (stats-broadcast now,
    // shuffle at 100 TB).
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(decimalSum(discPrice).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q5
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, dir)
    val c = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
    val l = Tables.lineitem(s, dir)
    // Fixed dims (nation, region) broadcast; supplier/customer scale
    // with the corpus and are planner-decided — the only guaranteed
    // shuffle is lineitem⋈orders on orderkey.
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(decimalSum(discPrice).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  val q5Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name ASC""".stripMargin

  // ------------------------------------------------- top-k per group
  def topkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    // part scales with the corpus: planner-decided join, no forced hint
    val rev = l.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(decimalSum(dec(col("l_extendedprice"))).cast("double").as("part_revenue"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("part_revenue").desc, col("p_partkey").asc)
    rev.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("p_brand", "p_partkey", "part_revenue", "rnk")
      .orderBy("p_brand", "rnk")
  }

  val topkPerGroupSql: String =
    """WITH rev AS (
      |  SELECT p_brand, p_partkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_revenue
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand, p_partkey)
      |SELECT p_brand, p_partkey, part_revenue, rnk FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY p_brand ORDER BY part_revenue DESC, p_partkey ASC) AS INTEGER) AS rnk
      |  FROM rev)
      |WHERE rnk <= 3
      |ORDER BY p_brand, rnk""".stripMargin

  // ------------------------------------------------------ rollup agg
  def rollupRevenue(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(decimalSum(dec(col("o_totalprice"))).cast("double").as("total_price"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  val rollupRevenueSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ------------------------------------------------------ pivot
  def pivotEvents(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0, types)
      .orderBy("user_id")
  }

  val pivotEventsSql: String =
    """SELECT user_id,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'error') AS error,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------- running window
  def runningWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 100)
      .withColumn("running_spend",
        decimalSum(dec(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("order_seq", row_number().over(w))
      .select("o_custkey", "o_orderkey", "o_orderdate", "running_spend", "order_seq")
      .orderBy("o_custkey", "order_seq")
  }

  val runningWindowSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_spend,
      |  CAST(row_number() OVER w AS INTEGER) AS order_seq
      |FROM orders
      |WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, order_seq""".stripMargin

  // ------------------------------------------------- percentiles
  def percentiles(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
      .orderBy("o_orderpriority")
  }

  val percentilesSql: String =
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
      |  round(quantile_cont(o_totalprice, 0.99), 4) AS p99
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------- distinct users
  def distinctUsers(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  val distinctUsersSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------- HLL sketch union
  /** Mergeable distinct-count sketches — the incremental-pipeline shape:
    * one HLL sketch per (event_type, day) partition, unioned per type,
    * never re-scanning history. At 100 TB the daily sketches are the
    * only state a rolling distinct-users job keeps (KBs per partition vs
    * a shuffle of every user id). The estimate itself is
    * engine-specific, so the hash-checked output is the exact count plus
    * the sketch-vs-exact relative-error bound (HLL lgK=12 ≈ 1.6%
    * standard error; 5% here is conservative at these cardinalities) —
    * the driver verifies the sketch pipeline really tracks the truth. */
  def hllUnion(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val daily = e
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("n_users"),
        (abs(col("approx_users") - col("n_users")).cast("double") /
          col("n_users") < 0.05).as("sketch_within_5pct"))
      .orderBy("event_type")
  }

  val hllUnionSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      |  true AS sketch_within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------- json extract
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"), count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  val jsonExtractSql: String =
    """SELECT event_type,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------- tumbling window
  def tumblingWindow(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        decimalSum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy("bucket", "event_type")
  }

  val tumblingWindowSql: String =
    """SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin

  // ------------------------------------------------- hopping window
  /** Sliding (hopping) windowed agg: 1-hour windows advancing every
    * 15 minutes — each event lands in 4 overlapping windows. Spark's
    * `window(ts, len, slide)` does the 4-way replication inside the
    * codegen'd Expand, still one shuffle on (window, type); the oracle
    * replicates explicitly via a 4-offset unnest. */
  def hoppingWindow(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").getField("start").as("w_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        decimalSum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy("w_start", "event_type")
  }

  val hoppingWindowSql: String =
    """WITH r AS (
      |  SELECT ts, event_type, value,
      |    make_timestamp(CAST((floor(epoch(ts) / 900) - k) * 900 AS BIGINT) * 1000000) AS w_start
      |  FROM events, unnest([0, 1, 2, 3]) AS t(k)),
      |w AS (SELECT * FROM r
      |      WHERE ts >= w_start AND ts < w_start + INTERVAL 1 HOUR)
      |SELECT w_start, event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM w GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  // ------------------------------------------------- sketch quantiles
  /** Approximate percentiles (mergeable sketch — the scale path where the
    * exact percentile's full sort per group is not affordable). Accuracy
    * vs the exact operator is pinned in spec; the driver records a
    * rows-only check since the sketch is engine-specific. */
  def approxQuantiles(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("p50_approx"),
        expr("approx_percentile(o_totalprice, 0.9, 10000)").as("p90_approx"),
        expr("approx_percentile(o_totalprice, 0.99, 10000)").as("p99_approx"),
        approx_count_distinct(col("o_custkey")).as("n_cust_approx"))
      .orderBy("o_orderpriority")
  }

  // ------------------------------------------------- semi/anti joins
  /** Orders having at least one near-full-quantity lineitem (LEFT SEMI:
    * the build side only answers membership, nothing is duplicated). */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir).filter(col("l_quantity") >= 49)
    Tables.orders(s, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val semiJoinSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
      |ORDER BY o_orderkey""".stripMargin

  /** Customers that never ordered (LEFT ANTI). */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val antiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------- funnel

  /** Ordered conversion funnel over the event stream: signup → click →
    * purchase, each step strictly after the user's earliest previous
    * step and within a 12-hour step window (otherwise the funnel does
    * not count it). Per-stage user counts plus conversion from the top.
    * Three aggregations co-keyed on user_id — after the first shuffle
    * the step joins reuse the same hash partitioning, so a 100 TB event
    * log pays one repartition, not three. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val t1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id")
      .filter(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr("INTERVAL 12 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("ts") > col("t2") &&
        col("ts") <= col("t2") + expr("INTERVAL 12 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val stages = t1
      .join(t2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
      .join(t3.select(col("user_id"), col("t3")), Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t3").isNotNull, 3)
          .when(col("t2").isNotNull, 2)
          .otherwise(1).as("stage_reached"))
    val total = stages.agg(count(lit(1)).cast("double").as("n_top"))
    stages
      .groupBy(col("stage_reached"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(total))
      .select(col("stage_reached"), col("n_users"),
        round(col("n_users").cast("double") / col("n_top"), 6).as("frac_of_top"))
      .orderBy("stage_reached")
  }

  val funnelSql: String =
    """WITH t1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |t2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |  JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t1
      |    AND e.ts <= t1.t1 + INTERVAL 12 HOUR
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |t3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |  JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t2
      |    AND e.ts <= t2.t2 + INTERVAL 12 HOUR
      |  WHERE e.event_type = 'purchase' GROUP BY 1),
      |stages AS (
      |  SELECT t1.user_id,
      |    CASE WHEN t3.user_id IS NOT NULL THEN 3
      |         WHEN t2.user_id IS NOT NULL THEN 2
      |         ELSE 1 END AS stage_reached
      |  FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
      |  LEFT JOIN t3 ON t1.user_id = t3.user_id),
      |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_top FROM stages)
      |SELECT CAST(stage_reached AS INTEGER) AS stage_reached,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  round(CAST(count(*) AS DOUBLE) / n_top, 6) AS frac_of_top
      |FROM stages CROSS JOIN tot
      |GROUP BY stage_reached, n_top
      |ORDER BY stage_reached""".stripMargin

  // ------------------------------------------------- registry
  // ---------------------------------------------- cohort retention

  /** Weekly cohort retention matrix: users grouped by first-activity
    * week, each cohort's share of users still active N weeks later —
    * the standard product-analytics rollup. Shape: ONE distinct over
    * (user, week) feeds everything (cohort assignment, cohort sizes,
    * and the cells — after the distinct, a plain count per cell IS the
    * distinct-user count, so no countDistinct Expand), cohort sizes
    * are a tiny aggregate joined back (AQE broadcasts), and the only
    * corpus-scale shuffles are the user-keyed distinct/min — no
    * windows. `week_n` is exact integer arithmetic on week-truncated
    * timestamps, identical on both engines. */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
    val sizes = cohorts.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_users"))
    ev.join(cohorts, Seq("user_id"))
      .withColumn("week_n", (datediff(col("wk"), col("cohort_week")) / lit(7)).cast("int"))
      .groupBy(col("cohort_week"), col("week_n"))
      .agg(count(lit(1)).as("active_users"))
      .join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_n"), col("active_users"), col("cohort_users"),
        round(col("active_users").cast("double") / col("cohort_users"), 6).as("retention"))
      .orderBy("cohort_week", "week_n")
  }

  val retentionCohortsSql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events),
      |coh AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1),
      |sizes AS (SELECT cohort_week, count(*) AS cohort_users FROM coh GROUP BY 1),
      |cells AS (
      |  SELECT c.cohort_week,
      |    CAST(date_diff('day', CAST(c.cohort_week AS DATE), CAST(e.wk AS DATE)) / 7
      |      AS INTEGER) AS week_n,
      |    count(*) AS active_users
      |  FROM ev e JOIN coh c USING (user_id) GROUP BY 1, 2)
      |SELECT cohort_week, week_n, active_users, cohort_users,
      |  round(CAST(active_users AS DOUBLE) / cohort_users, 6) AS retention
      |FROM cells JOIN sizes USING (cohort_week)
      |ORDER BY cohort_week, week_n""".stripMargin

  // -------------------------------------------------- DAU / WAU

  /** Daily/weekly active users with the stickiness ratio (DAU/WAU) —
    * the other standard engagement rollup. WAU for day d counts users
    * active in [d-6, d]: each (user, day) distinct explodes into the 7
    * days it keeps the user "weekly active" for, and after a second
    * distinct a plain count per day IS the distinct-user count — two
    * hash aggregations and a bounded ×7 expansion, no windows over
    * user sets and no countDistinct Expand. The first six observed
    * days have only a partial [d-6, d] lookback (no data exists before
    * the stream starts), so they are trimmed — every reported day's
    * WAU covers a full 7-day window. The trim bound comes from the
    * already-aggregated per-day frame (a handful of rows), never a
    * third pass over the events table.
    *
    * Semantics choice: a day with ZERO directly-active users is
    * omitted from the report even when its trailing-7-day WAU is
    * nonzero (the dau-wau join is inner; stickiness would be 0/wau).
    * A calendar-dense report — gap days present with dau = 0 — is the
    * same plan with the join flipped to wau-side left and dau
    * coalesced to 0; the oracle pins the omitting convention. */
  def dauWau(s: SparkSession, dir: String): DataFrame = {
    val byDay = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val dau = byDay.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val bounds = dau.agg(min(col("day")).as("d0"))
    val wau = byDay
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") >= date_add(col("d0"), 6))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy("day")
  }

  val dauWauSql: String =
    """WITH byday AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM byday GROUP BY 1),
      |bounds AS (SELECT min(day) AS d0 FROM dau),
      |cover AS (
      |  SELECT DISTINCT user_id, day + CAST(u AS INTEGER) AS day
      |  FROM byday CROSS JOIN (SELECT unnest(range(7)) AS u) o),
      |wau AS (SELECT day, count(*) AS wau FROM cover GROUP BY 1)
      |SELECT dau.day, dau.dau, wau.wau,
      |  round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
      |FROM dau JOIN wau USING (day) CROSS JOIN bounds
      |WHERE dau.day >= d0 + 6
      |ORDER BY dau.day""".stripMargin

  // ------------------------------------------ behavior transitions

  /** First-order Markov transition matrix over per-user event
    * sequences: for every (from, to) event-type pair, how often a
    * user's next action follows the previous one, with the row-
    * conditional probability P(to|from) as exact integer ppm (floor
    * division — no float boundary between engines).
    *
    * Scale shape: ONE per-user window (lag over (ts, event_id) — the
    * id tiebreak makes simultaneous events deterministic) feeding ONE
    * hash aggregation whose output is bounded by |types|², then the
    * type-sized totals frame broadcasts back. The user-keyed exchange
    * is the same partitioning sessionization uses — on a user-bucketed
    * event table it disappears entirely (sources.Bucketing). */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tr = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("from_type"))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val totals = tr.groupBy(col("from_type")).agg(sum(col("n_trans")).as("n_from"))
    tr.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        expr("n_trans * 1000000 div n_from").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  val eventTransitionsSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS from_type
      |  FROM events),
      |tr AS (
      |  SELECT from_type, event_type AS to_type, count(*) AS n_trans
      |  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
      |        FROM tr GROUP BY 1)
      |SELECT from_type, to_type, n_trans,
      |  (n_trans * 1000000) // n_from AS p_ppm
      |FROM tr JOIN tot USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_event_transitions" -> (eventTransitions _),
    "q_dau_wau"           -> (dauWau _),
    "q_retention_cohorts" -> (retentionCohorts _),
    "q_funnel"            -> (funnel _),
    "q1_pricing_summary"  -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_local_supplier"   -> (q5LocalSupplier _),
    "q_topk_per_group"    -> (topkPerGroup _),
    "q_rollup_revenue"    -> (rollupRevenue _),
    "q_pivot_events"      -> (pivotEvents _),
    "q_running_window"    -> (runningWindow _),
    "q_percentiles"       -> (percentiles _),
    "q_distinct_users"    -> (distinctUsers _),
    "q_hll_union"         -> (hllUnion _),
    "q_json_extract"      -> (jsonExtract _),
    "q_tumbling_window"   -> (tumblingWindow _),
    "q_hopping_window"    -> (hoppingWindow _),
    "q_semi_join"         -> (semiJoin _),
    "q_anti_join"         -> (antiJoin _),
    "q_approx_quantiles"  -> (approxQuantiles _))

  def oracles: Map[String, String] = Map(
    "q_event_transitions" -> eventTransitionsSql,
    "q_dau_wau"           -> dauWauSql,
    "q_retention_cohorts" -> retentionCohortsSql,
    "q_funnel"            -> funnelSql,
    "q1_pricing_summary"  -> q1Sql,
    "q3_shipping_priority" -> q3Sql,
    "q5_local_supplier"   -> q5Sql,
    "q_topk_per_group"    -> topkPerGroupSql,
    "q_rollup_revenue"    -> rollupRevenueSql,
    "q_pivot_events"      -> pivotEventsSql,
    "q_running_window"    -> runningWindowSql,
    "q_percentiles"       -> percentilesSql,
    "q_distinct_users"    -> distinctUsersSql,
    "q_hll_union"         -> hllUnionSql,
    "q_json_extract"      -> jsonExtractSql,
    "q_tumbling_window"   -> tumblingWindowSql,
    "q_hopping_window"    -> hoppingWindowSql,
    "q_semi_join"         -> semiJoinSql,
    "q_anti_join"         -> antiJoinSql)
}
