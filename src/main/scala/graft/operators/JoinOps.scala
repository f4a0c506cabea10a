package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.GraftFunctions.decimalSum

/** Temporal join operators the built-in API lacks as single verbs,
  * composed from shuffles Spark already does well.
  *
  * As-of join: the classic union trick — tag both sides, union, one
  * repartition by key + ordered window, carry the last right-side row
  * forward. ONE shuffle on the join key, no range cross-join, no
  * broadcast requirement: at 100 TB this is the only shape that survives
  * (a naive inequality join degenerates to nested-loop).
  *
  * Sessionization: gap detection via lag + running conditional sum —
  * one shuffle on user, then a grouped agg on (user, session).
  */
object JoinOps {

  import AnalyticsOps.dec

  /** Generic ASOF LEFT join: for each left row, attach the latest right
    * row of the same `key` with `right(tsCol) <= left(tsCol)`, ties to
    * the greatest `rightTie`. Right payload columns come back prefixed
    * `asof_` (null when no match). */
  def asofJoinOf(left: DataFrame, right: DataFrame, key: String, tsCol: String,
      leftTie: String, rightTie: String): DataFrame =
    asofOf(left, right, key, tsCol, leftTie, rightTie, forward = false)

  /** Generic forward ASOF LEFT join: for each left row, attach the
    * EARLIEST right row of the same `key` with `right(tsCol) >=
    * left(tsCol)`, ties to the smallest `rightTie` — the mirror of
    * [[asofJoinOf]] (next reading at or after, instead of latest at or
    * before). */
  def asofForwardJoinOf(left: DataFrame, right: DataFrame, key: String, tsCol: String,
      leftTie: String, rightTie: String): DataFrame =
    asofOf(left, right, key, tsCol, leftTie, rightTie, forward = true)

  /** The one as-of skeleton: tag both sides, union, one shuffle on
    * `key`, and carry the last right payload forward over a running
    * (unbounded preceding → current row) frame, kept for the left rows.
    * Backward sorts (ts, tie) ascending; forward is backward over
    * (ts, tie) descending, which makes the earliest later row, with the
    * smallest tie, the last one seen. Either way right rows sort before
    * left rows on equal ts, so the boundary ts matches (`<=` / `>=`). */
  private def asofOf(left: DataFrame, right: DataFrame, key: String, tsCol: String,
      leftTie: String, rightTie: String, forward: Boolean): DataFrame = {
    val payloadCols = right.columns.filter(c => c != key && c != tsCol && c != rightTie)
    val rightTagged = right.select(
      col(key), col(tsCol), lit(0).as("__side"), col(rightTie).cast("long").as("__tie"),
      struct((tsCol +: rightTie +: payloadCols.toSeq).map(col): _*).as("__payload"))
    val leftTagged = left.select(
      col(key), col(tsCol), lit(1).as("__side"), col(leftTie).cast("long").as("__tie"),
      lit(null).cast(rightTagged.schema("__payload").dataType).as("__payload"),
      struct(left.columns.map(col): _*).as("__left"))
    val unioned = rightTagged.withColumn("__left",
        lit(null).cast(leftTagged.schema("__left").dataType))
      .unionByName(leftTagged)
    val order =
      if (forward) Seq(col(tsCol).desc, col("__side").asc, col("__tie").desc)
      else Seq(col(tsCol).asc, col("__side").asc, col("__tie").asc)
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__match", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val leftOut = left.columns.map(c => col("__left").getField(c).as(c))
    val rightOut = (tsCol +: rightTie +: payloadCols.toSeq)
      .map(c => col("__match").getField(c).as(s"asof_$c"))
    matched.select(leftOut ++ rightOut: _*)
  }

  /** The as-of queries' inputs: the events table's clicks and purchases. */
  private def clicksAndPurchases(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables.events(s, dir)
    (e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id")),
      e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"), col("value")))
  }

  /** For each click event: the next purchase of the same user at or
    * after the click ts (forward ASOF, via the generic API). */
  def asofForward(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(s, dir)
    asofForwardJoinOf(clicks, purchases, "user_id", "ts", "click_id", "purchase_id")
      .orderBy("click_id")
  }

  /** Deterministic oracle: DuckDB's ASOF JOIN leaves the choice among
    * equal-ts right rows unspecified, while the engine pins min
    * purchase_id (window order ts, side, tie). The window formulation
    * below pins the exact same row — (ts, purchase_id) ascending — so
    * the hash compare cannot flake if generated events ever tie. */
  val asofForwardSql: String =
    """WITH c AS (SELECT user_id, ts, event_id AS click_id
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, event_id AS purchase_id, value
      |      FROM events WHERE event_type = 'purchase'),
      |m AS (SELECT c.click_id, p.ts AS asof_ts, p.purchase_id AS asof_purchase_id,
      |        p.value AS asof_value,
      |        row_number() OVER (PARTITION BY c.click_id
      |                           ORDER BY p.ts, p.purchase_id) AS rn
      |      FROM c JOIN p ON c.user_id = p.user_id AND p.ts >= c.ts)
      |SELECT c.user_id, c.ts, c.click_id, m.asof_ts, m.asof_purchase_id, m.asof_value
      |FROM c LEFT JOIN m ON c.click_id = m.click_id AND m.rn = 1
      |ORDER BY c.click_id""".stripMargin

  /** For each purchase event: the most recent click of the same user at or
    * before the purchase ts (ASOF semantics, left join). */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(s, dir)
    asofJoinOf(purchases, clicks, "user_id", "ts", "purchase_id", "click_id")
      .select(col("purchase_id"), col("user_id"), col("ts"), col("value"),
        col("asof_click_id").as("last_click_id"), col("asof_ts").as("last_click_ts"))
      .orderBy("purchase_id")
  }

  /** The same ASOF query through the native custom operator
    * ([[graft.plans.AsOfJoinNative]]: LogicalPlan + Strategy +
    * merge-join SparkPlan) — hash-checked against the identical DuckDB
    * ASOF oracle as the window encoding, so the custom physical operator
    * is driver-verified, not just spec-verified. */
  def asofJoinNative(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(s, dir)
    graft.plans.AsOfJoinNative.asofJoin(purchases, clicks, "user_id", "ts", "click_id")
      .toDF("user_id", "ts", "purchase_id", "value", "u2", "last_click_ts", "last_click_id")
      .select(col("purchase_id"), col("user_id"), col("ts"), col("value"),
        col("last_click_id"), col("last_click_ts"))
      .orderBy("purchase_id")
  }

  val asofJoinSql: String =
    """WITH p AS (SELECT event_id AS purchase_id, user_id, ts, value
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, ts
      |      FROM events WHERE event_type = 'click'),
      |m AS (SELECT p.purchase_id, c.click_id AS last_click_id, c.ts AS last_click_ts,
      |        row_number() OVER (PARTITION BY p.purchase_id
      |                           ORDER BY c.ts DESC, c.click_id DESC) AS rn
      |      FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
      |SELECT p.purchase_id, p.user_id, p.ts, p.value,
      |  m.last_click_id, m.last_click_ts
      |FROM p LEFT JOIN m ON p.purchase_id = m.purchase_id AND m.rn = 1
      |ORDER BY p.purchase_id""".stripMargin

  /** Equi + range predicate join: lineitems shipped within 60 days of
    * their order date, aggregated per order month. The equi key keeps it a
    * hash join; the range predicate is a post-join filter, not a
    * nested-loop. */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("order_month"))
      .agg(count(lit(1)).as("n_lineitems"),
        decimalSum(dec(col("l_quantity"))).cast("double").as("total_qty"))
      .orderBy("order_month")
  }

  val rangeJoinSql: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
      |  count(*) AS n_lineitems,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= o_orderdate
      |  AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
      |GROUP BY 1 ORDER BY order_month""".stripMargin

  /** Generic API: join points to intervals with NO equi key — the case
    * Spark plans as a nested-loop (O(n·m) compares) — via time-bucket
    * banding: every interval explodes into the fixed-width buckets it
    * covers, every point keys into its one bucket, and the join becomes
    * an equi-join on the bucket id followed by the exact containment
    * filter. Each (point, interval) pair meets exactly once (a point
    * lives in exactly one bucket), so no dedup pass is needed. Shuffle
    * volume is O(points + intervals · widths/bucketWidth) — pick
    * `bucketWidthUs` near the typical interval width so the explode
    * factor stays small. The same banding serves any ordered domain
    * (genomic ranges, numeric bands), not just time.
    *
    * @param points     frame with `ptsCol` (timestamp)
    * @param intervals  frame with `startCol`/`endCol` (timestamps,
    *                   inclusive bounds)
    */
  def bandedIntervalJoinOf(points: DataFrame, intervals: DataFrame,
      ptsCol: String, startCol: String, endCol: String,
      bucketWidthUs: Long): DataFrame = {
    val b = lit(bucketWidthUs)
    val iv = intervals.withColumn("bucket",
      explode(sequence(floor(unix_micros(col(startCol)) / b).cast("long"),
        floor(unix_micros(col(endCol)) / b).cast("long"))))
    val pt = points.withColumn("bucket",
      floor(unix_micros(col(ptsCol)) / b).cast("long"))
    pt.join(iv, Seq("bucket"))
      .filter(col(ptsCol) >= col(startCol) && col(ptsCol) <= col(endCol))
      .drop("bucket")
  }

  /** Interval join on the event stream: each purchase opens a 1-hour
    * attribution window; count the clicks that land inside it. No equi
    * key relates clicks to purchases, so without banding this is a
    * nested loop over every (click, purchase) pair. */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
    bandedIntervalJoinOf(clicks, purchases, "click_ts", "w_start", "w_end",
        bucketWidthUs = 3600L * 1000000)
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_clicks"),
        min(col("click_ts")).as("first_click"))
      .orderBy("purchase_id")
  }

  val intervalJoinSql: String =
    """SELECT p.event_id AS purchase_id,
      |  count(*) AS n_clicks,
      |  min(c.ts) AS first_click
      |FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT event_id, ts FROM events WHERE event_type = 'click') c
      |  ON c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
      |GROUP BY 1 ORDER BY purchase_id""".stripMargin

  /** Gap-based sessionization: a 30-minute silence starts a new session. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_session"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        decimalSum(dec(col("value"))).cast("double").as("session_value"))
      .orderBy("user_id", "session_seq")
  }

  val sessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |s AS (
      |  SELECT user_id, ts, value,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM g)
      |SELECT user_id, session_seq,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM s GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** Generic NEAREST as-of join: for each left row, the right row of
    * the same `key` closest in event time (either direction) within
    * `toleranceUs` microseconds — the remaining member of the as-of
    * family (backward = latest ≤, forward = earliest ≥, nearest =
    * min |Δt|). Composed from [[asofJoinOf]] + [[asofForwardJoinOf]]:
    * the per-side winners are the global distance minima, so comparing
    * the two is exact, and both passes shuffle on the same `key` so the
    * second exchange reuses the first's partitioning. Ties: equal
    * distance → the earlier (backward) row; equal-ts ties inherit each
    * side's deterministic pick (backward: max `rightTie`; forward:
    * min `rightTie`). `leftTie` must be unique per (key, ts) — the same
    * determinism contract the sibling APIs rely on — since the two
    * passes re-join on (key, ts, leftTie). Output columns come back
    * prefixed `near_`, plus a `direction` column
    * ('backward'/'forward'/null). */
  def asofNearestJoinOf(left: DataFrame, right: DataFrame, key: String, tsCol: String,
      leftTie: String, rightTie: String, toleranceUs: Long): DataFrame = {
    val payload = tsCol +: rightTie +: right.columns
      .filter(c => c != key && c != tsCol && c != rightTie).toSeq
    val back = asofJoinOf(left, right, key, tsCol, leftTie, rightTie)
    val fwd = asofForwardJoinOf(left, right, key, tsCol, leftTie, rightTie)
      .select(Seq(col(key), col(tsCol), col(leftTie)) ++
        payload.map(c => col(s"asof_$c").as(s"__fwd_$c")): _*)
    val joined = back.join(fwd, Seq(key, tsCol, leftTie))
    val db = unix_micros(col(tsCol)) - unix_micros(col(s"asof_$tsCol"))
    val df = unix_micros(col(s"__fwd_$tsCol")) - unix_micros(col(tsCol))
    val bOk = col(s"asof_$tsCol").isNotNull && db <= toleranceUs
    val fOk = col(s"__fwd_$tsCol").isNotNull && df <= toleranceUs
    val useB = bOk && (!fOk || db <= df)
    val useF = !useB && fOk
    val nearCols = payload.map(c =>
      when(useB, col(s"asof_$c")).when(useF, col(s"__fwd_$c")).as(s"near_$c"))
    val direction = when(useB, lit("backward")).when(useF, lit("forward"))
      .otherwise(lit(null).cast("string")).as("direction")
    joined.select(left.columns.map(col).toSeq ++ nearCols :+ direction: _*)
  }

  /** For each click: the purchase of the same user NEAREST in time,
    * looking both directions, within a 6-hour tolerance. */
  def asofNearest(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(s, dir)
    asofNearestJoinOf(clicks, purchases, "user_id", "ts", "click_id", "purchase_id",
        6L * 3600 * 1000000)
      .orderBy("click_id")
  }

  /** Oracle: global nearest within tolerance via one windowed rank.
    * The ORDER BY pins the engine's exact tie chain: min distance →
    * earlier ts (backward beats forward on equal distance) → each
    * side's deterministic id pick (backward max id, forward min id). */
  val asofNearestSql: String =
    """WITH c AS (SELECT user_id, ts, event_id AS click_id
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, event_id AS purchase_id, value
      |      FROM events WHERE event_type = 'purchase'),
      |m AS (SELECT c.click_id, p.ts AS near_ts, p.purchase_id AS near_purchase_id,
      |        p.value AS near_value,
      |        CASE WHEN p.ts <= c.ts THEN 'backward' ELSE 'forward' END AS direction,
      |        row_number() OVER (PARTITION BY c.click_id
      |          ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)),
      |                   p.ts,
      |                   CASE WHEN p.ts <= c.ts THEN -p.purchase_id
      |                        ELSE p.purchase_id END) AS rn
      |      FROM c JOIN p ON c.user_id = p.user_id
      |        AND abs(epoch_us(p.ts) - epoch_us(c.ts)) <= 21600000000)
      |SELECT c.user_id, c.ts, c.click_id, m.near_ts, m.near_purchase_id,
      |  m.near_value, m.direction
      |FROM c LEFT JOIN m ON c.click_id = m.click_id AND m.rn = 1
      |ORDER BY c.click_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_asof_join"     -> (asofJoin _),
    "q_asof_forward"  -> (asofForward _),
    "q_asof_nearest"  -> (asofNearest _),
    "q_asof_native"   -> (asofJoinNative _),
    "q_range_join"    -> (rangeJoin _),
    "q_interval_join" -> (intervalJoin _),
    "q_sessionize"    -> (sessionize _))

  def oracles: Map[String, String] = Map(
    "q_asof_join"     -> asofJoinSql,
    "q_asof_forward"  -> asofForwardSql,
    "q_asof_nearest"  -> asofNearestSql,
    "q_asof_native"   -> asofJoinSql,
    "q_range_join"    -> rangeJoinSql,
    "q_interval_join" -> intervalJoinSql,
    "q_sessionize"    -> sessionizeSql)
}
