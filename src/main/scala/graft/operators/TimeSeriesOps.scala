package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.GraftFunctions.decimalSum

/** Time-series resampling over the event stream: hourly gap-fill,
  * last-observation-carried-forward, and a truncated (FIR) EWMA.
  *
  * Scale notes (100 TB): the hourly rollup is the only full-data
  * shuffle — map-side partial aggregation collapses each task's events
  * to one row per (user, hour) before the exchange. Everything after it
  * runs on the rolled-up frame (users x active-hours, orders of
  * magnitude smaller than the raw stream): the spine explode is
  * map-side from per-user (min, max) bounds, and the fill join is an
  * equi-join on (user_id, bucket) that AQE plans against the rollup.
  * The EWMA is deliberately the TRUNCATED form — an exact recursive
  * EWMA needs either a sequential scan per key or a pow() rescaling
  * trick that overflows double range after ~1000 rows, while the
  * 8-lag FIR window is O(1) state per row, stays inside whole-stage
  * codegen, and is within (1-alpha)^8 < 6% of the infinite tail.
  */
object TimeSeriesOps {

  import AnalyticsOps.dec

  /** Dense hourly spine per key: one row for every hour from the key's
    * first to last populated bucket (the shared scaffold of gap-fill,
    * LOCF, and the anomaly window — one definition so the three
    * resamplers can't drift). `b` needs (keyCol, bucket). */
  private def denseSpine(b: DataFrame, keyCol: String): DataFrame =
    b.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
      .select(col(keyCol),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("bucket"))

  private val hourlySql: String =
    """WITH b AS (
      |  SELECT user_id, date_trunc('hour', ts) AS bucket, count(*) AS n_events,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1),
      |spine AS (
      |  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      |  FROM r),
      |g AS (
      |  SELECT s.user_id, s.bucket, b.n_events, b.sum_value
      |  FROM spine s LEFT JOIN b ON s.user_id = b.user_id AND s.bucket = b.bucket)
      |""".stripMargin

  /** Per-(user, hour) rollup over any (user_id, ts, value) frame: event
    * count + exact decimal value sum (reassociation-safe, so the hash
    * matches the oracle at any partition count) — the shared input tier
    * for [[gapFillOf]]/[[locfOf]]. */
  private def hourlyOf(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"), window(col("ts"), "1 hour").getField("start").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        decimalSum(dec(col("value"))).cast("double").as("sum_value"))

  /** Generic API: hourly spine per key (first..last active hour) with
    * zero-filled gaps over any (user_id, ts, value) frame. */
  def gapFillOf(ev: DataFrame): DataFrame = {
    val b = hourlyOf(ev)
    denseSpine(b, "user_id").join(b, Seq("user_id", "bucket"), "left")
      .select(col("user_id"), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy("user_id", "bucket")
  }

  /** Hourly spine per user (first..last active hour) with zero-filled
    * gaps — the regular grid a downstream forecaster or anomaly
    * detector needs. */
  def gapFill(s: SparkSession, dir: String): DataFrame =
    gapFillOf(Tables.events(s, dir))

  val gapFillSql: String = hourlySql +
    """SELECT user_id, bucket, coalesce(n_events, 0) AS n_events,
      |  coalesce(sum_value, 0e0) AS sum_value
      |FROM g ORDER BY user_id, bucket""".stripMargin

  /** Generic API: the LOCF spine over any (user_id, ts, value) frame. */
  def locfOf(ev: DataFrame): DataFrame = {
    val b = hourlyOf(ev)
    val w = Window.partitionBy("user_id").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    denseSpine(b, "user_id").join(b, Seq("user_id", "bucket"), "left")
      .select(col("user_id"), col("bucket"),
        last(col("sum_value"), ignoreNulls = true).over(w).as("filled_value"))
      .orderBy("user_id", "bucket")
  }

  /** Same spine, but gap hours carry the last observed hourly sum
    * forward (LOCF resampling) instead of zeroing. `last(ignoreNulls)`
    * over a running frame is O(1) window state. */
  def locf(s: SparkSession, dir: String): DataFrame =
    locfOf(Tables.events(s, dir))

  val locfSql: String = hourlySql +
    """SELECT user_id, bucket,
      |  last_value(sum_value IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      |FROM g ORDER BY user_id, bucket""".stripMargin

  // FIR weights (1-alpha)^k for alpha = 0.3: exact decimal literals
  // (7^k / 10^k), identical on both sides — never computed via pow(),
  // whose last-ulp may differ between engines.
  private val firWeights = Seq(0.7, 0.49, 0.343, 0.2401, 0.16807, 0.117649, 0.0823543)
  private val firWeightsSqlLits =
    Seq("0.7e0", "0.49e0", "0.343e0", "0.2401e0", "0.16807e0", "0.117649e0", "0.0823543e0")

  /** Truncated exponentially-weighted moving average of each user's
    * event values (alpha = 0.3, 8-tap FIR, weights renormalized over
    * the taps that exist). Additions are written left-associated in
    * BOTH engines so the double arithmetic is bit-identical. */
  def ewma(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val lags = firWeights.indices.map(k => lag(col("value"), k + 1).over(w))
    val num = lags.zip(firWeights).foldLeft(col("value")) {
      case (acc, (l, wk)) => acc + coalesce(l, lit(0.0)) * lit(wk)
    }
    val den = lags.zip(firWeights).foldLeft(lit(1.0)) {
      case (acc, (l, wk)) => acc + when(l.isNotNull, lit(wk)).otherwise(lit(0.0))
    }
    Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        round(num / den, 6).as("ewma"))
      .orderBy("user_id", "ts", "event_id")
  }

  val ewmaSql: String = {
    val num = firWeightsSqlLits.zipWithIndex.foldLeft("value") {
      case (acc, (wk, k)) =>
        s"$acc + coalesce(lag(value, ${k + 1}) OVER w, 0e0) * $wk"
    }
    val den = firWeightsSqlLits.zipWithIndex.foldLeft("1e0") {
      case (acc, (wk, k)) =>
        s"$acc + CASE WHEN lag(value, ${k + 1}) OVER w IS NOT NULL THEN $wk ELSE 0e0 END"
    }
    s"""SELECT user_id, event_id, ts, value,
       |  round(($num) / ($den), 6) AS ewma
       |FROM events WHERE value IS NOT NULL
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY user_id, ts, event_id""".stripMargin
  }

  /** Hourly-volume anomaly detection per event type: z-score of each
    * hour's count against the trailing 24 dense-spine hours. The
    * trailing mean/variance come from EXACT integer window sums (count,
    * sum, sum-of-squares over longs) cast to double only at the final
    * formula — the one expression-tree shape both engines fold
    * bit-identically, where a streaming stddev implementation would
    * diverge in the last ulp. Warm-up (<12 trailing hours) rows are
    * dropped; zero-variance windows score 0. */
  def anomaly(s: SparkSession, dir: String): DataFrame =
    anomalyOf(Tables.events(s, dir))

  /** Generic API over any (event_type, ts) frame — the batch twin of
    * [[graft.streaming.EventStream.anomalyScoreStream]]. */
  def anomalyOf(events: DataFrame): DataFrame = {
    val b = events
      .groupBy(col("event_type"), window(col("ts"), "1 hour").getField("start").as("bucket"))
      .agg(count(lit(1)).as("n"))
    val g = denseSpine(b, "event_type").join(b, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
    val tw = Window.partitionBy("event_type").orderBy("bucket").rowsBetween(-24, -1)
    val m = count(lit(1)).over(tw)
    val sm = sum(col("n")).over(tw).cast("double")
    val ss = sum(col("n") * col("n")).over(tw).cast("double")
    val md = m.cast("double")
    g.select(col("event_type"), col("bucket"), col("n"), m.as("m"),
        (sm / md).as("mean0"),
        ((ss - sm * sm / md) / (md - lit(1.0))).as("var0"))
      .filter(col("m") >= 12)
      .select(col("event_type"), col("bucket"), col("n"),
        when(col("var0") > 0.0,
          round((col("n").cast("double") - col("mean0")) / sqrt(col("var0")), 6))
          .otherwise(lit(0.0)).as("zscore"))
      .withColumn("anomaly", abs(col("zscore")) > lit(3.0))
      .orderBy("event_type", "bucket")
  }

  val anomalySql: String =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1),
      |spine AS (
      |  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      |  FROM r),
      |g AS (
      |  SELECT s.event_type, s.bucket, coalesce(b.n, 0) AS n
      |  FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bucket = b.bucket),
      |w AS (
      |  SELECT event_type, bucket, n,
      |    count(*) OVER tw AS m,
      |    CAST(sum(n) OVER tw AS DOUBLE) AS s,
      |    CAST(sum(n*n) OVER tw AS DOUBLE) AS ss
      |  FROM g
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY bucket
      |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      |v AS (
      |  SELECT event_type, bucket, n, m,
      |    s / CAST(m AS DOUBLE) AS mean0,
      |    (ss - s * s / CAST(m AS DOUBLE)) / (CAST(m AS DOUBLE) - 1e0) AS var0
      |  FROM w WHERE m >= 12)
      |SELECT event_type, bucket, n,
      |  CASE WHEN var0 > 0e0
      |       THEN round((CAST(n AS DOUBLE) - mean0) / sqrt(var0), 6)
      |       ELSE 0e0 END AS zscore,
      |  abs(CASE WHEN var0 > 0e0
      |       THEN round((CAST(n AS DOUBLE) - mean0) / sqrt(var0), 6)
      |       ELSE 0e0 END) > 3e0 AS anomaly
      |FROM v ORDER BY event_type, bucket""".stripMargin

  /** Winsorization: clip event values to each type's [p1, p99] band —
    * the standard outlier guard before loss-weighted training. Bounds
    * are rounded to 6 decimals on BOTH sides so the clip thresholds are
    * exactly equal across engines; the 5-row bounds frame rides an
    * explicit broadcast, so the CLIP runs map-side at scan speed. The
    * bounds aggregation itself uses the exact `percentile` (an
    * ObjectHashAggregate buffering each type's values — the
    * oracle-exact form, affordable while a type's values fit an
    * executor); at full corpus scale swap it for `approx_percentile`
    * (mergeable sketch, same clip plumbing), the same exact→sketch
    * trade [[graft.operators.AnalyticsOps.approxQuantiles]] documents
    * for percentiles. */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val bounds = ev.groupBy(col("event_type")).agg(
      round(expr("percentile(value, 0.01)"), 6).as("lo"),
      round(expr("percentile(value, 0.99)"), 6).as("hi"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        least(greatest(col("value"), col("lo")), col("hi")).as("v_clip"),
        (col("value") < col("lo") || col("value") > col("hi")).as("clipped"))
      .orderBy("event_id")
  }

  /** The corpus-scale path for [[winsorize]]: bounds from a mergeable
    * VALUE-HISTOGRAM sketch instead of a per-type value buffer. Event
    * values are fixed-precision telemetry (2 decimals), so grouping by
    * (type, value) gives a bounded-cardinality histogram that map-side
    * combines; the p1/p99 bound is then the smallest value whose
    * cumulative count reaches the discrete rank ceil(p·n) — computed
    * with pure integer arithmetic ((n+99) div 100), so the bounds are
    * ACTUAL data values and identical across engines: the whole clip
    * output is hash-exact against the SQL oracle, unlike an
    * `approx_percentile` sketch whose rank interpolation is
    * engine-specific. For arbitrary-precision values, swap the
    * histogram for `approx_percentile` — [[winsorizeSketch]] is that
    * form, verdict-agreement pinned in spec. */
  def winsorizeApprox(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val hist = ev.groupBy(col("event_type"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(col("event_type")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wcum))
      .withColumn("n", sum(col("c")).over(wall))
    val bounds = cum.groupBy(col("event_type")).agg(
      min(when(expr("cum >= (n + 99) div 100"), col("v"))).as("lo"),
      min(when(expr("cum >= (n * 99 + 99) div 100"), col("v"))).as("hi"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        least(greatest(col("value"), col("lo")), col("hi")).as("v_clip"),
        (col("value") < col("lo") || col("value") > col("hi")).as("clipped"))
      .orderBy("event_id")
  }

  /** `approx_percentile` variant for arbitrary-precision values —
    * engine-specific sketch, so not oracle-comparable; verdict
    * agreement with [[winsorize]] is pinned in spec. */
  def winsorizeSketch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val bounds = ev.groupBy(col("event_type")).agg(
      round(expr("approx_percentile(value, 0.01, 10000)"), 6).as("lo"),
      round(expr("approx_percentile(value, 0.99, 10000)"), 6).as("hi"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        least(greatest(col("value"), col("lo")), col("hi")).as("v_clip"),
        (col("value") < col("lo") || col("value") > col("hi")).as("clipped"))
      .orderBy("event_id")
  }

  /** Discrete-rank winsorize oracle: same integer rank arithmetic as
    * the histogram sketch, so bounds (and every clip verdict) match
    * exactly. */
  val winsorizeApproxSql: String =
    """WITH h AS (
      |  SELECT event_type, value AS v, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, v,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY v
      |                 ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM h),
      |b AS (
      |  SELECT event_type,
      |    min(CASE WHEN cum >= (n + 99) // 100 THEN v END) AS lo,
      |    min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN v END) AS hi
      |  FROM cum GROUP BY 1)
      |SELECT event_id, e.event_type, value,
      |  least(greatest(value, lo), hi) AS v_clip,
      |  (value < lo OR value > hi) AS clipped
      |FROM events e JOIN b ON e.event_type = b.event_type
      |ORDER BY event_id""".stripMargin

  val winsorizeSql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    round(quantile_cont(value, 0.01), 6) AS lo,
      |    round(quantile_cont(value, 0.99), 6) AS hi
      |  FROM events GROUP BY 1)
      |SELECT event_id, e.event_type, value,
      |  least(greatest(value, lo), hi) AS v_clip,
      |  (value < lo OR value > hi) AS clipped
      |FROM events e JOIN b ON e.event_type = b.event_type
      |ORDER BY event_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gap_fill"  -> (gapFill _),
    "q_locf"      -> (locf _),
    "q_ewma"      -> (ewma _),
    "q_anomaly"   -> (anomaly _),
    "q_winsorize" -> (winsorize _),
    "q_winsorize_approx" -> (winsorizeApprox _))

  def oracles: Map[String, String] = Map(
    "q_gap_fill"  -> gapFillSql,
    "q_locf"      -> locfSql,
    "q_ewma"      -> ewmaSql,
    "q_anomaly"   -> anomalySql,
    "q_winsorize" -> winsorizeSql,
    "q_winsorize_approx" -> winsorizeApproxSql)
}
