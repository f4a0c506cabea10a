package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AsofGenericSpec extends SparkSpec {

  test("generic asof join matches a brute-force fold") {
    val e = graft.Tables.events(spark, sfDir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"), col("value"))

    val generic = JoinOps.asofJoinOf(purchases, clicks,
        key = "user_id", tsCol = "ts", leftTie = "purchase_id", rightTie = "click_id")
      .select(col("purchase_id"), col("asof_click_id"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

    // per purchase, the same user's click with the greatest ts <= the
    // purchase ts, ties to the greatest click id (the oracle's ORDER BY)
    def rows(df: org.apache.spark.sql.DataFrame, id: String) =
      df.select(col("user_id"), unix_micros(col("ts")), col(id)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val cs = rows(clicks, "click_id").groupBy(_._1)
    val expected = rows(purchases, "purchase_id").map { case (u, t, pid) =>
      pid -> cs.getOrElse(u, Nil).filter(_._2 <= t)
        .sortBy { case (_, ct, cid) => (ct, cid) }.lastOption.map(_._3)
    }.toMap

    assert(expected.values.exists(_.isDefined) && expected.values.exists(_.isEmpty),
      "the events must give both matched and unmatched purchases")
    assert(generic == expected)
  }

  test("forward and nearest asof plans run no unbounded-following window frame") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val left = Seq((1L, ts(100), 50L)).toDF("user_id", "ts", "click_id")
    val right = Seq((1L, ts(90), 1L, 1.0), (1L, ts(110), 2L, 2.0))
      .toDF("user_id", "ts", "purchase_id", "value")
    // UnboundedFollowingWindowFunctionFrame re-aggregates the rest of
    // the partition for every row
    Seq(
      "forward" -> JoinOps.asofForwardJoinOf(left, right, "user_id", "ts",
        "click_id", "purchase_id"),
      "nearest" -> JoinOps.asofNearestJoinOf(left, right, "user_id", "ts",
        "click_id", "purchase_id", 50L * 1000000)).foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Window"), s"$name: no window in\n$plan")
      assert(!plan.toLowerCase.contains("unboundedfollowing"),
        s"$name runs an unbounded-following frame:\n$plan")
    }
  }

  test("backward/forward asof: same-ts ties are deterministic and mirror the oracle's ORDER BY") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // right rows deliberately collide on ts — both at the left row's own
    // ts (the <= / >= boundary) and at a shared earlier/later instant
    val left = Seq((1L, ts(100), 50L)).toDF("user_id", "ts", "click_id")
    val right = Seq(
      (1L, ts(90), 1L, 1.0), (1L, ts(90), 2L, 2.0),   // earlier tie pair
      (1L, ts(100), 3L, 3.0), (1L, ts(100), 4L, 4.0), // boundary tie pair
      (1L, ts(110), 5L, 5.0), (1L, ts(110), 6L, 6.0)  // later tie pair
    ).toDF("user_id", "ts", "purchase_id", "value")

    // Backward (<=): boundary rows are eligible; the oracle's
    // ORDER BY ts DESC, id DESC picks ts=100, id=4. The window
    // formulation must agree: last() over (ts, side, tie ASC).
    val back = JoinOps.asofJoinOf(left, right, "user_id", "ts", "click_id", "purchase_id")
      .select("click_id", "asof_purchase_id").head()
    assert(back.getLong(1) == 4L,
      s"backward tie must resolve to max id at max ts, got ${back.getLong(1)}")

    // Forward (>=): boundary rows are eligible; the oracle's
    // ORDER BY ts ASC, id ASC picks ts=100, id=3.
    val fwd = JoinOps.asofForwardJoinOf(left, right, "user_id", "ts", "click_id", "purchase_id")
      .select("click_id", "asof_purchase_id").head()
    assert(fwd.getLong(1) == 3L,
      s"forward tie must resolve to min id at min ts, got ${fwd.getLong(1)}")

    // Left rows tying with each other must each get their own verdict.
    val left2 = Seq((1L, ts(100), 50L), (1L, ts(100), 51L)).toDF("user_id", "ts", "click_id")
    val both = JoinOps.asofJoinOf(left2, right, "user_id", "ts", "click_id", "purchase_id")
      .select("click_id", "asof_purchase_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(both == Map(50L -> 4L, 51L -> 4L))
  }

  test("nearest asof: distance, tolerance, and the full tie chain") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val left = Seq(
      (1L, ts(100), 10L), // equidistant purchases → backward wins
      (1L, ts(200), 11L), // only a forward match in tolerance
      (1L, ts(300), 12L), // distance-0 tie on equal ts → backward side, max id
      (1L, ts(400), 13L), // nothing within tolerance → null row
      (2L, ts(500), 14L), // other key: its own series
      (1L, ts(600), 20L), // same click_id under two keys — the passes
      (2L, ts(600), 20L)  //   must re-join on (key, ts, tie), not tie
    ).toDF("user_id", "ts", "click_id")
    val right = Seq(
      (1L, ts(90), 1L, 1.0), (1L, ts(110), 2L, 2.0),
      (1L, ts(205), 3L, 3.0),
      (1L, ts(300), 4L, 4.0), (1L, ts(300), 5L, 5.0),
      (1L, ts(480), 6L, 6.0), // 80s from click 13 — outside 50s tolerance
      (2L, ts(520), 7L, 7.0),
      (1L, ts(601), 8L, 8.0), (2L, ts(599), 9L, 9.0)
    ).toDF("user_id", "ts", "purchase_id", "value")

    val rows = JoinOps.asofNearestJoinOf(left, right, "user_id", "ts",
        "click_id", "purchase_id", toleranceUs = 50L * 1000000)
      .select("user_id", "click_id", "near_purchase_id", "direction").collect()
    assert(rows.length == left.count(), "exactly one verdict per left row")
    val out = rows.map(r => (r.getLong(0), r.getLong(1)) ->
        ((if (r.isNullAt(2)) None else Some(r.getLong(2))),
          (if (r.isNullAt(3)) None else Some(r.getString(3))))).toMap

    assert(out((1L, 10L)) == ((Some(1L), Some("backward"))), "equal distance → earlier row")
    assert(out((1L, 11L)) == ((Some(3L), Some("forward"))))
    assert(out((1L, 12L)) == ((Some(5L), Some("backward"))), "equal-ts tie → backward max id")
    assert(out((1L, 13L)) == ((None, None)), "outside tolerance")
    assert(out((2L, 14L)) == ((Some(7L), Some("forward"))), "keys never cross")
    assert(out((1L, 20L)) == ((Some(8L), Some("forward"))), "shared tie, key 1")
    assert(out((2L, 20L)) == ((Some(9L), Some("backward"))), "shared tie, key 2")
  }

  test("nearest asof matches a brute-force reference on dense random ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // timestamps drawn from a tiny range so equal-ts and equal-distance
    // ties happen constantly
    val left = (1L to 60L).map(i => (rnd.nextInt(3).toLong, ts(rnd.nextInt(40).toLong), i))
    val right = (101L to 160L).map(i =>
      (rnd.nextInt(3).toLong, ts(rnd.nextInt(40).toLong), i, i.toDouble))
    val tolUs = 8L * 1000000

    val got = JoinOps.asofNearestJoinOf(
        left.toDF("user_id", "ts", "click_id"),
        right.toDF("user_id", "ts", "purchase_id", "value"),
        "user_id", "ts", "click_id", "purchase_id", tolUs)
      .select("click_id", "near_purchase_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

    left.foreach { case (k, lts, cid) =>
      val best = right.filter(r => r._1 == k &&
          math.abs(r._2.getTime - lts.getTime) * 1000 <= tolUs)
        .sortBy { case (_, rts, rid, _) =>
          val dist = math.abs(rts.getTime - lts.getTime)
          val tie = if (rts.getTime <= lts.getTime) -rid else rid
          (dist, rts.getTime, tie)
        }.headOption.map(_._3)
      assert(got(cid) == best, s"click $cid (key $k ts ${lts.getTime})")
    }
  }
}
