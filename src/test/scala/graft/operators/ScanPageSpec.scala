package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Keyset-pagination protocol: looping scanPage with the returned resume
  * token must tile the filtered sorted scan exactly — no gaps, no
  * overlaps, deterministic order — and terminate on the empty page,
  * mirroring the reference's LastEvaluatedKey loop
  * (aws/dynamo_manager.py:216-230). */
class ScanPageSpec extends SparkSpec {

  /** Runs the continuation loop until the empty page; returns the
    * non-empty pages, each as its key tuples in scan order. */
  private def pageLoop(keys: Seq[String], size: Int, maxRounds: Int,
      fields: Seq[String], filters: Seq[ScanFilter] = Nil): Vector[Seq[Seq[Any]]] = {
    val orders = graft.Tables.orders(spark, sfDir)
    var token: Option[Seq[Any]] = None
    var pages = Vector.empty[Seq[Seq[Any]]]
    var rounds = 0
    while ({
      val page = ScanOps.scanPage(orders, keys, size, token, fields, filters)
      val rows = page.orderBy(keys.map(col): _*).select(keys.map(col): _*).collect()
        .map(_.toSeq).toSeq
      token = ScanOps.resumeToken(page, keys)
      if (rows.nonEmpty) pages :+= rows
      rounds += 1
      assert(rounds <= maxRounds, "pagination loop must terminate")
      rows.nonEmpty
    }) ()
    assert(token.isEmpty, "the empty page's token is None")
    pages
  }

  private def sortedScan(keys: Seq[String], fields: Seq[String],
      filters: Seq[ScanFilter] = Nil): Seq[Seq[Any]] =
    ScanOps.scan(graft.Tables.orders(spark, sfDir), fields, filters)
      .orderBy(keys.map(col): _*).select(keys.map(col): _*).collect()
      .map(_.toSeq).toSeq

  test("pages tile the filtered scan exactly and the loop terminates") {
    val fields = Seq("o_orderkey", "o_totalprice")
    val filters = Seq(ScanFilter("o_totalprice", ">", 100000.0))
    val size = 150
    val keys = Seq("o_orderkey")
    val full = sortedScan(keys, fields, filters)
    assert(full.size > 2 * size, "need at least three pages for the loop to be exercised")

    val pages = pageLoop(keys, size, full.size / size + 2, fields, filters)
    assert(pages.init.forall(_.size == size), "every page but the last is full")
    assert(pages.flatten == full, "pages concatenate to exactly the full sorted scan")
  }

  test("resume token of an exhausted scan is None") {
    val orders = graft.Tables.orders(spark, sfDir)
    val empty = ScanOps.scanPage(orders, Seq("o_orderkey"), 10,
      resumeAfter = Some(Seq(Long.MaxValue)))
    assert(ScanOps.resumeToken(empty, Seq("o_orderkey")).isEmpty)
  }

  test("composite-key pages tile the scan exactly (LastEvaluatedKey shape)") {
    // (o_custkey, o_orderkey): duplicated partition-key component +
    // unique sort key — the composite-token analog of Dynamo's
    // (partition, sort) key, with real boundary ties on o_custkey
    val fields = Seq("o_custkey", "o_orderkey", "o_totalprice")
    val keys = Seq("o_custkey", "o_orderkey")
    val size = 120
    val full = sortedScan(keys, fields)
    assert(full.size > 2 * size)
    assert(full.map(_.head).distinct.size < full.size,
      "o_custkey must repeat so the token's tie-break half is exercised")

    val pages = pageLoop(keys, size, full.size / size + 2, fields)
    assert(pages.init.forall(_.size == size))
    assert(pages.flatten == full, "composite pages tile the full sorted scan")
  }

  test("three-key pages tile the scan exactly, ties on the first two keys") {
    // (o_orderpriority, o_custkey, o_orderkey): five priorities and
    // repeating customers, so page boundaries fall inside runs of equal
    // first and equal (first, second) components
    val fields = Seq("o_orderpriority", "o_custkey", "o_orderkey")
    val keys = fields
    val size = 70
    val full = sortedScan(keys, fields)
    assert(full.size > 2 * size)
    assert(full.map(_.take(2)).distinct.size < full.size,
      "(o_orderpriority, o_custkey) must repeat so the third key breaks ties")

    val pages = pageLoop(keys, size, full.size / size + 2, fields)
    assert(pages.init.forall(_.size == size), "every page but the last is full")
    assert(pages.flatten == full, "three-key pages tile the full sorted scan")
    assert(pages.flatten.distinct.size == full.size, "no key tuple appears twice")
  }

  test("the keyset predicate reaches the parquet scan") {
    val orders = graft.Tables.orders(spark, sfDir)
    val page = ScanOps.scanPage(orders, Seq("o_orderkey"), 10,
      resumeAfter = Some(Seq(1000L)), fields = Seq("o_orderkey", "o_totalprice"))
    val plan = page.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(o_orderkey,1000)"),
      s"resume predicate must be pushed to the scan:\n$plan")
  }

  test("a resume token of the wrong width is rejected") {
    val orders = graft.Tables.orders(spark, sfDir)
    intercept[IllegalArgumentException](ScanOps.scanPage(orders,
      Seq("o_custkey", "o_orderkey"), 10, resumeAfter = Some(Seq(1L))))
  }
}
