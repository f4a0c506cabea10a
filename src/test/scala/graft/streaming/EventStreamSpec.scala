package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class EventStreamSpec extends SparkSpec {

  test("streaming tumbling counts match the batch tumbling aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
    val rows = batch.as[(Timestamp, String, Double)].collect().toSeq

    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(rows)
    val out = EventStream.tumblingCounts(
      stream.toDF().toDF("ts", "event_type", "value"))
    val q = out.writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("tumbling")
      .select("bucket", "event_type", "n", "sum_value").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val expected = batch
      .groupBy(window(col("ts"), "1 hour").getField("start").as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
  }

  test("streaming hopping counts match the batch hopping aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
    val rows = batch.as[(Timestamp, String, Double)].collect().toSeq

    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(rows)
    val q = EventStream.hoppingCounts(
        stream.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("hopping")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("hopping").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val expected = batch
      .groupBy(window(col("ts"), "1 hour", "15 minutes").getField("start").as("w_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
  }

  test("streaming dedup drops redelivered events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000)
    val stream = MemoryStream[(Long, Timestamp, Double)]
    // event 1 delivered three times, event 2 twice, event 3 once
    stream.addData(Seq((1L, ts(0), 1.0), (1L, ts(0), 1.0), (2L, ts(1), 2.0),
      (1L, ts(2), 1.0), (2L, ts(1), 2.0), (3L, ts(3), 4.0)))
    val q = EventStream.dedupeEvents(
        stream.toDF().toDF("event_id", "ts", "value"))
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.table("deduped").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("stateful sessionization splits on 30-minute gaps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000)
    val evs = Seq(
      EventStream.Ev(1L, 1, ts(0), 1.0),
      EventStream.Ev(1L, 2, ts(10), 2.0),
      EventStream.Ev(1L, 3, ts(60), 4.0), // 50-min gap → new session
      EventStream.Ev(2L, 4, ts(5), 8.0))

    val stream = MemoryStream[EventStream.Ev]
    stream.addData(evs)
    val q = EventStream.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // closed sessions emitted so far: user 1's first session (closed by the
    // 50-min gap within the same batch); open sessions wait for timeout.
    val got = spark.table("sessions")
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getDouble(4))).toSet
    assert(got == Set((1L, 2, 3.0)))
  }

  test("streaming transitions aggregate to the batch transition matrix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[EventStream.TEv].collect().toSeq

    val stream = MemoryStream[EventStream.TEv]
    // two micro-batches split by event time per user, so cross-batch
    // state carry is exercised, not just the in-batch sort
    val cut = rows.map(_.ts.getTime).sorted.apply(rows.length / 2)
    stream.addData(rows.filter(_.ts.getTime < cut))
    val q = EventStream.transitionStream(stream.toDS())
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(rows.filter(_.ts.getTime >= cut))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("transitions")
      .groupBy("from_type", "to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.AnalyticsOps.eventTransitions(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
  }

  test("stream-stream attribution join matches clicks into purchase windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000)
    val clicks = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    // purchase 100 at t=10 → window [10, 70]; purchase 200 at t=120
    purchases.addData(Seq((100L, ts(10)), (200L, ts(120))))
    // clicks: t=5 (before any window), t=30 (in 100's), t=125 (in 200's),
    // t=130 (in 200's)
    clicks.addData(Seq((1L, ts(5)), (2L, ts(30)), (3L, ts(125)), (4L, ts(130))))
    val q = EventStream.attributionJoin(
        clicks.toDF().toDF("event_id", "ts"),
        purchases.toDF().toDF("event_id", "ts"))
      .writeStream.format("memory").queryName("attributed").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("attributed")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == Set((2L, 100L), (3L, 200L), (4L, 200L)))
  }

  test("streaming minhash LSH surfaces the batch near-dup pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000)
    // docs from the corpus so signatures are realistic; every doc gets a
    // timestamp inside one watermark window
    val corpus = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, Long, String)]
    stream.addData(corpus.zipWithIndex.map { case ((id, text), i) =>
      (id, (i % 50).toLong, text)
    }.toSeq)
    val docs = stream.toDF().toDF("doc_id", "minute", "text")
      .select(col("doc_id"),
        (lit(1700000000000L) + col("minute") * 60000).cast("timestamp").as("ts"),
        col("text"))
    val q = EventStream.nearDupCandidates(docs)
      .writeStream.format("memory").queryName("neardup").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamPairs = spark.table("neardup")
      .select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch LSH over the same corpus: its verified strong pairs (exact
    // jaccard >= 0.7 agree on many signature positions) must all surface
    val strong = graft.operators.DedupOps.minhashLsh(spark, sfDir)
      .filter(col("jaccard") >= 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.nonEmpty)
    assert(strong.subsetOf(streamPairs),
      s"missing ${strong.diff(streamPairs)} of ${strong.size} strong pairs")
    // estimates are honest: no candidate below the threshold
    val ests = spark.table("neardup").select("est_jaccard")
      .collect().map(_.getDouble(0))
    assert(ests.forall(_ >= 0.5))
  }

  test("LSH bucket cap: overflow evicts oldest-seen docs, probe pairs only with retained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // one shared text → identical signature → every doc lands in the
    // SAME (band_id, band_key) bucket of all 16 bands; cap+5 arrivals
    // overflow the bucket, so the 5 earliest-seen entries must be
    // evicted (the state list is newest-first, truncated at
    // maxBucketEntries — recency eviction, the documented bound)
    val cap = EventStream.maxBucketEntries
    val n = cap + 5
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val stream = MemoryStream[(Long, Long)]
    val docs = stream.toDF().toDF("doc_id", "minute")
      .select(col("doc_id"),
        (lit(1700000000000L) + col("minute") * 60000).cast("timestamp").as("ts"),
        lit(text).as("text"))
    val q = EventStream.nearDupCandidates(docs)
      .writeStream.format("memory").queryName("capdup").outputMode("append").start()
    try {
      stream.addData((1L to n.toLong).map(i => (i, i)))
      q.processAllAvailable()
      // second micro-batch: a probe doc against the post-overflow state
      stream.addData(Seq((1000L, (n + 10).toLong)))
      q.processAllAvailable()
    } finally q.stop()
    val probePartners = spark.table("capdup")
      .filter(col("doc_b") === 1000L).select("doc_a")
      .distinct().collect().map(_.getLong(0)).toSet
    // exactly the cap most-recently-seen docs survive: ids 6..n
    val retained = ((n - cap + 1).toLong to n.toLong).toSet
    assert(probePartners == retained,
      s"evicted ${retained.diff(probePartners)}, ghosts ${probePartners.diff(retained)}")
    // identical docs: every surfaced estimate is the exact-match 1.0
    assert(spark.table("capdup").select("est_jaccard")
      .collect().forall(_.getDouble(0) == 1.0))
  }

  test("streaming heavy hitters keep the SpaceSaving guarantees per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val capacity = 32
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)]
    stream.addData(docs.toSeq)
    val q = EventStream.heavyHitterStream(
        stream.toDF().toDF("doc_id", "text"), capacity)
      .writeStream.format("memory").queryName("hhs").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()

    val summary = spark.table("hhs").collect()
      .map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(summary.size <= capacity && summary.nonEmpty)
    // coverage + overestimate vs exact hashed token counts
    val exactHashed = graft.Tables.documents(spark, sfDir)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy(xxhash64(col("tok")).as("h")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = exactHashed.values.sum
    exactHashed.filter(_._2 > n / capacity).keys.foreach(k =>
      assert(summary.contains(k), s"heavy key $k missing from stream summary"))
    summary.foreach { case (k, c) =>
      assert(c >= exactHashed.getOrElse(k, 0L), s"stream undercount for $k")
    }
  }

  test("streaming ANN probe matches the batch IVF search on the same index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ops = graft.operators.AnnOps
    val (cents, assigned) = ops.ivfFor(spark, sfDir)
    val queries = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < ops.nQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val stream = MemoryStream[(Long, Seq[Float])]
    stream.addData(queries.toSeq)
    val q = EventStream.annProbeStream(
        stream.toDF().toDF("vec_id", "embedding"), cents, assigned)
      .writeStream.format("memory").queryName("annprobe").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("annprobe").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batch = ops.annIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && got == batch,
      s"stream-only ${got.diff(batch).size}, batch-only ${batch.diff(got).size}")
  }

  test("streaming BM25 scores match the batch ranker on the same index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SearchOps
    val model = SearchOps.bm25ModelFor(spark, sfDir)
    // the corpus plus one null text, which scores on neither side
    val rows = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq :+ ((-1L, null: String))
    val stream = MemoryStream[(Long, String)]
    stream.addData(rows)
    val q = SearchOps.bm25ScoresOf(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text", model)
      .writeStream.format("memory").queryName("bm25s").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // every row equal, the unrounded doubles to the bit
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
    val streamed = spark.table("bm25s").collect().map(key).toSet
    val batch = SearchOps.bm25ScoresOf(rows.toDF("doc_id", "text"), "doc_id", "text", model)
      .collect().map(key).toSet
    assert(streamed.nonEmpty && streamed == batch)
    // exactly the docs containing >= 1 query term
    val matching = rows.filter { case (_, t) =>
      t != null && SearchOps.queryTerms.exists(t.trim.split("\\s+").contains)
    }.map(_._1).toSet
    assert(streamed.map(_._1) == matching)
  }

  test("streaming index probe matches the batch incremental probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sfDir)
    val index = graft.operators.DedupOps.nearDupIndexOf(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
    val batchRows = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))

    val stream = MemoryStream[(Long, String)]
    stream.addData(batchRows.toSeq)
    val q = EventStream.indexProbe(
        stream.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("idxprobe").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("idxprobe")
      .select("new_id", "corpus_id", "jaccard").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.DedupOps.incrementalDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch,
      s"stream ${streamed.size} pairs vs batch ${batch.size}")
  }
}
