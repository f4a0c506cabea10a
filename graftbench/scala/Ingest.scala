package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.functions.EnsembleArtifacts
import graft.operators.QualityModelOps
import graft.streaming.IngestPipeline

/** The streaming path: `IngestPipeline.start` drains a pre-landed
  * backlog, then `IngestPipeline.startBudgeted` consumes files that an
  * open-loop generator lands on a fixed schedule. */
object Ingest {
  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Ids of copy k are shifted by k * IdShift, so copies never collide. */
  val IdShift = 1000000L

  def loadDocs(spark: SparkSession, sf: String): Array[Doc] =
    graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .collect().map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))

  /** The gate's artifacts, trained the way `IngestPipeline.main` does. */
  def train(spark: SparkSession, sf: String): EnsembleArtifacts = {
    val docs = graft.Tables.documents(spark, sf)
    val (cb, cw) = QualityModelOps.lmModelOf(docs)
    val dsir = QualityModelOps.dsirModelOf(docs)
    val cuts = QualityModelOps.pplCutsOf(QualityModelOps.lmPerplexity(spark, sf)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")))
    EnsembleArtifacts.of(cb, cw, cuts, dsir)
  }

  /** One feedstock JSON line, the shape `FeedstockSource.fromDocuments`
    * writes. */
  def line(d: Doc, id: Long): String = {
    val v = id % 3 + 1
    Json.obj(
      "mdf" -> Json.Raw(Json.obj("source_id" -> s"ds${id % 40}_v$v.0",
        "source_name" -> s"ds${id % 40}", "version" -> v,
        "resource_type" -> "record")),
      "record" -> Json.Raw(Json.obj("doc_id" -> id, "text" -> d.text,
        "lang" -> d.lang, "source" -> d.source)))
  }

  /** Files of `perFile` documents: copy k is a seeded shuffle of the
    * corpus with ids shifted by (firstCopy + k) * IdShift. */
  def files(docs: Array[Doc], seed: Long, firstCopy: Int, copies: Int,
      perFile: Int): IndexedSeq[Array[Byte]] =
    (firstCopy until firstCopy + copies).flatMap { k =>
      new Random(seed * 1000 + k).shuffle(docs.toSeq)
        .map(d => line(d, d.id + k * IdShift))
        .grouped(perFile).map(_.mkString("", "\n", "\n").getBytes(UTF_8))
    }

  /** Land a file atomically: write under a hidden staging dir (the
    * source skips `_`-prefixed paths), then rename into place. */
  def land(dir: Path, i: Int, bytes: Array[Byte]): String = {
    val stage = dir.resolve("_stage")
    Files.createDirectories(stage)
    val name = f"feed-$i%06d.jsonl"
    val tmp = stage.resolve(name)
    Files.write(tmp, bytes)
    val dst = dir.resolve(name)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    name
  }

  /** Micro-batch progress as seen by a listener: arrival time (the
    * batch has committed), the source's end-offset file, and timings. */
  final class Progress(trace: Trace) extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val at = trace.now()
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val end = p.sources.headOption.map(_.endOffset).getOrElse("")
      val last = "\"last\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(end)
        .map(_.group(1).split('/').last).getOrElse("")
      val row = Map[String, Any]("query" -> p.id.toString, "batch" -> p.batchId,
        "at" -> at, "rows" -> p.numInputRows, "last" -> last,
        "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
        "latest_offset_ms" -> ms("latestOffset"),
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      synchronized { batches += row }
      trace.record("microbatch", "streaming", s"batch#${p.batchId}",
        at - ms("triggerExecution") / 1e3, at)
    }
  }

  private def dirStats(root: Path): (Long, Long) = {
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          .toArray.map(_.asInstanceOf[Path])
        (fs.length.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
  }

  private def runToEnd(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** Drain `drainCopies` pre-landed copies, then land `ratePerS` docs/s
    * for `seconds` into the budgeted pipeline. */
  def run(spark: SparkSession, sf: String, work: Path, seed: Long,
      seconds: Double, ratePerS: Double, drainCopies: Int, perFile: Int,
      trace: Trace, measured: Phase,
      trained: Option[EnsembleArtifacts] = None): Map[String, Any] = {
    val docs = loadDocs(spark, sf)
    val t0 = trace.now()
    val art = trained.getOrElse(trace.span("train", "artifacts", "train")(train(spark, sf)))
    val trainS = trace.now() - t0

    // reference: the batch gate over one copy of the corpus
    val docsDf = graft.Tables.documents(spark, sf)
    val perSource = IngestPipeline.gatedDocs(docsDf, art)
      .select(col("doc_id"), size(col("token_ids")).cast("long").as("n"))
      .join(docsDf.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("docs"), sum("n").as("mass"),
        max("n").as("max_doc"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val gatedPerCopy = perSource.values.map(_._1).sum

    val progress = new Progress(trace)
    spark.streams.addListener(progress)

    // drain: a pre-landed backlog
    val drainLanding = work.resolve("drain-landing")
    val drainShards = work.resolve("drain-shards")
    Files.createDirectories(drainLanding)
    files(docs, seed, 0, drainCopies, perFile).zipWithIndex
      .foreach { case (b, i) => land(drainLanding, i, b) }
    measured.begin()
    val d0 = trace.now()
    trace.span("drain", "streaming", "drain") {
      runToEnd(IngestPipeline.start(spark, drainLanding.toString, art,
        drainShards.toString, work.resolve("drain-ckpt").toString))
    }
    val drainS = trace.now() - d0
    val drainDocs = drainCopies.toLong * docs.length
    val drainRows = spark.read.parquet(drainShards.toString).count()

    // paced: open-loop landing on a fixed schedule
    val pacedFiles = files(docs, seed, drainCopies,
      math.ceil(ratePerS * seconds / docs.length).toInt.max(1), perFile)
      .take(math.max(1, math.round(ratePerS * seconds / perFile).toInt))
    val pacedDocs = pacedFiles.map(b => new String(b, UTF_8).count(_ == '\n')).sum
    val share = pacedDocs.toDouble / docs.length
    val budgets = perSource.map { case (s, (_, mass, _)) => s -> (mass * share / 2).toLong }
    val pacedLanding = work.resolve("paced-landing")
    val pacedShards = work.resolve("paced-shards")
    Files.createDirectories(pacedLanding)
    val interval = perFile / ratePerS
    val due = new Array[Double](pacedFiles.length)
    val landedAt = new Array[Double](pacedFiles.length)
    val names = new Array[String](pacedFiles.length)
    val q = IngestPipeline.startBudgeted(spark, pacedLanding.toString, art,
      budgets, pacedShards.toString, work.resolve("paced-ckpt").toString)
    val pacedId = q.id.toString
    def pacedBatches = progress.synchronized(
      progress.batches.filter(_("query") == pacedId).toList)
    val p0 = trace.now()
    pacedFiles.indices.foreach { i =>
      due(i) = p0 + i * interval
      val wait = due(i) - trace.now()
      if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
      names(i) = land(pacedLanding, 1000000 + i, pacedFiles(i))
      landedAt(i) = trace.now()
      trace.record("land", "sources", s"land#$i", due(i), landedAt(i))
    }
    val backlogAtEnd = {
      val committed = pacedBatches.map(_("last").toString).filter(_.nonEmpty)
      val hi = if (committed.isEmpty) "" else committed.max
      names.count(_ > hi)
    }
    trace.span("paced-drain", "streaming", "paced")(runToEnd(q))
    measured.end()
    spark.streams.removeListener(progress)

    // lag: due time of each file to the commit of the batch that took it
    val commits = pacedBatches.filter(_("last").toString.nonEmpty)
      .map(b => b("last").toString -> b("at").asInstanceOf[Double])
    val lag = names.indices.map { i =>
      commits.filter(_._1 >= names(i)).map(_._2).minOption.map(_ - due(i))
    }

    // budget check: each source's admitted ids within budget + one doc
    val landed = spark.read.parquet(pacedShards.toString)
    val mass = landed.groupBy("source")
      .agg(sum(size(col("token_ids")).cast("long")).as("m"), count(lit(1)).as("n"),
        countDistinct(col("doc_id")).as("u"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val overBudget = mass.filter { case (s, m, _, _) =>
      m > budgets.getOrElse(s, Long.MaxValue) + perSource(s)._3 }.map(_._1)
    val dupSources = mass.filter { case (_, _, n, u) => n != u }.map(_._1)
    val (shardFiles, shardBytes) = {
      val (a, b) = dirStats(drainShards)
      val (c, d) = dirStats(pacedShards)
      (a + c, b + d)
    }
    Map("train_s" -> trainS, "gated_per_copy" -> gatedPerCopy, "copies" -> drainCopies,
      "drain_s" -> drainS, "drain_docs" -> drainDocs,
      "drain_rows" -> drainRows,
      "drain_files" -> drainCopies * math.ceil(docs.length.toDouble / perFile).toInt,
      "paced_files" -> pacedFiles.length,
      "paced_rows" -> mass.map(_._3).sum,
      "over_budget" -> overBudget.toSeq, "dup_sources" -> dupSources.toSeq,
      "lag_s" -> lag.map(_.getOrElse(Double.NaN)),
      "uncommitted_files" -> lag.count(_.isEmpty),
      "generator_late_s" -> due.indices.map(i => landedAt(i) - due(i)).maxOption.getOrElse(0.0),
      "backlog_files_end" -> backlogAtEnd,
      "batches" -> progress.synchronized(progress.batches.toList).map(Json.value).map(Json.Raw),
      "paced_query" -> pacedId,
      "shard_files" -> shardFiles, "shard_bytes" -> shardBytes)
  }
}
