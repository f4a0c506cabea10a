package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Counter, GC and heap readings over the measured window of a run. */
final class Phase(spark: SparkSession, counters: Option[Counters], trace: Trace) {
  private var t0, t1, gc0, gc1, heapPeak = 0.0
  private var c0, c1: Map[String, Any] = Map.empty

  private def tally(): Map[String, Any] = counters.fold(Map.empty[String, Any]) { c =>
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    c.synchronized(c.total.toMap)
  }

  def begin(): Unit = {
    c0 = tally()
    gc0 = Jvm.gcSeconds
    Jvm.resetHeapPeak()
    t0 = trace.now()
  }

  def end(): Unit = {
    t1 = trace.now()
    gc1 = Jvm.gcSeconds
    heapPeak = Jvm.heapPeakMb
    c1 = tally()
  }

  def toMap: Map[String, Any] = Map("start" -> t0, "end" -> t1,
    "gc_s" -> (gc1 - gc0), "heap_peak_mb" -> heapPeak,
    "counters" -> c1.map { case (k, v) =>
      k -> (v.asInstanceOf[Long] - c0.getOrElse(k, 0L).asInstanceOf[Long]) })
}

object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, sf: String, out: Path, ratePerS: Double)

  // Workload sizes, fixed with the benchmark (README, "Fixed configuration").
  val Clients = 2          // catalog closed-loop clients
  val MinWarmPasses = 2    // curation warm passes per run, at least
  val DrainCopies = 2      // ingest backlog, in corpus copies
  val DocsPerFile = 100    // ingest landing file size
  val ProbeReps = 3        // repetitions of each timed layer probe

  def parse(args: Array[String]): Conf = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def get(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Conf(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("sf"), Paths.get(get("out")),
      get("ingest-docs-per-s").toDouble)
  }

  /** The session exactly as `graft.Bench` and `graft.Verify` build it,
    * plus the operator objects initialised: JVM start to this point is
    * the set-up time. */
  def session(c: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", c.out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.tune(spark)
    graft.SparkEntry.queries
    spark
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    Files.createDirectories(c.out)
    val spark = session(c)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val trace = new Trace(c.trace)
    val counters = if (c.trace) {
      val l = new Counters
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val measured = new Phase(spark, counters, trace)
    val runner = new OpRunner(spark, c.sf, trace)

    val work: Map[String, Any] = c.workload match {
      case "catalog" =>
        Batch.catalog(spark, runner, c.seed, c.seconds, Clients, trace, measured)
      case "curation" =>
        Batch.curation(spark, runner, c.seed, c.seconds, MinWarmPasses, trace, measured)
      case "ingest" =>
        Ingest.run(spark, c.sf, c.out.resolve("ingest"), c.seed, c.seconds,
          c.ratePerS, DrainCopies, DocsPerFile, trace, measured)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    Jvm.settle()
    val heapRetained = Jvm.heapRetainedMb
    val storageRetained = Jvm.storageMb(spark)
    val probes = if (c.trace) Probes.run(spark, c, trace) else Map.empty[String, Any]

    write(c.out.resolve("raw.json"), Json.obj(
      "workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace,
      "cores" -> c.cores, "setup_s" -> setupS,
      "heap_retained_mb" -> heapRetained, "storage_retained_mb" -> storageRetained,
      "measured" -> measured.toMap, "work" -> work, "probes" -> probes,
      "op_counters" -> counters.map(_.snapshot).getOrElse(Map.empty)))
    if (c.trace) trace.writeJsonLines(c.out.resolve("spans.jsonl").toString)
    spark.stop()
  }

  def write(p: Path, s: String): Unit = Files.writeString(p, s + "\n")
}

/** Layer probes of the traced run: a full-column table scan (the
  * control), the gate's artifact builders one by one, the per-document
  * kernels over a cached frame, and for the batch workloads a short
  * ingest so the streaming and source layers are read on every run. */
object Probes {
  import graft.operators.{BpeOps, QualityModelOps}

  private def timed(trace: Trace, name: String, layer: String)(f: => Unit): Double = {
    val t0 = trace.now()
    trace.span(name, layer, s"probe:$name")(f)
    trace.now() - t0
  }

  /** Full-consume a frame with the op layers' spans: build, plan, exec. */
  private def consume(trace: Trace, key: String)(build: => DataFrame): Long = {
    val d = Digest.of(trace.span("build", "operators", key)(build))
    val sc = d.sparkSession.sparkContext
    sc.setLocalProperty(Counters.OpKey, key)
    try {
      trace.span("plan", "plans", key)(d.queryExecution.executedPlan)
      trace.span("exec", "operators", key)(d.collect().head.getLong(0))
    } finally sc.setLocalProperty(Counters.OpKey, null)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def run(spark: SparkSession, c: Main.Conf, trace: Trace): Map[String, Any] = {
    val sf = c.sf
    var scanRows = 0L
    val scan = (1 to Main.ProbeReps).map(_ => timed(trace, "scan", "tables") {
      scanRows = consume(trace, "probe:scan")(graft.Tables.lineitem(spark, sf))
    })

    val docs = graft.Tables.documents(spark, sf)
    val (cb, cw) = QualityModelOps.lmModelOf(docs)
    val dsir = QualityModelOps.dsirModelOf(docs)
    val cuts = QualityModelOps.pplCutsOf(QualityModelOps.lmPerplexity(spark, sf)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")))
    val lm = timed(trace, "lm_train", "artifacts") {
      consume(trace, "probe:lm_train")(cb)
      consume(trace, "probe:lm_train")(cw)
    }
    val dsirS = timed(trace, "dsir_train", "artifacts")(consume(trace, "probe:dsir_train")(dsir))
    val cutsS = timed(trace, "ppl_cuts_train", "artifacts")(
      consume(trace, "probe:ppl_cuts_train")(cuts))
    var art: graft.functions.EnsembleArtifacts = null
    val ens = timed(trace, "ensemble_build", "artifacts") {
      art = graft.functions.EnsembleArtifacts.of(cb, cw, cuts, dsir)
    }

    // kernels over a cached frame of four corpus copies
    val frame = docs.select(col("doc_id"), col("lang"), col("text"))
      .crossJoin(spark.range(4).toDF("copy")).cache()
    val frameRows = frame.count()
    val ensRates = (1 to Main.ProbeReps).map { _ =>
      frameRows / timed(trace, "ensemble_column", "functions") {
        consume(trace, "probe:ensemble_column")(frame.select(graft.functions.GraftFunctions
          .qualityEnsemble(col("text"), col("lang"), art).as("e")))
      }
    }
    val bpeRates = (1 to Main.ProbeReps).map { _ =>
      frameRows / timed(trace, "bpe_ids_column", "functions") {
        consume(trace, "probe:bpe_ids_column")(frame.select(BpeOps.bpeTokenIds(
          filter(split(col("text"), " "), w => length(w) > 0),
          BpeOps.defaultModel, BpeOps.defaultIdMapBytes).as("ids")))
      }
    }
    frame.unpersist(blocking = true)

    val ingest = if (c.workload == "ingest") Map.empty[String, Any] else {
      val phase = new Phase(spark, None, trace)
      Ingest.run(spark, sf, c.out.resolve("probe-ingest"), c.seed, 4.0,
        c.ratePerS, 1, Main.DocsPerFile, trace, phase, Some(art))
    }
    Map("scan_rows_per_s" -> scanRows / median(scan),
      "lm_train_s" -> lm, "dsir_train_s" -> dsirS, "ppl_cuts_train_s" -> cutsS,
      "ensemble_build_s" -> ens,
      "ensemble_rows_per_s" -> median(ensRates),
      "bpe_ids_rows_per_s" -> median(bpeRates),
      "ingest" -> ingest)
  }
}
