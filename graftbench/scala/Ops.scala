package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-consume digest: one order-independent aggregate that reads every
  * output column. Per-row xxhash64 over all columns (sorted by name),
  * summed as DECIMAL(38,0) so ANSI mode cannot overflow. A bare
  * `.count()` would let column pruning skip every projected column. */
object Digest {
  def of(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      // hash expressions reject maps; their JSON form is hashable
      if (f.dataType.catalogString.contains("map<")) to_json(c) else c
    }
    df.agg(count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("hash"))
  }
}

/** One timed op: build (the op call), plan (force the digest's executed
  * plan) and exec (the digest action). */
final case class OpSample(name: String, key: String, phase: String,
    client: Int, start: Double, build: Double, plan: Double, exec: Double,
    rows: Long, hash: String, err: String, storageMb: Double) {
  def toJson: Json.Raw = Json.Raw(Json.obj("name" -> name, "key" -> key,
    "phase" -> phase, "client" -> client, "start" -> start, "build" -> build,
    "plan" -> plan, "exec" -> exec, "rows" -> rows, "hash" -> hash,
    "err" -> Option(err), "storage_mb" -> storageMb))
}

/** Runs graft queries (`SparkEntry.queries`) by name. */
final class OpRunner(spark: SparkSession, sf: String, trace: Trace) {
  private val queries = graft.SparkEntry.queries
  private val seq = new AtomicLong(0)

  def run(name: String, phase: String, client: Int): OpSample = {
    val key = s"$name#${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setLocalProperty(Counters.OpKey, key)
    val t0 = trace.now()
    var t1, t2, t3 = t0
    try {
      val row = trace.span("op", "workload", key) {
        val df = trace.span("build", "operators", key)(queries(name)(spark, sf))
        t1 = trace.now()
        val d = Digest.of(df)
        trace.span("plan", "plans", key)(d.queryExecution.executedPlan)
        t2 = trace.now()
        val r = trace.span("exec", "operators", key)(d.collect().head)
        t3 = trace.now()
        r
      }
      OpSample(name, key, phase, client, t0, t1 - t0, t2 - t1, t3 - t2,
        row.getLong(0), row.getDecimal(1).toPlainString, null,
        if (trace.on) Jvm.storageMb(spark) else 0.0)
    } catch {
      case e: Throwable =>
        val t = trace.now()
        OpSample(name, key, phase, client, t0, t - t0, 0, 0, -1, "",
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}",
          0.0)
    } finally sc.setLocalProperty(Counters.OpKey, null)
  }
}

/** JVM- and block-manager-level readings. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after a forced collection: the least of three
    * collect-and-read cycles, so a collection that happened to leave
    * young garbage behind does not count. */
  def heapRetainedMb: Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** RDD-block bytes the block manager holds, memory plus disk. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Force collection, and give the ContextCleaner time to drop blocks
    * whose owners were collected. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    Thread.sleep(500)
  }
}
