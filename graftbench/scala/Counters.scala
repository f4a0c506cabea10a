package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark-layer work counters, attributed to the op that submitted the
  * job through the `graftbench.op` local property. Attached only in the
  * traced run. */
final class Counters extends SparkListener {
  import Counters._

  private val stageOp = mutable.Map.empty[Int, String]
  private val byOp = mutable.LinkedHashMap.empty[String, Tally]
  val total = new Tally

  private def tally(op: String): Tally = byOp.getOrElseUpdate(op, new Tally)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val op = Option(j.properties).flatMap(p => Option(p.getProperty(OpKey)))
      .getOrElse("(none)")
    j.stageIds.foreach(id => stageOp(id) = op)
    total.jobs += 1
    tally(op).jobs += 1
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val op = stageOp.getOrElse(s.stageInfo.stageId, "(none)")
    total.stages += 1
    tally(op).stages += 1
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) {
      val op = stageOp.getOrElse(t.stageId, "(none)")
      Seq(total, tally(op)).foreach { c =>
        c.tasks += 1
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.localBytesRead +
          m.shuffleReadMetrics.remoteBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
      }
    }
  }

  def snapshot: Map[String, Map[String, Any]] = synchronized {
    byOp.map { case (k, v) => k -> v.toMap }.toMap
  }
}

object Counters {
  val OpKey = "graftbench.op"

  final class Tally {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var runMs = 0L
    var gcMs = 0L

    def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
      "task_run_ms" -> runMs, "task_gc_ms" -> gcMs)
  }
}
