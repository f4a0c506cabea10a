package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Counts the classes Spark compiles while a block runs: the delta of
  * `CodegenMetrics`' source-size histogram, which takes one sample per
  * Janino compile and none on a compiled-class cache hit. The count is
  * JVM-wide, so it includes every thread's compiles in the window: the
  * executor side of a job that `body` waits for included. */
object CompileCounter {
  private def total: Long = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount

  def apply[T](body: => T): (T, Long) = {
    val before = total
    val out = body
    (out, total - before)
  }
}
