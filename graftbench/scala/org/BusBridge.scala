package org.apache.spark

/** Waits for queued listener events, so counters read after an action
  * include its last tasks. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
