package org.apache.spark

/** Test-side access to the private[spark] listener bus, so a spec can
  * wait for every posted event to reach its listeners. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
