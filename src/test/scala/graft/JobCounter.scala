package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches. */
object JobCounter {
  def apply[T](s: SparkSession)(body: => T): (T, Int) = {
    val sc = s.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      ListenerBusBridge.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }
}
