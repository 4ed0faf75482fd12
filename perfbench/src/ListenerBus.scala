package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps its listener bus `private[spark]`; the benchmark's collector
  * needs only to wait until every event posted so far is delivered. */
object ListenerBus {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
