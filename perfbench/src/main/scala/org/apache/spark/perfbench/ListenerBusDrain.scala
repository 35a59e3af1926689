package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the benchmark reads its
  * counters only after every event posted so far has been handled. The bus
  * is package-private to Spark, hence this one-line bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
