package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private to `org.apache.spark`. */
object ListenerDrain {
  /** Blocks until every posted listener event has been delivered (or the timeout passes). */
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
