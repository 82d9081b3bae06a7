package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener.
  * `waitUntilEmpty` is package-private to `org.apache.spark`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
