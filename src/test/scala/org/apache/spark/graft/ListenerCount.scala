package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The number of listeners on a context's bus. `listeners` is
  * package-private to `org.apache.spark`. */
object ListenerCount {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
