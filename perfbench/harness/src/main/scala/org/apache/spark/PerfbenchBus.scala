package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  *
  * The listener bus is asynchronous: a job's last task-end events, and a
  * stream's last progress event, can arrive after the action that caused
  * them has returned. `waitUntilEmpty` is package-private, hence this
  * object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
