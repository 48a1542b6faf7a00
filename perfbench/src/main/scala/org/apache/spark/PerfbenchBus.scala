package org.apache.spark

/** Listener-bus access the public API lacks: waiting until every event
  * posted so far has reached the listeners, so counters read at a span
  * boundary include the jobs that ran inside the span. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
