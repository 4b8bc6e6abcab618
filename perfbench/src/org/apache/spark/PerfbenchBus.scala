package org.apache.spark

/** Listener-bus drain for the benchmark's span recorder: task-end events
  * arrive asynchronously, so a span's counters are read only after the bus
  * has delivered every event posted before the span closed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
