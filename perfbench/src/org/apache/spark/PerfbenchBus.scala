package org.apache.spark

/** The listener bus is package-private; traced runs read listener
  * counters only after every queued event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
