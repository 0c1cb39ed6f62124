package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete when an iteration's numbers are read.
  * (`listenerBus` is package-private to Spark.)
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
