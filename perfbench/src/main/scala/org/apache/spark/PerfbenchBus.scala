package org.apache.spark

/** Drains the listener bus, so the benchmark reads every job and stage event
  * of the work it just finished. `SparkContext.listenerBus` is
  * package-private, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
