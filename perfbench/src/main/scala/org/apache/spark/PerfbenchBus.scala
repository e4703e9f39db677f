package org.apache.spark

/** The listener bus is package-private; the traced run waits on it so
  * that every job and progress event is counted before summarising. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
