package org.apache.spark

/** The listener bus is package-private; tracing waits on it so every event
  * of a traced stretch reaches the listeners before they are read or removed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
