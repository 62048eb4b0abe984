package org.apache.spark

/** Access to the listener bus drain, which Spark keeps `private[spark]`:
  * listener events arrive asynchronously, so a layer's counters are read
  * only after every event of the measured window has been delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
