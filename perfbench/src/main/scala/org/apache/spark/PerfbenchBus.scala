package org.apache.spark

/** Access to the listener bus, which Spark keeps `private[spark]`: the
  * benchmark reads its task metrics only after every event of the
  * measured jobs has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
