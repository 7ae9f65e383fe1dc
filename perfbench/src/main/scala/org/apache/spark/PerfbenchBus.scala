package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark reads its listener's totals only after every event of the
  * measured calls has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
