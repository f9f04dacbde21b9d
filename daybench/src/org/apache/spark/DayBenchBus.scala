package org.apache.spark

/** Access to Spark's listener bus, which is package-private: the
  * benchmark's span counts are read only after the bus has delivered
  * every event posted so far.
  */
object DayBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
