package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a
  * spec reads its listener's counters only after every queued event
  * has been delivered.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
