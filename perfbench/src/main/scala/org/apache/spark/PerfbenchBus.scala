package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark reads its listeners' counters only after every queued
  * event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
