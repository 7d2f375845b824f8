package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private: the traced
  * run waits for it to drain before reading what its listeners counted.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
