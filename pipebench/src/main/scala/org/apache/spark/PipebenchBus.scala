package org.apache.spark

/** Drains the listener bus so that engine counts read after a region are
  * complete. Lives in Spark's package because the bus is package-private. */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
