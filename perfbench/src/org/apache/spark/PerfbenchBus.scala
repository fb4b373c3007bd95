package org.apache.spark

/** Waits until the listener bus has delivered every posted event. The bus
  * is internal to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
