package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so a traced run reads complete listener data. The wait is not
  * public API, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
