package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so the
  * benchmark's listeners have seen the whole timed window before it is
  * reduced. The bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
