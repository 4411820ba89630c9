package org.apache.spark

/** Drains Spark's listener bus so that listener counters read after an
  * operation include every event that operation posted. The bus is
  * private to Spark, hence this one-method bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
