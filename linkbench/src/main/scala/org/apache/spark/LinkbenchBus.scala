package org.apache.spark

/** Waits until every posted scheduler event has reached the listeners,
  * so a measured window's task totals are complete when read. The bus
  * is package-private to Spark, hence this package. */
object LinkbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
