package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so far,
 * so a listener's totals are complete. The bus is private to Spark. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
