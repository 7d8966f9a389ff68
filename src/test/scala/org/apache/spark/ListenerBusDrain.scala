package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every event
  * posted so far. The bus is private to Spark's packages, hence this shim. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
