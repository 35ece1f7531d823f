package org.apache.spark

/** The listener bus is asynchronous: a spec that counts jobs or stages
  * must let it drain first. `waitUntilEmpty` is package-private to Spark,
  * hence this bridge. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
