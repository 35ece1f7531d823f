package org.apache.spark

/** The listener bus is asynchronous; a pass's job and task events are
  * complete only once the bus has drained. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
