package org.apache.spark

/** The listener bus is private to Spark; the traced run needs it drained
  * before it reads what its listeners collected. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
