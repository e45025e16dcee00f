package org.apache.spark

/** Listener events reach listeners asynchronously; counters read right after
  * an action must first wait for the bus to deliver that action's events.
  * `waitUntilEmpty` is package-private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
