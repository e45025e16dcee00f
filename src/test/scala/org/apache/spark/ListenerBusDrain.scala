package org.apache.spark

/** Listener events reach listeners asynchronously; a spec that counts the
  * jobs of an action must wait for the bus to deliver them first.
  * `waitUntilEmpty` is package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
