package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so that a
  * traced run reads one operation's events before it starts the next. The
  * bus is private to Spark, hence this file's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
