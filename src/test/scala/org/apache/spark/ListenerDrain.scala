package org.apache.spark

/** Listener events reach listeners asynchronously: a test that counts
  * jobs with a `SparkListener` drains the bus before reading its count.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
