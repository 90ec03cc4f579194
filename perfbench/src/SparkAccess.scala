package org.apache.spark

/** The listener bus delivers events asynchronously; a traced section waits
  * for it to drain before reading what its listeners recorded.
  */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
