package org.apache.spark

/** Bridge into `private[spark]` members: listener events arrive
  * asynchronously, so the benchmark drains the bus before it reads the
  * counts of a finished call.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
