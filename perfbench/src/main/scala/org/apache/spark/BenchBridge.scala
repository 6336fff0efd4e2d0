package org.apache.spark

/** The listener bus is asynchronous; counters read right after an action can
  * miss its last events. Its drain is package-private, hence this bridge. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
