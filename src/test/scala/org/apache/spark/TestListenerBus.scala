package org.apache.spark

/** `SparkContext.listenerBus` is package-private. Tests that count listener
  * events drain it before they read their counts, so every event of the
  * work they ran has been delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
