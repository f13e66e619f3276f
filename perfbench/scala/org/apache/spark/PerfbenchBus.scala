package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so per-op counters are complete when they are read.
  * `listenerBus` is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
