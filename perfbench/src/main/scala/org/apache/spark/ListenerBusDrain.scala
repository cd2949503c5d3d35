package org.apache.spark

/** The listener bus is asynchronous; the traced run drains it before it
  * reads its counters, so every job, stage and task of the run is counted.
  * `listenerBus` is package-private to Spark, hence this one-line bridge. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
