package org.apache.spark

/** Access to the listener bus drain, which Spark keeps private[spark]:
  * per-span listener counts are read only after every event of the
  * span's jobs has been delivered.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
