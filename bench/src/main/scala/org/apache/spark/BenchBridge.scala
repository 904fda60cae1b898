package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a trace must not be read while job and task events are still queued.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
