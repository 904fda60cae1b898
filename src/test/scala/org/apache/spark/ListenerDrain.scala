package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a test counting jobs must not read its listener while job events are
  * still queued.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
