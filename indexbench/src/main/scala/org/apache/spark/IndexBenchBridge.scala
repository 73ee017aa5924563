package org.apache.spark

/** Access to the listener bus, which is private to Spark: a traced span is
  * read only after every event of its jobs has reached the listener.
  */
object IndexBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
