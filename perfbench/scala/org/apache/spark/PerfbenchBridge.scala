package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the tracer reads listener-fed counters only after every event posted
  * so far has been delivered. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
