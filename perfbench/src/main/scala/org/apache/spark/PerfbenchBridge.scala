package org.apache.spark

/** Access to Spark internals the benchmark needs and Spark keeps
  * package-private. */
object PerfbenchBridge {
  /** Block until every event posted so far reached every listener, so a
    * traced run reads complete job and task counters. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
