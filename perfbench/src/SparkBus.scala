package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark
  * needs it so metrics read after an action include that action's tasks.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
