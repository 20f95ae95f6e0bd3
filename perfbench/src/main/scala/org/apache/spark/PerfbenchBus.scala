package org.apache.spark

/** The listener bus's drain is package-private; the benchmark needs it
  * so a traced cycle's metrics include every job event before they are
  * summed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
