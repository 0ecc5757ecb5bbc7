package org.apache.spark

/** The listener bus is `private[spark]`; this one call is the benchmark's
  * only reach into it: block until every posted event was delivered, so a
  * layer's task metrics are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
