package org.apache.spark

/** The listener bus's drain is `private[spark]`; the benchmark needs it
  * so a job's events are all in before its layers are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
