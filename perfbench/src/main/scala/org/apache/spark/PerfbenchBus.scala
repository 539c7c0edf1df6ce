package org.apache.spark

/** The listener bus drain is package-private to Spark; the traced run needs
  * it so that every job, stage and streaming-progress event of a call has
  * been delivered before the call's counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
