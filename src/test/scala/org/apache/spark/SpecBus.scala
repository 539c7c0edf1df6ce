package org.apache.spark

/** Test-side access to the listener bus, which is private to Spark: lets a
  * spec wait until every event posted so far has reached its listeners. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
