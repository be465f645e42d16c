package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so the
  * counters a listener keeps can be read as of "now". The listener bus is
  * private to Spark, hence this package. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
