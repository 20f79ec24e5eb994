package org.apache.spark

/** Drain Spark's async listener bus, so a SparkListener's counters are
  * complete before they are read or reset (`listenerBus` is
  * private[spark], hence this package). */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
