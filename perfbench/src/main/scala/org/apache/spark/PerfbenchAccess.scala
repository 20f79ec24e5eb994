package org.apache.spark

/** The listener bus drain is private[spark]; the traced run needs it to
  * know that every job and stage event of a pass has been delivered
  * before it reads the pass's counters. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
