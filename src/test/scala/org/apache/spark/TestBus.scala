package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so a listener's counters read after an action include all of
  * its events. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
