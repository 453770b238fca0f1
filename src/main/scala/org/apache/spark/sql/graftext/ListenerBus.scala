package org.apache.spark.sql.graftext

import org.apache.spark.SparkContext

/** Access to the context's listener bus, which is private to Spark. */
object ListenerBus {
  /** Waits until the bus has delivered every event posted so far, so a
    * listener's records read after an action include all of its
    * events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
