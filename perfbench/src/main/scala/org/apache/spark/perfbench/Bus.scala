package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far reached the listeners, so the
  * benchmark's counters are complete when it reads them. The listener bus
  * is `private[spark]`, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
