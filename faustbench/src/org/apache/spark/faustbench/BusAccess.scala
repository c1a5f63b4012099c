package org.apache.spark.faustbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the benchmark drains it before
  * reading listener counters so every event of the window is counted.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000)
}
