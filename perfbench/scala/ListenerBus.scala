package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Accessor for the package-private listener bus: the benchmark drains it
  * before reading its counters so the last tasks of a window are counted.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
