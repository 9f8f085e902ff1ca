package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus: task-end events arrive
 * asynchronously, so a span's task metrics are complete only once the bus
 * has drained. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
