package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the Spark-private listener bus: task-end events arrive
  * asynchronously, so a call's metrics are read only after the bus drains.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
