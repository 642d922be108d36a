package org.apache.spark.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** Minimal shim into the (private[spark]) LiveListenerBus: benchmark CPU
  * accounting reads SparkListener task-metric accumulators and must drain
  * the async bus before reading, or late task-end events are dropped from
  * the tally; phase telemetry hands driver-side counts to the listeners
  * already on the bus.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def listeners(sc: SparkContext): Seq[SparkListenerInterface] =
    sc.listenerBus.listeners.asScala.toSeq
}
