package org.apache.spark.graft

import org.apache.spark.rdd.RDD

/** Shim into the (private[spark]) block release of `SparkContext`: drops
  * the blocks of a locally checkpointed RDD after its last read.
  * `RDD.unpersist` does the same but warns that the RDD cannot be
  * recomputed, which is the intent here, once per crawl round.
  */
object CheckpointBlocks {
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
