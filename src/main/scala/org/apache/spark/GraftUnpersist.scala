package org.apache.spark

import org.apache.spark.rdd.RDD

/** `SparkContext.unpersistRDD` is `private[spark]`. `RDD.unpersist`
  * frees the same blocks through it, but first logs a WARN for every
  * locally checkpointed RDD ("its lineage has been truncated and
  * cannot be recomputed after unpersisting") — noise for a leaf the
  * engine frees precisely because nothing reads it again. Same
  * one-file bridge pattern as [[GraftListenerFlush]]. */
object GraftUnpersist {
  /** Drop `rdd`'s blocks without waiting for the block managers. */
  def apply(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
