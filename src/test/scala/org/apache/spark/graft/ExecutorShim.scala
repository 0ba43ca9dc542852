package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test bridge into the `private[spark]` executor controls, the same
  * qualified-private access as [[BusShim]]. */
object ExecutorShim {

  /** Ids of the executors registered with the driver. */
  def ids(sc: SparkContext): Seq[String] = sc.getExecutorIds()

  /** Kills `id`; a standalone master launches a replacement. */
  def killAndReplace(sc: SparkContext, id: String): Boolean =
    sc.killAndReplaceExecutor(id)
}
