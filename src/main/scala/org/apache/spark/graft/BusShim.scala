package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus, through the same
  * qualified-private access as [[org.apache.spark.sql.graft.PlanShim]]:
  * the exact fence a listener reading needs. */
object BusShim {

  /** Returns once every event posted so far has reached every
    * listener; throws `TimeoutException` if the bus does not empty
    * within Spark's 10 s bound. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
