package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge into Spark's `private[spark]` listener bus: the one exact wait
  * for asynchronous listener events, used by [[graft.PlanHealth]]. */
object BusBridge {
  /** Blocks until every event posted so far has reached every listener;
    * throws a `TimeoutException` if that takes over 10 s. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
