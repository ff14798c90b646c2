package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Bridge into Spark's `private[spark]` scheduler surface for
  * [[graft.PlanHealth]]'s trace: the one exact wait for asynchronous
  * listener events, and the operation scopes that name a stage. */
object BusBridge {
  /** Blocks until every event posted so far has reached every listener;
    * throws a `TimeoutException` if that takes over 10 s. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** the distinct operation scopes of a stage's RDDs, oldest RDD first */
  def scopes(si: StageInfo): Seq[String] =
    si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
