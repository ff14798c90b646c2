package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits. Returns the block's result and
  * one entry per job: the names of the job's stages. The listener bus is
  * asynchronous (and its drain API is private), so it polls until the
  * count is stable for two consecutive reads. */
object JobCounter {
  def apply[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs.add(jobStart.stageInfos.map(_.name).mkString(" ~ ").take(200))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      var prev = -1
      var cur = jobs.size
      var spins = 0
      while (cur != prev && spins < 40) {
        Thread.sleep(100); prev = cur; cur = jobs.size; spins += 1
      }
      (r, jobs.toArray(Array.empty[String]).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
