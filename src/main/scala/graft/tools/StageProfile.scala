package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage cost profile of ONE query execution: as each stage
  * completes, prints its id, callsite name, task count, input /
  * shuffle-read / shuffle-write record and byte counts, spill volumes
  * and peak execution memory. This is the attribution tool for scale
  * failures — an OOM or disk-exhaustion run shows exactly which plan
  * edge carried the blow-up (the log survives the crash because rows
  * stream out per completed stage, not at the end).
  *
  * `runMain graft.tools.StageProfile [sfDir] [query]`
  * (heap via SPARK_DRIVER_MEM, width via SPARK_GRAFT_CPUS;
  * SPARK_GRAFT_PROFILE_ENGINE=vanilla profiles the same query on a
  * STOCK session — no extensions, stock planner confs, same
  * master/width/UTC — so a graft-vs-stock wall delta can be attributed
  * stage by stage instead of guessed at)
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val name = if (args.length > 1) args(1) else "dedup_containment"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val vanilla = sys.env.get("SPARK_GRAFT_PROFILE_ENGINE").contains("vanilla")
    val builder =
      if (vanilla) graft.GraftSession.stockBuilder(master, cpus.toInt)
      else graft.GraftSession.builder(master, cpus.toInt)
    val spark = builder
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        // println is deliberate: stream per-stage rows to stdout so a
        // crashed run still leaves the full prefix of the profile
        println(f"STAGE ${si.stageId}%4d tasks=${si.numTasks}%3d " +
          f"in=${m.inputMetrics.recordsRead}%12d " +
          f"sr=${m.shuffleReadMetrics.recordsRead}%12d " +
          f"sw=${m.shuffleWriteMetrics.recordsWritten}%12d " +
          f"swMB=${m.shuffleWriteMetrics.bytesWritten / 1e6}%9.0f " +
          f"spillMB=${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%9.0f " +
          f"peakExecMB=${m.peakExecutionMemory / 1e6}%7.0f  ${si.name.take(90)}")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1000)
    val engine = if (vanilla) "vanilla" else "graft"
    println(f"STAGE_PROFILE query=$name engine=$engine master=$master wall=$wall%.2f")
    spark.stop()
  }
}
