package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Local perf-iteration aid: time one named query N times against an SF
  * dir through the same noop sink the Bench main uses, on the graft
  * session or on the vanilla twin ([[GraftSession.stockBuilder]]).
  * `sbt "runMain graft.TimeQuery <name> [sfDir] [reps] [graft|vanilla]"`
  *
  * Each rep prints its construction (building the DataFrame) apart from
  * its execution (the noop write): the wall and the Spark jobs of each.
  * Jobs are told apart by a local property set around each phase, which
  * Spark copies to every job the phase submits, broadcast and subquery
  * threads included.
  */
object TimeQuery {
  private val PhaseKey = "graft.timeQuery.phase"

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val engine = if (args.length > 3) args(3) else "graft"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val master = s"local[$cpus]"
    val builder = engine match {
      case "graft" => GraftSession.builder(master, cpus.toInt)
      case "vanilla" => GraftSession.stockBuilder(master, cpus.toInt)
      case other => sys.error(s"engine must be graft or vanilla, not $other")
    }
    val spark = builder.config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
          .foreach(jobs.add)
    })
    // the wall of `body`, run with every job it submits tagged `phase`
    def phase[A](tag: String)(body: => A): (A, Double) = {
      spark.sparkContext.setLocalProperty(PhaseKey, tag)
      val t0 = System.nanoTime()
      try (body, (System.nanoTime() - t0) / 1e9)
      finally spark.sparkContext.setLocalProperty(PhaseKey, null)
    }
    // the listener bus is asynchronous: read a phase's count once it has
    // held still for two reads (outside both timers)
    def settled(tag: String): Int = {
      def n = jobs.toArray.count(_ == tag)
      var (prev, cur, spins) = (-1, n, 0)
      while (cur != prev && spins < 40) { Thread.sleep(50); prev = cur; cur = n; spins += 1 }
      cur
    }
    val fn = SparkEntry.queries(name)
    for (i <- 1 to reps) {
      val (df, build) = phase(s"construct-$i")(fn(spark, sfDir))
      val (_, exec) = phase(s"execute-$i")(df.write.format("noop").mode("overwrite").save())
      println(f"[time] $name $engine rep $i: construct $build%.3f s ${settled(s"construct-$i")} jobs, " +
        f"execute $exec%.3f s ${settled(s"execute-$i")} jobs, total ${build + exec}%.3f s")
      spark.catalog.clearCache() // outside the timer, as Bench.timeOne
    }
    spark.stop()
  }
}
