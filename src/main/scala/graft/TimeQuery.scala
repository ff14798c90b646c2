package graft

/** The profiling entry point: time one named query N times against an SF
  * dir through the same noop sink the Bench main uses, on the graft
  * session or on the vanilla twin ([[GraftSession.stockBuilder]]), under
  * the engine's query trace ([[PlanHealth.traced]]).
  * `sbt "runMain graft.TimeQuery <name> [sfDir] [reps] [graft|vanilla]"`
  * (width via SPARK_GRAFT_CPUS, master via SPARK_GRAFT_MASTER)
  *
  * Each rep prints its construction (building the DataFrame) apart from
  * its execution (the noop write), each as the [[PlanHealth.Layer]]
  * fields: wall, the part of it no job covers (`no_job_ms`), jobs,
  * stages, tasks, summed task run and CPU time, shuffle and spill bytes,
  * peak task memory, plan exchanges and the planning phases. Before
  * that, one `[stage]` row per stage streams out as the stage completes,
  * named by its operators ([[PlanHealth.stageName]]), so a crashed run
  * still leaves its prefix.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val engine = if (args.length > 3) args(3) else "graft"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = engine match {
      case "graft" => GraftSession.builder(master, cpus.toInt)
      case "vanilla" => GraftSession.stockBuilder(master, cpus.toInt)
      case other => sys.error(s"engine must be graft or vanilla, not $other")
    }
    val spark = builder.config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    for (i <- 1 to reps) {
      def traced[A](phase: String)(body: => A): (A, PlanHealth.Layer) =
        PlanHealth.traced(spark, row => println(s"[stage] $name $engine rep $i $phase $row"))(body)
      val (df, built) = traced("construction")(fn(spark, sfDir))
      val (_, ran) = traced("execution")(df.write.format("noop").mode("overwrite").save())
      for ((phase, l) <- Seq("construction" -> built, "execution" -> ran))
        println(s"[time] $name $engine rep $i $phase " +
          l.fields.map { case (k, v) => s"$k=$v" }.mkString(" "))
      spark.catalog.clearCache() // outside the timer, as Bench.timeOne
    }
    spark.stop()
  }
}
