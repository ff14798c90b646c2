package graft

/** Local perf-iteration aid: time one named query N times against an SF
  * dir through the same noop sink the Bench main uses.
  * `sbt "runMain graft.TimeQuery <name> [sfDir] [reps]"`
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[time] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      spark.catalog.clearCache() // outside the timer, as Bench.timeOne
    }
    spark.stop()
  }
}
