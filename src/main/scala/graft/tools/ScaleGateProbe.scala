package graft.tools

/** Big-corpus recall gates ([[QualityGates.measureAtScale]]): measure
  * the probe-ring / scaled-lever operators at the big corpus's actual
  * operating points, with no O(n²) reference anywhere.
  *
  * `sbt "runMain graft.tools.ScaleGateProbe <bigDir> <refDir> [out]"`
  * — refDir is the corpus where the exact all-pairs margin miner is
  * feasible (the sf1-size corpus); out defaults to none (stdout only).
  */
object ScaleGateProbe {
  def main(args: Array[String]): Unit = {
    val bigDir = args(0)
    val refDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("SPARK_GRAFT_SQL_CONF").foreach(graft.GraftSession.confOverrides(_)
      .foreach { case (k, v) => spark.conf.set(k, v) })
    val gates = QualityGates.measureAtScale(spark, bigDir, refDir)
    gates.foreach(g => println(
      f"${g.query}%-24s ${g.metric}%-36s ${g.value}%.4f (bound ${g.bound}%.2f) ${if (g.pass) "ok" else "FAIL"}"))
    args.drop(2).headOption.foreach { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        QualityGates.toJson(gates))
    }
    spark.stop()
    if (gates.exists(!_.pass)) sys.exit(1)
  }
}
