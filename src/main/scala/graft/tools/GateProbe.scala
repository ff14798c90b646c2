package graft.tools

/** Local iteration aid: run the rows-only quality gates (the
  * `recall_gates.json` content Verify emits) against any SF dir without
  * a full Verify dump — `sbt "runMain graft.tools.GateProbe <sfDir>"`. */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[8]", 8)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same mode-matrix override Verify honors, so big-SF gate probes can
    // run under the documented exact-banding protocol
    sys.env.get("SPARK_GRAFT_SQL_CONF").foreach(graft.GraftSession.confOverrides(_)
      .foreach { case (k, v) => spark.conf.set(k, v) })
    val gates = QualityGates.measure(spark, args(0))
    gates.foreach(g => println(
      f"${g.query}%-22s ${g.metric}%-34s ${g.value}%.4f (bound ${g.bound}%.2f) ${if (g.pass) "ok" else "FAIL"}"))
    // optional second arg: also write the RECALL.json-shaped artifact
    // (big-SF gate refreshes without a full Verify dump)
    args.drop(1).headOption.foreach { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        QualityGates.toJson(gates))
    }
    spark.stop()
    if (gates.exists(!_.pass)) sys.exit(1)
  }
}
