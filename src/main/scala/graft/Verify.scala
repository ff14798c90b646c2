package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args: dump only these queries (local iteration aid;
    // the driver always calls with exactly two args = full dump)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER=local-cluster[4,8,4096] runs the battery across
    // real separate executor JVMs (cross-process serialization evidence);
    // default stays the single-JVM local master
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = graft.GraftSession.builder(master, cpus.toInt)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_SQL_CONF=k=v[,k=v...]: session-conf overrides for
    // mode-matrix passes (e.g. spark.sql.ansi.enabled=false re-runs the
    // whole battery under non-ANSI semantics)
    sys.env.get("SPARK_GRAFT_SQL_CONF").foreach(GraftSession.confOverrides(_)
      .foreach { case (k, v) => spark.conf.set(k, v) })
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (sys.env.contains("GRAFT_VERIFY_TRACE")) e.printStackTrace()
      }
      // drop any caches a query left behind so 170+ queries in one
      // session don't squeeze each other's executor memory
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // quantitative gates for the rows-only queries (recall/error/band
    // numbers the DuckDB hash-compare can't produce) — full dumps only,
    // so the single-query local iteration loop stays fast
    if (only.isEmpty) {
      try {
        val gates = graft.tools.QualityGates.measure(spark, sfDir)
        val gatesJson = graft.tools.QualityGates.toJson(gates)
        Files.writeString(Paths.get(s"$outDir/recall_gates.json"), gatesJson)
        // reviewable round artifact next to CORRECTNESS_r{N}: the
        // approximate-path floors belong in the repo, not only in the
        // driver's scratch dir
        try Files.writeString(Paths.get("RECALL.json"), gatesJson)
        catch { case _: Throwable => () }
        gates.foreach(g => System.err.println(
          f"[gates] ${g.query}%-22s ${g.metric}%-34s ${g.value}%.4f (bound ${g.bound}%.2f) ${if (g.pass) "ok" else "FAIL"}"))
      } catch { case e: Throwable =>
        System.err.println(s"[gates] measurement failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
