package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). A test
  * that stops its context gets a new one from the next call. */
object GraftSparkSession {
  private var current: SparkSession = _

  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      current = GraftSession.builder("local[4]", 4)
        .appName("graft-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft_wh").toString)
        .getOrCreate()
      current.sparkContext.setLogLevel("WARN")
    }
    current
  }
  val sfDir = "/root/testdata/sf0.001"
}
