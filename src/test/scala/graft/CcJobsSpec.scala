package graft

import org.scalatest.funsuite.AnyFunSuite

/** The callers of the shared connected-components kernel
  * (`DedupOps.propagateMinLabels`) pin the Spark jobs their construction
  * runs at the spec fixture: their pair pipeline's jobs, then the
  * kernel's first checkpoint count and, for the dedup callers, one
  * collect of its ids, since their edge sets fit the driver-finish
  * bound. No star round runs. graph_connected_components has no edge at
  * the fixture, so its kernel stops at the empty first checkpoint. */
class CcJobsSpec extends AnyFunSuite {
  private lazy val spark = GraftSparkSession.spark
  private val dir = GraftSparkSession.sfDir

  // counts measured at the spec fixture
  for ((name, jobs) <- Seq("graph_connected_components" -> 4,
      "dedup_cluster_groups" -> 20, "dedup_leakage_safe_split" -> 20))
    test(s"$name pins its construction jobs") {
      spark.catalog.clearCache()
      // warm Tables' per-JVM schema memo: a first load pays a footer job
      Seq("events", "documents").foreach(Tables.load(spark, dir, _).schema)
      val (df, built) = JobCounter(spark) { SparkEntry.queries(name)(spark, dir) }
      assert(built.size == jobs, built.mkString("\n"))
      assert(df.collect().nonEmpty)
    }
}
