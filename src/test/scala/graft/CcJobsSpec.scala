package graft

import org.scalatest.funsuite.AnyFunSuite

/** The callers of the shared connected-components kernel
  * (`DedupOps.propagateMinLabels`) pin the Spark jobs their construction
  * runs at the spec fixture: their pair pipeline's jobs, then the
  * kernel's first checkpoint count and, for the dedup callers, one
  * collect of its ids, since their edge sets fit the driver-finish
  * bound. No star round runs. graph_connected_components has no edge at
  * the fixture, so its kernel stops at the empty first checkpoint; at
  * sf0.01 it has edges, and runs the driver finish. */
class CcJobsSpec extends AnyFunSuite {
  private lazy val spark = GraftSparkSession.spark
  private val dir = GraftSparkSession.sfDir

  /** `name`'s DataFrame and its construction layer, built on an empty
    * cache with Tables' per-JVM schema memo warm: a first load pays a
    * footer job */
  private def built(name: String, sfDir: String) = {
    spark.catalog.clearCache()
    Seq("events", "documents").foreach(Tables.load(spark, sfDir, _).schema)
    PlanHealth.traced(spark)(SparkEntry.queries(name)(spark, sfDir))
  }

  // counts measured at the spec fixture
  for ((name, jobs) <- Seq("graph_connected_components" -> 4,
      "dedup_cluster_groups" -> 20, "dedup_leakage_safe_split" -> 20))
    test(s"$name pins its construction jobs") {
      val (df, layer) = built(name, dir)
      assert(layer.jobs == jobs, layer.jobNames.mkString("\n"))
      assert(df.collect().nonEmpty)
    }

  test("graph_connected_components at sf0.01 finishes on the driver and matches union-find") {
    val sf = "/root/testdata/sf0.01"
    val (df, layer) = built("graph_connected_components", sf)
    // the pair pipeline's jobs, the first checkpoint's count, one collect
    assert(layer.jobs == 5, layer.jobNames.mkString("\n"))
    val (pairsDf, usersDf) = operators.GraphOps.componentPairs(spark, sf)
    val pairs = pairsDf.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(pairs.nonEmpty, "sf0.01 must give the caller edges")
    val users = usersDf.collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(users.map(u => u -> u): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val expect = users.groupBy(find).values.map(c => (c.min, c.length.toLong, c.max)).toSeq.sorted
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
  }
}
