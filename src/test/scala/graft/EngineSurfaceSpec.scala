package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-surface specs: the spark.graft.* config namespace, the
  * plan-health listener (fallback-reporter analog), and sketch-accuracy
  * bounds for the approximate aggregates.
  */
class EngineSurfaceSpec extends AnyFunSuite {
  private lazy val spark = GraftSparkSession.spark
  private val dir = GraftSparkSession.sfDir

  test("spark.graft.* conf tunes dedup threshold (higher threshold ⊆ lower)") {
    val fn = SparkEntry.queries("dedup_minhash_lsh")
    val atDefault = fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set(GraftConf.DedupJaccardThreshold.key, "0.97")
    try {
      val strict = fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(strict.subsetOf(atDefault))
      assert(strict.size < atDefault.size || atDefault.isEmpty)
    } finally spark.conf.unset(GraftConf.DedupJaccardThreshold.key)
  }

  test("spark.graft.* conf tunes ANN top-k") {
    val fn = SparkEntry.queries("sim_ann_brute_topk")
    spark.conf.set(GraftConf.SimTopK.key, "2")
    try {
      val df = fn(spark, dir)
      val perQuery = df.groupBy(col("qid")).count().collect().map(_.getLong(1))
      assert(perQuery.nonEmpty && perQuery.forall(_ <= 2))
    } finally spark.conf.unset(GraftConf.SimTopK.key)
  }

  test("plan-health listener summarizes executed plans") {
    val (_, layer) = PlanHealth.traced(spark) {
      Tables.load(spark, dir, "orders")
        .groupBy(col("o_orderstatus")).agg(count(lit(1))).collect()
    }
    assert(layer.plans.nonEmpty)
    val r = layer.plans.last
    assert(r.exchanges >= 1, s"groupBy should shuffle: $r")
    assert(r.scans >= 1 && !r.failed)
  }

  test("plan health names the interpreted expressions: none for a compiled transform") {
    def interpreted(): Seq[String] = PlanHealth.traced(spark) {
      Tables.load(spark, dir, "orders")
        .select(transform(array(col("o_totalprice")), x => x * 2).as("t")).collect()
    }._2.plans.last.interpreted
    assert(interpreted().isEmpty)
    // Spark's own lambdas, with the rule excluded
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.functions.CompiledLambdas")
    try assert(interpreted().contains("ArrayTransform"))
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("the query trace counts jobs of broadcast and subquery threads toward its block") {
    // AQE off: the broadcast (one stage) and the scalar subquery (two)
    // each run one job, submitted from their own thread pools, before
    // the collect's one-stage job;
    // the trace sees those two only because Spark copies the block's
    // local properties to those threads
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (rows, layer) = PlanHealth.traced(spark) {
        spark.sql("SELECT /*+ BROADCAST(b) */ a.id FROM range(1000) a JOIN range(10) b " +
          "ON a.id = b.id WHERE a.id < (SELECT max(id) FROM range(5))").collect()
      }
      assert(rows.length == 4)
      assert(layer.jobs == 3, layer.jobNames.mkString("\n"))
      assert(layer.stages == 4 && layer.tasks > 0 && layer.wallNs > 0, layer)
      // the collect's SQL execution, with its plan summary and phases
      assert(layer.plans.map(_.broadcasts).sum == 1, layer.plans)
      assert(layer.plans.forall(_.phases.contains("planning")), layer.plans)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("the query trace names stages by their operators and reports the wall no job covers") {
    val (_, layer) = PlanHealth.traced(spark) {
      Thread.sleep(200) // driver-only: no job runs
      Tables.load(spark, dir, "orders").groupBy(col("o_orderstatus")).agg(count(lit(1))).collect()
    }
    // AQE submits the shuffle stage's job from its own thread pool, so
    // its call site names no operator; the RDD scopes do
    assert(layer.jobNames.exists(_.contains("Exchange")), layer.jobNames.mkString("\n"))
    assert(!layer.jobNames.exists(_.contains("CompletableFuture")), layer.jobNames.mkString("\n"))
    assert(layer.noJobMs >= 190 && layer.noJobMs <= layer.wallNs / 1000000, layer)
  }

  test("uncovered time counts what no span covers, overlaps and overhangs once") {
    assert(PlanHealth.uncovered(0L, 100L, Seq((10L, 30L), (20L, 50L), (70L, 200L))) == 30L)
    assert(PlanHealth.uncovered(0L, 100L, Seq((-5L, 5L))) == 95L)
    assert(PlanHealth.uncovered(0L, 100L, Nil) == 100L)
    assert(PlanHealth.uncovered(0L, 100L, Seq((0L, 100L), (40L, 60L))) == 0L)
  }

  test("runtime SQLMetrics surface actual rows and shuffle volume per operator") {
    val df = Tables.load(spark, dir, "orders")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    df.collect()
    val qe = df.queryExecution
    val metrics = PlanHealth.runtimeMetrics(qe)
    assert(metrics.nonEmpty)
    // the aggregate actually produced rows, and the shuffle actually moved bytes
    val agg = metrics.filter(m =>
      m.node.contains("HashAggregate") && m.metric == "numOutputRows")
    assert(agg.nonEmpty && agg.map(_.value).sum > 0, s"agg metrics: $agg")
    val sum = PlanHealth.runtimeSummary(qe)
    assert(sum("output_rows") > 0)
    assert(sum("shuffle_bytes_written") > 0, s"summary: $sum")
  }

  test("approx_count_distinct within its documented error bound") {
    val li = Tables.load(spark, dir, "lineitem")
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx")).head
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.1,
      s"approx=$approx exact=$exact")
  }

  test("approx_percentile close to exact percentile") {
    val li = Tables.load(spark, dir, "lineitem")
    val row = li.agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact"),
      expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("approx")).head
    val exact = row.getDouble(0)
    val approx = row.getDouble(1)
    assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
  }
}
