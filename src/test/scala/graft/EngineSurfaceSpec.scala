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
    val l = PlanHealth.attach(spark)
    try {
      Tables.load(spark, dir, "orders")
        .groupBy(col("o_orderstatus")).agg(count(lit(1))).collect()
      // QueryExecutionListener events are delivered asynchronously
      var tries = 0
      while (l.records.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(l.records.nonEmpty)
      val r = l.records.last
      assert(r.exchanges >= 1, s"groupBy should shuffle: $r")
      assert(r.scans >= 1 && !r.failed)
      assert(PlanHealth.report(l).nonEmpty)
    } finally PlanHealth.detach(spark, l)
  }

  test("plan health names the interpreted expressions: none for a compiled transform") {
    def interpreted(): Seq[String] = {
      val l = PlanHealth.attach(spark)
      try {
        Tables.load(spark, dir, "orders")
          .select(transform(array(col("o_totalprice")), x => x * 2).as("t")).collect()
        var tries = 0
        while (l.records.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
        l.records.last.interpreted
      } finally PlanHealth.detach(spark, l)
    }
    assert(interpreted().isEmpty)
    // Spark's own lambdas, with the rule excluded
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.functions.CompiledLambdas")
    try assert(interpreted().contains("ArrayTransform"))
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
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
