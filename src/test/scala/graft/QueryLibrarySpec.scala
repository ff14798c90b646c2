package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + determinism + plan-shape assertions over the full query
  * library (reference analog: MiscOperatorSuite + the plan-golden checks
  * in VeloxTPCHSuite — we assert plan properties instead of offload
  * tags; see SURVEY.md §5).
  */
class QueryLibrarySpec extends AnyFunSuite {
  private lazy val spark = GraftSparkSession.spark
  private val dir = GraftSparkSession.sfDir

  test("every registered query runs at sf0.001 and its oracle key exists in queries") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle without query: $k"))
    val failures = qs.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, dir).collect(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("no query's physical plan string exceeds 1 MB (driver-OOM guard)") {
    // generalizes the round-2 lesson: an iterative pipeline once grew a
    // 1.9 GB plan string; every library query must keep analysis- and
    // explain-cost bounded no matter how many rounds/branches it builds
    val oversize = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      // scala.util.Try catches only NonFatal — an OutOfMemoryError while
      // rendering the plan string (the exact regression this test exists
      // for) propagates and fails the suite instead of being swallowed.
      // Any non-fatal failure to stringify is reported as a finding too:
      // the guard must never fail open in its target scenario.
      scala.util.Try(fn(spark, dir).queryExecution.executedPlan.toString.length) match {
        case scala.util.Success(len) if len <= 1024 * 1024 => None
        case scala.util.Success(len) => Some(s"$name: plan string $len bytes")
        case scala.util.Failure(e) =>
          Some(s"$name: failed to render plan (${e.getClass.getSimpleName}: ${e.getMessage})")
      }
    }
    assert(oversize.isEmpty, oversize.mkString("\n"))
  }

  test("seeded bernoulli sample is rerun-deterministic and near the target fraction") {
    // the rows-only justification for sample_bernoulli is the
    // engine-specific RNG stream — but its CONTRACT is still testable:
    // fixed seed ⇒ identical output across runs, and the sampled mass
    // stays within a loose binomial band of the 10% target
    val fn = graft.operators.RelationalOps.rawApprox("sample_bernoulli")
    val a = fn(spark, dir).collect().toSeq
    val b = fn(spark, dir).collect().toSeq
    assert(a == b, "fixed-seed sample must be rerun-identical")
    val total = graft.Tables.load(spark, dir, "orders").count()
    val sampled = a.map(_.getLong(1)).sum
    val frac = sampled.toDouble / total
    assert(frac > 0.05 && frac < 0.15, s"sampled fraction $frac outside [0.05, 0.15]")
    // and the exported gate face agrees: every band boolean true
    val gate = SparkEntry.queries("sample_bernoulli")(spark, dir).collect()
    assert(gate.forall(_.getBoolean(2)), "binomial band boolean flipped")
  }

  test("queries are deterministic across reruns") {
    for (name <- Seq("tpch_q01_pricing_summary", "dedup_minhash_lsh", "sim_ann_brute_topk")) {
      val fn = SparkEntry.queries(name)
      val a = fn(spark, dir).collect().toSeq
      val b = fn(spark, dir).collect().toSeq
      assert(a == b, s"$name differed across runs")
    }
  }

  test("filter and projection are pushed into the parquet scan (q06)") {
    val plan = SparkEntry.queries("tpch_q06_forecast_revenue")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("l_discount"), "discount predicate should be pushed")
    // column pruning: scan must not read l_orderkey/l_comment-width schema
    assert(!plan.contains("l_partkey"), "unused columns must be pruned from scan")
  }

  test("dimension joins broadcast (q05 uses BroadcastHashJoin)") {
    val plan = SparkEntry.queries("tpch_q05_local_supplier")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("tpcds-style date-dim star join broadcasts the derived dimension") {
    // the derived date_dim is one row per distinct day — it must plan as
    // a broadcast side (the real-date_dim behavior at any fact scale)
    val plan = SparkEntry.queries("tpcds_style_q3_brand")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"),
      "ordered LIMIT must not global-sort:\n" + plan.take(2000))
  }

  test("semi/anti joins plan as join operators, not subquery re-scans") {
    val semi = SparkEntry.queries("join_left_semi")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(semi.contains("LeftSemi"), semi.take(1500))
    val anti = SparkEntry.queries("join_left_anti")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(anti.contains("LeftAnti"), anti.take(1500))
  }

  test("top-1-per-group plans with WindowGroupLimit pushdown") {
    val plan = SparkEntry.queries("window_group_limit")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("ordered limit plans as TakeOrderedAndProject (no global sort)") {
    val plan = SparkEntry.queries("tpch_q03_topk_revenue")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("whole-stage codegen covers the custom cosine expression") {
    val df = SparkEntry.queries("sim_ann_brute_topk")(spark, dir)
    df.collect() // materialize so AQE collapses stages into codegen spans
    val plan = df.queryExecution.executedPlan.toString
    // codegen spans render as "*(n)" in toString
    assert(plan.contains("*("), plan.take(2000))
    assert(plan.contains("cosine_similarity"), "custom expression should appear in the plan")
  }
}
