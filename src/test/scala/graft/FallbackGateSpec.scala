package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression gate over interpreted-expression (CodegenFallback) usage
  * (round-9 verdict item 5): plans EVERY oracled query and fails if any
  * physical plan contains an interpreted expression that
  * [[graft.tools.QualityGates.fallbackAllowed]] does not allow — a class
  * outside the committed allowlist, or an array higher-order function
  * that `CompiledLambdas` could have compiled.
  *
  * A new query with an accidental interpreted lambda in a corpus-scale
  * hot loop is invisible at oracle SF (milliseconds) and dominant at
  * 100x replicas (wave-9 measured sim_ann_pq 43.3→13.7 s and
  * dedup_substring_windows 23.6→12.9 s after converting exactly such
  * sites). Adding a fallback class must be a reviewed allowlist edit
  * with a reason, not an accident. `PlanHealth.interpreted` walks
  * through AQE's initial plan, so the scan plans with AQE on, as the
  * queries run.
  */
class FallbackGateSpec extends AnyFunSuite {
  private lazy val spark = GraftSparkSession.spark

  test("no oracled query plans a CodegenFallback class outside the allowlist") {
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val extra = PlanHealth.interpreted(q(spark, GraftSparkSession.sfDir).queryExecution.executedPlan)
          .filterNot(tools.QualityGates.fallbackAllowed)
          .map(_.getClass.getSimpleName.stripSuffix("$")).distinct
        if (extra.nonEmpty) offenders += s"$name: ${extra.sorted.mkString(", ")}"
      } finally spark.catalog.clearCache()
    }
    assert(offenders.isEmpty,
      "new CodegenFallback classes in query plans (convert to a native " +
        "codegen expression, or allowlist with a reason in " +
        s"QualityGates.fallbackAllowlist):\n${offenders.mkString("\n")}")
  }
}
