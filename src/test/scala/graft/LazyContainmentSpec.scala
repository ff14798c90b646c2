package graft

import org.scalatest.funsuite.AnyFunSuite

/** r12 verdict item 7: constructing the containment query must run NO
  * job (an explain-service / plan-cache caller pays only analysis);
  * the verify pipeline executes on the first action, and executes
  * ONCE (the lazy DISK_ONLY survivor cache absorbs the range
  * partitioner's sample pass — without it the pipeline runs twice,
  * once for sampling, once for the sort). */
class LazyContainmentSpec extends AnyFunSuite {
  private lazy val spark = GraftSparkSession.spark

  test("construction + explain of dedup_containment runs zero jobs") {
    spark.catalog.clearCache()
    // warm Tables' per-JVM schema memo: the FIRST load of a table pays
    // a one-task footer-inference job (Spark metadata, not pipeline
    // execution); after the memo, loads are job-free — which is what
    // makes a zero-jobs construction achievable at all
    Tables.load(spark, GraftSparkSession.sfDir, "documents").schema
    val (df, jobsDuringBuild) = PlanHealth.traced(spark) {
      val q = operators.DedupOps.queries("dedup_containment")
      val df = q(spark, GraftSparkSession.sfDir)
      // a formatted explain plans the query (incl. physical planning)
      // but must not submit any job either
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      df
    }
    assert(jobsDuringBuild.jobs == 0,
      s"containment construction/explain submitted ${jobsDuringBuild.jobs} jobs " +
        s"(${jobsDuringBuild.jobNames.mkString("; ")}); must be lazy")

    // first action executes the pipeline — and produces the same
    // survivors the oracle checks (non-empty at sf0.001)
    val (n, jobsDuringAction) = PlanHealth.traced(spark) { df.count() }
    assert(n > 0)
    assert(jobsDuringAction.jobs > 0)
    operators.DedupOps.releaseCaches()
  }

  test("two same-corpus builds share the set-table cache whichever acts first") {
    // advisor r13: building containment B used to unpersist build A's
    // set-table cache entry even with A's thunk unfired — and, the plans
    // being identical, that eviction also removed the entry B itself had
    // just registered, so whichever build acted next recomputed the set
    // table once per verify subtree. The slot protocol now retires a
    // predecessor only when its plan DIFFERS, and a thunk releases only
    // while its build still owns the slot.
    spark.catalog.clearCache()
    operators.DedupOps.releaseCaches()
    val q = operators.DedupOps.queries("dedup_containment")
    val df1 = q(spark, GraftSparkSession.sfDir)
    val df2 = q(spark, GraftSparkSession.sfDir)
    // a probe with the same canonical plan as the internal groups cache:
    // a FRESH Dataset derived from it per check gets a fresh
    // QueryExecution, whose withCachedData substitutes an
    // InMemoryRelation exactly when the cache entry is live
    // (constructing the probe re-registers at most a no-op over it)
    val probe = operators.DedupOps.containmentPlan(spark, GraftSparkSession.sfDir)._2
    def setTableCacheLive(): Boolean =
      probe.select(org.apache.spark.sql.functions.col("gid"))
        .queryExecution.withCachedData.exists {
          case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
          case _ => false
        }
    assert(setTableCacheLive(), "set-table cache entry missing after the second build")
    val n1 = df1.count()
    // df1's thunk must NOT release the shared entry: df2 owns the slot
    assert(setTableCacheLive(),
      "acting on the FIRST build evicted the set table the second build still needs")
    val n2 = df2.count()
    assert(n1 == n2 && n1 > 0)
    // df2 owned the slot, so its thunk released the shared entry
    operators.DedupOps.releaseCaches()
    assert(!setTableCacheLive(), "set-table cache entry leaked past the owning thunk")
  }

  test("the verify pipeline materializes once: second action reads the cache") {
    spark.catalog.clearCache()
    val q = operators.DedupOps.queries("dedup_containment")
    val df = q(spark, GraftSparkSession.sfDir)
    val (_, jobsFirst) = PlanHealth.traced(spark) { df.count() }
    // the survivors cache is populated now; a re-action on the same
    // DataFrame must not re-run the verify pipeline (dramatically
    // fewer jobs — the sort + scan of cached batches only)
    val (_, jobsSecond) = PlanHealth.traced(spark) { df.count() }
    assert(jobsSecond.jobs < jobsFirst.jobs,
      s"second action ran ${jobsSecond.jobs} jobs vs first ${jobsFirst.jobs} — cache not reused")
    operators.DedupOps.releaseCaches()
  }
}
