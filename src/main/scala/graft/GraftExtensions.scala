package graft

import graft.functions.GraftExpressions
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DateType

/** Engine façade: the `GlutenSessionExtensions` analog
  * (gluten-core/src/main/scala/org/apache/gluten/GlutenSessionExtensions.scala:26-61
  * injected by GlutenPlugin). Where the reference injects offload rule
  * pipelines, we inject (a) the engine's custom Catalyst expressions as
  * SQL functions and (b) micro optimizer rules mirroring the reference's
  * expression-rewrite layer (e.g. EliminateRedundantGetTimestamp,
  * gluten-substrait rewrite rules — SURVEY.md §4).
  *
  * Optimizer rules: [[EliminateRedundantToDate]], and
  * [[graft.functions.CompiledLambdas]], which compiles Spark's array
  * `transform`/`filter`/`exists`/`forall`/`aggregate` into generated
  * loops with lambda-invariant work evaluated once per row. `zip_with`,
  * `array_sort` comparators and lambdas whose body holds an interpreted
  * expression stay Spark's interpreted functions.
  *
  * Planner strategies: [[graft.plans.AsOfJoinStrategy]],
  * [[graft.plans.DeferredMaterializeStrategy]], and two that plan an
  * input within AQE's one-partition bound ([[graft.plans.OnePartition]],
  * 1 MiB by default) as one partition with no shuffle:
  * [[graft.plans.SmallLocalRebalance]], the rebalance over a
  * driver-local relation (a small lake append), and
  * [[graft.plans.SmallFullOuterJoin]], a full outer equi-join of two
  * such inputs (a small lake MERGE).
  * Query-stage preparation rules:
  * [[graft.plans.MergeTwoPhaseAggregate]] and
  * [[graft.plans.SkipPartialAggregate]]; post-planner rule:
  * [[graft.plans.RewriteJoinBuildSide]].
  *
  * Activate with `spark.sql.extensions=graft.GraftExtensions` or
  * through [[GraftSession.builder]].
  */
object GraftExtensions {
  /** Resolve the `k` argument of a sketch-style aggregate at function-
    * resolution time. Mirrors Spark's own sketch-agg builders: k must
    * be a non-null foldable integral literal, anything else is a clean
    * `AnalysisException` instead of an obscure eval-time failure. */
  private[graft] def literalK(fn: String, e: Expression): Int = {
    def fail(why: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
        Map(
          "sqlExpr" -> s"\"$fn\"",
          "inputName" -> "`k` (k must be an integer literal)",
          "inputType" -> "\"INT\"",
          "inputExpr" -> s"\"${e.sql} ($why)\""),
        None)
    if (!e.foldable) fail(s"got non-foldable ${e.sql}")
    e.eval() match {
      case null => fail("got NULL")
      case n: java.lang.Integer => n.intValue()
      case n: java.lang.Long if n >= Int.MinValue && n <= Int.MaxValue => n.intValue()
      case n: java.lang.Short => n.intValue()
      case n: java.lang.Byte => n.intValue()
      case other => fail(s"got ${other.getClass.getSimpleName} ${e.sql}")
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[GraftExpressions.CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[Expression]) => GraftExpressions.CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[GraftExpressions.SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => GraftExpressions.SimHash64(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[GraftExpressions.DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => GraftExpressions.DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("bitmap_jaccard"),
      new ExpressionInfo(classOf[GraftExpressions.BitmapJaccard].getName, "bitmap_jaccard"),
      (exprs: Seq[Expression]) => GraftExpressions.BitmapJaccard(exprs(0), exprs(1))))
    // explicit bloom-filter SQL surface (the reference exposes these as
    // VeloxBloomFilterAggregate/MightContain, SURVEY §2.3/§7 step 5) —
    // Spark ships the expressions for its runtime join pruning but does
    // not register SQL names; we do.
    ext.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (exprs: Seq[Expression]) => {
        val agg = exprs match {
          case Seq(c) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
          case Seq(c, n) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
          case Seq(c, n, b) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
          case _ => throw new IllegalArgumentException("bloom_filter_agg(child[, items[, bits]])")
        }
        agg.toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))))
    // the engine's typed-imperative aggregates, exposed to SQL users
    // (k must be a foldable literal, like Spark's own sketch aggs)
    ext.injectFunction((
      new FunctionIdentifier("topk_freq"),
      new ExpressionInfo(classOf[graft.functions.TopKFreq].getName, "topk_freq"),
      (exprs: Seq[Expression]) => graft.functions.TopKFreq(
        exprs(0), GraftExtensions.literalK("topk_freq", exprs(1)))
        .toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("top_k_by_score"),
      new ExpressionInfo(classOf[graft.functions.TopKByScore].getName, "top_k_by_score"),
      (exprs: Seq[Expression]) => graft.functions.TopKByScore(
        exprs(0), exprs(1), GraftExtensions.literalK("top_k_by_score", exprs(2)))
        .toAggregateExpression()))
    ext.injectOptimizerRule(_ => EliminateRedundantToDate)
    ext.injectOptimizerRule(_ => graft.functions.CompiledLambdas)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.DeferredMaterializeStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.SmallLocalRebalance)
    ext.injectPlannerStrategy(_ => graft.plans.SmallFullOuterJoin)
    ext.injectQueryStagePrepRule(graft.plans.MergeTwoPhaseAggregate.apply)
    ext.injectQueryStagePrepRule(graft.plans.SkipPartialAggregate.apply)
    // before EnsureRequirements: SMJ→SHJ rewrite leaves no orphaned sorts
    ext.injectQueryPostPlannerStrategyRule(graft.plans.RewriteJoinBuildSide.apply)
  }
}

/** `to_date(c)` / `CAST(c AS DATE)` over an already-DATE child is a
  * no-op — drop it so it neither blocks scan pushdown of comparisons
  * nor costs a per-row branch. Mirrors the reference's redundant-
  * timestamp-conversion elimination (EliminateRedundantGetTimestamp,
  * SURVEY.md §4). */
object EliminateRedundantToDate extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case c @ Cast(child, DateType, _, _) if child.dataType == DateType &&
          child.resolved => child
    }
}

/** Session bootstrap with the engine's tuned defaults (GlutenPlugin
  * conf-forcing analog, gluten-core/.../GlutenPlugin.scala:105-155):
  * AQE with skew handling, hash-join preference, nested pruning,
  * runtime bloom-filter join pruning. */
object GraftSession {
  /** Static confs that make a `local-cluster[n,cores,mem]` master work
    * outside spark-submit: executors are REAL separate JVMs launched by
    * the in-process standalone worker, so they need (a) the driver's
    * classpath (sbt's forked-run classpath carries both the Spark jars
    * and the engine's compiled classes — spark-submit would instead
    * ship an application jar) and (b) the JDK-17 --add-opens set that
    * spark-submit normally injects. `spark.executor.memory` is pinned
    * to the worker's memory so each worker hosts exactly one executor.
    * A plain `local[...]` master passes through untouched. */
  def withClusterConf(b: SparkSession.Builder, master: String): SparkSession.Builder =
    if (!master.startsWith("local-cluster")) b
    else {
      val memMb = master.stripPrefix("local-cluster[").stripSuffix("]")
        .split(",")(2).trim.toInt
      b.config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.memory", s"${memMb}m")
        .config("spark.executor.extraJavaOptions",
          org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
    }

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    withClusterConf(SparkSession.builder(), master)
      .master(master)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // storage-partitioned joins (r12 verdict item 3): honor the
      // KeyGroupedPartitioning reported by the engine's DSv2 scans
      // (GraftLakeCatalog) so two tables partitioned by the same
      // transform join/aggregate with ZERO Exchange on either side —
      // the Iceberg SPJ feature. pushPartValues lets one side's
      // missing partition values be filled with empties instead of
      // falling back to a full shuffle.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // engine-owned cache encoding (static conf, set before the session
      // exists): dense row batches, see GraftCachedBatchSerializer
      .config("spark.sql.cache.serializer", classOf[sources.GraftCachedBatchSerializer].getName)
      // Plan/explain strings are O(plan size) driver heap; iterative
      // pipelines (label propagation, stream batches) grow plans every
      // round, and an unbounded toString is a driver-OOM vector long
      // before the plan itself is a problem. 8 MB is plenty to debug.
      .config("spark.sql.maxPlanStringLength", (8 * 1024 * 1024).toString)
      // events.ts has shipped as TIMESTAMP(NANOS): read as int64 nanos,
      // which Tables.load converts
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Session-conf overrides `k=v[,k=v...]` (SPARK_GRAFT_SQL_CONF,
    * SPARK_GRAFT_BENCH_CONF). Pairs split on a comma only when what
    * follows looks like another `key=`, so a comma INSIDE a value (a rule
    * or class list) stays part of that value. */
  def confOverrides(spec: String): Seq[(String, String)] =
    spec.split(",(?=[^=,]+=)").toSeq.filter(_.contains('='))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }

  /** The vanilla twin: a plain session with NO extensions and stock
    * Spark defaults, plus only master, shuffle-partition and UTC parity,
    * the engine's cache encoding (a static conf both sessions of one
    * context share), the plan-string cap and the `nanosAsLong` read that
    * `Tables.load` needs. Built first, it creates the context with these
    * neutral confs only, so `spark.sql.extensions` never leaks into it. */
  def stockBuilder(master: String, shufflePartitions: Int): SparkSession.Builder =
    withClusterConf(SparkSession.builder(), master)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.cache.serializer", classOf[sources.GraftCachedBatchSerializer].getName)
      .config("spark.sql.maxPlanStringLength", (8 * 1024 * 1024).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
