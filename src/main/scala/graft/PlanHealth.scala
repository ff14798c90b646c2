package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{DataSourceScanExec, FileSourceScanExec, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-health reporter — the GlutenFallbackReporter / gluten-ui analog
  * (SURVEY.md §4 "Fallback reporting/UI"): where the reference explains
  * which nodes fell back to vanilla Spark, we summarize each executed
  * query's physical plan (shuffle/broadcast counts, codegen coverage,
  * scan pushdown presence) and name the expressions that still run
  * interpreted, so regressions in plan shape are observable without
  * reading full explains.
  */
object PlanHealth {

  final case class Record(
      name: String,
      durationNs: Long,
      exchanges: Int,
      broadcasts: Int,
      codegenSpans: Int,
      scans: Int,
      scansWithPushedFilters: Int,
      /** distinct interpreted (`CodegenFallback`) expression classes */
      interpreted: Seq[String],
      failed: Boolean)

  /** Every node of a physical plan: through AQE's adaptive wrapper (its
    * current plan — the initial one before execution, the final one
    * after) and query stages, and into subquery plans. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Every interpreted (`CodegenFallback`) expression in a physical
    * plan, once per occurrence. */
  def interpreted(plan: SparkPlan): Seq[Expression] =
    nodes(plan).flatMap(_.expressions.flatMap(_.collect { case f: CodegenFallback => f }))

  /** the classes of [[interpreted]] */
  def codegenFallbacks(plan: SparkPlan): Seq[String] =
    interpreted(plan).map(_.getClass.getSimpleName.stripSuffix("$"))

  private def summarize(name: String, plan: SparkPlan, durationNs: Long,
      failed: Boolean): Record = {
    val ns = nodes(plan)
    Record(name, durationNs,
      exchanges = ns.count(_.isInstanceOf[Exchange]),
      broadcasts = ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      codegenSpans = ns.count(_.isInstanceOf[WholeStageCodegenExec]),
      scans = ns.count(p => p.isInstanceOf[DataSourceScanExec] ||
        p.isInstanceOf[DataSourceV2ScanExecBase]),
      scansWithPushedFilters = ns.count {
        case s: FileSourceScanExec => s.dataFilters.nonEmpty
        case _ => false
      },
      interpreted = codegenFallbacks(plan).distinct.sorted,
      failed = failed)
  }

  final class Listener extends QueryExecutionListener {
    val records = new mutable.ArrayBuffer[Record]()

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      records.synchronized {
        records += summarize(funcName, qe.executedPlan, durationNs, failed = false)
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      records.synchronized { records += summarize(funcName, qe.executedPlan, 0L, failed = true) }
  }

  /** attach a fresh listener to the session and return it */
  def attach(spark: SparkSession): Listener = {
    val l = new Listener
    spark.listenerManager.register(l)
    l
  }

  def detach(spark: SparkSession, l: Listener): Unit =
    spark.listenerManager.unregister(l)

  /** Runtime operator metrics — the SQLMetrics half of the reference's
    * per-operator metrics UI: after a query executes, every physical
    * node's populated metric values (numOutputRows, shuffle
    * records/bytes written, spill sizes, peak memory, …) keyed by node
    * name. Plan-shape counters above say what the plan IS; these say
    * what it DID — the pair a fleet dashboard ingests per query. */
  final case class OpMetric(node: String, metric: String, value: Long, accumId: Long = -1L)

  def runtimeMetrics(qe: QueryExecution): Seq[OpMetric] =
    nodes(qe.executedPlan).flatMap { p =>
      p.metrics.toSeq.map { case (k, m) => OpMetric(p.nodeName, k, m.value, m.id) }
    }

  /** Aggregated headline numbers from [[runtimeMetrics]]. Reused
    * exchanges / reused query stages share the ORIGINAL node's
    * SQLMetric accumulators, and the plan walk visits each occurrence —
    * summing naively would double-count data movement, so each
    * accumulator id contributes once. */
  def runtimeSummary(qe: QueryExecution): Map[String, Long] = {
    val ms = runtimeMetrics(qe)
      .groupBy(_.accumId).map(_._2.head).toSeq // dedupe shared accumulators
    def sumOf(pred: String => Boolean): Long =
      ms.filter(m => pred(m.metric)).map(_.value).sum
    // metric KEYS are camelCase identifiers (display names differ)
    Map(
      "output_rows" -> sumOf(_ == "numOutputRows"),
      "shuffle_records_written" -> sumOf(_ == "shuffleRecordsWritten"),
      "shuffle_bytes_written" -> sumOf(_ == "shuffleBytesWritten"),
      "spill_bytes" -> sumOf(_ == "spillSize"))
  }

  /** one-line textual report per record */
  def report(l: Listener): Seq[String] = l.records.synchronized {
    l.records.map { r =>
      f"${r.name}%-12s ${r.durationNs / 1e6}%9.1f ms exch=${r.exchanges} bcast=${r.broadcasts} " +
        f"codegen=${r.codegenSpans} scans=${r.scans} pushed=${r.scansWithPushedFilters}" +
        (if (r.interpreted.isEmpty) "" else s" interpreted=${r.interpreted.mkString(",")}") +
        (if (r.failed) " FAILED" else "")
    }.toSeq
  }
}
