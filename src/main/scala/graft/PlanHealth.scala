package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{DataSourceScanExec, FileSourceScanExec, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange}
import org.apache.spark.sql.graft.BusBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-health reporter — the GlutenFallbackReporter / gluten-ui analog
  * (SURVEY.md §4 "Fallback reporting/UI"): where the reference explains
  * which nodes fell back to vanilla Spark, we summarize each executed
  * query's physical plan (shuffle/broadcast counts, codegen coverage,
  * scan pushdown presence) and name the expressions that still run
  * interpreted, so regressions in plan shape are observable without
  * reading full explains. It is also the engine's one query trace
  * ([[traced]]): what the jobs of one block of code did, layer by layer.
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
      failed: Boolean,
      /** milliseconds per `QueryPlanningTracker` phase (parsing,
        * analysis, optimization, planning) */
      phases: Map[String, Long] = Map.empty)

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

  private def summarize(name: String, qe: QueryExecution, durationNs: Long,
      failed: Boolean): Record = {
    val plan = qe.executedPlan
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
      failed = failed,
      phases = qe.tracker.phases.map { case (k, p) => k -> p.durationMs })
  }

  final class Listener extends QueryExecutionListener {
    val records = new mutable.ArrayBuffer[Record]()

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      records.synchronized {
        records += summarize(funcName, qe, durationNs, failed = false)
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      records.synchronized { records += summarize(funcName, qe, 0L, failed = true) }
  }

  /** What the jobs of one traced block did: its wall, and the part of
    * it that no job of the block covers (driver-only time: building,
    * planning, committing, waiting); its jobs, each named by its stages
    * ([[stageName]]); the stages and tasks they ran; the tasks' summed
    * run and CPU time, shuffle bytes and disk spill; the largest peak
    * execution memory of one task; and the plan summary, with its
    * planning phases, of each SQL execution the session finished while
    * the block ran. */
  final case class Layer(wallNs: Long = 0L, noJobMs: Long = 0L, jobNames: Vector[String] = Vector.empty,
      stages: Int = 0, tasks: Int = 0, runMs: Long = 0L, cpuNs: Long = 0L,
      shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L, spillBytes: Long = 0L,
      peakExecMemBytes: Long = 0L, plans: Vector[Record] = Vector.empty) {
    def jobs: Int = jobNames.size

    /** the layer as named counts: the fields of Bench's `layers` and of
      * TimeQuery's lines */
    def fields: Seq[(String, Long)] = Seq(
      "wall_ms" -> wallNs / 1000000, "no_job_ms" -> noJobMs, "jobs" -> jobs.toLong,
      "stages" -> stages.toLong,
      "tasks" -> tasks.toLong, "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1000000,
      "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes, "peak_exec_mem_bytes" -> peakExecMemBytes,
      "exchanges" -> plans.map(_.exchanges.toLong).sum,
      "broadcasts" -> plans.map(_.broadcasts.toLong).sum) ++
      Seq("analysis", "optimization", "planning").map(ph =>
        s"${ph}_ms" -> plans.map(_.phases.getOrElse(ph, 0L)).sum)
  }

  private val TagKey = "graft.trace.tag"
  private val tags = new java.util.concurrent.atomic.AtomicLong

  /** A stage by what ran in it: the RDD operation scopes of its RDDs,
    * oldest RDD first (for SQL, the physical operators that built them:
    * `Exchange`, `WholeStageCodegen (2)`, `AppendData`), or its call
    * site when it has none. Jobs that AQE and broadcasts submit from
    * Spark's thread pools all share one call site, so the scopes are
    * what tell their stages apart. */
  def stageName(si: StageInfo): String = {
    val scopes = BusBridge.scopes(si)
    if (scopes.isEmpty) si.name else scopes.mkString(", ")
  }

  /** Milliseconds of `[from, to]` that none of `spans` (start, end)
    * covers. */
  private[graft] def uncovered(from: Long, to: Long, spans: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = from
    for ((s, e) <- spans.sortBy(_._1)) {
      val lo = s max reach
      val hi = e min to
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    (to - from - covered) max 0L
  }

  /** The trace's one listener. Every job submitted while the local
    * property [[TagKey]] holds `tag` is this block's; Spark copies local
    * properties to the broadcast and subquery threads a job starts
    * from. Events arrive on the listener bus's one thread. */
  private final class Trace(val tag: String, stageRow: String => Unit) extends SparkListener {
    @volatile var layer = Layer()
    private val stages = mutable.Set.empty[Int]
    /** each job's (start, end) epoch ms; a job still running has no end */
    val jobSpans = mutable.Map.empty[Int, (Long, Option[Long])]
    private def ours(p: java.util.Properties): Boolean =
      p != null && p.getProperty(TagKey) == tag

    override def onJobStart(e: SparkListenerJobStart): Unit = if (ours(e.properties)) {
      jobSpans(e.jobId) = (e.time, None)
      layer = layer.copy(jobNames = layer.jobNames :+ e.stageInfos.map(stageName).mkString(" ~ ").take(200))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpans.get(e.jobId).foreach { case (s, _) => jobSpans(e.jobId) = (s, Some(e.time)) }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (ours(e.properties)) stages += e.stageInfo.stageId

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (stages(e.stageId)) {
      val l = layer.copy(tasks = layer.tasks + 1)
      // a failed task may carry no metrics
      layer = Option(e.taskMetrics).fold(l)(m => l.copy(runMs = l.runMs + m.executorRunTime,
        cpuNs = l.cpuNs + m.executorCpuTime,
        shuffleReadBytes = l.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = l.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = l.spillBytes + m.diskBytesSpilled,
        peakExecMemBytes = l.peakExecMemBytes max m.peakExecutionMemory))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (stages.remove(si.stageId)) {
        layer = layer.copy(stages = layer.stages + 1)
        val m = si.taskMetrics
        stageRow(s"stage ${si.stageId} tasks=${si.numTasks} input_rows=${m.inputMetrics.recordsRead} " +
          s"shuffle_read_rows=${m.shuffleReadMetrics.recordsRead} shuffle_write_rows=" +
          s"${m.shuffleWriteMetrics.recordsWritten} shuffle_write_bytes=${m.shuffleWriteMetrics.bytesWritten} " +
          s"spill_bytes=${m.diskBytesSpilled} peak_exec_mem_bytes=${m.peakExecutionMemory} ${stageName(si).take(160)}")
      }
    }
  }

  /** Runs `body` under the engine's query trace and returns its result
    * and its [[Layer]]. `stageRow` gets one line per completed stage of
    * the block, as the stage completes, so a crashed run still leaves
    * its prefix. Plans come from a [[Listener]] attached to `spark` for
    * the block. The bus is drained before the block and again before the
    * layer is read, both outside the block's wall. */
  def traced[A](spark: SparkSession, stageRow: String => Unit = _ => ())(body: => A): (A, Layer) = {
    val sc = spark.sparkContext
    val trace = new Trace(s"trace-${tags.incrementAndGet()}", stageRow)
    val plans = new Listener
    BusBridge.drain(sc) // no earlier execution's end reaches `plans`
    spark.listenerManager.register(plans)
    sc.addSparkListener(trace)
    try {
      val prev = sc.getLocalProperty(TagKey)
      sc.setLocalProperty(TagKey, trace.tag)
      val (t0, from) = (System.nanoTime(), System.currentTimeMillis())
      val a = try body finally sc.setLocalProperty(TagKey, prev)
      val (wall, to) = (System.nanoTime() - t0, System.currentTimeMillis())
      BusBridge.drain(sc)
      val noJob = uncovered(from, to, trace.jobSpans.values.map { case (s, e) => (s, e.getOrElse(to)) }.toSeq)
      (a, trace.layer.copy(wallNs = wall, noJobMs = noJob,
        plans = plans.records.synchronized(plans.records.toVector)))
    } finally { sc.removeSparkListener(trace); spark.listenerManager.unregister(plans) }
  }

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
}
