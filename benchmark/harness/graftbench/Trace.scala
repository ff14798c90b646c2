package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One timed interval. `layer` names the module the interval is spent
  * in; `parent` is the id of the span that caused it (0 = none). Times
  * are epoch milliseconds, the clock Spark's listener events use. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any])

/** In-memory span store. Spans are written out once, at the end of the
  * run. When `enabled` is false nothing is kept and [[span]] only runs
  * its body, so untraced runs pay one branch per span. */
final class Tracer(@volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def nowMs(): Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6
  def current: Long = stack.get().headOption.getOrElse(0L)
  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Runs `body` inside a span of `layer`; nested calls become children.
    * `onOpen` sees the new span id before the body runs, so callers can
    * tag Spark jobs with it. */
  def span[T](layer: String, name: String, attrs: => Map[String, Any] = Map.empty,
      onOpen: Long => Unit = _ => ())(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      stack.set(id :: stack.get())
      onOpen(id)
      val t0 = nowMs()
      try body
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, layer, name, t0, nowMs(), attrs))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Per-span totals of the Spark work a span caused, keyed by the span id
  * the benchmark put into the job's local properties. */
final class WorkTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inBytes = 0L; var inRows = 0L
  var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L
  var spill = 0L; var peakMem = 0L; var schedDelayMs = 0L
  var taskFailures = 0L; var stageRetries = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1000000L, "task_gc_ms" -> gcMs,
    "input_bytes" -> inBytes, "input_rows" -> inRows,
    "shuffle_write_bytes" -> shWrite, "shuffle_read_bytes" -> shRead,
    "shuffle_fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spill,
    "peak_exec_mem_bytes" -> peakMem, "sched_delay_ms" -> schedDelayMs,
    "task_failures" -> taskFailures, "stage_retries" -> stageRetries)
}

/** The benchmark's own listener. Jobs are attributed to benchmark spans
  * through the `graftbench.span` local property; job and stage intervals
  * become child spans of that span (layer `execution`). Block updates
  * give the cache footprint. */
final class TraceListener(tracer: Tracer) extends SparkListener {
  val Prop = TraceListener.Prop
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Double)]() // job -> (span, owner, startMs)
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val totals = new ConcurrentHashMap[Long, WorkTotals]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile var cacheBlocksPut = 0L
  @volatile var cachePeakBytes = 0L

  def totalsFor(span: Long): WorkTotals = totals.computeIfAbsent(span, _ => new WorkTotals)
  def allTotals: Map[Long, WorkTotals] = totals.asScala.toMap

  private def ownerOfStage(stageId: Int): Option[Long] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobSpan.get(j))).map(_._2)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong)
    owner.foreach { o =>
      jobSpan.put(e.jobId, (tracer.newId(), o, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      val t = totalsFor(o)
      t.synchronized { t.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { case (id, owner, start) =>
      tracer.add(Span(id, owner, "execution", s"job ${e.jobId}", start, e.time.toDouble, Map.empty))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for (j <- Option(stageJob.get(info.stageId)); (jid, owner, _) <- Option(jobSpan.get(j))) {
      val t = totalsFor(owner)
      t.synchronized {
        t.stages += 1
        if (info.attemptNumber() > 0) t.stageRetries += 1
      }
      for (s <- info.submissionTime; c <- info.completionTime)
        tracer.add(Span(tracer.newId(), jid, "execution", s"stage ${info.stageId}",
          s.toDouble, c.toDouble, Map.empty))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    ownerOfStage(e.stageId).foreach { owner =>
      val t = totalsFor(owner)
      val m = e.taskMetrics
      val info = e.taskInfo
      t.synchronized {
        t.tasks += 1
        if (e.reason != Success) t.taskFailures += 1
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.inBytes += m.inputMetrics.bytesRead
          t.inRows += m.inputMetrics.recordsRead
          t.shWrite += m.shuffleWriteMetrics.bytesWritten
          t.shRead += m.shuffleReadMetrics.totalBytesRead
          t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          t.spill += m.diskBytesSpilled
          t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
          val wall = info.finishTime - info.launchTime
          val busy = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime + info.gettingResultTime
          t.schedDelayMs += math.max(0L, wall - busy)
        }
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockId.name
      val size = b.memSize + b.diskSize
      synchronized {
        if (size > 0) {
          if (!blocks.containsKey(key)) cacheBlocksPut += 1
          blocks.put(key, size)
        } else blocks.remove(key)
        cachePeakBytes = math.max(cachePeakBytes, blocks.values().asScala.sum)
      }
    }
  }
}

object TraceListener {
  val Prop = "graftbench.span"
}

/** JVM-wide figures: collection time (minus the collections the
  * benchmark forces), JIT time, code cache, and the peak heap in use
  * after forced full collections. The benchmark samples the heap at
  * fixed points outside every timed region, so the reading is the live
  * set there and repeats from run to run. */
final class JvmProbe {
  import java.lang.management.ManagementFactory
  private var peakBytes = 0L
  private var forcedGcMs = 0L

  def sampleHeap(): Unit = {
    val g0 = rawGcMs
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    // Spark's context cleaner frees the blocks, broadcasts and shuffles of
    // ended jobs only after a collection has found them unreachable, and
    // asynchronously: collect again until the heap stops shrinking
    System.gc()
    var last = used
    var rounds = 0
    var shrinking = true
    while (shrinking && rounds < 20) {
      Thread.sleep(100)
      System.gc()
      val now = used
      shrinking = now < last - (1L << 20)
      last = now
      rounds += 1
    }
    forcedGcMs += rawGcMs - g0
    peakBytes = math.max(peakBytes, last)
  }
  def resetPeak(): Unit = peakBytes = 0L
  def peakHeapMb: Double = peakBytes / 1048576.0

  private def rawGcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def gcMs: Long = rawGcMs - forcedGcMs
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
    .map(_.getUsage.getUsed).sum / 1048576.0
}

/** Writes the run record (maps, sequences, strings, numbers, booleans)
  * as JSON, with the Jackson Scala module Spark itself ships. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Append-only record of what a run did, written as one JSON file. */
final class RunRecord {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val setups = mutable.ArrayBuffer.empty[Map[String, Any]]
  val info = mutable.LinkedHashMap.empty[String, Any]
  def op(m: Map[String, Any]): Unit = synchronized { ops += m }
}
