package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}

import graft.{GraftExtensions, GraftSession, SparkEntry, Tables}

/** Benchmark harness: one JVM, one closed-loop client. It reaches the
  * engine only through its public surface (session builders,
  * `SparkEntry.queries`, `Tables.load`, SQL against the `lake` catalog)
  * and records raw samples into `<out>/run.json`; `run.py` turns them
  * into metrics and checks the dumped results.
  *
  * Usage: `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR --cores C` */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, cores: Int)

  /** set-ups per run; `setup_s` is their median */
  val SetupReps = 3

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("out"), m("cores").toInt)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val workload: Workload = conf.workload match {
      case "pipeline_sf01" => new Battery(conf, Workloads.pipeline, Workloads.pipelineGraftOnly)
      case "lake_rw" => new LakeRw(conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ctx = new Ctx(conf)
    val code = try { ctx.run(workload); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    finally ctx.stop()
    sys.exit(code)
  }
}

/** The pipeline workload's queries: a pass must fit the run's measuring
  * time, so this is a fixed subset (see benchmark/README.md). */
object Workloads {
  /** the two heaviest construction-time job loops and a floored
    * content-table scan */
  val pipeline: Seq[String] = Seq("graph_connected_components", "ev_pref_bradley_terry",
    "text_decontaminate")
  /** pipeline queries too long to also run on the vanilla twin */
  val pipelineGraftOnly: Set[String] = Set("graph_connected_components", "ev_pref_bradley_terry")
}

/** The two sessions of a run over one SparkContext: `graft` carries the
  * engine's extensions and tuned confs, `vanilla` is stock Spark with
  * only master, shuffle partitions and time zone in common. */
final case class Sessions(graft: SparkSession, vanilla: SparkSession)

trait Workload {
  /** input tables loaded and registered during set-up */
  def tables: Seq[String]
  /** warm-up run at the end of every set-up */
  def warmup(ctx: Ctx, s: Sessions): Unit
  /** the measured closed loop */
  def measure(ctx: Ctx, s: Sessions, traced: Boolean, seconds: Double): Unit
  /** end-of-run checks, outside the measured loop */
  def finish(ctx: Ctx, s: Sessions): Unit = ()
  /** workload facts for the run record */
  def info: Map[String, Any] = Map.empty
}

final class Ctx(val conf: Main.Conf) {
  val tracer = new Tracer(conf.trace)
  val record = new RunRecord
  val jvm = new JvmProbe
  var listener: Option[TraceListener] = None
  private var sessions: Option[Sessions] = None
  val master = s"local[${conf.cores}]"

  def sc = sessions.get.graft.sparkContext

  /** Build both sessions. The context is created by the stock builder so
    * that the graft extensions reach the graft session only. */
  def buildSessions(): Sessions = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val vanilla = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.cache.serializer", classOf[graft.sources.GraftCachedBatchSerializer].getName)
      .config("spark.sql.maxPlanStringLength", (8 * 1024 * 1024).toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // keep the status store's history short, so the live heap after a
      // collection reflects the engine's state rather than how far the
      // store's asynchronous trimming has got
      .config("spark.ui.retainedJobs", "50").config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    vanilla.sparkContext.setLogLevel("ERROR")
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val graftS = GraftSession.builder(master, conf.cores)
      .withExtensions(new GraftExtensions()(_))
      .getOrCreate()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    Sessions(graftS, vanilla)
  }

  def stopSessions(): Unit = sessions.foreach { s =>
    listener.foreach(l => s.graft.sparkContext.removeSparkListener(l))
    listener = None
    s.graft.sparkContext.stop()
    sessions = None
  }

  /** One set-up: sessions, table loads and registration, warm-up. */
  def setupOnce(w: Workload, rep: Int): Sessions = {
    stopSessions()
    val t0 = System.nanoTime()
    val s = tracer.span("GraftSession", "session") { buildSessions() }
    sessions = Some(s)
    val t1 = System.nanoTime()
    val loads = mutable.LinkedHashMap.empty[String, Any]
    tracer.span("Tables", "tables") {
      w.tables.foreach { t =>
        val l0 = System.nanoTime()
        val df = tracer.span("Tables", s"load $t") { Tables.load(s.graft, conf.data, t) }
        val ms = (System.nanoTime() - l0) / 1e6
        df.createOrReplaceTempView(t)
        Tables.load(s.vanilla, conf.data, t).createOrReplaceTempView(t)
        loads(t) = Map("ms" -> ms) ++
          (if (conf.trace) Map("partitions" -> df.rdd.getNumPartitions) else Map.empty)
      }
    }
    val t2 = System.nanoTime()
    tracer.span("GraftSession", "warmup") { w.warmup(this, s) }
    s.graft.catalog.clearCache()
    val t3 = System.nanoTime()
    record.setups += Map("rep" -> rep, "session_ms" -> (t1 - t0) / 1e6,
      "tables_ms" -> (t2 - t1) / 1e6, "warmup_ms" -> (t3 - t2) / 1e6,
      "setup_s" -> (t3 - t0) / 1e9, "loads" -> loads)
    s
  }

  def attachListener(s: Sessions): TraceListener = {
    val l = new TraceListener(tracer)
    s.graft.sparkContext.addSparkListener(l)
    listener = Some(l)
    l
  }

  /** Runs `body` in a span and tags every Spark job it starts with the
    * span id (traced runs only). */
  def phase[T](layer: String, name: String, attrs: => Map[String, Any] = Map.empty)(body: => T): T =
    if (!tracer.enabled || listener.isEmpty) body
    else {
      val prev = sc.getLocalProperty(TraceListener.Prop)
      try tracer.span(layer, name, attrs,
        onOpen = id => sc.setLocalProperty(TraceListener.Prop, id.toString))(body)
      finally sc.setLocalProperty(TraceListener.Prop, prev)
    }

  def run(w: Workload): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var s = setupOnce(w, 0)
    val readyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    for (rep <- 1 until Main.SetupReps) s = setupOnce(w, rep)
    val jitAtReady = jvm.jitMs
    val gc0 = jvm.gcMs
    jvm.resetPeak()
    val m0 = System.nanoTime()
    if (conf.trace) {
      // tracing off for a quarter, on for half, off for the last quarter:
      // the walls give the tracing overhead within one JVM, and the
      // untraced side is not only the JVM's colder first runs
      tracer.enabled = false
      w.measure(this, s, traced = false, conf.seconds / 4)
      tracer.enabled = true
      val l = attachListener(s)
      w.measure(this, s, traced = true, conf.seconds / 2)
      org.apache.spark.BusDrain.drain(s.graft.sparkContext)
      s.graft.sparkContext.removeSparkListener(l)
      tracer.enabled = false
      w.measure(this, s, traced = false, conf.seconds / 4)
    } else w.measure(this, s, traced = false, conf.seconds)
    val measureS = (System.nanoTime() - m0) / 1e9
    w.finish(this, s)
    val rt = Runtime.getRuntime
    record.info ++= Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "seconds" -> conf.seconds,
      "trace" -> conf.trace, "cores" -> conf.cores, "data" -> conf.data,
      "heap_max_mb" -> rt.maxMemory() / 1048576L,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jvm_start_to_ready_s" -> readyS,
      "measure_s" -> measureS,
      "gc_ms" -> (jvm.gcMs - gc0), "jit_ms_at_ready" -> jitAtReady, "jit_ms" -> jvm.jitMs,
      "code_cache_mb" -> jvm.codeCacheMb,
      "peak_heap_mb" -> jvm.peakHeapMb) ++ w.info
    listener.foreach { l =>
      record.info("cache_blocks") = l.cacheBlocksPut
      record.info("cache_peak_bytes") = l.cachePeakBytes
    }
    val spans = tracer.all.map(sp => Map("id" -> sp.id, "parent" -> sp.parent,
      "layer" -> sp.layer, "name" -> sp.name, "start" -> sp.startMs, "end" -> sp.endMs,
      "attrs" -> sp.attrs))
    val work = listener.map(_.allTotals.map { case (k, v) => k.toString -> v.toMap }).getOrElse(Map.empty)
    val out = Map("info" -> record.info, "setups" -> record.setups, "ops" -> record.ops,
      "spans" -> spans, "work" -> work)
    Files.writeString(Paths.get(conf.out, "run.json"), Json(out))
  }

  def stop(): Unit = stopSessions()
}

/** Query battery: whole passes (one, more while they fit the measuring
  * time) over a query list in a seeded order. A query listed in
  * `graftOnly`, or one the stock session cannot run, runs
  * `GraftOnlyRuns` times back to back on graft; any other runs as
  * `TwinPairs` adjacent graft/vanilla pairs in alternating order. The heap is sampled
  * after each query's runs. The first graft result of each query is
  * dumped for the output check. */
final class Battery(conf: Main.Conf, names: Seq[String], graftOnly: Set[String]) extends Workload {
  private val qs = SparkEntry.queries
  private val vanillaFailed = mutable.Set.empty[String]
  private val dumped = mutable.Set.empty[String]
  private var pass = 0
  private var pairs = 0

  override def tables: Seq[String] =
    Tables.all.filter(t => new File(s"${conf.data}/$t.parquet").exists())

  override def warmup(ctx: Ctx, s: Sessions): Unit = {
    // a light query over the table the twin pairs read, on both engines,
    // so neither side of a pair pays the table's first touch
    for (sp <- Seq(s.graft, s.vanilla)) qs("text_tokens")(sp, conf.data).collect()
  }

  override def info: Map[String, Any] = Map(
    "queries" -> names, "vanilla_failed" -> vanillaFailed.toSeq.sorted,
    "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)

  override def measure(ctx: Ctx, s: Sessions, traced: Boolean, seconds: Double): Unit = {
    val start = System.nanoTime()
    var lastPass = 0.0
    var first = true
    while (first || (System.nanoTime() - start) / 1e9 + lastPass <= seconds) {
      first = false
      val p0 = System.nanoTime()
      val order = new Random(conf.seed * 1000003L + pass).shuffle(names)
      for ((q, i) <- order.zipWithIndex) {
        if (graftOnly(q) || vanillaFailed(q))
          Seq.fill(Battery.GraftOnlyRuns)(runOne(ctx, s, "graft", q, traced, pair = -1))
        else {
          // adjacent pairs in alternating order (g v v g g v ..., or
          // v g g v v g ..., alternating along the pass)
          for (k <- 0 until Battery.TwinPairs) {
            val engines = if ((i + pass + k) % 2 == 0) Seq("graft", "vanilla") else Seq("vanilla", "graft")
            engines.foreach(e => if (e == "graft" || !vanillaFailed(q)) runOne(ctx, s, e, q, traced, pairs))
            pairs += 1
          }
        }
        ctx.jvm.sampleHeap()
      }
      lastPass = (System.nanoTime() - p0) / 1e9
      pass += 1
    }
  }

  /** `pair` numbers the graft/vanilla pair the run belongs to, -1 for none */
  private def runOne(ctx: Ctx, s: Sessions, engine: String, q: String, traced: Boolean,
      pair: Int): Unit = {
    val spark = if (engine == "graft") s.graft else s.vanilla
    val tr = ctx.tracer
    val extra = mutable.Map.empty[String, Any]
    var rows: Array[Row] = null
    var df: DataFrame = null
    var error: String = null
    val t0 = System.nanoTime()
    def body(): Unit = {
      df = ctx.phase("operators", "construct") { qs(q)(spark, conf.data) }
      val qe = df.queryExecution
      val initial = ctx.phase("plans", "plan") { qe.executedPlan }
      if (traced) extra("plan_norm") = Battery.normPlan(initial)
      rows = ctx.phase("execution", "execute") { df.collect() }
    }
    tr.span("benchmark", s"$engine $q", Map("engine" -> engine, "query" -> q, "pass" -> pass)) {
      try body() catch { case e: Exception => error = e.toString }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (error != null && engine == "vanilla") vanillaFailed += q
    if (traced && df != null && error == null) extra ++= Battery.planStats(df)
    if (engine == "graft" && error == null && !dumped(q) && !traced) {
      dumped += q
      ctx.phase("benchmark", "check") { Battery.dump(s.vanilla, df, rows, s"${conf.out}/results/$q") }
    }
    spark.catalog.clearCache()
    ctx.record.op(Map("engine" -> engine, "name" -> q, "kind" -> q, "class" -> "query",
      "pass" -> pass, "pair" -> pair, "wall_s" -> wall, "ok" -> (error == null), "error" -> error,
      "rows" -> (if (rows == null) -1 else rows.length), "traced" -> traced) ++ extra)
  }
}

object Battery {
  /** runs of a graft-only query per pass; its wall is the fastest */
  val GraftOnlyRuns = 2
  /** graft/vanilla pairs of a twinned query per pass. `graft_vs_vanilla`
    * takes the median of the pairs' ratios; with two pairs it spread
    * 0.1-0.19 (IQR/median) over ten seeds. */
  val TwinPairs = 6

  /** plan string with expression, plan and lambda ids removed */
  def normPlan(p: SparkPlan): String = p.toString
    .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_")

  /** every node of the final plan, through AQE wrappers, query stages
    * and subqueries */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def planStats(df: DataFrame): Map[String, Any] = {
    val qe = df.queryExecution
    val ns = nodes(qe.executedPlan)
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> Map("start" -> v.startTimeMs, "end" -> v.endTimeMs) }
    Map("phases" -> phases,
      "exchanges" -> ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcasts" -> ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      "smj" -> ns.count(_.isInstanceOf[SortMergeJoinExec]),
      "shj" -> ns.count(_.isInstanceOf[ShuffledHashJoinExec]),
      "aqe_stages" -> ns.count(_.isInstanceOf[QueryStageExec]))
  }

  /** writes collected rows as one parquet file for the DuckDB check */
  def dump(writer: SparkSession, df: DataFrame, rows: Array[Row], path: String): Unit =
    writer.createDataFrame(rows.toSeq.asJava, df.schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
}
