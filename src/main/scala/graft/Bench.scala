package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries against
  * SPARK_GRAFT_SF_DIR, forcing full plan execution through the noop
  * datasource sink (a bare .count() would let Catalyst prune the
  * per-row work we mean to measure). It measures and reports; whether a
  * change is a gain is judged by the repo benchmark's paired
  * parent/change runs (`benchmark/run.py`), not here.
  *
  * Two engines measure the BASELINE.md bar ("within 2x of vanilla
  * Spark") directly instead of by construction:
  *   1. graft  — [[GraftSession.builder]]: extensions (custom
  *      expressions, optimizer/physical rules, as-of strategy) plus the
  *      engine's tuned session defaults;
  *   2. vanilla — a plain `SparkSession` with NO extensions and stock
  *      Spark defaults (only master/shuffle-partition/UTC parity), i.e.
  *      the plans a stock Spark user would get.
  * Queries that need a graft-only operator (the custom as-of join
  * strategy) or the graft catalog cannot run on vanilla and are listed
  * in `vanilla_skipped`. The full artifact also carries
  * `plan_changed_by_rules` (queries whose normalized graft plan
  * differs from the normalized VANILLA plan) and `plan_delta_causes`
  * (per query, WHICH tuned conf or injected rule causes the delta,
  * found by bisecting each tuned conf to the vanilla session's actual
  * value) — so a graft-vs-vanilla time delta is attributable.
  *
  * Fairness protocol (per-query interleave): BOTH engines live as two
  * sessions over ONE SparkContext, and each query is timed on graft and
  * vanilla back-to-back, for SPARK_GRAFT_BENCH_ROUNDS rounds (default 2)
  * with the within-pair order flipped each round; the per-query minimum
  * across rounds is reported for each engine. Adjacent-in-time pairs
  * keep JIT/GC/page-cache drift out of the twin ratio. Static confs
  * (the cache serializer) are shared — vanilla gets the engine's cache
  * encoding too, so it can only understate graft's advantage.
  *
  * Output: ONE JSON line on stdout ([[stdoutLine]]; the queries it
  * omits depend on the set alone, never on walls, see [[stdoutKept]]),
  * the full artifact ([[fullArtifact]], SPARK_GRAFT_BENCH_OUT) and its
  * compact twin.
  *
  * Env knobs: SPARK_GRAFT_BENCH_SET=tpch restricts to the 22 TPC-H
  * queries (used for the sf1 scale run where only TPC-H tables are
  * generated); SPARK_GRAFT_BENCH_VANILLA=0 skips the vanilla passes;
  * SPARK_GRAFT_BENCH_ROUNDS=1 reverts to single-shot timing;
  * SPARK_GRAFT_BENCH_TELEMETRY=1 adds an untimed metrics pass.
  */
object Bench {
  val tpch: Seq[String] = Seq(
    "tpch_q01_pricing_summary", "tpch_q02_min_cost_supplier",
    "tpch_q03_topk_revenue", "tpch_q04_priority_check",
    "tpch_q05_local_supplier", "tpch_q06_forecast_revenue",
    "tpch_q07_volume_shipping", "tpch_q08_market_share",
    "tpch_q09_nation_profit", "tpch_q10_returned_items",
    "tpch_q11_important_stock", "tpch_q12_ship_priority",
    "tpch_q13_order_counts", "tpch_q14_promo_share",
    "tpch_q15_top_supplier", "tpch_q16_supplier_count",
    "tpch_q17_small_qty", "tpch_q18_large_orders",
    "tpch_q19_disjunctive", "tpch_q20_excess_stock",
    "tpch_q21_waiting_suppliers", "tpch_q22_dormant_customers")

  // headline set: full TPC-H + the biggest operator families (agg,
  // joins, window) + the data-pipeline ops + lake connector; bounded at
  // any SF.
  val headline: Seq[String] = tpch ++ Seq(
    "tpcds_style_q19_cross_nation", "tpcds_style_q53_ratio_window",
    "tpcds_style_q36_margin_rank", "tpcds_style_q2_week_pivot",
    "tpcds_style_q14_cross_channel",
    "cb_regex_extract_group", "cb_wide_sums",
    "sql_recursive_cte",
    "window_group_limit", "window_ntile_scalable", "ev_sessionize",
    // ev_asof_join is the vanilla-expressible twin of ev_asof_join_custom
    // (same semantics via merged-stream window), so the as-of family
    // contributes to the graft-vs-vanilla ratio even though the custom
    // operator itself cannot plan on a stock session
    "ev_asof_join_custom", "ev_asof_join", "ev_uniq_users_by_type_day",
    "dedup_exact", "dedup_minhash_lsh", "dedup_embedding",
    "sim_ann_brute_topk", "sim_ann_lsh",
    "text_quality", "text_fingerprint", "text_decontaminate", "docs_curation",
    "docs_epoch_shuffle",
    "text_bm25_topk", "graph_pagerank", "ev_funnel_conversion",
    "dedup_containment", "sim_ann_pq", "docs_pipeline_e2e",
    "docs_lm_quality_buckets", "dedup_semantic", "sim_margin_mining",
    "sim_margin_mining_ann",
    "text_quality_classifier",
    "graph_triangle_count", "text_bpe_merges", "ev_pref_bradley_terry",
    "dedup_substring_windows",
    "graph_label_propagation", "text_pmi_collocations", "ev_markov_transitions",
    "graph_connected_components",
    "dedup_url", "sim_knn_classify", "text_greedy_tokenize",
    "lake_time_travel", "lake_merge", "lake_cdf_scan", "lake_zorder_skip",
    "lake_branch_wap", "lake_spj", "lake_spj_skew")

  /** the data-pipeline operator set for scaling runs (ScaleUp's
    * perturbed 10x documents/embeddings/events): everything that must
    * scale near-linearly in corpus size. The two documented O(n^2)
    * correctness baselines (`dedup_embedding`, `dedup_ngram_jaccard`)
    * are excluded by design — their scalable counterparts
    * (`sim_ann_lsh`/`sim_ann_ivf`, `dedup_minhash_lsh`) are in. */
  val pipeline: Seq[String] = Seq(
    "dedup_exact", "dedup_keyed", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_cluster_groups",
    "text_tokens", "text_quality", "text_langid", "text_fingerprint",
    "text_decontaminate", "docs_curation", "docs_epoch_shuffle",
    "docs_mixture_quota",
    "ev_sessionize", "ev_uniq_users_by_type_day", "ev_asof_join_custom",
    "ev_funnel_conversion", "text_bm25_topk", "graph_pagerank",
    "docs_pipeline_e2e", "docs_lm_quality_buckets",
    "text_quality_classifier",
    "sim_ann_brute_topk", "sim_ann_lsh", "sim_ann_ivf",
    // the embedding dedup family and ANN margin mining re-entered the
    // scaling set in round 12: the ScaleUp rotation fix ended the
    // replica degeneracy and all three complete sub-quadratically at
    // 100x (previously structurally degenerate / O(n^2)-only)
    "dedup_embedding_lsh", "dedup_semantic", "sim_margin_mining_ann",
    "dedup_url", "sim_knn_classify", "text_greedy_tokenize",
    "graph_triangle_count", "text_bpe_merges", "dedup_substring_windows",
    "graph_label_propagation", "text_pmi_collocations",
    "ev_markov_transitions", "ev_rolling_drift",
    "graph_connected_components")

  /** needs the graft as-of planner strategy or the graft lake catalog —
    * cannot plan on a stock session */
  val graftOnly: Set[String] = Set(
    "ev_asof_join_custom", "lake_time_travel", "lake_merge", "lake_cdf_scan",
    "lake_zorder_skip", "lake_branch_wap", "lake_spj", "lake_spj_skew")

  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    val qs = SparkEntry.queries
    // one cheap query per input family (lineitem, documents, embeddings,
    // events) primes scan/shuffle/codegen paths the headline shares
    Seq("tpch_q06_forecast_revenue", "text_tokens", "sim_quantize_int8",
        "ev_top_users").foreach { w =>
      try qs(w)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    spark.catalog.clearCache()
  }

  private def timeOne(spark: SparkSession, sfDir: String, name: String): (Double, Boolean) = {
    val qs = SparkEntry.queries
    val t0 = System.nanoTime()
    val ok =
      try { qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); false }
    val dt = (System.nanoTime() - t0) / 1e9
    // release intra-query caches OUTSIDE the timer: a query's persist()
    // is its own cost (timed above), but leaked storage blocks from
    // one query must not squeeze executor memory for the next
    spark.catalog.clearCache()
    (dt, ok)
  }

  /** Every conf the graft session tunes away from stock defaults, plus
    * the gates of the default-on injected rules — the bisection
    * candidates for plan-delta attribution. */
  private val tunedConfKeys: Seq[String] = Seq(
    "spark.sql.join.preferSortMergeJoin",
    "spark.sql.parquet.aggregatePushdown",
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.optimizer.nestedSchemaPruning.enabled",
    "spark.graft.mergeTwoPhaseAgg.enabled")

  /** Truthful plan-delta attribution: each query's normalized
    * graft-session plan is diffed against the normalized
    * VANILLA-session plan (both sessions exist — no proxy A/B). For a
    * differing query, every tuned conf is bisected: flipped in the
    * graft session to the vanilla session's ACTUAL value; the confs
    * whose flip changes the graft plan are the causes. A delta no
    * tuned conf explains is attributed to the always-on injected
    * rules ("injected-rules"). Returns (query, causes) for every
    * query whose plans differ. */
  private def planAudit(graft: SparkSession, vanilla: Option[SparkSession],
      sfDir: String, names: Seq[String]): Seq[(String, Seq[String])] = {
    val qs = SparkEntry.queries
    // normalize expr ids, plan ids AND lambda-variable counters — the
    // lambda counter is session-global, so two plan builds of the same
    // query differ in `lambda x_4` vs `lambda x_8` (a false "changed")
    def normPlan(s: SparkSession, name: String): String =
      qs(name)(s, sfDir).queryExecution.executedPlan.toString
        .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
        .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_")
    // the vanilla session has no graft rules: conceptually the rule
    // gate is off there
    def vanillaValue(v: SparkSession, key: String): String =
      if (key.startsWith("spark.graft.")) "false"
      else v.conf.getOption(key).getOrElse("")
    names.filter(qs.contains).filterNot(graftOnly.contains).flatMap { name =>
      try {
        val g = normPlan(graft, name)
        vanilla match {
          case None => None
          case Some(v) if normPlan(v, name) == g => None
          case Some(v) =>
            val causes = tunedConfKeys.filter { key =>
              val orig = graft.conf.getOption(key)
              graft.conf.set(key, vanillaValue(v, key))
              val flipped = try normPlan(graft, name)
              finally orig.fold(graft.conf.unset(key))(graft.conf.set(key, _))
              flipped != g
            }
            // flip ALL tuned confs at once: if the plans still differ,
            // the residual is the injected optimizer/physical rules
            val origs = tunedConfKeys.map(k => k -> graft.conf.getOption(k))
            tunedConfKeys.foreach(k => graft.conf.set(k, vanillaValue(v, k)))
            val allFlipped = try normPlan(graft, name)
            finally origs.foreach { case (k, o) =>
              o.fold(graft.conf.unset(k))(graft.conf.set(k, _)) }
            val residual =
              if (allFlipped != normPlan(v, name)) Seq("injected-rules") else Nil
            Some(name -> (causes ++ residual))
        }
      } catch { case _: Throwable => None }
    }
  }

  /** Byte budget of the stdout line: its reader keeps only the last
    * ~2000 bytes of stdout, and sbt's trailing "[success] Total time…"
    * line spends ~80 of them. */
  val stdoutBudget = 1850

  /** The widest a wall prints on the stdout line (2 dp). The line is
    * sized as if every wall printed this wide, so any run whose walls
    * stay under 10 000 s fits the budget. */
  val widestWall = 9999.99

  /** One run's walls in seconds. `names` is the set in its own order;
    * `graft` holds the queries graft ran, `vanilla` those the stock
    * session ran (None when the vanilla pass is off). */
  case class Run(set: String, sf: String, names: Seq[String],
      graft: Map[String, Double], vanilla: Option[Map[String, Double]],
      vanillaSkipped: Seq[String], graftFailed: Seq[String]) {
    // the ratio's numerator AND denominator require BOTH engines to have
    // succeeded on a query
    val comparable: Seq[String] =
      names.filter(n => graft.contains(n) && vanilla.exists(_.contains(n)))
    def figures: Figures = {
      val vTotal = vanilla.fold(0.0)(v => comparable.map(v).sum)
      Figures(names.flatMap(graft.get).sum, vTotal,
        if (vTotal > 0) comparable.map(graft).sum / vTotal else 0.0,
        comparable.size, vanillaSkipped.size, graftFailed.size)
    }
  }

  /** The scalar figures of the compact object. */
  case class Figures(total: Double, vanillaTotal: Double, ratio: Double,
      comparableN: Int, vanillaSkippedN: Int, graftFailedN: Int)

  // exact decimals: the default node factory strips trailing zeros
  // (0.70 -> 0.7, 100.00 -> 1E+2)
  private val json = new ObjectMapper()
    .setNodeFactory(JsonNodeFactory.withExactBigDecimals(true))

  private def dp(v: Double, scale: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(scale, java.math.RoundingMode.HALF_UP)

  private def walls(o: ObjectNode, field: String, ws: Seq[(String, Double)], scale: Int): Unit =
    { val w = o.putObject(field); ws.foreach { case (n, v) => w.put(n, dp(v, scale)) } }

  private def list(o: ObjectNode, field: String, names: Seq[String]): Unit =
    { val a = o.putArray(field); names.foreach(n => a.add(n)) }

  /** The compact object: the contract fields a stdout reader parses, with
    * the walls of `queries` only (2 dp unless `scale` says otherwise). */
  private def compact(set: String, sf: String, queries: Seq[(String, Double)],
      omittedN: Int, f: Figures, withVanilla: Boolean, scale: Int = 2): ObjectNode = {
    val o = json.createObjectNode()
    o.put("metric", "total").put("value", dp(f.total, scale)).put("unit", "sec")
    walls(o, "queries", queries, scale)
    o.put("queries_omitted", omittedN)
    if (withVanilla)
      o.put("vanilla_total", dp(f.vanillaTotal, 3))
        .put("graft_vs_vanilla_ratio", dp(f.ratio, 3))
        .put("comparable_n", f.comparableN).put("vanilla_skipped_n", f.vanillaSkippedN)
    o.put("graft_failed_n", f.graftFailedN)
    o.put("set", set).put("detail", "BENCH_FULL.json").put("sf", sf)
  }

  private def compact(r: Run, shown: Seq[String], omittedN: Int, scale: Int): ObjectNode =
    compact(r.set, r.sf, shown.filter(r.graft.contains).map(n => n -> r.graft(n)),
      omittedN, r.figures, r.vanilla.nonEmpty, scale)

  /** The names the stdout line shows: the longest prefix of the set's
    * own order whose line fits [[stdoutBudget]] with every figure at
    * its widest. It reads only the names and the line's own set and sf
    * labels (no wall, no file), so two runs of one set at one SF show
    * and omit the same names; the rest are dropped from the set's end. */
  def stdoutKept(set: String, sf: String, names: Seq[String]): Seq[String] = {
    val n = names.size
    val widest = Figures(widestWall * n, widestWall * n, 999.999, n, n, n)
    def fits(k: Int): Boolean =
      json.writeValueAsBytes(compact(set, sf, names.take(k).map(_ -> widestWall),
        n - k, widest, withVanilla = true)).length <= stdoutBudget
    names.take((n to 0 by -1).find(fits).getOrElse(0))
  }

  /** The one stdout line: the compact object over the `kept` names. */
  def stdoutLine(r: Run, kept: Seq[String]): String =
    json.writeValueAsString(compact(r, kept, r.names.size - kept.size, scale = 2))

  /** The compact twin of the full artifact: every wall, no budget. */
  def compactArtifact(r: Run): String =
    json.writeValueAsString(compact(r, r.names, 0, scale = 2))

  /** The full artifact: the compact fields at 3 dp plus the vanilla
    * walls, the skipped, failed and stdout-omitted names, the plan audit
    * and the telemetry. */
  def fullArtifact(r: Run, kept: Seq[String], deltas: Seq[(String, Seq[String])],
      telem: Seq[(String, Map[String, Long])]): String = {
    val o = compact(r, r.names, r.names.size - kept.size, scale = 3)
    o.remove("detail")
    r.vanilla.foreach { v =>
      walls(o, "vanilla", r.comparable.map(n => n -> v(n)), 3)
      list(o, "vanilla_skipped", r.vanillaSkipped)
    }
    list(o, "graft_failed", r.graftFailed)
    list(o, "stdout_omitted", r.names.filterNot(kept.toSet))
    // queries with ANY plan delta vs vanilla, and per query its causes
    list(o, "plan_changed_by_rules", deltas.map(_._1))
    val causes = o.putObject("plan_delta_causes")
    deltas.foreach { case (n, cs) => list(causes, n, cs) }
    if (telem.nonEmpty) {
      val t = o.putObject("telemetry")
      telem.foreach { case (n, m) =>
        t.putObject(n).put("output_rows", m("output_rows"))
          .put("shuffle_records", m("shuffle_records_written"))
          .put("shuffle_mb", dp(m("shuffle_bytes_written") / 1e6, 2))
          .put("spill_mb", dp(m("spill_bytes") / 1e6, 2))
      }
    }
    json.writeValueAsString(o)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val setName = sys.env.getOrElse("SPARK_GRAFT_BENCH_SET", "full")
    val set = setName match {
      case "tpch" => tpch
      case "pipeline" => pipeline
      // every oracled query: the per-query graft-vs-vanilla parity
      // sweep; queries a stock session cannot run land in vanilla_skipped
      case "corpus" => SparkEntry.queries.keys.toSeq.sorted
      case s if s.startsWith("only:") => // local iteration aid
        s.stripPrefix("only:").split(",").toSeq.filter(_.nonEmpty)
      case _ => headline
    }
    // SPARK_GRAFT_BENCH_ENGINE=vanilla: time the STOCK session only — the
    // vanilla column for scale protocols where two sessions in one JVM
    // exceed the memory one engine fits in. No interleaved vanilla pass.
    val engineVanilla = sys.env.get("SPARK_GRAFT_BENCH_ENGINE").contains("vanilla")
    val withVanilla = !engineVanilla && sys.env.getOrElse("SPARK_GRAFT_BENCH_VANILLA", "1") != "0"
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "2").toInt

    def freshSession(): Unit =
      { SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }

    // One SparkContext, two sessions. The vanilla builder creates the
    // context with only neutral/static confs (NOT spark.sql.extensions,
    // which would leak the graft extensions into the vanilla session).
    // SPARK_GRAFT_MASTER=local-cluster[n,c,mem] benches across real
    // executor JVMs; both sessions share the one (cluster) context
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val vanilla = GraftSession.withClusterConf(SparkSession.builder(), master)
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.cache.serializer",
        classOf[sources.GraftCachedBatchSerializer].getName)
      .config("spark.sql.maxPlanStringLength", (8 * 1024 * 1024).toString)
      .getOrCreate()
    vanilla.sparkContext.setLogLevel("WARN")
    freshSession()
    // the context exists, so only the builder's session-scoped tuned
    // defaults apply; the extensions are injected per session
    val graft = if (engineVanilla) vanilla
      else GraftSession.builder(master, cpus.toInt)
        .withExtensions(new GraftExtensions()(_))
        .getOrCreate()
    // experiment knob: comma-separated k=v session-conf overrides for the
    // GRAFT session only (time-bisecting a plan-delta cause found by the
    // audit, e.g. SPARK_GRAFT_BENCH_CONF=spark.sql.join.preferSortMergeJoin=true)
    sys.env.get("SPARK_GRAFT_BENCH_CONF").foreach(_.split(',').filter(_.contains('='))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); graft.conf.set(k, v) })

    val qs = SparkEntry.queries
    val names = set.filter(qs.contains)
    var gSamples = Map.empty[String, List[Double]].withDefaultValue(Nil)
    var vSamples = Map.empty[String, List[Double]].withDefaultValue(Nil)
    // a failed run's near-zero elapsed time must not enter either column:
    // failures are dropped and listed (vanilla_skipped / graft_failed)
    val vanillaFailed = scala.collection.mutable.Set[String]()
    val graftFailed = scala.collection.mutable.Set[String]()
    warmup(graft, sfDir)
    if (withVanilla) warmup(vanilla, sfDir)
    def timePair(name: String, graftFirst: Boolean): Unit = {
      def g(): Unit = if (!graftFailed(name)) {
        val (dt, ok) = timeOne(graft, sfDir, name)
        if (ok) gSamples += (name -> (dt :: gSamples(name)))
        else { graftFailed += name; gSamples -= name }
      }
      def v(): Unit = if (withVanilla && !graftOnly.contains(name) && !vanillaFailed(name)) {
        val (dt, ok) = timeOne(vanilla, sfDir, name)
        if (ok) vSamples += (name -> (dt :: vSamples(name)))
        else { vanillaFailed += name; vSamples -= name }
      }
      if (graftFirst) { g(); v() } else { v(); g() }
    }
    for (round <- 1 to rounds) {
      // flip within-pair order each round; min-of-rounds absorbs the
      // residual first-in-pair page-cache effect
      for (name <- names) timePair(name, graftFirst = round % 2 == 1)
    }
    // Optional per-query runtime telemetry (SPARK_GRAFT_BENCH_TELEMETRY=1):
    // one extra UNTIMED execution per query on the graft session, reading
    // the spill/shuffle volumes from the populated SQLMetrics.
    val telemetry = sys.env.getOrElse("SPARK_GRAFT_BENCH_TELEMETRY", "0") == "1"
    val telem: Seq[(String, Map[String, Long])] = if (telemetry) names.flatMap { n =>
      try {
        val df = qs(n)(graft, sfDir)
        df.queryExecution.toRdd.foreach(_ => ())
        val m = PlanHealth.runtimeSummary(df.queryExecution)
        graft.catalog.clearCache()
        Some(n -> m)
      } catch { case _: Throwable => graft.catalog.clearCache(); None }
    } else Nil
    val deltas: Seq[(String, Seq[String])] =
      planAudit(graft, if (withVanilla) Some(vanilla) else None, sfDir, set)
    graft.stop(); freshSession()

    val run = Run(setName, sfDir, names,
      gSamples.map { case (k, v) => k -> v.min },
      if (withVanilla) Some(vSamples.map { case (k, v) => k -> v.min }) else None,
      names.filter(n => graftOnly.contains(n) || vanillaFailed(n)),
      graftFailed.toSeq.sorted)
    val kept = stdoutKept(setName, sfDir, names)
    def write(path: String, body: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(path), (body + "\n").getBytes("UTF-8"))
    // SPARK_GRAFT_BENCH_OUT names the full artifact (default
    // BENCH_FULL.json); the compact twin holds every wall (no budget)
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    write(out.getOrElse("BENCH_FULL.json"), fullArtifact(run, kept, deltas, telem))
    write(out.map(_.replace(".json", "_COMPACT.json")).getOrElse("BENCH_COMPACT.json"),
      compactArtifact(run))
    println(stdoutLine(run, kept))
  }
}
