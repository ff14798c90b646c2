package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Quantitative gates for the rows-only queries (the ones the DuckDB
  * oracle cannot hash-check because their semantics are engine-specific:
  * approximate sketches, LSH/IVF recall < 1, seeded sampling, native
  * hashes). Each gate measures the query's CONTRACT as a number against
  * the same floors the specs pin (AnnRecallSpec, PropertySpec,
  * SketchSpec, QueryLibrarySpec), so the driver's correctness artifact
  * carries measured values, not just "rows-only, trust the specs".
  * Verify writes the result as `recall_gates.json` next to the dumps.
  */
object QualityGates {

  /** one measured gate: pass is metric-specific (recall ≥ floor,
    * error ≤ bound, fraction within band, determinism == 1) */
  final case class Gate(query: String, metric: String, value: Double,
      bound: Double, pass: Boolean)

  /** CodegenFallback classes ALLOWED in oracled-query plans, each with
    * the reason it stays interpreted. FallbackGateSpec scans every
    * query and FAILS on any class not listed — the wave-9 lesson is
    * that an accidental interpreted lambda in a corpus-scale hot loop
    * is invisible at oracle SF and dominant at 100x (measured:
    * sim_ann_pq 43.3→13.7 s after conversion), so new fallback classes
    * must be an explicit decision, not an accident.
    *
    * Groups:
    *  - TypedImperativeAggregate / object aggregates: evaluated once
    *    per GROUP through the object-agg path, not per element — no
    *    per-row interpreted loop to convert (CollectList…TopKFreq).
    *  - Lambdas that `graft.functions.CompiledLambdas` leaves
    *    interpreted: `ZipWith` (two-array lambdas are outside the
    *    compiled set; its uses loop over ≤ 64 dims, in
    *    sim_standardize_dims and sim_ann_pq's codebook distance),
    *    `ArraySort` (comparator lambdas; array_sort over a group's
    *    collect_list, once per group), and their `LambdaFunction` /
    *    `NamedLambdaVariable` machinery. The five functions the rule
    *    compiles are NOT listed: see [[fallbackAllowed]].
    *  - graft's own CodegenFallback expressions: bounded driver-fed
    *    state where codegen bought nothing measurable (MinHashSignature
    *    runs once per distinct set row; RefHash is a spec oracle).
    */
  val fallbackAllowlist: Set[String] = Set(
    // object/imperative aggregates (once-per-group, not per-row)
    "CollectList", "CollectSet", "CollectFrequentItems", "Percentile",
    "ApproximatePercentile", "HyperLogLogPlusPlus", "HllSketchAgg",
    "HllSketchEstimate", "HllUnionAgg", "HistogramNumeric", "Mode",
    "ListAgg", "BitmapOrAgg", "PivotFirst",
    "ApproxTopK", "ApproxTopKAccumulate", "ApproxTopKEstimate",
    "TopKFreq", "TopKByScore",
    // lambdas left interpreted, and their machinery
    "ZipWith", "ArraySort", "LambdaFunction", "NamedLambdaVariable",
    // parser-bound (schema inference path, one row in fn_json)
    "JsonToStructs",
    // graft expressions with bounded or once-per-set evaluation
    "MinHashSignature", "RefHash")

  /** Whether an interpreted expression may appear in an oracled-query
    * plan: its class is allowlisted, or it is one of the functions
    * `CompiledLambdas` compiles, left interpreted because a lambda body
    * holds an interpreted expression (gated in its own right). */
  def fallbackAllowed(e: Expression): Boolean =
    fallbackAllowlist(e.getClass.getSimpleName.stripSuffix("$")) ||
      graft.functions.CompiledLambdas.heldBack(e)

  private def topSets(df: DataFrame, k: Int): Map[Long, Set[Long]] =
    df.filter(col("rnk") <= k).select(col("qid"), col("cid")).collect()
      .groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  private def recallAt3(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double = {
    val per = exact.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty).count(ex.contains).toDouble / ex.size
    }
    per.sum / per.size
  }

  private def withConf[A](spark: SparkSession, key: String, value: String)(f: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def measure(spark: SparkSession, sfDir: String): Seq[Gate] = {
    val qs = graft.SparkEntry.queries

    // ---- ANN recall@3 vs the exact brute-force ranking ----------------
    // measured from the RAW top-k results (the exported sim_ann_*
    // queries now emit oracled gate summaries; rawAnn keeps the
    // neighbor lists)
    val rawAnn = graft.operators.SimilarityOps.rawAnn
    val exact3 = topSets(qs("sim_ann_brute_topk")(spark, sfDir), 3)
    // LSH at the same 4-bit operating point AnnRecallSpec pins (this
    // corpus has weak angular structure; 8-bit buckets are near-empty)
    val lshRecall = withConf(spark, graft.GraftConf.SimLshBits.key, "4") {
      recallAt3(topSets(rawAnn("sim_ann_lsh")(spark, sfDir), 3), exact3)
    }
    val ivfRecall = recallAt3(topSets(rawAnn("sim_ann_ivf")(spark, sfDir), 3), exact3)
    val ivfKmeansRecall = recallAt3(topSets(rawAnn("sim_ann_ivf_kmeans")(spark, sfDir), 3), exact3)
    val pqRecall = recallAt3(topSets(rawAnn("sim_ann_pq")(spark, sfDir), 3), exact3)

    // ---- SimHash recall vs the exact-banding MinHash ground truth -----
    val lshPairs = qs("dedup_minhash_lsh")(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
    val simhashPairs = graft.operators.DedupOps.rawPairs("dedup_simhash")(spark, sfDir)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical word-sets (j = 1.0) can NEVER be missed (PropertySpec's
    // pigeonhole guarantee): identical sets ⇒ identical signature ⇒
    // identical bands ⇒ hamming 0 — floor is exactly 1.0
    val identical = lshPairs.filter(_.getDouble(2) >= 0.999999)
    val identicalRecall =
      if (identical.isEmpty) 1.0
      else identical.count(r => simhashPairs((r.getLong(0), r.getLong(1)))).toDouble / identical.length
    // informational: recall over ALL j ≥ 0.9 near-dup pairs (SimHash's
    // 64-bit signature is coarser than 48-perm MinHash — no floor, the
    // number is carried so the artifact shows the operating point)
    val nearDupRecall =
      if (lshPairs.isEmpty) 1.0
      else lshPairs.count(r => simhashPairs((r.getLong(0), r.getLong(1)))).toDouble / lshPairs.length

    // ---- seeded Bernoulli sample: fraction within binomial band -------
    val rawApprox = graft.operators.RelationalOps.rawApprox
    val sampled = rawApprox("sample_bernoulli")(spark, sfDir)
      .agg(sum(col("n"))).head.getLong(0)
    val total = graft.Tables.load(spark, sfDir, "orders").count()
    val frac = sampled.toDouble / total
    // rerun determinism of the fixed seed (QueryLibrarySpec's contract)
    val rerunSame = rawApprox("sample_bernoulli")(spark, sfDir).collect().toSeq ==
      rawApprox("sample_bernoulli")(spark, sfDir).collect().toSeq

    // ---- HLL sketch relative error vs exact distinct counts -----------
    val apx = rawApprox("agg_approx_sketch")(spark, sfDir)
      .select(col("l_returnflag"), col("apx_parts")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactDistinct = graft.Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxRelErr = exactDistinct.map { case (flag, ex) =>
      math.abs(apx.getOrElse(flag, 0L) - ex).toDouble / ex
    }.max

    // ---- embedding LSH near-dup: pair recall vs the exact O(n²) pairs -
    def embPairs(name: String): Set[(Long, Long)] =
      (if (name == "dedup_embedding_lsh")
         graft.operators.DedupOps.rawPairs(name)(spark, sfDir)
       else qs(name)(spark, sfDir)).select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val embExact = embPairs("dedup_embedding")
    val embLshRecall = withConf(spark, graft.GraftConf.SimLshBits.key, "4") {
      val approx = embPairs("dedup_embedding_lsh")
      if (embExact.isEmpty) 1.0 else approx.count(embExact).toDouble / embExact.size
    }

    // ---- ANN margin mining: survivor recall vs the exact O(n²) miner --
    // (gate-measurement scale only — the exact miner is the documented
    // all-pairs correctness baseline). Recall = fraction of exact
    // surviving (sid, tid) pairs the ANN-shortlist pipeline emits
    // identically; misses come from candidate-set gaps AND from the
    // margin argmax shifting when the neighborhood means are estimated
    // over candidates only.
    val marginExact = qs("sim_margin_mining")(spark, sfDir)
      .select(col("sid"), col("tid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val marginAnn = graft.operators.SimilarityOps.marginMiningAnn(spark, sfDir)
      .select(col("sid"), col("tid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val marginRecall =
      if (marginExact.isEmpty) 1.0
      else marginExact.count(marginAnn).toDouble / marginExact.size

    // ---- native hashes: deterministic across reruns -------------------
    val hashSame = qs("fn_hash_native")(spark, sfDir).collect().toSeq ==
      qs("fn_hash_native")(spark, sfDir).collect().toSeq

    Seq(
      Gate("sim_ann_lsh", "recall_at_3_vs_brute_4bit", lshRecall, 0.30, lshRecall >= 0.30),
      Gate("sim_ann_ivf", "recall_at_3_vs_brute", ivfRecall, 0.25, ivfRecall >= 0.25),
      Gate("sim_ann_ivf_kmeans", "recall_at_3_vs_brute", ivfKmeansRecall, 0.25,
        ivfKmeansRecall >= 0.25),
      Gate("sim_ann_pq", "recall_at_3_vs_brute", pqRecall, 0.50, pqRecall >= 0.50),
      Gate("dedup_simhash", "identical_set_pair_recall", identicalRecall, 1.0, identicalRecall >= 1.0),
      Gate("dedup_simhash", "near_dup_pair_recall_j090", nearDupRecall, 0.0, pass = true),
      Gate("sample_bernoulli", "sampled_fraction_target_010", frac, 0.05,
        frac > 0.05 && frac < 0.15),
      Gate("sample_bernoulli", "fixed_seed_rerun_deterministic", if (rerunSame) 1.0 else 0.0,
        1.0, rerunSame),
      Gate("dedup_embedding_lsh", "pair_recall_vs_exact_4bit", embLshRecall, 0.50,
        embLshRecall >= 0.50),
      Gate("sim_margin_mining_ann", "survivor_recall_vs_exact", marginRecall, 0.30,
        marginRecall >= 0.30),
      Gate("agg_approx_sketch", "hll_max_relative_error", maxRelErr, 0.15, maxRelErr <= 0.15),
      Gate("fn_hash_native", "rerun_deterministic", if (hashSame) 1.0 else 0.0, 1.0, hashSame))
  }

  /** 100×-feasible recall gates (VERDICT r14 task 7): the probe-ring /
    * scaled-lever operators measured AT the big corpus's operating
    * points with NO O(n²) reference anywhere — [[measure]]'s exact
    * embedding-pair and margin-miner references are all-pairs and
    * cannot run at a multi-million-vector corpus (the r14 100× recall
    * floors were asserted by extrapolation for exactly that reason).
    *
    *  - ANN recall@3 (pq / ivf-kmeans / ivf / lsh): exact reference is
    *    the brute top-3 — LINEAR (10 queries × corpus) — so these run
    *    directly on the big corpus at its true corpus-scaled operating
    *    points (pq refine 1-per-100, nprobe 3, autoLshBits).
    *  - Embedding-LSH pair recall: exact reference restricted to the
    *    fixed probe panel (id_a < 256 — panel × corpus work; by
    *    XOR-injectivity the panel-probe pipeline output IS the full
    *    pipeline's id_a<256 slice). Measured at BOTH the pinned 4-bit
    *    contract point and the corpus-scaled bits the operator really
    *    runs at this corpus.
    *  - Margin-ANN survivor recall: the exact miner is inherently
    *    all-pairs (per-TARGET neighborhood means — no panel restriction
    *    is sound), so its recall at the BIG corpus's bits is measured
    *    on `refDir` (a corpus where the exact miner is feasible) with
    *    the bucket-target conf pinned so autoLshBits lands on the big
    *    corpus's value. Ring recall is a plane-agreement geometry
    *    property of the hash family — independent of bucket occupancy
    *    — so the operating point transfers; occupancy affects cost and
    *    precision, which the big-corpus bench rows carry. */
  def measureAtScale(spark: SparkSession, bigDir: String, refDir: String): Seq[Gate] = {
    val qs = graft.SparkEntry.queries
    val rawAnn = graft.operators.SimilarityOps.rawAnn
    val exact3 = topSets(qs("sim_ann_brute_topk")(spark, bigDir), 3)
    def annRecall(name: String): Double =
      recallAt3(topSets(rawAnn(name)(spark, bigDir), 3), exact3)
    val pqRecall = annRecall("sim_ann_pq")
    val ivfKmeansRecall = annRecall("sim_ann_ivf_kmeans")
    val ivfRecall = annRecall("sim_ann_ivf")
    val lshRecall = withConf(spark, graft.GraftConf.SimLshBits.key, "4") {
      annRecall("sim_ann_lsh")
    }

    val bits = graft.operators.SimilarityOps.autoLshBits(spark, bigDir, 4)
    // panel-exact embedding pairs (with exact cosines): id_a < 256
    // pushes onto the probe side of the nested-loop join — panel ×
    // corpus, never corpus²
    val exactPanel = qs("dedup_embedding")(spark, bigDir)
      .filter(col("id_a") < 256).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val exactAll = exactPanel.map(_._1).toSet
    // the strong band is where real near-dup semantics live; the
    // 0.4–0.55 background pairs are the geometric worst case for any
    // bounded-probe hyperplane ring and decay at scaled bits by design
    // (measured at the 100× corpus: PLANS.md, RECALL_100X.json)
    val exactStrong = exactPanel.filter(_._2 >= 0.55).map(_._1).toSet
    def panelPairs(atBits: Int): Set[(Long, Long)] =
      graft.operators.DedupOps
        .dedupEmbeddingLshPanelAt(spark, bigDir, atBits, probeMax = 256L)
        .select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(approx: Set[(Long, Long)], exact: Set[(Long, Long)]): Double =
      if (exact.isEmpty) 1.0 else approx.count(exact).toDouble / exact.size
    val embLsh4 = recallOf(panelPairs(4), exactAll)
    val scaledPairs = panelPairs(bits)
    val embLshScaled = recallOf(scaledPairs, exactAll)
    val embLshScaledStrong = recallOf(scaledPairs, exactStrong)

    // margin-ANN at the big corpus's bits, measured on the reference
    // corpus where the exact all-pairs miner is feasible
    val (refRows, _) =
      graft.Tables.parquetFooterStats(spark, refDir, "embeddings", "vec_id")
    val refTarget = math.max(1, math.ceil(refRows.toDouble / (1L << bits)).toInt)
    val (marginRecall, refBits) =
      withConf(spark, graft.GraftConf.SimLshBucketTarget.key, refTarget.toString) {
        val rb = graft.operators.SimilarityOps.autoLshBits(spark, refDir, 4)
        val exact = qs("sim_margin_mining")(spark, refDir)
          .select(col("sid"), col("tid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val ann = graft.operators.SimilarityOps.marginMiningAnn(spark, refDir)
          .select(col("sid"), col("tid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        spark.catalog.clearCache()
        (if (exact.isEmpty) 1.0 else exact.count(ann).toDouble / exact.size, rb)
      }
    require(refBits == bits,
      s"operating-point transfer broken: refDir bits $refBits != big-corpus bits $bits")

    Seq(
      Gate("sim_ann_pq", "recall_at_3_vs_brute", pqRecall, 0.50, pqRecall >= 0.50),
      Gate("sim_ann_ivf_kmeans", "recall_at_3_vs_brute", ivfKmeansRecall, 0.25,
        ivfKmeansRecall >= 0.25),
      Gate("sim_ann_ivf", "recall_at_3_vs_brute", ivfRecall, 0.20, ivfRecall >= 0.20),
      Gate("sim_ann_lsh", "recall_at_3_vs_brute_4bit", lshRecall, 0.30, lshRecall >= 0.30),
      Gate("dedup_embedding_lsh", "panel_pair_recall_4bit", embLsh4, 0.50, embLsh4 >= 0.50),
      // scaled-bits floors pinned at the DEFAULT ring's measured
      // operating point (w2 = 4+(bits-7), round 15): overall recall is
      // dominated by the 0.4–0.55 background band where bounded-probe
      // recall decays geometrically in bits by design; the strong band
      // (cos ≥ 0.55) carries the tighter floor. Deep-ring opt-in
      // (SimLshRingWidth = bits) lifts overall ~0.19→0.29 at ~4× the
      // margin wall — the measured curve is in the RECALL_100X notes.
      Gate("dedup_embedding_lsh", s"panel_pair_recall_scaled_${bits}bit", embLshScaled,
        0.15, embLshScaled >= 0.15),
      Gate("dedup_embedding_lsh", s"panel_pair_recall_scaled_${bits}bit_cos055",
        embLshScaledStrong, 0.30, embLshScaledStrong >= 0.30),
      Gate("sim_margin_mining_ann", s"survivor_recall_at_${bits}bit_ref_corpus",
        marginRecall, 0.18, marginRecall >= 0.18))
  }

  /** render gates as a JSON object keyed by query name */
  def toJson(gates: Seq[Gate]): String =
    gates.groupBy(_.query).toSeq.sortBy(_._1).map { case (q, gs) =>
      val arr = gs.map { g =>
        f"""{"metric":"${g.metric}","value":${g.value}%.6f,"bound":${g.bound}%.6f,"pass":${g.pass}}"""
      }.mkString("[", ",", "]")
      s""""$q": $arr"""
    }.mkString("{", ",", "}")
}
