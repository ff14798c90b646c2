package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-machinery evidence: dynamic partition pruning, bucketed
  * co-located joins (shuffle-free), AQE behaviors, and the Scala UDF
  * registry surface (SURVEY.md §2.8/§2.11, §4 — the partitioning/
  * shuffle discipline the 100 TB design leans on).
  */
class ScaleFeaturesSpec extends AnyFunSuite {
  private lazy val spark = GraftSparkSession.spark
  private val dir = GraftSparkSession.sfDir

  test("dynamic partition pruning fires on a partitioned fact join") {
    val tmp = Files.createTempDirectory("dpp_fact").toString
    Tables.load(spark, dir, "lineitem")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
    val fact = spark.read.parquet(tmp)
    // dim filtered on a NON-join column: the qualifying partition keys
    // are only known at runtime → genuine dynamic pruning (a filter on
    // the join key itself would be propagated statically instead)
    val dim = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_linestatus")).distinct()
      .filter(col("l_linestatus") === "F")
    withConf("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "100000") {
      val joined = fact.join(dim, col("l_returnflag") === col("flag"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), plan.take(3000))
      assert(joined.collect().nonEmpty)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    Tables.load(spark, dir, "orders")
      .write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_bkt")
    Tables.load(spark, dir, "lineitem")
      .write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_bkt")
    try {
      withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
        val j = spark.table("lineitem_bkt")
          .join(spark.table("orders_bkt"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        j.collect()
        val plan = j.queryExecution.executedPlan.toString
        val exchangesBeforeAgg = plan.split("HashAggregate").head
        assert(!exchangesBeforeAgg.contains("Exchange hashpartitioning(l_orderkey"),
          "bucketed join must not re-shuffle fact side:\n" + plan.take(3000))
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    }
  }

  test("AQE coalesces shuffle partitions on small data") {
    val d = Tables.load(spark, dir, "orders")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)))
    d.collect()
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") || plan.contains("coalesced"), plan.take(2000))
  }

  test("LSH verify/expand stages plan shuffle joins when the broadcast budget is exceeded") {
    // With the set-level broadcast budget forced to ~zero and the
    // stats-driven auto-broadcast disabled, the verify (bitmap) and
    // expand (member-list) joins must carry NO unconditional broadcast
    // hint — the initial physical plan is pure shuffle joins, which is
    // the only shape that survives an O(corpus) distinct-set table at
    // 100 TB (AQE may still downgrade from observed runtime sizes, but
    // that conversion is stats-driven, not a hint).
    withConf(
      GraftConf.DedupBroadcastMaxBytes.key -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val pairs = operators.DedupOps.queries("dedup_minhash_lsh")(spark, dir)
      // sparkPlan = the planner's join choices before EnsureRequirements
      // inserts exchanges — broadcast-ness shows as the join operator type
      val initial = pairs.queryExecution.sparkPlan.toString
      assert(!initial.contains("BroadcastHashJoin"),
        "guarded LSH must not hint broadcasts over set-level tables:\n" + initial.take(3000))
      assert(pairs.limit(1).collect().nonEmpty)
    }
    // and with an ample budget the small-corpus fast path still hints
    // the broadcasts (threshold=-1 ⇒ only explicit hints can produce one)
    withConf(
      GraftConf.DedupBroadcastMaxBytes.key -> (64L * 1024 * 1024).toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val pairs = operators.DedupOps.queries("dedup_minhash_lsh")(spark, dir)
      assert(pairs.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
    }
  }

  test("hash-set verify path (unbounded vocab) equals the inline-bitmap path exactly") {
    // vocabInlineMax=1 forces the large-vocabulary branch: sorted
    // 64-bit token-hash sets + SortedLongJaccard merge counting,
    // replacing the O(|vocab|/64)-per-row bitmap that cannot scale to
    // corpus-sized shingle vocabularies. The pair outputs (incl. the
    // jaccard values) must be IDENTICAL to the default inline-bitmap
    // path on the same corpus.
    val dir = GraftSparkSession.sfDir
    val base = operators.DedupOps.queries("dedup_minhash_lsh")(spark, dir).collect()
    val hashed = withConf(GraftConf.DedupVocabInlineMax.key -> "1") {
      operators.DedupOps.queries("dedup_minhash_lsh")(spark, dir).collect()
    }
    assert(base.length == hashed.length,
      s"pair counts differ: inline=${base.length} hashset=${hashed.length}")
    base.zip(hashed).foreach { case (a, b) => assert(a == b, s"row drift: $a vs $b") }
    // shingle variant too (the vocabulary that actually outgrows bitmaps)
    val baseSh = operators.DedupOps.queries("dedup_minhash_shingle")(spark, dir).collect()
    val hashedSh = withConf(GraftConf.DedupVocabInlineMax.key -> "1") {
      operators.DedupOps.queries("dedup_minhash_shingle")(spark, dir).collect()
    }
    assert(baseSh.length == hashedSh.length)
    baseSh.zip(hashedSh).foreach { case (a, b) => assert(a == b) }
  }

  test("label propagation keeps a constant-size plan across rounds") {
    import spark.implicits._
    // a 16-node path graph takes 5 star rounds — without per-round
    // lineage truncation the logical plan doubles each round (a 1.9 GB
    // plan string was observed in practice) and this assertion could
    // not hold
    val n = 16
    val pairs = (0 until n - 1).map(i => (i.toLong, i + 1L))
      .toDF("doc_a", "doc_b").localCheckpoint()
    val docs = (0 until n).map(_.toLong).toDF("doc_id")
    // star rounds forced: a bound of 0 edges never finishes on the driver
    val (labels, jobs) = PlanHealth.traced(spark) {
      operators.DedupOps.propagateMinLabels(pairs, docs, localFinishMaxEdges = 0L)
    }
    // one materialization per round, pinned: the first checkpoint's
    // count is 1 job; each star round runs 4 (the symmetrized-edge,
    // large-star and small-star exchanges, then the count that fills
    // the round's checkpoint) plus 2 for the except gate, which runs
    // every round here because a path's edge count never changes.
    // Labeling the docs afterwards is lazy.
    assert(jobs.jobs == 1 + 5 * (4 + 2), jobs.jobNames.mkString("\n"))
    val planLen = labels.queryExecution.optimizedPlan.toString.length
    assert(planLen < 10000, s"plan string grew to $planLen chars — lineage not truncated")
    // the default bound finishes the same path on the driver at once:
    // the first checkpoint's count, then one collect of its ids
    val (finished, finishJobs) = PlanHealth.traced(spark) {
      operators.DedupOps.propagateMinLabels(pairs, docs)
    }
    assert(finishJobs.jobs == 2, finishJobs.jobNames.mkString("\n"))
    for (out <- Seq(labels.collect(), finished.collect()))
      assert(out.length == n && out.forall(_.getLong(1) == 0L),
        "every node in the path must adopt label 0")
  }

  test("scala UDF registry surface (the .so-registry analog)") {
    val qualityScore = udf((nWords: Int, stopRatio: Double) =>
      if (nWords >= 20 && stopRatio > 0.02) 1.0 else 0.0)
    spark.udf.register("quality_score", qualityScore)
    val viaApi = Tables.load(spark, dir, "documents")
      .select(qualityScore(lit(25), lit(0.1)).as("q")).head.getDouble(0)
    val viaSql = spark.sql("SELECT quality_score(25, 0.1) AS q").head.getDouble(0)
    assert(viaApi == 1.0 && viaSql == 1.0)
  }

  test("runtime bloom filter join pruning can be planned") {
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.load(spark, dir, "lineitem")
      val filtered = Tables.load(spark, dir, "orders").filter(col("o_totalprice") > 150000.0)
      val j = li.join(filtered, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter") || optimized.contains("might_contain"),
        optimized.take(3000))
    }
  }

  test("ANALYZE TABLE feeds CBO: catalog stats drive row counts and join reorder") {
    withConf(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      Tables.load(spark, dir, "customer").write.mode("overwrite").saveAsTable("cust_cbo")
      Tables.load(spark, dir, "nation").write.mode("overwrite").saveAsTable("nat_cbo")
      spark.sql("ANALYZE TABLE cust_cbo COMPUTE STATISTICS FOR ALL COLUMNS")
      spark.sql("ANALYZE TABLE nat_cbo COMPUTE STATISTICS FOR ALL COLUMNS")
      // row-count stats reach the optimizer
      val expected = spark.table("cust_cbo").count()
      val stats = spark.table("cust_cbo").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(expected)), stats.toString)
      // column-level stats (ndv) recorded in the catalog
      val desc = spark.sql("DESCRIBE EXTENDED cust_cbo c_nationkey")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc.get("distinct_count").exists(_ != "NULL"), desc.toString)
      // a stats-backed join still answers correctly with reorder enabled
      val n = spark.table("cust_cbo")
        .join(spark.table("nat_cbo"), col("c_nationkey") === col("n_nationkey"))
        .count()
      assert(n == expected)
      spark.sql("DROP TABLE cust_cbo")
      spark.sql("DROP TABLE nat_cbo")
    }
  }

  test("recursive-CTE frontier broadcast is size-guarded, not unconditional") {
    // The per-iteration frontier of a recursive CTE is O(reachable nodes):
    // an unconditional BROADCAST hint collects it to the driver every
    // round and OOMs at scale. With the budget forced to ~zero (and
    // stats-driven auto-broadcast off so only a hint could produce one)
    // the recursion join must carry NO broadcast hint; with an ample
    // budget the small-frontier fast path still hints it.
    withConf(
      GraftConf.RecursiveBroadcastMaxBytes.key -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = operators.RelationalOps.queries("sql_recursive_cte")(spark, dir)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("strategy=broadcast"),
        "guarded recursion must not hint a frontier broadcast:\n" + optimized.take(3000))
      // and the guarded plan still computes the same closure
      assert(df.count() > 0)
    }
    withConf(GraftConf.RecursiveBroadcastMaxBytes.key -> (64L * 1024 * 1024).toString) {
      val df = operators.RelationalOps.queries("sql_recursive_cte")(spark, dir)
      assert(df.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
        "small frontier under budget should keep the broadcast hint")
    }
  }

  test("LSH hot-bucket cap bounds pair blowup; default off preserves exact banding") {
    import spark.implicits._
    // synthetic degenerate bucket: 100 distinct sets all hashing to one
    // (band, key) — uncapped this bucket alone yields 100·99/2 = 4950
    // candidate pairs; the cap bounds it to cap·(cap−1)/2
    val hot = (1 to 100).map(g => (g.toLong, 10, 0, 12345L))
    val cold = Seq((200L, 10, 1, 777L), (201L, 10, 1, 777L))
    val bands = (hot ++ cold).toDF("gid", "sz", "band", "band_key")
    val cap = 8
    val (kept, dropped, _) = operators.DedupOps.capBandBuckets(bands, cap)
    assert(kept.count() == cap + 2, "hot bucket capped to 8, cold bucket intact")
    assert(dropped.count() == 100 - cap, "drops are surfaced for logging, not silent")
    // deterministic keep rule: smallest gids survive
    assert(kept.filter(col("band_key") === 12345L).agg(max(col("gid"))).head.getLong(0) == cap.toLong)
    // the default is AUTO: cap engages only for buckets above the auto
    // threshold, so sub-threshold corpora keep exact banding semantics
    assert(GraftConf.getInt(spark, GraftConf.DedupLshBucketCap) == -1)
    withConf(GraftConf.DedupLshBucketCap.key -> "3") {
      // with a cap the full pipeline still runs and stays a subset of
      // the exact pair list
      val capped = operators.DedupOps.queries("dedup_minhash_lsh")(spark, dir).collect()
      val exact = withConf(GraftConf.DedupLshBucketCap.key -> "0") {
        operators.DedupOps.queries("dedup_minhash_lsh")(spark, dir).collect()
      }
      val exactSet = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped.forall(r => exactSet((r.getLong(0), r.getLong(1)))),
        "capped pairs must be a subset of exact banding pairs")
    }
  }

  test("default AUTO bucket cap is exact by construction at the oracle SF") {
    // the correctness gate runs sf0.01 under DEFAULT conf: the auto
    // threshold must therefore leave every sf0.01 band bucket untouched.
    // Assert it the direct way — auto result == explicit-exact result,
    // and the drop counter (the exactness flag) reads zero.
    val oracleDir = "/root/testdata/sf0.01"
    for (q <- Seq("dedup_minhash_lsh", "dedup_simhash")) {
      val auto = operators.DedupOps.queries(q)(spark, oracleDir).collect()
      assert(operators.DedupOps.lastCapDrops.get() == 0L,
        s"$q at sf0.01 must not trip the auto cap (exact by construction)")
      val exact = withConf(GraftConf.DedupLshBucketCap.key -> "0") {
        operators.DedupOps.queries(q)(spark, oracleDir).collect()
      }
      assert(auto.map(_.toString).toSeq == exact.map(_.toString).toSeq,
        s"$q: default-conf result must equal exact banding at the oracle SF")
    }
    // and a degenerate over-threshold bucket DOES engage under default
    // conf: 600 identical-signature sets in one bucket, threshold 512
    import spark.implicits._
    val hot = (1L to 600L).map(g => (g, 10, 0, 99L)).toDF("gid", "sz", "band", "band_key")
    val thr = GraftConf.getInt(spark, GraftConf.DedupLshBucketAutoThreshold)
    val (kept, dropped, _) = operators.DedupOps.capBandBuckets(hot, thr)
    assert(thr == 512 && kept.count() == 512 && dropped.count() == 88,
      "auto threshold must bound a degenerate hot bucket")
  }

  test("back-to-back capped dedups do not accumulate DISK_ONLY cache blocks (advisor r9)") {
    // a long-lived pipeline session runs many capped dedups without
    // clearCache(); withBucketCap must retire the PREVIOUS run's ranked
    // DISK_ONLY persist when the next begins, and releaseCaches() drops
    // the last one — storage returns to its pre-dedup baseline
    def diskOnlyBlocks: Int = spark.sparkContext.getPersistentRDDs.values
      .count(_.getStorageLevel == org.apache.spark.storage.StorageLevel.DISK_ONLY)
    operators.DedupOps.releaseCaches()
    val baseline = diskOnlyBlocks
    withConf(GraftConf.DedupLshBucketCap.key -> "3") {
      operators.DedupOps.queries("dedup_minhash_lsh")(spark, dir).collect()
      val afterFirst = diskOnlyBlocks
      assert(afterFirst <= baseline + 1,
        s"one capped run may hold at most one live cap cache (got $afterFirst vs baseline $baseline)")
      operators.DedupOps.queries("dedup_minhash_lsh")(spark, dir).collect()
      assert(diskOnlyBlocks <= baseline + 1,
        "the second capped run must retire the first run's cache, not stack on it")
    }
    operators.DedupOps.releaseCaches()
    assert(diskOnlyBlocks == baseline,
      "releaseCaches() must return storage to the pre-dedup baseline")
  }

  test("containment verify broadcasts the set table ONCE (advisor r10: hsU/hsV double broadcast)") {
    // the u- and v-side set lookups are alias-only projections of one
    // canonical broadcast projection; they canonicalize identically, so
    // the physical plan must serve the v side from a ReusedExchange —
    // one torrent broadcast and half the executor broadcast memory on a
    // real cluster. AQE off: the static ReuseExchangeAndSubquery rule is
    // the contract under test (AQE's runtime stage cache reuses by the
    // same canonical key).
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val (pre, groups) = operators.DedupOps.containmentPlan(spark, dir)
      try {
        val plan = pre.queryExecution.executedPlan.toString
        assert("""ReusedExchange \[[^\]]*hsv""".r.findFirstIn(plan).isDefined,
          "v-side set lookup must be a ReusedExchange of the u-side broadcast:\n" +
            plan.take(4000))
      } finally groups.unpersist(blocking = false)
    }
  }

  test("back-to-back containment passes do not stack set-table caches (advisor r10, lazy r12)") {
    // dedupContainment cache()s its distinct-set table to share it
    // across the verify subtrees of the ONE materialization. Since the
    // r12 lazy-construction change the caches must stay registered
    // until the pipeline actually RUNS, so release is DEFERRED: the
    // NEXT containment build (or releaseCaches()) retires the previous
    // pair — a long-lived session holds at most one pass's blocks, and
    // repeated passes must not accumulate (same single-slot discipline
    // as the capped-LSH spec above)
    // count only the cache()-level (MEMORY_AND_DISK) entries — the
    // groups set-table caches this test polices; the survivor
    // localCheckpoint RDDs register at DISK_ONLY and are RDD-level,
    // ContextCleaner-managed state (r12 parity), not leakable entries
    def cachedEntries: Int = spark.sparkContext.getPersistentRDDs.values
      .count(_.getStorageLevel == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    spark.catalog.clearCache()
    val baseline = cachedEntries
    operators.DedupOps.queries("dedup_containment")(spark, dir).collect()
    val afterFirst = cachedEntries
    operators.DedupOps.queries("dedup_containment")(spark, dir).collect()
    assert(cachedEntries <= afterFirst,
      s"second containment pass stacked cache entries: $afterFirst -> $cachedEntries")
    operators.DedupOps.releaseCaches()
    // give the async (blocking=false) unpersists a moment to land
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (cachedEntries > baseline && System.nanoTime() < deadline) Thread.sleep(100)
    assert(cachedEntries <= baseline,
      "releaseCaches() must drop the final pass's set-table + survivor blocks")
    spark.catalog.clearCache()
  }

  test("ANALYZE TABLE feeds CBO: column stats exist and shrink filter estimates") {
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS cbo_probe")
    spark.range(0, 10000).select(col("id"), (col("id") % 100).as("k"))
      .write.saveAsTable("cbo_probe")
    try {
      withConf("spark.sql.cbo.enabled" -> "true") {
        def plan = spark.table("cbo_probe").filter(col("k") === 1)
          .queryExecution.optimizedPlan
        spark.sql("ANALYZE TABLE cbo_probe COMPUTE STATISTICS FOR ALL COLUMNS")
        val stats = plan.stats
        assert(stats.rowCount.isDefined, "CBO stats should carry a row count")
        // equality on a 100-distinct-value column: the estimate must
        // reflect ~1% selectivity, not the unfiltered table
        val est = stats.rowCount.get.toLong
        assert(est < 1000, s"filter estimate $est should be ~100 of 10000 rows")
        assert(est > 0)
      }
    } finally spark.sql("DROP TABLE IF EXISTS cbo_probe")
  }

  private def withConf[A](entries: (String, String)*)(f: => A): A = {
    val old = entries.map { case (k, _) => k -> spark.conf.getOption(k) }
    entries.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
