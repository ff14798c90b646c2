package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lake-catalog queries over [[graft.sources.GraftLakeCatalog]] — the
  * §2.1 table-format connector surface (Iceberg/Delta/Hudi/Paimon
  * analog) exercised end-to-end as ORACLED library queries so the
  * connector carries performance telemetry in Bench and correctness
  * hashes in Verify, not just spec assertions.
  *
  * Each query rebuilds its table from a DETERMINISTIC slice of the
  * `orders` parquet (drop + create + append), so the DuckDB oracle can
  * recompute the expected state from the same parquet with plain SQL.
  * The rebuild is part of the measured operation: these queries time
  * the connector's write path (hash-clustered distribution), commit
  * protocol, and snapshot-resolving scan together.
  *
  * Scale notes: appends shuffle once on the partition source columns
  * (RequiresDistributionAndOrdering hash clustering — the small-files
  * defence); MERGE is the copy-on-write rewrite of only the touched
  * file groups; the time-travel read resolves a snapshot's manifest and
  * scans only that file set; identity-partition DELETE is metadata-only
  * (no data rewrite). Nothing here collects to the driver beyond the
  * catalog's in-memory stand-in for object storage.
  */
object LakeOps {

  type Q = (SparkSession, String) => DataFrame

  /** idempotent per-query table rebuild (Verify/Bench run queries many
    * times in one session; the lake catalog is session-shared state) */
  private def freshTable(s: SparkSession, name: String): Unit = {
    s.conf.set("spark.sql.catalog.lake",
      classOf[graft.sources.GraftLakeCatalog].getName)
    s.sql(s"DROP TABLE IF EXISTS lake.$name")
    s.sql(
      s"""CREATE TABLE lake.$name (o_orderkey BIGINT, o_orderstatus STRING,
         |  o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)""".stripMargin)
  }

  private def ordersSlice(s: SparkSession, dir: String, mod: Int, rem: Int): DataFrame =
    load(s, dir, "orders")
      .filter(col("o_orderkey") % mod === rem)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** snapshot isolation: two appends, then a VERSION AS OF read pinned
    * to the first — later commits must be invisible to the pinned scan */
  private val lakeTimeTravel: Q = (s, dir) => {
    freshTable(s, "bench_tt")
    ordersSlice(s, dir, 3, 0).writeTo("lake.bench_tt").append() // v1
    ordersSlice(s, dir, 3, 1).writeTo("lake.bench_tt").append() // v2
    s.sql("SELECT * FROM lake.bench_tt VERSION AS OF 1")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  private val lakeTimeTravelSql =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey % 3 = 0
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** MERGE INTO (copy-on-write): matched rows re-priced, unmatched
    * source rows inserted; result is the upserted table's aggregate */
  private val lakeMerge: Q = (s, dir) => {
    freshTable(s, "bench_mg")
    ordersSlice(s, dir, 2, 0).writeTo("lake.bench_mg").append()
    ordersSlice(s, dir, 3, 0).createOrReplaceTempView("lake_merge_src")
    s.sql(
      """MERGE INTO lake.bench_mg t USING lake_merge_src s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + 1000.0D
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, o_totalprice)
        |  VALUES (s.o_orderkey, s.o_orderstatus, s.o_totalprice)""".stripMargin)
    s.table("lake.bench_mg")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  private val lakeMergeSql =
    """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice
      |           FROM orders WHERE o_orderkey % 2 = 0),
      |src AS (SELECT o_orderkey, o_orderstatus, o_totalprice
      |        FROM orders WHERE o_orderkey % 3 = 0),
      |merged AS (
      |  SELECT t.o_orderkey, t.o_orderstatus,
      |    CASE WHEN src.o_orderkey IS NOT NULL
      |         THEN t.o_totalprice + 1000.0 ELSE t.o_totalprice END AS o_totalprice
      |  FROM t LEFT JOIN src ON t.o_orderkey = src.o_orderkey
      |  UNION ALL
      |  SELECT src.o_orderkey, src.o_orderstatus, src.o_totalprice
      |  FROM src LEFT JOIN t ON src.o_orderkey = t.o_orderkey
      |  WHERE t.o_orderkey IS NULL)
      |SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** change data feed: two appends + an identity-partition DELETE
    * (metadata-only fast path), then the row-level diff between
    * snapshots aggregated per (change type, commit version) */
  private val lakeCdf: Q = (s, dir) => {
    freshTable(s, "bench_cdf")
    ordersSlice(s, dir, 5, 0).writeTo("lake.bench_cdf").append() // v1
    ordersSlice(s, dir, 5, 1).writeTo("lake.bench_cdf").append() // v2
    s.sql("DELETE FROM lake.bench_cdf WHERE o_orderstatus = 'F'") // v3
    s.sql("CALL lake.system.changes('bench_cdf', 0L, 3L)")
      .groupBy(col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("change_type"), col("commit_version"))
  }

  private val lakeCdfSql =
    """WITH diffs AS (
      |  SELECT 'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version, COUNT(*) AS n
      |  FROM orders WHERE o_orderkey % 5 = 0
      |  UNION ALL
      |  SELECT 'insert', 2, COUNT(*) FROM orders WHERE o_orderkey % 5 = 1
      |  UNION ALL
      |  SELECT 'delete', 3, COUNT(*) FROM orders
      |  WHERE o_orderkey % 5 IN (0, 1) AND o_orderstatus = 'F')
      |SELECT change_type, commit_version, n FROM diffs
      |ORDER BY change_type, commit_version""".stripMargin

  /** Z-order clustered write + 2-D box read: the table is rebuilt with
    * rows clustered on the (o_orderkey, o_totalprice) Z-curve, so the
    * box predicate prunes most files via min/max stats in BOTH
    * dimensions (ZOrderSpec proves the skip vs linear clustering); the
    * box bounds are derived from min/max with arithmetic DuckDB
    * reproduces bit-for-bit (long ops exact, double ops same IEEE
    * stream), keeping the oracle an exact hash match */
  private val lakeZOrderSkip: Q = (s, dir) => {
    s.conf.set("spark.sql.catalog.lake",
      classOf[graft.sources.GraftLakeCatalog].getName)
    s.sql("DROP TABLE IF EXISTS lake.bench_z")
    s.sql(
      """CREATE TABLE lake.bench_z (o_orderkey BIGINT, o_custkey BIGINT,
        |  o_totalprice DOUBLE)""".stripMargin)
    val src = load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // one min/max aggregate serves both the clustering and the query box
    val r = ZOrder.ranges(src, "o_orderkey", "o_totalprice")
      .getOrElse(throw new IllegalStateException("orders has no o_orderkey or o_totalprice"))
    ZOrder.cluster(src, "o_orderkey", "o_totalprice", 16, r)
      .writeTo("lake.bench_z").append()
    // order keys are integers below 2^53, exact as doubles
    val (mnk, mxk) = (r.aMin.toLong, r.aMax.toLong)
    val (mnp, mxp) = (r.bMin, r.bMax)
    val loK = mnk + math.floor((mxk - mnk) * 0.40).toLong
    val hiK = mnk + math.floor((mxk - mnk) * 0.60).toLong
    val loP = mnp + (mxp - mnp) * 0.20
    val hiP = mnp + (mxp - mnp) * 0.45
    s.table("lake.bench_z")
      .filter(col("o_orderkey").between(loK, hiK) &&
        col("o_totalprice").between(loP, hiP))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("custs"),
        dbl(sum(dec(col("o_totalprice")))).as("total"))
  }

  private val lakeZOrderSkipSql =
    """WITH b AS (SELECT MIN(o_orderkey) AS mnk, MAX(o_orderkey) AS mxk,
      |                  MIN(o_totalprice) AS mnp, MAX(o_totalprice) AS mxp
      |           FROM orders)
      |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS custs,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders, b
      |WHERE o_orderkey BETWEEN mnk + CAST(FLOOR((mxk - mnk) * 0.40e0) AS BIGINT)
      |                     AND mnk + CAST(FLOOR((mxk - mnk) * 0.60e0) AS BIGINT)
      |  AND o_totalprice BETWEEN mnp + (mxp - mnp) * 0.20e0
      |                       AND mnp + (mxp - mnp) * 0.45e0""".stripMargin

  /** Write-audit-publish via branches (Iceberg branch + fast_forward
    * analog): base data lands on main, staged data is written to an
    * `audit` branch through the `t$branch$audit` identifier, the audit
    * step reads BOTH refs (main must still be base-only — the isolation
    * WAP exists for), and `CALL lake.system.fast_forward` publishes the
    * branch atomically. The result reads main AFTER publish, carrying
    * two in-query-audited isolation booleans; the DuckDB oracle
    * recomputes the published state from the same parquet slices. */
  private val lakeBranchWap: Q = (s, dir) => {
    freshTable(s, "bench_wap")
    ordersSlice(s, dir, 4, 0).writeTo("lake.bench_wap").append() // main v1
    s.sql("CALL lake.system.create_branch('bench_wap', 'audit')")
    ordersSlice(s, dir, 4, 1).writeTo("lake.`bench_wap$branch$audit`").append()
    val mainBefore = s.table("lake.bench_wap").count()
    val branchStaged =
      s.sql("SELECT * FROM lake.bench_wap VERSION AS OF 'audit'").count()
    s.sql("CALL lake.system.fast_forward('bench_wap', 'audit')")
    val baseN = ordersSlice(s, dir, 4, 0).count()
    s.table("lake.bench_wap")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec(col("o_totalprice")))).as("total"))
      .withColumn("main_isolated_during_audit", lit(mainBefore == baseN))
      .withColumn("branch_saw_staged_rows", lit(branchStaged > mainBefore))
      .orderBy(col("o_orderstatus"))
  }

  private val lakeBranchWapSql =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
      |  true AS main_isolated_during_audit, true AS branch_saw_staged_rows
      |FROM orders WHERE o_orderkey % 4 IN (0, 1)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Storage-partitioned join (r12 verdict item 3): both halves of the
    * orders table land in lake tables bucket-partitioned by
    * `bucket(16, o_custkey)`, and the per-customer fact-to-fact join
    * runs with ZERO Exchange on either side — the scans report
    * KeyGroupedPartitioning from their manifests and Spark groups
    * same-bucket files into co-located tasks (LakeSpjSpec asserts the
    * no-shuffle plan; this query carries the values). The merge hint
    * keeps the 100 TB plan shape: neither side of a co-bucketed
    * fact-to-fact join broadcasts at scale. Rebuild + append + join are
    * all inside the measured operation, like the other lake_* faces. */
  private val lakeSpj: Q = (s, dir) => {
    s.conf.set("spark.sql.catalog.lake",
      classOf[graft.sources.GraftLakeCatalog].getName)
    def fresh(name: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS lake.$name")
      s.sql(s"""CREATE TABLE lake.$name (o_orderkey BIGINT, o_custkey BIGINT,
               |  o_totalprice DOUBLE) PARTITIONED BY (bucket(16, o_custkey))""".stripMargin)
    }
    fresh("bench_spj_a"); fresh("bench_spj_b")
    val src = load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    src.filter(col("o_orderkey") % 2 === 0).writeTo("lake.bench_spj_a").append()
    src.filter(col("o_orderkey") % 2 === 1).writeTo("lake.bench_spj_b").append()
    s.table("lake.bench_spj_a").as("a")
      .join(s.table("lake.bench_spj_b").hint("merge").as("b"), Seq("o_custkey"))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_pairs"),
        dbl(sum(dec(col("a.o_totalprice")) + dec(col("b.o_totalprice")))).as("total"))
      .orderBy(col("custkey"))
  }

  private val lakeSpjSql =
    """WITH e AS (SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
      |o AS (SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 1)
      |SELECT e.o_custkey AS custkey, COUNT(*) AS n_pairs,
      |  CAST(SUM(CAST(e.o_totalprice AS DECIMAL(12,2))
      |         + CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM e JOIN o ON e.o_custkey = o.o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Storage-partitioned join under SKEW — the measured face of
    * `partiallyClusteredDistribution` (VERDICT r14 task 5; the
    * reference's GlutenKeyGroupedPartitioningSuite exercises the same
    * knob, gluten-ut/spark35/.../VeloxTestSettings.scala:66). Fact side
    * `a`: every 5th order re-keys to customer 7, so ONE of the 16
    * buckets carries ~24% of the rows, written in FOUR appends (four
    * files per bucket — the split granularity partially-clustered mode
    * preserves). Profile side `b`: one bucketed row per customer (the
    * per-key aggregate of the odd orders), so the join fan-out is
    * exactly |a| — skew lives in BUCKET OCCUPANCY, not pair explosion.
    * Grouped SPJ (default) fuses the hot bucket's four files into one
    * straggler task; with
    * `spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
    * .enabled=true` the skewed side's splits stay apart and `b`'s
    * matching partition is replicated across them — still zero
    * Exchange, hot-bucket work spread over its file count. The
    * correctness gate runs the (default) grouped mode; the 100× bench
    * measures both modes via SPARK_GRAFT_BENCH_CONF (the on/off pair in
    * BENCH_PIPE_SCALING `.scale_100x`, like the lake_spj SPJ bisect). */
  private val lakeSpjSkew: Q = (s, dir) => {
    s.conf.set("spark.sql.catalog.lake",
      classOf[graft.sources.GraftLakeCatalog].getName)
    s.sql("DROP TABLE IF EXISTS lake.bench_spj_skew_a")
    s.sql("""CREATE TABLE lake.bench_spj_skew_a (o_orderkey BIGINT,
            |  o_custkey BIGINT, o_totalprice DOUBLE)
            |  PARTITIONED BY (bucket(16, o_custkey))""".stripMargin)
    s.sql("DROP TABLE IF EXISTS lake.bench_spj_skew_b")
    s.sql("""CREATE TABLE lake.bench_spj_skew_b (o_custkey BIGINT,
            |  profile_total DOUBLE) PARTITIONED BY (bucket(16, o_custkey))""".stripMargin)
    val skewKey = when(col("o_orderkey") % 5 === 0, lit(7L))
      .otherwise(col("o_custkey"))
    val src = load(s, dir, "orders")
      .select(col("o_orderkey"), skewKey.as("o_custkey"), col("o_totalprice"))
    (0 until 4).foreach { i =>
      src.filter(col("o_orderkey") % 8 === i * 2)
        .writeTo("lake.bench_spj_skew_a").append()
    }
    src.filter(col("o_orderkey") % 2 === 1)
      .groupBy(col("o_custkey"))
      .agg(dbl(sum(dec(col("o_totalprice")))).as("profile_total"))
      .writeTo("lake.bench_spj_skew_b").append()
    s.table("lake.bench_spj_skew_a").as("a")
      .join(s.table("lake.bench_spj_skew_b").hint("merge").as("b"), Seq("o_custkey"))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_facts"),
        dbl(sum(dec(col("a.o_totalprice")))).as("fact_total"),
        max(col("b.profile_total")).as("profile_total"))
      .orderBy(col("custkey"))
  }

  private val lakeSpjSkewSql =
    """WITH a AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 7 ELSE o_custkey END AS ck,
      |    o_totalprice
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |b AS (
      |  SELECT CASE WHEN o_orderkey % 5 = 0 THEN 7 ELSE o_custkey END AS ck,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS pt
      |  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1)
      |SELECT a.ck AS custkey, COUNT(*) AS n_facts,
      |  CAST(SUM(CAST(a.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS fact_total,
      |  MAX(b.pt) AS profile_total
      |FROM a JOIN b ON a.ck = b.ck
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, Q] = Map(
    "lake_time_travel" -> lakeTimeTravel,
    "lake_merge" -> lakeMerge,
    "lake_cdf_scan" -> lakeCdf,
    "lake_zorder_skip" -> lakeZOrderSkip,
    "lake_branch_wap" -> lakeBranchWap,
    "lake_spj" -> lakeSpj,
    "lake_spj_skew" -> lakeSpjSkew)

  val oracles: Map[String, String] = Map(
    "lake_time_travel" -> lakeTimeTravelSql,
    "lake_merge" -> lakeMergeSql,
    "lake_cdf_scan" -> lakeCdfSql,
    "lake_zorder_skip" -> lakeZOrderSkipSql,
    "lake_branch_wap" -> lakeBranchWapSql,
    "lake_spj" -> lakeSpjSql,
    "lake_spj_skew" -> lakeSpjSkewSql)
}
