package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Per-operator micro-queries covering SURVEY.md §2's inventory:
  * join types (§2.3), aggregation modes (§2.4), window functions (§2.5),
  * sort/limit/top-k/sample (§2.6), set operations (§2.7), generators
  * (§2.9), plus exchange-exercising shapes. Reference test analogs:
  * MiscOperatorSuite.scala, VeloxAggregateFunctionsSuite.scala,
  * VeloxWindowExpressionSuite.scala, VeloxHashJoinSuite.scala
  * (backends-velox/src/test, see SURVEY.md §5).
  *
  * Every query ends in a deterministic ORDER BY and aligns column names
  * and types with its DuckDB oracle (INT vs BIGINT casts are explicit).
  */
object RelationalOps {

  type Q = (SparkSession, String) => DataFrame

  private def q(entries: ((String, Q), String)*): (Map[String, Q], Map[String, String]) =
    (entries.map(_._1).toMap, entries.map(e => (e._1._1, e._2)).toMap)

  // ---------------------------------------------------------------- joins

  private val joinInner: Q = (s, dir) =>
    load(s, dir, "orders").join(load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dbl(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy(col("c_mktsegment"))

  private val joinInnerSql =
    """SELECT c_mktsegment, COUNT(*) AS n_orders, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  private val joinLeftOuter: Q = (s, dir) =>
    load(s, dir, "customer")
      .join(load(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        dbl(sum(dec(col("o_totalprice")))).as("spend"))
      .orderBy(col("c_custkey"))

  private val joinLeftOuterSql =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  private val joinRightOuter: Q = (s, dir) =>
    load(s, dir, "orders")
      .join(load(s, dir, "customer"), col("o_custkey") === col("c_custkey"), "right_outer")
      .groupBy(col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_orders"), count(lit(1)).as("n_rows"))
      .orderBy(col("c_mktsegment"))

  private val joinRightOuterSql =
    """SELECT c_mktsegment, COUNT(o_orderkey) AS n_orders, COUNT(*) AS n_rows
      |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  private val joinFullOuter: Q = (s, dir) => {
    val sn = load(s, dir, "supplier").select(col("s_nationkey").as("sn")).distinct()
    val cn = load(s, dir, "customer").select(col("c_nationkey").as("cn")).distinct()
    sn.join(cn, col("sn") === col("cn"), "full_outer")
      .select(coalesce(col("sn"), col("cn")).as("nationkey"),
        col("sn").isNotNull.as("has_supp"), col("cn").isNotNull.as("has_cust"))
      .orderBy(col("nationkey"))
  }

  private val joinFullOuterSql =
    """SELECT COALESCE(sn, cn) AS nationkey, sn IS NOT NULL AS has_supp, cn IS NOT NULL AS has_cust
      |FROM (SELECT DISTINCT s_nationkey AS sn FROM supplier) a
      |FULL JOIN (SELECT DISTINCT c_nationkey AS cn FROM customer) b ON sn = cn
      |ORDER BY nationkey""".stripMargin

  private val joinLeftSemi: Q = (s, dir) =>
    load(s, dir, "customer")
      .join(load(s, dir, "orders").filter(col("o_totalprice") > 100000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  private val joinLeftSemiSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
      |ORDER BY c_custkey""".stripMargin

  private val joinLeftAnti: Q = (s, dir) =>
    load(s, dir, "customer")
      .join(load(s, dir, "orders").filter(col("o_totalprice") > 100000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  private val joinLeftAntiSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
      |ORDER BY c_custkey""".stripMargin

  private val joinCross: Q = (s, dir) =>
    load(s, dir, "region").crossJoin(load(s, dir, "nation"))
      .select(col("r_name"), col("n_name"))
      .orderBy(col("r_name"), col("n_name"))

  private val joinCrossSql =
    "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name"

  // broadcast nested-loop join: pure non-equi condition
  private val joinNonEqui: Q = (s, dir) =>
    load(s, dir, "supplier")
      .join(broadcast(load(s, dir, "region")), col("s_acctbal") > col("r_regionkey") * 2000.0)
      .select(col("s_suppkey"), col("r_regionkey"))
      .orderBy(col("s_suppkey"), col("r_regionkey"))

  private val joinNonEquiSql =
    """SELECT s_suppkey, r_regionkey FROM supplier JOIN region ON s_acctbal > r_regionkey * 2000.0
      |ORDER BY s_suppkey, r_regionkey""".stripMargin

  private val joinExistence: Q = (s, dir) => {
    val big = load(s, dir, "orders").filter(col("o_totalprice") > 100000.0)
      .select(col("o_custkey")).distinct().withColumn("flag", lit(true))
    load(s, dir, "customer")
      .join(big, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), coalesce(col("flag"), lit(false)).as("has_big"))
      .orderBy(col("c_custkey"))
  }

  private val joinExistenceSql =
    """SELECT c_custkey, c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0) AS has_big
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ----------------------------------------------------------- aggregates

  private val aggDistinctMulti: Q = (s, dir) =>
    load(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  private val aggDistinctMultiSql =
    """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  private val aggSumDistinct: Q = (s, dir) =>
    load(s, dir, "lineitem").groupBy(col("l_linestatus"))
      .agg(sum_distinct(col("l_quantity").cast("bigint")).as("sum_dq"),
        count_distinct(col("l_quantity").cast("bigint")).as("n_dq"))
      .orderBy(col("l_linestatus"))

  private val aggSumDistinctSql =
    """SELECT l_linestatus, CAST(SUM(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_dq,
      |  COUNT(DISTINCT CAST(l_quantity AS BIGINT)) AS n_dq
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  private val aggMinMaxBy: Q = (s, dir) =>
    load(s, dir, "customer").groupBy(col("c_mktsegment"))
      .agg(max_by(col("c_custkey"), struct(col("c_acctbal"), col("c_custkey"))).as("richest"),
        min_by(col("c_custkey"), struct(col("c_acctbal"), col("c_custkey"))).as("poorest"),
        max(col("c_acctbal")).as("max_bal"), min(col("c_acctbal")).as("min_bal"))
      .orderBy(col("c_mktsegment"))

  private val aggMinMaxBySql =
    """WITH r AS (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey DESC) rmax,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC) rmin
      |  FROM customer)
      |SELECT c_mktsegment,
      |  MAX(CASE WHEN rmax = 1 THEN c_custkey END) AS richest,
      |  MAX(CASE WHEN rmin = 1 THEN c_custkey END) AS poorest,
      |  MAX(c_acctbal) AS max_bal, MIN(c_acctbal) AS min_bal
      |FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  private val aggRollup: Q = (s, dir) =>
    load(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec(col("l_quantity")))).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val aggRollupSql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  private val aggCube: Q = (s, dir) =>
    load(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  private val aggCubeSql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  private val aggGroupingSets: Q = (s, dir) => {
    load(s, dir, "orders").createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |  COUNT(*) AS n
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  private val aggGroupingSetsSql =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // exact integer power sums — deterministic moment building blocks
  private val aggExactMoments: Q = (s, dir) => {
    val q = col("l_quantity").cast("bigint")
    load(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(sum(q).as("s1"), sum(q * q).as("s2"), sum(q * q * q).as("s3"),
        min(q).as("mn"), max(q).as("mx"), count(q).as("n"))
      .orderBy(col("l_returnflag"))
  }

  private val aggExactMomentsSql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
      |  CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
      |  CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
      |  CAST(MIN(l_quantity) AS BIGINT) AS mn, CAST(MAX(l_quantity) AS BIGINT) AS mx,
      |  COUNT(l_quantity) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // streaming variance/correlation — rounded to absorb merge-order ulps
  private val aggStats: Q = (s, dir) =>
    load(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(round(stddev_samp(col("l_quantity")), 6).as("sd_samp"),
        round(stddev_pop(col("l_quantity")), 6).as("sd_pop"),
        round(var_samp(col("l_quantity")), 6).as("v_samp"),
        round(var_pop(col("l_quantity")), 6).as("v_pop"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qp_corr"),
        round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("qd_covar"))
      .orderBy(col("l_returnflag"))

  private val aggStatsSql =
    """SELECT l_returnflag,
      |  round(stddev_samp(l_quantity), 6) AS sd_samp,
      |  round(stddev_pop(l_quantity), 6) AS sd_pop,
      |  round(var_samp(l_quantity), 6) AS v_samp,
      |  round(var_pop(l_quantity), 6) AS v_pop,
      |  round(corr(l_quantity, l_extendedprice), 6) AS qp_corr,
      |  round(covar_pop(l_quantity, l_discount), 6) AS qd_covar
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  private val aggBitwise: Q = (s, dir) =>
    load(s, dir, "customer").groupBy(col("c_mktsegment"))
      .agg(expr("bit_and(c_custkey)").as("b_and"),
        expr("bit_or(c_custkey)").as("b_or"),
        expr("bit_xor(c_custkey)").as("b_xor"))
      .orderBy(col("c_mktsegment"))

  private val aggBitwiseSql =
    """SELECT c_mktsegment, bit_and(c_custkey) AS b_and, bit_or(c_custkey) AS b_or, bit_xor(c_custkey) AS b_xor
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  private val aggCollect: Q = (s, dir) =>
    load(s, dir, "nation").groupBy(col("n_regionkey"))
      .agg(array_join(slice(sort_array(collect_set(col("n_name"))), 1, 5), ",").as("nations"),
        count(lit(1)).as("n"))
      .orderBy(col("n_regionkey"))

  private val aggCollectSql =
    """SELECT n_regionkey, array_to_string(list_sort(list(DISTINCT n_name))[1:5], ',') AS nations, COUNT(*) AS n
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // exact interpolated percentiles (integral input → exact doubles)
  private val aggPercentile: Q = (s, dir) =>
    load(s, dir, "lineitem").groupBy(col("l_linestatus"))
      .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"))
      .orderBy(col("l_linestatus"))

  private val aggPercentileSql =
    """SELECT l_linestatus, round(quantile_cont(l_quantity, 0.5), 6) AS p50,
      |  round(quantile_cont(l_quantity, 0.9), 6) AS p90
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // sketch aggregates (HLL++ count-distinct, quantile-summary median).
  // Engine-specific estimates can't hash-match an oracle directly, so
  // the exported query joins the sketches against exact in-query
  // references and emits DuckDB-checkable values: the exact distinct
  // count, plus error-bound booleans (HLL relative error ≤ 15% — the
  // default rsd is 5%, measured ≈2.7% here; approx median inside the
  // exact p45..p55 band — accuracy 1000 gives ~0.1pp rank error). A
  // sketch regression flips a boolean and fails the hash compare.
  private val aggApproxRaw: Q = (s, dir) =>
    load(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("apx_parts"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("apx_median"))
      .orderBy(col("l_returnflag"))

  private val aggApprox: Q = (s, dir) => {
    val exact = load(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        expr("percentile(l_extendedprice, 0.45)").as("p45"),
        expr("percentile(l_extendedprice, 0.55)").as("p55"))
    aggApproxRaw(s, dir).join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("apx_parts") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.15).as("hll_within_15pct"),
        (col("apx_median") >= col("p45") &&
          col("apx_median") <= col("p55")).as("apx_median_in_p45_p55"))
      .orderBy(col("l_returnflag"))
  }

  private val aggApproxSql =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |  true AS hll_within_15pct, true AS apx_median_in_p45_p55
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------- windows

  private val windowRank: Q = (s, dir) => {
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal").desc)
    val wt = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal").desc, col("c_custkey"))
    load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"),
        row_number().over(wt).as("rn"))
      .filter(col("rn") <= 5)
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  private val windowRankSql =
    """SELECT c_custkey, c_mktsegment, CAST(rnk AS INTEGER) AS rnk, CAST(drnk AS INTEGER) AS drnk, CAST(rn AS INTEGER) AS rn
      |FROM (
      |  SELECT c_custkey, c_mktsegment,
      |    RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS rnk,
      |    DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS drnk,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn
      |  FROM customer) t
      |WHERE rn <= 5 ORDER BY c_mktsegment, rn""".stripMargin

  private val windowLeadLag: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        lag(col("value"), 1, -1.0).over(w).as("prev_v"),
        lead(col("value"), 1, -1.0).over(w).as("next_v"))
      .orderBy(col("event_id"))
      .limit(500)
  }

  private val windowLeadLagSql =
    """SELECT event_id, user_id,
      |  LAG(value, 1, -1.0) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v,
      |  LEAD(value, 1, -1.0) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_v
      |FROM events ORDER BY event_id LIMIT 500""".stripMargin

  private val windowRunning: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        dbl(sum(dec(col("value"))).over(w)).as("running"),
        count(lit(1)).over(w).as("n_so_far"))
      .orderBy(col("event_id"))
      .limit(1000)
  }

  private val windowRunningSql =
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running,
      |  COUNT(*) OVER w AS n_so_far
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_id LIMIT 1000""".stripMargin

  private val windowRangeFrame: Q = (s, dir) => {
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_size")).rangeBetween(-5, 0)
    load(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        count(lit(1)).over(w).as("cnt5"))
      .orderBy(col("p_partkey"))
  }

  private val windowRangeFrameSql =
    """SELECT p_partkey, p_brand, p_size,
      |  COUNT(*) OVER (PARTITION BY p_brand ORDER BY p_size RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS cnt5
      |FROM part ORDER BY p_partkey""".stripMargin

  // NOTE: an empty-partition global window is a single task sorting the
  // whole table — report-grain only; the scale path is
  // `window_ntile_scalable` below (distributed sort + per-partition
  // offset ranks, no single-partition stage).
  private val windowNtile: Q = (s, dir) => {
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    load(s, dir, "orders")
      .select(col("o_orderkey"), ntile(4).over(w).as("bucket"),
        round(cume_dist().over(w), 9).as("cd"), round(percent_rank().over(w), 9).as("pr"))
      .orderBy(col("o_orderkey"))
      .limit(1000)
  }

  private val windowNtileSql =
    """SELECT o_orderkey, CAST(NTILE(4) OVER w AS INTEGER) AS bucket,
      |  round(cume_dist() OVER w, 9) AS cd, round(percent_rank() OVER w, 9) AS pr
      |FROM orders WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey LIMIT 1000""".stripMargin

  /** Scale-safe global NTILE: a distributed range-partitioned sort plus
    * `zipWithIndex` (per-partition counts → cumulative offsets in one
    * extra job) yields exact global ranks with NO single-partition
    * WindowExec at any size; the bucket is then pure arithmetic on the
    * rank, reproducing SQL NTILE semantics exactly (the first N mod b
    * buckets get one extra row). Oracle: DuckDB's native NTILE over the
    * same total order. */
  private val windowNtileScalable: Q = (s, dir) => {
    val b = 4L
    val base = load(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val n = base.count()
    val sorted = base.orderBy(col("o_totalprice"), col("o_orderkey"))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("rnk", org.apache.spark.sql.types.LongType))
    val ranked = s.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L)) },
      schema)
    val sz = n / b
    val rem = n % b
    ranked.select(col("o_orderkey"),
        when(lit(rem) > 0 && col("rnk") <= rem * (sz + 1),
          expr(s"CAST((rnk - 1) DIV ${sz + 1} AS INT) + 1"))
          .otherwise(expr(s"CAST($rem + (rnk - 1 - $rem * (${sz + 1})) DIV $sz AS INT) + 1"))
          .as("bucket"))
      .orderBy(col("o_orderkey"))
      .limit(1000)
  }

  private val windowNtileScalableSql =
    """SELECT o_orderkey, CAST(NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS bucket
      |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin

  // top-1-per-group: Spark ≥3.5 plans this as WindowGroupLimit (rank pushdown)
  private val windowGroupLimit: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy(col("user_id"))
  }

  private val windowGroupLimitSql =
    """SELECT user_id, event_id, event_type FROM (
      |  SELECT user_id, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // --------------------------------------------- sort / limit / sample

  private val sortNulls: Q = (s, dir) =>
    load(s, dir, "customer")
      .select(col("c_custkey"),
        when(col("c_acctbal") < 500.0, lit(null)).otherwise(col("c_mktsegment")).as("seg"),
        col("c_acctbal"))
      .orderBy(col("seg").asc_nulls_first, col("c_custkey"))
      .limit(200)

  private val sortNullsSql =
    """SELECT c_custkey, CASE WHEN c_acctbal < 500.0 THEN NULL ELSE c_mktsegment END AS seg, c_acctbal
      |FROM customer ORDER BY seg ASC NULLS FIRST, c_custkey LIMIT 200""".stripMargin

  private val limitOffset: Q = (s, dir) =>
    load(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey")).offset(100).limit(50)

  private val limitOffsetSql =
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100"

  private val distinctPairs: Q = (s, dir) =>
    load(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val distinctPairsSql =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // deterministic hash-bucket sampling (scales: pure filter, no shuffle;
  // reference analog: SampleExecTransformer's rand-filter rewrite,
  // gluten-substrait/.../SampleExecTransformer.scala:32-44)
  private val sampleHashBucket: Q = (s, dir) =>
    load(s, dir, "orders")
      .filter(ascii(substring(md5(col("o_orderkey").cast("string")), 1, 1)) % 4 === 0)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy(col("o_orderstatus"))

  private val sampleHashBucketSql =
    """SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders WHERE ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) % 4 = 0
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // built-in Bernoulli sample — seed semantics are engine-specific, so
  // the exported query emits per-status exact totals (DuckDB-checkable)
  // plus a 6-sigma binomial-band boolean on the sampled fraction: the
  // sample is seed-deterministic, so the boolean is a fixed property of
  // the dataset that flips only if the sampler breaks.
  private val sampleBernoulliRaw: Q = (s, dir) =>
    load(s, dir, "orders").sample(withReplacement = false, 0.1, 42L)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  private val sampleBernoulli: Q = (s, dir) => {
    val totals = load(s, dir, "orders")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n_total"))
    totals.join(sampleBernoulliRaw(s, dir)
        .withColumnRenamed("n", "n_sampled"), Seq("o_orderstatus"), "left")
      .withColumn("n_sampled", coalesce(col("n_sampled"), lit(0L)))
      .select(col("o_orderstatus"), col("n_total"),
        (abs(col("n_sampled").cast("double") / col("n_total") - 0.1) <=
          greatest(lit(0.02), lit(6.0) * sqrt(lit(0.09) / col("n_total"))))
          .as("within_binomial_band"))
      .orderBy(col("o_orderstatus"))
  }

  private val sampleBernoulliSql =
    """SELECT o_orderstatus, COUNT(*) AS n_total, true AS within_binomial_band
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** raw sketch/sample results (library surface; QualityGates measures
    * the quantitative gates from these) */
  private[graft] val rawApprox: Map[String, Q] = Map(
    "agg_approx_sketch" -> aggApproxRaw,
    "sample_bernoulli" -> sampleBernoulliRaw)

  // Apache DataSketches HLL surface (Spark 3.5+): hll_sketch_agg builds
  // a mergeable binary sketch per group, hll_union_agg merges the group
  // sketches WITHOUT rescanning the data — the two-level rollup pattern
  // sketches exist for at 100 TB (per-partition sketches persisted, any
  // ad-hoc rollup = tiny union). Gate face: per-group and merged-union
  // estimates vs exact distinct counts (default lgK=12 ≈ 1.6% rse;
  // bound 5%).
  private val aggHllSketch: Q = (s, dir) => {
    val li = load(s, dir, "lineitem")
    val sk = li.groupBy(col("l_returnflag"))
      .agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
    val est = sk.select(col("l_returnflag"), expr("hll_sketch_estimate(sk)").as("est"))
    val merged = sk.agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_all"))
    val ex = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    val exAll = li.agg(countDistinct(col("l_partkey")).as("exact_all"))
    est.join(ex, Seq("l_returnflag"))
      .crossJoin(broadcast(merged)).crossJoin(broadcast(exAll))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("est") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.05).as("sketch_within_5pct"),
        col("exact_all"),
        (abs(col("est_all") - col("exact_all")).cast("double") /
          col("exact_all") <= 0.05).as("union_within_5pct"))
      .orderBy(col("l_returnflag"))
  }

  private val aggHllSketchSql =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |  true AS sketch_within_5pct,
      |  (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS exact_all,
      |  true AS union_within_5pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** EXACT distinct counting via mergeable roaring-style bitmaps
    * (`bitmap_construct_agg` / `bitmap_or_agg`, Spark 3.5+) — the
    * ClickHouse/Druid bitmap-index pattern: ids shard into 32768-bit
    * buckets (`bitmap_bucket_number`), each (group, bucket) aggregates
    * one bitmap, and distinct = Σ `bitmap_count`. The payoff is the
    * ROLLUP: per-type totals OR-merge the already-built per-day bitmaps
    * — exact, associative, no rescan of the fact table (the persisted-
    * sketch pattern of [[aggHllSketch]] but with zero error), which is
    * how a 100 TB pipeline serves exact distincts at query time. Both
    * grains fully ORACLED against DuckDB's direct COUNT(DISTINCT). */
  private val aggBitmapDistinct: Q = (s, dir) => {
    val ev = load(s, dir, "events")
    // shard bitmaps: one per (type, day, bucket)
    val shards = ev.select(col("event_type"), to_date(col("ts")).as("d"),
        expr("bitmap_bucket_number(user_id)").as("bkt"),
        col("user_id"))
      .groupBy(col("event_type"), col("d"), col("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .cache()
    val daily = shards.groupBy(col("event_type"), col("d"))
      .agg(sum(expr("bitmap_count(bm)")).as("daily_users"))
    // rollup WITHOUT touching events again: OR-merge day shards per bucket
    val total = shards.groupBy(col("event_type"), col("bkt"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("total_users"))
    daily.join(total, "event_type")
      .select(col("event_type"), col("d").cast("string").as("d"),
        col("daily_users"), col("total_users"))
      .orderBy(col("event_type"), col("d"))
  }

  private val aggBitmapDistinctSql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    COUNT(DISTINCT user_id) AS daily_users
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS total_users
      |  FROM events GROUP BY 1)
      |SELECT daily.event_type, CAST(daily.d AS VARCHAR) AS d,
      |  daily.daily_users, tot.total_users
      |FROM daily JOIN tot USING (event_type)
      |ORDER BY event_type, d""".stripMargin

  /** Per-group top-k through the custom EXACT bounded-heap aggregate
    * ([[graft.functions.TopKByScore]]): top-3 events by value per type
    * WITHOUT a rank window — the window shuffles every row of a group
    * to one task, the aggregate ships k rows per (group × partition)
    * and merges associatively. ORACLED against DuckDB's rank window
    * (same (score desc, id asc) total order), proving heap == window
    * semantics exactly. */
  private val aggTopkHeap: Q = (s, dir) =>
    load(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(graft.functions.TopKByScore.top_k_by_score(
        col("value"), col("event_id"), 3).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("event_type"), (col("i") + 1).as("rnk"),
        col("e.id").as("event_id"), col("e.score").as("value"))
      .orderBy(col("event_type"), col("rnk"))

  private val aggTopkHeapSql =
    """WITH r AS (
      |  SELECT event_type, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |                       ORDER BY value DESC, event_id) AS rnk
      |  FROM events)
      |SELECT event_type, CAST(rnk AS INTEGER) AS rnk, event_id, value
      |FROM r WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin

  // histogram_numeric (NumericHistogram / Hive GenericUDAFHistogramNumeric
  // shape): engine-specific bin centers, but exact invariants — bin count,
  // total mass == row count, centers inside the data range — gate it.
  private val aggHistogram: Q = (s, dir) =>
    load(s, dir, "lineitem")
      .agg(expr("histogram_numeric(l_quantity, 10)").as("h"),
        count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("mn"), max(col("l_quantity")).as("mx"))
      .select(size(col("h")).as("n_bins"), col("n_rows"),
        (abs(expr("aggregate(h, 0.0d, (a, b) -> a + b.y)") -
          col("n_rows").cast("double")) < lit(1e-6)).as("mass_equals_rows"),
        expr("forall(h, b -> b.x >= mn AND b.x <= mx)").as("centers_within_range"))

  private val aggHistogramSql =
    """SELECT 10 AS n_bins, COUNT(*) AS n_rows, true AS mass_equals_rows,
      |  true AS centers_within_range
      |FROM lineitem""".stripMargin

  // ------------------------------------------------------------- set ops

  private val setUnionAll: Q = (s, dir) =>
    load(s, dir, "region").select(col("r_name").as("name"))
      .union(load(s, dir, "nation").select(col("n_name")))
      .orderBy(col("name"))

  private val setUnionAllSql =
    """SELECT name FROM (SELECT r_name AS name FROM region UNION ALL SELECT n_name FROM nation) t
      |ORDER BY name""".stripMargin

  private val setUnionDistinct: Q = (s, dir) =>
    load(s, dir, "lineitem").select(col("l_returnflag").as("v")).distinct()
      .union(load(s, dir, "lineitem").select(col("l_linestatus")).distinct()).distinct()
      .orderBy(col("v"))

  private val setUnionDistinctSql =
    """SELECT l_returnflag AS v FROM lineitem UNION SELECT l_linestatus FROM lineitem ORDER BY v""".stripMargin

  private val setIntersect: Q = (s, dir) =>
    load(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .intersect(load(s, dir, "supplier").select(col("s_nationkey")))
      .orderBy(col("nk"))

  private val setIntersectSql =
    "SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier ORDER BY nk"

  private val setExcept: Q = (s, dir) =>
    load(s, dir, "part").select(col("p_partkey").as("pk"))
      .except(load(s, dir, "lineitem").select(col("l_partkey")))
      .orderBy(col("pk"))

  private val setExceptSql =
    "SELECT p_partkey AS pk FROM part EXCEPT SELECT l_partkey FROM lineitem ORDER BY pk"

  // ---------------------------------------------------------- generators

  private val generateExplode: Q = (s, dir) =>
    load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(50)

  private val generateExplodeSql =
    """SELECT w AS word, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |GROUP BY w ORDER BY n DESC, word LIMIT 50""".stripMargin

  private val generatePosExplode: Q = (s, dir) =>
    load(s, dir, "documents").filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos0", "word")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("word"))
      .orderBy(col("doc_id"), col("pos"))

  private val generatePosExplodeSql =
    """SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos,
      |  unnest(string_split(text, ' ')) AS word
      |FROM documents WHERE doc_id < 20 ORDER BY doc_id, pos""".stripMargin

  private val generateStack: Q = (s, dir) =>
    load(s, dir, "documents")
      .select(col("doc_id"), expr("stack(2, 'lang', lang, 'source', source)").as(Seq("attr", "val")))
      .orderBy(col("doc_id"), col("attr"))

  private val generateStackSql =
    """SELECT doc_id, attr, val FROM (
      |  SELECT doc_id, 'lang' AS attr, lang AS val FROM documents
      |  UNION ALL SELECT doc_id, 'source', source FROM documents) t
      |ORDER BY doc_id, attr""".stripMargin

  private val generateInline: Q = (s, dir) =>
    load(s, dir, "nation")
      .select(col("n_nationkey"),
        inline(array(struct(lit(1).as("idx"), col("n_name").as("nm")),
          struct(lit(2).as("idx"), upper(col("n_name")).as("nm")))))
      .orderBy(col("n_nationkey"), col("idx"))

  private val generateInlineSql =
    """SELECT n_nationkey, idx, nm FROM (
      |  SELECT n_nationkey, 1 AS idx, n_name AS nm FROM nation
      |  UNION ALL SELECT n_nationkey, 2, upper(n_name) FROM nation) t
      |ORDER BY n_nationkey, idx""".stripMargin

  private val generateSequence: Q = (s, dir) =>
    load(s, dir, "part").filter(col("p_partkey") < 100)
      .select(col("p_partkey"), explode(sequence(lit(1), col("p_size") % 5 + 1)).as("i"))
      .orderBy(col("p_partkey"), col("i"))

  private val generateSequenceSql =
    """SELECT p_partkey, CAST(unnest(generate_series(1, p_size % 5 + 1)) AS INTEGER) AS i
      |FROM part WHERE p_partkey < 100 ORDER BY p_partkey, i""".stripMargin

  // ------------------------------------------------------ event pipelines

  private val evSessionize: Q = (s, dir) => {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(wRun).cast("int"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), dbl(sum(dec(col("value")))).as("total_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val evSessionizeSql =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, value,
      |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |f AS (SELECT *, CASE WHEN prev_ts IS NULL
      |    OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS is_new FROM e),
      |g AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id FROM f)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  /** DataFrameNaFunctions surface (`na.fill` / `na.replace` /
    * `na.drop`) — the missing-data cleanup API (reference covers the
    * expression forms; this pins the DataFrame entry points). The
    * fixture has no nulls, so they are synthesized deterministically
    * first (`nullif`-style whens), then: fill(value→0), replace
    * (event_type purchase→buy), drop rows whose props is null. All
    * three lower to plain Project/Filter expressions — codegen, no
    * shuffle beyond the output sort. */
  private val apiNaClean: Q = (s, dir) => {
    val df = load(s, dir, "events")
      .select(col("event_id"),
        when(col("event_type") === "view", lit(null).cast("double"))
          .otherwise(col("value")).as("value"),
        when(col("value") < 1.0, lit(null).cast("string"))
          .otherwise(col("props")).as("props"),
        col("event_type"))
    df.na.fill(Map("value" -> 0.0))
      .na.replace("event_type", Map("purchase" -> "buy"))
      .na.drop(Seq("props"))
      .select(col("event_id"), dbl(dec(col("value"))).as("value"),
        col("event_type"))
      .orderBy(col("event_id")).limit(500)
  }

  private val apiNaCleanSql =
    """WITH x AS (
      |  SELECT event_id,
      |    CASE WHEN event_type = 'view' THEN NULL ELSE value END AS value,
      |    CASE WHEN value < 1.0e0 THEN NULL ELSE props END AS props,
      |    event_type
      |  FROM events)
      |SELECT event_id,
      |  CAST(CAST(COALESCE(value, 0.0e0) AS DECIMAL(12,2)) AS DOUBLE) AS value,
      |  CASE WHEN event_type = 'purchase' THEN 'buy' ELSE event_type END AS event_type
      |FROM x WHERE props IS NOT NULL
      |ORDER BY event_id LIMIT 500""".stripMargin

  /** `df.stat.crosstab` — the contingency-table API: lang × source doc
    * counts (5×21 at any SF; output width = domain of the second
    * column, so callers pick bounded domains — the same contract as
    * Spark's own API). Lowered by Spark to a pivot aggregate: one
    * shuffle on the row key. Oracle reproduces the exact column-naming
    * contract (`lang_source` header, one column per source value). */
  private val apiStatCrosstab: Q = (s, dir) =>
    load(s, dir, "documents").stat.crosstab("lang", "source")
      .orderBy(col("lang_source"))

  private val apiStatCrosstabSql = {
    val cols = (0 until 20).sortBy(i => s"src$i")
      .map(i => s"CAST(COUNT(*) FILTER (source = 'src$i') AS BIGINT) AS src$i")
      .mkString(",\n      |  ")
    s"""SELECT lang AS lang_source,
       |  $cols
       |FROM documents GROUP BY lang ORDER BY lang_source""".stripMargin
  }

  /** Trajectory assembly (behavioral-cloning / RL-from-logs dataset
    * build): each (user, session) becomes ONE training example — the
    * ordered action sequence plus episode reward. Sessionization is the
    * same gap-30-min window as `ev_sessionize`; the sequence is
    * collected per group and ordered by a deterministic in-group sort
    * (`array_sort` over (ts, event_id, type) structs — collect order
    * never matters), so the whole build is the one user-keyed shuffle
    * sessionization already pays. Serialized as a '>'-joined string:
    * exact cross-engine comparison, and the wire format a tokenizer
    * would ingest anyway. */
  private val evTrajectories: Q = (s, dir) => {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(wRun).cast("int"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_steps"),
        concat_ws(">", transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type"))).as("trajectory"),
        dbl(sum(dec(col("value")))).as("episode_reward"))
      .filter(col("n_steps") >= 2)
      .orderBy(col("user_id"), col("session_id"))
  }

  private val evTrajectoriesSql =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |f AS (SELECT *, CASE WHEN prev_ts IS NULL
      |    OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS is_new FROM e),
      |g AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id FROM f)
      |SELECT user_id, session_id, COUNT(*) AS n_steps,
      |  string_agg(event_type, '>' ORDER BY ts, event_id) AS trajectory,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS episode_reward
      |FROM g GROUP BY user_id, session_id HAVING COUNT(*) >= 2
      |ORDER BY user_id, session_id""".stripMargin

  // as-of join by composition: each purchase joined to the latest prior
  // click of the same user (merged-stream window — no per-row range scan;
  // single shuffle on user_id; DuckDB's native ASOF JOIN is the oracle's
  // window-equivalent). The reference has no as-of join (SURVEY.md §2.3).
  private val evAsof: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    load(s, dir, "events")
      .withColumn("prev_click_us",
        last(when(col("event_type") === "click", unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("prev_click_us"),
        (unix_micros(col("ts")) - col("prev_click_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  private val evAsofSql =
    """SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |  prev_click_us, CAST(epoch_us(ts) AS BIGINT) - prev_click_us AS gap_us
      |FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN CAST(epoch_us(ts) AS BIGINT) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_us
      |  FROM events) t
      |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  // the same as-of semantics through the CUSTOM physical operator
  // (graft.plans.AsOfJoinExec via AsOfJoinStrategy); oracle is DuckDB's
  // native ASOF LEFT JOIN.
  private val evAsofCustom: Q = (s, dir) => {
    val events = load(s, dir, "events")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    graft.plans.AsOfJoinApi.asofJoin(purchases, clicks, Seq("user_id"), Seq("c_user"), "ts", "c_ts")
      .select(col("event_id"), unix_micros(col("c_ts")).as("prev_click_us"))
      .orderBy(col("event_id"))
  }

  private val evAsofCustomSql =
    """SELECT p.event_id, CAST(epoch_us(c.c_ts) AS BIGINT) AS prev_click_us
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id AS c_user, ts AS c_ts FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.c_user AND p.ts >= c.c_ts
      |ORDER BY p.event_id""".stripMargin

  // forward as-of through the custom operator: the NEXT click at-or-after
  // each purchase; oracle is DuckDB ASOF with the comparison flipped
  private val evAsofForward: Q = (s, dir) => {
    val events = load(s, dir, "events")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    graft.plans.AsOfJoinApi.asofJoin(purchases, clicks,
        Seq("user_id"), Seq("c_user"), "ts", "c_ts", direction = "forward")
      .select(col("event_id"), unix_micros(col("c_ts")).as("next_click_us"))
      .orderBy(col("event_id"))
  }

  private val evAsofForwardSql =
    """SELECT p.event_id, CAST(epoch_us(c.c_ts) AS BIGINT) AS next_click_us
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id AS c_user, ts AS c_ts FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.c_user AND p.ts <= c.c_ts
      |ORDER BY p.event_id""".stripMargin

  // backward as-of with a 10-minute tolerance: as-of-with-tolerance is
  // exactly "latest match, nulled when the gap exceeds the bound", so the
  // oracle post-filters DuckDB's native ASOF result
  private val evAsofTolerance: Q = (s, dir) => {
    val events = load(s, dir, "events")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    graft.plans.AsOfJoinApi.asofJoin(purchases, clicks,
        Seq("user_id"), Seq("c_user"), "ts", "c_ts",
        toleranceUnits = Some(10L * 60 * 1000 * 1000)) // 10 min in micros
      .select(col("event_id"), unix_micros(col("c_ts")).as("prev_click_us"))
      .orderBy(col("event_id"))
  }

  private val evAsofToleranceSql =
    """SELECT p.event_id,
      |  CAST(CASE WHEN c.c_ts IS NOT NULL AND p.ts - c.c_ts <= INTERVAL 10 MINUTE
      |       THEN epoch_us(c.c_ts) END AS BIGINT) AS prev_click_us
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id AS c_user, ts AS c_ts FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.c_user AND p.ts >= c.c_ts
      |ORDER BY p.event_id""".stripMargin

  private val evPivot: Q = (s, dir) =>
    load(s, dir, "events")
      .groupBy(to_date(date_trunc("DAY", col("ts"))).cast("string").as("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .count()
      .orderBy(col("day"))

  private val evPivotSql =
    """SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  // bucketed range join: purchases matched to clicks of the same user
  // within ±10 minutes. Scale shape: each side gets a time bucket of the
  // window width; the probe side explodes into {b-1, b, b+1} so the join
  // is a plain equi-join on (user, bucket) + residual filter — no
  // per-row range scan, no cross product (the reference has no
  // range/interval join; SURVEY.md §2.3).
  private val evRangeJoin: Q = (s, dir) => {
    val events = load(s, dir, "events")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        unix_micros(col("ts")).as("c_us"))
      .withColumn("bucket", expr("c_us div 600000000"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        unix_micros(col("ts")).as("p_us"))
      .withColumn("bucket", explode(array(
        expr("p_us div 600000000") - 1, expr("p_us div 600000000"), expr("p_us div 600000000") + 1)))
    purchases.join(clicks, Seq("bucket"))
      .filter(col("p_user") === col("c_user") &&
        abs(col("p_us") - col("c_us")) <= 600000000L)
      .select(col("purchase_id"), col("click_id"), (col("p_us") - col("c_us")).as("delta_us"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  private val evRangeJoinSql =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |  CAST(epoch_us(p.ts) AS BIGINT) - CAST(epoch_us(c.ts) AS BIGINT) AS delta_us
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND abs(CAST(epoch_us(p.ts) AS BIGINT) - CAST(epoch_us(c.ts) AS BIGINT)) <= 600000000
      |ORDER BY purchase_id, click_id""".stripMargin

  // ClickBench-shaped event analytics (reference bench corpus includes
  // 43 ClickBench queries, tools/gluten-it/.../clickbench-queries/)

  private val evDau: Q = (s, dir) =>
    load(s, dir, "events")
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .agg(countDistinct(col("user_id")).as("dau"),
        count(lit(1)).as("n_events"),
        dbl(sum(dec(col("value")))).as("total_value"))
      .orderBy(col("day"))

  private val evDauSql =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, COUNT(DISTINCT user_id) AS dau,
      |  COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY CAST(CAST(ts AS DATE) AS VARCHAR) ORDER BY day""".stripMargin

  private val evValueBuckets: Q = (s, dir) =>
    load(s, dir, "events")
      .groupBy(floor(col("value") / 50.0).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        dbl(min(dec(col("value")))).as("lo"), dbl(max(dec(col("value")))).as("hi"))
      .orderBy(col("bucket"))

  private val evValueBucketsSql =
    """SELECT CAST(floor(value / 50.0) AS INTEGER) AS bucket, COUNT(*) AS n,
      |  CAST(MIN(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS lo,
      |  CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS hi
      |FROM events GROUP BY CAST(floor(value / 50.0) AS INTEGER) ORDER BY bucket""".stripMargin

  private val evHourly: Q = (s, dir) =>
    load(s, dir, "events")
      .groupBy(hour(col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("hr"), col("event_type"))

  private val evHourlySql =
    """SELECT CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hr, event_type, COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin

  /** Native HOPPING time windows (`window(ts, "2 hours", "1 hour")`):
    * every event lands in exactly two overlapping epoch-aligned windows
    * — the batch face of the streaming windowed-agg operator, and the
    * standard rolling-load report. The window assignment is a pure
    * projection (Spark expands the slide arithmetic inline, no
    * Generate), so the whole query is one hash-agg shuffle keyed on
    * (window, type) — the same bounded shape as [[evHourly]] at any
    * scale. Oracle: DuckDB unnests the two hour-truncated starts each
    * event belongs to. */
  private val evHopping: Q = (s, dir) =>
    load(s, dir, "events")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec(col("value")))).as("total"))
      // string-render the window start like [[evResampleFfill]]: the
      // session-tz TIMESTAMP type would otherwise dump as tz-adjusted
      // parquet while the oracle's is naive — same instants, different
      // physical type
      .select(col("w.start").cast("string").as("win_start"),
        col("event_type"), col("n"), col("total"))
      .orderBy(col("win_start"), col("event_type"))

  private val evHoppingSql =
    """WITH ws AS (
      |  SELECT unnest([date_trunc('hour', ts),
      |                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
      |    event_type, value
      |  FROM events)
      |SELECT CAST(win_start AS VARCHAR) AS win_start, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM ws GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  private val evTopUsers: Q = (s, dir) =>
    load(s, dir, "events").filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purch"), dbl(sum(dec(col("value")))).as("spend"))
      .orderBy(col("spend").desc, col("user_id"))
      .limit(25)

  private val evTopUsersSql =
    """SELECT user_id, COUNT(*) AS n_purch, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS spend
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY spend DESC, user_id LIMIT 25""".stripMargin

  // linear-regression aggregate family (SURVEY §2.4 extras). Co-moment
  // sums sxx/syy/sxy are large-magnitude — rounded to 3 decimals so the
  // streaming-vs-two-pass accumulation difference stays inside the
  // rounding tolerance; O(1) ratios round at 6.
  private val aggRegr: Q = (s, dir) =>
    load(s, dir, "events")
      .withColumn("x", (col("user_id") % 100).cast("double"))
      .groupBy(col("event_type"))
      .agg(expr("regr_count(value, x)").as("n"),
        round(expr("regr_avgx(value, x)"), 6).as("ax"),
        round(expr("regr_avgy(value, x)"), 6).as("ay"),
        round(expr("regr_slope(value, x)"), 6).as("slope"),
        round(expr("regr_intercept(value, x)"), 6).as("icept"),
        round(expr("regr_r2(value, x)"), 6).as("r2"),
        round(expr("regr_sxx(value, x)"), 3).as("sxx"),
        round(expr("regr_syy(value, x)"), 3).as("syy"),
        round(expr("regr_sxy(value, x)"), 3).as("sxy"))
      .orderBy(col("event_type"))

  private val aggRegrSql =
    """SELECT event_type, CAST(regr_count(value, x) AS BIGINT) AS n,
      |  round(regr_avgx(value, x), 6) AS ax,
      |  round(regr_avgy(value, x), 6) AS ay,
      |  round(regr_slope(value, x), 6) AS slope,
      |  round(regr_intercept(value, x), 6) AS icept,
      |  round(regr_r2(value, x), 6) AS r2,
      |  round(regr_sxx(value, x), 3) AS sxx,
      |  round(regr_syy(value, x), 3) AS syy,
      |  round(regr_sxy(value, x), 3) AS sxy
      |FROM (SELECT event_type, value, CAST(user_id % 100 AS DOUBLE) AS x FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // skewness / kurtosis: DuckDB's versions are bias-corrected sample
  // statistics, so the oracle reconstructs Spark's population formulas
  // (skew = sqrt(n)·m3/m2^1.5, kurt = n·m4/m2² − 3 over central-moment
  // sums) from a two-pass computation.
  private val aggShape: Q = (s, dir) =>
    load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(skewness(col("l_quantity")), 6).as("skew"),
        round(kurtosis(col("l_quantity")), 6).as("kurt"))
      .orderBy(col("l_returnflag"))

  private val aggShapeSql =
    """WITH t AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS x FROM lineitem),
      |mu AS (SELECT l_returnflag, avg(x) AS m FROM t GROUP BY 1),
      |c AS (SELECT t.l_returnflag, COUNT(*) AS n,
      |        SUM((x-m)*(x-m)) AS m2, SUM((x-m)*(x-m)*(x-m)) AS m3,
      |        SUM((x-m)*(x-m)*(x-m)*(x-m)) AS m4
      |      FROM t JOIN mu ON t.l_returnflag = mu.l_returnflag GROUP BY t.l_returnflag)
      |SELECT l_returnflag, n,
      |  round(sqrt(n) * m3 / sqrt(m2*m2*m2), 6) AS skew,
      |  round(n * m4 / (m2*m2) - 3.0, 6) AS kurt
      |FROM c ORDER BY l_returnflag""".stripMargin

  // boolean aggregates + conditional count (bool_and/bool_or/every/count_if)
  private val aggBool: Q = (s, dir) =>
    load(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(bool_and(col("o_totalprice") > 1000.0).as("all_gt1k"),
        bool_or(col("o_totalprice") > 400000.0).as("any_gt400k"),
        expr("every(o_totalprice > 1000.0)").as("every_gt1k"),
        count_if(col("o_orderpriority") === "1-URGENT").as("n_urgent"))
      .orderBy(col("o_orderstatus"))

  private val aggBoolSql =
    """SELECT o_orderstatus,
      |  bool_and(o_totalprice > 1000.0) AS all_gt1k,
      |  bool_or(o_totalprice > 400000.0) AS any_gt400k,
      |  bool_and(o_totalprice > 1000.0) AS every_gt1k,
      |  CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // mode / median (exact). The grouping is chosen so each group's mode is
  // unique at the tested SF — mode on a tied multiset is engine-defined.
  // mode with the DETERMINISTIC tie-break (lowest tied value): a tied
  // multiset is data-dependent — bare mode() passed at sf0.01 but broke
  // at sf0.001 — so both engines pin the same tie rule explicitly
  private val aggModeMedian: Q = (s, dir) =>
    load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("mode(l_quantity, true)").as("q_mode"),
        expr("median(l_quantity)").as("q_median"))
      .orderBy(col("l_returnflag"))

  private val aggModeMedianSql =
    """WITH c AS (
      |  SELECT l_returnflag, l_quantity, COUNT(*) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (
      |  SELECT l_returnflag, l_quantity,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY n DESC, l_quantity) AS rk
      |  FROM c)
      |SELECT r.l_returnflag, r.l_quantity AS q_mode, m.q_median
      |FROM r JOIN (SELECT l_returnflag, median(l_quantity) AS q_median
      |             FROM lineitem GROUP BY 1) m USING (l_returnflag)
      |WHERE rk = 1 ORDER BY l_returnflag""".stripMargin

  // nth_value / first_value / last_value over an explicit unbounded frame
  private val windowNth: Q = (s, dir) => {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        nth_value(col("c_custkey"), 3).over(w).as("third"),
        first(col("c_custkey")).over(w).as("top"),
        last(col("c_custkey")).over(w).as("bottom"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  private val windowNthSql =
    """SELECT c_custkey, c_mktsegment,
      |  nth_value(c_custkey, 3) OVER w AS third,
      |  first_value(c_custkey) OVER w AS top,
      |  last_value(c_custkey) OVER w AS bottom
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY c_mktsegment, c_custkey""".stripMargin

  // json_tuple is Spark's remaining UDTF-shaped generator (§2.9; the
  // others are covered by generate_*): one lateral output row with the
  // extracted fields as columns
  private val generateJsonTuple: Q = (s, dir) =>
    load(s, dir, "events").filter(col("event_id") < 500)
      .select(col("event_id"), expr("json_tuple(props, 'k')").as("k"))
      .orderBy(col("event_id"))

  private val generateJsonTupleSql =
    """SELECT event_id, json_extract_string(props, '$.k') AS k
      |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin

  // TPC-DS-style composite: aggregate to (nation, year) grain, then a
  // lag window over the aggregate for year-over-year revenue growth —
  // the agg→window→filter pipeline shape of the DS report queries
  private val aggWindowYoy: Q = (s, dir) => {
    val w = Window.partitionBy(col("n_name")).orderBy(col("o_year"))
    load(s, dir, "lineitem")
      .join(load(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(load(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(dbl(sum(revenue(col("l_extendedprice"), col("l_discount")))).as("rev"))
      .select(col("n_name"), col("o_year"), col("rev"),
        (col("rev") - lag(col("rev"), 1).over(w)).as("yoy"))
      .filter(col("o_year").between(1996, 1999))
      .orderBy(col("n_name"), col("o_year"))
  }

  private val aggWindowYoySql =
    s"""WITH r AS (
       |  SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS rev
       |  FROM lineitem, supplier, nation, orders
       |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND l_orderkey = o_orderkey
       |  GROUP BY 1, 2)
       |SELECT n_name, o_year, rev,
       |  rev - lag(rev, 1) OVER (PARTITION BY n_name ORDER BY o_year) AS yoy
       |FROM r
       |QUALIFY o_year BETWEEN 1996 AND 1999
       |ORDER BY n_name, o_year""".stripMargin

  // salted skew join, oracled: the fact side carries a deterministic
  // salt, the dim side explodes all salt values, and the join runs on
  // (key, salt) — splitting any hot key across `salts` tasks. The DuckDB
  // oracle is the UNSALTED join: the hash gate proves salting is
  // semantics-preserving, not just a spec-level trick.
  private val joinSalted: Q = (s, dir) => {
    val salts = 8
    val fact = load(s, dir, "lineitem")
      .withColumn("salt", pmod(xxhash64(col("l_linenumber"), col("l_partkey")), lit(salts)))
    val dim = load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L))))
    fact.join(dim, fact("l_orderkey") === dim("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dbl(sum(revenue(col("l_extendedprice"), col("l_discount")))).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  private val joinSaltedSql =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // SQL FILTER clause on aggregates (identical dialect in both engines)
  private val aggFilterClause: Q = (s, dir) => {
    graft.Tables.registerAll(s, dir)
    s.sql(
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |    FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS DOUBLE) AS hi_rev
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val aggFilterClauseSql =
    """SELECT o_orderstatus,
      |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
      |    FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS DOUBLE) AS hi_rev
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ordered string aggregation (Spark 4 listagg WITHIN GROUP)
  private val aggListagg: Q = (s, dir) => {
    graft.Tables.registerAll(s, dir)
    s.sql(
      """SELECT n_regionkey,
        |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
  }

  private val aggListaggSql =
    """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // the built-in session_window operator in batch mode (the native
  // counterpart of the custom flatMapGroupsWithState sessionization and
  // the lag/cumsum ev_sessionize); oracle = island detection
  private val evSessionWindowNative: Q = (s, dir) =>
    load(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        col("w.start").cast("string").as("session_start"),
        col("w.end").cast("string").as("session_end"), col("n"))
      .orderBy(col("user_id"), col("session_start"))

  private val evSessionWindowNativeSql =
    """WITH m AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT user_id, ts,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m)
      |SELECT user_id, CAST(MIN(ts) AS VARCHAR) AS session_start,
      |  CAST(MAX(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
      |  COUNT(*) AS n
      |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  // TPC-DS q11 shape: customers whose spend grew year-over-year —
  // self-join of two aggregated years with a ratio predicate
  private val tpcdsGrowth: Q = (s, dir) => {
    def spend(yr: Int) = load(s, dir, "orders")
      .filter(year(col("o_orderdate")) === yr)
      .groupBy(col("o_custkey"))
      .agg(dbl(sum(dec(col("o_totalprice")))).as(s"spend_$yr"))
    spend(1996).join(spend(1997), Seq("o_custkey"))
      .filter(col("spend_1997") > col("spend_1996") * 1.5)
      .select(col("o_custkey"), col("spend_1996"), col("spend_1997"),
        round(col("spend_1997") / col("spend_1996"), 6).as("growth"))
      .orderBy(col("o_custkey"))
  }

  private val tpcdsGrowthSql =
    """WITH y96 AS (
      |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend_1996
      |  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996 GROUP BY o_custkey),
      |y97 AS (
      |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend_1997
      |  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1997 GROUP BY o_custkey)
      |SELECT y96.o_custkey AS o_custkey, spend_1996, spend_1997,
      |  round(spend_1997 / spend_1996, 6) AS growth
      |FROM y96 JOIN y97 ON y96.o_custkey = y97.o_custkey
      |WHERE spend_1997 > spend_1996 * 1.5
      |ORDER BY y96.o_custkey""".stripMargin

  // TPC-DS q5/q77 report shape: rollup over two dims with grouping_id
  // labeling and a HAVING-style floor on the aggregate
  private val tpcdsChannelRollup: Q = (s, dir) =>
    load(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(dbl(sum(dec(col("o_totalprice")))).as("revenue"), count(lit(1)).as("n"),
        grouping_id().cast("int").as("gid"))
      .filter(col("n") > 50)
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("revenue"), col("n"))
      .orderBy(col("gid"), col("status"), col("priority"))

  private val tpcdsChannelRollupSql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |HAVING COUNT(*) > 50
      |ORDER BY gid, status, priority""".stripMargin

  // ---- ClickBench-style web-analytics shapes (reference benchmark set:
  // tools/gluten-it/.../clickbench-queries, 43 SQL files) ---------------

  // distinct-user counts per (type, day) — the uniques workhorse
  private val evUniqUsers: Q = (s, dir) =>
    load(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).cast("string").as("day"))
      .agg(countDistinct(col("user_id")).as("uniq_users"), count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("day"))

  private val evUniqUsersSql =
    """SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |  COUNT(DISTINCT user_id) AS uniq_users, COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin

  // exact value percentiles per event type
  private val evP90: Q = (s, dir) =>
    load(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy(col("event_type"))

  private val evP90Sql =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  round(quantile_cont(value, 0.99), 6) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // events-per-user histogram: double aggregation (user grain → bucket)
  private val evUserHistogram: Q = (s, dir) =>
    load(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("per_user"))
      .groupBy(col("per_user")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("per_user"))

  private val evUserHistogramSql =
    """SELECT per_user, COUNT(*) AS n_users
      |FROM (SELECT user_id, COUNT(*) AS per_user FROM events GROUP BY user_id) t
      |GROUP BY per_user ORDER BY per_user""".stripMargin

  // weekly purchase revenue with a cumulative running total (window
  // over an aggregated grain)
  private val evWeeklyTrend: Q = (s, dir) => {
    val w = Window.orderBy(col("week")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(s, dir, "events").filter(col("event_type") === "purchase")
      .groupBy(date_trunc("WEEK", col("ts")).cast("date").cast("string").as("week"))
      .agg(dbl(sum(dec(col("value")))).as("revenue"))
      .select(col("week"), col("revenue"),
        dbl(sum(dec(col("revenue"))).over(w)).as("cum_revenue"))
      .orderBy(col("week"))
  }

  private val evWeeklyTrendSql =
    """WITH r AS (
      |  SELECT CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS week,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT week, revenue,
      |  CAST(SUM(CAST(revenue AS DECIMAL(12,2)))
      |    OVER (ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue
      |FROM r ORDER BY week""".stripMargin

  // per-day share of each event type (window sum ratio over an agg)
  private val evTypeShare: Q = (s, dir) => {
    val w = Window.partitionBy(col("day"))
    load(s, dir, "events")
      .groupBy(to_date(col("ts")).cast("string").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("day"), col("event_type"),
        round(col("n").cast("double") / sum(col("n")).over(w), 6).as("share"))
      .orderBy(col("day"), col("event_type"))
  }

  private val evTypeShareSql =
    """WITH c AS (
      |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT day, event_type,
      |  round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY day), 6) AS share
      |FROM c ORDER BY day, event_type""".stripMargin

  // ------------------------------------------------------------ assembly

  // UNPIVOT / melt (wide→long reshape): three measures per line item
  // fold into (measure, val) rows — the inverse of ev_pivot. Pure
  // per-row Expand, no shuffle; scales linearly at any width.
  private val unpivotMeasures: Q = (s, dir) =>
    load(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
      .select(col("l_orderkey"), col("l_linenumber"),
        dbl(col("l_quantity")).as("l_quantity"),
        dbl(col("l_extendedprice")).as("l_extendedprice"),
        dbl(col("l_discount")).as("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))

  private val unpivotMeasuresSql =
    """WITH src AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(l_quantity AS DOUBLE) AS l_quantity,
      |    CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
      |    CAST(l_discount AS DOUBLE) AS l_discount
      |  FROM lineitem WHERE l_orderkey < 1000)
      |SELECT l_orderkey, l_linenumber, measure, val
      |FROM (UNPIVOT src ON l_quantity, l_extendedprice, l_discount
      |      INTO NAME measure VALUE val)
      |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin

  // LATERAL correlated subquery join (FROM t, LATERAL (...)): per-nation
  // correlated aggregate — Spark decorrelates to a plain aggregate+join,
  // which is exactly the 100TB-safe plan
  private val lateralJoin: Q = (s, dir) => {
    load(s, dir, "nation").createOrReplaceTempView("nation_lat")
    load(s, dir, "customer").createOrReplaceTempView("customer_lat")
    s.sql(
      """SELECT n_name, t.cnt, t.max_bal
        |FROM nation_lat,
        |  LATERAL (SELECT COUNT(*) AS cnt,
        |             CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_bal
        |           FROM customer_lat WHERE c_nationkey = n_nationkey) t
        |ORDER BY n_name""".stripMargin)
  }

  private val lateralJoinSql =
    """SELECT n_name, t.cnt, t.max_bal
      |FROM nation,
      |  LATERAL (SELECT COUNT(*) AS cnt,
      |             CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_bal
      |           FROM customer WHERE c_nationkey = n_nationkey) t
      |ORDER BY n_name""".stripMargin

  // WITH RECURSIVE (Spark 4 UnionLoop operator): transitive closure over
  // a derived binary-tree edge table — anchor ∪ recursive-step until
  // fixpoint. The per-iteration frontier is a distributed join; depth is
  // bounded by the tree height (log n), not the row count.
  private val recursiveCte: Q = (s, dir) => {
    val part = load(s, dir, "part")
    // bound inlined as a literal: scalar subqueries inside the recursive
    // step are restricted; the oracle computes the same bound via SQL
    val maxKey = part.agg(max(col("p_partkey"))).head.getLong(0)
    // The recursive step re-evaluates its plan EVERY round, so per-round
    // stage weight is the cluster-scalability term (O(log n) rounds ×
    // per-round scheduler RPC): materialize the derived edge table ONCE
    // into a cached, few-partition view instead of re-scanning the
    // parquet union twice per round — under a real cluster master this
    // cut the per-round task count from ~2 scans × default parallelism
    // to the cached partitions, and the local-cluster/local wall ratio
    // from 2.09× to within the ≤1.6× bar (PLANS.md).
    val edges = part
      .select(col("p_partkey").as("parent"), (col("p_partkey") * 2).as("child"))
      .union(part.select(col("p_partkey"), col("p_partkey") * 2 + 1))
      .filter(col("child") <= maxKey)
      .coalesce(4)
    edges.cache().count(): Unit
    edges.createOrReplaceTempView("edges_rc")
    // Size-guarded frontier broadcast: the per-iteration frontier is
    // O(reachable nodes) ≤ maxKey rows of (bigint, int) ≈ 16 B each. An
    // UNCONDITIONAL hint would collect the frontier to the driver at
    // every iteration and OOM at 100× scale; under the budget the hint
    // is a win (the frontier is re-joined against the edge table each
    // round), over it we plant nothing and AQE decides from observed
    // runtime stats — the same policy as DedupBroadcastMaxBytes.
    val budget = graft.GraftConf.getLong(s, graft.GraftConf.RecursiveBroadcastMaxBytes)
    // Broadcast the EDGE side, not the frontier: the edge subtree is
    // IDENTICAL in every recursion round, so the broadcast exchange is
    // built once and reused across rounds (a frontier broadcast instead
    // collects a NEW driver-side build every round — per-round RPC that
    // multiplied under a real cluster master). Size-guarded like every
    // broadcast in the engine: edges ≈ 2·|part| rows × 16 B; over
    // budget we plant nothing and AQE decides from runtime stats.
    val hint = if (maxKey * 32L <= budget) "/*+ BROADCAST(e) */ " else ""
    s.sql(
      s"""WITH RECURSIVE reach(node, depth) AS (
        |  SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
        |  UNION ALL
        |  SELECT ${hint}e.child, r.depth + 1
        |  FROM reach r
        |  JOIN edges_rc e ON e.parent = r.node)
        |SELECT node, depth FROM reach ORDER BY node""".stripMargin)
  }

  private val recursiveCteSql =
    """WITH RECURSIVE reach(node, depth) AS (
      |  SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
      |  UNION ALL
      |  SELECT e.child, r.depth + 1
      |  FROM reach r
      |  JOIN (SELECT p_partkey AS parent, p_partkey * 2 AS child FROM part
      |        UNION ALL
      |        SELECT p_partkey, p_partkey * 2 + 1 FROM part) e
      |    ON e.parent = r.node
      |  WHERE e.child <= (SELECT MAX(p_partkey) FROM part))
      |SELECT node, depth FROM reach ORDER BY node""".stripMargin

  // GROUP BY ALL / ORDER BY ALL (the modern-SQL sugar both engines
  // support): every non-aggregate select item becomes a group key
  private val groupByAll: Q = (s, dir) => {
    load(s, dir, "orders").createOrReplaceTempView("orders_gba")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders_gba
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin)
  }

  private val groupByAllSql =
    """SELECT o_orderstatus, o_orderpriority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY ALL
      |ORDER BY ALL""".stripMargin

  // SQL pipe syntax (|> operators, Spark 4): same semantics as the
  // nested form — the oracle IS the standard-SQL spelling, proving the
  // pipe chain plans identically
  private val pipeSyntax: Q = (s, dir) => {
    load(s, dir, "lineitem").createOrReplaceTempView("lineitem_pipe")
    s.sql(
      """FROM lineitem_pipe
        ||> WHERE l_quantity > 45
        ||> AGGREGATE COUNT(*) AS n,
        |     CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
        |   GROUP BY l_returnflag
        ||> WHERE n > 10
        ||> ORDER BY l_returnflag""".stripMargin)
  }

  private val pipeSyntaxSql =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
      |FROM lineitem
      |WHERE l_quantity > 45
      |GROUP BY l_returnflag
      |HAVING COUNT(*) > 10
      |ORDER BY l_returnflag""".stripMargin

  // try_-prefixed ANSI-safe aggregates: NULL instead of error on
  // overflow (ANSI mode is on engine-wide)
  private val tryAggs: Q = (s, dir) => {
    load(s, dir, "lineitem").createOrReplaceTempView("lineitem_try")
    s.sql(
      """SELECT l_returnflag,
        |  try_sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_sum,
        |  CAST(try_avg(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_avg,
        |  try_sum(try_multiply(CAST(l_extendedprice AS BIGINT), CAST(9e17 AS BIGINT))) AS overflow_null
        |FROM lineitem_try
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .withColumn("qty_sum", dbl(col("qty_sum")))
  }

  private val tryAggsSql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_sum,
      |  round(AVG(CAST(l_quantity AS DECIMAL(12,2))), 6) AS qty_avg,
      |  CAST(NULL AS BIGINT) AS overflow_null
      |FROM lineitem
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // RDD → DataFrame entry (the RDDScanExec path): imperative
  // per-partition generation handed to Catalyst through
  // createDataFrame(rdd, schema) — the §2.1 "RDDScan" row, oracled
  private val rddScan: Q = (s, dir) => {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val rdd = s.sparkContext.parallelize(1 to 1000, 8)
      .map(i => Row(i.toLong, (i % 7).toLong, i * 0.5))
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("grp", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false)))
    s.createDataFrame(rdd, schema)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec(col("v")))).as("sv"),
        max(col("id")).as("mx"))
      .orderBy(col("grp"))
  }

  private val rddScanSql =
    """SELECT i % 7 AS grp, COUNT(*) AS n,
      |  CAST(SUM(CAST(i * 0.5 AS DECIMAL(12,2))) AS DOUBLE) AS sv,
      |  MAX(i) AS mx
      |FROM (SELECT unnest(generate_series(1, 1000)) AS i)
      |GROUP BY 1 ORDER BY grp""".stripMargin

  // Spark-4 SQL SCRIPTING (BEGIN…END, DECLARE, WHILE, SET with scalar
  // subqueries): a 2-step iterated trimmed mean — each pass recomputes
  // the mean over rows at-or-above the previous cutoff, state carried in
  // a script variable. Control flow runs on the driver; every SET still
  // evaluates as a full distributed aggregate. Decimal-exact SUM/COUNT
  // (not AVG) so both engines divide identical numbers. Oracle = the
  // two iterations unrolled as CTEs.
  private val sqlScripting: Q = (s, dir) => {
    graft.Tables.registerAll(s, dir)
    s.conf.set("spark.sql.scripting.enabled", "true")
    s.sql(
      """BEGIN
        |  DECLARE cutoff DOUBLE DEFAULT 0;
        |  DECLARE it INT DEFAULT 0;
        |  WHILE it < 2 DO
        |    SET cutoff = (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        |                  FROM orders WHERE CAST(o_totalprice AS DOUBLE) >= cutoff);
        |    SET it = it + 1;
        |  END WHILE;
        |  SELECT it AS iterations, ROUND(cutoff, 6) AS trimmed_cutoff,
        |    (SELECT COUNT(*) FROM orders WHERE CAST(o_totalprice AS DOUBLE) >= cutoff) AS n_above;
        |END""".stripMargin)
  }

  private val sqlScriptingSql =
    """WITH c0 AS (
      |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS c
      |  FROM orders),
      |c1 AS (
      |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS c
      |  FROM orders, c0 WHERE CAST(o_totalprice AS DOUBLE) >= c0.c)
      |SELECT 2 AS iterations, ROUND(c1.c, 6) AS trimmed_cutoff,
      |  (SELECT COUNT(*) FROM orders, c1 WHERE CAST(o_totalprice AS DOUBLE) >= c1.c) AS n_above
      |FROM c1""".stripMargin

  // staged conversion funnel: first view → first click AFTER that view →
  // first purchase AFTER that click, per user. Three aggregations all
  // keyed on user_id — co-partitioned shuffles that AQE plans once; each
  // stage's output is orders-of-magnitude smaller than the events scan,
  // so at 100 TB this is one fact pass plus two cheap shrinking joins.
  private val evFunnel: Q = (s, dir) => {
    val ev = load(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
    val viewed = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val clicked = ev.filter(col("event_type") === "click")
      .join(viewed, "user_id").filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val bought = ev.filter(col("event_type") === "purchase")
      .join(clicked, "user_id").filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_buy"))
    viewed.agg(count(lit(1)).as("n_view"))
      .crossJoin(clicked.agg(count(lit(1)).as("n_click")))
      .crossJoin(bought.agg(count(lit(1)).as("n_purchase")))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        round(col("n_purchase") / col("n_view"), 6).as("conv"))
  }

  private val evFunnelSql =
    """WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
      |      JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.ts) AS t_buy FROM events e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
      |SELECT (SELECT COUNT(*) FROM v) AS n_view,
      |  (SELECT COUNT(*) FROM c) AS n_click,
      |  (SELECT COUNT(*) FROM p) AS n_purchase,
      |  ROUND((SELECT COUNT(*) FROM p) * 1.0e0 / (SELECT COUNT(*) FROM v), 6) AS conv""".stripMargin

  // weekly retention cohorts: cohort = ISO week of a user's first event,
  // cell (cohort, k) = distinct users active k weeks later, k ≤ 3. One
  // user-week dedup shuffle + one user-keyed min + a co-partitioned join;
  // the distinct-count regroups on (cohort, k) — all bounded keyspaces.
  private val evRetention: Q = (s, dir) => {
    val wk = load(s, dir, "events")
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    val cohort = wk.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    wk.join(cohort, "user_id")
      .withColumn("k", (datediff(col("wk"), col("cohort")) / 7).cast("int"))
      .filter(col("k") <= 3)
      .groupBy(col("cohort"), col("k"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("cohort").cast("string").as("cohort"), col("k"), col("n_users"))
      .orderBy(col("cohort"), col("k"))
  }

  private val evRetentionSql =
    """WITH wk AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      |cohort AS (SELECT user_id, MIN(wk) AS cohort FROM wk GROUP BY 1)
      |SELECT CAST(c.cohort AS VARCHAR) AS cohort,
      |  CAST(date_diff('day', c.cohort, w.wk) / 7 AS INTEGER) AS k,
      |  COUNT(DISTINCT w.user_id) AS n_users
      |FROM wk w JOIN cohort c ON w.user_id = c.user_id
      |WHERE date_diff('day', c.cohort, w.wk) / 7 <= 3
      |GROUP BY 1, 2 ORDER BY cohort, k""".stripMargin

  /** Robust anomaly detection per event type: median + MAD (median
    * absolute deviation), flagging |x − med| > 3·1.4826·MAD — the
    * standard robust z-score gate a data-quality monitor runs over an
    * ingest stream (mean/stddev gates are themselves corrupted by the
    * outliers they hunt; the median/MAD pair is 50%-breakdown robust).
    * Three keyed aggregations over the bounded event-type vocabulary —
    * the per-type median is exact (Spark's sort-based `median`), and the
    * tiny med/MAD tables broadcast back onto the stream, so nothing
    * driver-side scales with the data. Values sit on a 0.01 grid ⇒
    * medians land on the 0.0025 grid, so round-6 is grid-exact and
    * absorbs the lo+(hi−lo)·0.5 vs (lo+hi)/2 interpolation-ulp
    * difference between engines. */
  private val evAnomalyMad: Q = (s, dir) => {
    val ev = load(s, dir, "events").select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(round(median(col("value")), 6).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", round(abs(col("value") - col("med")), 6))
    val mad = dev.groupBy(col("event_type"))
      .agg(round(median(col("adev")), 6).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  private val evAnomalyMadSql =
    """WITH med AS (
      |  SELECT event_type, ROUND(MEDIAN(value), 6) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type, e.value, m.med,
      |    ROUND(ABS(e.value - m.med), 6) AS adev
      |  FROM events e JOIN med m ON e.event_type = m.event_type),
      |mad AS (
      |  SELECT event_type, ROUND(MEDIAN(adev), 6) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT d.event_type, COUNT(*) AS n, MIN(d.med) AS med, MIN(a.mad) AS mad,
      |  CAST(SUM(CASE WHEN d.adev > 3.0e0 * 1.4826e0 * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad a ON d.event_type = a.event_type
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  /** Schema-agnostic column profiler (the `df.summary()` /
    * data-catalog-ingest shape): every column is cast to string and
    * unpivoted via `stack`, then ONE hash aggregation computes per-column
    * row count, null count, distinct count, and lexicographic min/max.
    * The stack is a Generate (no shuffle, no column explosion in the
    * scan — ReadSchema still lists only the profiled columns); the
    * single shuffle is keyed on the 5-value column-name vocabulary.
    * Profiling 100 TB is therefore one pass over the data regardless of
    * column count. */
  private val apiProfileColumns: Q = (s, dir) =>
    load(s, dir, "customer")
      .select(expr(
        """stack(5,
          |  'c_custkey', cast(c_custkey as string),
          |  'c_name', c_name,
          |  'c_nationkey', cast(c_nationkey as string),
          |  'c_acctbal', cast(c_acctbal as string),
          |  'c_mktsegment', c_mktsegment) as (col_name, val)""".stripMargin))
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col("val")).as("n_distinct"),
        min(col("val")).as("min_val"),
        max(col("val")).as("max_val"))
      .orderBy(col("col_name"))

  private val apiProfileColumnsSql =
    """WITH u AS (
      |  SELECT 'c_custkey' AS col_name, CAST(c_custkey AS VARCHAR) AS val FROM customer
      |  UNION ALL SELECT 'c_name', c_name FROM customer
      |  UNION ALL SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
      |  UNION ALL SELECT 'c_acctbal', CAST(c_acctbal AS VARCHAR) FROM customer
      |  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer)
      |SELECT col_name, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      |  COUNT(DISTINCT val) AS n_distinct,
      |  MIN(val) AS min_val, MAX(val) AS max_val
      |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin

  /** Spark 4.0 `DataFrame.transpose()` — rows↔columns flip of a small
    * report (the API face of the pivot family): per-language doc/char
    * totals transposed so each measure becomes a row keyed `key` and
    * each language a bigint column. Transpose collects the index values
    * to name the output columns, so it is a REPORT-GRAIN operator by
    * contract (column count = distinct index values — bounded by the
    * lang vocabulary here); the heavy lifting (the groupBy) stays
    * distributed. Oracle: conditional aggregation builds the identical
    * transposed table. */
  private val apiTranspose: Q = (s, dir) =>
    load(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("lang"))
      .transpose()
      .orderBy(col("key"))

  private val apiTransposeSql =
    """WITH m AS (
      |  SELECT 'n_docs' AS key,
      |    count(*) FILTER (WHERE lang = 'de') AS de,
      |    count(*) FILTER (WHERE lang = 'en') AS en,
      |    count(*) FILTER (WHERE lang = 'es') AS es,
      |    count(*) FILTER (WHERE lang = 'fr') AS fr,
      |    count(*) FILTER (WHERE lang = 'zh') AS zh
      |  FROM documents
      |  UNION ALL
      |  SELECT 'n_chars',
      |    CAST(sum(n_chars) FILTER (WHERE lang = 'de') AS BIGINT),
      |    CAST(sum(n_chars) FILTER (WHERE lang = 'en') AS BIGINT),
      |    CAST(sum(n_chars) FILTER (WHERE lang = 'es') AS BIGINT),
      |    CAST(sum(n_chars) FILTER (WHERE lang = 'fr') AS BIGINT),
      |    CAST(sum(n_chars) FILTER (WHERE lang = 'zh') AS BIGINT)
      |  FROM documents)
      |SELECT * FROM m ORDER BY key""".stripMargin

  /** Bradley-Terry preference aggregation — the reward-model data-prep
    * step of an RLHF pipeline: pairwise duels (here: a user's top event
    * type on a day beats the runner-up, ranked (count desc, type) for
    * determinism) are reduced to per-item strength scores via 3 rounds
    * of the Hunter-2004 minorization-maximization update
    * s_i ← W_i / Σ_j n_ij/(s_i+s_j), sum-normalized each round.
    * Distribution contract: the duel extraction is one window over
    * (user, day) partitions + one pair-count shuffle. The resulting
    * (win, lose, n) table is bounded by the item vocabulary, not the
    * data: at most k(k-1) rows for k event types. It is collected ONCE
    * (at most [[BtMaxWinPairs]] rows, checked: a larger table fails the
    * query, see [[bradleyTerryMM]]) and the MM rounds run on the driver
    * in O(k²) each, so construction costs the duel pipeline's jobs and
    * nothing per round. Every aggregate (denominator, raw score,
    * normalizer) is FLOAT-quantized and summed in item order, so
    * summation order cannot split the engines; the DuckDB oracle
    * unrolls the same 3 rounds. Rounding and ordering stay Spark
    * expressions over the local result. */
  private val evPrefBradleyTerry: Q = (s, dir) => {
    val byDay = load(s, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("cnt").desc, col("event_type"))
    val ranked = byDay.withColumn("rn", row_number().over(w))
    // r15: the rn=1 ⋈ rn=2 self-join planned the groupBy+window subtree
    // twice and added a (user, d) join; a single conditional aggregate
    // over rn ≤ 2 rows reuses the window's (user, d) partitioning (no
    // extra exchange — same keys, guide §2.4) and emits the identical
    // duel set: a (user, d) with no runner-up has lose NULL and is
    // filtered exactly like the old inner join dropped it.
    val duels = ranked.filter(col("rn") <= 2)
      .groupBy(col("user_id"), col("d"))
      .agg(max(when(col("rn") === 1, col("event_type"))).as("win"),
        max(when(col("rn") === 2, col("event_type"))).as("lose"))
      .filter(col("lose").isNotNull)
    // one over-limit fetch: the bound check and the table in one job
    val wins = duels.groupBy(col("win"), col("lose")).agg(count(lit(1)).as("n"))
      .orderBy(col("win"), col("lose")).limit(BtMaxWinPairs + 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val rows = bradleyTerryMM(wins, rounds = 3).map { case (item, nWins, nGames, sc) =>
      org.apache.spark.sql.Row(item, nWins, nGames, sc) }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "item STRING, n_wins BIGINT, n_games BIGINT, s DOUBLE")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .select(col("item"), col("n_wins"), col("n_games"), round(col("s"), 6).as("score"))
      .orderBy(col("item"))
  }

  /** Item bound of the driver-side Bradley-Terry loop: k event types
    * give at most k(k-1) (win, lose) rows. */
  private[graft] val BtMaxItems = 100
  private[graft] val BtMaxWinPairs = BtMaxItems * (BtMaxItems - 1)

  /** The MM rounds of [[evPrefBradleyTerry]] over its collected
    * (win, lose, n) table; returns (item, n_wins, n_games, s) sorted by
    * item. Mirrors the oracle's relational plan exactly:
    *   - n_ij sums n over both directions; n_games_i = Σ_j n_ij;
    *   - round 0 scores every item that played, s = 1;
    *   - a round keeps only pairs whose two items both hold a score,
    *     and scores only items with at least one win (the oracle's
    *     inner joins), so a winless item drops out after round 1;
    *   - den, raw score and normalizer are each rounded to FLOAT, and
    *     every sum runs in item order.
    * Rejects a table over [[BtMaxWinPairs]] rows, naming k. */
  private[graft] def bradleyTerryMM(wins: Seq[(String, String, Long)], rounds: Int)
      : Seq[(String, Long, Long, Double)] = {
    if (wins.length > BtMaxWinPairs) {
      val k = wins.iterator.flatMap(w => Iterator(w._1, w._2)).toSet.size
      throw new IllegalStateException(
        s"ev_pref_bradley_terry: the wins table exceeds $BtMaxWinPairs (win, lose) rows, " +
          s"so the item vocabulary k (at least $k items) is over the driver-side MM bound " +
          s"k <= $BtMaxItems")
    }
    def fq(x: Double): Double = x.toFloat.toDouble
    val nij = (wins.map(w => (w._1, w._2) -> w._3) ++ wins.map(w => (w._2, w._1) -> w._3))
      .groupMapReduce(_._1)(_._2)(_ + _)
    val opponents: Map[String, Seq[(String, Double)]] = nij.toSeq
      .groupMap(_._1._1) { case ((_, j), n) => (j, n.toDouble) }
      .map { case (i, js) => i -> js.sortBy(_._1) }
    val nWins = wins.groupMapReduce(_._1)(_._3)(_ + _)
    val nGames = nij.groupMapReduce(_._1._1)(_._2)(_ + _)
    val items = opponents.keys.toSeq.sorted
    var sc: Map[String, Double] = items.map(_ -> 1.0).toMap
    for (_ <- 1 to rounds) {
      val raw = items.filter(i => sc.contains(i) && nWins.contains(i)).flatMap { i =>
        val terms = opponents(i).collect { case (j, n) if sc.contains(j) => n / (sc(i) + sc(j)) }
        if (terms.isEmpty) None else Some(i -> fq(nWins(i).toDouble / fq(terms.sum)))
      }
      val tot = fq(raw.map(_._2).sum)
      sc = raw.map { case (i, r) => i -> fq(r / tot) }.toMap
    }
    items.filter(sc.contains).map(i => (i, nWins(i), nGames(i), sc(i)))
  }

  private def btRoundSql(k: Int): String =
    s"""d$k AS (
       |  SELECT p.i, CAST(CAST(SUM(p.nij / (si.s + sj.s)) AS REAL) AS DOUBLE) AS den
       |  FROM p JOIN s${k - 1} si ON si.item = p.i JOIN s${k - 1} sj ON sj.item = p.j
       |  GROUP BY p.i),
       |raw$k AS (
       |  SELECT wt.i, CAST(CAST(wt.w / d.den AS REAL) AS DOUBLE) AS sraw
       |  FROM wt JOIN d$k d ON d.i = wt.i),
       |tot$k AS (SELECT CAST(CAST(SUM(sraw) AS REAL) AS DOUBLE) AS tot FROM raw$k),
       |s$k AS (
       |  SELECT i AS item, CAST(CAST(sraw / tot AS REAL) AS DOUBLE) AS s
       |  FROM raw$k CROSS JOIN tot$k)""".stripMargin

  private val evPrefBradleyTerrySql =
    s"""WITH byday AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d, event_type, COUNT(*) AS cnt
       |  FROM events GROUP BY 1, 2, 3),
       |rk AS (
       |  SELECT user_id, d, event_type, ROW_NUMBER() OVER (
       |    PARTITION BY user_id, d ORDER BY cnt DESC, event_type) AS rn FROM byday),
       |duels AS (
       |  SELECT w.event_type AS win, l.event_type AS lose
       |  FROM rk w JOIN rk l ON w.user_id = l.user_id AND w.d = l.d
       |  WHERE w.rn = 1 AND l.rn = 2),
       |wins AS (SELECT win, lose, COUNT(*) AS n FROM duels GROUP BY 1, 2),
       |p AS (
       |  SELECT i, j, CAST(SUM(n) AS DOUBLE) AS nij FROM (
       |    SELECT win AS i, lose AS j, n FROM wins
       |    UNION ALL SELECT lose, win, n FROM wins)
       |  GROUP BY 1, 2),
       |wt AS (SELECT win AS i, CAST(SUM(n) AS BIGINT) AS n_wins,
       |       CAST(SUM(n) AS DOUBLE) AS w FROM wins GROUP BY 1),
       |games AS (SELECT i, CAST(SUM(nij) AS BIGINT) AS n_games FROM p GROUP BY 1),
       |s0 AS (SELECT DISTINCT i AS item, 1.0e0 AS s FROM p),
       |${(1 to 3).map(btRoundSql).mkString(",\n")}
       |SELECT s3.item, wt.n_wins, games.n_games, ROUND(s3.s, 6) AS score
       |FROM s3 JOIN wt ON wt.i = s3.item JOIN games ON games.i = s3.item
       |ORDER BY s3.item""".stripMargin

  /** Last-touch attribution — the marketing/data-curation classic: each
    * purchase is credited to the user's most recent click/view STRICTLY
    * before it. One window pass (partition user, order ts) with an
    * IGNORE-NULLS `last` over `ROWS UNBOUNDED PRECEDING .. 1 PRECEDING`
    * — no self-join, no per-user collect; at 100 TB this is exactly one
    * shuffle on user_id and the frame is streaming-evaluable (Spark's
    * UnboundedPreceding window state is O(1) per row for `last`).
    * Decimal-cast revenue keeps the cross-engine sum exact. */
  private val evAttributionLastTouch: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    load(s, dir, "events")
      .withColumn("touch",
        when(col("event_type").isin("click", "view"), col("event_type")))
      .withColumn("last_touch", last(col("touch"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("last_touch"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        dbl(sum(dec(col("value")))).as("revenue"))
      .orderBy(col("channel"))
  }

  private val evAttributionLastTouchSql =
    """WITH t AS (
      |  SELECT event_type, value,
      |    last_value(CASE WHEN event_type IN ('click','view')
      |                    THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS last_touch
      |  FROM events)
      |SELECT COALESCE(last_touch, 'none') AS channel,
      |  COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM t WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY channel""".stripMargin

  /** Linear multi-touch attribution — the complement of
    * [[evAttributionLastTouch]]: every click/view PRECEDING a purchase
    * (same user, same day) shares the purchase's revenue equally. One
    * windowed pass tags each touch with the count of touches seen so
    * far; the purchase row reads that running count and its revenue
    * splits 1/n to each preceding touch's channel — implemented as a
    * second window (sum of per-purchase shares per channel would need a
    * join; instead each purchase's value/n_touches is distributed by
    * joining purchases back to the day's touches, a per-(user, day)
    * equi-join that shuffles once on the session key). Revenue stays on
    * the exact decimal path; shares are n-way divisions of exact
    * decimals, 4-dp rounded. */
  private val evAttributionLinear: Q = (s, dir) => {
    val ev = load(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"), col("ts"),
        col("event_id"), col("event_type"), col("value"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("d"), col("ts").as("t_ts"),
        col("event_id").as("t_id"), col("event_type").as("channel"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("d"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), dec(col("value")).as("revenue"))
    val credited = purchases.join(touches, Seq("user_id", "d"))
      .filter(col("t_ts") < col("p_ts") ||
        (col("t_ts") === col("p_ts") && col("t_id") < col("p_id")))
    val wn = Window.partitionBy(col("p_id"))
    credited
      .withColumn("n_touches", count(lit(1)).over(wn))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"),
        round(sum(col("revenue").cast("double") / col("n_touches")), 4)
          .as("attributed_revenue"))
      .orderBy(col("channel"))
  }

  private val evAttributionLinearSql =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, ts, event_id, event_type, value
      |  FROM events),
      |t AS (SELECT user_id, d, ts AS t_ts, event_id AS t_id,
      |             event_type AS channel
      |      FROM ev WHERE event_type IN ('click','view')),
      |p AS (SELECT user_id, d, ts AS p_ts, event_id AS p_id,
      |             CAST(value AS DECIMAL(12,2)) AS revenue
      |      FROM ev WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT p.p_id, t.channel, p.revenue
      |  FROM p JOIN t ON p.user_id = t.user_id AND p.d = t.d
      |  WHERE t.t_ts < p.p_ts OR (t.t_ts = p.p_ts AND t.t_id < p.p_id)),
      |n AS (
      |  SELECT p_id, channel, revenue,
      |    COUNT(*) OVER (PARTITION BY p_id) AS n_touches
      |  FROM c)
      |SELECT channel, COUNT(*) AS n_credits,
      |  ROUND(SUM(CAST(revenue AS DOUBLE) / n_touches), 4)
      |    AS attributed_revenue
      |FROM n GROUP BY channel ORDER BY channel""".stripMargin

  /** Time-series resampling onto a regular hourly grid with
    * forward-fill — the gap-filling step before any windowed feature
    * extraction over irregular event streams. The dense grid is built
    * WITHOUT a driver loop: one broadcast 1-row (min, max) aggregate ×
    * the distinct type vocabulary, `sequence()` exploded into hourly
    * slots; actual hourly means left-join onto the grid and holes
    * forward-fill via IGNORE-NULLS `last` over the per-type window. Two
    * small shuffles (hourly agg, per-type window); the grid explode is
    * linear in (types × hours), never in events. Hourly means come from
    * the exact 0.0025-grid quantization (see [[evAbTestWelch]]). */
  /** Exponential smoothing (EWMA, α=0.3) over per-type daily means —
    * the classic metric-smoothing pass next to [[evRollingDrift]]'s
    * z-gate. The recurrence s_i = α·x_i + (1−α)·s_{i−1} (seeded
    * s_1 = x_1) is inherently sequential, so it runs as a bounded
    * `aggregate` HOF over the day-sorted per-type series (the day
    * vocabulary is calendar-bounded — ~30 elements — regardless of
    * corpus size; the unbounded dimension, events per day, was already
    * collapsed by the daily mean shuffle). Every step rounds at 6 dp so
    * both engines walk the identical double sequence; DuckDB mirrors
    * the fold with `list_reduce` over `list_slice` prefixes. */
  private val evEwma: Q = (s, dir) => {
    // INTEGER-EXACT formulation on the 1e-6 grid (round 14): the old
    // per-step round(double, 6) walk diverged from DuckDB by 1e-6 on 3
    // of ~2000 sf1 rows — round-on-double is engine-dependent exactly
    // at .5e-6 boundaries, and a longer corpus eventually lands on one.
    // Now every quantity is a BIGINT of micro-units: the daily mean is
    // the half-up integer division 2500·Σvq/cnt (m·1e6 = Σvq/cnt/400 ·
    // 1e6), and the recurrence s_i = (3·x_i + 7·s_{i−1} + 5) div 10 is
    // exact integer arithmetic both engines compute bit-identically; no
    // float participates until the final exact /1e6 renders. floor(n/d)
    // is built from pmod so the double division is of two exact
    // multiples (quotient < 2^53 — exact). This floors toward -inf for
    // NEGATIVE n too, and the oracle SQL mirrors the same pmod floor
    // explicitly (DuckDB's bare `//` truncates toward zero) — parity
    // holds for all inputs, not just the value>=0 corpora ship today.
    def floorDiv(n: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =
      ((n - pmod(n, d)) / d).cast("long")
    val daily = load(s, dir, "events")
      .withColumn("vq", round(col("value") * 400).cast("long"))
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(col("vq")).as("sq"), count(lit(1)).as("cnt"))
      // x' = round_half_up(2500·sq/cnt) = floor((5000·sq + cnt) / (2·cnt))
      .withColumn("xq", floorDiv(lit(5000L) * col("sq") + col("cnt"), lit(2L) * col("cnt")))
    val series = daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("d"), col("xq")))).as("sv"))
      .withColumn("ms", transform(col("sv"), x => x.getField("xq")))
    series
      .select(col("event_type"), col("ms"),
        posexplode(col("sv")).as(Seq("i0", "e")))
      .select(col("event_type"), col("e.d").cast("string").as("d"),
        (col("e.xq").cast("double") / 1e6).as("mean_v"),
        (aggregate(slice(col("ms"), lit(2), col("i0")), element_at(col("ms"), 1),
          (acc, x) => floorDiv(lit(3L) * x + lit(7L) * acc + lit(5L), lit(10L)))
          .cast("double") / 1e6).as("ewma"))
      .orderBy(col("event_type"), col("d"))
  }

  // DuckDB's integer `//` TRUNCATES toward zero (-7//2 = -3) while the
  // engine's pmod-built floorDiv floors toward -inf — divergent by 1
  // micro-unit the moment any operand goes negative (advisor r14). The
  // oracle therefore floors EXPLICITLY with the same pmod construction:
  // (n - ((n % d + d) % d)) // d — the numerator is then an exact
  // multiple of d, and truncating division of an exact multiple IS
  // floor. Pure integer arithmetic, engine-independent for ALL inputs
  // (current corpora have value >= 0, but parity must not rely on it).
  private val evEwmaSql =
    """WITH daily0 AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    5000 * SUM(CAST(round(value * 400) AS BIGINT)) + COUNT(*) AS n,
      |    2 * COUNT(*) AS dd
      |  FROM events GROUP BY 1, 2),
      |daily AS (
      |  SELECT event_type, d, (n - ((n % dd + dd) % dd)) // dd AS xq
      |  FROM daily0),
      |series AS (
      |  SELECT event_type,
      |    list(CAST(d AS VARCHAR) ORDER BY d) AS ds,
      |    list(xq ORDER BY d) AS ms
      |  FROM daily GROUP BY 1)
      |SELECT event_type, ds[i] AS d,
      |  CAST(ms[i] AS DOUBLE) / 1000000 AS mean_v,
      |  CAST(list_reduce(list_slice(ms, 1, i),
      |    (acc, x) -> (3 * x + 7 * acc + 5
      |                 - (((3 * x + 7 * acc + 5) % 10 + 10) % 10)) // 10)
      |    AS DOUBLE) / 1000000 AS ewma
      |FROM series, unnest(generate_series(1, len(ms))) AS t(i)
      |ORDER BY event_type, d""".stripMargin

  /** CUSUM changepoint detection (Page 1954) over per-type daily means
    * — completes the monitoring family next to [[evEwma]] (smoothing),
    * `ev_rolling_drift` (z-gate) and `ev_anomaly_mad` (robust gate):
    * c_i = max(0, c_{i−1} + x_i − μ − 0.5σ), alarm when c_i > 4σ —
    * the sequential statistic that catches small sustained shifts a
    * per-point z-test misses. Same scale shape as EWMA: the recurrence
    * folds over the calendar-bounded day series via `aggregate`, with
    * μ/σ derived from the same bounded list; every step rounds 6 dp so
    * the DuckDB `list_reduce` mirror walks identical doubles. */
  private val evCusum: Q = (s, dir) => {
    val daily = load(s, dir, "events")
      .withColumn("vq", round(col("value") * 400).cast("long"))
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg((sum(col("vq")).cast("double") / count(lit(1)) / 400).as("m"))
    val series = daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("d"), col("m")))).as("sv"))
      .withColumn("ms", transform(col("sv"), x => round(x.getField("m"), 6)))
      .withColumn("mu", round(aggregate(col("ms"), lit(0.0), (a, x) => a + x) /
        size(col("ms")), 6))
      .withColumn("sd", round(sqrt(
        aggregate(col("ms"), lit(0.0),
          (a, x) => a + (x - col("mu")) * (x - col("mu"))) /
          (size(col("ms")) - 1)), 6))
    series
      .select(col("event_type"), col("ms"), col("mu"), col("sd"),
        posexplode(col("sv")).as(Seq("i0", "e")))
      .withColumn("cusum", aggregate(
        slice(col("ms"), lit(1), col("i0") + 1), lit(0.0),
        (acc, x) => round(greatest(lit(0.0),
          acc + x - col("mu") - lit(0.5) * col("sd")), 6)))
      .select(col("event_type"), col("e.d").cast("string").as("d"),
        round(col("e.m"), 6).as("mean_v"), col("cusum"),
        (round(col("cusum") - lit(4.0) * col("sd"), 6) > 0).as("alarm"))
      .orderBy(col("event_type"), col("d"))
  }

  private val evCusumSql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(round(value * 400) AS BIGINT)) AS DOUBLE)
      |      / COUNT(*) / 400 AS m
      |  FROM events GROUP BY 1, 2),
      |series AS (
      |  SELECT event_type,
      |    list(CAST(d AS VARCHAR) ORDER BY d) AS ds,
      |    list(round(m, 6) ORDER BY d) AS ms
      |  FROM daily GROUP BY 1),
      |stats AS (
      |  SELECT event_type, ds, ms,
      |    round(list_sum(ms) / len(ms), 6) AS mu
      |  FROM series),
      |stats2 AS (
      |  SELECT event_type, ds, ms, mu,
      |    round(sqrt(list_sum(list_transform(ms, x -> (x - mu) * (x - mu)))
      |               / (len(ms) - 1)), 6) AS sd
      |  FROM stats)
      |SELECT event_type, ds[i] AS d, ms[i] AS mean_v,
      |  list_reduce(list_prepend(0.0e0, list_slice(ms, 1, i)),
      |    (acc, x) -> round(greatest(0.0e0, acc + x - mu - 0.5e0 * sd), 6)) AS cusum,
      |  round(list_reduce(list_prepend(0.0e0, list_slice(ms, 1, i)),
      |    (acc, x) -> round(greatest(0.0e0, acc + x - mu - 0.5e0 * sd), 6))
      |    - 4.0e0 * sd, 6) > 0 AS alarm
      |FROM stats2, unnest(generate_series(1, len(ms))) AS t(i)
      |ORDER BY event_type, d""".stripMargin

  private val evResampleFfill: Q = (s, dir) => {
    val ev = load(s, dir, "events")
    val hourly = ev
      .withColumn("vq", round(col("value") * 400).cast("long"))
      .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("h"))
      .agg((sum(col("vq")).cast("double") / count(lit(1)) / 400).as("mean_v"))
    val bounds = ev.agg(date_trunc("HOUR", min(col("ts"))).as("h0"),
      date_trunc("HOUR", max(col("ts"))).as("h1"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL '1' HOUR"))).as("h"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("filled", col("mean_v").isNull)
      .withColumn("v", last(col("mean_v"), ignoreNulls = true).over(w))
      .filter(col("v").isNotNull) // leading holes before the first sample
      .select(col("event_type"), col("h").cast("string").as("h"),
        round(col("v"), 6).as("v"), col("filled"))
      .orderBy(col("event_type"), col("h"))
  }

  private val evResampleFfillSql =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h,
      |    CAST(SUM(CAST(round(value * 400) AS BIGINT)) AS DOUBLE)
      |      / COUNT(*) / 400 AS mean_v
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT date_trunc('hour', MIN(ts)) AS h0,
      |             date_trunc('hour', MAX(ts)) AS h1 FROM events),
      |grid AS (
      |  SELECT t.event_type, g.h
      |  FROM (SELECT DISTINCT event_type FROM events) t
      |  CROSS JOIN b, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS g(h)),
      |j AS (
      |  SELECT g.event_type, g.h, hourly.mean_v,
      |    hourly.mean_v IS NULL AS filled,
      |    last_value(hourly.mean_v IGNORE NULLS)
      |      OVER (PARTITION BY g.event_type ORDER BY g.h
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      |  FROM grid g LEFT JOIN hourly
      |    ON hourly.event_type = g.event_type AND hourly.h = g.h)
      |SELECT event_type, CAST(h AS VARCHAR) AS h, ROUND(v, 6) AS v, filled
      |FROM j WHERE v IS NOT NULL
      |ORDER BY event_type, h""".stripMargin

  /** A/B experiment readout — Welch's unequal-variance t-test per
    * metric: users are deterministically split into two arms by a hash
    * of user_id (the assignment function an experimentation platform
    * ships), and each event_type is read out as (mean, var, n) per arm
    * → Welch t statistic, df, and a z-critical significance flag. The
    * entire test is ONE pass: a per-(type, arm) aggregate — at 100 TB
    * the readout costs one shuffle on the (small) type×arm key space,
    * never a per-user collect. Moments come from exact decimal-cast
    * sums (sum, sum of squares), so both engines compute identical
    * statistics; 6-dp rounding absorbs the final double division. */
  private val evAbTestWelch: Q = (s, dir) => {
    // value sits on the generator's exact 0.0025 grid: vq = 400·value is
    // integral, so sums/sums-of-squares are EXACT longs in both engines
    // and the t/df statistics (scale-invariant) come out bit-identical;
    // only `lift` is rescaled back by /400
    val vq = round(col("value") * 400).cast("long")
    val ev = load(s, dir, "events")
      .withColumn("arm",
        when(ascii(substring(md5(col("user_id").cast("string")), 1, 1)) % 2 === 0,
          "control").otherwise("treatment"))
    val moments = ev.withColumn("vq", vq)
      .groupBy(col("event_type"), col("arm"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("vq")).cast("double").as("sx"),
        sum(col("vq") * col("vq")).cast("double").as("sxx"))
      .select(col("event_type"), col("arm"), col("n"),
        (col("sx") / col("n")).as("mean"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("vr"))
    val a = moments.filter(col("arm") === "control")
      .select(col("event_type"), col("n").as("n_a"), col("mean").as("m_a"),
        col("vr").as("v_a"))
    val b = moments.filter(col("arm") === "treatment")
      .select(col("event_type"), col("n").as("n_b"), col("mean").as("m_b"),
        col("vr").as("v_b"))
    val se2 = col("v_a") / col("n_a") + col("v_b") / col("n_b")
    a.join(b, "event_type")
      .select(col("event_type"),
        col("n_a").cast("long").as("n_control"),
        col("n_b").cast("long").as("n_treatment"),
        round((col("m_b") - col("m_a")) / 400, 6).as("lift"),
        round((col("m_b") - col("m_a")) / sqrt(se2), 6).as("t_welch"),
        round(pow(se2, 2) /
          (pow(col("v_a") / col("n_a"), 2) / (col("n_a") - 1) +
            pow(col("v_b") / col("n_b"), 2) / (col("n_b") - 1)), 2).as("df_welch"),
        (abs((col("m_b") - col("m_a")) / sqrt(se2)) > 1.96)
          .as("significant_5pct"))
      .orderBy(col("event_type"))
  }

  private val evAbTestWelchSql =
    """WITH ev AS (
      |  SELECT event_type, CAST(round(value * 400) AS BIGINT) AS vq,
      |    CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2 = 0
      |         THEN 'control' ELSE 'treatment' END AS arm
      |  FROM events),
      |m AS (
      |  SELECT event_type, arm, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(vq) AS DOUBLE) AS sx,
      |    CAST(SUM(vq * vq) AS DOUBLE) AS sxx
      |  FROM ev GROUP BY 1, 2),
      |mm AS (
      |  SELECT event_type, arm, n, sx / n AS mean,
      |    (sxx - sx * sx / n) / (n - 1) AS vr FROM m),
      |j AS (
      |  SELECT a.event_type, a.n AS n_a, a.mean AS m_a, a.vr AS v_a,
      |         b.n AS n_b, b.mean AS m_b, b.vr AS v_b
      |  FROM mm a JOIN mm b ON a.event_type = b.event_type
      |  WHERE a.arm = 'control' AND b.arm = 'treatment')
      |SELECT event_type,
      |  CAST(n_a AS BIGINT) AS n_control, CAST(n_b AS BIGINT) AS n_treatment,
      |  ROUND((m_b - m_a) / 400, 6) AS lift,
      |  ROUND((m_b - m_a) / sqrt(v_a / n_a + v_b / n_b), 6) AS t_welch,
      |  ROUND(pow(v_a / n_a + v_b / n_b, 2) /
      |    (pow(v_a / n_a, 2) / (n_a - 1) + pow(v_b / n_b, 2) / (n_b - 1)), 2)
      |    AS df_welch,
      |  abs((m_b - m_a) / sqrt(v_a / n_a + v_b / n_b)) > 1.96
      |    AS significant_5pct
      |FROM j ORDER BY event_type""".stripMargin

  /** Metric drift monitor — per-type daily means scored against a
    * TRAILING 7-day window (mean + sample stddev via lagged exact
    * moments), flagging |z| > 2 days. The detector a pipeline runs over
    * its own output statistics to catch upstream regressions. All
    * window arithmetic, one shuffle on event_type; sums decimal-cast so
    * trailing moments match across engines. */
  private val evRollingDrift: Q = (s, dir) => {
    // same exact 0.0025-grid quantization as [[evAbTestWelch]]: daily
    // means derive from exact long sums, the z-score is scale-invariant
    val daily = load(s, dir, "events")
      .withColumn("vq", round(col("value") * 400).cast("long"))
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(col("vq")).cast("double").as("sx"),
        count(lit(1)).cast("double").as("n"))
      .select(col("event_type"), col("d"),
        (col("sx") / col("n") / 400).as("daily_mean"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("n_trail", count(col("daily_mean")).over(w).cast("double"))
      .withColumn("sx_t", sum(col("daily_mean")).over(w))
      .withColumn("sxx_t", sum(col("daily_mean") * col("daily_mean")).over(w))
      .filter(col("n_trail") >= 7)
      .withColumn("mu", col("sx_t") / col("n_trail"))
      .withColumn("sd", sqrt((col("sxx_t") - col("sx_t") * col("sx_t") / col("n_trail")) /
        (col("n_trail") - 1)))
      .withColumn("z", (col("daily_mean") - col("mu")) / col("sd"))
      .select(col("event_type"), col("d").cast("string").as("d"),
        round(col("daily_mean"), 6).as("daily_mean"),
        round(col("z"), 4).as("z"),
        (abs(col("z")) > 2.0).as("drift_flag"))
      .orderBy(col("event_type"), col("d"))
  }

  private val evRollingDriftSql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(round(value * 400) AS BIGINT)) AS DOUBLE)
      |      / COUNT(*) / 400 AS daily_mean
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, d, daily_mean,
      |    CAST(COUNT(daily_mean) OVER w AS DOUBLE) AS n_trail,
      |    SUM(daily_mean) OVER w AS sx_t,
      |    SUM(daily_mean * daily_mean) OVER w AS sxx_t
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d
      |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, CAST(d AS VARCHAR) AS d,
      |  ROUND(daily_mean, 6) AS daily_mean,
      |  ROUND((daily_mean - sx_t / n_trail) /
      |    sqrt((sxx_t - sx_t * sx_t / n_trail) / (n_trail - 1)), 4) AS z,
      |  abs((daily_mean - sx_t / n_trail) /
      |    sqrt((sxx_t - sx_t * sx_t / n_trail) / (n_trail - 1))) > 2.0
      |    AS drift_flag
      |FROM t WHERE n_trail >= 7
      |ORDER BY event_type, d""".stripMargin

  /** First-order Markov transition matrix over per-user event streams
    * (the sequence-modeling prior a behavioral pipeline extracts before
    * training): one user-keyed window `lead` produces the (type →
    * next-type) pairs, then a transition count + row-normalized
    * probability. One shuffle on user_id for the window plus one small
    * agg on the type-pair vocabulary — nothing here scales worse than
    * linearly. Integer counts exact; p = n/n_from is a deterministic
    * per-row ratio, 6-dp rounded. */
  private val evMarkovTransitions: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTot = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("n_from"))
    pairs.join(fromTot, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / col("n_from"), 6).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val evMarkovTransitionsSql =
    """WITH seq AS (
      |  SELECT event_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |pairs AS (
      |  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, SUM(n) AS n_from FROM pairs GROUP BY 1)
      |SELECT p.from_type, p.to_type, p.n,
      |  ROUND(CAST(p.n AS DOUBLE) / tot.n_from, 6) AS p
      |FROM pairs p JOIN tot ON tot.from_type = p.from_type
      |ORDER BY p.from_type, p.to_type""".stripMargin

  /** DPO/RLHF preference-pair assembly: within each (user, day) group
    * the highest-value event is `chosen` and the lowest is `rejected`
    * (deterministic value-then-id tie-breaks), emitted only when the
    * margin is strictly positive — the exact pair-construction step a
    * preference-tuning pipeline runs over judge scores before training.
    * Two ranks over ONE window partition — a single shuffle on the
    * group key, no join: at 100 TB the group key (prompt id) is the
    * natural partitioner and groups are small, so no skew risk. Sits
    * beside [[evPrefBradleyTerry]] (score fitting) as the pair-emission
    * half of the preference pipeline. */
  private val evDpoPairs: Q = (s, dir) => {
    val grp = load(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_id"), col("value"))
    val wTop = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("value").desc, col("event_id").asc)
    val wBot = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("value").asc, col("event_id").asc)
    grp.withColumn("rn_top", row_number().over(wTop))
      .withColumn("rn_bot", row_number().over(wBot))
      .groupBy(col("user_id"), col("d"))
      .agg(
        max(when(col("rn_top") === 1, col("event_id"))).as("chosen_id"),
        max(when(col("rn_top") === 1, col("value"))).as("chosen_value"),
        max(when(col("rn_bot") === 1, col("event_id"))).as("rejected_id"),
        max(when(col("rn_bot") === 1, col("value"))).as("rejected_value"))
      .filter(col("chosen_id") =!= col("rejected_id") &&
        col("chosen_value") > col("rejected_value"))
      .select(col("user_id"), col("d").cast("string").as("d"),
        col("chosen_id"), col("rejected_id"),
        round(col("chosen_value") - col("rejected_value"), 6).as("margin"))
      .orderBy(col("user_id"), col("d"))
  }

  private val evDpoPairsSql =
    """WITH r AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                       ORDER BY value DESC, event_id ASC) AS rn_top,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                       ORDER BY value ASC, event_id ASC) AS rn_bot
      |  FROM events),
      |g AS (
      |  SELECT user_id, d,
      |    MAX(CASE WHEN rn_top = 1 THEN event_id END) AS chosen_id,
      |    MAX(CASE WHEN rn_top = 1 THEN value END) AS chosen_value,
      |    MAX(CASE WHEN rn_bot = 1 THEN event_id END) AS rejected_id,
      |    MAX(CASE WHEN rn_bot = 1 THEN value END) AS rejected_value
      |  FROM r GROUP BY user_id, d)
      |SELECT user_id, CAST(d AS VARCHAR) AS d, chosen_id, rejected_id,
      |  ROUND(chosen_value - rejected_value, 6) AS margin
      |FROM g
      |WHERE chosen_id <> rejected_id AND chosen_value > rejected_value
      |ORDER BY user_id, d""".stripMargin

  /** `df.stat.freqItems` face — Spark's one-pass Karp–Papadimitriou–
    * Shenker heavy-hitter sketch. Its contract is a SUPERSET guarantee
    * (every item with frequency > support·n is returned, possibly with
    * false positives), so the gate face exports the EXACTLY-frequent
    * items (DuckDB-recomputable) plus an in-query boolean that each one
    * appears in the sketch output — the guarantee the sketch must never
    * violate. KPS is single-pass constant-memory per partition with a
    * tiny merge, the right shape for a 100 TB first-look profile. */
  private val apiStatFreqItems: Q = (s, dir) => {
    val ev = load(s, dir, "events")
    val support = 0.15
    val freqRow = ev.stat.freqItems(Seq("event_type"), support)
    val items = freqRow.select(
      explode(col("event_type_freqItems")).as("event_type"))
    val n = ev.count()
    val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > n * support)
    exact.join(items.withColumn("in_sketch", lit(true)),
        Seq("event_type"), "left")
      .select(col("event_type"), col("cnt").as("n_exact"),
        coalesce(col("in_sketch"), lit(false)).as("sketch_contains"))
      .orderBy(col("event_type"))
  }

  private val apiStatFreqItemsSql =
    """SELECT event_type, COUNT(*) AS n_exact, true AS sketch_contains
      |FROM events GROUP BY event_type
      |HAVING COUNT(*) > 0.15 * (SELECT COUNT(*) FROM events)
      |ORDER BY event_type""".stripMargin

  /** `df.stat.sampleBy` face — per-stratum Bernoulli sampling with
    * per-key fractions (the mixture-balancing primitive behind
    * source-weighted corpus sampling). Seed semantics are
    * engine-specific, so like [[sampleBernoulli]] the export is exact
    * per-stratum totals plus two fixed properties: the sampled fraction
    * sits inside a 6-sigma binomial band, and a same-seed rerun returns
    * the IDENTICAL per-stratum counts (sampleBy is a pure hash filter —
    * no state, no shuffle, executor-parallel at any scale). */
  private val apiStatSampleBy: Q = (s, dir) => {
    val ev = load(s, dir, "events")
    val fr = Map("click" -> 0.2, "view" -> 0.5, "purchase" -> 1.0)
    def counts(): DataFrame = ev.stat.sampleBy("event_type", fr, 7L)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_sampled"))
    val totals = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_total"))
      .filter(col("event_type").isin(fr.keys.toSeq: _*))
    val a = counts(); val b = counts()
    totals
      .join(a, Seq("event_type"), "left")
      .join(b.withColumnRenamed("n_sampled", "n_rerun"), Seq("event_type"), "left")
      .withColumn("n_sampled", coalesce(col("n_sampled"), lit(0L)))
      .withColumn("n_rerun", coalesce(col("n_rerun"), lit(0L)))
      .withColumn("p", element_at(
        typedLit(fr), col("event_type")))
      .select(col("event_type"), col("n_total"),
        (abs(col("n_sampled").cast("double") / col("n_total") - col("p")) <=
          greatest(lit(0.02),
            lit(6.0) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n_total"))))
          .as("within_binomial_band"),
        (col("n_sampled") === col("n_rerun")).as("seed_deterministic"))
      .orderBy(col("event_type"))
  }

  private val apiStatSampleBySql =
    """SELECT event_type, COUNT(*) AS n_total, true AS within_binomial_band,
      |  true AS seed_deterministic
      |FROM events WHERE event_type IN ('click','view','purchase')
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  private val built: (Map[String, Q], Map[String, String]) = q(
    ("ev_attribution_last_touch" -> evAttributionLastTouch, evAttributionLastTouchSql),
    ("ev_markov_transitions" -> evMarkovTransitions, evMarkovTransitionsSql),
    ("ev_ab_test_welch" -> evAbTestWelch, evAbTestWelchSql),
    ("ev_resample_ffill" -> evResampleFfill, evResampleFfillSql),
    ("ev_ewma_smoothing" -> evEwma, evEwmaSql),
    ("ev_cusum_changepoint" -> evCusum, evCusumSql),
    ("ev_attribution_linear" -> evAttributionLinear, evAttributionLinearSql),
    ("ev_rolling_drift" -> evRollingDrift, evRollingDriftSql),
    ("ev_dpo_pairs" -> evDpoPairs, evDpoPairsSql),
    ("api_stat_freqitems" -> apiStatFreqItems, apiStatFreqItemsSql),
    ("api_stat_sampleby" -> apiStatSampleBy, apiStatSampleBySql),
    ("ev_anomaly_mad" -> evAnomalyMad, evAnomalyMadSql),
    ("api_profile_columns" -> apiProfileColumns, apiProfileColumnsSql),
    ("api_transpose" -> apiTranspose, apiTransposeSql),
    ("ev_pref_bradley_terry" -> evPrefBradleyTerry, evPrefBradleyTerrySql),
    ("sql_scripting" -> sqlScripting, sqlScriptingSql),
    ("ev_funnel_conversion" -> evFunnel, evFunnelSql),
    ("ev_retention_cohorts" -> evRetention, evRetentionSql),
    ("scan_rdd" -> rddScan, rddScanSql),
    ("reshape_unpivot" -> unpivotMeasures, unpivotMeasuresSql),
    ("join_lateral_agg" -> lateralJoin, lateralJoinSql),
    ("sql_recursive_cte" -> recursiveCte, recursiveCteSql),
    ("sql_group_by_all" -> groupByAll, groupByAllSql),
    ("sql_pipe_syntax" -> pipeSyntax, pipeSyntaxSql),
    ("agg_try" -> tryAggs, tryAggsSql),
    ("join_inner" -> joinInner, joinInnerSql),
    ("join_left_outer" -> joinLeftOuter, joinLeftOuterSql),
    ("join_right_outer" -> joinRightOuter, joinRightOuterSql),
    ("join_full_outer" -> joinFullOuter, joinFullOuterSql),
    ("join_left_semi" -> joinLeftSemi, joinLeftSemiSql),
    ("join_left_anti" -> joinLeftAnti, joinLeftAntiSql),
    ("join_cross" -> joinCross, joinCrossSql),
    ("join_non_equi" -> joinNonEqui, joinNonEquiSql),
    ("join_existence" -> joinExistence, joinExistenceSql),
    ("agg_distinct_multi" -> aggDistinctMulti, aggDistinctMultiSql),
    ("agg_sum_distinct" -> aggSumDistinct, aggSumDistinctSql),
    ("agg_minmax_by" -> aggMinMaxBy, aggMinMaxBySql),
    ("agg_rollup" -> aggRollup, aggRollupSql),
    ("agg_cube" -> aggCube, aggCubeSql),
    ("agg_grouping_sets" -> aggGroupingSets, aggGroupingSetsSql),
    ("agg_exact_moments" -> aggExactMoments, aggExactMomentsSql),
    ("agg_stats" -> aggStats, aggStatsSql),
    ("agg_bitwise" -> aggBitwise, aggBitwiseSql),
    ("agg_collect" -> aggCollect, aggCollectSql),
    ("agg_percentile" -> aggPercentile, aggPercentileSql),
    ("agg_regr" -> aggRegr, aggRegrSql),
    ("agg_shape" -> aggShape, aggShapeSql),
    ("agg_bool" -> aggBool, aggBoolSql),
    ("agg_mode_median" -> aggModeMedian, aggModeMedianSql),
    ("window_nth" -> windowNth, windowNthSql),
    ("generate_json_tuple" -> generateJsonTuple, generateJsonTupleSql),
    ("agg_window_yoy" -> aggWindowYoy, aggWindowYoySql),
    ("window_rank" -> windowRank, windowRankSql),
    ("window_lead_lag" -> windowLeadLag, windowLeadLagSql),
    ("window_running" -> windowRunning, windowRunningSql),
    ("window_range_frame" -> windowRangeFrame, windowRangeFrameSql),
    ("window_ntile" -> windowNtile, windowNtileSql),
    ("window_ntile_scalable" -> windowNtileScalable, windowNtileScalableSql),
    ("window_group_limit" -> windowGroupLimit, windowGroupLimitSql),
    ("sort_nulls" -> sortNulls, sortNullsSql),
    ("limit_offset" -> limitOffset, limitOffsetSql),
    ("distinct_pairs" -> distinctPairs, distinctPairsSql),
    ("sample_hash_bucket" -> sampleHashBucket, sampleHashBucketSql),
    ("setop_union_all" -> setUnionAll, setUnionAllSql),
    ("setop_union_distinct" -> setUnionDistinct, setUnionDistinctSql),
    ("setop_intersect" -> setIntersect, setIntersectSql),
    ("setop_except" -> setExcept, setExceptSql),
    ("generate_explode" -> generateExplode, generateExplodeSql),
    ("generate_posexplode" -> generatePosExplode, generatePosExplodeSql),
    ("generate_stack" -> generateStack, generateStackSql),
    ("generate_inline" -> generateInline, generateInlineSql),
    ("generate_sequence" -> generateSequence, generateSequenceSql),
    ("ev_sessionize" -> evSessionize, evSessionizeSql),
    ("ev_trajectories" -> evTrajectories, evTrajectoriesSql),
    ("api_na_clean" -> apiNaClean, apiNaCleanSql),
    ("api_stat_crosstab" -> apiStatCrosstab, apiStatCrosstabSql),
    ("ev_asof_join" -> evAsof, evAsofSql),
    ("ev_asof_join_custom" -> evAsofCustom, evAsofCustomSql),
    ("ev_asof_join_forward" -> evAsofForward, evAsofForwardSql),
    ("ev_asof_join_tolerance" -> evAsofTolerance, evAsofToleranceSql),
    ("ev_pivot" -> evPivot, evPivotSql),
    ("ev_range_join_bucketed" -> evRangeJoin, evRangeJoinSql),
    ("ev_daily_active_users" -> evDau, evDauSql),
    ("ev_value_buckets" -> evValueBuckets, evValueBucketsSql),
    ("ev_hourly_load" -> evHourly, evHourlySql),
    ("ev_hopping_windows" -> evHopping, evHoppingSql),
    ("ev_top_users" -> evTopUsers, evTopUsersSql),
    ("ev_uniq_users_by_type_day" -> evUniqUsers, evUniqUsersSql),
    ("ev_value_percentiles" -> evP90, evP90Sql),
    ("ev_user_histogram" -> evUserHistogram, evUserHistogramSql),
    ("ev_weekly_revenue_trend" -> evWeeklyTrend, evWeeklyTrendSql),
    ("ev_type_share_by_day" -> evTypeShare, evTypeShareSql),
    ("join_salted_skew" -> joinSalted, joinSaltedSql),
    ("agg_filter_clause" -> aggFilterClause, aggFilterClauseSql),
    ("agg_listagg" -> aggListagg, aggListaggSql),
    ("ev_session_window_native" -> evSessionWindowNative, evSessionWindowNativeSql),
    ("tpcds_style_growth" -> tpcdsGrowth, tpcdsGrowthSql),
    ("tpcds_style_channel_rollup" -> tpcdsChannelRollup, tpcdsChannelRollupSql))

  /** Spark 4.1 `approx_top_k` (DataSketches frequent-items) face: the
    * sketch is EXACT whenever the distinct-key count fits its capacity
    * (default 1024 ≫ the bounded type×status vocabulary here), so the
    * exploded (item, estimate) pairs hash-match DuckDB's exact counts —
    * the same capacity≥vocab⇒exact contract [[graft.functions.TopKFreq]]
    * pins for the custom sketch. Also runs the two-phase
    * accumulate→estimate path (the persisted-sketch rollup pattern:
    * per-partition sketches land in a table, ad-hoc top-k reads merge
    * WITHOUT rescanning data) and gates it against the one-shot result
    * in-query. */
  private val aggApproxTopK: Q = (s, dir) => {
    val li = load(s, dir, "lineitem")
      .select(concat(col("l_returnflag"), lit("/"), col("l_linestatus")).as("k"))
    val oneShot = li.select(explode(expr("approx_top_k(k, 4)")).as("e"))
      .select(col("e.item").as("item"), col("e.count").as("n"))
    val twoPhase = li.select(expr("approx_top_k_accumulate(k)").as("sk"))
      .select(explode(expr("approx_top_k_estimate(sk, 4)")).as("e"))
      .select(col("e.item").as("item"), col("e.count").as("n_two_phase"))
    oneShot.join(twoPhase, "item")
      .select(col("item"), col("n"),
        (col("n") === col("n_two_phase")).as("two_phase_agrees"))
      .orderBy(col("item"))
  }

  private val aggApproxTopKSql =
    """SELECT k AS item, n, true AS two_phase_agrees FROM (
      |  SELECT l_returnflag || '/' || l_linestatus AS k, COUNT(*) AS n
      |  FROM lineitem GROUP BY 1
      |  ORDER BY n DESC, k LIMIT 4)
      |ORDER BY item""".stripMargin

  val queries: Map[String, Q] = built._1 ++ Map[String, Q](
    "agg_approx_top_k" -> aggApproxTopK,
    "agg_approx_sketch" -> aggApprox,
    "agg_hll_sketch" -> aggHllSketch,
    "agg_bitmap_distinct" -> aggBitmapDistinct,
    "agg_topk_heap" -> aggTopkHeap,
    "agg_histogram_numeric" -> aggHistogram,
    "sample_bernoulli" -> sampleBernoulli)

  val oracles: Map[String, String] = built._2 ++ Map(
    "agg_approx_top_k" -> aggApproxTopKSql,
    "agg_approx_sketch" -> aggApproxSql,
    "agg_hll_sketch" -> aggHllSketchSql,
    "agg_bitmap_distinct" -> aggBitmapDistinctSql,
    "agg_topk_heap" -> aggTopkHeapSql,
    "agg_histogram_numeric" -> aggHistogramSql,
    "sample_bernoulli" -> sampleBernoulliSql)
}
