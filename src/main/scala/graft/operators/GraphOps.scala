package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over tables — beyond the reference's
  * operator surface (it offloads no graph work; SURVEY.md §7 step 5),
  * but a standard ask of a 100 TB data-curation engine (link-graph
  * quality signals over crawled corpora).
  *
  * PageRank here is the classic distributed formulation: ranks live in a
  * DataFrame co-keyed with the edge list, every iteration is one
  * edges⋈ranks shuffle + a dst-keyed aggregation, and the per-node
  * constant (1-d)/N enters via a broadcast 1-row aggregate — no driver
  * collect of anything proportional to the graph. Five fixed iterations
  * keep the plan bounded; the edge list is cached once (it is reused by
  * all iterations and by the degree table).
  *
  * The DuckDB oracle unrolls the same five iterations as chained CTEs —
  * identical damping, identical dangling-free bipartite graph — so the
  * hash gate proves the distributed loop computes the textbook fixpoint
  * step, not an approximation of it.
  */
object GraphOps {

  type Q = (SparkSession, String) => DataFrame

  private val damping = 0.85
  private val iters = 5

  // bipartite user↔prop-key graph from the events stream, symmetrized so
  // every node has out-edges (no dangling-mass correction needed).
  // Node ids are LONGS — user u ↦ 2u, prop-key k ↦ 2k+1 (disjoint
  // namespaces by parity): every iteration of the graph algorithms
  // shuffles these keys 5+ times, and an 8-byte long key hashes,
  // compares and serializes several times cheaper than the previous
  // 'u123'/'k7' strings. The DuckDB oracles mirror the same encoding.
  private def edgeList(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "events")
      .select((col("user_id") * 2).as("src"),
        (get_json_object(col("props"), "$.k").cast("long") * 2 + 1).as("dst"))
      .distinct()
    base.union(base.select(col("dst").as("src"), col("src").as("dst")))
  }

  private val edgeListSql =
    """base AS (
      |  SELECT DISTINCT user_id * 2 AS src,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 + 1 AS dst
      |  FROM events),
      |edges AS (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)""".stripMargin

  private val pagerank: Q = (s, dir) => {
    val edges = edgeList(s, dir).cache()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    // degree-annotated edges hoisted OUT of the loop: the first cut
    // re-derived deg (a groupBy shuffle over the edge list) and re-joined
    // it inside every iteration — 2 extra shuffles x iters for a table
    // that never changes. The od column rides along so the contribution
    // stays the textbook pr/od (bit-identical to the oracle's arithmetic;
    // pre-inverting to pr*(1/od) could drift an ulp across the 6-dp gate).
    // pre-partitioned on the join key and cached: every iteration joins
    // `out` on src, and the cached InMemoryRelation keeps the hash
    // partitioning, so iterations re-shuffle only the (small) rank table
    val out = edges.join(deg, "src")
      .select(col("src"), col("dst"), col("od"))
      .repartition(col("src")).cache()
    val nodes = out.select(col("src").as("id")).distinct().cache()
    // |V| collapses to ONE driver double up front (a count over the
    // cached node table — bounded, like the k-means centroid state):
    // the previous per-iteration crossJoin(broadcast(nDf)) embedded six
    // broadcast-exchange subtrees into the iterated plan for a value
    // that never changes. Same arithmetic bit-for-bit (1.0/n and
    // (1-d)/n over the identical double), so the oracle is unaffected.
    val n = nodes.count().toDouble
    var ranks = nodes.select(col("id"), (lit(1.0) / lit(n)).as("pr"))
    for (_ <- 0 until iters) {
      // the graph is SYMMETRIZED, so every node has in-edges and the
      // contribution aggregate already covers every node — the original
      // nodes-left-join re-anchor was a redundant extra shuffle join per
      // iteration (the oracle's LEFT JOIN is equivalent on this graph)
      ranks = out
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst")).agg(sum(col("pr") / col("od")).as("contrib"))
        .select(col("dst").as("id"),
          (lit((1.0 - damping) / n) +
            lit(damping) * col("contrib")).as("pr"))
    }
    ranks.filter(col("id") % 2 === 1)
      .select(col("id"), round(col("pr"), 6).as("pr"))
      .orderBy(col("id"))
  }

  private def iterCte(k: Int): String =
    s"""r$k AS (
       |  SELECT nodes.id, 0.15e0 / nn.n + 0.85e0 * COALESCE(c.contrib, 0.0e0) AS pr
       |  FROM nodes CROSS JOIN nn
       |  LEFT JOIN (SELECT e.dst AS id, SUM(r.pr / deg.od) AS contrib
       |             FROM edges e JOIN deg ON e.src = deg.src
       |             JOIN r${k - 1} r ON e.src = r.id GROUP BY 1) c ON nodes.id = c.id)""".stripMargin

  private val pagerankSql =
    s"""WITH $edgeListSql,
       |deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS (SELECT id, 1.0e0 / nn.n AS pr FROM nodes CROSS JOIN nn),
       |${(1 to iters).map(iterCte).mkString(",\n")}
       |SELECT id, ROUND(pr, 6) AS pr FROM r$iters WHERE id % 2 = 1
       |ORDER BY id""".stripMargin

  /** degree-distribution profile of the same graph: out-degree per node
    * → histogram per node class (user/key). Two narrowing aggregations —
    * the standard first look at any crawled link graph. */
  private val degreeStats: Q = (s, dir) => {
    val deg = edgeList(s, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("degree"))
    deg.select(when(col("src") % 2 === 0, "u").otherwise("k").as("node_class"),
      col("degree"))
      .groupBy(col("node_class"), col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("node_class"), col("degree"))
  }

  private val degreeStatsSql =
    s"""WITH $edgeListSql,
       |deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY 1)
       |SELECT CASE WHEN src % 2 = 0 THEN 'u' ELSE 'k' END AS node_class,
       |  degree, COUNT(*) AS n_nodes
       |FROM deg GROUP BY 1, 2 ORDER BY node_class, degree""".stripMargin

  /** Triangle counting + global clustering coefficient over the prop-key
    * co-occurrence graph (keys seen by the same user on the same day are
    * linked). The classic MapReduce-era scale trick is applied: every
    * undirected edge is ORIENTED from its lower-(degree, id) endpoint to
    * the higher one, so each triangle is enumerated exactly once and the
    * wedge-join fan-out at a hub node is bounded by its ORIENTED
    * out-degree (≤ √(2·|E|)) instead of its raw degree — the difference
    * between feasible and quadratic on a power-law 100 TB link graph.
    * Per-(user, day) distinct-key sets bound the projection fan-out (a
    * day's activity, not a user's lifetime). Triangles close with a
    * 3-way self-join on the oriented list; wedges Σ d(d−1)/2 come from
    * the degree table; cc = 3·triangles / wedges. All-integer outputs ⇒
    * exact oracle; DuckDB mirrors the same orientation. */
  private val triangleCount: Q = (s, dir) => {
    val uk = load(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"),
        get_json_object(col("props"), "$.k").cast("int").as("kk"))
      .distinct()
    val edges = uk.as("a")
      .join(uk.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.d") === col("b.d") &&
          col("a.kk") < col("b.kk"))
      .select(col("a.kk").as("ka"), col("b.kk").as("kb"))
      .distinct().cache()
    val deg = edges.select(col("ka").as("node"))
      .union(edges.select(col("kb").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    val oriented = edges
      .join(deg.select(col("node").as("ka"), col("dg").as("da")), "ka")
      .join(deg.select(col("node").as("kb"), col("dg").as("db")), "kb")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("ka") < col("kb")),
          struct(col("ka").as("u"), col("kb").as("v")))
          .otherwise(struct(col("kb").as("u"), col("ka").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")).cache()
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.v") === col("e2.u"))
      .join(oriented.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .agg(count(lit(1)).as("n_triangles"))
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("dg") * (col("dg") - 1)) / 2).cast("long").as("n_wedges"))
    val ecnt = edges.agg(count(lit(1)).as("n_edges"))
    stats.crossJoin(ecnt).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("global_cc"))
  }

  private val triangleCountSql =
    """WITH uk AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
      |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS kk FROM events),
      |edges AS (
      |  SELECT DISTINCT a.kk AS ka, b.kk AS kb
      |  FROM uk a JOIN uk b
      |    ON a.user_id = b.user_id AND a.d = b.d AND a.kk < b.kk),
      |deg AS (
      |  SELECT node, COUNT(*) AS dg FROM (
      |    SELECT ka AS node FROM edges UNION ALL SELECT kb FROM edges)
      |  GROUP BY node),
      |oriented AS (
      |  SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.ka < e.kb)
      |              THEN e.ka ELSE e.kb END AS u,
      |         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.ka < e.kb)
      |              THEN e.kb ELSE e.ka END AS v
      |  FROM edges e JOIN deg da ON da.node = e.ka JOIN deg db ON db.node = e.kb),
      |tri AS (
      |  SELECT COUNT(*) AS n_triangles
      |  FROM oriented e1 JOIN oriented e2 ON e1.v = e2.u
      |  JOIN oriented e3 ON e3.u = e1.u AND e3.v = e2.v),
      |stats AS (
      |  SELECT COUNT(*) AS n_nodes,
      |    CAST(SUM(dg * (dg - 1)) / 2 AS BIGINT) AS n_wedges FROM deg),
      |ecnt AS (SELECT COUNT(*) AS n_edges FROM edges)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |  ROUND(3.0e0 * n_triangles / n_wedges, 6) AS global_cc
      |FROM stats CROSS JOIN ecnt CROSS JOIN tri""".stripMargin

  private val lpIters = 4

  /** Synchronous min-label propagation (the Pregel-style connected-
    * components / community seed step; reference offloads no graph work
    * — this is pipeline-curation surface beyond it). Every node starts
    * labelled with its own id; each round every node takes the minimum
    * of its own label and its neighbors' labels. One round = one
    * edges⋈labels shuffle + a dst-keyed min — the same bounded shape as
    * [[pagerank]], nothing graph-sized ever reaches the driver. Rounds
    * are FIXED (4) so the plan is bounded and the oracle can unroll the
    * identical rounds as CTEs; the open-ended converge-with-checkpoint
    * variant of this loop already exists in
    * `DedupOps.connectedComponents` (per-round localCheckpoint) and is
    * the 100 TB path for unbounded diameters. String min is byte-wise
    * in both engines (ASCII labels), so the gate is exact. */
  private val labelPropagation: Q = (s, dir) => {
    val edges = edgeList(s, dir).cache()
    val nodes = edges.select(col("src").as("id")).distinct()
    var labels = nodes.select(col("id"), col("id").as("lbl"))
    // the dense bipartite graph converges to ONE component within the
    // fixed rounds, so the final partition alone would be a 1-row gate;
    // exporting the distinct-label count AFTER EVERY round pins each
    // round's full label state (any drift in round k changes n_k).
    // Each round eagerly `localCheckpoint`s — the per-round count
    // branches and round k+1 both consume round k, and without
    // materialization every branch re-derives the whole lineage from
    // scratch (O(k²) shuffle stages, measured 32 s vs ~6 s at sf0.1);
    // checkpointing (vs cache) ALSO truncates the logical plan, which
    // otherwise grows ~5 MB of nested crossJoined lineage by round 4
    // and trips the library-wide 1 MB plan-string guard. Same
    // discipline as DedupOps.connectedComponents.
    var roundCounts = Seq.empty[DataFrame]
    for (k <- 1 to lpIters) {
      // least(own, min-over-neighbors) == min over (neighbor labels ∪
      // own label): the self-loop union folds the own-label re-join into
      // the SAME groupBy — one shuffle per round instead of three
      labels = edges
        .join(labels.select(col("id").as("src"), col("lbl")), "src")
        .select(col("dst").as("id"), col("lbl"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
      roundCounts = roundCounts :+
        labels.agg(countDistinct(col("lbl")).as(s"n_labels_r$k"))
    }
    val perRound = roundCounts.map(broadcast).reduce(_.crossJoin(_))
    labels.groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_nodes"))
      .crossJoin(perRound)
      .orderBy(col("component"))
  }

  private def lpIterCte(k: Int): String =
    s"""l$k AS (
       |  SELECT n.id, LEAST(n.lbl, COALESCE(m.nbr, n.lbl)) AS lbl
       |  FROM l${k - 1} n LEFT JOIN (
       |    SELECT e.dst AS id, MIN(l.lbl) AS nbr
       |    FROM edges e JOIN l${k - 1} l ON e.src = l.id GROUP BY 1) m
       |  ON m.id = n.id)""".stripMargin

  private val labelPropagationSql =
    s"""WITH $edgeListSql,
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |l0 AS (SELECT id, id AS lbl FROM nodes),
       |${(1 to lpIters).map(lpIterCte).mkString(",\n")},
       |${(1 to lpIters).map(k =>
            s"c$k AS (SELECT COUNT(DISTINCT lbl) AS n_labels_r$k FROM l$k)")
            .mkString(",\n")}
       |SELECT lbl AS component, COUNT(*) AS n_nodes,
       |  ${(1 to lpIters).map(k => s"n_labels_r$k").mkString(", ")}
       |FROM l$lpIters
       |${(1 to lpIters).map(k => s"CROSS JOIN c$k").mkString(" ")}
       |GROUP BY ALL ORDER BY component""".stripMargin

  /** Neighborhood-overlap link prediction over the prop-key
    * co-occurrence graph: for every UNLINKED key pair sharing at least
    * one neighbor, common-neighbor count, Jaccard overlap and
    * Adamic–Adar (Σ 1/ln deg(c) over shared neighbors c) — the three
    * classic similarity-based link predictors. Candidate pairs come
    * from a wedge self-join on the adjacency list (only pairs that DO
    * share a neighbor are ever materialized — never all-pairs), then an
    * anti-join against the edge list removes already-linked pairs. At
    * 100 TB the wedge fan-out at a hub neighbor is the quadratic risk;
    * the mitigation is the same degree-orientation bound proven in
    * [[triangleCount]] plus a hot-node candidate cap à la
    * `DedupLshBucketCap` — here the key universe is schema-bounded so
    * the exact form stays oracled. All counts are integers and the two
    * ratios are rounded at 6 dp, so the DuckDB hash gate is exact. */
  private val linkPrediction: Q = (s, dir) => {
    val uk = load(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"),
        get_json_object(col("props"), "$.k").cast("int").as("kk"))
      .distinct()
    val edges = uk.as("a")
      .join(uk.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.d") === col("b.d") &&
          col("a.kk") < col("b.kk"))
      .select(col("a.kk").as("ka"), col("b.kk").as("kb"))
      .distinct().cache()
    val adj = edges.select(col("ka").as("node"), col("kb").as("nbr"))
      .union(edges.select(col("kb").as("node"), col("ka").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("dg"))
    val wedges = adj.as("x")
      .join(adj.as("y"), col("x.nbr") === col("y.nbr") &&
        col("x.node") < col("y.node"))
      .select(col("x.node").as("ka"), col("y.node").as("kb"),
        col("x.nbr").as("nbr"))
      .join(deg.withColumnRenamed("node", "nbr"), Seq("nbr"))
      .groupBy(col("ka"), col("kb"))
      .agg(count(lit(1)).as("common"),
        sum(lit(1.0) / log(col("dg"))).as("aa"))
    val unlinked = wedges.join(edges, Seq("ka", "kb"), "left_anti")
    unlinked
      .join(deg.select(col("node").as("ka"), col("dg").as("da")), "ka")
      .join(deg.select(col("node").as("kb"), col("dg").as("db")), "kb")
      .select(col("ka"), col("kb"), col("common"),
        round(col("common") / (col("da") + col("db") - col("common")), 6)
          .as("jaccard"),
        round(col("aa"), 6).as("adamic_adar"))
      .orderBy(col("ka"), col("kb"))
  }

  private val linkPredictionSql =
    """WITH uk AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
      |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS kk FROM events),
      |edges AS (
      |  SELECT DISTINCT a.kk AS ka, b.kk AS kb
      |  FROM uk a JOIN uk b
      |    ON a.user_id = b.user_id AND a.d = b.d AND a.kk < b.kk),
      |adj AS (
      |  SELECT ka AS node, kb AS nbr FROM edges
      |  UNION ALL SELECT kb, ka FROM edges),
      |deg AS (SELECT node, COUNT(*) AS dg FROM adj GROUP BY 1),
      |wedges AS (
      |  SELECT x.node AS ka, y.node AS kb, COUNT(*) AS common,
      |    SUM(1.0e0 / LN(dn.dg)) AS aa
      |  FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
      |  JOIN deg dn ON dn.node = x.nbr
      |  GROUP BY 1, 2),
      |unlinked AS (
      |  SELECT w.* FROM wedges w
      |  WHERE NOT EXISTS (SELECT 1 FROM edges e
      |                    WHERE e.ka = w.ka AND e.kb = w.kb))
      |SELECT u.ka, u.kb, u.common,
      |  ROUND(CAST(u.common AS DOUBLE) / (da.dg + db.dg - u.common), 6)
      |    AS jaccard,
      |  ROUND(u.aa, 6) AS adamic_adar
      |FROM unlinked u
      |JOIN deg da ON da.node = u.ka JOIN deg db ON db.node = u.kb
      |ORDER BY ka, kb""".stripMargin

  /** Connected components as a first-class graph operator — the identity-
    * stitching primitive (same user across devices/keys) every large
    * curation pipeline needs. Graph: users co-purchasing the same prop-key
    * within the same calendar hour belong together; each (k, hour) bucket
    * is chained by consecutive-user edges (LINEAR edge count with the same
    * components as the full clique — the standard trick that keeps a hot
    * bucket from emitting its quadratic pair set). Components resolve via
    * the shared large-star/small-star CC ([[DedupOps.propagateMinLabels]]).
    * The pair list itself is not materialized: the kernel's first
    * checkpoint reads it once, and its count checks the driver-finish
    * bound ([[DedupOps.LocalFinishMaxEdges]], 2^20 edges = 16 MiB of
    * ids). An edge set within it is collected in one job and finished
    * by union-find on the driver: 5 construction jobs at sf0.1. Above
    * it, star rounds contract the edge set geometrically, each
    * materialized once by one checkpointing count job, until the set
    * fits the bound or reaches the fixpoint. Oracle: DuckDB
    * recursive-CTE transitive closure over the identical edge list. */
  private val connectedComponents: Q = (s, dir) => {
    val (pairs, users) = componentPairs(s, dir)
    DedupOps.propagateMinLabels(pairs, users)
      .groupBy(col("label").as("component_rep"))
      .agg(count(lit(1)).as("n_users"), max(col("doc_id")).as("max_user"))
      .orderBy(col("component_rep"))
  }

  /** graph_connected_components' distinct `(doc_a, doc_b)` edges and `doc_id` nodes */
  private[graft] def componentPairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k"), col("hr")).orderBy(col("user_id"))
    val buckets = load(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        date_trunc("HOUR", col("ts")).as("hr"))
      // events whose props lack k (or carry a non-numeric k → NULL cast)
      // must not all chain into one spurious (NULL, hour) identity
      // component — missing keys never create edges
      .filter(col("k").isNotNull)
      .distinct()
    val pairs = buckets.withColumn("prev", lag(col("user_id"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("doc_a"), col("user_id").as("doc_b"))
    val users = load(s, dir, "events").select(col("user_id").as("doc_id")).distinct()
    // propagateMinLabels no longer pre-dedupes its input (the dedup
    // callers feed distinct pairs by construction); this caller's
    // lag-derived pairs repeat per (key, hour) bucket, so dedupe here —
    // the volume is bucket-bounded, far below the LSH pair scale
    (pairs.distinct(), users)
  }

  private val connectedComponentsSql =
    """WITH RECURSIVE ev AS (SELECT DISTINCT user_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |    date_trunc('hour', ts) AS hr
      |  FROM events WHERE event_type = 'purchase'),
      |ch AS (SELECT k, hr, user_id,
      |    lag(user_id) OVER (PARTITION BY k, hr ORDER BY user_id) AS prev
      |  FROM ev WHERE k IS NOT NULL),
      |pairs AS (SELECT prev AS a, user_id AS b FROM ch WHERE prev IS NOT NULL),
      |edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
      |users AS (SELECT DISTINCT user_id FROM events),
      |reach(a, b) AS (
      |  SELECT user_id, user_id FROM users
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |labels AS (SELECT a AS user_id, MIN(b) AS label FROM reach GROUP BY a)
      |SELECT label AS component_rep, COUNT(*) AS n_users, MAX(user_id) AS max_user
      |FROM labels GROUP BY label ORDER BY component_rep""".stripMargin

  val queries: Map[String, Q] = Map(
    "graph_pagerank" -> pagerank,
    "graph_degree_stats" -> degreeStats,
    "graph_triangle_count" -> triangleCount,
    "graph_label_propagation" -> labelPropagation,
    "graph_link_prediction" -> linkPrediction,
    "graph_connected_components" -> connectedComponents)

  val oracles: Map[String, String] = Map(
    "graph_pagerank" -> pagerankSql,
    "graph_degree_stats" -> degreeStatsSql,
    "graph_triangle_count" -> triangleCountSql,
    "graph_label_propagation" -> labelPropagationSql,
    "graph_link_prediction" -> linkPredictionSql,
    "graph_connected_components" -> connectedComponentsSql)
}
