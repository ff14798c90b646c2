package graft.operators

import graft.Tables._
import graft.functions.GraftExpressions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`):
  * brute-force cosine top-k as the exact baseline, plus two approximate
  * scale paths — random-hyperplane LSH bucketing and an IVF-style
  * coarse quantizer. Beyond-reference surface (SURVEY.md §7 step 5).
  *
  * Scale design: brute force is O(|Q|·|C|) — exact and fine for small
  * query sets (it broadcasts the query side). The LSH/IVF variants
  * shuffle the corpus once by bucket and probe only matching buckets,
  * the shape that survives a 100 TB corpus; their recall<1 makes them
  * rows-only checks (no SQL oracle).
  */
object SimilarityOps {

  type Q = (SparkSession, String) => DataFrame

  /** exact top-5 neighbors (vec_id<10 queries vs vec_id>=10 corpus) */
  private val annBrute: Q = (s, dir) => {
    val e = load(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
    val corpus = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
    val topK = graft.GraftConf.getInt(s, graft.GraftConf.SimTopK)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    corpus.crossJoin(broadcast(queries))
      .withColumn("cos", round(GraftExpressions.cosine_sim(col("q_emb"), col("c_emb")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"))
      .orderBy(col("qid"), col("rnk"))
  }

  // Hard-negative mining for contrastive training: per query, the top-3
  // most-similar corpus vectors with a DIFFERENT label — the pairs that
  // matter for embedding-model training. Same distribution shape as the
  // brute baseline (broadcast query side, corpus streamed once, label
  // filter evaluated before the similarity ranking window).
  private val hardNegatives: Q = (s, dir) => {
    val e = load(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val corpus = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
        col("label").as("c_label"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("c_label") =!= col("q_label"))
      .withColumn("cos", round(GraftExpressions.cosine_sim(col("q_emb"), col("c_emb")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"),
        col("c_label").as("neg_label"))
      .orderBy(col("qid"), col("rnk"))
  }

  private val hardNegativesSql =
    """WITH e AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |n AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM e GROUP BY vec_id),
      |lab AS (SELECT DISTINCT vec_id, label FROM e),
      |dt AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.x * c.x) AS dot
      |  FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND c.vec_id >= 10
      |    AND q.label <> c.label
      |  GROUP BY q.vec_id, c.vec_id),
      |cs AS (
      |  SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS cos
      |  FROM dt JOIN n nq ON nq.vec_id = qid JOIN n nc ON nc.vec_id = cid),
      |r AS (SELECT qid, cid, cos,
      |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM cs)
      |SELECT qid, CAST(rnk AS INTEGER) AS rnk, cid, cos,
      |  (SELECT label FROM lab WHERE lab.vec_id = r.cid) AS neg_label
      |FROM r WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  private val annBruteSql =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |n AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM e GROUP BY vec_id),
      |dt AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.x * c.x) AS dot
      |  FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND c.vec_id >= 10
      |  GROUP BY q.vec_id, c.vec_id),
      |cs AS (
      |  SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS cos
      |  FROM dt JOIN n nq ON nq.vec_id = qid JOIN n nc ON nc.vec_id = cid),
      |r AS (SELECT qid, cid, cos, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM cs)
      |SELECT qid, CAST(rnk AS INTEGER) AS rnk, cid, cos FROM r WHERE rnk <= 5
      |ORDER BY qid, rnk""".stripMargin

  /** exact top-5 via the normalize-once path: unit vectors computed in a
    * single pass, then the per-pair inner loop is a pure dot product
    * (codegen DotProduct — a third of the cosine FLOPs; the optimization
    * that matters when the corpus side is read many times). */
  private val annUnitTopk: Q = (s, dir) => {
    val e = load(s, dir, "embeddings")
      .withColumn("nrm", sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double"))))
      .withColumn("unit", transform(col("embedding"),
        x => (x.cast("double") / col("nrm")).cast("float")))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("unit").as("q_unit"))
    val corpus = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("unit").as("c_unit"))
    val topK = graft.GraftConf.getInt(s, graft.GraftConf.SimTopK)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    corpus.crossJoin(broadcast(queries))
      .withColumn("cos", round(GraftExpressions.dot_product(col("q_unit"), col("c_unit")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"))
      .orderBy(col("qid"), col("rnk"))
  }

  private val annUnitTopkSql =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) / nrm AS FLOAT)) AS unit
      |  FROM n),
      |e AS (SELECT vec_id, generate_subscripts(unit, 1) AS i, CAST(unnest(unit) AS DOUBLE) AS x FROM u),
      |dt AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.x * c.x) AS dot
      |  FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND c.vec_id >= 10
      |  GROUP BY q.vec_id, c.vec_id),
      |r AS (SELECT qid, cid, round(dot, 6) AS cos,
      |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(dot, 6) DESC, cid) AS rnk
      |      FROM dt)
      |SELECT qid, CAST(rnk AS INTEGER) AS rnk, cid, cos FROM r WHERE rnk <= 5
      |ORDER BY qid, rnk""".stripMargin

  /** Exact k-NN majority-vote classification (k=5): the classic
    * label-propagation-from-a-seed-set step of a curation pipeline —
    * every 1-in-5 held-out vector is labelled by the majority label of
    * its 5 nearest labelled neighbors by cosine. Distribution shape:
    * the unit-normalized corpus streams once past the BROADCAST
    * held-out batch, and the batch is id-BOUNDED (vec_id < 500) so the
    * broadcast and the per-query work stay constant as the corpus
    * grows — classification at 100 TB happens in bounded batches, and
    * each batch's cost is linear in the corpus (the 10x ScaleUp run
    * measured the unbounded variant at ~n²; the bounded one is the
    * shipped contract). Neighbor selection is the engine's
    * [[graft.functions.TopKByScore]] mergeable bounded-heap aggregate —
    * NOT a rank window (a window would shuffle all |corpus|x|batch|
    * scored rows into |batch| partitions before ranking; the aggregate's
    * map-side partials carry at most 5 pairs per (query x partition), so
    * the shuffle is 5*|batch|*parts rows of 16 bytes regardless of
    * corpus size). Neighbor labels attach via a second corpus scan past
    * the BROADCAST 5*|batch|-row neighbor list — shuffle-free. Ties
    * break to the smallest label, neighbor ties to the smallest id, so
    * the result is deterministic and fully ORACLED (DuckDB mirrors the
    * float normalize-then-double-dot arithmetic of [[annUnitTopk]]). */
  private val knnClassify: Q = (s, dir) => {
    val e = load(s, dir, "embeddings")
      .withColumn("nrm", sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double"))))
      .withColumn("unit", transform(col("embedding"),
        x => (x.cast("double") / col("nrm")).cast("float")))
    val test = e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 500)
      .select(col("vec_id").as("qid"), col("label").as("actual"),
        col("unit").as("q_unit"))
    val train = e.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("cid"), col("label").as("lbl"),
        col("unit").as("c_unit"))
    // (score desc, id asc) heap order == the old window's
    // (cos desc, cid) rank order, so results are bit-identical
    val topk = train.crossJoin(broadcast(test))
      .withColumn("cos", round(GraftExpressions.dot_product(col("q_unit"), col("c_unit")), 6))
      .groupBy(col("qid"), col("actual"))
      .agg(graft.functions.TopKByScore.top_k_by_score(col("cos"), col("cid"), 5).as("nn"))
    val nn = topk
      .select(col("qid"), col("actual"), explode(col("nn")).as("e"))
      .select(col("qid"), col("actual"), col("e.id").as("cid"))
    // corpus streams past the broadcast tiny neighbor list to pick up labels
    val voted = train.select(col("cid"), col("lbl"))
      .join(broadcast(nn), "cid")
    val wv = Window.partitionBy(col("qid")).orderBy(col("votes").desc, col("lbl"))
    voted.groupBy(col("qid"), col("actual"), col("lbl"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wv))
      .filter(col("vr") === 1)
      .select(col("qid"), col("actual"), col("lbl").as("predicted"),
        (col("lbl") === col("actual")).as("correct"))
      .orderBy(col("qid"))
  }

  private val knnClassifySql =
    """WITH n AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) / nrm AS FLOAT)) AS unit
      |  FROM n),
      |e AS (SELECT vec_id, generate_subscripts(unit, 1) AS i, CAST(unnest(unit) AS DOUBLE) AS x FROM u),
      |lab AS (SELECT vec_id, label FROM u),
      |dt AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.x * c.x) AS dot
      |  FROM e q JOIN e c ON q.i = c.i AND q.vec_id % 5 = 0 AND q.vec_id < 500
      |    AND c.vec_id % 5 <> 0
      |  GROUP BY q.vec_id, c.vec_id),
      |r AS (SELECT qid, cid,
      |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(dot, 6) DESC, cid) AS rnk
      |      FROM dt),
      |v AS (SELECT r.qid, lc.label AS lbl, COUNT(*) AS votes
      |      FROM r JOIN lab lc ON lc.vec_id = r.cid WHERE r.rnk <= 5 GROUP BY 1, 2),
      |p AS (SELECT qid, lbl,
      |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, lbl) AS vr
      |      FROM v)
      |SELECT p.qid, la.label AS actual, p.lbl AS predicted,
      |  (p.lbl = la.label) AS correct
      |FROM p JOIN lab la ON la.vec_id = p.qid
      |WHERE p.vr = 1
      |ORDER BY qid""".stripMargin

  /** deterministic pseudo-random hyperplane weight for (dim i, plane j):
    * xxhash64 of the index pair, mapped to [-0.5, 0.5). No RNG state —
    * every executor derives the same hyperplanes. */
  /** deterministic pseudo-random hyperplane weight for (dim i, plane j)
    * — driver-side twin of the former column formulation
    * `pmod(xxhash64(i*64 + j), 1000)/1000.0 - 0.5`, computed by
    * evaluating the SAME Catalyst XxHash64 expression (seed 42, long
    * input) so the weights are bit-identical to what every executor
    * used to derive per row. No RNG state either way. */
  private[operators] def planeWeightValue(i: Long, j: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(i * 64 + j)), 42L).eval(null).asInstanceOf[Long]
    val m = h % 1000L
    val p = if (m < 0) m + 1000L else m
    p.toDouble / 1000.0 - 0.5
  }

  /** random-hyperplane LSH signature as a bucketing column;
    * `bits` (spark.graft.similarity.lsh.bits) sets the recall/selectivity
    * trade — fewer planes = bigger buckets = higher recall. Each plane's
    * projection is the native codegen [[GraftExpressions.DotProduct]]
    * against a 64-double literal (the former aggregate∘zip_with
    * composition ran a boxed interpreted lambda per element per plane —
    * a corpus-scale pass; weights and fold order are bit-identical,
    * pinned in GraftExpressionsSpec). */
  private[graft] def lshBucket(emb: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { j =>
      val plane = array((0L until 64L).map(i => lit(planeWeightValue(i, j))): _*)
      when(GraftExpressions.dot_product(emb, plane) > 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Query-directed hamming-2 probe masks: the C(4,2)=6 two-bit masks
    * over THIS row's 4 weakest planes (smallest |projection| — the
    * planes a true near neighbor most likely lands on the other side
    * of; Lv et al., "Multi-Probe LSH"). Returned alongside the standard
    * {0} ∪ hamming-1 ring they extend; all masks are distinct, so
    * XOR-injectivity of bucket probing is preserved. */
  /** Corpus-scaled hamming-2 ring width (the `w` of [[weakPairMasks]]):
    * min(bits, 4 + max(0, bits−7)), conf-overridable
    * ([[graft.GraftConf.SimLshRingWidth]]). Width 4 at the sf1
    * operating point (7 bits) keeps every round-14 measurement and
    * oracle-SF plan byte-identical. The LINEAR growth (not C(bits,2)
    * everywhere) is a measured cost call, round 15 (100× corpus, 10
    * bits; PLANS.md, RECALL_100X.json): a fixed w=4 ring's recall collapses
    * (embedding-lsh panel 0.17, margin survivors 0.15), but the full
    * hamming-2+3 ring (w=10 + triples) buys overall panel recall only
    * 0.17→0.29 — almost all of it on WEAK 0.4–0.55-cosine pairs, the
    * band no real near-dup pipeline keys on — while the margin wall
    * rose 56→226 s (candidates grow superlinearly in probes: weak-
    * plane buckets are where near vectors concentrate). On the
    * strong-band pairs that matter (cos ≥ 0.55) the moderate ring
    * already holds ~0.46 vs 0.55 for the full ring. Recall-critical
    * corpora can opt into the deep ring with the conf; the curve
    * (w=4 / 7 / 10 recall per band + walls) is in RECALL_100X notes. */
  private[graft] def ringWidth(s: SparkSession, bits: Int): Int = {
    val conf = graft.GraftConf.getInt(s, graft.GraftConf.SimLshRingWidth)
    val w = if (conf > 0) conf else 4 + math.max(0, bits - 7)
    math.min(bits, w)
  }

  /** hamming-3 ring depth: the weakest bits−8 planes' triples — the
    * second query-directed layer, engaging once bits ≥ 11 (C(w3,3)
    * needs w3 = bits−8 ≥ 3; one triple at 11 bits, four at 12) where
    * even a widened pair ring leaves most recall mass at hamming ≥ 3.
    * Zero at every measured operating point (sf1's 7 bits, the 100×
    * corpus's 10), so today's plans carry no triple masks; the layer
    * exists so billion-row corpora (11+ bits) degrade by design
    * instead of by cliff. */
  private[graft] def tripleWidth(bits: Int): Int =
    math.min(bits, math.max(0, bits - 8))

  /** The query-directed DEEP probe ring for ≥6-bit signatures: all
    * hamming-2 perturbations over the `w2` weakest planes of THIS row's
    * vector, plus (once `w3` ≥ 3, i.e. ≥11 bits) all hamming-3
    * perturbations over the `w3` weakest (Lv et al. VLDB'07
    * multi-probe, generalized). One ranked
    * plane-projection sort feeds both layers; every mask has popcount
    * 2 or 3, so the ring is disjoint from the hamming-≤1 masks and
    * XOR-injectivity of pair emission is preserved. */
  private[graft] def deepRingMasks(emb: org.apache.spark.sql.Column, bits: Int,
      w2: Int, w3: Int): org.apache.spark.sql.Column = {
    // sort (|dot|, planeIdx) structs ascending; struct ordering compares
    // fields in declaration order, so the weakest planes come first
    val ranked = array_sort(array((0 until bits).map { j =>
      val plane = array((0L until 64L).map(i => lit(planeWeightValue(i, j))): _*)
      struct(abs(GraftExpressions.dot_product(emb, plane)).as("a"), lit(j).as("j"))
    }: _*))
    // 1 << j as exact double pow (j <= 30 here; functions.shiftleft only
    // accepts a literal shift amount)
    def bit(k: Int) =
      pow(lit(2.0), element_at(ranked, k + 1).getField("j")).cast("int")
    val pairs = for (a <- 0 until w2; b <- a + 1 until w2) yield
      bit(a).bitwiseOR(bit(b))
    val triples = for (a <- 0 until w3; b <- a + 1 until w3; c <- b + 1 until w3)
      yield bit(a).bitwiseOR(bit(b)).bitwiseOR(bit(c))
    array((pairs ++ triples): _*)
  }

  private[operators] def weakPairMasks(emb: org.apache.spark.sql.Column, bits: Int,
      w: Int): org.apache.spark.sql.Column = deepRingMasks(emb, bits, w, tripleWidth(bits))

  /** CORPUS-SCALED plane count for the symmetric LSH paths (both join
    * sides are the corpus, unlike the 10-query ANN probes): with fixed
    * bits the bucket join emits ~n²·(1+bits)/2^bits pairs — quadratic in
    * corpus size. Growing the signature as ceil(log2(n/bucketTarget))
    * keeps mean occupancy at bucketTarget, so candidate volume scales
    * ~n·bucketTarget·(1+bits) — the n·log n shape that survives 100 TB.
    * `floor` pins the small-corpus operating point (the oracle gates are
    * measured at 4 bits; every oracle SF stays at the floor). Corpus
    * size comes from parquet footers — no plan-time Spark job. */
  private[graft] def autoLshBits(s: SparkSession, dir: String, floor: Int): Int = {
    val (rows, _) = parquetFooterStats(s, dir, "embeddings", "vec_id")
    val target = math.max(1, graft.GraftConf.getInt(s, graft.GraftConf.SimLshBucketTarget))
    val scaled = math.ceil(math.log(math.max(1.0, rows.toDouble / target)) / math.log(2.0)).toInt
    math.max(floor, scaled)
  }

  /** corpus-scaled SemDeDup cluster count (k-means k): see
    * [[graft.GraftConf.SimSemanticClusterTarget]] */
  private[graft] def semanticK(s: SparkSession, dir: String): Int = {
    val (rows, _) = parquetFooterStats(s, dir, "embeddings", "vec_id")
    val target = math.max(1, graft.GraftConf.getInt(s, graft.GraftConf.SimSemanticClusterTarget))
    math.max(4, math.ceil(rows.toDouble / target).toInt)
  }

  /** approximate top-3 with MULTI-PROBE: each query probes its own LSH
    * bucket plus every bucket at hamming distance 1 (9 of 256) — the
    * standard recall lever that multiplies only the (tiny, broadcast)
    * query side, never re-shuffling the corpus. A true neighbor is
    * found iff it disagrees on ≤1 of the 8 hyperplanes (rows-only:
    * recall < 1 by design, gated quantitatively in AnnRecallSpec). */
  private val annLsh: Q = (s, dir) =>
    annLshAt(s, dir, graft.GraftConf.getInt(s, graft.GraftConf.SimLshBits))

  private def annLshAt(s: SparkSession, dir: String, bits: Int): DataFrame = {
    val e = load(s, dir, "embeddings").withColumn("bucket", lshBucket(col("embedding"), bits))
    val probeMasks = array((lit(0) +: (0 until bits).map(i => lit(1 << i))): _*)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"), col("bucket"))
      .withColumn("mask", explode(probeMasks))
      // each (qid, probed bucket) is unique, so no candidate-pair dups
      .withColumn("bucket", col("bucket").bitwiseXOR(col("mask")))
      .drop("mask")
    val corpus = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"), col("bucket"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    corpus.join(broadcast(queries), Seq("bucket"))
      .withColumn("cos", round(GraftExpressions.cosine_sim(col("q_emb"), col("c_emb")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"), col("bucket"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** IVF-style: centroids = label means (coarse quantizer); each query
    * probes its 2 nearest centroids' partitions only (rows-only). */
  private val annIvf: Q = (s, dir) => {
    val e = load(s, dir, "embeddings")
    // centroid per label: positional explode → mean per (label, dim) → re-assemble
    val cent = e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim")).agg(avg(col("x")).as("cx"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cx")))).as("pairs"))
      .select(col("label").as("c_label"),
        transform(col("pairs"), p => p.getField("cx").cast("float")).as("centroid"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
    // CORPUS-SCALED probe count: with a fixed 4-cell label quantizer,
    // a corpus whose labels have weak geometric meaning (ScaleUp's
    // rotation replicas are the measured worst case: recall@3 0.30 at
    // sf0.01 → 0.20 at sf1 under nprobe=2; RECALL_SF1.json, round 14)
    // spreads true neighbors across cells, so big corpora probe 3 of 4
    // — the standard IVF recall lever (nprobe↑ when the quantizer's
    // selectivity can't be trusted). The 16k gate keeps every oracle-SF
    // plan byte-identical; the learned-centroid variant (ivf_kmeans)
    // stays at 2 probes — its quantizer is fitted to the actual corpus
    // geometry and holds 0.87 recall at sf1.
    val (ivfRows, _) = parquetFooterStats(s, dir, "embeddings", "vec_id")
    val nprobe = if (ivfRows > 16384) 3 else 2
    val wc = Window.partitionBy(col("qid")).orderBy(col("c_cos").desc, col("c_label"))
    val probes = queries.crossJoin(broadcast(cent))
      .withColumn("c_cos", GraftExpressions.cosine_sim(col("q_emb"), col("centroid")))
      .withColumn("c_rnk", row_number().over(wc))
      .filter(col("c_rnk") <= nprobe)
      .select(col("qid"), col("q_emb"), col("c_label"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    load(s, dir, "embeddings").filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"), col("label"))
      .join(broadcast(probes), col("label") === col("c_label"))
      .withColumn("cos", round(GraftExpressions.cosine_sim(col("q_emb"), col("c_emb")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"), col("label"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** squared L2 distance between an embedding and a centroid literal,
    * folded in array order and rounded to 6 dp so Spark and the oracle
    * agree on argmin boundaries */
  private def sqDist(emb: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
    round(GraftExpressions.sq_distance(emb, c), 6)

  /** map-side cluster assignment: centroids are driver-held state
    * (k×64 floats — bounded, the state real distributed k-means keeps on
    * the driver), so assignment is one scan with NO shuffle; ties take
    * the lowest cluster id (first minimum in cl order). The argmin loop
    * is the native codegen [[GraftExpressions.KmeansArgmin]] expression
    * (centroids ride as a reference object): the previous
    * transform∘sq_distance∘array_min∘array_position composition is a
    * HigherOrderFunction — CodegenFallback, one interpreted lambda per
    * centroid per row — and at corpus-scaled k (SemDeDup k=400 at 100×)
    * those ~4×10⁸ boxed calls dominated the wall. Arithmetic, rounding
    * and tie-break are bit-identical (parity-pinned in
    * GraftExpressionsSpec); the oracle is untouched. */
  private def kmeansAssign(e: DataFrame, cents: Seq[(Int, Seq[Float])]): DataFrame =
    e.withColumn("asg", GraftExpressions.kmeans_argmin(col("embedding"), cents))
      .withColumn("dist", col("asg").getField("dist"))
      .withColumn("cl", col("asg").getField("cl"))
      .drop("asg")

  /** one Lloyd's refinement: recompute per-cluster means (positional
    * explode → partial-agg shuffle of only k×64 groups) and pull the new
    * centroids back to the driver, quantized through FLOAT so both
    * engines see bit-identical values despite summation-order jitter.
    * Empty clusters drop out (deterministic; matches the SQL oracle
    * where an empty cluster simply has no mean row). */
  private def kmeansStep(e: DataFrame,
      cents: Seq[(Int, Seq[Float])]): Seq[(Int, Seq[Float])] =
    kmeansAssign(e, cents)
      .select(col("cl"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("cl"), col("dim")).agg(avg(col("x").cast("double")).as("cx"))
      .collect()
      .groupBy(_.getInt(0)).toSeq
      .map { case (cl, rows) =>
        (cl, rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq) }
      .sortBy(_._1)

  /** spec hook: initial centroids (the k lowest vec_ids) + iterate */
  private[graft] def kmeansInit(e: DataFrame, k: Int): Seq[(Int, Seq[Float])] =
    e.filter(col("vec_id") < k).orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0).toInt + 1, r.getSeq[Float](1).toSeq)).toSeq
  private[graft] def kmeansRefine(e: DataFrame, cents: Seq[(Int, Seq[Float])]) =
    kmeansStep(e, cents)
  private[graft] def kmeansInertia(e: DataFrame, cents: Seq[(Int, Seq[Float])]): Double =
    kmeansAssign(e, cents)
      .agg(sum(col("dist").cast("decimal(18,6)")).cast("double")).head().getDouble(0)

  /** Runs a driver loop over `e` persisted, then releases it: the loop's
    * collect jobs read the cache instead of each re-reading the table.
    * At sf0.1 on `local[4]` this was faster in every run at `sim_pca_top2`
    * and, on the graft session, in median at every loop query, with the
    * parallelism floor on or off. */
  private def persistedFor[T](e: DataFrame)(loop: DataFrame => T): T = {
    val p = e.persist()
    try loop(p) finally p.unpersist(blocking = false)
  }

  /** The k-means fit every k-means query shares: centroids seeded from
    * the k lowest vec_ids, then 2 Lloyd's rounds (three collect jobs). */
  private def kmeansFit(e: DataFrame, k: Int): Seq[(Int, Seq[Float])] =
    persistedFor(e) { p =>
      var cents = kmeansInit(p, k)
      for (_ <- 0 until 2) cents = kmeansStep(p, cents)
      cents
    }

  /** Distributed Lloyd's k-means over the embedding corpus (k=4 seeded
    * from the 4 lowest vec_ids, 2 refinement rounds — both unrolled in
    * the DuckDB oracle). Per iteration: one shuffle-free assignment scan
    * + one k×64-group mean shuffle; the only driver state is the k×64
    * centroid matrix. The shape that holds at 100 TB: corpus rows never
    * leave their partitions, per-iteration cost is one scan of the
    * persisted input ([[kmeansFit]]). */
  private val kmeansClusters: Q = (s, dir) => {
    val e = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val cents = kmeansFit(e, 4)
    kmeansAssign(e, cents)
      .groupBy(col("cl"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("dist").cast("decimal(18,6)")).cast("double").as("inertia"),
        min(col("vec_id")).as("min_vec"))
      .orderBy(col("cl"))
  }

  private val kmeansClustersSql =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |c0 AS (SELECT CAST(vec_id + 1 AS INTEGER) AS cl, dim, x AS cx FROM e WHERE vec_id < 4),
      |d1 AS (SELECT e.vec_id, c0.cl, round(SUM((e.x - c0.cx) * (e.x - c0.cx)), 6) AS dist
      |       FROM e JOIN c0 ON e.dim = c0.dim GROUP BY e.vec_id, c0.cl),
      |a1 AS (SELECT vec_id, cl FROM (
      |         SELECT vec_id, cl, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
      |         FROM d1) WHERE rn = 1),
      |c1 AS (SELECT a1.cl, e.dim, CAST(CAST(avg(e.x) AS FLOAT) AS DOUBLE) AS cx
      |       FROM e JOIN a1 ON e.vec_id = a1.vec_id GROUP BY a1.cl, e.dim),
      |d2 AS (SELECT e.vec_id, c1.cl, round(SUM((e.x - c1.cx) * (e.x - c1.cx)), 6) AS dist
      |       FROM e JOIN c1 ON e.dim = c1.dim GROUP BY e.vec_id, c1.cl),
      |a2 AS (SELECT vec_id, cl FROM (
      |         SELECT vec_id, cl, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
      |         FROM d2) WHERE rn = 1),
      |c2 AS (SELECT a2.cl, e.dim, CAST(CAST(avg(e.x) AS FLOAT) AS DOUBLE) AS cx
      |       FROM e JOIN a2 ON e.vec_id = a2.vec_id GROUP BY a2.cl, e.dim),
      |d3 AS (SELECT e.vec_id, c2.cl, round(SUM((e.x - c2.cx) * (e.x - c2.cx)), 6) AS dist
      |       FROM e JOIN c2 ON e.dim = c2.dim GROUP BY e.vec_id, c2.cl),
      |a3 AS (SELECT vec_id, cl, dist FROM (
      |         SELECT vec_id, cl, dist,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
      |         FROM d3) WHERE rn = 1)
      |SELECT cl, COUNT(*) AS n_vectors,
      |  CAST(SUM(CAST(dist AS DECIMAL(18,6))) AS DOUBLE) AS inertia,
      |  MIN(vec_id) AS min_vec
      |FROM a3 GROUP BY cl ORDER BY cl""".stripMargin

  /** IVF with LEARNED centroids: the coarse quantizer is the 2-round
    * Lloyd's k-means above instead of label means — the real IVF build
    * path (no label column needed at inference). Corpus partitioning is
    * the same shuffle-free literal-matrix assignment; each query probes
    * its 2 nearest learned centroids. Rows-only (recall < 1 by design);
    * recall@3 floor pinned in AnnRecallSpec + recall_gates.json. */
  private val annIvfKmeans: Q = (s, dir) => {
    val e = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val cents = kmeansFit(e, 4)
    val corpus = kmeansAssign(e.filter(col("vec_id") >= 10), cents)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"), col("cl"))
    val idArr = array(cents.map { case (id, _) => lit(id) }: _*)
    val centArr = array(cents.map { case (_, c) => array(c.map(lit(_)): _*) }: _*)
    val wc = Window.partitionBy(col("qid")).orderBy(col("probe.dist"), col("probe.cl"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        explode(arrays_zip(idArr.as("cl"),
          transform(centArr, c => sqDist(col("embedding"), c)).as("dist"))).as("probe"))
      .withColumn("c_rnk", row_number().over(wc))
      .filter(col("c_rnk") <= 2)
      .select(col("qid"), col("q_emb"), col("probe.cl").as("cl"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    corpus.join(broadcast(probes), Seq("cl"))
      .withColumn("cos", round(GraftExpressions.cosine_sim(col("q_emb"), col("c_emb")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"), col("cl"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Product quantization (PQ) ANN — the storage-compressed scale path
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search").
    * The 64-dim vectors split into M=16 subspaces of 4 dims; each
    * subspace gets its own k=16 codebook, and ALL M codebooks train in
    * the same two Lloyd's scans via a long-format (vector, subspace)
    * explode — one (sp,code,dim)-keyed mean shuffle per round, never M
    * sequential k-means runs. A corpus vector is then 16 nibble codes —
    * 8 bytes instead of 256 — and the query-side ADC sums M broadcast
    * table lookups per candidate instead of a 64-dim dot product.
    *
    * Distributed shape: codebooks are driver-held literals (M×k×8 floats,
    * same bounded state as k-means), so ENCODING is a shuffle-free scan;
    * the ADC scan broadcasts the 10 queries (each carrying its M×k
    * distance table) over the corpus — one pass, no shuffle except the
    * final per-query top-k. At 100 TB the codebooks would be trained on a
    * sample, the codes persisted as an 8-byte column, and this exact ADC
    * plan reads codes only, and the exact re-rank touches 32 candidates
    * per query instead of the corpus. Rows-only (the ADC shortlist is
    * approximate by construction); recall@3 ≥ 0.5 gated in
    * recall_gates.json + AnnRecallSpec (measured 0.80 at sf0.01). */
  private val annPq: Q = (s, dir) => {
    val m = 16
    // normalize once (same path as sim_ann_unit_topk) so the PQ
    // inner-product ADC approximates the cosine the exact ranking uses
    val e = load(s, dir, "embeddings")
      .withColumn("nrm", sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double"))))
      .select(col("vec_id"), transform(col("embedding"),
        x => (x.cast("double") / col("nrm")).cast("float")).as("embedding"))
    val sub = e.select(size(col("embedding"))).head.getInt(0) / m
    // TRAINING SAMPLE, long format: one row per (vector, subspace) — ALL
    // m codebooks train in the SAME scans instead of m sequential
    // k-means runs. Codebooks are m×k×sub ≈ 4 KB of state; fitting them
    // never needs the full corpus, so the Lloyd's scans run over a
    // deterministic 1-in-4 id slice (seed ids always included) — at
    // 100 TB this is the difference between two corpus-wide shuffles
    // and two sample-sized ones, and the recall gate polices fit quality
    val svecs = e.filter(col("vec_id") % 4 === 0 || col("vec_id") < 16)
      .select(col("vec_id"), explode(transform(
        sequence(lit(0), lit(m - 1)),
        i => struct(i.as("sp"), slice(col("embedding"), i * sub + 1, lit(sub)).as("sv")))).as("x"))
      .select(col("vec_id"), col("x.sp").as("sp"), col("x.sv").as("sv"))
      .cache()
    // seed: the 16 lowest vec_ids' subvectors, ordered, per subspace
    var books: Map[Int, Seq[Seq[Float]]] = svecs.filter(col("vec_id") < 16).collect()
      .groupBy(_.getInt(1)).map { case (spi, rows) =>
        spi -> rows.sortBy(_.getLong(0)).map(_.getSeq[Float](2).toSeq).toSeq }
    def booksLit = array((0 until m).map { i =>
      array(books(i).map(c => array(c.map(lit(_)): _*)): _*) }: _*)
    // code = 1-based L2-argmin into THIS row's subspace codebook
    def codeCol = {
      val d = transform(element_at(booksLit, col("sp") + 1), c => sqDist(col("sv"), c))
      array_position(d, array_min(d)).cast("int")
    }
    // two Lloyd's rounds over every subspace at once: one scan + one
    // (sp,code,dim)-keyed mean shuffle per round; driver state is the
    // m×k×sub codebook matrix (bounded), exactly like sim_kmeans_clusters
    for (_ <- 0 until 2) {
      val updated = svecs.withColumn("code", codeCol)
        .select(col("sp"), col("code"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("sp"), col("code"), col("dim")).agg(avg(col("x").cast("double")).as("cx"))
        .collect()
      books = updated.groupBy(_.getInt(0)).map { case (spi, rows) =>
        spi -> rows.groupBy(_.getInt(1)).toSeq.sortBy(_._1).map { case (_, rs) =>
          rs.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat).toSeq } }
    }
    def ip(a: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, c, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    // corpus ENCODING: one codegen scan producing the m nibble codes as
    // an array<int> column — the 8-byte-per-vector column you persist at
    // 100 TB. No explode, no shuffle. The encode is the native
    // [[graft.functions.GraftExpressions.PqEncodeCodes]] expression
    // (primitive generated loops, codebooks shipped as a 4 KB reference
    // object); the previous higher-order-function composition is
    // CodegenFallback in Spark — a boxed interpreted lambda per array
    // element — and at 100× replicas it dominated the query's wall.
    // Arithmetic (double fold order, half-up round-6 per centroid,
    // first-min argmin) is bit-identical; GraftExpressionsSpec ("PQ
    // native encode and ADC score match the composed-builtins
    // formulation bit-for-bit") pins native == composed on real
    // embeddings.
    val booksArr: Array[Array[Array[Double]]] =
      (0 until m).map(i => books(i).map(_.map(_.toDouble).toArray).toArray).toArray
    val codes = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"),
        graft.functions.GraftExpressions.pq_encode(col("embedding"), booksArr).as("codes"))
    // query-side INNER-PRODUCT tables (ADC dot ≈ cosine on unit vectors):
    // per query an m×k lookup table, tiny — broadcast over the codes scan
    val qtab = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        transform(sequence(lit(0), lit(m - 1)), i =>
          transform(element_at(booksLit, i + 1),
            c => ip(slice(col("embedding"), i * sub + 1, lit(sub)), c))).as("tab"))
    // ADC shortlist (top-32 by approximate dot, codes only — the cheap
    // pass): score = Σ_sp tab[sp][code[sp]], a pure per-row lookup sum
    // against the broadcast tables. The previous shape shuffled
    // |corpus|·m·|Q| long-format rows into a (qid,cid) aggregate; this
    // one shuffles nothing until the final per-query top-k. Then exact
    // re-rank of just the shortlist against the full vectors (the
    // standard ADC+refine pipeline: exact FLOPs touch 32 candidates per
    // query, not the corpus).
    val ws = Window.partitionBy(col("qid")).orderBy(col("ad").desc, col("cid"))
    // CORPUS-SCALED shortlist width: with a fixed 32-candidate refine,
    // recall@3 collapses as the corpus grows (distractors with higher
    // ADC scores than the true neighbors accumulate linearly in corpus
    // size — measured 0.83 at sf0.01 vs 0.43 at sf1 under the fixed 32,
    // and still 0.47 at one-per-500; RECALL_SF1.json, round 14). One
    // refine candidate per 100 corpus vectors keeps the exact re-rank
    // at ~1% of the corpus — trivial next to the ADC scan at any
    // scale — and the 32 floor keeps every corpus under 3.2k vectors
    // (all oracle SFs) byte-identical.
    val (corpusRows, _) = parquetFooterStats(s, dir, "embeddings", "vec_id")
    val refine = math.max(32, math.ceil(corpusRows / 100.0).toInt)
    // ADC lookup-sum as the native PqAdcScore expression — the other
    // corpus-scale loop (|corpus|·|Q| rows × m lookups each)
    val shortlist = codes.crossJoin(broadcast(qtab.select(col("qid"), col("tab"))))
      .select(col("qid"), col("cid"),
        graft.functions.GraftExpressions.pq_adc_score(col("tab"), col("codes")).as("ad"))
      .withColumn("srk", row_number().over(ws))
      .filter(col("srk") <= refine)
      .select(col("qid"), col("cid"))
      .join(broadcast(qtab.select(col("qid"), col("q_emb"))), "qid")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
      .join(broadcast(shortlist), "cid")
      .withColumn("cos", round(ip(col("q_emb"), col("c_emb")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"))
      .orderBy(col("qid"), col("rnk"))
  }

  // ---- ANN recall gates: the oracled face of the approximate queries.
  // An approximate top-k result can never hash-match a SQL oracle (its
  // whole point is recall < 1), so the EXPORTED query wraps the raw ANN
  // pipeline in its own quantitative contract: join the ANN top-3
  // against an in-query exact brute-force top-3, compute aggregate
  // recall@3, and emit one row per query vector with (a) the exact
  // best cosine — which DuckDB recomputes exactly, pinning the
  // reference side — and (b) the measured-recall-≥-floor boolean. A
  // recall regression in any ANN path flips the boolean on every row
  // and fails the driver's hash compare. The raw top-k results stay
  // available to library users and to AnnRecallSpec/QualityGates via
  // [[rawAnn]].

  private def exactTop3(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
    val corpus = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    corpus.crossJoin(broadcast(queries))
      .withColumn("cos", round(GraftExpressions.cosine_sim(col("q_emb"), col("c_emb")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"))
  }

  private def recallGated(approx: DataFrame, exact: DataFrame, floor: Double): DataFrame = {
    val hits = exact.select(col("qid"), col("cid"))
      .join(approx.filter(col("rnk") <= 3).select(col("qid"), col("cid")), Seq("qid", "cid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    val perQ = exact.groupBy(col("qid"))
      .agg(max(when(col("rnk") === 1, col("cos"))).as("exact_best_cos"),
        count(lit(1)).as("k"))
      .join(hits, Seq("qid"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
    // global window over the 10 query rows (report grain — bounded)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perQ.select(col("qid"), col("exact_best_cos"),
        ((sum(col("hits")).over(wAll).cast("double") / sum(col("k")).over(wAll))
          >= floor).as("recall_floor_met"))
      .orderBy(col("qid"))
  }

  /** floors mirror recall_gates.json / AnnRecallSpec (measured at
    * sf0.01: lsh 4-bit ≈0.57, ivf ≈0.43, ivf-kmeans ≈0.40, pq ≈0.80).
    * LSH is gated at its 4-bit operating point — this corpus has weak
    * angular structure, so the default 8-bit buckets are near-empty. */
  private val annLshGate: Q = (s, dir) =>
    recallGated(annLshAt(s, dir, 4), exactTop3(s, dir), 0.30)
  private val annIvfGate: Q = (s, dir) =>
    recallGated(annIvf(s, dir), exactTop3(s, dir), 0.25)
  private val annIvfKmeansGate: Q = (s, dir) =>
    recallGated(annIvfKmeans(s, dir), exactTop3(s, dir), 0.25)
  private val annPqGate: Q = (s, dir) =>
    recallGated(annPq(s, dir), exactTop3(s, dir), 0.50)

  private val annGateSql =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |n AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM e GROUP BY vec_id),
      |dt AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.x * c.x) AS dot
      |  FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND c.vec_id >= 10
      |  GROUP BY q.vec_id, c.vec_id),
      |cs AS (SELECT qid, round(dot / (nq.nrm * nc.nrm), 6) AS cos
      |       FROM dt JOIN n nq ON nq.vec_id = qid JOIN n nc ON nc.vec_id = cid)
      |SELECT qid, MAX(cos) AS exact_best_cos, true AS recall_floor_met
      |FROM cs GROUP BY qid ORDER BY qid""".stripMargin

  /** raw approximate top-k results (the library surface for users who
    * want neighbors, not gates) — also what AnnRecallSpec/QualityGates
    * measure recall from */
  private[graft] val rawAnn: Map[String, Q] = Map(
    "sim_ann_lsh" -> annLsh,
    "sim_ann_ivf" -> annIvf,
    "sim_ann_ivf_kmeans" -> annIvfKmeans,
    "sim_ann_pq" -> annPq)

  /** label-centroid similarity matrix — aggregation over vector columns.
    * Oracled: both sides quantize the double centroid means through
    * FLOAT (bit-exact round-trip) before the cosine, and the final
    * round(…,4) absorbs summation-order jitter in the ratio. */
  private val labelCentroidSim: Q = (s, dir) => {
    val e = load(s, dir, "embeddings")
    val cent = e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim")).agg(avg(col("x").cast("double")).as("cx"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cx")))).as("pairs"))
      .select(col("label"), transform(col("pairs"), p => p.getField("cx").cast("float")).as("centroid"))
    val a = cent.select(col("label").as("la"), col("centroid").as("ca"))
    val b = cent.select(col("label").as("lb"), col("centroid").as("cb"))
    a.crossJoin(b).filter(col("la") < col("lb"))
      .select(col("la"), col("lb"),
        round(GraftExpressions.cosine_sim(col("ca"), col("cb")), 4).as("cos"))
      .orderBy(col("la"), col("lb"))
  }

  /** int8 quantization path for vector storage: scale to [-127,127] by
    * per-vector max-abs, roundtrip, and report reconstruction error +
    * quantized-vs-full cosine drift. 4x smaller vectors at 100 TB; the
    * dequantized cosine shows the recall cost is bounded. */
  private val quantize: Q = (s, dir) => {
    val e = load(s, dir, "embeddings").filter(col("vec_id") < 100)
    val maxAbs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    val q = e.withColumn("scale", maxAbs / 127.0)
      .withColumn("q8", transform(col("embedding"),
        x => round(x.cast("double") / col("scale"), 0).cast("int")))
      .withColumn("deq", transform(col("q8"), v => v.cast("double") * col("scale")))
    q.select(col("vec_id"),
        round(col("scale"), 9).as("scale"),
        element_at(col("q8"), 1).as("q0"),
        round(GraftExpressions.sq_distance(col("embedding"), col("deq")), 9).as("sq_err"))
      .orderBy(col("vec_id"))
  }

  private val quantizeSql =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0 AS scale,
      |    embedding
      |  FROM embeddings WHERE vec_id < 100),
      |w AS (
      |  SELECT vec_id, scale,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INTEGER)) AS q8,
      |    embedding
      |  FROM q)
      |SELECT vec_id, round(scale, 9) AS scale, q8[1] AS q0,
      |  round(list_sum(list_transform(list_zip(embedding, q8),
      |    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)
      |       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale))), 9) AS sq_err
      |FROM w ORDER BY vec_id""".stripMargin

  /** Margin-based parallel-pair mining (the LASER/CCMatrix bitext-mining
    * criterion): a candidate pair scores not by raw cosine but by the
    * RATIO of its cosine to the mean of each side's top-k neighborhood —
    * margin(x,y) = cos(x,y) / ((avgTopK(x) + avgTopK(y)) / 2) — which
    * suppresses hub vectors that are "near everything". Sides here are
    * the even/odd vec_id halves (stand-ins for two languages' encoder
    * outputs); each source keeps its best target iff margin ≥ 1.05.
    * Exact, ORACLED formulation: the pair table is the cross-product
    * with NO planted broadcast hint — at this SF the optimizer
    * broadcasts the source side from its stats; at scale neither half
    * is broadcastable and the pair generation swaps in the LSH/IVF
    * shortlist (the margin math downstream is unchanged), so hinting
    * would only bake in a driver-OOM (the recursive-CTE lesson).
    * Cosines round to 6 dp before the windows so both engines agree
    * on every top-k and argmax boundary. */
  private val marginMining: Q = (s, dir) =>
    marginSurvivors(marginPairsExact(s, dir))

  /** the exact pair table: full even×odd cross product (oracle scale
    * only — see the doc above) */
  private def marginPairsExact(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
    val src = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("sid"), col("embedding").as("s_emb"))
    val tgt = e.filter(col("vec_id") % 2 =!= 0)
      .select(col("vec_id").as("tid"), col("embedding").as("t_emb"))
    tgt.crossJoin(src)
      .withColumn("cos",
        round(GraftExpressions.cosine_sim(col("s_emb"), col("t_emb")), 6))
      .select(col("sid"), col("tid"), col("cos"))
  }

  /** the margin math downstream of pair generation — SHARED between the
    * exact cross-product oracle and the ANN-shortlist scale path, so the
    * two variants differ ONLY in which candidate pairs exist. Per side,
    * top-4 neighborhood means over the pair table; margin = cos to the
    * ratio of the two means; each source keeps its best target iff
    * margin ≥ 1.05. */
  private def marginSurvivors(pairs: DataFrame): DataFrame = {
    val wS = Window.partitionBy(col("sid")).orderBy(col("cos").desc, col("tid"))
    val wT = Window.partitionBy(col("tid")).orderBy(col("cos").desc, col("sid"))
    val ranked = pairs
      .withColumn("rs", row_number().over(wS))
      .withColumn("rt", row_number().over(wT))
    // top-4 averages round to 8 dp, NOT 6: an avg of four 6-dp values
    // sits on a 2.5e-7 grid, i.e. EXACTLY on 6-dp half-boundaries,
    // where Spark (HALF_UP on the decimal) and the oracle (nearest
    // double) disagree; the 25e-8 grid is exact at 8 dp so rounding
    // there is unambiguous and both engines see bit-identical operands
    val aSrc = ranked.filter(col("rs") <= 4)
      .groupBy(col("sid")).agg(round(avg(col("cos")), 8).as("a_src"))
    val aTgt = ranked.filter(col("rt") <= 4)
      .groupBy(col("tid")).agg(round(avg(col("cos")), 8).as("a_tgt"))
    val wBest = Window.partitionBy(col("sid"))
      .orderBy(col("margin").desc, col("tid"))
    // NO hint on the aSrc/aTgt joins: the build sides are per-key
    // aggregates (one row per source/target — tiny at any corpus), so
    // broadcast/AQE-chosen hash is the right shape; a merge hint here
    // was measured to FORCE sort-merge over the broadcast and cost the
    // vanilla twin 65→96 s at 100× (round 15)
    pairs.join(aSrc, "sid").join(aTgt, "tid")
      .withColumn("margin",
        round(col("cos") / ((col("a_src") + col("a_tgt")) / 2), 6))
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1 && col("margin") >= 1.05)
      .select(col("sid"), col("tid"), col("cos"), col("margin"))
      .orderBy(col("sid"))
  }

  /** ANN-shortlist candidate pairs for margin mining: both sides hashed
    * once into corpus-scaled hyperplane buckets; the source side
    * multi-probes its bucket plus every hamming-1 neighbor (the recall
    * lever), targets stay single-bucket, so each (sid, tid) candidate
    * is emitted by EXACTLY ONE probe (XOR injectivity — no distinct
    * needed). Shuffle volume: (1+bits)×|src| + |tgt| skinny rows into
    * the bucket join; candidate volume ~n·bucketTarget·(1+bits) at
    * corpus-scaled bits — no all-pairs product anywhere. */
  private[graft] def marginMiningAnnPairs(s: SparkSession, dir: String, bits: Int): DataFrame = {
    val e = load(s, dir, "embeddings")
      .withColumn("bucket", lshBucket(col("embedding"), bits))
    // probe ring: {0} ∪ hamming-1, PLUS — once corpus-scaled bits reach
    // 6 — the query-directed hamming-2 masks over each source row's 4
    // weakest planes. The deeper ring exists because recall under a
    // fixed ring COLLAPSES as bits grow (a neighbor disagreeing on ≤1
    // of 4 planes is likely; on ≤1 of 13 planes it is not — measured:
    // survivor recall 0.48 at 4 bits / sf0.01 vs 0.25 at 10 bits / sf1
    // with the hamming-1 ring; RECALL_SF1.json, round 14). Perturbing
    // only the weakest planes buys most of the hamming-2 recall mass
    // for +6 probes instead of +C(bits,2). The bits<6 gate keeps every
    // oracle-SF plan byte-identical (sf0.01 runs at the 4-bit floor).
    val ring1 = (lit(0) +: (0 until bits).map(i => lit(1 << i))): Seq[org.apache.spark.sql.Column]
    val probeMasks = // evaluated after the select below: the vector column is s_emb
      if (bits < 6) array(ring1: _*)
      else concat(array(ring1: _*), weakPairMasks(col("s_emb"), bits, ringWidth(s, bits)))
    val src = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("sid"), col("embedding").as("s_emb"), col("bucket"))
      .withColumn("mask", explode(probeMasks))
      .withColumn("bucket", col("bucket").bitwiseXOR(col("mask")))
      .drop("mask")
    val tgt = e.filter(col("vec_id") % 2 =!= 0)
      .select(col("vec_id").as("tid"), col("embedding").as("t_emb"), col("bucket"))
    // HINTED sort-merge, the containment lesson applied here (round 15,
    // measured at 100×/10-bit ring): under the session's SHJ preference
    // the bucket join built a hash map over the exploded probe side and
    // ran 100.7 s vs 68.0 s with SMJ — sort-merge streams and spills
    // gracefully at any candidate volume, and the deep ring multiplies
    // exactly that volume. Same rows either way (oracle-checked).
    tgt.join(src.hint("merge"), Seq("bucket"))
      .withColumn("cos",
        round(GraftExpressions.cosine_sim(col("s_emb"), col("t_emb")), 6))
      .select(col("sid"), col("tid"), col("cos"))
  }

  /** the scalable margin-mining pipeline (library surface): LSH
    * candidate pairs → the UNCHANGED margin math. Candidate pairs are
    * persisted for the duration of the margin windows — the pair table
    * feeds three consumers (rs ranking, rt ranking, the final margin
    * join) and the bucket join is the expensive leg at corpus scale.
    * The persist is retired via [[retireMarginCache]]: exactly one live
    * candidate cache per session (the next margin run, or an explicit
    * [[releaseCaches]], unpersists the previous one) — the same
    * deferred-release discipline DedupOps' capped-banding cache uses,
    * so library callers that never `clearCache()` do not accumulate
    * DISK_ONLY blocks across repeated margin runs. */
  private[graft] def marginMiningAnn(s: SparkSession, dir: String): DataFrame = {
    val pairs = registerMarginCache(
      marginMiningAnnPairs(s, dir, autoLshBits(s, dir, 4)))
    marginSurvivors(pairs)
  }

  /** The live margin-candidate DISK_ONLY cache, if any — exactly one
    * per session (see [[marginMiningAnn]]). */
  private val lastMarginCache =
    new java.util.concurrent.atomic.AtomicReference[Option[DataFrame]](None)

  /** Retire the previous margin run's candidate cache, THEN persist and
    * register `next` as the live one. Order matters: Dataset.unpersist
    * removes cache entries by CANONICAL PLAN match, so retiring after
    * the new persist would evict the new entry too whenever two margin
    * runs share a corpus (identical plans — the back-to-back shape
    * AnnRecallSpec and pipeline callers use). Safe at any time: an
    * unpersisted plan recomputes transparently if still referenced. */
  private def registerMarginCache(next: DataFrame): DataFrame = {
    lastMarginCache.getAndSet(None).foreach(_.unpersist(blocking = false))
    val persisted = next.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    lastMarginCache.set(Some(persisted))
    persisted
  }

  /** Release SimilarityOps-held persisted blocks (the margin-mining
    * candidate cache). Harnesses that `clearCache()` per query never
    * accumulate anyway; a long-lived pipeline session calls this when
    * its mining work is done. */
  def releaseCaches(): Unit =
    lastMarginCache.getAndSet(None).foreach(_.unpersist(blocking = false))

  private val marginMiningSql =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      |n AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM e GROUP BY vec_id),
      |dt AS (SELECT s.vec_id AS sid, t.vec_id AS tid, SUM(s.x * t.x) AS dot
      |       FROM e s JOIN e t ON s.i = t.i AND s.vec_id % 2 = 0 AND t.vec_id % 2 = 1
      |       GROUP BY 1, 2),
      |cs AS (SELECT sid, tid, round(dot / (ns.nrm * nt.nrm), 6) AS cos
      |       FROM dt JOIN n ns ON ns.vec_id = sid JOIN n nt ON nt.vec_id = tid),
      |r AS (SELECT sid, tid, cos,
      |       ROW_NUMBER() OVER (PARTITION BY sid ORDER BY cos DESC, tid) AS rs,
      |       ROW_NUMBER() OVER (PARTITION BY tid ORDER BY cos DESC, sid) AS rt FROM cs),
      |asrc AS (SELECT sid, round(avg(cos), 8) AS a_src FROM r WHERE rs <= 4 GROUP BY 1),
      |atgt AS (SELECT tid, round(avg(cos), 8) AS a_tgt FROM r WHERE rt <= 4 GROUP BY 1),
      |m AS (SELECT cs.sid, cs.tid, cs.cos,
      |        round(cs.cos / ((a_src + a_tgt) / 2), 6) AS margin
      |      FROM cs JOIN asrc ON asrc.sid = cs.sid JOIN atgt ON atgt.tid = cs.tid),
      |b AS (SELECT sid, tid, cos, margin,
      |        ROW_NUMBER() OVER (PARTITION BY sid ORDER BY margin DESC, tid) AS rk FROM m)
      |SELECT sid, tid, cos, margin FROM b WHERE rk = 1 AND margin >= 1.05
      |ORDER BY sid""".stripMargin

  /** Oracled gate face of the ANN-shortlist margin miner (the scale
    * path whose candidate pairs come from [[marginMiningAnnPairs]]
    * instead of the O(n²) cross product). Same contract shape as the
    * `sim_ann_*` gates: a fixed 10-source probe panel (the lowest even
    * vec_ids < 20) gets an EXACT reference computed in-query at linear
    * cost — best-target cosine over ALL targets, plus the exact margin
    * of that best pair (a_src = the probe's top-4 mean over all
    * targets; a_tgt = the winning target's top-4 mean over ALL
    * sources — the same definitions the full exact miner uses, each
    * O(panel×corpus)) — all DuckDB-recomputable. The booleans are
    * measured in-query from the FULL corpus-wide ANN pipeline:
    *  - `recall_floor_met`: ≥ 30% of probes have their exact best
    *    target inside the ANN candidate set (measured 0.50 at sf0.01,
    *    4-bit operating point — one plane-flip per 66° pair, the same
    *    operating regime the sim_ann_lsh gate pins at 0.30);
    *  - `agreement_floor_met`: of the probes whose best-cos pair
    *    exactly clears margin ≥ 1.05, ≥ 30% are emitted by the ANN
    *    survivors with that same target (measured 0.56 at sf0.01; the
    *    ANN winner may differ when its margin argmax ≠ cos argmax).
    * A recall or agreement regression flips every row and fails the
    * driver's hash compare. The probe reference stays linear at any
    * corpus size, so this exported face is also the scale-bench query. */
  private val marginMiningAnnGate: Q = (s, dir) => {
    val bits = autoLshBits(s, dir, 4)
    val e = load(s, dir, "embeddings")
    val probes = e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 20)
      .select(col("vec_id").as("sid"), col("embedding").as("s_emb"))
    val tgt = e.filter(col("vec_id") % 2 =!= 0)
      .select(col("vec_id").as("tid"), col("embedding").as("t_emb"))
    val wS = Window.partitionBy(col("sid")).orderBy(col("cos").desc, col("tid"))
    val rankedP = tgt.crossJoin(broadcast(probes))
      .withColumn("cos",
        round(GraftExpressions.cosine_sim(col("s_emb"), col("t_emb")), 6))
      .select(col("sid"), col("tid"), col("cos"))
      .withColumn("rs", row_number().over(wS))
    val aSrc = rankedP.filter(col("rs") <= 4)
      .groupBy(col("sid")).agg(round(avg(col("cos")), 8).as("a_src"))
    val best = rankedP.filter(col("rs") === 1)
      .select(col("sid"), col("tid").as("best_tid"), col("cos").as("exact_best_cos"))
    // a_tgt for the ≤10 winning targets: top-4 over ALL sources
    val srcAll = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("sid2"), col("embedding").as("s_emb2"))
    val btEmb = tgt.join(broadcast(best.select(col("best_tid")).distinct()),
      col("tid") === col("best_tid")).select(col("tid"), col("t_emb"))
    val wT = Window.partitionBy(col("tid")).orderBy(col("cos2").desc, col("sid2"))
    val aTgt = srcAll.crossJoin(broadcast(btEmb))
      .withColumn("cos2",
        round(GraftExpressions.cosine_sim(col("s_emb2"), col("t_emb")), 6))
      .withColumn("rt", row_number().over(wT))
      .filter(col("rt") <= 4)
      .groupBy(col("tid")).agg(round(avg(col("cos2")), 8).as("a_tgt"))
    val exact = best.join(aSrc, "sid")
      .join(aTgt, col("best_tid") === aTgt("tid"))
      .withColumn("exact_margin",
        round(col("exact_best_cos") / ((col("a_src") + col("a_tgt")) / 2), 6))
      .withColumn("exact_survivor", col("exact_margin") >= 1.05)
      .select(col("sid"), col("best_tid"), col("exact_best_cos"),
        col("exact_margin"), col("exact_survivor"))
    // full corpus-wide ANN pipeline — candidates persisted once (three
    // consumers: the two ranking passes + the margin join + the recall
    // lookup below), DISK_ONLY so 100× replicas never squeeze the heap;
    // registered with the session-wide single-slot cache (see
    // marginMiningAnn) so repeated gate runs retire their predecessor
    val annPairs = registerMarginCache(marginMiningAnnPairs(s, dir, bits))
    val annWinners = marginSurvivors(annPairs)
      .select(col("sid"), col("tid").as("best_tid"), lit(true).as("ann_winner"))
    val flagged = exact
      .join(annPairs.select(col("sid"), col("tid").as("best_tid"),
        lit(true).as("in_cand")), Seq("sid", "best_tid"), "left")
      .join(annWinners, Seq("sid", "best_tid"), "left")
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nSurv = sum(when(col("exact_survivor"), 1).otherwise(0)).over(wAll)
    val nAgree = sum(when(col("exact_survivor") &&
      coalesce(col("ann_winner"), lit(false)), 1).otherwise(0)).over(wAll)
    flagged.select(col("sid"), col("exact_best_cos"), col("exact_margin"),
        col("exact_survivor"),
        ((sum(when(coalesce(col("in_cand"), lit(false)), 1).otherwise(0)).over(wAll)
          .cast("double") / count(lit(1)).over(wAll)) >= 0.30).as("recall_floor_met"),
        when(nSurv > 0, (nAgree.cast("double") / nSurv.cast("double")) >= 0.30)
          .otherwise(lit(true)).as("agreement_floor_met"))
      .orderBy(col("sid"))
  }

  private val marginMiningAnnGateSql =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      |n AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM e GROUP BY vec_id),
      |dt AS (SELECT s.vec_id AS sid, t.vec_id AS tid, SUM(s.x * t.x) AS dot
      |       FROM e s JOIN e t ON s.i = t.i
      |         AND s.vec_id % 2 = 0 AND s.vec_id < 20 AND t.vec_id % 2 = 1
      |       GROUP BY 1, 2),
      |cs AS (SELECT sid, tid, round(dot / (ns.nrm * nt.nrm), 6) AS cos
      |       FROM dt JOIN n ns ON ns.vec_id = sid JOIN n nt ON nt.vec_id = tid),
      |r AS (SELECT sid, tid, cos,
      |        ROW_NUMBER() OVER (PARTITION BY sid ORDER BY cos DESC, tid) AS rs FROM cs),
      |asrc AS (SELECT sid, round(avg(cos), 8) AS a_src FROM r WHERE rs <= 4 GROUP BY 1),
      |best AS (SELECT sid, tid AS best_tid, cos AS exact_best_cos FROM r WHERE rs = 1),
      |dt2 AS (SELECT s.vec_id AS sid2, t.vec_id AS tid, SUM(s.x * t.x) AS dot
      |        FROM e s JOIN e t ON s.i = t.i AND s.vec_id % 2 = 0
      |          AND t.vec_id IN (SELECT best_tid FROM best)
      |        GROUP BY 1, 2),
      |cs2 AS (SELECT sid2, tid, round(dot / (ns.nrm * nt.nrm), 6) AS cos2
      |        FROM dt2 JOIN n ns ON ns.vec_id = sid2 JOIN n nt ON nt.vec_id = tid),
      |r2 AS (SELECT tid, cos2,
      |         ROW_NUMBER() OVER (PARTITION BY tid ORDER BY cos2 DESC, sid2) AS rt FROM cs2),
      |atgt AS (SELECT tid, round(avg(cos2), 8) AS a_tgt FROM r2 WHERE rt <= 4 GROUP BY 1)
      |SELECT b.sid, b.exact_best_cos,
      |  round(b.exact_best_cos / ((a.a_src + g.a_tgt) / 2), 6) AS exact_margin,
      |  (round(b.exact_best_cos / ((a.a_src + g.a_tgt) / 2), 6) >= 1.05) AS exact_survivor,
      |  true AS recall_floor_met, true AS agreement_floor_met
      |FROM best b JOIN asrc a ON a.sid = b.sid JOIN atgt g ON g.tid = b.best_tid
      |ORDER BY b.sid""".stripMargin

  /** SemDeDup (semantic dedup, Abbas et al. 2023): cluster the corpus
    * with the SAME 2-round distributed Lloyd's k-means as
    * `sim_kmeans_clusters`, then drop any vector whose cosine to a
    * LOWER-id vector in the SAME cluster is ≥ 0.4 (one-pass keeper
    * rule, same convention as `dedup_embedding`). The whole point of
    * the clustering is scale: the quadratic verify is confined to one
    * cluster's partition — with k ∝ corpus size the per-cluster pair
    * count stays bounded while all-pairs grows as n². The recall
    * tradeoff is visible in the fixture: all-pairs `dedup_embedding`
    * finds 59 pairs at the same threshold, the clustered pass drops 29
    * docs — cross-cluster near-dups are unseen by design. Exact given
    * the cluster assignment, so fully ORACLED (the oracle unrolls the
    * same two Lloyd's rounds). k is CORPUS-SCALED ([[semanticK]]):
    * k = max(4, ceil(n/clusterTarget)) keeps mean cluster occupancy at
    * clusterTarget, so within-cluster pair volume is ~n·target/2
    * instead of n²/4 — the actual SemDeDup scale lever (the paper runs
    * k ∝ corpus). Every oracle SF (≤ 2000 vectors at clusterTarget
    * 500) stays at the pinned k=4 the static DuckDB oracle unrolls;
    * the 100× replica corpus runs k=400 with the identical plan shape
    * (assignment is still one shuffle-free scan against a k×64 driver
    * literal, the mean shuffle still k×64 groups). */
  private val dedupSemantic: Q = (s, dir) => {
    val e = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val cents = kmeansFit(e, semanticK(s, dir))
    val assigned = kmeansAssign(e, cents)
      .select(col("vec_id"), col("embedding"), col("cl"))
    val dup = assigned
      .select(col("cl"), col("vec_id").as("va"), col("embedding").as("ea"))
      .join(assigned.select(col("cl"), col("vec_id").as("vb"),
        col("embedding").as("eb")), Seq("cl"))
      .filter(col("va") < col("vb"))
      .filter(round(GraftExpressions.cosine_sim(col("ea"), col("eb")), 6) >= 0.4)
      .select(col("vb").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cl"),
        coalesce(!col("is_dup"), lit(true)).as("keep"))
      .orderBy(col("vec_id"))
  }

  private val dedupSemanticSql =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |c0 AS (SELECT CAST(vec_id + 1 AS INTEGER) AS cl, dim, x AS cx FROM e WHERE vec_id < 4),
      |d1 AS (SELECT e.vec_id, c0.cl, round(SUM((e.x - c0.cx) * (e.x - c0.cx)), 6) AS dist
      |       FROM e JOIN c0 ON e.dim = c0.dim GROUP BY e.vec_id, c0.cl),
      |a1 AS (SELECT vec_id, cl FROM (
      |         SELECT vec_id, cl, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
      |         FROM d1) WHERE rn = 1),
      |c1 AS (SELECT a1.cl, e.dim, CAST(CAST(avg(e.x) AS FLOAT) AS DOUBLE) AS cx
      |       FROM e JOIN a1 ON e.vec_id = a1.vec_id GROUP BY a1.cl, e.dim),
      |d2 AS (SELECT e.vec_id, c1.cl, round(SUM((e.x - c1.cx) * (e.x - c1.cx)), 6) AS dist
      |       FROM e JOIN c1 ON e.dim = c1.dim GROUP BY e.vec_id, c1.cl),
      |a2 AS (SELECT vec_id, cl FROM (
      |         SELECT vec_id, cl, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
      |         FROM d2) WHERE rn = 1),
      |c2 AS (SELECT a2.cl, e.dim, CAST(CAST(avg(e.x) AS FLOAT) AS DOUBLE) AS cx
      |       FROM e JOIN a2 ON e.vec_id = a2.vec_id GROUP BY a2.cl, e.dim),
      |d3 AS (SELECT e.vec_id, c2.cl, round(SUM((e.x - c2.cx) * (e.x - c2.cx)), 6) AS dist
      |       FROM e JOIN c2 ON e.dim = c2.dim GROUP BY e.vec_id, c2.cl),
      |a3 AS (SELECT vec_id, cl FROM (
      |         SELECT vec_id, cl, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
      |         FROM d3) WHERE rn = 1),
      |nrm AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM e GROUP BY 1),
      |pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
      |  FROM a3 a JOIN a3 b ON a.cl = b.cl AND a.vec_id < b.vec_id),
      |dt AS (SELECT p.va, p.vb, SUM(ea.x * eb.x) AS dot
      |       FROM pairs p JOIN e ea ON ea.vec_id = p.va
      |         JOIN e eb ON eb.vec_id = p.vb AND ea.dim = eb.dim
      |       GROUP BY 1, 2),
      |dup AS (SELECT DISTINCT vb FROM dt
      |        JOIN nrm na ON na.vec_id = va JOIN nrm nb ON nb.vec_id = vb
      |        WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.4)
      |SELECT a3.vec_id, a3.cl,
      |  (a3.vec_id NOT IN (SELECT vb FROM dup)) AS keep
      |FROM a3 ORDER BY vec_id""".stripMargin

  /** Per-dimension z-score standardization — the feature-scaling pass
    * before clustering/quantization. Dim stats (mean, pop-stddev) come
    * out of ONE posexplode + 64-group shuffle and are pulled to the
    * driver (64 rows — the same bounded-state contract as the k-means
    * centroid matrix), so the apply step is a shuffle-free scan against
    * literal arrays. Stats and z-values are FLOAT-quantized (the
    * kmeans trick) so engine-specific summation order and stddev
    * algorithms (Welford vs naive) can never move a rounded output. */
  private val standardizeDims: Q = (s, dir) => {
    val e = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val stats = e.select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(avg(col("x").cast("double")).as("mu"),
        stddev_pop(col("x").cast("double")).as("sd"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getDouble(1).toFloat, r.getDouble(2).toFloat))
    val muArr = array(stats.map(t => lit(t._1)): _*)
    val sdArr = array(stats.map(t => lit(t._2)): _*)
    val centered = zip_with(col("embedding"), muArr,
      (x, m) => x.cast("double") - m.cast("double"))
    val z = zip_with(centered, sdArr,
      (d, sd) => (d / sd.cast("double")).cast("float").cast("double"))
    e.withColumn("z", z)
      .select(col("vec_id"),
        round(aggregate(col("z"), lit(0.0), (acc, v) => acc + v), 6).as("z_sum"),
        round(aggregate(col("z"), lit(0.0), (acc, v) => acc + v * v), 6).as("z_sq"))
      .orderBy(col("vec_id"))
  }

  private val standardizeDimsSql =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |st AS (SELECT dim, CAST(CAST(avg(x) AS FLOAT) AS DOUBLE) AS mu,
      |         CAST(CAST(stddev_pop(x) AS FLOAT) AS DOUBLE) AS sd
      |       FROM e GROUP BY dim),
      |z AS (SELECT e.vec_id,
      |        CAST(CAST((e.x - st.mu) / st.sd AS FLOAT) AS DOUBLE) AS z
      |      FROM e JOIN st USING (dim))
      |SELECT vec_id, round(SUM(z), 6) AS z_sum, round(SUM(z * z), 6) AS z_sq
      |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Top principal direction by distributed POWER ITERATION on the
    * (uncentered) second-moment matrix XᵀX — the linear-algebra
    * workhorse behind PCA whitening / spectral embeddings, in the same
    * bounded-driver-state shape as the k-means loop: v lives on the
    * driver (64 floats), each of the 3 unrolled iterations costs one
    * shuffle-free projection scan (per-row dot against the literal v,
    * rounded to 6 dp) plus one 64-group partial-agg shuffle for
    * u = Σᵢ xᵢ·sᵢ. Deterministic across engines: v₀ = 1/8 exactly
    * (binary-exact float), u FLOAT-quantized each round before the
    * unit-normalize, so the oracle's 3 unrolled SQL iterations see
    * bit-identical state. Output: the 64 loadings + the Rayleigh-
    * quotient eigenvalue estimate (‖u₃‖, the scale of the dominant
    * direction). */
  private val powerIteration: Q = (s, dir) => {
    val e = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val (v, eig) = persistedFor(e)(powerLoop(_, "embedding"))
    val spark = s
    import spark.implicits._
    v.zipWithIndex
      .map { case (l, i) => (i + 1, math.rint(l.toDouble * 1e6) / 1e6,
        math.rint(eig * 1e4) / 1e4) }
      .toDF("dim", "loading", "eigenvalue")
      .orderBy(col("dim"))
  }

  /** The 3 unrolled rounds [[powerIteration]] and [[pcaTop2]] share,
    * over the `emb` vectors of `df`: the unit direction and ‖u₃‖. */
  private def powerLoop(df: DataFrame, emb: String): (Seq[Float], Double) = {
    var v: Seq[Float] = Seq.fill(64)(0.125f)
    var eig = 0.0
    for (_ <- 0 until 3) {
      val vArr = array(v.map(lit(_)): _*)
      // native codegen dot against the literal direction (bit-identical
      // fold; the composed aggregate∘zip_with was CodegenFallback)
      val sCol = round(GraftExpressions.dot_product(col(emb), vArr), 6)
      val u = df.withColumn("s", sCol)
        .select(col("s"), posexplode(col(emb)).as(Seq("dim", "x")))
        .groupBy(col("dim"))
        .agg(sum(col("x").cast("double") * col("s")).cast("float").as("u"))
        .collect().sortBy(_.getInt(0)).map(_.getFloat(1))
      eig = math.sqrt(u.map(x => x.toDouble * x.toDouble).sum)
      v = u.map(x => (x / eig).toFloat).toSeq
    }
    (v, eig)
  }

  /** Top-2 principal directions: [[powerIteration]]'s distributed
    * matrix-free loop (driver state = one 64-float vector, data touched
    * only through score-project scans) plus HOTELLING DEFLATION for the
    * second component — each vector is re-expressed as x − (x·v1)·v1 on
    * the fly (a pure projection, nothing materialized), and the same
    * 3-iteration loop runs over the deflated column. Float-truncation
    * points (score rounded 6 dp, per-dim sums cast to float) are
    * mirrored by the unrolled DuckDB CTE chain, so the gate is exact —
    * the same discipline as [[powerIteration]]. */
  private val pcaTop2: Q = (s, dir) => {
    val e0 = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val ((v1, eig1), (v2, eig2)) = persistedFor(e0) { e0 =>
      val (v1, eig1) = powerLoop(e0, "embedding")
      val v1Arr = array(v1.map(lit(_)): _*)
      val deflated = e0
        .withColumn("sc", round(GraftExpressions.dot_product(col("embedding"), v1Arr), 6))
        .select(col("vec_id"), zip_with(col("embedding"), v1Arr,
          (x, vi) => (x.cast("double") - col("sc") * vi.cast("double"))
            .cast("float")).as("emb2"))
      ((v1, eig1), powerLoop(deflated, "emb2"))
    }
    val spark = s
    import spark.implicits._
    (v1.zipWithIndex.map { case (l, i) => (1, i + 1,
        math.rint(l.toDouble * 1e6) / 1e6, math.rint(eig1 * 1e4) / 1e4) } ++
      v2.zipWithIndex.map { case (l, i) => (2, i + 1,
        math.rint(l.toDouble * 1e6) / 1e6, math.rint(eig2 * 1e4) / 1e4) })
      .toDF("component", "dim", "loading", "eigenvalue")
      .orderBy(col("component"), col("dim"))
  }

  private def pcaIterCtes(src: String, tag: String): String =
    s"""s${tag}1 AS (SELECT vec_id, round(SUM(x * 0.125e0), 6) AS s FROM $src GROUP BY vec_id),
       |u${tag}1 AS (SELECT dim, CAST(CAST(SUM(e.x * s.s) AS FLOAT) AS DOUBLE) AS u
       |       FROM $src e JOIN s${tag}1 s USING (vec_id) GROUP BY dim),
       |n${tag}1 AS (SELECT sqrt(SUM(u * u)) AS nrm FROM u${tag}1),
       |v${tag}1 AS (SELECT dim, CAST(CAST(u / nrm AS FLOAT) AS DOUBLE) AS v FROM u${tag}1, n${tag}1),
       |s${tag}2 AS (SELECT e.vec_id, round(SUM(e.x * v.v), 6) AS s
       |       FROM $src e JOIN v${tag}1 v USING (dim) GROUP BY e.vec_id),
       |u${tag}2 AS (SELECT dim, CAST(CAST(SUM(e.x * s.s) AS FLOAT) AS DOUBLE) AS u
       |       FROM $src e JOIN s${tag}2 s USING (vec_id) GROUP BY dim),
       |n${tag}2 AS (SELECT sqrt(SUM(u * u)) AS nrm FROM u${tag}2),
       |v${tag}2 AS (SELECT dim, CAST(CAST(u / nrm AS FLOAT) AS DOUBLE) AS v FROM u${tag}2, n${tag}2),
       |s${tag}3 AS (SELECT e.vec_id, round(SUM(e.x * v.v), 6) AS s
       |       FROM $src e JOIN v${tag}2 v USING (dim) GROUP BY e.vec_id),
       |u${tag}3 AS (SELECT dim, CAST(CAST(SUM(e.x * s.s) AS FLOAT) AS DOUBLE) AS u
       |       FROM $src e JOIN s${tag}3 s USING (vec_id) GROUP BY dim),
       |n${tag}3 AS (SELECT sqrt(SUM(u * u)) AS nrm FROM u${tag}3),
       |v${tag}3 AS (SELECT dim, CAST(CAST(u / nrm AS FLOAT) AS DOUBLE) AS v FROM u${tag}3, n${tag}3)""".stripMargin

  private val pcaTop2Sql =
    s"""WITH e AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |${pcaIterCtes("e", "a")},
       |sc AS (SELECT e.vec_id, round(SUM(e.x * v.v), 6) AS s
       |       FROM e JOIN va3 v USING (dim) GROUP BY e.vec_id),
       |e2 AS (SELECT e.vec_id, e.dim,
       |         CAST(CAST(e.x - sc.s * v.v AS FLOAT) AS DOUBLE) AS x
       |       FROM e JOIN sc USING (vec_id) JOIN va3 v USING (dim)),
       |${pcaIterCtes("e2", "b")}
       |SELECT 1 AS component, CAST(dim AS INTEGER) AS dim, round(v, 6) AS loading,
       |  round((SELECT nrm FROM na3), 4) AS eigenvalue FROM va3
       |UNION ALL
       |SELECT 2, CAST(dim AS INTEGER), round(v, 6),
       |  round((SELECT nrm FROM nb3), 4) FROM vb3
       |ORDER BY component, dim""".stripMargin

  private val powerIterationSql =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |s1 AS (SELECT vec_id, round(SUM(x * 0.125e0), 6) AS s FROM e GROUP BY vec_id),
      |u1 AS (SELECT dim, CAST(CAST(SUM(e.x * s1.s) AS FLOAT) AS DOUBLE) AS u
      |       FROM e JOIN s1 USING (vec_id) GROUP BY dim),
      |n1 AS (SELECT sqrt(SUM(u * u)) AS nrm FROM u1),
      |v1 AS (SELECT dim, CAST(CAST(u / nrm AS FLOAT) AS DOUBLE) AS v FROM u1, n1),
      |s2 AS (SELECT e.vec_id, round(SUM(e.x * v1.v), 6) AS s
      |       FROM e JOIN v1 USING (dim) GROUP BY e.vec_id),
      |u2 AS (SELECT dim, CAST(CAST(SUM(e.x * s2.s) AS FLOAT) AS DOUBLE) AS u
      |       FROM e JOIN s2 USING (vec_id) GROUP BY dim),
      |n2 AS (SELECT sqrt(SUM(u * u)) AS nrm FROM u2),
      |v2 AS (SELECT dim, CAST(CAST(u / nrm AS FLOAT) AS DOUBLE) AS v FROM u2, n2),
      |s3 AS (SELECT e.vec_id, round(SUM(e.x * v2.v), 6) AS s
      |       FROM e JOIN v2 USING (dim) GROUP BY e.vec_id),
      |u3 AS (SELECT dim, CAST(CAST(SUM(e.x * s3.s) AS FLOAT) AS DOUBLE) AS u
      |       FROM e JOIN s3 USING (vec_id) GROUP BY dim),
      |n3 AS (SELECT sqrt(SUM(u * u)) AS nrm FROM u3),
      |v3 AS (SELECT dim, CAST(CAST(u / nrm AS FLOAT) AS DOUBLE) AS v FROM u3, n3)
      |SELECT CAST(dim AS INTEGER) AS dim, round(v, 6) AS loading,
      |  round((SELECT nrm FROM n3), 4) AS eigenvalue
      |FROM v3 ORDER BY dim""".stripMargin

  /** MMR (maximal marginal relevance) diversified re-ranking — the
    * context-selection step of a RAG pipeline: greedily pick 5 docs
    * maximizing λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s) (λ = 0.7), so
    * each pick trades relevance against similarity to what is already
    * selected. Distribution contract: relevance + the top-20 shortlist
    * are distributed (one scan + TakeOrderedAndProject); the greedy
    * runs on the driver over the 20-row shortlist — the rerank stage
    * is TINY BY DESIGN (that is the point of shortlisting; same
    * bounded-driver-state contract as the k-means centroids). Scores
    * land on the 1e-7 decimal grid (0.7·(6 dp) − 0.3·(6 dp)), so they
    * round at 7 dp where no half-boundary exists — the margin-mining
    * lesson applied. */
  private val mmrDiversify: Q = (s, dir) => {
    val e = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val short = e.filter(col("vec_id") >= 10)
      .crossJoin(q)
      .select(col("vec_id").as("cid"),
        round(GraftExpressions.cosine_sim(col("q_emb"), col("embedding")), 6)
          .as("rel"),
        col("embedding"))
      .orderBy(col("rel").desc, col("cid")).limit(20)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      math.rint(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    def rnd7(x: Double): Double = math.rint(x * 1e7) / 1e7
    val remaining = scala.collection.mutable.ArrayBuffer(short: _*)
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Double, Double)]
    val sel = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Array[Float])]
    for (rnk <- 1 to 5) {
      val scored = remaining.map { c =>
        val penalty = if (sel.isEmpty) 0.0
          else sel.map(p => cos(c._3, p._3)).max * 0.3
        (c, rnd7(0.7 * c._2 - penalty))
      }
      val (best, score) = scored.minBy { case (c, sc) => (-sc, c._1) }
      picks += ((rnk, best._1, best._2, score))
      sel += best
      remaining -= best
    }
    val spark = s
    import spark.implicits._
    picks.toSeq.toDF("rnk", "cid", "rel", "score").orderBy(col("rnk"))
  }

  private val mmrDiversifySql =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      |n AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM e GROUP BY vec_id),
      |rel AS (
      |  SELECT c.vec_id AS cid, round(SUM(q.x * c.x) / (nq.nrm * nc.nrm), 6) AS rel
      |  FROM e q JOIN e c ON q.i = c.i AND q.vec_id = 0 AND c.vec_id >= 10
      |  JOIN n nq ON nq.vec_id = 0 JOIN n nc ON nc.vec_id = c.vec_id
      |  GROUP BY c.vec_id, nq.nrm, nc.nrm),
      |short AS (SELECT cid, rel FROM rel ORDER BY rel DESC, cid LIMIT 20),
      |pc AS (
      |  SELECT a.cid AS ca, b.cid AS cb, round(SUM(ea.x * eb.x) / (na.nrm * nb.nrm), 6) AS cos
      |  FROM short a JOIN short b ON a.cid < b.cid
      |  JOIN e ea ON ea.vec_id = a.cid JOIN e eb ON eb.vec_id = b.cid AND ea.i = eb.i
      |  JOIN n na ON na.vec_id = a.cid JOIN n nb ON nb.vec_id = b.cid
      |  GROUP BY a.cid, b.cid, na.nrm, nb.nrm),
      |sym AS (SELECT ca, cb, cos FROM pc UNION ALL SELECT cb, ca, cos FROM pc),
      |p1 AS (SELECT 1 AS rnk, cid, rel, round(0.7e0 * rel, 7) AS score
      |       FROM short ORDER BY rel DESC, cid LIMIT 1),
      |r2 AS (SELECT s.cid, s.rel, round(0.7e0 * s.rel - 0.3e0 * MAX(y.cos), 7) AS score
      |       FROM short s JOIN sym y ON y.ca = s.cid AND y.cb IN (SELECT cid FROM p1)
      |       WHERE s.cid NOT IN (SELECT cid FROM p1) GROUP BY s.cid, s.rel),
      |p2 AS (SELECT 2 AS rnk, cid, rel, score FROM r2 ORDER BY score DESC, cid LIMIT 1),
      |s2 AS (SELECT cid FROM p1 UNION ALL SELECT cid FROM p2),
      |r3 AS (SELECT s.cid, s.rel, round(0.7e0 * s.rel - 0.3e0 * MAX(y.cos), 7) AS score
      |       FROM short s JOIN sym y ON y.ca = s.cid AND y.cb IN (SELECT cid FROM s2)
      |       WHERE s.cid NOT IN (SELECT cid FROM s2) GROUP BY s.cid, s.rel),
      |p3 AS (SELECT 3 AS rnk, cid, rel, score FROM r3 ORDER BY score DESC, cid LIMIT 1),
      |s3 AS (SELECT cid FROM s2 UNION ALL SELECT cid FROM p3),
      |r4 AS (SELECT s.cid, s.rel, round(0.7e0 * s.rel - 0.3e0 * MAX(y.cos), 7) AS score
      |       FROM short s JOIN sym y ON y.ca = s.cid AND y.cb IN (SELECT cid FROM s3)
      |       WHERE s.cid NOT IN (SELECT cid FROM s3) GROUP BY s.cid, s.rel),
      |p4 AS (SELECT 4 AS rnk, cid, rel, score FROM r4 ORDER BY score DESC, cid LIMIT 1),
      |s4 AS (SELECT cid FROM s3 UNION ALL SELECT cid FROM p4),
      |r5 AS (SELECT s.cid, s.rel, round(0.7e0 * s.rel - 0.3e0 * MAX(y.cos), 7) AS score
      |       FROM short s JOIN sym y ON y.ca = s.cid AND y.cb IN (SELECT cid FROM s4)
      |       WHERE s.cid NOT IN (SELECT cid FROM s4) GROUP BY s.cid, s.rel),
      |p5 AS (SELECT 5 AS rnk, cid, rel, score FROM r5 ORDER BY score DESC, cid LIMIT 1)
      |SELECT CAST(rnk AS INTEGER) AS rnk, cid, rel, score FROM (
      |  SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3
      |  UNION ALL SELECT * FROM p4 UNION ALL SELECT * FROM p5) ORDER BY rnk""".stripMargin

  val queries: Map[String, Q] = Map(
    "sim_mmr_diversify" -> mmrDiversify,
    "sim_standardize_dims" -> standardizeDims,
    "sim_power_iteration" -> powerIteration,
    "sim_pca_top2" -> pcaTop2,
    "sim_margin_mining" -> marginMining,
    "sim_margin_mining_ann" -> marginMiningAnnGate,
    "dedup_semantic" -> dedupSemantic,
    "sim_quantize_int8" -> quantize,
    "sim_ann_brute_topk" -> annBrute,
    "sim_hard_negatives" -> hardNegatives,
    "sim_ann_unit_topk" -> annUnitTopk,
    "sim_knn_classify" -> knnClassify,
    "sim_ann_lsh" -> annLshGate,
    "sim_ann_ivf" -> annIvfGate,
    "sim_ann_ivf_kmeans" -> annIvfKmeansGate,
    "sim_ann_pq" -> annPqGate,
    "sim_kmeans_clusters" -> kmeansClusters,
    "sim_label_centroids" -> labelCentroidSim)

  private val labelCentroidSimSql =
    """WITH e AS (
      |  SELECT label, generate_subscripts(embedding, 1) AS dim, CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |c AS (SELECT label, dim, CAST(CAST(avg(x) AS FLOAT) AS DOUBLE) AS cx FROM e GROUP BY label, dim),
      |n AS (SELECT label, sqrt(SUM(cx * cx)) AS nrm FROM c GROUP BY label),
      |d AS (
      |  SELECT a.label AS la, b.label AS lb, SUM(a.cx * b.cx) AS dot
      |  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
      |  GROUP BY a.label, b.label)
      |SELECT la, lb, round(dot / (na.nrm * nb.nrm), 4) AS cos
      |FROM d JOIN n na ON na.label = la JOIN n nb ON nb.label = lb
      |ORDER BY la, lb""".stripMargin

  val oracles: Map[String, String] = Map(
    "sim_mmr_diversify" -> mmrDiversifySql,
    "sim_standardize_dims" -> standardizeDimsSql,
    "sim_power_iteration" -> powerIterationSql,
    "sim_pca_top2" -> pcaTop2Sql,
    "sim_margin_mining" -> marginMiningSql,
    "sim_margin_mining_ann" -> marginMiningAnnGateSql,
    "dedup_semantic" -> dedupSemanticSql,
    "sim_quantize_int8" -> quantizeSql,
    "sim_ann_brute_topk" -> annBruteSql,
    "sim_hard_negatives" -> hardNegativesSql,
    "sim_ann_unit_topk" -> annUnitTopkSql,
    "sim_knn_classify" -> knnClassifySql,
    "sim_ann_lsh" -> annGateSql,
    "sim_ann_ivf" -> annGateSql,
    "sim_ann_ivf_kmeans" -> annGateSql,
    "sim_ann_pq" -> annGateSql,
    "sim_kmeans_clusters" -> kmeansClustersSql,
    "sim_label_centroids" -> labelCentroidSimSql)
}
