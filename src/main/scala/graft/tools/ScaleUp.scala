package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator for larger-SF performance runs: replicates the
  * sf0.1 parquet N times with consistent key shifting (each replica's
  * keys offset by `replica * (max_key + 1)` so foreign keys stay
  * referentially intact: orders→customer, lineitem→orders/part/
  * supplier). Dimensions `region`/`nation` are fixed-size at every
  * TPC-H SF and are copied as-is. Non-key attributes keep their
  * original distributions, so selectivities — date windows, status
  * predicates, name-suffix classes — match the base data and query
  * plans stay representative at 10x the rows.
  *
  * Pipeline tables are replicated with DETERMINISTIC PERTURBATION so
  * the dedup/similarity workload stays realistic instead of degenerate:
  *  - `documents`: ~1/8 of each replica's words get a per-replica
  *    suffix (hash-selected), so replicas are NOT near-duplicates of
  *    each other (cross-replica word-set Jaccard ≈ 0.78 < the 0.9
  *    threshold) while in-replica near-dup structure is preserved — a
  *    10x corpus with ~10x the dup clusters, not one giant clique;
  *  - `embeddings`: each replica is a deterministic per-replica
  *    ORTHOGONAL map of the base cloud (dimension permutation +
  *    block-Givens rotation, [[rotateEmbedding]]): within a replica
  *    every pairwise cosine — hence the whole near-dup structure — is
  *    EXACTLY preserved, while a replica of a vector points in an
  *    effectively random direction relative to every other replica.
  *    The r11 scheme (per-component ±0.3% scaling) kept every
  *    replica's DIRECTION, so all ~factor replicas of a vector were
  *    mutual true near-pairs at cos ≥ 0.4 and the owed near-dup
  *    output grew ~factor²·n — degenerate (measured: neither
  *    embedding-dedup query finished at 100×). After the rotation
  *    fix the cross-replica cosine distribution matches the corpus
  *    background (this corpus is ISOTROPIC: cos mean ≈ 0, sd ≈
  *    1/√64 ≈ 0.125, so the cos ≥ 0.4 base rate is tail mass,
  *    ~4.6e-4 per pair slot at sf0.1) — the scaled corpus's per-slot
  *    near-pair rate equals the base corpus's, which is the best any
  *    faithful replication can do (ScaleUpSpec pins both properties);
  *  - `events`: user ids shifted per replica (10x users, same per-user
  *    session shape); `ts` keeps the source's physical type, so
  *    `Tables.load` reads the scaled copy as it reads the source.
  *
  * `runMain graft.tools.ScaleUp [srcDir] [outDir] [factor] [tables]`
  * (defaults: /root/testdata/sf0.1 → /tmp/graft_sf1 × 10 tpch).
  * `tables` = `tpch` | `pipeline` | `all`. Bench runs use
  * SPARK_GRAFT_BENCH_SET=tpch / =pipeline against the output.
  */
object ScaleUp {

  /** deterministic angle unit in [0, 1) for (replica i, dim-pair p) —
    * the same Catalyst-XxHash64 derivation the LSH hyperplanes use
    * (SimilarityOps.planeWeightValue), different seed, so every run of
    * the generator produces bit-identical corpora with no RNG state. */
  private def angleUnit(i: Int, p: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(i.toLong * 32L + p)), 1042L).eval(null).asInstanceOf[Long]
    val m = h % 100000L
    val q = if (m < 0) m + 100000L else m
    q.toDouble / 100000.0
  }

  /** Per-replica deterministic ORTHOGONAL map over the 64-dim embedding
    * column: a dimension permutation (seeded shuffle) composed with a
    * block-diagonal Givens rotation (per-(replica, pair) angle on dim
    * pairs (2p, 2p+1)). Orthogonal ⇒ norms and ALL within-replica
    * pairwise cosines are preserved exactly — replica i is the base
    * cloud rigidly rotated — while cos(v, rotate_i(v)) and every other
    * cross-replica cosine lands in the corpus's background distribution
    * (isotropic: mean 0, sd ≈ 1/√64) instead of ≈ 1. Replica 0 is the
    * identity (base rows verbatim). Arithmetic is double-precision with
    * a final FLOAT cast, mirroring the engine's own vector paths. */
  def rotateEmbedding(emb: Column, replica: Int): Column =
    if (replica == 0) emb else {
      val rnd = new scala.util.Random(0x9E3779B97F4A7C15L ^ replica.toLong)
      val perm = rnd.shuffle((0 until 64).toVector)
      val px = perm.map(j => element_at(emb, j + 1).cast("double"))
      val out = (0 until 32).flatMap { p =>
        val th = 2.0 * math.Pi * angleUnit(replica, p)
        val (c, s) = (math.cos(th), math.sin(th))
        val (a, b) = (px(2 * p), px(2 * p + 1))
        Seq(a * c - b * s, a * s + b * c)
      }
      // fail-loud width gate (advisor r12): the permutation and Givens
      // block structure are hard-wired to 64 dims; on any other width
      // the element_at reads past the array end would return null
      // (non-ANSI) and silently emit corrupt replica vectors. A corpus
      // shape change must abort the generator, like the footer-stats
      // path does — the guard is one size() per row at generation time.
      when(size(emb) === 64, array(out.map(_.cast("float")): _*))
        .otherwise(raise_error(concat(
          lit("ScaleUp.rotateEmbedding requires 64-dim embeddings, got "),
          size(emb).cast("string"))))
    }

  /** factor-way replication of an embeddings table with key shift +
    * per-replica rotation (the spec hook; main uses it too) */
  def replicateEmbeddings(base: DataFrame, factor: Int): DataFrame = {
    val stride = base.agg(max(col("vec_id"))).head.getLong(0) + 1L
    (0 until factor).map { i =>
      base.withColumn("vec_id", col("vec_id") + lit(i * stride))
        .withColumn("embedding", rotateEmbedding(col("embedding"), i))
    }.reduce(_ union _)
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val tables = if (args.length > 3) args(3) else "tpch"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, src, out, factor, tables)
    finally spark.stop()
  }

  /** the generator body, session-agnostic (ScaleUpSpec drives it inside
    * the shared test session — main() owns session lifecycle, not this) */
  def run(spark: org.apache.spark.sql.SparkSession, src: String, out: String,
      factor: Int, tables: String): Unit = {

    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // key strides (max + 1 per base table keeps replicas disjoint)
    def stride(name: String, key: String): Long =
      tbl(name).agg(max(col(key))).head.getLong(0) + 1L

    val custStride = stride("customer", "c_custkey")
    val suppStride = stride("supplier", "s_suppkey")
    val partStride = stride("part", "p_partkey")
    val orderStride = stride("orders", "o_orderkey")

    /** union of `factor` replicas with the given key columns shifted */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame =
      (0 until factor).map { i =>
        shifts.foldLeft(df) { case (d, (c, st)) =>
          d.withColumn(c, col(c) + lit(i * st))
        }
      }.reduce(_ union _)

    if (tables == "tpch" || tables == "all") {
      // fixed-size dimensions: unchanged at every TPC-H SF
      write(tbl("region"), "region")
      write(tbl("nation"), "nation")
      write(replicate(tbl("customer"), "c_custkey" -> custStride), "customer")
      write(replicate(tbl("supplier"), "s_suppkey" -> suppStride), "supplier")
      write(replicate(tbl("part"), "p_partkey" -> partStride), "part")
      write(replicate(tbl("orders"),
        "o_orderkey" -> orderStride, "o_custkey" -> custStride), "orders")
      write(replicate(tbl("lineitem"),
        "l_orderkey" -> orderStride, "l_partkey" -> partStride,
        "l_suppkey" -> suppStride), "lineitem")
    }

    if (tables == "lake") {
      // orders only: the lake_* connector queries rebuild their tables
      // from orders slices, so the 100x lake measurement needs nothing
      // else — writing the full tpch group at factor 100 would spend
      // minutes and gigabytes on lineitem the run never reads
      write(replicate(tbl("orders"),
        "o_orderkey" -> orderStride, "o_custkey" -> custStride), "orders")
    }

    if (tables == "pipeline" || tables == "all") {
      // documents: per-replica word drift (hash-selected 1/8 of words get
      // a replica suffix; replica 0 keeps the original text verbatim) —
      // breaks cross-replica near-duplication without touching in-replica
      // structure, and keeps n_chars/lang/source distributions intact
      val docStride = stride("documents", "doc_id")
      val docs = (0 until factor).map { i =>
        val base = tbl("documents").withColumn("doc_id", col("doc_id") + lit(i * docStride))
        if (i == 0) base
        else base.withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => when(pmod(xxhash64(w), lit(8)) === 0,
              concat(w, lit("_r"), lit(i))).otherwise(w)), " "))
          .withColumn("n_chars", length(col("text")))
      }.reduce(_ union _)
      write(docs, "documents")

      // embeddings: per-replica rigid rotation (see rotateEmbedding) —
      // within-replica near-dup structure preserved exactly, replicas
      // mutually background-random instead of mutual near-pairs
      write(replicateEmbeddings(tbl("embeddings"), factor), "embeddings")

      // events: user ids shift per replica; ts keeps its physical type
      val evBase = spark.read.parquet(s"$src/events.parquet")
      val userStride = evBase.agg(max(col("user_id"))).head.getLong(0) + 1L
      val evStride = evBase.agg(max(col("event_id"))).head.getLong(0) + 1L
      val events = (0 until factor).map { i =>
        evBase.withColumn("event_id", col("event_id") + lit(i * evStride))
          .withColumn("user_id", col("user_id") + lit(i * userStride))
      }.reduce(_ union _)
      write(events, "events")
    }
  }
}
