package graft

import graft.operators.ZOrder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order clustering: (1) the bit-interleave expression matches a
  * reference Scala implementation, (2) clustering on the Z-curve makes
  * the lake catalog's min/max file skipping selective in BOTH box
  * dimensions, strictly beating linear (single-column) clustering for
  * the same 2-D predicate — the at-scale point of the operator. */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = GraftSparkSession.spark

  private def keptOfTotal(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan.toString
    val m = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
    assert(m.isDefined, "lake scan must report files=kept/total:\n" + plan.take(2000))
    (m.get.group(1).toInt, m.get.group(2).toInt)
  }

  test("interleave16 matches a reference bit-interleave on the 16-bit domain") {
    import spark.implicits._
    def ref(a: Int, b: Int): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | ((a.toLong >> i & 1L) << (2 * i)) | ((b.toLong >> i & 1L) << (2 * i + 1))
      }
    // deterministic pseudo-random pairs + the domain corners
    val pairs = (Seq((0, 0), (0, 65535), (65535, 0), (65535, 65535), (1, 2)) ++
      (1 to 200).map(i => ((i * 2654435761L % 65536).toInt, (i * 40503 % 65536).toInt))).distinct
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.interleave16(col("a"), col("b")).as("z"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == ref(a, b), s"interleave16($a, $b)")
    }
  }

  test("z-curve position is monotone in each dimension when the other is fixed") {
    import spark.implicits._
    val rows = (0 until 64).map(i => (i * 1024, 777)).toDF("a", "b")
      .select(ZOrder.interleave16(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(rows == rows.sorted, "fixing b, z must grow with a")
  }

  test("z-order file bounds are a function of the data alone") {
    import spark.implicits._
    // two clusterings of the same rows: new RDD ids, the same files
    def files(): Seq[Option[(Long, Long, Int)]] =
      ZOrder.cluster((1 to 5000).map(i => (i.toLong, ((i * 2654435761L) % 1000).toDouble))
        .toDF("k", "v"), "k", "v", 8)
        .rdd.mapPartitions { it =>
          val ks = it.map(_.getLong(0)).toSeq
          Iterator(if (ks.isEmpty) None else Some((ks.min, ks.max, ks.size)))
        }.collect().toSeq
    val first = files()
    assert(first.flatten.size == 8 && first.flatten.map(_._3).sum == 5000, first)
    assert(files() == first)
    // cells go to partition ⌊rows before them × n / all rows⌋
    assert(ZOrder.cuts(Seq((3L, 10L), (0L, 10L), (1L, 10L), (2L, 10L)), 2) == Seq(2L))
    assert(ZOrder.cuts(Seq((0L, 1L), (5L, 100L), (9L, 1L)), 4) == Seq(9L, 9L, 9L))
  }

  test("lake_zorder_skip computes orders' ranges once: six construction jobs at sf0.01") {
    val sf = new java.io.File(GraftSparkSession.sfDir).getParent + "/sf0.01" // beside the spec fixture
    // on an empty cache with Tables' schema memo warm: a first load pays a footer job
    spark.catalog.clearCache()
    Tables.load(spark, sf, "orders").schema
    val (df, layer) = PlanHealth.traced(spark)(SparkEntry.queries("lake_zorder_skip")(spark, sf))
    // two jobs each: the ranges and the cell counts (AQE's shuffle stage,
    // then the final stage), the append's shuffle and its write
    assert(layer.jobs == 6, layer.jobNames.mkString("\n"))
    assert(df.collect().head.getLong(0) > 0)
  }

  test("z-order clustering skips more files than linear clustering for a 2-D box") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.lake",
      classOf[graft.sources.GraftLakeCatalog].getName)
    // synthetic uniform grid: both dimensions independently uniform
    val n = 20000
    val src = (1 to n).map { i =>
      (i.toLong, ((i * 2654435761L) % 10000).toDouble)
    }.toDF("k", "v")

    spark.sql("DROP TABLE IF EXISTS lake.z_lin")
    spark.sql("DROP TABLE IF EXISTS lake.z_z")
    spark.sql("CREATE TABLE lake.z_lin (k BIGINT, v DOUBLE)")
    spark.sql("CREATE TABLE lake.z_z (k BIGINT, v DOUBLE)")
    // linear: range-clustered on k only (tight k stats, v spans all files)
    src.repartitionByRange(16, col("k")).sortWithinPartitions("k")
      .writeTo("lake.z_lin").append()
    ZOrder.cluster(src, "k", "v", 16).writeTo("lake.z_z").append()

    // wide in k (80%), narrow in v (10%): linear clustering on k can
    // barely skip anything, z-order skips on the v dimension too
    def box(t: String) = spark.table(t)
      .filter(col("k").between(2000L, 18000L) && col("v").between(4500.0, 5500.0))
    val expected = box("lake.z_lin").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val zRows = box("lake.z_z").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(zRows == expected && expected.nonEmpty, "layout must never change results")

    val (linKept, linTotal) = keptOfTotal(box("lake.z_lin"))
    val (zKept, zTotal) = keptOfTotal(box("lake.z_z"))
    assert(linTotal >= 16 && zTotal >= 16, s"expected ~16 files, got $linTotal/$zTotal")
    // linear keeps ~20% of files (k-dim only); z-order keeps ~what the
    // 2-D box covers of the curve. Assert the strict win, not exact counts
    // (the linear layout's repartitionByRange boundaries are
    // sample-dependent).
    assert(zKept < linKept,
      s"z-order must out-skip linear: z files=$zKept/$zTotal vs linear files=$linKept/$linTotal")
  }
}
