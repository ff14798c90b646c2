package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Z-order (interleaved-bit) clustering for multi-dimensional data
  * skipping — the lakehouse `OPTIMIZE ... ZORDER BY` shape (reference
  * analog: the Iceberg/Delta table-format connectors whose manifests
  * carry per-file column min/max, `gluten-iceberg/.../
  * IcebergScanTransformer.scala:44`; clustering is what makes those
  * stats selective on MORE THAN ONE column at once).
  *
  * Linear (sort-by-one-column) clustering gives tight file stats on
  * that column only: a predicate on any other column scans every file.
  * Mapping each row to a point on the Z-space-filling curve and
  * range-partitioning on the curve position keeps every file's
  * bounding box small in ALL clustered dimensions, so a 2-D box
  * predicate prunes ~(selA × selB) of the files instead of ~selA.
  *
  * Scale design:
  *  - the driver-side work is a single min/max aggregate (at 100 TB
  *    this is a catalog column-stats lookup, not a scan) and at most
  *    65536 row counts, one per cell of the curve's top 16 bits;
  *  - rank normalization + bit interleaving are composed entirely from
  *    codegen'd built-ins (`shiftleft`/`bitwiseOR`/`bitwiseAND`) — the
  *    whole key stays inside WholeStageCodegen, no UDF;
  *  - the file bounds split those exact cell counts into runs of about
  *    equal rows, so skewed dimensions still yield evenly-sized files
  *    (the small-files and giant-file defences in one), and the same
  *    data always gets the same files: no sample, whose seed would
  *    change with the RDD id, decides them;
  *  - within-partition sort by the key tightens row-group locality for
  *    formats whose readers skip at finer grain than whole files.
  */
object ZOrder {

  /** spread the low 16 bits of a non-negative value so consecutive
    * input bits land two positions apart (classic binary-magic
    * spreading, kept in LONG space so no shift touches a sign bit) */
  private def spread16(c: Column): Column = {
    val x0 = c.cast(LongType)
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** interleave two 16-bit ranks into a 32-bit Z-curve position
    * (column a holds the even bit positions, b the odd) */
  def interleave16(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** map a numeric column onto 0..65535 given its [mn, mx] range; a
    * degenerate range collapses to rank 0 (layout-only — rank quality
    * affects clustering, never query results) */
  def rank16(c: Column, mn: Double, mx: Double): Column =
    if (mx <= mn) lit(0L)
    else least(lit(65535L),
      floor((c.cast("double") - lit(mn)) / lit(mx - mn) * lit(65536.0)).cast(LongType))

  /** The [min, max] ranges of two columns, as doubles, that [[cluster]]
    * ranks rows on. */
  final case class Ranges(aMin: Double, aMax: Double, bMin: Double, bMax: Double)

  /** `a`'s and `b`'s ranges over `df`, in one aggregate; None when
    * either column has no non-null value */
  def ranges(df: DataFrame, a: String, b: String): Option[Ranges] = {
    val r = df.agg(min(col(a).cast("double")), max(col(a).cast("double")),
      min(col(b).cast("double")), max(col(b).cast("double"))).head()
    if (r.isNullAt(0) || r.isNullAt(2)) None
    else Some(Ranges(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
  }

  /** cluster `df` on the Z-curve over (a, b) into `numFiles` partitions
    * of contiguous curve cells; the returned frame writes one
    * tightly-boxed file per partition through any sink that preserves
    * input partitioning. An empty or all-null input is returned as is. */
  def cluster(df: DataFrame, a: String, b: String, numFiles: Int): DataFrame =
    ranges(df, a, b).fold(df)(cluster(df, a, b, numFiles, _))

  /** [[cluster]] over ranges the caller already has (see [[ranges]]) */
  def cluster(df: DataFrame, a: String, b: String, numFiles: Int, r: Ranges): DataFrame = {
    val keyed = df.withColumn("__zkey", interleave16(
      rank16(col(a), r.aMin, r.aMax), rank16(col(b), r.bMin, r.bMax)))
    val cell = shiftRightUnsigned(col("__zkey"), 16)
    // rows with a null coordinate have no cell and go to partition 0
    val counts = keyed.groupBy(cell).count().collect()
      .collect { case c if !c.isNullAt(0) => c.getLong(0) -> c.getLong(1) }
    val part = cuts(counts.toSeq, numFiles)
      .map(c => when(cell >= c, 1).otherwise(0)).foldLeft(lit(0))(_ + _)
    keyed.repartitionById(numFiles, part)
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
  }

  /** The first cell of each partition after the first, given the row
    * count of every non-empty cell: a cell goes to partition
    * ⌊rows in earlier cells × n / all rows⌋, so partition `k` starts
    * at the first cell whose partition is at least `k`. A partition no
    * cell reaches has no cut, and a cell heavier than a partition's
    * share leaves the partitions it spans empty. */
  private[graft] def cuts(counts: Seq[(Long, Long)], n: Int): Seq[Long] = {
    val total = counts.map(_._2).sum
    val sorted = counts.sortBy(_._1)
    val partOf = sorted.map(_._2).scanLeft(0L)(_ + _)
      .map(before => math.min(n - 1L, before * n / total).toInt)
    val starts = sorted.map(_._1).zip(partOf)
    (1 until n).flatMap(k => starts.collectFirst { case (c, p) if p >= k => c })
  }
}
