package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, TableCatalog}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{GraftLakeCatalog, LakeFilePartition}

/** A seeded closed-loop stream of lake-catalog operations on one table
  * built from `orders` rows, partitioned by `o_orderpriority`. The stream
  * is a sequence of blocks; each block holds the fixed [[LakeRw.Mix]] of
  * operation kinds in a seeded order.
  *
  * Writes: appends of fresh orders rows, `MERGE INTO` upserts (half
  * existing keys re-priced, half new rows) and whole-partition deletes.
  * Reads: partition-filtered aggregates of the current snapshot and of
  * an earlier one through `VERSION AS OF`; each read also runs on the
  * vanilla twin session, in pairs whose order alternates.
  *
  * The benchmark keeps its own model of the table (key -> row) for every
  * committed version and checks each read, and the final table, against
  * it. The seed fixes the operation sequence and every row written. */
final class LakeRw(conf: Main.Conf) extends Workload {
  import LakeRw._

  override def tables: Seq[String] = Seq("orders")

  private var base: Array[Rec] = Array.empty
  private var pool: Array[Rec] = Array.empty
  private var next = 0 // index of the next fresh pool row
  private var model = Map.empty[Long, Rec]
  private val versions = mutable.LinkedHashMap.empty[Long, Map[Long, Rec]]
  private var readPairs = 0
  private var block = 0
  private var deletes = 0

  private def ident = Identifier.of(Array.empty[String], Table)
  private def catalog(s: SparkSession): TableCatalog =
    s.sessionState.catalogManager.catalog("lake").asInstanceOf[TableCatalog]
  private def currentVersion(s: SparkSession): Long =
    catalog(s).asInstanceOf[GraftLakeCatalog].snapshots(ident).last._1

  private def fresh(n: Int): Seq[Rec] = {
    val out = pool.slice(next, next + n).toSeq
    next += n
    if (out.size < n) sys.error("orders pool exhausted")
    out
  }

  private def rowsDf(s: SparkSession, recs: Seq[Rec]) =
    s.createDataFrame(recs.map(_.row).asJava, Schema)

  /** (re)creates the table and the model from the seed; the initial
    * append is set-up work */
  override def warmup(ctx: Ctx, s: Sessions): Unit = {
    for (sp <- Seq(s.graft, s.vanilla))
      sp.conf.set("spark.sql.catalog.lake", classOf[GraftLakeCatalog].getName)
    if (base.isEmpty)
      base = s.graft.table("orders")
        .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .collect().map(r => Rec(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4)))
        .sortBy(_.key)
    pool = new Random(conf.seed).shuffle(base.toSeq).toArray
    next = 0
    deletes = 0
    model = Map.empty
    versions.clear()
    val g = s.graft
    g.sql(s"DROP TABLE IF EXISTS lake.$Table")
    g.sql(s"""CREATE TABLE lake.$Table (o_orderkey BIGINT, o_custkey BIGINT,
             |  o_orderstatus STRING, o_totalprice DOUBLE, o_orderpriority STRING)
             |PARTITIONED BY (o_orderpriority)""".stripMargin)
    val init = fresh(InitialRows)
    rowsDf(g, init).writeTo(s"lake.$Table").append()
    model = init.map(r => r.key -> r).toMap
    versions(currentVersion(g)) = model
    // one of each operation kind, so every code path is compiled before timing
    val w = new Random(conf.seed ^ 0x5bd1e995L)
    Seq("append", "merge", "delete", "read_current", "read_version").foreach { k =>
      if (!runOp(ctx, s, k, w, timed = false)) sys.error(s"warm-up $k failed")
    }
  }

  override def measure(ctx: Ctx, s: Sessions, traced: Boolean, seconds: Double): Unit = {
    val start = System.nanoTime()
    // block numbers run on across calls, so each loop has its own
    val opRnd = new Random(conf.seed * 31L + block)
    // whole blocks of the fixed mix, each in a seeded order
    while ((System.nanoTime() - start) / 1e9 < seconds) {
      opRnd.shuffle(Mix).foreach(kind => runOp(ctx, s, kind, opRnd, timed = true, traced = traced))
      ctx.jvm.sampleHeap()
      block += 1
    }
  }

  /** Runs one operation; reads run on both engines. Returns whether the
    * graft operation succeeded and matched the model. */
  private def runOp(ctx: Ctx, s: Sessions, kind: String, r: Random, timed: Boolean,
      traced: Boolean = false): Boolean = kind match {
    case "append" | "merge" | "delete" => write(ctx, s.graft, kind, r, timed, traced)
    case _ =>
      val part = Priorities(r.nextInt(Priorities.size))
      val version =
        if (kind == "read_version") Some(versions.keys.toSeq(r.nextInt(versions.size))) else None
      val expect = expected(version.map(versions).getOrElse(model), part)
      if (traced) ctx.phase("sources", "loadtable") {
        version.fold(catalog(s.graft).loadTable(ident))(v => catalog(s.graft).loadTable(ident, v.toString))
      }
      val pair = readPairs
      readPairs += 1
      def one(engine: String) = read(ctx, if (engine == "graft") s.graft else s.vanilla,
        engine, kind, part, version, expect, timed, traced, pair)
      val graftFirst = pair % 2 == 0
      if (graftFirst) { val ok = one("graft"); one("vanilla"); ok }
      else { one("vanilla"); one("graft") }
  }

  private def write(ctx: Ctx, g: SparkSession, kind: String, r: Random, timed: Boolean,
      traced: Boolean): Boolean = {
    val before = if (traced) warehouseFiles() else Map.empty[String, Long]
    var next0 = model
    val stmt: () => Unit = kind match {
      case "append" =>
        val recs = fresh(100 + r.nextInt(200))
        next0 = model ++ recs.map(x => x.key -> x)
        () => rowsDf(g, recs).writeTo(s"lake.$Table").append()
      case "merge" =>
        val keys = model.keys.toIndexedSeq
        val n = 50
        val old = Seq.fill(math.min(n / 2, keys.size))(model(keys(r.nextInt(keys.size)))).distinct
          .map(x => x.copy(price = BigDecimal(r.nextInt(50000000)) / 100))
        val src = old ++ fresh(n - old.size)
        next0 = model ++ src.map(x => x.key -> x)
        () => {
          rowsDf(g, src).createOrReplaceTempView("lake_rw_src")
          g.sql(s"""MERGE INTO lake.$Table t USING lake_rw_src s ON t.o_orderkey = s.o_orderkey
                   |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        }
      case "delete" =>
        // partitions are deleted in turn, so the table's size and file
        // count follow the same cycle whatever the seed
        val part = Priorities(deletes % Priorities.size)
        deletes += 1
        next0 = model.filter(_._2.prio != part)
        () => g.sql(s"DELETE FROM lake.$Table WHERE o_orderpriority = '$part'")
    }
    val (ok, wall, err) = timedCall(ctx, kind) { stmt() }
    if (ok) {
      model = next0
      versions(currentVersion(g)) = model
    }
    if (timed) {
      val extra = mutable.Map.empty[String, Any]
      if (traced) {
        val added = warehouseFiles() -- before.keys
        extra ++= Map("files_written" -> added.size, "bytes_written" -> added.values.sum)
      }
      ctx.record.op(Map("engine" -> "graft", "name" -> kind, "kind" -> kind, "class" -> "write",
        "wall_s" -> wall, "ok" -> ok, "error" -> err, "traced" -> traced, "block" -> block,
        "rows" -> model.size) ++ extra)
    }
    ok
  }

  private def read(ctx: Ctx, spark: SparkSession, engine: String, kind: String, part: String,
      version: Option[Long], expect: Seq[Any], timed: Boolean, traced: Boolean,
      pair: Int): Boolean = {
    val asOf = version.fold("")(v => s" VERSION AS OF $v")
    val sql = s"""SELECT COUNT(*) AS n, SUM(o_orderkey) AS keys,
                 |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS total
                 |FROM lake.$Table$asOf WHERE o_orderpriority = '$part'""".stripMargin
    var got: Seq[Any] = Nil
    var scan: Option[(Int, Int)] = None
    val (ran, wall, err0) = timedCall(ctx, kind) {
      val df = spark.sql(sql)
      val row = df.collect().head
      got = Seq(row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1),
        if (row.isNullAt(2)) "0.00" else row.getString(2))
      if (traced) scan = scanFiles(df)
    }
    val ok = ran && got == expect
    val err = if (ran && !ok) s"wrong answer: got $got expected $expect" else err0
    if (timed) ctx.record.op(Map("engine" -> engine, "name" -> kind, "kind" -> kind,
      "class" -> "read", "wall_s" -> wall, "ok" -> ok, "error" -> err, "traced" -> traced,
      "block" -> block, "pair" -> pair, "version" -> version.getOrElse(-1L)) ++
      scan.map { case (k, t) => Map("files_scanned" -> k, "files_total" -> t) }.getOrElse(Map.empty))
    ok
  }

  private def timedCall(ctx: Ctx, kind: String)(body: => Unit): (Boolean, Double, String) = {
    val t0 = System.nanoTime()
    var err: String = null
    ctx.tracer.span("benchmark", kind) {
      ctx.phase("sources", "statement") {
        try body catch { case e: Exception => err = e.toString }
      }
    }
    (err == null, (System.nanoTime() - t0) / 1e9, err)
  }

  /** `files=kept/total` as the lake scan describes itself */
  private def scanFiles(df: org.apache.spark.sql.DataFrame): Option[(Int, Int)] =
    Battery.nodes(df.queryExecution.executedPlan).collectFirst {
      case b: BatchScanExec => b.scan.description()
    }.flatMap(d => "files=(\\d+)/(\\d+)".r.findFirstMatchIn(d))
      .map(m => (m.group(1).toInt, m.group(2).toInt))

  private def warehouseFiles(): Map[String, Long] = {
    val root = new File(sys.props("graft.lake.warehouse"))
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.length()).toMap
  }

  override def info: Map[String, Any] = Map("read_pairs" -> readPairs) ++ finalState

  private var finalState: Map[String, Any] = Map.empty

  /** compares the whole table with the model and measures live storage */
  override def finish(ctx: Ctx, s: Sessions): Unit = {
    val g = s.graft
    val rows = g.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM lake.$Table")
      .collect().map(r => Rec(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4)))
    val tableOk = rows.length == model.size && rows.forall(x => model.get(x.key).contains(x))
    SparkSession.setActiveSession(g) // the scan is planned outside a query
    val table = catalog(g).loadTable(ident).asInstanceOf[SupportsRead]
    val files = table.newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
      .planInputPartitions().collect { case p: LakeFilePartition => p.path }.distinct
    val liveBytes = files.map(p => new File(p.stripPrefix("file:")).length()).sum
    finalState = Map("final_check_ok" -> tableOk, "live_rows" -> rows.length,
      "files_live" -> files.length, "live_bytes" -> liveBytes,
      "snapshots" -> catalog(g).asInstanceOf[GraftLakeCatalog].snapshots(ident).size)
    ctx.record.op(Map("engine" -> "graft", "name" -> "final_table", "kind" -> "final_table",
      "class" -> "check", "wall_s" -> 0.0, "ok" -> tableOk, "traced" -> false,
      "error" -> (if (tableOk) null else "final table differs from the model")))
  }
}

object LakeRw {
  val Table = "rw"
  val InitialRows = 5000
  /** one block of operations: 40% writes, 60% reads. The proportions
    * are arbitrary, not taken from a published workload; each kind is
    * there to move the metrics benchmark/README.md names for it. */
  val Mix: Seq[String] = Seq.fill(4)("append") ++ Seq.fill(3)("merge") ++ Seq.fill(3)("delete") ++
    Seq.fill(6)("read_current") ++ Seq.fill(4)("read_version")
  val Priorities: IndexedSeq[String] =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Schema: StructType = new StructType()
    .add("o_orderkey", LongType).add("o_custkey", LongType).add("o_orderstatus", StringType)
    .add("o_totalprice", DoubleType).add("o_orderpriority", StringType)

  /** one orders row; `price` is kept exact so sums compare exactly */
  final case class Rec(key: Long, cust: Long, status: String, price: BigDecimal, prio: String) {
    def row: Row = Row(key, cust, status, price.toDouble, prio)
  }
  object Rec {
    def apply(key: Long, cust: Long, status: String, price: Double, prio: String): Rec =
      Rec(key, cust, status, BigDecimal(price).setScale(2, BigDecimal.RoundingMode.HALF_UP), prio)
  }

  /** what a partition read must return: count, key sum, exact price sum */
  def expected(state: Map[Long, Rec], part: String): Seq[Any] = {
    val rs = state.valuesIterator.filter(_.prio == part).toSeq
    Seq(rs.size.toLong, rs.map(_.key).sum, rs.map(_.price).sum.setScale(2).toString)
  }
}
