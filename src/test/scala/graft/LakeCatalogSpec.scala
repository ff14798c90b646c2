package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.ChecksumException
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Lakehouse-format analog (graft.sources.GraftLakeCatalog): snapshot
  * isolation + VERSION/TIMESTAMP AS OF time travel, identity+bucket
  * partition transforms with file pruning at the source, and column
  * pruning — the §2.1 Iceberg/Delta/Hudi/Paimon connector surface on
  * the DSv2 API those formats use. */
class LakeCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = GraftSparkSession.spark
    s.conf.set("spark.sql.catalog.lake", classOf[graft.sources.GraftLakeCatalog].getName)
    s
  }
  private val dir = GraftSparkSession.sfDir

  test("partitioned create + append + snapshot time travel by version") {
    spark.sql("""CREATE TABLE lake.tt (id BIGINT, region STRING, v DOUBLE)
                 PARTITIONED BY (region, bucket(4, id))""")
    import spark.implicits._
    val batch1 = Seq((1L, "emea", 1.0), (2L, "amer", 2.0), (3L, "emea", 3.0))
      .toDF("id", "region", "v")
    val batch2 = Seq((4L, "apac", 4.0), (5L, "amer", 5.0)).toDF("id", "region", "v")
    batch1.writeTo("lake.tt").append()   // v1
    batch2.writeTo("lake.tt").append()   // v2
    assert(spark.table("lake.tt").count() == 5)
    assert(spark.sql("SELECT * FROM lake.tt VERSION AS OF 1").count() == 3)
    assert(spark.sql("SELECT * FROM lake.tt VERSION AS OF 0").count() == 0)
    // a reader pinned to v1 must not see later appends
    assert(spark.sql("SELECT sum(v) FROM lake.tt VERSION AS OF 1").head.getDouble(0) == 6.0)
  }

  test("timestamp time travel resolves the latest snapshot at or before t") {
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[graft.sources.GraftLakeCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "tt")
    val v1Ts = cat.snapshots(ident).find(_._1 == 1L).get._2
    val ts1 = java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(v1Ts))
    val cnt = spark.sql(s"SELECT count(*) FROM lake.tt TIMESTAMP AS OF '$ts1'")
      .head.getLong(0)
    assert(cnt == 3, s"expected the v1 snapshot at its own timestamp, got $cnt rows")
  }

  test("INSERT OVERWRITE produces a new snapshot; old versions stay readable") {
    // (V1 saveAsTable-overwrite is drop-and-recreate and would discard
    // history; the snapshot-preserving overwrite is the truncate write)
    spark.sql("INSERT OVERWRITE lake.tt VALUES (9L, 'emea', 9.0)") // → v3
    assert(spark.table("lake.tt").count() == 1)
    assert(spark.sql("SELECT * FROM lake.tt VERSION AS OF 2").count() == 5)
    assert(spark.sql("SELECT * FROM lake.tt VERSION AS OF 1").count() == 3)
  }

  test("identity-partition predicates prune data files at the source") {
    spark.sql("""CREATE TABLE lake.pt (id BIGINT, region STRING, v DOUBLE)
                 PARTITIONED BY (region)""")
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"r${i % 10}", i * 1.0)).toDF("id", "region", "v")
      .writeTo("lake.pt").append()
    val df = spark.table("lake.pt").filter(col("region") === "r3")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // 10 identity partitions exist (one file per task x value; local[4]
    // tasks can split them, so assert the ratio not the absolute count)
    val m = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
    assert(m.isDefined, "scan description must report file pruning:\n" + plan.take(2000))
    val (kept, total) = (m.get.group(1).toInt, m.get.group(2).toInt)
    assert(kept < total && kept > 0, s"expected pruning, got files=$kept/$total")
    assert(df.count() == 10)
    // equality on the identity partition is satisfied by pruning — it
    // must be reported as a pushed filter
    assert(plan.contains("graft-lake"), plan.take(1500))
  }

  test("bucket-partition equality prunes to one bucket but stays residual") {
    spark.sql("""CREATE TABLE lake.bt (id BIGINT, v DOUBLE)
                 PARTITIONED BY (bucket(8, id))""")
    import spark.implicits._
    (1 to 64).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .writeTo("lake.bt").append()
    val df = spark.table("lake.bt").filter(col("id") === 7L)
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 7L)
    val plan = df.queryExecution.executedPlan.toString
    val m = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      "bucket pruning must drop files:\n" + plan.take(2000))
    assert(plan.contains("Filter"), "bucket equality must stay a residual filter")
  }

  test("column pruning reaches the lake scan's read schema") {
    val df = spark.table("lake.pt").select("region")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<region:string>"), plan.take(2000))
    assert(df.distinct().count() == 10)
  }

  test("streaming ingest commits one snapshot per epoch into a lake table") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("""CREATE TABLE lake.st (id BIGINT, region STRING, v DOUBLE)
                 PARTITIONED BY (region)""")
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[graft.sources.GraftLakeCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "st")
    val input = MemoryStream[(Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("lake_st_ckpt").toString
    val q = input.toDF().toDF("id", "region", "v")
      .writeStream.option("checkpointLocation", ckpt).toTable("lake.st")
    try {
      input.addData((1L, "emea", 1.0), (2L, "amer", 2.0))
      q.processAllAvailable()
      input.addData((3L, "apac", 3.0))
      q.processAllAvailable()
      assert(spark.table("lake.st").count() == 3)
      val versions = cat.snapshots(ident)
      // v0 empty + one snapshot per committed epoch
      assert(versions.length >= 3, s"expected >=3 snapshots, got $versions")
      assert(versions.map(_._3).max == 3, s"latest snapshot must hold 3 rows: $versions")
      // the pre-batch-2 snapshot is still readable (time travel over ingest)
      val v = versions.find(_._3 == 2).map(_._1)
      assert(v.isDefined, s"no 2-row snapshot in $versions")
      assert(spark.sql(s"SELECT * FROM lake.st VERSION AS OF ${v.get}").count() == 2)
    } finally q.stop()
  }

  test("lake tables join with file-sourced data") {
    val region = Tables.load(spark, dir, "region")
    val n = spark.table("lake.pt")
      .join(region, col("region") === concat(lit("r"), col("r_regionkey")))
      .count()
    assert(n == 50, s"5 matching regions x 10 rows each, got $n")
  }

  // ---- row-level operations (DELETE / UPDATE / MERGE) ----

  private def catState(name: String) = {
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[graft.sources.GraftLakeCatalog]
    (cat, org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, name))
  }

  test("DELETE on an identity-partition predicate is metadata-only") {
    spark.sql("""CREATE TABLE lake.rl (id BIGINT, region STRING, v DOUBLE)
                 PARTITIONED BY (region)""")
    import spark.implicits._
    Seq((1L, "emea", 1.0), (2L, "amer", 2.0), (3L, "emea", 3.0),
        (4L, "apac", 4.0), (5L, "amer", 5.0)).toDF("id", "region", "v")
      .writeTo("lake.rl").append() // v1
    spark.sql("DELETE FROM lake.rl WHERE region = 'emea'") // v2, whole-file drop
    assert(spark.table("lake.rl").count() == 3)
    assert(spark.table("lake.rl").filter(col("region") === "emea").count() == 0)
    // deletion is a snapshot: the pre-delete version remains readable
    assert(spark.sql("SELECT * FROM lake.rl VERSION AS OF 1").count() == 5)
    val (cat, ident) = catState("rl")
    assert(cat.snapshots(ident).map(_._1).max == 2L)
  }

  test("DELETE with a row predicate takes the copy-on-write rewrite path") {
    // v > 4.0 is not partition-decidable → canDeleteWhere=false → Spark's
    // group-based ReplaceData rewrites the affected files
    spark.sql("DELETE FROM lake.rl WHERE v > 4.0") // drops (5,'amer',5.0) → v3
    val left = spark.table("lake.rl").orderBy("id").collect()
    assert(left.map(_.getLong(0)).toSeq == Seq(2L, 4L), left.mkString(","))
    // pre-delete snapshot intact
    assert(spark.sql("SELECT * FROM lake.rl VERSION AS OF 2").count() == 3)
  }

  test("UPDATE rewrites matching rows and keeps non-matching rows") {
    import spark.implicits._
    spark.sql("UPDATE lake.rl SET v = v * 10 WHERE region = 'amer'")
    val rows = spark.table("lake.rl").orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq
    assert(rows == Seq((2L, 20.0), (4L, 4.0)), rows.toString)
  }

  test("MERGE INTO upserts: matched update + not-matched insert") {
    import spark.implicits._
    Seq((2L, "amer", 200.0), (9L, "apac", 9.0)).toDF("id", "region", "v")
      .createOrReplaceTempView("rl_src")
    spark.sql("""MERGE INTO lake.rl t USING rl_src s ON t.id = s.id
                 WHEN MATCHED THEN UPDATE SET v = s.v
                 WHEN NOT MATCHED THEN INSERT (id, region, v) VALUES (s.id, s.region, s.v)""")
    val rows = spark.table("lake.rl").orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq
    assert(rows == Seq((2L, 200.0), (4L, 4.0), (9L, 9.0)), rows.toString)
  }

  test("MERGE with a delete clause removes matched rows") {
    import spark.implicits._
    Seq(4L).toDF("id").createOrReplaceTempView("rl_del")
    spark.sql("""MERGE INTO lake.rl t USING rl_del s ON t.id = s.id
                 WHEN MATCHED THEN DELETE""")
    assert(spark.table("lake.rl").select("id").as[Long].collect().sorted.toSeq
      == Seq(2L, 9L))
  }

  test("_partition metadata column is selectable (Iceberg _partition analog)") {
    val parts = spark.table("lake.pt").select(col("_partition"), col("region"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(parts.size == 10 && parts("r3") == "r3", parts.toString)
  }

  test("ALTER TABLE ADD COLUMN: old files null-pad, new writes carry the column") {
    spark.sql("""CREATE TABLE lake.ev (id BIGINT, region STRING, v DOUBLE)
                 PARTITIONED BY (region)""")
    import spark.implicits._
    Seq((1L, "emea", 1.0), (2L, "amer", 2.0)).toDF("id", "region", "v")
      .writeTo("lake.ev").append() // v1, two-column files
    spark.sql("ALTER TABLE lake.ev ADD COLUMN score INT") // v2 schema change
    spark.sql("INSERT INTO lake.ev VALUES (3L, 'emea', 3.0, 30)") // v3
    val rows = spark.table("lake.ev").orderBy("id")
      .select("id", "score").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSeq
    assert(rows == Seq((1L, None), (2L, None), (3L, Some(30))), rows.toString)
    // pre-evolution snapshot still reads with the OLD schema
    val v1 = spark.sql("SELECT * FROM lake.ev VERSION AS OF 1")
    assert(v1.schema.fieldNames.toSeq == Seq("id", "region", "v"))
    assert(v1.count() == 2)
  }

  test("ALTER TABLE RENAME COLUMN: field ids keep old files readable") {
    spark.sql("ALTER TABLE lake.ev RENAME COLUMN v TO amount")
    import spark.implicits._
    val amounts = spark.table("lake.ev").orderBy("id")
      .select("amount").as[Double].collect().toSeq
    assert(amounts == Seq(1.0, 2.0, 3.0), amounts.toString)
    // partition pruning still works when filtering the renamed table
    assert(spark.table("lake.ev").filter(col("region") === "emea").count() == 2)
  }

  test("ALTER TABLE DROP COLUMN removes it; dropping a partition column is rejected") {
    spark.sql("ALTER TABLE lake.ev DROP COLUMN score")
    assert(spark.table("lake.ev").schema.fieldNames.toSeq == Seq("id", "region", "amount"))
    assert(spark.table("lake.ev").count() == 3)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE lake.ev DROP COLUMN region")
    }
    assert(e.getMessage.contains("partition"), e.getMessage)
  }

  test("DML on an evolved schema rewrites correctly") {
    spark.sql("UPDATE lake.ev SET amount = amount + 100 WHERE region = 'emea'")
    import spark.implicits._
    val rows = spark.table("lake.ev").orderBy("id")
      .select("id", "amount").as[(Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 101.0), (2L, 2.0), (3L, 103.0)), rows.toString)
  }

  test("min/max file stats skip files for range and equality predicates") {
    spark.sql("CREATE TABLE lake.sk (id BIGINT, v DOUBLE, tag STRING)")
    import spark.implicits._
    // three appends with disjoint id ranges → >=3 files with disjoint stats
    (1 to 100).map(i => (i.toLong, i * 1.0, s"t$i")).toDF("id", "v", "tag")
      .coalesce(1).writeTo("lake.sk").append()
    (101 to 200).map(i => (i.toLong, i * 1.0, s"t$i")).toDF("id", "v", "tag")
      .coalesce(1).writeTo("lake.sk").append()
    (201 to 300).map(i => (i.toLong, i * 1.0, s"t$i")).toDF("id", "v", "tag")
      .coalesce(1).writeTo("lake.sk").append()
    def keptOf(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      df.collect()
      val m = """files=(\d+)/(\d+)""".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString).get
      (m.group(1).toInt, m.group(2).toInt)
    }
    val range = spark.table("lake.sk").filter(col("id") <= 50L)
    assert(range.count() == 50)
    val (k1, t1) = keptOf(range)
    assert(k1 == 1 && t1 == 3, s"range skip expected 1/3, got $k1/$t1")
    val eq = spark.table("lake.sk").filter(col("id") === 150L)
    val (k2, _) = keptOf(eq)
    assert(k2 == 1, s"equality skip expected 1 file, got $k2")
    val none = spark.table("lake.sk").filter(col("v") > 1000.0)
    assert(none.count() == 0)
    val (k3, _) = keptOf(none)
    assert(k3 == 0, s"out-of-range predicate must skip every file, got $k3")
  }

  test("per-file bloom filters skip equality probes when min/max ranges fully overlap") {
    spark.sql("CREATE TABLE lake.bf (id BIGINT, tag STRING)")
    import spark.implicits._
    // three appends with INTERLEAVED id spaces (id % 3 = r): every file
    // spans [r, ~3000+r] so range stats keep all three — only the value
    // bloom can tell which file holds a probed id
    for (r <- 0 until 3)
      (0 until 1000).map(i => (i.toLong * 3 + r, s"t${i * 3 + r}")).toDF("id", "tag")
        .coalesce(1).writeTo("lake.bf").append()
    def keptOf(df: org.apache.spark.sql.DataFrame): (Int, Int, Long) = {
      val n = df.count()
      val m = """files=(\d+)/(\d+)""".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString).get
      (m.group(1).toInt, m.group(2).toInt, n)
    }
    val (k1, t1, n1) = keptOf(spark.table("lake.bf").filter(col("id") === 1500L))
    assert(t1 == 3 && n1 == 1 && k1 == 1,
      s"bloom equality skip expected files=1/3 with 1 row, got $k1/$t1 n=$n1")
    // a long-column probe absent everywhere: all three blooms reject
    val (k2, _, n2) = keptOf(spark.table("lake.bf").filter(col("id") === 999983L))
    assert(n2 == 0 && k2 == 0, s"absent probe must skip every file, got files=$k2")
    // string column: same skipping through the FNV string hash
    val (k3, _, n3) = keptOf(spark.table("lake.bf").filter(col("tag") === "t1500"))
    assert(n3 == 1 && k3 == 1, s"string bloom skip expected 1 file, got $k3")
    // IN-list spanning two files keeps exactly those two
    val (k4, _, n4) = keptOf(spark.table("lake.bf").filter(col("id").isin(1500L, 1501L)))
    assert(n4 == 2 && k4 == 2, s"IN bloom skip expected 2 files, got $k4")
  }

  test("files written before ADD COLUMN are skipped for predicates on the new column") {
    spark.sql("ALTER TABLE lake.sk ADD COLUMN score INT")
    import spark.implicits._
    spark.sql("INSERT INTO lake.sk VALUES (301L, 301.0, 't301', 7)")
    val hit = spark.table("lake.sk").filter(col("score") === 7)
    assert(hit.count() == 1)
    val m = """files=(\d+)/(\d+)""".r
      .findFirstMatchIn(hit.queryExecution.executedPlan.toString).get
    // old files hold only nulls for score → provably no match → skipped
    assert(m.group(1).toInt == 1 && m.group(2).toInt == 4, m.matched)
  }

  test("compaction merges small files per partition; data and history survive") {
    val (cat, ident) = catState("sk")
    val before = cat.fileCount(ident)
    assert(before >= 4, s"expected multiple small files, got $before")
    val sumBefore = spark.table("lake.sk").agg(sum(col("v"))).head.getDouble(0)
    cat.compact(ident)
    assert(cat.fileCount(ident) == 1, "unpartitioned table compacts to one file")
    assert(spark.table("lake.sk").count() == 301)
    assert(spark.table("lake.sk").agg(sum(col("v"))).head.getDouble(0) == sumBefore)
    // stats survive compaction: a range predicate still skips (0/1 here)
    val none = spark.table("lake.sk").filter(col("id") > 9999L)
    none.collect()
    val m = """files=(\d+)/(\d+)""".r
      .findFirstMatchIn(none.queryExecution.executedPlan.toString).get
    assert(m.group(1).toInt == 0, m.matched)
    // pre-compaction snapshot still readable
    val hist = cat.snapshots(ident).map(_._1)
    assert(spark.sql(s"SELECT count(*) FROM lake.sk VERSION AS OF ${hist.max - 1}")
      .head.getLong(0) == 301)
  }

  test("writes hash-cluster by partition value: one data file per partition per append") {
    // RequiresDistributionAndOrdering: all rows of a partition value are
    // written by one task (the Iceberg hash distribution mode), so an
    // append cannot spray tasks×values small files. A parallel input
    // gets there through Spark's rebalance shuffle; this 100-row
    // driver-local one runs as a single task with no shuffle
    // (SmallLocalRebalance; pinned with the write-path tests below)
    val (cat, ident) = catState("pt")
    assert(cat.fileCount(ident) == 10,
      s"one file per region expected, got ${cat.fileCount(ident)}")
  }

  test("CALL lake.system.compact runs compaction through the procedure SPI") {
    spark.sql("""CREATE TABLE lake.cp (id BIGINT, region STRING)
                 PARTITIONED BY (region)""")
    import spark.implicits._
    // two appends → two files per partition value
    (1 to 20).map(i => (i.toLong, s"r${i % 2}")).toDF("id", "region")
      .writeTo("lake.cp").append()
    (21 to 40).map(i => (i.toLong, s"r${i % 2}")).toDF("id", "region")
      .writeTo("lake.cp").append()
    val (cat, ident) = catState("cp")
    assert(cat.fileCount(ident) == 4, s"expected 2 files x 2 regions, got ${cat.fileCount(ident)}")
    spark.sql("CALL lake.system.compact('cp')")
    assert(cat.fileCount(ident) == 2, // one file per region partition
      s"expected 2 files post-compaction, got ${cat.fileCount(ident)}")
    assert(spark.table("lake.cp").count() == 40)
  }

  test("metadata tables: t$history exposes the snapshot log, t$files the manifest") {
    val hist = spark.sql("SELECT * FROM lake.`pt$history` ORDER BY version")
    val versions = hist.collect()
    assert(versions.length >= 2, s"expected create+append history, got ${versions.length}")
    assert(versions.head.getLong(2) == 0L) // v0 empty
    assert(versions.last.getLong(2) == 100L)
    assert(versions.last.getString(4).contains("region"), versions.last.getString(4))
    val files = spark.sql("SELECT * FROM lake.`pt$files` ORDER BY partition")
    val fr = files.collect()
    assert(fr.length == 10 && fr.map(_.getLong(1)).sum == 100L, fr.mkString(","))
  }

  test("CALL lake.system.changes returns the row-level diff between snapshots") {
    spark.sql("""CREATE TABLE lake.cdf (id BIGINT, region STRING, v DOUBLE)
                 PARTITIONED BY (region)""")
    import spark.implicits._
    Seq((1L, "emea", 1.0), (2L, "amer", 2.0)).toDF("id", "region", "v")
      .writeTo("lake.cdf").append() // v1: +2 rows
    spark.sql("DELETE FROM lake.cdf WHERE region = 'emea'") // v2: -1 row
    spark.sql("INSERT INTO lake.cdf VALUES (3L, 'apac', 3.0)") // v3: +1 row
    val changes = spark.sql("CALL lake.system.changes('cdf', 0L, 3L)")
      .select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(changes == Set(
      (1L, "insert", 1L), (2L, "insert", 1L),
      (1L, "delete", 2L),
      (3L, "insert", 3L)), changes.toString)
    // a narrower window sees only its own commits
    val tail = spark.sql("CALL lake.system.changes('cdf', 2L, 3L)")
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tail == Set((3L, "insert")), tail.toString)
  }

  test("streaming upsert into a lake table via foreachBatch MERGE (CDC write pattern)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("""CREATE TABLE lake.ups (id BIGINT, region STRING, v DOUBLE)
                 PARTITIONED BY (region)""")
    spark.sql("INSERT INTO lake.ups VALUES (1L, 'emea', 1.0), (2L, 'amer', 2.0)")
    val in = MemoryStream[(Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("lake_ups_ckpt").toString
    val q = in.toDF().toDF("id", "region", "v")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.createOrReplaceTempView("ups_src")
        batch.sparkSession.sql(
          """MERGE INTO lake.ups t USING ups_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = s.v
            |WHEN NOT MATCHED THEN INSERT (id, region, v) VALUES (s.id, s.region, s.v)
            |""".stripMargin)
        ()
      }
      .start()
    try {
      in.addData((2L, "amer", 20.0), (3L, "apac", 3.0)) // update + insert
      q.processAllAvailable()
      val rows = spark.table("lake.ups").orderBy("id")
        .select("id", "v").as[(Long, Double)].collect().toSeq
      assert(rows == Seq((1L, 1.0), (2L, 20.0), (3L, 3.0)), rows.toString)
    } finally q.stop()
  }

  test("copy-on-write rewrite leaves files outside the scanned partitions untouched") {
    spark.sql("""CREATE TABLE lake.cw (id BIGINT, region STRING, v DOUBLE)
                 PARTITIONED BY (region)""")
    import spark.implicits._
    (1 to 40).map(i => (i.toLong, s"r${i % 4}", i * 1.0)).toDF("id", "region", "v")
      .writeTo("lake.cw").append()
    // partition-pruned scan + row predicate: only the r1 files are rewritten
    spark.sql("DELETE FROM lake.cw WHERE region = 'r1' AND v > 20")
    assert(spark.table("lake.cw").count() == 40 - 5) // ids 21,25,29,33,37
    assert(spark.table("lake.cw").filter(col("region") === "r1").count() == 5)
    assert(spark.table("lake.cw").filter(col("region") =!= "r1").count() == 30)
  }

  test("branch write-audit-publish: staging isolated from main until fast_forward") {
    spark.sql("CREATE TABLE lake.wap (id BIGINT, v DOUBLE)")
    import spark.implicits._
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").writeTo("lake.wap").append() // main v1
    spark.sql("CALL lake.system.create_branch('wap', 'audit')")
    Seq((3L, 3.0), (4L, 4.0)).toDF("id", "v")
      .writeTo("lake.`wap$branch$audit`").append() // branch-only commit
    // WRITE isolation: main unchanged, branch head sees base + staged
    assert(spark.table("lake.wap").count() == 2)
    assert(spark.sql("SELECT * FROM lake.wap VERSION AS OF 'audit'").count() == 4)
    assert(spark.table("lake.`wap$branch$audit`").count() == 4)
    // publish
    spark.sql("CALL lake.system.fast_forward('wap', 'audit')")
    assert(spark.table("lake.wap").count() == 4)
    // pre-publish main history is preserved in the adopted lineage
    assert(spark.sql("SELECT * FROM lake.wap VERSION AS OF 1").count() == 2)
  }

  test("fast_forward refuses when main diverged from the branch fork point") {
    spark.sql("CREATE TABLE lake.wap2 (id BIGINT)")
    import spark.implicits._
    Seq(1L).toDF("id").writeTo("lake.wap2").append()
    spark.sql("CALL lake.system.create_branch('wap2', 'b')")
    Seq(2L).toDF("id").writeTo("lake.`wap2$branch$b`").append()
    Seq(3L).toDF("id").writeTo("lake.wap2").append() // main advances → diverged
    val e = intercept[Exception] {
      spark.sql("CALL lake.system.fast_forward('wap2', 'b')").collect()
    }
    assert(e.getMessage.contains("diverged"), e.getMessage.take(200))
    assert(spark.table("lake.wap2").count() == 2) // main untouched by the failed publish
  }

  // ---- the write path: no forked process, integrity, job shape ----

  private def dataFiles(): Set[File] =
    graft.sources.LakeFileStore.warehouseDir.listFiles().filter(_.getName.endsWith(".parquet")).toSet

  private def partitioned(name: String): Unit =
    spark.sql(s"CREATE TABLE lake.$name (id BIGINT, p STRING, v DOUBLE) PARTITIONED BY (p)")

  private def rows(from: Int, to: Int): DataFrame = {
    import spark.implicits._
    (from to to).map(i => (i.toLong, s"p${i % 5}", i * 1.0)).toDF("id", "p", "v")
  }

  private def upsert(table: String, src: DataFrame): Unit = {
    src.createOrReplaceTempView(s"${table}_src")
    spark.sql(s"""MERGE INTO lake.$table t USING ${table}_src s ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET v = s.v + 1
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
  }

  test("a lake append and a MERGE start no chmod process") {
    partitioned("nofork")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      rows(1, 200).writeTo("lake.nofork").append()
      upsert("nofork", rows(150, 250))
    } finally rec.stop()
    val dump = Files.createTempFile("lake-writes", ".jfr")
    try {
      rec.dump(dump)
      val chmods = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command")).filter(_.contains("chmod"))
      assert(chmods.isEmpty, chmods.take(3))
    } finally { rec.close(); Files.delete(dump) }
    assert(spark.table("lake.nofork").count() == 250)
  }

  test("every new data file has its .crc and Hadoop's default file mode") {
    partitioned("integrity")
    val before = dataFiles()
    rows(1, 100).writeTo("lake.integrity").append()
    upsert("integrity", rows(50, 120))
    val written = dataFiles() -- before
    assert(written.size >= 10, written) // 5 appended, 5 rewritten
    val mode = FsPermission.getFileDefault
      .applyUMask(FsPermission.getUMask(spark.sessionState.newHadoopConf())).toString
    for (f <- written) {
      val crc = new File(f.getParentFile, s".${f.getName}.crc")
      assert(crc.isFile, s"no checksum file for $f")
      for (x <- Seq(f, crc))
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(x.toPath)) == mode, x)
    }
  }

  test("a flipped byte in a data file fails the next read with a checksum error") {
    partitioned("crcflip")
    val before = dataFiles()
    rows(1, 50).writeTo("lake.crcflip").append()
    val victim = (dataFiles() -- before).head
    val raf = new RandomAccessFile(victim, "rw")
    try { raf.seek(4); val b = raf.read(); raf.seek(4); raf.write(b ^ 0xff) } finally raf.close()
    val e = intercept[Exception](spark.table("lake.crcflip").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }

  /** the append's trace, and the number of files it wrote per partition value */
  private def tracedAppend(df: DataFrame, table: String): (PlanHealth.Layer, Map[String, Int]) = {
    partitioned(table)
    val (_, layer) = PlanHealth.traced(spark)(df.writeTo(s"lake.$table").append())
    val perValue = spark.sql(s"SELECT partition FROM lake.`$table$$files`").collect()
      .groupBy(_.getString(0)).map { case (k, v) => k -> v.length }
    (layer, perValue)
  }

  test("a small driver-local append runs one job with no exchange and one file per partition value") {
    val (layer, perValue) = tracedAppend(rows(1, 200), "small_local")
    assert(layer.jobs == 1, layer.jobNames.mkString("\n"))
    assert(layer.plans.nonEmpty && layer.plans.forall(_.exchanges == 0), layer.plans)
    assert(perValue.size == 5 && perValue.values.forall(_ == 1), perValue)
  }

  test("a parallel append and a local relation over the bound keep the rebalance exchange") {
    val parallel = spark.range(0, 1000, 1, 4)
      .selectExpr("id", "concat('p', id % 5) AS p", "CAST(id AS DOUBLE) AS v")
    val big = rows(1, 30000)
    val local = big.queryExecution.optimizedPlan.asInstanceOf[LocalRelation]
    assert(local.stats.sizeInBytes >
      spark.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    for ((df, table) <- Seq(parallel -> "parallel_app", big -> "big_local")) {
      val (layer, perValue) = tracedAppend(df, table)
      assert(layer.plans.map(_.exchanges).sum >= 1, s"$table: ${layer.plans}")
      assert(perValue.size == 5 && perValue.values.forall(_ == 1), s"$table: $perValue")
    }
  }

  // ---- MERGE in one partition (SmallFullOuterJoin) ----

  /** a 5000-row table with five partition values, the shape the lake
    * read/write benchmark upserts into */
  private def seeded(name: String): Unit = {
    partitioned(name)
    rows(1, 5000).writeTo(s"lake.$name").append()
  }

  private def idValues(table: String): Map[Long, Double] =
    spark.table(s"lake.$table").select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("a 50-row MERGE into a small table runs one job and one task with no exchange") {
    seeded("merge_small")
    val (_, layer) = PlanHealth.traced(spark)(upsert("merge_small", rows(4976, 5025)))
    assert(layer.jobs == 1 && layer.tasks == 1, layer.jobNames.mkString("\n"))
    assert(layer.plans.nonEmpty && layer.plans.forall(_.exchanges == 0), layer.plans)
    val got = idValues("merge_small")
    assert(got.size == 5025)
    // matched rows take the source's v + 1, new rows their own v
    assert((1 to 5025).forall(i => got(i.toLong) == (if (i >= 4976 && i <= 5000) i + 1.0 else i * 1.0)))
  }

  test("a MERGE source over the bound keeps the two exchanges of the full outer join") {
    seeded("merge_big_src")
    val (_, layer) = PlanHealth.traced(spark)(upsert("merge_big_src", rows(1, 30000)))
    assert(layer.plans.map(_.exchanges).sum == 2, layer.plans)
    val got = idValues("merge_big_src")
    assert(got.size == 30000 && (1 to 30000).forall(i => got(i.toLong) == (if (i <= 5000) i + 1.0 else i * 1.0)))
  }

  test("a source row matching one target row twice still fails the MERGE cardinality check") {
    seeded("merge_dup")
    val e = intercept[Exception](upsert("merge_dup", rows(10, 12).union(rows(11, 11))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("MERGE_CARDINALITY_VIOLATION")), e)
    assert(idValues("merge_dup") == (1 to 5000).map(i => i.toLong -> i * 1.0).toMap)
  }

  test("a MERGE with NOT MATCHED BY SOURCE clauses runs in one partition and gives the right rows") {
    partitioned("merge_by_src")
    rows(1, 10).writeTo("lake.merge_by_src").append()
    rows(8, 12).createOrReplaceTempView("merge_by_src_src")
    val (_, layer) = PlanHealth.traced(spark)(spark.sql(
      """MERGE INTO lake.merge_by_src t USING merge_by_src_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v + 1
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.id <= 3 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1""".stripMargin))
    assert(layer.plans.nonEmpty && layer.plans.forall(_.exchanges == 0), layer.plans)
    assert(idValues("merge_by_src") == ((4 to 7).map(_.toLong -> -1.0) ++
      (8 to 10).map(i => i.toLong -> (i + 1.0)) ++ (11 to 12).map(i => i.toLong -> i * 1.0)).toMap)
  }

  // ---- the reader memo (LakeFileStore.readerFunc) ----

  private val layout = graft.sources.LakeFileStore.syntheticSchema(Seq(0, 1),
    Seq(org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.DoubleType))

  private def reader() = {
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    graft.sources.LakeFileStore.readerFunc(layout, layout)
  }

  test("two scans under the same conf reuse one reader function; a changed conf builds another") {
    val first = reader()
    assert(reader() eq first)
    for (key <- Seq("spark.sql.caseSensitive", "spark.sql.parquet.enableVectorizedReader")) {
      val before = spark.conf.getAll.get(key) // set in the session, not a default
      spark.conf.set(key, (!spark.conf.get(key).toBoolean).toString)
      try assert(reader() ne first, key)
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(reader() eq first, key)
    }
  }

  test("tags pin a version by name and survive later commits; rollback is history-preserving") {
    spark.sql("CREATE TABLE lake.tg (id BIGINT)")
    import spark.implicits._
    Seq(1L, 2L).toDF("id").writeTo("lake.tg").append() // v1
    spark.sql("CALL lake.system.create_tag('tg', 'baseline')")
    Seq(3L).toDF("id").writeTo("lake.tg").append() // v2
    assert(spark.sql("SELECT * FROM lake.tg VERSION AS OF 'baseline'").count() == 2)
    assert(spark.table("lake.tg").count() == 3)
    // rollback to the tagged version: a NEW commit (v3) carries v1's files
    spark.sql("CALL lake.system.rollback('tg', 1L)")
    assert(spark.table("lake.tg").count() == 2)
    // the rolled-PAST state is still time-travelable — nothing was erased
    assert(spark.sql("SELECT * FROM lake.tg VERSION AS OF 2").count() == 3)
    assert(spark.sql("SELECT * FROM lake.tg VERSION AS OF 3").count() == 2)
  }

  // last in this suite: it stops the shared context
  test("a lake table reads correctly after the SparkContext stops and starts again") {
    seeded("restart")
    val before = reader()
    assert(spark.table("lake.restart").count() == 5000)
    spark.stop()
    val again = GraftSparkSession.spark
    again.conf.set("spark.sql.catalog.lake", classOf[graft.sources.GraftLakeCatalog].getName)
    org.apache.spark.sql.SparkSession.setActiveSession(again)
    assert(graft.sources.LakeFileStore.readerFunc(layout, layout) ne before)
    val got = again.table("lake.restart").select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == (1 to 5000).map(i => i.toLong -> i * 1.0).toMap)
  }
}
