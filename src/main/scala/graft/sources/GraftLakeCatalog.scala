package graft.sources

import java.util
import java.util.OptionalLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.{Literal => CatalystLiteral}
import org.apache.spark.sql.connector.catalog.{Column => V2Column, FunctionCatalog, Identifier, MetadataColumn, ProcedureCatalog, SupportsDeleteV2, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Lakehouse-table-format analog — the §2.1 "Connectors
  * (Iceberg/Delta/Hudi/Paimon)" row rebuilt on the exact DSv2 surface
  * those formats use (reference modules gluten-iceberg
  * IcebergScanTransformer.scala:44, gluten-delta/, gluten-hudi/,
  * gluten-paimon/ all enter Spark through TableCatalog + Scan/Write):
  *
  *  - **snapshot isolation + time travel**: every commit produces an
  *    immutable numbered snapshot (version + wall-clock timestamp);
  *    `VERSION AS OF n` / `TIMESTAMP AS OF t` resolve through the
  *    standard `TableCatalog.loadTable(ident, version/timestamp)`
  *    hooks, and a running scan binds to ONE snapshot (concurrent
  *    appends never tear a read);
  *  - **partition transforms**: `PARTITIONED BY (col, bucket(n, col))`
  *    — identity and bucket transforms; writers route rows to
  *    partition-addressed data files (one file per task ×
  *    partition-value, the Iceberg manifest-entry shape);
  *  - **partition pruning at the source**: EqualTo/In predicates on
  *    identity columns and EqualTo on bucket sources prune data files
  *    BEFORE any reader spins up (identity predicates are satisfied by
  *    pruning and not re-evaluated; bucket predicates stay residual);
  *    the scan description reports `files=kept/total` for plan
  *    assertions;
  *  - **column pruning**: readers project stored full-schema rows down
  *    to the scan's required columns.
  *
  * Data files are REAL PARQUET ON LOCAL DISK ([[LakeFileStore]], the
  * sandbox's stand-in for object storage): tasks stream rows straight
  * into per-partition parquet files, commit messages carry only
  * manifest entries (path + stats + blooms), and the driver-side
  * atomic snapshot swap touches metadata only — the cluster-correct
  * executors-write-files / driver-commits-manifest split. Tables
  * larger than the JVM heap write and read fine (LakeScaleSpec).
  *
  * Enable: `spark.sql.catalog.lake=graft.sources.GraftLakeCatalog`.
  */
class GraftLakeCatalog extends TableCatalog with ProcedureCatalog with FunctionCatalog {
  private var catalogName: String = _

  // ---- FunctionCatalog face: the `bucket` partition transform -------
  // Storage-partitioned joins on bucket-partitioned tables need the
  // catalog to resolve the transform to a V2 function (Spark's
  // V2ScanPartitioningAndOrdering rule binds `bucket(n, col)` through
  // the scan relation's FunctionCatalog; identity transforms resolve
  // as plain attributes and need nothing). Both join sides compare the
  // bound function's canonicalName, so one shared definition makes two
  // same-bucketing lake tables co-partitioned.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") LakeBucketFunction
    else throw new NoSuchFunctionException(ident)

  /** table state is keyed by catalog NAME, shared across catalog
    * instances: cloned sessions (foreachBatch, thread pools) construct
    * their own plugin instance but must see the same lakehouse — the
    * in-memory analog of shared object storage */
  private def tables: TrieMap[Identifier, LakeTableState] =
    GraftLakeCatalog.registry(catalogName)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tables.keys.filter(_.namespace().sameElements(namespace)).toArray

  private def state(ident: Identifier): LakeTableState =
    tables.getOrElse(ident, throw new NoSuchTableException(ident))

  override def loadTable(ident: Identifier): Table = ident.name() match {
    // Iceberg-style metadata tables: SELECT * FROM lake.`t$history` /
    // lake.`t$files` expose the snapshot log and the live manifest
    case n if n.endsWith("$history") =>
      val st = state(Identifier.of(ident.namespace(), n.stripSuffix("$history")))
      LakeMetaTable.history(st)
    case n if n.endsWith("$files") =>
      val st = state(Identifier.of(ident.namespace(), n.stripSuffix("$files")))
      LakeMetaTable.files(st)
    // branch table: SELECT/INSERT against lake.`t$branch$name` reads the
    // branch head and routes writes to the branch lineage (the Iceberg
    // `t.branch_name` identifier shape) — the staging half of WAP
    case n if n.contains("$branch$") =>
      val Array(tbl, br) = n.split("\\$branch\\$", 2)
      val st = state(Identifier.of(ident.namespace(), tbl))
      val head = st.branchHead(br).getOrElse(throw new NoSuchTableException(ident))
      new GraftLakeTable(st, pinned = Some(head), branch = Some(br))
    case _ => new GraftLakeTable(state(ident), pinned = None)
  }

  /** VERSION AS OF — a numeric version pins that snapshot; a non-numeric
    * version resolves as a REF name (branch head or tag). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val st = state(ident)
    val snap = version.toLongOption.fold(st.refSnapshot(version))(st.byVersion)
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftLakeTable(st, pinned = Some(snap))
  }

  /** TIMESTAMP AS OF (micros) — latest snapshot at or before t. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val st = state(ident)
    val snap = st.byTimestampMs(timestampMicros / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftLakeTable(st, pinned = Some(snap))
  }

  override def createTable(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tables.contains(ident)) throw new TableAlreadyExistsException(ident)
    val schema = new StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable())))
    val specs = partitions.map { t =>
      // initial field ids are the creation-schema ordinals
      val idx = schema.fieldIndex(t.references().head.fieldNames().head)
      t.name() match {
        case "identity" => LakePartSpec(idx, bucket = 0)
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: V2Literal[_] => l.value().asInstanceOf[Number].intValue()
          }.getOrElse(throw new IllegalArgumentException(s"bucket without count: $t"))
          LakePartSpec(idx, bucket = n)
        case other =>
          throw new UnsupportedOperationException(s"unsupported transform: $other")
      }
    }
    val st = new LakeTableState(ident.toString, schema, specs.toIndexedSeq)
    tables.put(ident, st)
    new GraftLakeTable(st, pinned = None)
  }

  /** snapshot history (version, timestampMs, rowCount) — the
    * `table.snapshots` metadata surface table formats expose */
  def snapshots(ident: Identifier): Seq[(Long, Long, Long)] =
    state(ident).history.map(s => (s.version, s.timestampMs, s.rowCount))

  /** current data-file count (small-file health metric) */
  def fileCount(ident: Identifier): Int = state(ident).current.files.length

  /** OPTIMIZE-style compaction: rewrite the table so each partition value
    * holds one data file in the CURRENT schema layout (stats recomputed),
    * committed as a snapshot — history stays readable. The merge streams
    * file-by-file on the driver; the production shape is a distributed
    * rewrite job feeding the same replace-commit. */
  def compact(ident: Identifier): Unit = {
    val st = state(ident)
    val snap = st.current
    val sch = snap.schema
    val ids = snap.fieldIds
    val types: IndexedSeq[DataType] = sch.fields.map(_.dataType).toIndexedSeq
    val bundle = LakeFileStore.writerBundle(ids, types)
    val context = LakeFileStore.taskContext(bundle)
    // On any mid-merge failure, abort every file opened so far (finished
    // ones included — they are uncommitted until st.replace) so no open
    // writers or orphaned half-written parquet files linger until exit.
    val opened = scala.collection.mutable.ArrayBuffer.empty[LakeOpenFile]
    val merged = try {
      snap.files.groupBy(_.partition).map { case (part, fs) =>
        val out = new LakeOpenFile(bundle, context, part, ids, types)
        opened += out
        fs.foreach { f =>
          // re-layout each file's rows into the current schema by field id
          val proj = UnsafeProjection.create(ids.indices.map { i =>
            f.fieldIds.indexOf(ids(i)) match {
              case -1 => CatalystLiteral(null, types(i))
              case ord => BoundReference(ord, f.types(ord), nullable = true)
            }
          })
          f.readRows().foreach(r => out.add(proj(r)))
        }
        out.finish()
      }.toSeq
    } catch {
      case e: Throwable =>
        opened.foreach(_.abortQuietly())
        throw e
    }
    st.replace(snap.files, merged)
  }

  /** schema evolution: ALTER TABLE ADD/RENAME/DROP COLUMN (field-id
    * tracked, snapshot-versioned — old snapshots keep their shape) */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val st = state(ident)
    st.alter(changes)
    new GraftLakeTable(st, pinned = None)
  }

  /** maintenance procedures — `CALL lake.system.compact('t')`, the
    * Iceberg `CALL catalog.system.rewrite_data_files` shape on Spark's
    * native ProcedureCatalog SPI */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array("system"), "compact"),
      Identifier.of(Array("system"), "changes"),
      Identifier.of(Array("system"), "create_branch"),
      Identifier.of(Array("system"), "create_tag"),
      Identifier.of(Array("system"), "fast_forward"),
      Identifier.of(Array("system"), "rollback"))

  /** boilerplate for the ref-management procedures: one (table, STRING
    * arg) or (table, LONG arg) parameter pair, body runs on the driver,
    * empty result */
  private def refProcedure(procName: String, desc: String, argName: String,
      argType: DataType)(body: (LakeTableState, InternalRow) => Unit): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = desc
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in(argName, argType).build())
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): util.Iterator[Scan] = {
          body(state(Identifier.of(Array.empty, input.getUTF8String(0).toString)), input)
          util.Collections.emptyIterator()
        }
      }
    }

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    ident.name() match {
      case "create_branch" =>
        refProcedure("create_branch",
          "fork a branch from the current main snapshot (WAP staging)",
          "branch", StringType)((st, in) =>
          st.createBranch(in.getUTF8String(1).toString))
      case "create_tag" =>
        refProcedure("create_tag", "pin the current main version under a name",
          "tag", StringType)((st, in) => st.createTag(in.getUTF8String(1).toString))
      case "fast_forward" =>
        refProcedure("fast_forward",
          "publish a branch: main adopts the branch lineage (WAP publish)",
          "branch", StringType)((st, in) =>
          st.fastForward(in.getUTF8String(1).toString))
      case "rollback" =>
        refProcedure("rollback",
          "history-preserving rollback: new commit carrying an old file set",
          "version", org.apache.spark.sql.types.LongType)((st, in) =>
          st.rollback(in.getLong(1)))
      case "compact" => new UnboundProcedure {
        override def name(): String = "compact"
        override def description(): String =
          "merge each partition's data files into one (OPTIMIZE analog)"
        override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
          override def name(): String = "compact"
          override def description(): String =
            "merge each partition's data files into one (OPTIMIZE analog)"
          override def parameters(): Array[ProcedureParameter] =
            Array(ProcedureParameter.in("table", StringType).build())
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): util.Iterator[Scan] = {
            compact(Identifier.of(Array.empty, input.getUTF8String(0).toString))
            util.Collections.emptyIterator()
          }
        }
      }
      case "changes" => new UnboundProcedure {
        override def name(): String = "changes"
        override def description(): String =
          "row-level change feed between two snapshots (CDF analog)"
        override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
          override def name(): String = "changes"
          override def description(): String =
            "row-level change feed between two snapshots (CDF analog)"
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("from_version", org.apache.spark.sql.types.LongType).build(),
            ProcedureParameter.in("to_version", org.apache.spark.sql.types.LongType).build())
          override def isDeterministic: Boolean = false

          /** rows added/removed per commit in (from, to], projected into
            * the CURRENT schema by field id, tagged with
            * (_change_type, _commit_version) — the Delta change-data-feed
            * shape derived purely from the immutable snapshot log */
          override def call(input: InternalRow): util.Iterator[Scan] = {
            val st = state(Identifier.of(Array.empty, input.getUTF8String(0).toString))
            val fromV = input.getLong(1)
            val toV = input.getLong(2)
            val sch = st.schema
            val ids = st.fieldIds
            val types: IndexedSeq[DataType] = sch.fields.map(_.dataType).toIndexedSeq
            val outSchema = sch.add("_change_type", StringType).add("_commit_version",
              org.apache.spark.sql.types.LongType)
            val out = mutable.ArrayBuffer[Array[Any]]()
            def emit(f: LakeDataFile, tag: String, v: Long): Unit = {
              val proj = UnsafeProjection.create(ids.indices.map { i =>
                f.fieldIds.indexOf(ids(i)) match {
                  case -1 => CatalystLiteral(null, types(i))
                  case ord => BoundReference(ord, f.types(ord), nullable = true)
                }
              })
              f.readRows().foreach { r =>
                val p = proj(r).copy() // own buffer: string getters stay valid
                out += (types.indices.map(i => p.get(i, types(i))) ++
                  Seq(UTF8String.fromString(tag), v)).toArray
              }
            }
            (fromV + 1).to(toV).foreach { v =>
              (st.byVersion(v - 1), st.byVersion(v)) match {
                case (Some(prev), Some(cur)) =>
                  val prevSet = java.util.Collections.newSetFromMap(
                    new java.util.IdentityHashMap[LakeDataFile, java.lang.Boolean]())
                  prev.files.foreach(prevSet.add)
                  val curSet = java.util.Collections.newSetFromMap(
                    new java.util.IdentityHashMap[LakeDataFile, java.lang.Boolean]())
                  cur.files.foreach(curSet.add)
                  cur.files.filterNot(prevSet.contains).foreach(emit(_, "insert", v))
                  prev.files.filterNot(curSet.contains).foreach(emit(_, "delete", v))
                case _ => ()
              }
            }
            // procedure output must be a LocalScan (driver-local rows)
            val proj2 = UnsafeProjection.create(outSchema)
            val localRows: Array[InternalRow] = out.toSeq.map(vals =>
              proj2(InternalRow.fromSeq(vals.toIndexedSeq)).copy(): InternalRow).toArray
            util.Collections.singletonList(
              new org.apache.spark.sql.connector.read.LocalScan {
                override def rows(): Array[InternalRow] = localRows
                override def readSchema(): StructType = outSchema
              }: Scan).iterator()
          }
        }
      }
      case other =>
        throw new UnsupportedOperationException(s"unknown procedure: $other")
    }
  override def dropTable(ident: Identifier): Boolean = tables.remove(ident).isDefined
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("renameTable not supported")
}

object GraftLakeCatalog {
  private val registries =
    new TrieMap[String, TrieMap[Identifier, LakeTableState]]()
  private[sources] def registry(name: String): TrieMap[Identifier, LakeTableState] =
    registries.getOrElseUpdate(name, new TrieMap[Identifier, LakeTableState]())
}

/** one partition-spec field resolved against a concrete write schema:
  * source ordinal + (bucket==0 → identity) */
case class LakePartField(ordinal: Int, dataType: DataType, bucket: Int) {
  /** partition value of a row: identity value (normalized) or bucket id */
  def eval(row: InternalRow): Any = {
    val v = LakePartField.normalize(row.get(ordinal, dataType))
    if (bucket == 0) v else LakePartField.bucketOf(v, bucket)
  }
}

object LakePartField {
  /** UTF8String → String etc. so write-side values and driver-side
    * filter literals hash/compare identically */
  def normalize(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case other => other
  }
  /** inverse of [[normalize]] for handing manifest partition values
    * back to Spark as CATALYST values (`HasPartitionKey` rows) */
  def denormalize(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case other => other
  }
  def bucketOf(v: Any, n: Int): Int =
    if (v == null) 0 else ((v.hashCode % n) + n) % n
}

/** The catalog's `bucket(n, col)` partition transform as a V2 function
  * (FunctionCatalog face) — what lets Spark's storage-partitioned-join
  * machinery treat two bucket-partitioned lake tables as
  * co-partitioned. The bound function's semantics are EXACTLY the
  * write path's ([[LakePartField.eval]]): normalize the catalyst value
  * (UTF8String → String) then `((hashCode % n) + n) % n` — evaluated
  * by Spark only on the partially-clustered paths; plain SPJ compares
  * partition VALUES from the manifests plus this `canonicalName`. */
object LakeBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String = "graft lake bucket partition transform"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 2,
      s"bucket expects (numBuckets, col), got ${inputType.catalogString}")
    val valueType = inputType(1).dataType
    new ScalarFunction[Integer] {
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.lake.bucket"
      override def inputTypes(): Array[DataType] =
        Array(org.apache.spark.sql.types.IntegerType, valueType)
      override def resultType(): DataType = org.apache.spark.sql.types.IntegerType
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        LakePartField.bucketOf(LakePartField.normalize(input.get(1, valueType)), n)
      }
    }
  }
}

/** schema-stable partition spec entry: tracks its source column by
  * FIELD ID (the Iceberg model), so renames never detach the spec */
case class LakePartSpec(fieldId: Int, bucket: Int)

/** Immutable data file MANIFEST ENTRY: partition tuple + the path of a
  * parquet file on disk (see [[LakeFileStore]]) holding rows laid out in
  * the WRITE-TIME schema, identified by per-column field ids (schema
  * evolution: readers map the current schema onto each file by id).
  * `stats(i)` = (min, max) of column i over the file's non-null values —
  * the manifest-level pruning stats Iceberg/Delta keep per data file.
  * Only this entry lives in the catalog; row payloads stay on disk and
  * are streamed by readers. */
case class LakeDataFile(partition: IndexedSeq[Any], path: String, rowCount: Long,
    fieldIds: IndexedSeq[Int], types: IndexedSeq[DataType],
    stats: IndexedSeq[Option[(Any, Any)]] = IndexedSeq.empty,
    blooms: IndexedSeq[Option[Array[Long]]] = IndexedSeq.empty) {
  /** driver-side streaming read in the file's own layout (maintenance:
    * compaction, CDF derivation) */
  def readRows(): Iterator[InternalRow] = LakeFileStore.readAll(path, fieldIds, types)
}

/** Per-file, per-column bloom filters — the manifest-level equality
  * skipping Parquet column blooms / Iceberg puffin files provide for
  * HIGH-CARDINALITY columns whose per-file (min, max) ranges overlap
  * (random ids, uuids, hashes): a range check keeps every file, the
  * bloom proves most files cannot contain the probed value. A bloom
  * no-match proves absence, so skipping is exact — safe for plain
  * scans AND for excluding files from row-level rewrite groups. Sized
  * at ~8 bits/row (k=3, capped) → ~2% false-positive rate; a false
  * positive only costs a wasted file read, never a wrong result. */
object LakeBloom {
  private val HashCount = 3
  // splitmix64 finalizer — deterministic across JVMs/runs
  private def mix(h0: Long, i: Int): Long = {
    var h = h0 + 0x9E3779B97F4A7C15L * (i + 1)
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
    h ^ (h >>> 33)
  }
  private def baseHash(v: Any): Long = v match {
    case s: String => // FNV-1a over chars: stable, independent of JVM identity
      s.foldLeft(0xCBF29CE484222325L)((h, c) => (h ^ c) * 0x100000001B3L)
    case n: java.lang.Long => n.longValue()
    case n: java.lang.Integer => n.longValue()
    case n: java.lang.Short => n.longValue()
    case n: java.lang.Byte => n.longValue()
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(d.doubleValue())
    case f: java.lang.Float => java.lang.Double.doubleToLongBits(f.doubleValue())
    case b: java.lang.Boolean => if (b) 1L else 0L
    case other => other.hashCode().toLong
  }
  /** fixed-size bit array for STREAMING writers (row count unknown up
    * front): the same cap [[collect]] reaches for files over ~8k rows */
  private[sources] def streamBits(): Array[Long] = new Array[Long]((1 << 16) >> 6)
  private[sources] def set(bits: Array[Long], v: Any): Unit = {
    val h0 = baseHash(v); val m = bits.length * 64
    var i = 0
    while (i < HashCount) {
      val idx = ((mix(h0, i) % m + m) % m).toInt
      bits(idx >> 6) |= 1L << (idx & 63); i += 1
    }
  }
  def mightContain(bits: Array[Long], v: Any): Boolean = {
    val h0 = baseHash(v); val m = bits.length * 64
    var i = 0
    while (i < HashCount) {
      val idx = ((mix(h0, i) % m + m) % m).toInt
      if ((bits(idx >> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

object LakeStats {
  /** total order over the stat-supported runtime types (normalized
    * externals: String, boxed numerics, Boolean) */
  def compare(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: java.lang.Number, y: java.lang.Number)
        if isIntegral(x) && isIntegral(y) =>
      Some(java.lang.Long.compare(x.longValue(), y.longValue()))
    case (x: java.lang.Number, y: java.lang.Number) =>
      Some(java.lang.Double.compare(x.doubleValue(), y.doubleValue()))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
    case _ => None
  }
  private def isIntegral(n: java.lang.Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }
  def supported(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.BooleanType => true
    case _ => false
  }
}

case class LakeSnapshot(version: Long, timestampMs: Long, files: Vector[LakeDataFile],
    schema: StructType, fieldIds: IndexedSeq[Int]) {
  def rowCount: Long = files.map(_.rowCount).sum
}

/** all mutation = one synchronized snapshot append (commit protocol);
  * ALTER TABLE commits a snapshot with a new (schema, fieldIds) pair
  * over the same files — time travel restores the old shape */
class LakeTableState(val tableName: String, initialSchema: StructType,
    val partSpecs: IndexedSeq[LakePartSpec]) {
  @volatile private var snaps: Vector[LakeSnapshot] =
    Vector(LakeSnapshot(0L, System.currentTimeMillis(), Vector.empty,
      initialSchema, initialSchema.indices))
  private var nextFieldId: Int = initialSchema.length
  def current: LakeSnapshot = snaps.last
  def schema: StructType = current.schema
  def fieldIds: IndexedSeq[Int] = current.fieldIds
  def history: Vector[LakeSnapshot] = snaps
  def byVersion(v: Long): Option[LakeSnapshot] = snaps.find(_.version == v)
  def byTimestampMs(ms: Long): Option[LakeSnapshot] =
    snaps.filter(_.timestampMs <= ms).lastOption

  /** partition spec resolved against a concrete (schema, ids) pair */
  def resolvePartFields(sch: StructType, ids: IndexedSeq[Int]): IndexedSeq[LakePartField] =
    partSpecs.map { ps =>
      val ord = ids.indexOf(ps.fieldId)
      require(ord >= 0, s"partition source field ${ps.fieldId} missing from $sch")
      LakePartField(ord, sch(ord).dataType, ps.bucket)
    }

  /** current column name of a partition-spec entry */
  def partColumnName(i: Int): String =
    schema(fieldIds.indexOf(partSpecs(i).fieldId)).name

  private def push(files: Vector[LakeDataFile]): Unit = {
    // monotone timestamps even when commits land within one millisecond
    val ts = math.max(System.currentTimeMillis(), current.timestampMs + 1)
    snaps = snaps :+ LakeSnapshot(current.version + 1, ts, files,
      current.schema, current.fieldIds)
  }

  def commit(newFiles: Seq[LakeDataFile], truncate: Boolean): Unit = synchronized {
    val base = if (truncate) Vector.empty else current.files
    push(base ++ newFiles)
  }

  /** copy-on-write commit: atomically swap a set of rewritten data files
    * for their replacements (the Iceberg/Delta rewrite-commit shape).
    * Files are immutable, so identity comparison is exact; files added by
    * concurrent appends between scan and commit survive untouched. */
  def replace(removed: Seq[LakeDataFile], added: Seq[LakeDataFile]): Unit = synchronized {
    val gone = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LakeDataFile, java.lang.Boolean]())
    removed.foreach(gone.add)
    push(current.files.filterNot(gone.contains) ++ added)
  }

  /** schema evolution: ADD / RENAME / DROP COLUMN, committed as a new
    * snapshot over the unchanged files. Field ids keep old files
    * readable (added columns null-pad; renames re-label in place). */
  def alter(changes: Seq[TableChange]): Unit = synchronized {
    var sch = current.schema
    var ids = current.fieldIds
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1, "nested columns not supported")
        require(add.position() == null, "column positioning not supported")
        sch = sch.add(add.fieldNames().head, add.dataType(), nullable = true)
        ids = ids :+ nextFieldId
        nextFieldId += 1
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1, "nested columns not supported")
        val ord = sch.fieldIndex(ren.fieldNames().head)
        sch = StructType(sch.fields.updated(ord,
          sch.fields(ord).copy(name = ren.newName())))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1, "nested columns not supported")
        val ord = sch.fieldIndex(del.fieldNames().head)
        require(!partSpecs.exists(_.fieldId == ids(ord)),
          s"cannot drop partition source column ${del.fieldNames().head}")
        sch = StructType(sch.fields.patch(ord, Nil, 1))
        ids = ids.patch(ord, Nil, 1)
      case other =>
        throw new UnsupportedOperationException(s"unsupported table change: $other")
    }
    val ts = math.max(System.currentTimeMillis(), current.timestampMs + 1)
    snaps = snaps :+ LakeSnapshot(current.version + 1, ts, current.files, sch, ids)
  }

  // ---- refs: branches and tags (Iceberg branch/tag + WAP analog) -----
  // A BRANCH forks the snapshot lineage: its vector starts as a copy of
  // main's at fork time and branch commits append there only — main
  // never sees them until fast-forward. A TAG pins a main version by
  // name. This is the write-audit-publish workflow: stage writes on a
  // branch, audit the branch head, publish by fast-forwarding main.
  private var branches: Map[String, Vector[LakeSnapshot]] = Map.empty
  private var branchFork: Map[String, Long] = Map.empty
  private var tags: Map[String, Long] = Map.empty

  def createBranch(name: String): Unit = synchronized {
    require(!branches.contains(name) && !tags.contains(name), s"ref exists: $name")
    branches += name -> snaps
    branchFork += name -> current.version
  }

  def createTag(name: String): Unit = synchronized {
    require(!branches.contains(name) && !tags.contains(name), s"ref exists: $name")
    tags += name -> current.version
  }

  def branchHead(name: String): Option[LakeSnapshot] = branches.get(name).map(_.last)

  /** resolve a ref NAME (branch → its head, tag → the pinned snapshot) */
  def refSnapshot(name: String): Option[LakeSnapshot] =
    branchHead(name).orElse(tags.get(name).flatMap(v => snaps.find(_.version == v)))

  def commitToBranch(name: String, newFiles: Seq[LakeDataFile], truncate: Boolean): Unit =
    synchronized {
      val lineage = branches.getOrElse(name,
        throw new IllegalArgumentException(s"no such branch: $name"))
      val head = lineage.last
      val base = if (truncate) Vector.empty else head.files
      val ts = math.max(System.currentTimeMillis(), head.timestampMs + 1)
      branches += name -> (lineage :+ LakeSnapshot(head.version + 1, ts,
        base ++ newFiles.toVector, head.schema, head.fieldIds))
    }

  /** WAP publish: main adopts the branch lineage. Legal only while main
    * still sits at the fork point — on divergence this fails exactly
    * like Iceberg's fast_forward (the caller must cherry-pick/rebase). */
  def fastForward(name: String): Long = synchronized {
    val lineage = branches.getOrElse(name,
      throw new IllegalArgumentException(s"no such branch: $name"))
    require(current.version == branchFork(name),
      s"main (v${current.version}) diverged from branch $name fork point " +
        s"(v${branchFork(name)}); fast-forward impossible")
    snaps = lineage
    branchFork += name -> current.version
    current.version
  }

  /** history-preserving rollback: commit a NEW snapshot carrying the old
    * version's file set (the Iceberg rollback_to_snapshot shape — the
    * log never rewrites, so the rolled-back state remains auditable). */
  def rollback(version: Long): Long = synchronized {
    val snap = byVersion(version).getOrElse(
      throw new IllegalArgumentException(s"no such version: $version"))
    push(snap.files)
    current.version
  }

  /** streaming epoch commit, idempotent per (query, epoch): a replayed
    * epoch after a driver restart must not double-append */
  private val committedEpochs = scala.collection.mutable.HashSet[String]()
  def commitEpoch(queryId: String, epochId: Long, newFiles: Seq[LakeDataFile]): Unit =
    synchronized {
      val key = s"$queryId:$epochId"
      if (!committedEpochs.contains(key)) {
        committedEpochs += key
        commit(newFiles, truncate = false)
      }
    }
}

class GraftLakeTable(state: LakeTableState, pinned: Option[LakeSnapshot],
    branch: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsDeleteV2 with SupportsMetadataColumns {

  override def name(): String = state.tableName

  /** `_partition` metadata column (the Iceberg `_partition` analog):
    * queryable in SELECT, and — critically — the group identity the
    * row-level rewrite carries, which routes Spark's ReplaceData write
    * through the metadata-projection path so the DataWriter receives
    * clean table-schema rows (op-code and metadata stripped). */
  override def metadataColumns(): Array[MetadataColumn] = Array(new MetadataColumn {
    override def name(): String = "_partition"
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = true
    override def comment(): String = "partition tuple of the data file holding the row"
  })
  override def schema(): StructType = pinned.map(_.schema).getOrElse(state.schema)
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    state.partSpecs.indices.map { i =>
      val colName = state.partColumnName(i)
      if (state.partSpecs(i).bucket == 0) Expressions.identity(colName)
      else Expressions.bucket(state.partSpecs(i).bucket, colName)
    }.toArray
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(state, pinned.getOrElse(state.current))

  /** DELETE/UPDATE/MERGE entry — the copy-on-write row-level surface
    * Iceberg/Delta implement (group granularity = data file). Spark's
    * RewriteDeleteFromTable/RewriteUpdateTable/RewriteMergeIntoTable
    * rules drive it; we only supply the group scan + replacement write. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new LakeRowLevelOperation(state, info.command())

  /** metadata-only DELETE fast path: legal exactly when every conjunct is
    * an identity-partition equality/IN — then each data file either fully
    * matches or fully misses, so deletion = dropping whole files with no
    * rewrite (the OptimizeMetadataOnlyDeleteFromTable contract). */
  override def canDeleteWhere(predicates: Array[V2Predicate]): Boolean =
    predicates.forall(p => LakeMetadataDelete.fileMatcher(state, p).isDefined)

  override def deleteWhere(predicates: Array[V2Predicate]): Unit = {
    val matchers = predicates.flatMap(p => LakeMetadataDelete.fileMatcher(state, p))
    require(matchers.length == predicates.length,
      "deleteWhere called with untranslatable predicates; canDeleteWhere must gate this")
    val doomed = state.current.files.filter(f => matchers.forall(m => m(f)))
    state.replace(doomed, Nil)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var truncateRequested = false
      override def truncate(): WriteBuilder = { truncateRequested = true; this }
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        /** hash-cluster incoming rows by the partition transforms (the
          * Iceberg write.distribution-mode=hash default): all rows of a
          * partition value land in ONE task, so a write produces one
          * data file per partition value instead of tasks×values small
          * files — the at-scale small-files defence. Non-strict, so
          * Spark plans it as a rebalance: a shuffle whose partitions AQE
          * may coalesce, skipped when the input is already clustered.
          * A driver-local input of at most 1 MiB (a small append) runs
          * as one task with no shuffle ([[graft.plans.SmallLocalRebalance]]),
          * which clusters it trivially. */
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution = {
          import org.apache.spark.sql.connector.distributions.Distributions
          import org.apache.spark.sql.connector.expressions.Expressions
          if (state.partSpecs.isEmpty) Distributions.unspecified()
          else Distributions.clustered(state.partSpecs.indices.map { i =>
            // cluster by the SOURCE column even for bucket transforms
            // (same source value → same bucket; stricter is still
            // correct, and a plain column reference converts without a
            // FunctionCatalog-registered bucket function)
            Expressions.identity(state.partColumnName(i))
              : org.apache.spark.sql.connector.expressions.Expression
          }.toArray)
        }
        override def distributionStrictlyRequired(): Boolean = false
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] = Array.empty
        override def toBatch: BatchWrite = new BatchWrite {
          private val doTruncate = truncateRequested
          override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
            new LakeWriterFactory(info.schema(), state.fieldIds,
              state.resolvePartFields(state.schema, state.fieldIds))
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val files = messages.flatMap { case LakeCommit(fs) => fs }.toSeq
            branch match {
              case Some(b) => state.commitToBranch(b, files, doTruncate)
              case None => state.commit(files, doTruncate)
            }
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }

        /** streaming ingest: every micro-batch epoch commits one
          * snapshot (idempotent on epoch replay) — the lakehouse
          * streaming-sink shape */
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
            private val queryId = info.queryId()
            override def createStreamingWriterFactory(pi: PhysicalWriteInfo)
                : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
              new LakeStreamingWriterFactory(info.schema(), state.fieldIds,
                state.resolvePartFields(state.schema, state.fieldIds))
            override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
              state.commitEpoch(queryId, epochId,
                messages.flatMap { case LakeCommit(files) => files }.toSeq)
            override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
          }
      }
    }
}

/** `rewrite`, when given, gets the files the scan keeps, and makes the
  * scan a [[LakeRewriteScan]]: the row-level operation's scan. */
class LakeScanBuilder(state: LakeTableState, snapshot: LakeSnapshot,
    rewrite: Option[Vector[LakeDataFile] => Unit] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = snapshot.schema

  /** (partition-spec index, allowed partition values) per usable filter */
  private var pruneSets: Seq[(Int, Set[Any])] = Nil

  /** per-file stat matchers from range/equality predicates: a file is
    * kept only if its (min, max) could contain a matching row — the
    * Iceberg/Delta manifest data-skipping contract. Always safe for the
    * row-level scan too: a skipped file provably holds no matching row,
    * so excluding it from a rewrite group is exact. */
  private var statMatchers: Seq[LakeDataFile => Boolean] = Nil

  private def statMatcher(colName: String,
      test: ((Any, Any)) => Option[Boolean]): Option[LakeDataFile => Boolean] = {
    val ordSnap =
      if (snapshot.schema.fieldNames.contains(colName))
        snapshot.schema.fieldIndex(colName)
      else return None
    val id = snapshot.fieldIds(ordSnap)
    Some { f =>
      val ord = f.fieldIds.indexOf(id)
      // column absent from this file → every value null → no match for
      // a non-null-comparing predicate → skip the whole file
      if (ord < 0) false
      else f.stats.lift(ord).flatten match {
        case Some(mm) => test(mm).getOrElse(true)
        case None => true // unsupported type or all-null: never skip
      }
    }
  }

  /** keep a file only if its column bloom admits ANY of the probed
    * values (EqualTo / In); no bloom recorded → never skip */
  private def bloomMatcher(colName: String,
      values: Seq[Any]): Option[LakeDataFile => Boolean] = {
    val ordSnap =
      if (snapshot.schema.fieldNames.contains(colName))
        snapshot.schema.fieldIndex(colName)
      else return None
    val id = snapshot.fieldIds(ordSnap)
    val probes = values.map(LakePartField.normalize)
    Some { f =>
      val ord = f.fieldIds.indexOf(id)
      if (ord < 0) false // column absent → all null → equality can't match
      else f.blooms.lift(ord).flatten match {
        case Some(bits) => probes.exists(v => LakeBloom.mightContain(bits, v))
        case None => true
      }
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // partition columns addressed by their name IN THIS SNAPSHOT's schema
    // (field-id indirection keeps pruning correct across renames)
    val fieldByName = state.partSpecs.zipWithIndex.flatMap { case (ps, i) =>
      val ord = snapshot.fieldIds.indexOf(ps.fieldId)
      if (ord < 0) None else Some(snapshot.schema(ord).name -> ((ps, i)))
    }.toMap
    val acc = mutable.ArrayBuffer[Filter]()
    val residual = mutable.ArrayBuffer[Filter]()
    val prunes = mutable.ArrayBuffer[(Int, Set[Any])]()
    filters.foreach {
      case f @ EqualTo(col, value) if fieldByName.contains(col) =>
        val (ps, i) = fieldByName(col)
        val v = LakePartField.normalize(value)
        if (ps.bucket == 0) { prunes += ((i, Set(v))); acc += f }
        else {
          // bucket pruning keeps only the value's bucket; the equality
          // itself must still run on the rows → residual
          prunes += ((i, Set(LakePartField.bucketOf(v, ps.bucket)))); residual += f
        }
      case f @ In(col, values) if fieldByName.contains(col) &&
          fieldByName(col)._1.bucket == 0 =>
        val (_, i) = fieldByName(col)
        prunes += ((i, values.map(LakePartField.normalize).toSet)); acc += f
      case other => residual += other
    }
    // second pass: min/max data-skipping matchers (predicates stay where
    // the pass above put them — skipping only prunes whole files)
    import org.apache.spark.sql.sources.{GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
    def n(v: Any): Any = LakePartField.normalize(v)
    statMatchers = filters.toSeq.flatMap {
      case EqualTo(c, v) if v != null =>
        statMatcher(c, { case (mn, mx) =>
          for { a <- LakeStats.compare(mn, n(v)); b <- LakeStats.compare(mx, n(v)) }
            yield a <= 0 && b >= 0 }).toSeq ++ bloomMatcher(c, Seq(v))
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
        // files whose blooms reject every listed value cannot match
        bloomMatcher(c, vs.toSeq)
      case GreaterThan(c, v) if v != null =>
        statMatcher(c, { case (_, mx) => LakeStats.compare(mx, n(v)).map(_ > 0) })
      case GreaterThanOrEqual(c, v) if v != null =>
        statMatcher(c, { case (_, mx) => LakeStats.compare(mx, n(v)).map(_ >= 0) })
      case LessThan(c, v) if v != null =>
        statMatcher(c, { case (mn, _) => LakeStats.compare(mn, n(v)).map(_ < 0) })
      case LessThanOrEqual(c, v) if v != null =>
        statMatcher(c, { case (mn, _) => LakeStats.compare(mn, n(v)).map(_ <= 0) })
      case _ => None
    }
    accepted = acc.toArray
    pruneSets = prunes.toSeq
    residual.toArray
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = {
    val kept = snapshot.files.filter { f =>
      pruneSets.forall { case (i, allowed) => allowed.contains(f.partition(i)) } &&
        statMatchers.forall(m => m(f))
    }
    rewrite match {
      case Some(onBuild) => onBuild(kept); new LakeRewriteScan(state, snapshot, kept, required)
      case None => new LakeScan(state, snapshot, kept, required)
    }
  }
}

class LakeScan(state: LakeTableState, snapshot: LakeSnapshot,
    files: Vector[LakeDataFile], required: StructType)
    extends Scan with Batch with SupportsReportPartitioning {
  override def readSchema(): StructType = required

  /** Report the manifest's partition layout as KeyGroupedPartitioning
    * (r12 verdict item 3 — the Iceberg storage-partitioned-join
    * feature): every data file carries its partition tuple, each input
    * partition exposes it via [[HasPartitionKey]], and Spark groups
    * same-key partitions into one task, so a join/aggregate whose keys
    * cover the partition transforms needs NO Exchange on this side.
    * numPartitions = distinct partition tuples IN THIS SCAN (post
    * file-pruning — the contract is over the partitions actually
    * planned). Unpartitioned or empty scans report unknown: zero-key
    * grouping is meaningless and Spark treats empty KeyGrouped
    * partitionings inconsistently. */
  override def outputPartitioning(): Partitioning =
    if (state.partSpecs.isEmpty || files.isEmpty)
      new UnknownPartitioning(planned._1.length)
    else {
      import org.apache.spark.sql.connector.expressions.Expressions
      val keys = state.partSpecs.indices.map { i =>
        // resolve names against the SNAPSHOT schema: a time-travel or
        // branch scan must report the column names its own output uses
        val name = snapshot.schema(
          snapshot.fieldIds.indexOf(state.partSpecs(i).fieldId)).name
        if (state.partSpecs(i).bucket == 0)
          Expressions.identity(name): org.apache.spark.sql.connector.expressions.Expression
        else
          Expressions.bucket(state.partSpecs(i).bucket, name)
            : org.apache.spark.sql.connector.expressions.Expression
      }.toArray
      new KeyGroupedPartitioning(keys, files.map(_.partition).distinct.length)
    }
  override def description(): String =
    s"graft-lake ${state.tableName} snapshot=v${snapshot.version} " +
      s"files=${files.length}/${snapshot.files.length} " +
      s"ReadSchema: ${required.simpleString}"
  override def toBatch: Batch = this

  /** Per-file read plan, resolved by FIELD ID (schema evolution):
    * each required column maps to a position in the file's PRUNED
    * parquet read schema (only the needed columns are requested from
    * the file — pushdown reaches the parquet footer); -1 = `_partition`
    * metadata constant; -2 = column added after this file was written
    * (reads as typed null). One serializable parquet reader function per
    * distinct (file layout, pruned subset) pair, kept across scans by
    * [[LakeFileStore.readerFunc]], is shipped once in the reader factory;
    * partitions carry only the path and the binding table. */
  private lazy val planned: (Array[InputPartition], Array[PartitionedFile => Iterator[InternalRow]]) = {
    val funcs = mutable.ArrayBuffer[PartitionedFile => Iterator[InternalRow]]()
    val funcIdx = mutable.HashMap[(String, String), Int]()
    val parts = files.map { f =>
      val fileSchema = LakeFileStore.syntheticSchema(f.fieldIds, f.types)
      // required column → ordinal in the file's write-time layout
      val fileOrds = required.fields.map { rf =>
        if (rf.name == "_partition") -1
        else {
          val id = snapshot.fieldIds(snapshot.schema.fieldIndex(rf.name))
          f.fieldIds.indexOf(id) match { case -1 => -2; case ord => ord }
        }
      }
      // the pruned subset this scan actually reads from the file
      val neededOrds = fileOrds.filter(_ >= 0).distinct.sorted
      val prunedSchema = StructType(neededOrds.map(fileSchema(_)))
      val bindings = fileOrds.map { ord =>
        if (ord >= 0) neededOrds.indexOf(ord) else ord
      }
      val prunedTypes: Array[DataType] = neededOrds.map(o => f.types(o))
      val key = (fileSchema.catalogString, prunedSchema.catalogString)
      val readerId = funcIdx.getOrElseUpdate(key, {
        funcs += LakeFileStore.readerFunc(fileSchema, prunedSchema)
        funcs.length - 1
      })
      LakeFilePartition(f.path, readerId, bindings, prunedTypes,
        f.partition.mkString("/"),
        f.partition.map(LakePartField.denormalize).toArray): InputPartition
    }.toArray
    (parts, funcs.toArray)
  }

  override def planInputPartitions(): Array[InputPartition] = planned._1

  override def createReaderFactory(): PartitionReaderFactory = {
    val requiredTypes = required.fields.map(_.dataType)
    val readerFuncs = planned._2
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val fp = p.asInstanceOf[LakeFilePartition]
        // bind the output projection over the PRUNED parquet row:
        // `_partition` binds to the file's constant label and post-file
        // columns bind to typed nulls
        val proj = UnsafeProjection.create(fp.bindings.toIndexedSeq.zipWithIndex.map {
          case (pos, ri) =>
            if (pos >= 0) BoundReference(pos, fp.prunedTypes(pos), nullable = true)
            else if (pos == -1) CatalystLiteral(UTF8String.fromString(fp.partLabel), StringType)
            else CatalystLiteral(null, requiredTypes(ri))
        })
        val it = readerFuncs(fp.readerId)(LakeFileStore.partitionedFile(fp.path))
        new PartitionReader[InternalRow] {
          private var cur: InternalRow = _
          override def next(): Boolean = {
            val h = it.hasNext; if (h) cur = proj(it.next()); h
          }
          override def get(): InternalRow = cur
          // Vectorized reads hand back the RecordReaderIterator itself
          // (Closeable). The non-vectorized fallback wraps it in a .map
          // that hides the Closeable — but inside a task, Spark's own
          // SPARK-23457 completion listener (registered by
          // buildReaderWithPartitionValues) closes the file at task end,
          // so draining here would read and project the REST of the file
          // just to cancel a LIMIT. Only a driver-side read (no
          // TaskContext, e.g. compaction/CDF maintenance) drains to
          // force RecordReaderIterator's hasNext=false close.
          override def close(): Unit = it match {
            case c: java.io.Closeable => c.close()
            case _ =>
              if (org.apache.spark.TaskContext.get() == null)
                while (it.hasNext) { it.next(): Unit }
          }
        }
      }
    }
  }
}

/** The copy-on-write rewrite's scan: a [[LakeScan]] that reports its
  * size, the bytes of its live data files and the manifest's row count,
  * so that a MERGE into a small table can join in one partition
  * ([[graft.plans.SmallFullOuterJoin]]). Plain reads report no
  * statistics, which keeps their join and broadcast choices (the
  * storage-partitioned joins) where they are. */
class LakeRewriteScan(state: LakeTableState, snapshot: LakeSnapshot,
    files: Vector[LakeDataFile], required: StructType)
    extends LakeScan(state, snapshot, files, required) with SupportsReportStatistics {
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(files.iterator.map(f => new java.io.File(f.path).length()).sum)
    override def numRows(): OptionalLong = OptionalLong.of(files.iterator.map(_.rowCount).sum)
  }
}

/** manifest-entry partition: parquet path + output binding table
  * (readerId indexes the factory's shared reader functions).
  * `partKeyValues` is the file's partition tuple as CATALYST values —
  * the [[HasPartitionKey]] face Spark's storage-partitioned-join
  * grouping keys on (same tuple → same task, both join sides). */
case class LakeFilePartition(path: String, readerId: Int, bindings: Array[Int],
    prunedTypes: Array[DataType], partLabel: String,
    partKeyValues: Array[Any] = Array.empty)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(partKeyValues)
}

/** driver-local fixed row set (metadata tables, procedure outputs) */
case class LakeRowsPartition(rows: Array[InternalRow]) extends InputPartition

case class LakeCommit(files: Array[LakeDataFile]) extends WriterCommitMessage

/** streaming variant of the writer factory: same task-side buffering,
  * keyed additionally by epoch through the streaming SPI */
class LakeStreamingWriterFactory(schema: StructType, fieldIds: IndexedSeq[Int],
    partFields: IndexedSeq[LakePartField])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  private val batch = new LakeWriterFactory(schema, fieldIds, partFields)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] = batch.createWriter(partitionId, taskId)
}

/** read-only metadata tables (`t$history`, `t$files`) — the lakehouse
  * observability surface (Iceberg's metadata-table family) */
object LakeMetaTable {
  import org.apache.spark.sql.types.{IntegerType, LongType}

  def history(st: LakeTableState): Table = {
    val schema = new StructType()
      .add("version", LongType).add("timestamp_ms", LongType)
      .add("row_count", LongType).add("file_count", IntegerType)
      .add("schema_ddl", StringType)
    make(s"${st.tableName}$$history", schema, st.history.map(s => Array[Any](
      s.version, s.timestampMs, s.rowCount, s.files.length,
      UTF8String.fromString(s.schema.toDDL))))
  }

  def files(st: LakeTableState): Table = {
    val schema = new StructType()
      .add("partition", StringType).add("row_count", LongType)
      .add("columns", IntegerType)
    make(s"${st.tableName}$$files", schema, st.current.files.map(f => Array[Any](
      UTF8String.fromString(f.partition.mkString("/")),
      f.rowCount, f.fieldIds.length)))
  }

  /** fixed row set → Scan (shared by metadata tables + procedures) */
  def scanOf(tableSchema: StructType, data: Seq[Array[Any]]): Scan with Batch = {
    val proj = UnsafeProjection.create(tableSchema)
    val rows: Array[InternalRow] = data.map(vals =>
      proj(InternalRow.fromSeq(vals.toIndexedSeq)).copy(): InternalRow).toArray
    new Scan with Batch {
      override def readSchema(): StructType = tableSchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(LakeRowsPartition(rows))
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
            val it = p.asInstanceOf[LakeRowsPartition].rows.iterator
            new PartitionReader[InternalRow] {
              private var cur: InternalRow = _
              override def next(): Boolean = {
                val h = it.hasNext; if (h) cur = it.next(); h
              }
              override def get(): InternalRow = cur
              override def close(): Unit = ()
            }
          }
        }
    }
  }

  private def make(tableName: String, tableSchema: StructType,
      data: Seq[Array[Any]]): Table =
    new Table with SupportsRead {
      override def name(): String = tableName
      override def schema(): StructType = tableSchema
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        () => scanOf(tableSchema, data)
    }
}

/** Copy-on-write row-level operation (group granularity = data file).
  *
  * Contract (the one Iceberg's SparkCopyOnWriteOperation follows):
  *  - the scan returned by [[newScanBuilder]] may use pushed filters ONLY
  *    to prune whole groups (files) — never to drop individual rows; the
  *    rewritten condition is re-evaluated row-by-row inside Spark's
  *    ReplaceData plan, so identity-partition prunes are the sole
  *    file-complete filters applied (bucket prunes keep the whole bucket);
  *  - the write receives every surviving row of the scanned groups and
  *    the commit atomically swaps exactly those groups for the new files
  *    ([[LakeTableState.replace]]); files outside the scan are untouched,
  *    so concurrent appends to other partitions are never clobbered.
  *
  * The scan and write share this instance, which is how the committed
  * "remove set" is always the set the rewrite actually read. */
class LakeRowLevelOperation(state: LakeTableState,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  @volatile private var scannedFiles: Vector[LakeDataFile] = Vector.empty

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(state, state.current, Some(kept => scannedFiles = kept))

  /** carrying `_partition` through the rewrite keeps write routing
    * partition-stable AND makes Spark plan the metadata-projection write
    * (DataWriter.write(metadata, row)) — the same contract Iceberg's
    * copy-on-write operation uses */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_partition"))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
            new LakeWriterFactory(info.schema(), state.fieldIds,
              state.resolvePartFields(state.schema, state.fieldIds))
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            state.replace(scannedFiles,
              messages.flatMap { case LakeCommit(files) => files }.toSeq)
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }

  override def description(): String = s"graft-lake copy-on-write $cmd"
}

/** V2 Predicate → file-complete matcher for the metadata DELETE path. */
object LakeMetadataDelete {
  /** Some(matcher) iff `p` is decidable per-file with NO row inspection:
    * ALWAYS_TRUE, or =/IN on an identity partition column. */
  def fileMatcher(state: LakeTableState,
      p: V2Predicate): Option[LakeDataFile => Boolean] = {
    val identIdx: Map[String, Int] = state.partSpecs.zipWithIndex.collect {
      case (ps, i) if ps.bucket == 0 => state.partColumnName(i) -> i
    }.toMap
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[Int] =
      e match {
        case r: NamedReference if r.fieldNames().length == 1 =>
          identIdx.get(r.fieldNames().head)
        case _ => None
      }
    def litOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[Any] =
      e match {
        case l: V2Literal[_] => Some(LakePartField.normalize(l.value()))
        case _ => None
      }
    p.name() match {
      case "ALWAYS_TRUE" => Some(_ => true)
      case "=" => p.children() match {
        case Array(a, b) =>
          (for { i <- colOf(a); v <- litOf(b) } yield (i, Set(v)))
            .orElse(for { i <- colOf(b); v <- litOf(a) } yield (i, Set(v)))
            .map { case (i, vs) => (f: LakeDataFile) => vs.contains(f.partition(i)) }
        case _ => None
      }
      case "IN" => p.children().toSeq match {
        case c +: rest if rest.nonEmpty =>
          for { i <- colOf(c); vs <- traverse(rest.map(litOf)) }
            yield (f: LakeDataFile) => vs.toSet.contains(f.partition(i))
        case _ => None
      }
      case _ => None
    }
  }

  private def traverse[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None
}

/** Task-side writer: routes each row to its partition-addressed
  * parquet output; one data file per (task, partition value) — the
  * manifest-entry shape. Constructed ON THE DRIVER (captures the
  * [[LakeFileStore.WriterBundle]] there), executed task-side: each
  * buffered partition streams to its own parquet file at commit and the
  * commit message carries only manifest entries, never row payloads —
  * the executors-write-files / driver-commits-manifest split of a real
  * lakehouse write. */
class LakeWriterFactory(schema: StructType, fieldIds: IndexedSeq[Int],
    partFields: IndexedSeq[LakePartField]) extends DataWriterFactory {
  private val bundle = LakeFileStore.writerBundle(fieldIds, schema.fields.map(_.dataType).toIndexedSeq)
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val proj = UnsafeProjection.create(schema)
      private val types: IndexedSeq[DataType] = schema.fields.map(_.dataType).toIndexedSeq
      private val open = mutable.LinkedHashMap[IndexedSeq[Any], LakeOpenFile]()
      private lazy val context = LakeFileStore.taskContext(bundle) // one per task
      override def write(record: InternalRow): Unit = {
        val key: IndexedSeq[Any] = partFields.map(_.eval(record))
        open.getOrElseUpdate(key,
          new LakeOpenFile(bundle, context, key, fieldIds, types)).add(proj(record))
      }
      /** metadata-projection write path (row-level rewrites): the data
        * row is already table-schema shaped; re-route by its own
        * partition values and drop the metadata row */
      override def write(metadata: InternalRow, record: InternalRow): Unit =
        write(record)
      override def commit(): WriterCommitMessage =
        LakeCommit(open.values.map(_.finish()).toArray)
      override def abort(): Unit = { open.values.foreach(_.abortQuietly()); open.clear() }
      override def close(): Unit = ()
    }
}
