package graft.sources

import java.io.File
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext, TaskAttemptID, TaskID, TaskType, JobID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.SparkContext
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Data-file storage for [[GraftLakeCatalog]]: every committed data file
  * is a REAL parquet file on local disk (the sandbox's stand-in for
  * object storage), written and read through Spark's own parquet
  * machinery (`ParquetFileFormat.prepareWrite` task-side writers /
  * `buildReaderWithPartitionValues` streaming readers — the exact code
  * paths a production FileFormat write/scan uses). Only the MANIFEST
  * (paths, partition tuples, field ids, min/max stats, blooms) lives in
  * the catalog, matching the Iceberg/Delta split the reference
  * connectors target (`gluten-iceberg/.../IcebergScanTransformer.scala:44`):
  * metadata in the catalog/manifest, data in files.
  *
  * Column naming: files are written with SYNTHETIC field-id names
  * (`f<id>`), so storage never sees user column names — renames are
  * metadata-only and old files stay readable after any rename, exactly
  * the Iceberg field-id resolution model.
  *
  * Scale shape: writers run task-side and stream rows straight to their
  * own parquet file (no driver involvement until the manifest-entry
  * commit message); readers are the standard per-file streaming parquet
  * iterators with column pruning. Files are immutable; rewrites commit
  * new files and old snapshots stay time-travel readable, so physical
  * deletion happens only at JVM exit.
  *
  * Writes start no process. Hadoop's `RawLocalFileSystem` sets a file's
  * mode by forking `chmod` when the JVM has no native libhadoop, once
  * for each data file and once for its `.crc`. Writers therefore open
  * their files through [[LakeLocalFileSystem]]: the same checksummed
  * local filesystem (so every data file keeps its `.crc`, and reads,
  * which go through the session's own `file:` filesystem, verify it),
  * whose raw layer sets the same mode through `java.nio` instead. What a
  * file still costs: one parquet writer (ParquetOutputFormat scans the
  * whole conf for column settings), one filesystem instance (kept out of
  * Hadoop's per-scheme cache, so no other `file:` user gets it), and two
  * files on disk.
  *
  * What a scan costs: planning looks up one reader function per file
  * layout it reads ([[readerFunc]]). The function and the Hadoop conf it
  * broadcasts are built once per context, session conf and layout and
  * then reused, so a repeated scan broadcasts nothing. Each file read
  * still pays its own parquet footer and an output projection generated
  * for that file (`LakeScan`'s reader factory).
  */
object LakeFileStore {

  /** One warehouse directory per JVM (shared "object store" for all
    * catalog instances). The delete-on-exit hook is registered ONLY for
    * the auto-generated tmpdir default: a user-supplied
    * `-Dgraft.lake.warehouse` path may be a pre-existing directory with
    * unrelated contents, and recursively deleting it at JVM exit would
    * silently destroy it — user-named warehouses are left on disk. */
  lazy val warehouseDir: File = {
    val userPath = sys.props.get("graft.lake.warehouse")
    val d = new File(userPath.getOrElse(
      new File(System.getProperty("java.io.tmpdir"), s"graft-lake-${UUID.randomUUID()}").getPath))
    d.mkdirs()
    if (userPath.isEmpty)
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(d)))
    d
  }

  private def deleteRecursively(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** storage schema of a file: synthetic names keyed by field id */
  def syntheticSchema(fieldIds: Seq[Int], types: Seq[DataType]): StructType =
    StructType(fieldIds.lazyZip(types).map((id, dt) =>
      StructField(s"f$id", dt, nullable = true)).toArray)

  /** Everything a task needs to write parquet files, captured ON THE
    * DRIVER (where the SparkSession lives) and shipped inside the
    * DataWriterFactory. The OutputWriterFactory and hadoop conf are the
    * same pair Spark's FileFormatWriter serializes to its write tasks. */
  final case class WriterBundle(
      factory: OutputWriterFactory,
      conf: SerializableConfiguration,
      dir: String,
      schemaJson: String) extends Serializable {
    @transient lazy val schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  def writerBundle(fieldIds: Seq[Int], types: Seq[DataType]): WriterBundle = {
    val spark = SparkSession.active
    val schema = syntheticSchema(fieldIds, types)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // The old in-memory lake stored pre-1582 dates/timestamps verbatim;
    // ParquetFileFormat would inherit rebaseModeInWrite=EXCEPTION and
    // throw SparkUpgradeException on them. CORRECTED preserves the old
    // store-what-you-were-given behavior (proleptic Gregorian on disk).
    job.getConfiguration.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    job.getConfiguration.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    // Hadoop caches one filesystem per scheme for the whole JVM: an
    // uncached instance keeps the no-fork filesystem to these writers
    job.getConfiguration.set("fs.file.impl", classOf[LakeLocalFileSystem].getName)
    job.getConfiguration.setBoolean("fs.file.impl.disable.cache", true)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    WriterBundle(factory, new SerializableConfiguration(job.getConfiguration),
      warehouseDir.getAbsolutePath, schema.json)
  }

  /** The context every file of one writing task opens with. Build it
    * once per task: each one copies the whole conf into a `JobConf`. */
  def taskContext(bundle: WriterBundle): TaskAttemptContext =
    new TaskAttemptContextImpl(bundle.conf.value,
      new TaskAttemptID(new TaskID(new JobID("graft-lake", 0), TaskType.MAP, 0), 0))

  /** open a fresh parquet file for incremental writing (path reserved
    * up front for the manifest entry) */
  def openWriter(bundle: WriterBundle, context: TaskAttemptContext)
      : (String, org.apache.spark.sql.execution.datasources.OutputWriter) = {
    val path = new File(bundle.dir, s"${UUID.randomUUID()}.parquet").getAbsolutePath
    (path, bundle.factory.newInstance(path, bundle.schema, context))
  }

  /** Driver-side: a SERIALIZABLE per-file read function (column-pruned
    * to `requiredSchema`, a subset of `fileSchema`'s synthetic columns).
    * `OPTION_RETURNING_BATCH -> false` forces plain row iterators — the
    * DSv2 PartitionReader contract here is row-at-a-time.
    *
    * Building one broadcasts the whole Hadoop conf (about 1100 entries,
    * several ms), so a built function is kept per (live `SparkContext`,
    * Hadoop-conf contents, file schema, pruned schema) and later scans
    * reuse it and its broadcast. The conf contents stand for the session:
    * `newHadoopConf` copies every SQL conf the session has set, and the
    * parquet reader reads nothing else, so equal contents build an
    * identical function. The memo keeps the [[MaxReaders]] most recently
    * used entries and drops those of a stopped context, whose broadcast
    * is gone. */
  def readerFunc(fileSchema: StructType, requiredSchema: StructType)
      : PartitionedFile => Iterator[InternalRow] = {
    val spark = SparkSession.active
    val hadoopConf = spark.sessionState.newHadoopConf()
    val key = ReaderKey(spark.sparkContext,
      hadoopConf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap, fileSchema, requiredSchema)
    readers.synchronized {
      readers.keySet.removeIf(_.sc.isStopped)
      readers.computeIfAbsent(key, _ => new ParquetFileFormat().buildReaderWithPartitionValues(
        spark,
        dataSchema = fileSchema,
        partitionSchema = new StructType(),
        requiredSchema = requiredSchema,
        filters = Nil,
        options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = hadoopConf))
    }
  }

  /** entries the reader memo keeps: a table layout read from two sessions
    * needs about four */
  private val MaxReaders = 8

  private final case class ReaderKey(sc: SparkContext, conf: Map[String, String],
      fileSchema: StructType, requiredSchema: StructType)

  /** the reader memo, least recently used first */
  private val readers =
    new java.util.LinkedHashMap[ReaderKey, PartitionedFile => Iterator[InternalRow]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[ReaderKey, PartitionedFile => Iterator[InternalRow]]): Boolean =
        size > MaxReaders
    }

  def partitionedFile(path: String): PartitionedFile = {
    val f = new File(path)
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, f.length(), Array.empty, 0L, f.length(), Map.empty)
  }

  /** driver-side full read of one data file in its write-time layout
    * (compaction / CDF maintenance paths) */
  def readAll(path: String, fieldIds: Seq[Int], types: Seq[DataType]): Iterator[InternalRow] = {
    val schema = syntheticSchema(fieldIds, types)
    readerFunc(schema, schema)(partitionedFile(path))
  }
}

/** Hadoop's checksummed local filesystem over [[LakeRawLocalFileSystem]]:
  * the filesystem lake writers open their files with. */
final class LakeLocalFileSystem extends LocalFileSystem(new LakeRawLocalFileSystem)

/** `RawLocalFileSystem` that sets a file's mode through
  * `Files.setPosixFilePermissions` rather than a forked `chmod`. The mode
  * is the one Hadoop asks for; only a sticky bit, which `java.nio`
  * cannot set, still takes Hadoop's own path. */
final class LakeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission's order, OWNER_READ first, is the mode's bit
      // order from 0400 down to 0001
      val mode = permission.toShort.toInt
      val perms = PosixFilePermission.values.filter(b => (mode >> (8 - b.ordinal) & 1) == 1)
      Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(perms: _*))
    }
}

/** One data file mid-write: rows stream straight into the parquet
  * writer (NEVER buffered — a task's memory footprint is the open
  * writers' page buffers, not its input), while per-column (min, max)
  * stats and equality blooms accumulate incrementally. `finish()`
  * closes the file and returns its manifest entry. Streaming blooms are
  * fixed at the [[LakeBloom]] size cap (8 KB/column) because the row
  * count is unknown until the end. */
final class LakeOpenFile(bundle: LakeFileStore.WriterBundle, context: TaskAttemptContext,
    partition: IndexedSeq[Any], fieldIds: IndexedSeq[Int],
    types: IndexedSeq[DataType]) {
  private val (path, writer) = LakeFileStore.openWriter(bundle, context)
  private var count = 0L
  private val n = types.length
  private val statable: Array[Boolean] = types.map(LakeStats.supported).toArray
  private val mns = new Array[Any](n)
  private val mxs = new Array[Any](n)
  private val blooms: Array[Array[Long]] =
    statable.map(s => if (s) LakeBloom.streamBits() else null)
  private val seen = new Array[Boolean](n)

  def add(row: InternalRow): Unit = {
    writer.write(row)
    count += 1
    var i = 0
    while (i < n) {
      if (statable(i) && !row.isNullAt(i)) {
        // normalize() yields owned values (UTF8String -> String), safe to
        // retain past the projection buffer's reuse
        val v = LakePartField.normalize(row.get(i, types(i)))
        if (mns(i) == null || LakeStats.compare(v, mns(i)).exists(_ < 0)) mns(i) = v
        if (mxs(i) == null || LakeStats.compare(v, mxs(i)).exists(_ > 0)) mxs(i) = v
        LakeBloom.set(blooms(i), v)
        seen(i) = true
      }
      i += 1
    }
  }

  def finish(): LakeDataFile = {
    writer.close()
    LakeDataFile(partition, path, count, fieldIds, types,
      types.indices.map(i => if (seen(i)) Some((mns(i), mxs(i))) else None),
      types.indices.map(i => if (seen(i)) Some(blooms(i)) else None))
  }

  def abortQuietly(): Unit =
    try { writer.close(); new File(path).delete(): Unit } catch { case _: Exception => () }
}
