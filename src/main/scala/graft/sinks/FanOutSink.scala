package graft.sinks

import java.io.IOException
import java.nio.file.FileAlreadyExistsException
import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  UnsafeProjection}
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.connector.catalog.{Column, SupportsWrite, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write,
  WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormat,
  OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DateType, LongType, StringType,
  StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.schema.FieldCatalog
import graft.streaming.ContinuousAggregate
import graft.transform.Transforms

/** The 9-way fan-out sink (SURVEY §2.9 K1-K3 + §2.7 T3/T6/T7): one
  * conformed reading stream → nine vertical-partition tables, written
  * inside a single `foreachBatch` so the source micro-batch is scanned
  * once, deduped once on the composite PK, and fanned out as pure
  * projections.
  *
  * Storage layout = the TimescaleDB policies re-expressed for files:
  *  - hypertable time-partitioning (T7) → `partitionBy(date)` so time-range
  *    queries prune partitions at the scan
  *  - compression segment/order (T6: `segmentby sensor_index, orderby
  *    data_time_stamp`) → hash partitioning on `sensor_index`, time-sorted
  *    within each partition, columnar parquet+zstd — co-locating a
  *    sensor's history gives the same locality the reference's compressed
  *    chunks give
  *  - PK dedup (T3) → deterministic first-write-wins before the fan-out
  *    (ordered by the source cursor / payload hash, not by partition
  *    layout — see [[Transforms.stableDedupOrder]])
  *
  * '''Replay idempotency.''' `foreachBatch` is at-least-once: a crashed
  * micro-batch is re-executed with the SAME `batchId`. The streaming path
  * therefore lands every micro-batch in its own `batch=<id>` directory
  * written with `SaveMode.Overwrite` — a replay rewrites that directory
  * instead of appending a second copy, so the sink converges to
  * exactly-once output without a transactional table format. The batch
  * dirs are ordinary partition directories (readers see a `batch` column,
  * dropped by [[readTable]]); the compaction side of the reference's
  * compression policy (T6) is what folds them together at scale.
  *
  * '''Per-batch cost.''' Each micro-batch writes 9× small column groups
  * instead of one wide table — the reference's write amplification, paid
  * as a fixed cost per table rather than per row. [[writeBatch]] keeps
  * that fixed cost to one job:
  *  - one exchange: `repartition(sensor_index)` runs before the dedup
  *    window, whose (ts, sensor) key it already clusters, so the window
  *    and the layout share that single shuffle;
  *  - one write job: after the exchange each task reads its sorted
  *    partition once and writes all nine projections side by side, one
  *    file per (table, date), through each table's own `FileFormat`
  *    writer ([[FanOutSource]]) — no cache, no per-table query plan, no
  *    per-table job;
  *  - staged commit: tasks write under the hidden
  *    `<baseDir>/.fanout-staging/<batch>/<table>/`, and the job's
  *    commit renames each staged table to `<table>/batch=<id>/` (or
  *    merges it into `<table>/` without a batch id), so readers never see
  *    a half-written run; a failed job deletes its staging directory;
  *  - fork-free local files: sessions built through
  *    [[graft.EngineDefaults]] resolve `file:` to
  *    [[ForkFreeLocalFileSystem]], which sets permissions and answers
  *    link lookups in-process instead of forking `chmod` and `readlink`
  *    for every file, directory and checkpoint rename.
  */
object FanOutSink {

  /** Batch-side fan-out: write all 9 projections of `conformed` under
    * `baseDir/<table>/` with the partitioned+sorted layout. When
    * `batchId` is set the write goes to `<table>/batch=<id>/` with
    * Overwrite semantics (the streaming replay-safe path); otherwise
    * `mode` applies to each table directory as a `DataFrameWriter` save
    * would apply it. `format` is a file format (`parquet`, `csv`). */
  def writeBatch(conformed: DataFrame, baseDir: String,
      format: String = "parquet", mode: SaveMode = SaveMode.Append,
      batchId: Option[Long] = None): Unit =
    // Hashing on the sensor already clusters the (ts, sensor) dedup key,
    // so the dedup window reuses this exchange instead of adding one.
    Transforms
      .dedupByKey(conformed.repartition(col(FieldCatalog.keySensor)),
        Transforms.stableDedupOrder(conformed))
      .withColumn("date", to_date(col(FieldCatalog.keyTimestamp)))
      .sortWithinPartitions(col(FieldCatalog.keyTimestamp))
      .write.format(classOf[FanOutSource].getName)
      .option(FanOutSource.BaseDir, baseDir)
      .option(FanOutSource.Format, format)
      .option(FanOutSource.Mode,
        batchId.fold(mode)(_ => SaveMode.Overwrite).name)
      .options(batchId.map(FanOutSource.Batch -> _.toString).toMap)
      // Spark sees an append; the sink applies `mode` per table itself.
      .mode(SaveMode.Append)
      .save()

  /** Streaming fan-out: `foreachBatch` at the reference's 65 s cadence
    * (T1). File formats take the replay-safe `batch=<id>`/Overwrite path;
    * a `jdbc:` URL routes to [[writeBatchJdbc]] guarded by PER-TABLE
    * committed markers under the checkpoint dir (skip on replay —
    * appends are not rewindable; per-table markers mean a crash mid-loop
    * replays only the tables whose marker is missing, closing the
    * duplicate window to a crash between ONE table's commit and its
    * marker write, not the whole 9-table batch).
    *
    * With `hourlyAggregateDir`, each batch then writes its run of the
    * hourly rollup ([[ContinuousAggregate.writeRun]]) from what it landed
    * (files: two tables read back; JDBC: the deduped frame), never
    * reading the micro-batch frame twice: each read fetches the poll
    * again. `afterRollup(dir)` follows each write. */
  def stream(conformed: DataFrame, baseDir: String, checkpointDir: String,
      format: String = "parquet",
      trigger: Trigger = Trigger.ProcessingTime("65 seconds"),
      jdbcProperties: java.util.Properties = new java.util.Properties(),
      compactEveryBatches: Int = 0,
      epochTextCompat: Boolean = false,
      hourlyAggregateDir: Option[String] = None,
      afterRollup: String => Unit = _ => ()): StreamingQuery = {
    require(!epochTextCompat || hourlyAggregateDir.isEmpty,
      "the hourly rollup reads typed timestamps; epochTextCompat writes text")
    conformed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        def rollup(landed: => DataFrame): Unit = hourlyAggregateDir.foreach { dir =>
          ContinuousAggregate.writeRun(landed, dir, batchId)
          afterRollup(dir)
        }
        if (format.startsWith("jdbc:")) {
          val markerDir = new org.apache.hadoop.fs.Path(
            s"$checkpointDir/_graft_jdbc_committed/$batchId")
          val fs = markerDir.getFileSystem(
            batch.sparkSession.sparkContext.hadoopConfiguration)
          // Legacy layout migration: earlier versions wrote ONE marker
          // FILE per batch at this path. A file here means the whole
          // batch committed — skip it entirely (re-appending would be
          // the exact duplicate window the marker closes, and
          // mkdirs-over-a-file would fail the micro-batch).
          val legacyCommitted =
            fs.exists(markerDir) && fs.getFileStatus(markerDir).isFile
          if (!legacyCommitted)
            writeBatchJdbc(batch, format, jdbcProperties,
              markers = Some((fs, markerDir)),
              epochTextCompat = epochTextCompat, landed = rollup(_))
        } else {
          writeBatch(batch, baseDir, format, batchId = Some(batchId))
          rollup(landedRun(batch.sparkSession, baseDir, format, batchId))
          // The compression/compaction policy riding the micro-batch
          // clock (parquet only — csv layouts append per batch already).
          // It folds `batch=<id>`, so it runs after the rollup read it.
          if (compactEveryBatches > 0 && format == "parquet" &&
              batchId > 0 && batchId % compactEveryBatches == 0) {
            val _ = compactAll(batch.sparkSession, baseDir)
          }
        }
      }
      .start()
  }

  /** The keys, `name` and `pm2_5` of every reading the run `batch=<id>`
    * landed, read back from two of its nine tables. */
  private def landedRun(spark: SparkSession, baseDir: String, format: String,
      batchId: Long): DataFrame = {
    def run(table: String, column: String) =
      spark.read.schema(FieldCatalog.groupSchema(table))
        .option("header", "true") // csv runs carry one; others ignore it
        .format(format).load(s"$baseDir/$table/batch=$batchId")
        .select((FieldCatalog.keyCols :+ column).map(col): _*)
    run(FieldCatalog.Groups.Station, "name")
      .join(run(FieldCatalog.Groups.Pm2_5, "pm2_5"), FieldCatalog.keyCols)
  }

  /** JDBC fan-out (K1/K2): one append per projection per micro-batch —
    * the reference's 9 INSERTs, batched. Driver jar must be on the
    * classpath (e2e-tested against embedded Derby). With `markers`, each
    * table's append is skipped when its marker file exists and marked
    * committed right after it lands — the streaming replay guard.
    * `landed` is called with the deduped frame the appends wrote, before
    * it is released.
    *
    * `epochTextCompat = true` is the SQLite compatibility mode: the
    * reference's SQLite DDL declares every timestamp column TEXT
    * (`PurpleAirSQLiteQueryStatements.py:13`) and binds the raw epoch
    * integers from the API straight into it
    * (`PurpleAirSQLiteDataLogger.py:82` — no datetime conversion
    * anywhere), so a reference SQLite database holds `"1659710000"`
    * strings. With the knob on, every TIMESTAMP column in every
    * projection lands as its epoch-seconds string — bit-compatible with
    * a reference-written database, so downstream readers (and `sqlite3`
    * CLI scripts) keep working unchanged. Off (default) the engine
    * writes real typed timestamps, which PSQL/Timescale-class targets
    * want (the reference's PSQL logger likewise converts,
    * `PurpleAirPSQLDataLogger.py:138-151`). */
  def writeBatchJdbc(conformed: DataFrame, url: String,
      props: java.util.Properties,
      markers: Option[(org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path)] = None,
      epochTextCompat: Boolean = false,
      landed: DataFrame => Unit = _ => ()): Unit = {
    val compat =
      if (!epochTextCompat) conformed
      else conformed.schema.fields.foldLeft(conformed) { (d, f) =>
        f.dataType match {
          // NTZ-safe epoch floor, same route as TimeSeries.epochSeconds
          case TimestampType | TimestampNTZType => d.withColumn(f.name,
            col(f.name).cast(TimestampType).cast(LongType)
              .cast(StringType))
          case _ => d
        }
      }
    val deduped = Transforms
      .dedupByKey(compat, Transforms.stableDedupOrder(compat))
      .persist()
    try {
      Transforms.verticalSplit(deduped).foreach { case (table, part) =>
        val marker = markers.map { case (_, dir) =>
          new org.apache.hadoop.fs.Path(dir, table) }
        val committed = markers.exists { case (fs, _) => fs.exists(marker.get) }
        if (!committed) {
          part.write.mode(SaveMode.Append).jdbc(url, table, props)
          markers.foreach { case (fs, dir) =>
            fs.mkdirs(dir)
            fs.create(marker.get, true).close()
          }
        }
      }
      landed(deduped)
    } finally deduped.unpersist()
  }

  /** Read one partition table back with partition pruning intact. Batch
    * and date partition columns discovered from the layout are dropped /
    * kept respectively — `batch` is a physical detail of replay safety,
    * `date` is the hypertable time-partition key. The catalog schema
    * stands in for footer inference, so building the reader lists the
    * directory and runs no Spark job; `batch` reads as a string because
    * run names are both numeric (`batch=7`) and not (`batch=c1x3`). */
  def readTable(spark: org.apache.spark.sql.SparkSession, baseDir: String,
      table: String): DataFrame =
    spark.read
      .schema(FieldCatalog.groupSchema(table)
        .add("date", DateType).add("batch", StringType))
      .parquet(s"$baseDir/$table")
      .drop("batch")

  /** Read a CSV fan-out table back with the CATALOG schema (never
    * inference — a cold date partition with all-null readings would
    * infer strings) and date-partition discovery intact. This is the
    * read path over the reference CSV logger's own layout
    * (`PurpleAirCSVDataLogger.py` writes the same header order the sink
    * reproduces), so data logged by the reference is queryable
    * unchanged. */
  def readCsvTable(spark: org.apache.spark.sql.SparkSession,
      baseDir: String, table: String): DataFrame = {
    val schema = FieldCatalog.groupSchema(table)
    spark.read
      .option("header", "true")
      .schema(schema.add("date", org.apache.spark.sql.types.StringType))
      .csv(s"$baseDir/$table")
      .select(schema.fieldNames.map(col) :+ col("date"): _*)
  }

  /** Read a JDBC table written under `epochTextCompat` (or by the
    * reference's own SQLite logger — epoch-seconds strings in TEXT
    * timestamp columns) back into the typed catalog schema: every
    * catalog TIMESTAMP column parses its digit string as epoch seconds.
    * The inverse of the write-side knob, so either side of a reference
    * interop round-trips. */
  def readJdbcCompat(spark: org.apache.spark.sql.SparkSession, url: String,
      table: String, props: java.util.Properties): DataFrame = {
    val raw = spark.read.jdbc(url, table, props)
    val tsCols = FieldCatalog.groupSchema(table).fields
      .filter(_.dataType == TimestampType).map(_.name).toSet
    raw.schema.fieldNames.foldLeft(raw) { (d, c) =>
      if (tsCols.contains(c))
        d.withColumn(c, timestamp_seconds(col(c).cast(LongType)))
      else d
    }
  }

  /** A compaction run on disk: `batch=<n>` is an uncompacted level-0
    * micro-batch; `batch=c<L>x<id>` is a level-`L` compacted run (legacy
    * `batch=c<id>` dirs from earlier layouts read as level 1). */
  private final case class Run(level: Int, id: Long,
      path: org.apache.hadoop.fs.Path)

  private def parseRun(s: org.apache.hadoop.fs.FileStatus): Run = {
    val name = s.getPath.getName.stripPrefix("batch=")
    if (name.forall(_.isDigit)) Run(0, name.toLong, s.getPath)
    else name.stripPrefix("c").split('x') match {
      case Array(l, id) if l.forall(_.isDigit) && id.forall(_.isDigit) =>
        Run(l.toInt, id.toLong, s.getPath)
      case _ => Run(1, name.stripPrefix("c").takeWhile(_.isDigit).toLong,
        s.getPath) // legacy batch=c<id>
    }
  }

  /** Maintenance job: LEVELED compaction of a table's `batch=` runs —
    * the scheduled-compaction half of the reference's compression policy
    * (T6), which keeps the 65 s micro-batch cadence from turning into a
    * small-files problem at scale. Returns the number of run directories
    * folded this invocation.
    *
    * Schedule (LSM-tiered): every call folds the accumulated level-0
    * micro-batch dirs into ONE level-1 run with the T6 layout (clustered
    * by sensor, sorted by time, zstd); then, cascading upward, whenever a
    * level holds ≥ `fanout` runs they merge into one run at the next
    * level. Each row is therefore rewritten at most once per level —
    * O(log_fanout(batches)) times over the stream's LIFETIME, never
    * O(batches). Old data migrates to high levels that merge
    * geometrically rarely, the file-side analogue of the reference's
    * compress-once-after-14-days policy (PurpleAirPSQLDataLogger.py:
    * 129-136): cold chunks are not re-compressed on every cycle.
    *
    * Crash safety on plain parquet: each merge writes to a hidden
    * staging dir (invisible to readers), renames it into place, and only
    * then deletes its sources; a rename that fails throws and deletes
    * nothing. A crash before the rename leaves an
    * orphan staging dir (cleaned on the next run, nothing lost or
    * duplicated); a crash after it leaves duplicates until the next run
    * folds them again — never data loss. A transactional table format
    * would close the duplicate window; out of scope for plain parquet. */
  def compact(spark: org.apache.spark.sql.SparkSession, baseDir: String,
      table: String, fanout: Int = 8): Int = {
    require(fanout >= 2, s"fanout must be >= 2, got $fanout")
    val dir = new org.apache.hadoop.fs.Path(s"$baseDir/$table")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    val staging = new org.apache.hadoop.fs.Path(dir, ".compacting")
    // Orphan staging ⇒ previous run crashed pre-rename; sources intact.
    if (fs.exists(staging)) fs.delete(staging, true)

    // Fresh run id: strictly above every id seen so far (streaming batch
    // ids only grow; compacted ids share the same counter space).
    def runs() = fs.listStatus(dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(parseRun)
    var nextId = { val rs = runs(); if (rs.isEmpty) 0L else rs.map(_.id).max + 1 }

    /** Merge `sources` into one run at `level` via staging + rename. */
    def merge(sources: Array[Run], level: Int): Unit = {
      spark.read.option("basePath", dir.toString)
        .parquet(sources.map(_.path.toString): _*)
        .drop("batch")
        .repartition(col(FieldCatalog.keySensor))
        .sortWithinPartitions(col(FieldCatalog.keyTimestamp))
        .write.mode(SaveMode.Overwrite).partitionBy("date")
        .option("compression", "zstd")
        .parquet(staging.toString)
      val target = new Path(dir, s"batch=c${level}x$nextId")
      // The sources go only once their rows are in place.
      if (fs.exists(target) || !fs.rename(staging, target))
        throw new IOException(s"compact $table: could not move $staging " +
          s"to $target; its sources and the staging dir are kept")
      nextId += 1
      sources.foreach(s => fs.delete(s.path, true))
    }

    var folded = 0
    // Level 0 → 1: fold the uncompacted micro-batches. Skip when there is
    // a single level-0 run and nothing else (nothing to gain) — but a
    // lone micro-batch DOES fold when compacted runs exist, so it can
    // participate in the leveled cascade instead of lingering forever.
    val all = runs()
    val level0 = all.filter(_.level == 0)
    if (level0.nonEmpty && all.length >= 2) {
      merge(level0, 1)
      folded += level0.length
    }
    // Cascade: any level with >= fanout runs merges into one run at the
    // next level (which may in turn tip THAT level over the threshold).
    var level = 1
    var maxLevel = runs().map(_.level).foldLeft(1)(math.max)
    while (level <= maxLevel) {
      val atLevel = runs().filter(_.level == level)
      if (atLevel.length >= fanout) {
        merge(atLevel, level + 1)
        folded += atLevel.length
        maxLevel = math.max(maxLevel, level + 1)
      }
      level += 1
    }
    folded
  }

  /** [[compact]] across all 9 partition tables. */
  def compactAll(spark: org.apache.spark.sql.SparkSession,
      baseDir: String, fanout: Int = 8): Int =
    FieldCatalog.Groups.all.map(compact(spark, baseDir, _, fanout)).sum
}

/** The write half of [[FanOutSink.writeBatch]] as a DataSource V2 batch
  * sink, so the nine tables cost one Spark job: each task writes its
  * sorted partition once, through one `OutputWriter` per (table, date)
  * from that table's `FileFormat.prepareWrite`, into a hidden staging
  * directory under the base directory; the job's commit renames each
  * staged table into place. Spark owns the task, commit-coordination and
  * abort lifecycle, the SQL execution and the caller's job properties. */
private[sinks] final class FanOutSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(inputSchema: StructType, partitioning: Array[Transform],
      options: java.util.Map[String, String]): Table =
    new SupportsWrite {
      override def name(): String =
        s"fan-out ${options.get(FanOutSource.BaseDir)}"
      override def columns(): Array[Column] = inputSchema.fields.map(f =>
        Column.create(f.name, f.dataType, f.nullable))
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_WRITE,
          TableCapability.ACCEPT_ANY_SCHEMA)
      override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder {
          override def build(): Write = new Write {
            override def toBatch: BatchWrite = new FanOutBatchWrite(info)
          }
        }
    }
}

private[sinks] object FanOutSource {
  val BaseDir = "baseDir"
  val Format = "format"
  val Mode = "saveMode"
  val Batch = "batchId"
}

/** One table's share of the write: its columns bound to the input row,
  * its file schema, its writer factory, and the Hadoop settings its
  * `prepareWrite` made over the session's. */
private final case class FanOutTable(name: String,
    columns: Seq[BoundReference], dataSchema: StructType,
    factory: OutputWriterFactory, conf: Map[String, String])

/** Staged files of one committed task, relative to the staging dir. */
private final case class FanOutCommit(files: Seq[String])
    extends WriterCommitMessage

/** Planning and commit of one fan-out write. The save mode is resolved per table
  * before the job runs: `ErrorIfExists` fails on an existing table
  * directory, `Ignore` leaves it out of the job, `Overwrite` replaces it
  * at commit and `Append` merges into it. */
private final class FanOutBatchWrite(info: LogicalWriteInfo)
    extends BatchWrite {
  private val session = ClassicConversions.castToImpl(SparkSession.active)
  private val opts = info.options
  private val mode = SaveMode.valueOf(opts.get(FanOutSource.Mode))
  private val run = Option(opts.get(FanOutSource.Batch)).map(id => s"batch=$id")
  private val base = new Path(opts.get(FanOutSource.BaseDir))
  private val fs = base.getFileSystem(session.sessionState.newHadoopConf())
  // Keyed by the batch, so a replay clears what a crashed attempt left.
  private val stage = fs.makeQualified(new Path(base,
    s".fanout-staging/${run.getOrElse(info.queryId)}"))

  private def target(table: String): Path =
    run.fold(new Path(base, table))(new Path(new Path(base, table), _))

  private val tables = FieldCatalog.Groups.all.filter { t =>
    mode match {
      case SaveMode.ErrorIfExists if fs.exists(target(t)) =>
        throw new FileAlreadyExistsException(
          s"fan-out table $t: ${target(t)} already exists")
      case SaveMode.Ignore => !fs.exists(target(t))
      case _ => true
    }
  }

  override def createBatchWriterFactory(
      physical: PhysicalWriteInfo): DataWriterFactory = {
    fs.delete(stage, true)
    val format = opts.get(FanOutSource.Format)
    val options = Map("compression" ->
      (if (format == "parquet") "zstd" else "none")) ++
      (if (format == "csv") Map("header" -> "true") else Map.empty)
    val fileFormat = DataSource.lookupDataSource(format, session.sessionState.conf)
      .getDeclaredConstructor().newInstance() match {
        case f: FileFormat => f
        case v2: FileDataSourceV2 =>
          v2.fallbackFileFormat.getDeclaredConstructor().newInstance()
        case _ => throw new IllegalArgumentException(
          s"fan-out format $format is not a file format")
      }
    val conf = session.sessionState.newHadoopConfWithOptions(options)
    val schema = info.schema
    val specs = tables.map { t =>
      val cols = FieldCatalog.keyCols ++ FieldCatalog.groupCols(t)
      val dataSchema = StructType(cols.map(schema(_)))
      val job = Job.getInstance(conf)
      val factory = fileFormat.prepareWrite(session, job, options, dataSchema)
      val overrides = job.getConfiguration.iterator.asScala
        .filter(e => conf.getRaw(e.getKey) != e.getValue)
        .map(e => e.getKey -> e.getValue).toMap
      val columns = cols.map(schema.fieldIndex).map(i =>
        BoundReference(i, schema(i).dataType, schema(i).nullable))
      FanOutTable(t, columns, dataSchema, factory, overrides)
    }
    new FanOutWriterFactory(stage.toString, specs, schema.fieldIndex("date"),
      session.sessionState.conf.sessionLocalTimeZone,
      new SerializableConfiguration(conf), info.queryId.replace("-", ""))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.iterator
      .flatMap { case FanOutCommit(files) => files; case _ => Nil }
      .map(new Path(stage, _)).toSet
    tables.foreach { t =>
      val staged = new Path(stage, t)
      try {
        if (mode == SaveMode.Overwrite) fs.delete(target(t), true)
        if (fs.exists(staged)) {
          // Files of task attempts that died without aborting.
          val files = fs.listFiles(staged, true)
          while (files.hasNext) {
            val p = files.next().getPath
            if (!committed(p)) fs.delete(p, false)
          }
          move(staged, target(t))
        } else fs.mkdirs(target(t))
      } catch {
        case NonFatal(e) => throw new IOException(
          s"fan-out table $t: commit to ${target(t)} failed", e)
      }
    }
    fs.delete(stage, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val _ = fs.delete(stage, true)
  }

  /** Renames `from` to `to`, merging into directories that exist. */
  private def move(from: Path, to: Path): Unit =
    if (fs.exists(to))
      fs.listStatus(from).foreach(s =>
        move(s.getPath, new Path(to, s.getPath.getName)))
    else if (!fs.mkdirs(to.getParent) || !fs.rename(from, to))
      throw new IOException(s"could not move $from to $to")
}

private final class FanOutWriterFactory(val stage: String,
    val tables: Seq[FanOutTable], val dateOrdinal: Int, val timeZone: String,
    val conf: SerializableConfiguration, val jobId: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new FanOutDataWriter(this, partitionId)
}

/** One task's writer. The rows arrive sorted by time, so a date's rows
  * are contiguous: the nine files of a date stay open until the date
  * changes. */
private final class FanOutDataWriter(f: FanOutWriterFactory, partitionId: Int)
    extends DataWriter[InternalRow] {
  private val attempt = {
    val task = TaskContext.get()
    new TaskAttemptID(new TaskID(new JobID(f.jobId, task.stageId()),
      TaskType.MAP, partitionId), task.attemptNumber())
  }

  private final class Part(val spec: FanOutTable) {
    val context = {
      val conf = new JobConf(f.conf.value)
      spec.conf.foreach { case (k, v) => conf.set(k, v) }
      new TaskAttemptContextImpl(conf, attempt)
    }
    val project = UnsafeProjection.create(spec.columns)
    val extension = spec.factory.getFileExtension(context)
  }
  private val parts = f.tables.map(new Part(_)).toArray
  private val dateString = Cast(BoundReference(f.dateOrdinal, DateType,
    nullable = true), StringType, Some(f.timeZone))
  private val stage = new Path(f.stage)
  private val files = ArrayBuffer.empty[String]
  private val open = ArrayBuffer.empty[OutputWriter]
  private var day = 0L

  override def write(row: InternalRow): Unit = {
    val d = if (row.isNullAt(f.dateOrdinal)) Long.MinValue
      else row.getInt(f.dateOrdinal).toLong
    if (open.isEmpty || d != day) openDay(row, d)
    var i = 0
    try while (i < parts.length) {
      open(i).write(parts(i).project(row))
      i += 1
    } catch {
      case NonFatal(e) => throw new IOException(
        s"fan-out table ${parts(i).spec.name}: write failed", e)
    }
  }

  private def openDay(row: InternalRow, d: Long): Unit = {
    closeFiles()
    day = d
    val dir = ExternalCatalogUtils.getPartitionPathString("date",
      Option(dateString.eval(row)).map(_.toString).orNull)
    // Unique per open, so a retried task never meets an earlier file.
    val fileName = f"part-$partitionId%05d-${UUID.randomUUID()}.c000"
    parts.foreach { p =>
      val rel = s"${p.spec.name}/$dir/$fileName${p.extension}"
      files += rel
      try open += p.spec.factory.newInstance(
        new Path(stage, rel).toString, p.spec.dataSchema, p.context)
      catch {
        case NonFatal(e) => throw new IOException(
          s"fan-out table ${p.spec.name}: cannot open $rel", e)
      }
    }
  }

  private def closeFiles(): Unit = try open.foreach(_.close()) finally open.clear()

  override def commit(): WriterCommitMessage = {
    closeFiles()
    FanOutCommit(files.toList)
  }

  override def abort(): Unit = {
    open.foreach(w => try w.close() catch { case NonFatal(_) => })
    open.clear()
    val fs = stage.getFileSystem(f.conf.value)
    files.foreach(rel => fs.delete(new Path(stage, rel), false))
  }

  override def close(): Unit = closeFiles()
}
