package graft.sinks

import java.util.concurrent.{CompletableFuture, CompletionException,
  ExecutorService, Executors}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, TimestampNTZType, TimestampType}

import graft.schema.FieldCatalog
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
  * that fixed cost down three ways:
  *  - one exchange: `repartition(sensor_index)` runs before the dedup
  *    window, whose (ts, sensor) key it already clusters, so the window
  *    and the layout share that single shuffle;
  *  - overlapped writes: the deduped batch is cached and materialized
  *    once, then the nine projections are written concurrently, each on
  *    its own thread under the caller's job group, so a micro-batch costs
  *    about its slowest table write rather than the sum of nine;
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
    * Overwrite semantics (the streaming replay-safe path). */
  def writeBatch(conformed: DataFrame, baseDir: String,
      format: String = "parquet", mode: SaveMode = SaveMode.Append,
      batchId: Option[Long] = None): Unit = {
    // Hashing on the sensor already clusters the (ts, sensor) dedup key,
    // so the dedup window reuses this exchange instead of adding one.
    val deduped = Transforms
      .dedupByKey(conformed.repartition(col(FieldCatalog.keySensor)),
        Transforms.stableDedupOrder(conformed))
      .withColumn("date", to_date(col(FieldCatalog.keyTimestamp)))
      .sortWithinPartitions(col(FieldCatalog.keyTimestamp))
      .persist()
    val (effMode, suffix) = batchId match {
      case Some(id) => (SaveMode.Overwrite, s"/batch=$id")
      case None     => (mode, "")
    }
    try {
      // Build the cache once, before the writers share it (racing
      // writers would each build it).
      deduped.write.format("noop").mode(SaveMode.Overwrite).save()
      val session = ClassicConversions.castToImpl(deduped.sparkSession)
      val writes = FieldCatalog.Groups.all.map { table =>
        // Carries the caller's job group and local properties to the
        // writer thread, so query cancellation reaches every write.
        SQLExecution.withThreadLocalCaptured(session, writers) {
          val cols = (FieldCatalog.keyCols ++ FieldCatalog.groupCols(table))
            .map(col) :+ col("date")
          val w = deduped.select(cols: _*).write
            .mode(effMode).partitionBy("date")
            .option("compression", if (format == "parquet") "zstd" else "none")
          val path = s"$baseDir/$table$suffix"
          format match {
            case "parquet" => w.parquet(path)
            case "csv" => w.option("header", "true").csv(path)
            case other => w.format(other).save(path)
          }
        }
      }
      awaitAll(writes)
    } finally deduped.unpersist()
  }

  /** Threads for one micro-batch's concurrent table writes; idle ones
    * retire after a minute. */
  private lazy val writers: ExecutorService = Executors.newCachedThreadPool {
    (r: Runnable) =>
      val t = new Thread(r, "graft-fanout-writer")
      t.setDaemon(true)
      t
  }

  /** Waits for every write — also after one has failed, so nothing still
    * reads the cache when the caller unpersists it — then rethrows the
    * first failure in table order, with the others suppressed into it. */
  private def awaitAll(writes: Seq[CompletableFuture[Unit]]): Unit = {
    val failures = writes.flatMap { f =>
      try { f.join(); None }
      catch { case e: CompletionException => Some(e.getCause) }
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** Streaming fan-out: `foreachBatch` at the reference's 65 s cadence
    * (T1). File formats take the replay-safe `batch=<id>`/Overwrite path;
    * a `jdbc:` URL routes to [[writeBatchJdbc]] guarded by PER-TABLE
    * committed markers under the checkpoint dir (skip on replay —
    * appends are not rewindable; per-table markers mean a crash mid-loop
    * replays only the tables whose marker is missing, closing the
    * duplicate window to a crash between ONE table's commit and its
    * marker write, not the whole 9-table batch). */
  def stream(conformed: DataFrame, baseDir: String, checkpointDir: String,
      format: String = "parquet",
      trigger: Trigger = Trigger.ProcessingTime("65 seconds"),
      jdbcProperties: java.util.Properties = new java.util.Properties(),
      compactEveryBatches: Int = 0,
      epochTextCompat: Boolean = false): StreamingQuery =
    conformed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
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
              epochTextCompat = epochTextCompat)
        } else {
          writeBatch(batch, baseDir, format, batchId = Some(batchId))
          // The compression/compaction policy riding the micro-batch
          // clock (parquet only — csv layouts append per batch already).
          if (compactEveryBatches > 0 && format == "parquet" &&
              batchId > 0 && batchId % compactEveryBatches == 0) {
            val _ = compactAll(batch.sparkSession, baseDir)
          }
        }
      }
      .start()

  /** JDBC fan-out (K1/K2): one append per projection per micro-batch —
    * the reference's 9 INSERTs, batched. Driver jar must be on the
    * classpath (e2e-tested against embedded Derby). With `markers`, each
    * table's append is skipped when its marker file exists and marked
    * committed right after it lands — the streaming replay guard.
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
      epochTextCompat: Boolean = false): Unit = {
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
    try Transforms.verticalSplit(deduped).foreach { case (table, part) =>
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
    } finally deduped.unpersist()
  }

  /** Read one partition table back with partition pruning intact. Batch
    * and date partition columns discovered from the layout are dropped /
    * kept respectively — `batch` is a physical detail of replay safety,
    * `date` is the hypertable time-partition key. */
  def readTable(spark: org.apache.spark.sql.SparkSession, baseDir: String,
      table: String): DataFrame = {
    val df = spark.read.parquet(s"$baseDir/$table")
    if (df.columns.contains("batch")) df.drop("batch") else df
  }

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
    * then deletes its sources. A crash before the rename leaves an
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
      fs.rename(staging,
        new org.apache.hadoop.fs.Path(dir, s"batch=c${level}x$nextId"))
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
