package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.operators.{Dedup, Lifetime}

/** Online near-duplicate text dedup at ingest: each micro-batch of
  * `(id, text)` documents is deduplicated (a) WITHIN the batch and
  * (b) AGAINST every previously admitted document, via a persisted
  * MinHash-LSH index — the streaming form of the
  * [[Dedup.minhashNearDuplicates]] → [[Dedup.applyComponentDedup]] batch
  * pipeline, for pipelines that admit training data continuously and
  * can never afford a full-corpus re-pair.
  *
  * '''Semantics''' (deterministic, replay-stable):
  *  - in-batch: near-dup pairs (signature agreement ≥ threshold) collapse
  *    by connected components, keeping each component's md5-min
  *    representative — exactly the batch pipeline's keeper rule;
  *  - cross-batch: a batch survivor is DROPPED iff it shares an LSH band
  *    bucket with an indexed document and their signature agreement ≥
  *    threshold. Earlier batches always win (first-arrival-keeps), so
  *    admitting order — not partition layout — decides survivors.
  *
  * '''Index layout''' (`dir/`): `buckets/` `(band, band_hash, doc_id)` —
  * the LSH postings; `sigs/` `(doc_id, sig ARRAY<LONG>)` — for exact
  * agreement verification of probe candidates. Both append-only,
  * replay-guarded by per-batch committed markers under the checkpoint
  * (the [[IndexMaintenance]] discipline); survivors land in
  * `outDir/batch=<id>` with Overwrite so an at-least-once replay
  * rewrites rather than duplicates.
  *
  * '''Scale shape''': signatures are one codegen'd pass per row (native
  * kernel, no shuffle); the probe is an equi-join on `(band, band_hash)`
  * — the batch side is a micro-batch (tiny), the index side streams
  * through the join without ever being collected; candidate
  * verification joins only the candidate ids' signatures. State is the
  * on-disk index: O(admitted docs × bands) rows, no driver-side or
  * executor-memory state at all. */
object StreamingTextDedup {

  /** One micro-batch through the gate — exposed so specs (and manual
    * repair) drive the exact path the stream runs. Returns the kept
    * count for observability. */
  def dedupBatch(batch: DataFrame, batchId: Long, indexDir: String,
      checkpointDir: String, outDir: String, idCol: String, textCol: String,
      shingleWords: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5): Long = {
    val spark = batch.sparkSession
    val k = bands * rowsPerBand
    // The index stores doc_id as LONG and the self-match exclusion casts
    // the probe id to LONG: a non-numeric id column would cast to null,
    // never self-match, and write null ids into the index — fail loudly
    // instead (the decontaminateBatch discipline).
    val idType = batch.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"StreamingTextDedup requires a numeric id column (castable to " +
        s"LONG); '$idCol' is ${idType.simpleString}")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fsPath = new org.apache.hadoop.fs.Path(
      s"$checkpointDir/_graft_textdedup_committed/$batchId")
    val fs = fsPath.getFileSystem(hadoopConf)
    // Fully committed batch (output landed AND index appended): a replay
    // must not re-run the gate — the index already holds THIS batch's
    // postings, so re-deriving would see every admitted doc as its own
    // duplicate and rewrite the landed output empty. Skip wholesale.
    if (fs.exists(fsPath))
      return spark.read.parquet(s"$outDir/batch=$batchId").count()

    // ONE signature pass over the batch feeds both the in-batch pairing
    // and the cross-batch probe (the kernel over every doc's shingles is
    // the gate's dominant per-batch cost — never pay it twice).
    val batchSigs = Dedup.minhashSignatures(batch, idCol, textCol,
        shingleWords, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // 1. in-batch collapse: the batch pipeline's exact operators
    val inBatchPairs = Dedup.minhashPairsFromSignatures(batchSigs, idCol,
      bands, rowsPerBand, threshold)
    val survivors = Dedup.applyComponentDedup(batch, idCol, inBatchPairs)
      .persist()
    try {
      // 2. cross-batch probe against the persisted index — survivor
      //    signatures are a semi-join of the already-computed batch set
      val sigs = batchSigs
        .join(survivors.select(col(idCol)), Seq(idCol), "left_semi")
        .persist()
      val kept =
        try {
          // the index may live on a DIFFERENT filesystem than the
          // checkpoint (local cp + object-store index is a normal
          // split) — derive its FS from its own path
          val bucketsPath = new org.apache.hadoop.fs.Path(s"$indexDir/buckets")
          val idxFs = bucketsPath.getFileSystem(hadoopConf)
          val haveIndex = idxFs.exists(bucketsPath) &&
            idxFs.listStatus(bucketsPath).nonEmpty
          // batch side renamed __new_id so it can't collide with the
          // index's own doc_id column when idCol == "doc_id"
          val dupIds =
            if (!haveIndex)
              sigs.limit(0).select(col(idCol).as("__new_id"))
            else {
              val banded = Dedup.bandedSignatures(sigs, idCol, bands,
                rowsPerBand)
              val idxBuckets = spark.read.parquet(s"$indexDir/buckets")
              val idxSigs = spark.read.parquet(s"$indexDir/sigs")
              banded.select(col(idCol).as("__new_id"), col("band"),
                  col("band_hash"))
                .join(idxBuckets, Seq("band", "band_hash"))
                // self-match exclusion: a crash between the index append
                // and the marker leaves this batch's own postings in the
                // index; on the replay a doc must not lose to ITSELF
                .filter(col("doc_id") =!= col("__new_id").cast(LongType))
                .select(col("__new_id"), col("doc_id")).distinct()
                .join(sigs.select(col(idCol).as("__new_id"),
                  col("sig").as("sig_new")), Seq("__new_id"))
                .join(idxSigs.select(col("doc_id"),
                  col("sig").as("sig_old")), Seq("doc_id"))
                .filter((graft.functions.MinHashFunctions
                  .sigAgreement(col("sig_new"), col("sig_old"))
                  .cast(DoubleType) / lit(k.toDouble)) >= threshold)
                .select(col("__new_id")).distinct()
            }
          // usingColumns anti-join (the applyComponentDedup pattern):
          // dupIds shares lineage with survivors, and an expression
          // condition across shared lineage can resolve both sides to
          // the same attribute — usingColumns resolves by side
          val admitted = survivors.join(
              dupIds.select(col("__new_id").as(idCol)), Seq(idCol),
              "left_anti")
            .persist()
          try {
            // 3. land survivors replay-safe; Overwrite rewrites a replay
            admitted.write.mode(SaveMode.Overwrite)
              .parquet(s"$outDir/batch=$batchId")
            // Count BEFORE the index append: admitted's plan reads the
            // index parquet (through dupIds), and appending to that path
            // invalidates the cache — a post-append count would recompute
            // against an index that now holds this batch's own postings
            // and see every admitted doc as its own duplicate.
            val n = admitted.count()
            // 4. append admitted docs' signatures THEN postings to the
            //    index (no marker re-check needed: a committed batch
            //    already returned at the top, and this is the only
            //    writer). Write ORDER is the crash-safety argument:
            //    `haveIndex` keys on buckets/, so sigs-first means any
            //    state where buckets/ exists also has its sigs — a crash
            //    between the two writes leaves orphan SIGS, which no
            //    probe ever reads (candidates come from buckets), while
            //    the reverse order would leave buckets whose probe
            //    crashes on the missing sigs dir FOREVER (a replay
            //    re-runs the probe before it ever re-appends).
            // sealed: two index writes read it, and its lineage reads the
            // index paths they append to; the in-batch pairs are dead
            val admittedSigs = Lifetime.seal(sigs
              .join(admitted.select(col(idCol)), Seq(idCol), "left_semi"),
              inBatchPairs)
            admittedSigs
              .select(col(idCol).cast(LongType).as("doc_id"), col("sig"))
              .write.mode(SaveMode.Append).parquet(s"$indexDir/sigs")
            Dedup.bandedSignatures(admittedSigs, idCol, bands, rowsPerBand)
              .select(col("band"), col("band_hash"),
                col(idCol).cast(LongType).as("doc_id"))
              .write.mode(SaveMode.Append).parquet(s"$indexDir/buckets")
            fs.create(fsPath, true).close()
            n
          } finally admitted.unpersist()
        } finally sigs.unpersist()
      kept
    } finally {
      survivors.unpersist()
      batchSigs.unpersist()
    }
  }

  /** Keep admitting a document stream through the dedup gate. */
  def admit(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, checkpointDir: String, outDir: String,
      shingleWords: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      trigger: Trigger = Trigger.ProcessingTime("65 seconds")): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val _ = dedupBatch(batch, batchId, indexDir, checkpointDir, outDir,
          idCol, textCol, shingleWords, bands, rowsPerBand, threshold)
      }
      .start()
}
