package graft

/** Scale-rehearsal data generator: a deterministic sf1-shaped
  * `documents` / `embeddings` pair (10× the driver's sf0.1, which is
  * where the provided testdata stops) so the dedup/ANN family's
  * skew-guard claims can be MEASURED above 600 k rows instead of
  * argued. Mirrors the sf0.1 profile: the same 31-word vocabulary
  * (so shingle/bucket skew is as hot as the real tables), 10–100
  * words per doc, ~0.16% exact duplicates, the 41/15/15/15/14 lang
  * mix, 20 uniform sources; embeddings are d=64 unclustered noise in
  * [-0.5, 0.5) with 10 uniform labels. All values are splitmix64
  * functions of the row id — no RNG state, no driver-side loops, and
  * regeneration reproduces every table's ROWS bit-identically, and
  * partition MEMBERSHIP is config-independent too (each table
  * repartitions on a key expression, `id % 32`, where round-robin
  * `repartition(32)` would follow the upstream split count). Row
  * ORDER within a partition still follows map-task order, so file
  * bytes can differ across `SPARK_GRAFT_CPUS` settings — compare by
  * row multiset, not file hash.
  *
  * Also writes an sf1-shaped `events` table (10× sf0.1: 1 M rows,
  * 15 k users, the same 5-type mix, ~3.5 s inter-arrival from the
  * same 2024-01-01 epoch, `{"k": n}` props) so the behavioral family
  * (sessionize, funnels, attribution, concurrency) rehearses at 10×
  * too.
  *
  * `runMain graft.GenRehearsal <outDir> [docRows=50000] [vecRows=20000]
  *   [eventRows=1000000]`
  */
object GenRehearsal {
  private val Vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "zh", "es", "fr", "de")
  private val LangCum = Array(41, 56, 71, 86, 100)

  /** splitmix64's finalizer: the rehearsal data's only randomness. */
  private[graft] def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def pick(seed: Long, n: Int): Int =
    ((mix(seed) >>> 8) % n).toInt

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val docRows = if (args.length > 1) args(1).toLong else 50000L
    val vecRows = if (args.length > 2) args(2).toLong else 20000L
    val spark = EngineDefaults
      .builder("graft-gen-rehearsal", EngineDefaults.cpus()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    spark.range(docRows).map { boxed =>
        val id: Long = boxed
        // every 625th doc replays an earlier doc's text verbatim
        // (sf0.1 carries 8 exact dups in 5000 = the same ~0.16%)
        val tid = if (id % 625L == 624L) id - 624L else id
        val n = 10 + pick(tid * 31L + 1L, 91)
        val text = (0 until n)
          .map(j => Vocab(pick(tid * 104729L + j, Vocab.length)))
          .mkString(" ")
        val lp = pick(id * 7919L + 2L, 100)
        val lang = Langs(LangCum.indexWhere(lp < _))
        val source = "src" + pick(id * 7L + 3L, 20)
        (id, text, lang, source, text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(32, org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(32L)))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    spark.range(vecRows).map { boxed =>
        val id: Long = boxed
        val emb = Array.tabulate(64) { j =>
          ((mix(id * 131L + j) & 0xffffffL).toFloat / 0x1000000L.toFloat)
            .toFloat - 0.5f
        }
        (id, emb, pick(id * 17L + 5L, 10))
      }
      .toDF("vec_id", "embedding", "label")
      .repartition(32, org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.lit(32L)))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val eventRows = if (args.length > 3) args(3).toLong else 1000000L
    val types = Array("view", "click", "purchase", "signup", "error")
    spark.range(eventRows).map { boxed =>
        val id: Long = boxed
        // ~3.5 s mean inter-arrival, deterministic jitter
        val ts = 1704067200000000L + id * 3500000L +
          (mix(id * 13L + 7L) & 0xfffff) // + up to ~1.05 s
        val user = (mix(id * 29L + 11L) >>> 8) % 15000L
        val tpe = types(pick(id * 37L + 13L, types.length))
        val value = ((mix(id * 41L + 17L) >>> 8) % 56021L).toDouble / 100.0
        val props = s"""{"k": ${pick(id * 43L + 19L, 100)}}"""
        (id, ts, user, tpe, value, props)
      }
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.col("ts_us")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(32, org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.lit(32L)))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    println(s"[gen] wrote $docRows documents, $vecRows embeddings, " +
      s"$eventRows events -> $outDir")
    spark.stop()
  }
}
