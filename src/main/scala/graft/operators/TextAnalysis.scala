package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language identification, and document
  * fingerprinting.
  *
  * All operators are per-row, shuffle-free column expressions built from
  * codegen'd `functions._` — they run inside the scan's whole-stage-codegen
  * span, so at 100 TB they cost one pass over the data and nothing else.
  * Ratios are integer-over-integer divisions in IEEE double, so results are
  * bit-deterministic everywhere.
  */
object TextAnalysis {

  /** Whitespace tokens (empty input → 0). */
  def tokens(text: Column): Column =
    split(trim(text), "\\s+")

  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  /** BPE-ish sub-word count: runs of ASCII letters, runs of digits, or
    * single non-space symbols (CJK chars count one each) — a cheap regex
    * proxy for tokenizer load. Alternation of disjoint classes, so greedy
    * (Java) and leftmost-longest (RE2) matching agree. */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Quality heuristics per document. Output columns:
    * `n_chars`, `n_tokens`, `avg_token_len`, `punct_ratio`,
    * `digit_ratio`, `upper_ratio`, `stopword_ratio`, `quality_score`.
    *
    * `quality_score` is a simple bounded combination in [0,1]: rewards
    * stopword presence and mid-length tokens, penalizes punctuation/digit
    * density — the standard cheap pre-filter shape for web-scale corpora.
    */
  def quality(df: DataFrame, textCol: String, stopwords: Seq[String]): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val toks = tokens(t)
    val nTokens = tokenCount(t)
    val nPunct = nChars - length(regexp_replace(t, "[\\p{Punct}]", ""))
    val nDigit = nChars - length(regexp_replace(t, "[0-9]", ""))
    val nUpper = nChars - length(regexp_replace(t, "[A-Z]", ""))
    val nStop = size(filter(toks, w => lower(w).isin(stopwords.map(lit): _*)))
    val safeChars = greatest(nChars, lit(1)).cast(DoubleType)
    val safeToks = greatest(nTokens, lit(1)).cast(DoubleType)
    val stopRatio = nStop.cast(DoubleType) / safeToks
    val punctRatio = nPunct.cast(DoubleType) / safeChars
    val digitRatio = nDigit.cast(DoubleType) / safeChars
    val avgTokLen =
      (nChars - (nTokens - lit(1))).cast(DoubleType) / safeToks
    df.withColumn("n_chars", nChars.cast(LongType))
      .withColumn("n_tokens", nTokens.cast(LongType))
      .withColumn("avg_token_len", avgTokLen)
      .withColumn("punct_ratio", punctRatio)
      .withColumn("digit_ratio", digitRatio)
      .withColumn("upper_ratio", nUpper.cast(DoubleType) / safeChars)
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("quality_score",
        least(lit(1.0),
          stopRatio * 2.0 +
            when(avgTokLen >= 3.0 && avgTokLen <= 10.0, 0.5).otherwise(0.0) -
            punctRatio - digitRatio))
  }

  /** The Gopher quality-filter rule set (the published web-corpus
    * recipe), evaluated per document as SEPARATE boolean flags plus the
    * conjunction — a pipeline thresholds on `keep` but audits which rule
    * fires (rule-level attrition telemetry is how filter recipes get
    * tuned). Rules, all INTEGER-exact via cross-multiplication — no
    * double ratio is ever compared at a boundary:
    *
    *   - `r_word_count`     — `minWords ≤ words ≤ maxWords`
    *   - `r_mean_word_len`  — mean token length (non-space chars /
    *                          words) in [3, 10]: `3·w ≤ chars ≤ 10·w`
    *   - `r_symbol_ratio`   — (`#` or ellipsis) symbols ≤ 0.1·words
    *   - `r_bullet_lines`   — < 90 % of lines start with a bullet
    *   - `r_ellipsis_lines` — < 30 % of lines end with an ellipsis
    *   - `r_alpha_words`    — ≥ 80 % of words contain a letter
    *   - `r_stopwords`      — ≥ 2 DISTINCT required stopwords present
    *
    * Line rules avoid multiline-flag regex portability entirely: lines
    * are counted as `\n`-runs, a bullet line is an occurrence of
    * `\n[ \t]*[-*•]` in `"\n" + text`, an ellipsis line an occurrence
    * of `(...|…)[ \t]*\n` in `text + "\n"` — plain non-overlapping
    * counts with identical semantics under Java regex and RE2.
    *
    * Shuffle-free per-row codegen'd expressions (`regexp_count` /
    * `array_contains`), like every scorer in this object: one scan at
    * any corpus size. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val nWords = tokenCount(t).cast(LongType)
    // non-space chars = total length of all tokens
    val nWordChars = length(regexp_replace(trim(t), "\\s+", "")).cast(LongType)
    val nSymbols = regexp_count(t, lit("#|\\.\\.\\.|…")).cast(LongType)
    val nLines = when(length(t) === 0, lit(0L))
      .otherwise(lit(1L) + regexp_count(t, lit("\n")).cast(LongType))
    val nBulletLines =
      regexp_count(concat(lit("\n"), t), lit("\n[ \\t]*[-*•]")).cast(LongType)
    val nEllipsisLines =
      regexp_count(concat(t, lit("\n")), lit("(\\.\\.\\.|…)[ \\t]*\n"))
        .cast(LongType)
    val nAlphaWords =
      regexp_count(t, lit("\\S*[A-Za-z]\\S*")).cast(LongType)
    val lowerToks = split(trim(lower(t)), "\\s+")
    val nRequiredStop = requiredStopwords
      .map(w => when(array_contains(lowerToks, w), 1L).otherwise(0L))
      .reduce(_ + _)
    df.select(col(idCol),
      nWords.as("n_words"),
      (nWords >= minWords && nWords <= maxWords).as("r_word_count"),
      (lit(3L) * nWords <= nWordChars &&
        nWordChars <= lit(10L) * nWords).as("r_mean_word_len"),
      (lit(10L) * nSymbols <= nWords).as("r_symbol_ratio"),
      (lit(10L) * nBulletLines < lit(9L) * nLines).as("r_bullet_lines"),
      (lit(10L) * nEllipsisLines < lit(3L) * nLines).as("r_ellipsis_lines"),
      (lit(10L) * nAlphaWords >= lit(8L) * nWords).as("r_alpha_words"),
      (nRequiredStop >= 2L).as("r_stopwords"))
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_bullet_lines") &&
          col("r_ellipsis_lines") && col("r_alpha_words") &&
          col("r_stopwords"))
  }

  /** The Gopher "required word" list: a doc must contain ≥ 2 of these. */
  val requiredStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Stopword-profile language ID: per language, count how many tokens hit
    * that language's marker list; predict the arg-max (ties broken by
    * language code order — deterministic). Pure column expressions, no UDF.
    *
    * This is the classic cheap n-gram/function-word heuristic; marker lists
    * are tiny and inlined into codegen, so it costs one tokenize per row.
    */
  val defaultMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "de", "que", "en", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "这", "人")
  )

  def languageId(
      df: DataFrame, textCol: String,
      markers: Map[String, Seq[String]] = defaultMarkers): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val langs = markers.keys.toSeq.sorted
    val scored = langs.foldLeft(df) { (acc, lang) =>
      acc.withColumn(s"score_$lang",
        size(filter(toks, w => w.isin(markers(lang).map(lit): _*)))
          .cast(LongType))
    }
    val best = langs.map(l => struct(col(s"score_$l").as("s"), lit(l).as("l")))
    // arg-max with deterministic tie-break: compare (score, reversed-code)
    val winner = best.reduce((a, b) =>
      when(b("s") > a("s"), b).otherwise(a))
    scored.withColumn("predicted_lang",
      when(winner("s") === 0, lit("und")).otherwise(winner("l")))
  }

  /** LANGUAGE-ID CONFUSION MATRIX — [[languageId]] audited against a
    * ground-truth label column: per (true, predicted) cell, the count
    * and the row share (recall when on the diagonal). The audit a
    * routing pipeline runs before trusting the classifier to split a
    * corpus into per-language branches — systematic confusion between
    * sibling languages shows up here as off-diagonal mass.
    *
    * Scale shape: the classifier is shuffle-free per-row scoring; the
    * confusion rollup is one map-side-combined aggregate over
    * |langs|² cells, and the row share windows over that tiny result,
    * never the corpus. */
  def languageIdConfusion(df: DataFrame, textCol: String,
      truthCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    languageId(df, textCol)
      .groupBy(col(truthCol).as("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_share",
        col("n").cast(DoubleType) /
          sum(col("n")).over(Window.partitionBy(col("lang"))))
  }

  /** COHEN'S KAPPA for the language router — chance-corrected agreement
    * between [[languageId]] and the ground-truth label: raw accuracy
    * flatters a router on an imbalanced corpus (predict the majority
    * language, score 80%); kappa subtracts the agreement the marginals
    * would produce by luck, `κ = (p_o − p_e)/(1 − p_e)`. One row out:
    * totals, observed/expected agreement, kappa (NULL when p_e = 1 —
    * a single-class degenerate table has no chance-corrected signal).
    *
    * Exactness: all counts and the marginal cross-product fold as exact
    * integers (the cross-product sums as DECIMAL(38,0) — headroom past
    * 10⁹-row corpora where n_r·n_c leaves the long range); the p_o, p_e
    * and κ doubles are one fixed op chain mirrored by the oracle.
    * Everything past the confusion matrix touches |langs|² cells. */
  def languageIdKappa(df: DataFrame, textCol: String,
      truthCol: String): DataFrame = {
    val conf = languageId(df, textCol)
      .groupBy(col(truthCol).as("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
    val rows = conf.groupBy(col("lang")).agg(sum(col("n")).as("nr"))
    val cols = conf.groupBy(col("predicted_lang"))
      .agg(sum(col("n")).as("nc"))
    val cross = rows.join(cols, col("lang") === col("predicted_lang"))
      // cast BEFORE the multiply: a long*long product wraps past 2^63
      // (nr, nc ~ 4e9 each) while the decimal product stays exact —
      // and matches the oracle's HUGEINT multiply
      .agg(sum(col("nr").cast(DecimalType(38, 0)) * col("nc"))
        .as("cross_dec"))
    conf.agg(sum(col("n")).as("n_total"),
        sum(when(col("lang") === col("predicted_lang"), col("n"))
          .otherwise(0L)).as("n_agree"))
      .crossJoin(broadcast(cross)) // 1-row scalar frame: keep the
      // no-unbroadcast-cartesian invariant uniform across the family
      .withColumn("p_observed",
        col("n_agree").cast(DoubleType) / col("n_total"))
      .withColumn("p_expected", col("cross_dec").cast(DoubleType) /
        (col("n_total").cast(DoubleType) * col("n_total").cast(DoubleType)))
      .withColumn("kappa", when(col("p_expected") < 1.0,
        (col("p_observed") - col("p_expected")) /
          (lit(1.0) - col("p_expected"))))
      .select("n_total", "n_agree", "p_observed", "p_expected", "kappa")
  }

  /** TOKENIZER FERTILITY — the per-language cost report for a tokenizer:
    * BPE tokens per whitespace word (fertility) and characters per BPE
    * token. A tokenizer trained on one language fragments the others —
    * fertility 2–3× means those corpora cost 2–3× the context budget;
    * THE table read before fixing a multilingual token budget. Ratios
    * are single double divisions of exact long sums. */
  def tokenizerFertility(df: DataFrame, idCol: String, textCol: String,
      langCol: String, merges: Seq[(String, String)]): DataFrame = {
    val base = df.select(col(idCol), col(langCol).as("lang"),
      when(length(trim(col(textCol))) === 0, 0L)
        .otherwise(size(filter(tokens(col(textCol)),
          w => length(w) > 0)).cast(LongType)).as("n_words"),
      length(col(textCol)).cast(LongType).as("n_chars"))
    base.join(bpeEncode(df, idCol, textCol, merges), Seq(idCol))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_bpe_tokens")).as("n_tokens"))
      .withColumn("fertility", when(col("n_words") > 0,
        col("n_tokens").cast(DoubleType) / col("n_words")))
      .withColumn("chars_per_token", when(col("n_tokens") > 0,
        col("n_chars").cast(DoubleType) / col("n_tokens")))
  }

  /** Document fingerprint #1 — content hash family:
    * `md5` (engine-portable), `xxhash64` (fast 64-bit), and a winnowing-ish
    * shingle fingerprint: the minimum md5 over sliding `n`-word shingles,
    * which is stable under small appends (unlike whole-text hashes). */
  def fingerprint(df: DataFrame, textCol: String, shingleWords: Int): DataFrame = {
    val sh = shingles(col(textCol), shingleWords)
    df.withColumn("md5_fp", md5(col(textCol).cast(BinaryType)))
      .withColumn("xx64_fp", xxhash64(col(textCol)))
      .withColumn("min_shingle_fp", array_min(transform(sh, s => md5(s.cast(BinaryType)))))
  }

  /** Document fingerprint #2 — winnowing (the MOSS rolling-window
    * fingerprint): hash every character `k`-gram, slide a window of `w`
    * consecutive gram hashes, keep each window's minimum — a document
    * pair sharing any sufficiently long substring is guaranteed to share
    * a fingerprint. Gram hashes are md5_60 (engine-portable, so the
    * DuckDB oracle reproduces the selection exactly; a Rabin–Karp
    * polynomial would be equivalent here but inexpressible in SQL).
    * Output: one `(id, fp)` row per distinct selected fingerprint.
    * Shuffle-free per-row column math; text shorter than `k` fingerprints
    * as its whole self. */
  def winnowedFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    winnowedFingerprintSets(df, idCol, textCol, k, w)
      .select(col(idCol), explode(col("fps")).as("fp"))
  }

  /** Per-document winnowed fingerprint SETS — the selection fused into
    * one row-local kernel chain: `winnow_grams` hashes every character
    * k-gram, `window_min_distinct` keeps each width-`w` window's minimum
    * and dedups. Entirely shuffle-free and codegen'd; the earlier
    * explode → window-min → distinct formulation paid a full shuffle on
    * the doc id for what is per-row arithmetic (the kernel is proven
    * bit-identical to it in KernelPropertySpec). Output:
    * `(idCol, fps ARRAY<BIGINT>)` — callers that need postings explode,
    * callers that need set sizes read `size(fps)` off the array for free. */
  def winnowedFingerprintSets(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    import graft.functions.WordShingleFunctions.{windowMinDistinct, winnowGrams}
    df.select(col(idCol),
      windowMinDistinct(winnowGrams(col(textCol), k), w).as("fps"))
  }

  /** PII scrubbing — the redaction stage of a curation pipeline: emails,
    * URLs, and long digit runs (ids/phones) are replaced with typed
    * placeholders. Patterns stay in the RE2∩Java common subset (no
    * lookaround, explicit classes) so any engine applies them
    * identically; `n_redactions` counts the matches that were replaced.
    * Pure per-row column expressions — one pass, no shuffle. */
  val scrubPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+" -> "<EMAIL>",
    "https?://[^ \\t\\n]+" -> "<URL>",
    "[0-9][0-9][0-9][0-9][0-9][0-9]+" -> "<NUM>")

  def scrub(df: DataFrame, textCol: String): DataFrame = {
    val scrubbed = scrubPatterns.foldLeft(col(textCol)) {
      case (c, (p, repl)) => regexp_replace(c, p, repl)
    }
    val redactions = scrubPatterns
      .map { case (p, _) => regexp_count(col(textCol), lit(p)) }
      .reduce(_ + _)
    df.withColumn("scrubbed", scrubbed)
      .withColumn("n_redactions", redactions.cast(LongType))
  }

  /** Canonical text normalization — the deterministic pre-hash cleanup
    * pass (dedup families hash RAW text; normalizing first makes
    * near-identical pages exact duplicates): strip control characters,
    * collapse whitespace runs to single spaces, trim, lowercase. All
    * patterns sit in the RE2∩Java subset. One shuffle-free pass.
    *
    * Engine-reproducibility caveat: the regex/trim steps are ASCII-exact
    * everywhere, but `lower` delegates to each engine's Unicode case
    * mapping — Java and DuckDB (utf8proc) agree on ASCII and common
    * Latin accents yet can differ on exotic codepoints (e.g. Turkish
    * U+0130 maps to "i"+combining-dot in Java but not in simple-mapping
    * engines). The oracle guarantee is therefore ASCII-plus-verified-
    * corpus, not all of Unicode. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1f\\x7f]", " "), "\\s+", " ")))

  /** Gopher-style repetition signals: the duplicate word / n-gram
    * fraction per document — high values flag boilerplate, keyword spam,
    * and templated pages for curation (the "repetition" family of the
    * Gopher/MassiveText quality rules). For each n,
    * `dup_fraction = 1 − |distinct n-grams| / |n-grams|`, computed with
    * the SAME shingle definition as the dedup family (short docs yield
    * one whole-text shingle, so the fraction is 0).
    *
    * Scale shape: one shuffle-free pass — totals come off the token
    * count, distinct counts off the native `word_shingles` kernel; no
    * explode, no per-doc aggregation. */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val nTok = size(tokens(col(textCol))).cast(LongType)
    def total(n: Int): Column =
      when(nTok < n, lit(1L)).otherwise(nTok - (n - 1))
    def distinctN(n: Int): Column =
      size(graft.functions.WordShingleFunctions
        .wordShingles(col(textCol), n)).cast(LongType)
    def frac(n: Int): Column =
      (total(n) - distinctN(n)).cast(DoubleType) / total(n).cast(DoubleType)
    df.select(col(idCol), nTok.as("n_tokens"),
      frac(1).as("dup_word_fraction"),
      frac(2).as("dup_bigram_fraction"),
      frac(3).as("dup_trigram_fraction"))
  }

  /** Fixed-size token-window chunking with overlap — the context-window
    * preparation step of a training pipeline (split each document into
    * `chunkSize`-token windows advancing by `chunkSize − overlap`).
    * Returns one row per chunk: `(id, chunk_id, chunk_text, n_chunk_tokens)`.
    *
    * Scale shape: one scan, zero shuffles — tokenization + window slicing
    * + explode happen per row; chunk counts are `⌈n/stride⌉` so output
    * size is proportional to input tokens, never quadratic. Deterministic
    * (pure function of the text), so fully oracle-checkable. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int = 0): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val toks = tokens(col(textCol))
    val n = size(toks)
    val starts = sequence(lit(0), greatest(n - 1, lit(0)), lit(stride))
    df.select(col(idCol), posexplode(transform(starts,
        s => concat_ws(" ", slice(toks, s + 1, lit(chunkSize)))))
        .as(Seq("chunk_id", "chunk_text")))
      .withColumn("chunk_id", col("chunk_id").cast(LongType))
      .withColumn("n_chunk_tokens",
        when(length(col("chunk_text")) === 0, lit(0L))
          .otherwise(size(split(col("chunk_text"), " ")).cast(LongType)))
  }

  /** Global vocabulary top-k: token → corpus frequency, ranked. The
    * counting aggregate is map-side combinable (one shuffle of partial
    * counts, not tokens... Spark's partial hash agg collapses repeats per
    * partition), and the top-k is a `TakeOrderedAndProject` — per-
    * partition top-k merged on the driver, no global sort. The final
    * `row_number` ranks only the k survivors. Ties break on the token
    * string, so ranking is deterministic and oracle-checkable. */
  def vocabulary(df: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    counts.orderBy(col("freq").desc, col("token")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("freq").desc, col("token"))).cast(LongType))
  }

  /** Bounded-memory heavy hitters — the 100 TB arm of [[vocabulary]].
    *
    * [[vocabulary]]'s `groupBy(token)` shuffles the ENTIRE distinct
    * vocabulary (web-scale corpora: billions of distinct tokens, nearly
    * all singletons) to find a top-k that only the head could win. The
    * classic two-phase exact algorithm bounds that:
    *
    *  1. '''Candidates''' — a single Misra-Gries-style pass
    *     (`stat.freqItems`): per-executor state ≤ 1/support items, and
    *     ANY token with frequency > support·N is guaranteed a candidate
    *     under every merge order. The driver holds the ≤ 1/support
    *     candidate list — the sketch output, bytes not a vocabulary.
    *  2. '''Exact recount''' — one more corpus pass counting ONLY
    *     candidates (broadcast semi-join): the shuffle carries at most
    *     1/support tokens instead of the vocabulary; sketch false
    *     positives die here, so counts are EXACT.
    *
    * Result == [[vocabulary]] (bit-for-bit, same ordering and ranks)
    * whenever the k-th most frequent token's frequency exceeds
    * support·N — pick `support ≤ f_k/N` and the output is exact, proven
    * by the same DuckDB oracle the exact query runs. */
  def heavyHitters(df: DataFrame, textCol: String, k: Int,
      support: Double = 1e-4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val cand = toks.stat.freqItems(Seq("token"), support)
      .collect()(0).getSeq[String](0)
    val candDf = df.sparkSession.createDataset(cand)(
      org.apache.spark.sql.Encoders.STRING).toDF("token")
    toks.join(broadcast(candDf), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("freq").desc, col("token"))).cast(LongType))
  }

  /** BPE pair statistics — round 1 of byte-pair-encoding tokenizer
    * training: split every word into characters and count adjacent
    * character pairs across the corpus, weighted by word frequency.
    * Returns the top `k` `(left, right, pair_count, rank)` — the pairs
    * the first merges would learn — ordered `(count desc, pair asc)`,
    * deterministic through ties.
    *
    * Scale shape: BPE statistics live on the VOCABULARY, not the
    * corpus — one `groupBy(word)` shuffle (map-side combined) reduces
    * 100 TB of text to a distinct-word table (MBs–GBs), and every pair
    * row after that carries a vocabulary entry's weight, never a corpus
    * occurrence. The pair expansion is a bounded per-word `sequence`
    * explode; the final top-k is `TakeOrderedAndProject`, no global
    * sort (the [[vocabulary]] discipline). */
  def bpePairStats(df: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = wordCounts(df, textCol)
      .filter(length(col("word")) >= 2)
      .select(col("wcount"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"),
        col("word"))
      .select(col("wcount"),
        expr("substring(word, i, 1)").as("left"),
        expr("substring(word, i + 1, 1)").as("right"))
      .groupBy(col("left"), col("right"))
      .agg(sum(col("wcount")).as("pair_count"))
    pairs.orderBy(col("pair_count").desc, col("left"), col("right")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("pair_count").desc, col("left"),
          col("right"))).cast(LongType))
  }

  /** Distinct words with corpus frequencies — the vocabulary table BPE
    * training iterates on. */
  private def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))

  /** BPE MERGE INDUCTION — learn an `nMerges`-rule byte-pair-encoding
    * merge table from the corpus (the training loop behind every
    * GPT/Llama-family tokenizer): repeatedly take the most frequent
    * adjacent symbol pair (ties: lexicographic — deterministic) and fuse
    * it into one symbol everywhere, greedy left-to-right within each
    * word ([a,a,a] under merge (a,a) → [aa,a], the reference BPE
    * semantics via an order-aware fold). Returns the learned table
    * `(rank, left, right, pair_count)` — rows ≤ `nMerges` (stops early
    * when no pair repeats).
    *
    * Scale shape: the corpus is touched ONCE (the [[bpePairStats]]
    * vocabulary reduction); every round after that is vocabulary-sized —
    * a bounded pair explode, one map-side-combined aggregate, and a
    * `limit(1)` argmax collected to the driver (one row per round, the
    * merge RULE — collecting the rule is the algorithm, not a
    * driver-side data loop). The per-word merge fold is a higher-order
    * `aggregate` over the symbol array — interpreted, not codegen'd,
    * which is the right trade on a vocabulary table (distinct words ≪
    * corpus; the codegen'd hot path already ran in the word count).
    * Each round re-persists the vocab and frees the previous one. */
  def bpeMerges(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = df.sparkSession
    import spark.implicits._
    var vocab = wordCounts(df, textCol)
      .select(split(col("word"), "").as("syms"), col("wcount"))
      .filter(size(col("syms")) > 0)
      .persist()
    vocab.count()
    val learned = scala.collection.mutable.ArrayBuffer.empty[
      (Long, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val top = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("wcount"),
          explode(expr(
            """transform(slice(syms, 1, size(syms) - 1),
              |  (s, i) -> struct(s AS l, element_at(syms, i + 2) AS r))"""
              .stripMargin)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wcount")).as("n"))
        .filter(col("n") >= 2) // a pair seen once can't help a tokenizer
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        learned += ((round + 1L, a, b, n))
        // greedy left-to-right fusion: fold symbols, merging when the
        // accumulated tail is `a` and the incoming symbol is `b` (a
        // just-fused symbol is `a ++ b`, which no longer equals `a`, so
        // overlaps cannot chain — the reference BPE contract)
        val next = vocab.select(
            fuseOnce(col("syms"), a, b).as("syms"), col("wcount"))
          .persist()
        next.count()
        vocab.unpersist(blocking = false)
        vocab = next
        round += 1
      }
    }
    vocab.unpersist(blocking = false)
    learned.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** HTML → text extraction — the first transform every web-corpus
    * pipeline runs. Deliberately regex-based and deterministic (the
    * C4/CCNet class of stripper, not a DOM parser): script/style blocks
    * and comments die first (non-greedy spans — RE2-safe, no
    * lookaround), remaining tags become spaces, then the common
    * entities decode (`&lt;`-family BEFORE `&amp;`, the standard
    * double-escape order — decoded angle brackets are literal text, the
    * tag pass is already over), and whitespace collapses. Every step is
    * a codegen'd `regexp_replace`/`replace` in the RE2∩Java subset with
    * a fixed chain order, so the DuckDB oracle mirrors it verbatim:
    * shuffle-free, one scan at any corpus size. */
  def stripHtml(text: Column): Column = {
    val noScript =
      regexp_replace(text, "(?is)<script\\b.*?</script\\s*>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style\\b.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val entities = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (c, (k, v)) => replace(c, lit(k), lit(v)) }
    trim(regexp_replace(replace(entities, lit("&amp;"), lit("&")),
      "\\s+", " "))
  }

  /** A fixed rank-ordered 8-rule merge table for the registry's encode
    * query — a model constant (like the linear-classifier weights), so
    * the DuckDB oracle can mirror the exact replace chain. */
  val referenceMerges: Seq[(String, String)] = Seq(
    ("e", "s"), ("s", "t"), ("t", "h"), ("th", "e"),
    ("i", "n"), ("a", "n"), ("an", "d"), ("e", "r"))

  /** BPE ENCODE — tokenize with a learned merge table (the inference
    * side of [[bpeMerges]]): each word starts as characters and the
    * merge rules apply in rank order, greedy left-to-right, the
    * reference BPE encode semantics. Output: `(id, n_bpe_tokens)` per
    * document — the token count under the LEARNED tokenizer (the exact
    * complement of the [[subwordCount]] regex proxy).
    *
    * The encode itself is a chain of plain `replace` calls on a
    * sentinel-delimited symbol string: symbols are joined as
    * `␁sym₁␁␁sym₂␁…` so every symbol carries its OWN delimiters, and
    * replacing `S a S S b S -> S ab S` left-to-right non-overlapping is
    * exactly the greedy fusion fold ([[bpeMerges]]'s aggregate) —
    * adjacent matches share no characters, so no boundary is ever
    * consumed twice, and `[a,a,a] → [aa,a]` falls out of the scan
    * order. Every step is a codegen'd built-in string function (no
    * HOF, no UDF, no custom kernel) and the SQL oracle mirrors the
    * same replace chain verbatim. Words must not contain ``
    * (impossible for whitespace-split tokens of scrubbed corpora;
    * [[normalize]] strips control chars upstream).
    *
    * Scale shape: one explode to words, the per-word replace chain
    * inside the scan, one map-side-combined count per doc — a single
    * narrow shuffle keyed on the id at any corpus size. The merge
    * table is bounded (it is a MODEL, like [[linearScore]] weights);
    * each rule adds one expression node, not a join. */
  /** Greedy left-to-right fusion of pair `(a, b)` over a symbol array —
    * one BPE merge application as an order-aware fold. A just-fused
    * symbol is `a ++ b`, which no longer equals `a`, so overlapping
    * occurrences cannot chain ([a,a,a] under (a,a) → [aa,a]): the
    * reference BPE contract. Shared by [[bpeMerges]] (training applies
    * the freshly-learned rule) and the cross-check spec that proves the
    * [[bpeTokens]] replace-chain computes the SAME function. */
  private[graft] def fuseOnce(syms: Column, a: String,
      b: String): Column = {
    val aLit = lit(a)
    val bLit = lit(b)
    aggregate(syms,
      array().cast(org.apache.spark.sql.types.ArrayType(StringType)),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === aLit && s === bLit,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(aLit, bLit))))
          .otherwise(concat(acc, array(s))))
  }

  /** The per-word BPE token array under `merges` via the sentinel
    * replace-chain — factored so the cross-check spec can compare it
    * element-for-element against the [[fuseOnce]] fold chain (the
    * compositional-fallback discipline every native kernel follows). */
  private[graft] def bpeTokens(word: Column,
      merges: Seq[(String, String)]): Column = {
    val S = "\u0001"
    // S c1 S S c2 S ...: char-split, rejoin with doubled sentinels
    val start = concat(lit(S), array_join(split(word, ""), S + S), lit(S))
    val encoded = merges.foldLeft(start) { case (acc, (a, b)) =>
      replace(acc, lit(S + a + S + S + b + S), lit(S + a + b + S))
    }
    transform(split(encoded, S + S),
      t => regexp_replace(t, lit(S), lit("")))
  }

  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeEncode needs at least one merge rule")
    val words = df.select(col(idCol),
      explode_outer(filter(tokens(col(textCol)),
        w => length(w) > 0)).as("word"))
    words
      .withColumn("n_sub", when(col("word").isNull, lit(0L))
        .otherwise(size(bpeTokens(col("word"), merges)).cast(LongType)))
      .groupBy(col(idCol))
      .agg(sum(col("n_sub")).as("n_bpe_tokens"))
  }

  /** Linear text classifier INFERENCE — the fastText/CCNet-style quality
    * filter shape: a document's score is the sum of its tokens' learned
    * weights (bag-of-words dot product) plus a bias, thresholded at 0.
    * Training happens offline; at corpus scale only inference runs, and
    * this is its exact Spark form:
    *
    *  - `weights` is a `(token, w_milli)` table (milli-units: integer
    *    fixed-point, so the logit is EXACT — bit-stable across
    *    partitionings and reproducible by any engine; a double dot
    *    product would make the keep/drop decision depend on summation
    *    order at the margin);
    *  - the corpus explodes to tokens once, probes the BROADCAST weight
    *    table (a model is KBs–MBs; never shuffle the corpus against it),
    *    and re-aggregates per document — one narrow shuffle keyed on the
    *    id, map-side combined. Unknown tokens weigh 0 (left join);
    *    token-less documents keep the bias.
    *
    * Output: `(id, logit_milli, keep)` with `keep = logit_milli > 0`. */
  def linearScore(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, biasMilli: Long = 0L): DataFrame = {
    // empties filtered INSIDE the array (tokens("") is [""]), then
    // explode_outer so token-less documents keep their bias-only row
    val toks = df
      .select(col(idCol), explode_outer(filter(tokens(col(textCol)),
        t => length(t) > 0)).as("token"))
    val weighted = toks
      .join(broadcast(weights.select(col("token"),
        col("w_milli").cast(LongType))), Seq("token"), "left")
    weighted.groupBy(col(idCol))
      .agg((coalesce(sum(col("w_milli")), lit(0L)) + biasMilli)
        .as("logit_milli"))
      .withColumn("keep", col("logit_milli") > 0L)
  }

  /** Out-of-vocabulary rate per document: the fraction of a document's
    * tokens NOT in the corpus top-`vocabK` vocabulary — the closed-class
    * coverage signal quality pipelines cut on (high OOV ⇒ junk,
    * boilerplate markup, or out-of-domain text). Exact integer rate in
    * milli-units: `oov_milli = 1000·n_oov div max(n_tokens, 1)`.
    *
    * Scale shape: the vocabulary is `vocabK` rows (bounded, broadcast);
    * the corpus makes one exploded pass through that broadcast join and
    * re-aggregates per doc with map-side combine — one narrow shuffle
    * keyed on the id, no corpus-side sort. Token-less documents survive
    * with a zero rate (left join back to the id spine). */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
      vocabK: Int): DataFrame = {
    val vocab = vocabulary(docs, textCol, vocabK)
      .select(col("token"), lit(true).as("in_vocab"))
    val perDoc = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, lit(1))).as("n_oov"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_milli",
        expr("(n_oov * 1000L) div greatest(n_tokens, 1L)"))
  }

  /** BM25 relevance scoring with RATIONAL arithmetic — rank documents
    * against a fixed term list without `ln`/floating transcendentals
    * (whose bit patterns differ engine-to-engine, killing cross-engine
    * determinism). Every factor of Robertson/Sparck-Jones BM25 at
    * k1 = 6/5, b = 3/4 is an integer ratio:
    *
    *   idf(t)    = (N − df + ½)/(df + ½)        = (2(N−df)+1)/(2df+1)
    *   sat(t,d)  = tf·(k1+1)/(tf + k1(1−b+b·dl·N/L))
    *             = 44·tf·L / (20·tf·L + 6·L + 18·dl·N)   [×20L]
    *   sat_fp    = (10⁶ · sat_num) div sat_den            [≤ 2.2·10⁶]
    *   score(d)  = Σ_t  (idf_num · sat_fp) div idf_den
    *
    * with N = corpus size, L = total token count, dl = doc length. The
    * saturation is fixed-pointed FIRST so every intermediate is bounded
    * at 100 TB scale (N ≈ 10¹¹ docs, L ≈ 10¹⁵ tokens, tf ≤ dl ≤ 10⁹):
    * the sat numerator 4.4·10⁷·tf·L ≤ ~10³² stays exact in
    * DECIMAL(38,0); sat_fp ≤ (k1+1)·10⁶; the idf numerator
    * (2(N−df)+1)·sat_fp ≤ ~10¹⁸; and each contribution
    * ≤ (2N/3)·2.2·10⁶ ≈ 10¹⁷ fits the BIGINT that Spark's `div`
    * returns. (A single fused division — the obvious form — needs
    * 10⁶·(2(N−df)+1)·44·tf·L ≈ 10³¹·tf in its numerator, which
    * overflows DECIMAL(38,0) for tf ≥ ~10⁷ and in non-ANSI mode
    * silently NULLs the term's contribution.) Both divisions are
    * truncating integer division on non-negative operands — the only
    * division Spark (`div`) and DuckDB (`//`) define identically — so
    * the fixed-point scores (and the ranking) are deterministic and
    * fully oracle-checkable. Rank-equivalent to real BM25 up to the
    * 10⁻⁶ fixed-point grain; idf is the non-negative BM25+ rational
    * (classic BM25 wraps it in ln, a monotone per-term map — summation
    * across terms makes any transcendental-free scoring a documented
    * variant, not bit-BM25).
    *
    * Scale shape: two column-pruned corpus scans — corpus constants
    * N and L, then term frequencies, where the term filter drops every
    * non-query token map-side before the groupBy shuffle. The tf table
    * (query-term rows only — tiny relative to the corpus) materializes
    * once (`Lifetime.seal`) and feeds BOTH the per-term df counts and
    * the scoring join; left lazy, Spark re-plans the df branch as a
    * distinct-shaped aggregate whose exchange cannot reuse tf's, and
    * the corpus gets scanned and exploded a third time. The tiny df and
    * constants tables broadcast, and the top-k is
    * `TakeOrderedAndProject` (per-partition top-k, no global sort);
    * `row_number` ranks only the k survivors. */
  def bm25Rational(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty, "bm25Rational needs at least one query term")
    // dl = size of the whitespace split (an empty doc splits to [""] on
    // both engines → dl = 1; empty docs never match a term, so they only
    // feed the corpus constants, identically on both sides).
    val base = df.select(col(idCol).as("doc_id"),
      size(tokens(col(textCol))).cast(LongType).as("dl"),
      tokens(col(textCol)).as("arr"))
    val consts = base.agg(count(lit(1)).as("nn"), sum(col("dl")).as("ll"))
    val tf = Lifetime.seal(base
      .select(col("doc_id"), col("dl"), explode(col("arr")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf")))
    val dfq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val contrib = expr(
      """(CAST(2 * (nn - df) + 1 AS DECIMAL(38,0))
        |  * CAST(
        |      (CAST(1000000 AS DECIMAL(38,0)) * CAST(44 AS DECIMAL(38,0))
        |        * CAST(tf AS DECIMAL(38,0)) * CAST(ll AS DECIMAL(38,0)))
        |      div
        |      (CAST(20 AS DECIMAL(38,0)) * CAST(tf AS DECIMAL(38,0))
        |          * CAST(ll AS DECIMAL(38,0))
        |        + CAST(6 AS DECIMAL(38,0)) * CAST(ll AS DECIMAL(38,0))
        |        + CAST(18 AS DECIMAL(38,0)) * CAST(dl AS DECIMAL(38,0))
        |          * CAST(nn AS DECIMAL(38,0)))
        |    AS DECIMAL(38,0)))
        |div
        |CAST(2 * df + 1 AS DECIMAL(38,0))""".stripMargin)
    val scores = tf
      .join(broadcast(dfq), Seq("tok"))
      .crossJoin(broadcast(consts))
      .withColumn("contrib", contrib)
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
    scores.orderBy(col("score").desc, col("doc_id")).limit(topK)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).cast(LongType))
  }

  /** FEATURE-HASHING DOCUMENT VECTORS (the hashing trick, Weinberger
    * et al. 2009) — a model-free text→vector bridge: every token lands
    * in bucket `md5_60(token) mod dims` and the document's vector is
    * the per-bucket token count, emitted as `dims` integer columns
    * `f0…f{dims−1}`. This is how a pipeline gets clusterable /
    * ANN-searchable vectors for corpora that have no learned embedding
    * yet — the output plugs directly into the `Similarity` family (or
    * [[Embeddings.covariance]]) as an `array(f0, …)` column. Exact
    * BIGINT counts, no normalization baked in (consumers divide by
    * their own norm so the stored vector stays integral).
    *
    * Scale shape: one scan, one explode, ONE map-side-combinable hash
    * aggregate keyed on the doc — the `dims` conditional counters fold
    * in the partial aggregate, so no (doc, bucket) intermediate
    * shuffle and no pivot pass. `dims` is a schema constant (16–1024
    * in practice); the hash keeps memory per row at `dims` longs. */
  def featureHashVectors(df: DataFrame, idCol: String, textCol: String,
      dims: Int = 16): DataFrame = {
    require(dims > 0, "dims must be positive")
    val t = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("bkt", pmod(Dedup.md5_60(col("tok")), lit(dims.toLong)))
    t.groupBy(col("doc_id"))
      .agg(
        (0 until dims).map(i =>
          sum(when(col("bkt") === i.toLong, 1L).otherwise(0L)).as(s"f$i")).head,
        (1 until dims).map(i =>
          sum(when(col("bkt") === i.toLong, 1L).otherwise(0L)).as(s"f$i")): _*)
  }

  /** N-GRAM NOVELTY / MEMORIZATION-RISK SCORE — per document, the
    * fraction of its distinct `shingleWords`-grams that occur in NO
    * other document. Low novelty means the document is stitched from
    * corpus-repeated blocks (boilerplate, templates, quotations) — the
    * per-document complement of [[Dedup.spanDuplicationProfile]]'s
    * corpus totals, and the score memorization audits rank documents by
    * before training. Short documents (< `shingleWords` words) count as
    * one whole-document shingle, so every document scores and the
    * division is never by zero.
    *
    * Scale shape: one scan shingles the corpus (native `word_shingles`
    * kernel, distinct within doc); the sealed postings fold to
    * document frequencies with a map-side-combined count and join BACK
    * to the same postings co-partitioned on the shingle — two
    * shuffles, both postings-sized, no self-join of the raw corpus;
    * the per-doc rollup rides the doc key. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // read twice, by the df fold and the join-back: two different
    // exchanges, so left lazy the corpus would be shingled twice
    val post = Lifetime.seal(df.select(col(idCol).cast(LongType).as("doc_id"),
        graft.functions.WordShingleFunctions
          .wordShingles(col(textCol), shingleWords).as("sh_arr"))
      .select(col("doc_id"), explode(col("sh_arr")).as("shingle")))
    val dfq = post.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df")) // postings are distinct per doc
    Lifetime.seal(
      post.join(dfq, Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          col("n_novel").cast(DoubleType) / col("n_grams")),
      post)
  }

  /** HYBRID RETRIEVAL via reciprocal-rank fusion (Cormack et al. 2009) —
    * the standard way a training-data pipeline combines a lexical and a
    * semantic retriever without calibrating their incomparable scores:
    * fetch the top-`n` of each list, then fuse by rank alone,
    * `rrf(d) = Σ_lists 1/(c + rank_list(d))`, and keep the top-`k`.
    *
    * The lexical list is [[bm25Rational]] (exact fixed-point BM25); the
    * semantic list is the exact quantized cosine top-`n` of one query
    * vector ([[Similarity.bruteForceTopK]]). The fused score is held as
    * an exact integer — `⌊10¹²/(c+r)⌋` per list, summed — so engines
    * agree to the bit and ties break on `doc_id`. A document present in
    * only one list contributes only that list's term (the RRF convention:
    * missing rank ⇒ zero contribution, not a penalty).
    *
    * Scale shape: both retriever lists are already bounded at `n` rows,
    * so the fusion join, the fused sort, and the final window all run on
    * at most `2n` rows per query — the expensive parts are the
    * retrievers themselves, each audited separately ([[bm25Rational]]'s
    * postings pruning, the ANN family's candidate bounds; swap the brute
    * arm for [[Similarity.binaryTopK]]/IVF at corpus scale). */
  def hybridRrfTopK(docs: DataFrame, docId: String, textCol: String,
      terms: Seq[String],
      embs: DataFrame, embId: String, vecCol: String, queryVecId: Long,
      n: Int, k: Int, c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Rational(docs, docId, textCol, terms, n)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val sem = Similarity.bruteForceTopK(
        embs.filter(col(embId) === queryVecId), embId, vecCol,
        embs, embId, vecCol, k = n, cosine = true)
      .select(col("corpus_id").as("doc_id"), col("rank").as("sem_rank"))
    val w = Window.orderBy(col("rrf").desc, col("doc_id"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr(s"CAST(1000000000000 div ($c + lex_rank) AS BIGINT)"),
          lit(0L)) +
        coalesce(expr(s"CAST(1000000000000 div ($c + sem_rank) AS BIGINT)"),
          lit(0L)))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("doc_id", "lex_rank", "sem_rank", "rrf", "rank")
  }

  /** CCNet-style language-model perplexity scoring with EXACT fixed-point
    * arithmetic: train an add-α-smoothed bigram LM on a clean reference
    * slice, score every document by its negative log-likelihood, and rank
    * for head/middle/tail quality bucketing — the published web-corpus
    * curation recipe (CCNet, Wenzek et al. 2020; the quality filter behind
    * LLaMA/CCNet-derived corpora), re-expressed so both engines agree to
    * the bit.
    *
    * The transcendental problem: perplexity is exp/ln-based, and libm
    * rounding differs engine-to-engine, so real-valued NLL cannot be
    * hash-compared (same reason [[bm25Rational]] rationalizes idf). Here
    * every conditional probability is an integer rational
    *
    *   p(w₂|w₁) = (c·s + a) / (cctx·s + a·V·s/s)  =  A/B,
    *   A = c·s + a,  B = cctx·s + a·V        (α = a/s, add-α smoothing)
    *
    * with c = reference count of the bigram, cctx = Σ_w c(w₁,w) the
    * context total, V = reference vocabulary size + 1 (the OOV class),
    * and the per-bigram cost is log2 QUANTIZED TO QUARTER BITS by the
    * exact integer identity floor(4·log2(B/A)) = bitlen(⌊B⁴/A⁴⌋) − 1
    * ([[graft.functions.FixedLogImpl.log2QuarterBits]] — BigInteger-exact
    * at any corpus scale; the DuckDB oracle states the same value in
    * HUGEINT). A document's `nll_qbits` is the sum of its bigram costs
    * (quarter-bits of total negative log₂-likelihood, exact integer) and
    * `milli_bits_per_token = (1000·nll_qbits) div (4·max(n,1))` is the
    * quantized bits-per-token figure CCNet thresholds on. Quantization
    * costs at most 0.25 bits per bigram of precision — far inside the
    * head/middle/tail bucket widths — and buys bit-determinism.
    *
    * Unseen events degrade exactly like the smoothed model says: seen
    * bigram → A = c·s+a; seen context, unseen bigram → A = a; unseen
    * context → p = 1/V (cost = floor(4·log2 V)).
    *
    * Scale shape: the reference corpus is scanned exactly TWICE — once
    * for the bigram counts, once for the vocabulary size — and both
    * results are sealed as model-sized checkpoints, so context totals
    * and the two cost tables derive from checkpointed blocks, never a
    * re-scan (without the seal, Catalyst re-plans the whole reference
    * pipeline under every subtree that uses it — 5+ scans of a slice
    * that can be TBs at corpus scale). Scoring is the doc-bigram stream
    * left-joined to the (pair, context) cost tables — unhinted, so AQE
    * broadcasts a model that fits and shuffle-joins one that does not —
    * then one groupBy(doc_id). The DOCUMENT corpus is scanned exactly
    * once (explode_outer keeps zero-bigram docs in the same pass — no
    * join-back). No driver-side state, no
    * transcendentals, no UDFs in the corpus-sized path. The
    * returned frame depends on the sealed cost tables — a session sweep
    * reclaims them (the per-operator contract in [[graft.operators.Lifetime]]). */
  def lmPerplexity(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String,
      alphaNum: Int = 1, alphaDen: Int = 10): DataFrame =
    trainLm(ref, refTextCol, alphaNum, alphaDen)
      .score(docs, idCol, textCol)

  /** A trained (FROZEN) fixed-point bigram LM: checkpointed cost tables
    * plus the join that prices a bigram stream. `costed` appends
    * `cost<suffix>` (null exactly on the explode_outer placeholder
    * row); `score` prices a whole document corpus — including each
    * micro-batch of a stream, since the model is static and scoring is
    * stateless given it. */
  final case class LmModel private[TextAnalysis] (
      pairSide: DataFrame, ctxSide: DataFrame,
      vrow: DataFrame, suffix: String,
      private[TextAnalysis] val a: Column,
      private[TextAnalysis] val s: Column) {
    private[TextAnalysis] def costed(bigrams: DataFrame): DataFrame = {
      import graft.functions.FixedLogFunctions.log2QuarterBits
      bigrams
        .join(pairSide, Seq("w1", "w2"), "left")
        .join(ctxSide, Seq("w1"), "left")
        .crossJoin(broadcast(vrow))
        .withColumn("cost" + suffix, when(col("w1").isNotNull,
          coalesce(col("pair_cost" + suffix), col("ctx_cost" + suffix),
            log2QuarterBits(a, a * col("v" + suffix)))))
        .drop("pair_cost" + suffix, "ctx_cost" + suffix, "v" + suffix)
    }

    /** Quarter-bit NLL per document under this frozen model — the
      * scoring half of [[TextAnalysis.lmPerplexity]]. */
    def score(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
      graft.functions.GraftFunctions.register(docs.sparkSession)
      docBigrams(docs, idCol, textCol)
        .transform(costed)
        .groupBy(col("doc_id"))
        .agg(count(col("cost" + suffix)).as("n_bigrams"),
          coalesce(sum(col("cost" + suffix)), lit(0L)).as("nll_qbits"))
        .withColumn("milli_bits_per_token",
          expr("(nll_qbits * 1000L) div (4L * greatest(n_bigrams, 1L))"))
    }
  }

  /** Train the add-α bigram model on `ref`: exactly TWO reference scans
    * (bigram counts, vocabulary), both sealed as model-sized checkpoints
    * so every table derived from them reads checkpointed blocks, never
    * the corpus (without the seal Catalyst re-plans the whole reference
    * pipeline under each subtree — 5+ scans of a slice that can be TBs).
    * Cost tables stay lazy (model-sized recompute is free) and carry no
    * join hint: AQE sizes them at run time. The checkpoints live until a
    * session sweep ([[Lifetime]] contract). */
  def trainLm(ref: DataFrame, refTextCol: String,
      alphaNum: Int = 1, alphaDen: Int = 10,
      suffix: String = ""): LmModel = {
    require(alphaNum >= 1 && alphaDen >= 1,
      "lm scoring needs a positive rational α = alphaNum/alphaDen")
    graft.functions.GraftFunctions.register(ref.sparkSession)
    import graft.functions.FixedLogFunctions.log2QuarterBits
    val a = lit(alphaNum.toLong); val s = lit(alphaDen.toLong)
    val refArr = ref.select(tokens(col(refTextCol)).as("arr"))
    // reference scan #1: bigram counts
    val pc = refArr.filter(size(col("arr")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("arr")) - 2),
        i => struct(element_at(col("arr"), i + 1).as("w1"),
          element_at(col("arr"), i + 2).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    // pc and vrow each feed two branches of every plan that scores with
    // the model; each branch pair shares one reused exchange
    val ctx = pc.groupBy(col("w1")).agg(sum(col("c")).as("cctx"))
    // reference scan #2: V = distinct non-empty tokens + 1 (the OOV
    // class). Not derivable from pc — single-token documents contribute
    // vocabulary but no bigrams.
    val vrow = refArr.select(explode(col("arr")).as("tok"))
      .filter(length(col("tok")) > 0)
      .agg((count_distinct(col("tok")) + 1).as("v" + suffix))
    val v = col("v" + suffix)
    val pairCosts = pc.join(ctx, Seq("w1")).crossJoin(broadcast(vrow))
      .select(col("w1"), col("w2"),
        log2QuarterBits(col("c") * s + a, col("cctx") * s + a * v)
          .as("pair_cost" + suffix))
    val ctxCosts = ctx.crossJoin(broadcast(vrow))
      .select(col("w1"),
        log2QuarterBits(a, col("cctx") * s + a * v).as("ctx_cost" + suffix))
    LmModel(pairCosts, ctxCosts, vrow, suffix, a, s)
  }

  /** ONE corpus scan: explode_outer keeps zero-bigram documents as a
    * single all-null row (the ungated `when` is null below 2 tokens), so
    * a downstream groupBy covers every document and no corpus-wide
    * join-back (a second scan + sort-merge join) is needed. Cost columns
    * are gated on w1 (real tokens are never null), so the placeholder
    * row prices to null and sums to 0. */
  private def docBigrams(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol).cast(LongType).as("doc_id"),
        tokens(col(textCol)).as("arr"))
      .select(col("doc_id"), explode_outer(when(size(col("arr")) >= 2,
        transform(sequence(lit(0), size(col("arr")) - 2),
          i => struct(element_at(col("arr"), i + 1).as("w1"),
            element_at(col("arr"), i + 2).as("w2"))))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): train the SAME
    * fixed-point bigram LM on a target (in-domain) slice and on a
    * background (raw) slice, and score every document by the exact
    * quarter-bit log-likelihood ratio
    *
    *   importance_qbits = nll_background − nll_target
    *                    ≈ 4·log2( p_target(doc) / p_background(doc) )
    *
    * — positive when the document looks more like the target corpus than
    * like the raw pool, the published importance weight with hashed
    * n-gram features replaced by the exact bigram tables (and therefore
    * bit-reproducible cross-engine, unlike the float log-ratios in the
    * paper's implementation).
    *
    * Scale shape: both models are built by [[lmModel]] (two bounded
    * scans each, checkpoint-sealed); the document corpus is scanned
    * ONCE — the same bigram stream is priced under both models in one
    * pass (four unhinted cost-table joins), then one groupBy(doc_id). */
  def dsirImportance(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      background: DataFrame, bgTextCol: String,
      alphaNum: Int = 1, alphaDen: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val mt = trainLm(target, targetTextCol, alphaNum, alphaDen,
      suffix = "_t")
    val mb = trainLm(background, bgTextCol, alphaNum, alphaDen,
      suffix = "_b")
    docBigrams(docs, idCol, textCol)
      .transform(mt.costed)
      .transform(mb.costed)
      .groupBy(col("doc_id"))
      .agg(count(col("cost_t")).as("n_bigrams"),
        coalesce(sum(col("cost_t")), lit(0L)).as("nll_target_qbits"),
        coalesce(sum(col("cost_b")), lit(0L)).as("nll_background_qbits"))
      .withColumn("importance_qbits",
        col("nll_background_qbits") - col("nll_target_qbits"))
  }

  /** DSIR selection: the top `k` documents by importance (desc, ties by
    * doc_id). `orderBy.limit(k)` is TakeOrderedAndProject — map-side
    * top-k, no global sort — and `row_number` ranks only the k
    * survivors. */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      background: DataFrame, bgTextCol: String, k: Int,
      alphaNum: Int = 1, alphaDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    dsirImportance(docs, idCol, textCol, target, targetTextCol,
      background, bgTextCol, alphaNum, alphaDen)
      .orderBy(col("importance_qbits").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("importance_qbits").desc, col("doc_id")))
        .cast(LongType))
  }

  /** Unicode-script profile per document — the writing-system companion
    * to [[languageId]] (which is n-gram-based and Latin-centric): counts
    * of characters per major script plus digits/whitespace/other, and
    * the dominant script. This is the CCNet/fastText-preprocessing
    * signal that routes documents to per-script pipelines and catches
    * mixed-script spam (e.g. Cyrillic homoglyphs inside Latin text)
    * before any tokenizer sees them.
    *
    * Portability: classes are explicit CODEPOINT-RANGE character
    * classes (Unicode blocks, stable across Unicode versions), never
    * `\p{script=…}` properties — Java regex and RE2 disagree on
    * property spelling and table version, but `[Ѐ-ԯ]` means
    * the same thing everywhere (the oracle states the same ranges in
    * RE2's `\x{…}` spelling). Counting is the [[quality]] idiom:
    * `length − length(regexp_replace(cls, ''))`. CJK counts the whole
    * 2E80–9FFF span (radicals, kana, jamo, CJK punctuation) plus
    * Hangul syllables and compatibility ideographs — block-level, like
    * the published script routers. `main_script` is the argmax over
    * the five scripts with ties broken in the listed priority order;
    * all-zero → 'none'.
    *
    * Shuffle-free per-row codegen'd projections: one scan at any
    * corpus size. */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(cls: String): Column =
      (length(t) - length(regexp_replace(t, cls, ""))).cast(LongType)
    val nLatin = cnt("[A-Za-zÀ-ÖØ-öø-ɏ]")
    val nCyr = cnt("[Ѐ-ԯ]")
    val nGreek = cnt("[Ͱ-Ͽἀ-῿]")
    val nArabic = cnt("[؀-ۿݐ-ݿ]")
    val nCjk = cnt("[⺀-鿿가-힯豈-﫿]")
    val nDigit = cnt("[0-9]")
    val nSpace = cnt("[ \\t\\n\\r\\f\\x0B]")
    df.select(col(idCol).as("doc_id"),
        length(t).cast(LongType).as("n_chars"),
        nLatin.as("n_latin"), nCyr.as("n_cyrillic"),
        nGreek.as("n_greek"), nArabic.as("n_arabic"), nCjk.as("n_cjk"),
        nDigit.as("n_digit"), nSpace.as("n_space"))
      .withColumn("n_other",
        col("n_chars") - col("n_latin") - col("n_cyrillic") -
          col("n_greek") - col("n_arabic") - col("n_cjk") -
          col("n_digit") - col("n_space"))
      .withColumn("main_script",
        when(col("n_latin") >= col("n_cyrillic") &&
             col("n_latin") >= col("n_greek") &&
             col("n_latin") >= col("n_arabic") &&
             col("n_latin") >= col("n_cjk") && col("n_latin") > 0, "latin")
        .when(col("n_cyrillic") >= col("n_greek") &&
              col("n_cyrillic") >= col("n_arabic") &&
              col("n_cyrillic") >= col("n_cjk") &&
              col("n_cyrillic") > 0, "cyrillic")
        .when(col("n_greek") >= col("n_arabic") &&
              col("n_greek") >= col("n_cjk") && col("n_greek") > 0, "greek")
        .when(col("n_arabic") >= col("n_cjk") &&
              col("n_arabic") > 0, "arabic")
        .when(col("n_cjk") > 0, "cjk")
        .otherwise("none"))
  }

  /** TF-IDF top-`k` keywords per document — the per-document complement
    * of [[bm25Rational]] (which scores documents against one fixed query;
    * this surfaces each document's OWN most distinctive terms, the
    * classic keyword-extraction / topic-telemetry pass a curation
    * pipeline runs to label clusters and spot boilerplate).
    *
    * Transcendental-free like every ranked operator here: idf is
    * quantized to quarter bits by the exact integer identity
    * `floor(4·log2(N/df)) = bitlen(⌊N⁴/df⁴⌋) − 1`
    * ([[graft.functions.FixedLogImpl.log2QuarterBits]]; the DuckDB
    * oracle states the same value in HUGEINT), so
    * `score = tf · idf_qb` is an exact BIGINT both engines agree on.
    * A term in every document prices to idf_qb = 0 — stopwords rank
    * last without a stop list, which is the point of idf.
    *
    * Scale shape: ONE corpus scan collapses to the compact
    * `(doc, token) → tf` postings aggregate (map-side combined), sealed
    * (`Lifetime.seal`) — left lazy, the df branch re-plans as a
    * distinct-shaped aggregate whose exchange cannot reuse tf's, a
    * second corpus scan + explode (the [[bm25Rational]] lesson). df is a `groupBy(token)` over those
    * postings (partial aggregation absorbs the stopword hot keys
    * map-side — deliberately NOT a `count over (partition by token)`
    * window, which would ship every posting of a web-scale stopword
    * into one partition), the postings⨝df join is AQE-skew-splittable,
    * the doc-count constant broadcasts, and the per-document top-k is a
    * `row_number ≤ k` planned as map-side `WindowGroupLimit` — the
    * shuffle carries O(docs·k), never the full postings. */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.FixedLogFunctions.log2QuarterBits
    graft.functions.GraftFunctions.register(df.sparkSession)
    val consts = df.agg(count(lit(1)).as("nn"))
    val tf = Lifetime.seal(df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val dfq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(dfq, Seq("token"))
      .crossJoin(broadcast(consts))
      .withColumn("idf_qb", log2QuarterBits(col("df"), col("nn")))
      .withColumn("score", col("tf") * col("idf_qb"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("idf_qb"),
        col("score"), col("rank"))
  }

  /** PMI COLLOCATIONS — top multi-word expressions by pointwise mutual
    * information over adjacent bigrams, the corpus-analysis pass behind
    * tokenizer vocabulary design ("new york" should be one token) and
    * boilerplate discovery. PMI's log is transcendental, so like
    * [[lmPerplexity]] the score is stated in exact quarter bits as a
    * DIFFERENCE of per-term floors:
    *
    *   pmi_qb = qb(c_a, N_ug) + qb(c_b, N_ug) − qb(c_ab, N_bg),
    *   qb(a, b) = floor(4·log2(b/a))
    *
    * — within 0.75 bits of 4·PMI (three independent floors), exact
    * BIGINT, identical in DuckDB's HUGEINT statement. `minCount` prunes
    * the unstable low-count tail (the standard PMI guard: a hapax pair
    * otherwise maxes the score).
    *
    * Scale shape: one corpus scan feeds the bigram stream (the
    * [[docBigrams]] single-pass explode) and one the unigram stream;
    * both collapse to map-side-combined count tables; the pair table
    * joins the vocab-sized unigram counts (hash joins on the token key,
    * AQE-skew-safe), the two scalar totals broadcast, and the top-k is
    * `TakeOrderedAndProject`. */
  def collocations(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.FixedLogFunctions.log2QuarterBits
    graft.functions.GraftFunctions.register(df.sparkSession)
    val bg = docBigrams(df, idCol, textCol).filter(col("w1").isNotNull)
    val nBg = bg.agg(count(lit(1)).as("n_bg"))
    val toks = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    val nUg = toks.agg(count(lit(1)).as("n_ug"))
    val ug = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val pairs = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val scored = pairs
      .join(ug.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(ug.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(nUg)).crossJoin(broadcast(nBg))
      .withColumn("pmi_qb",
        log2QuarterBits(col("c_a"), col("n_ug")) +
          log2QuarterBits(col("c_b"), col("n_ug")) -
          log2QuarterBits(col("c_ab"), col("n_bg")))
      .select(col("w1"), col("w2"), col("c_ab"), col("pmi_qb"))
    scored.orderBy(col("pmi_qb").desc, col("w1"), col("w2")).limit(topK)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("pmi_qb").desc, col("w1"), col("w2")))
        .cast(LongType))
  }

  /** Edit-distance-1 fuzzy pairs within the top-`topK` vocabulary — the
    * typo-clustering pass (misspelled variants of frequent terms inflate
    * vocabulary and fragment counts; pairing each with its high-frequency
    * `survivor` is the standard normalization table). This is an
    * APPROXIMATE STRING JOIN: the all-pairs O(k²·len) comparison is
    * avoided by FastSS deletion-neighborhood blocking (Bocek et al.
    * 2007) — every token posts itself plus each single-character
    * deletion, and any distance-1 pair (substitution, insertion, or
    * deletion) provably shares a posting key, so the bucket join is
    * LOSSLESS; sharing a key is not sufficient (e.g. transposed "ab"/
    * "ba" share two), so candidates verify with the codegen'd built-in
    * `levenshtein`. The oracle brute-forces all pairs over the same
    * vocabulary, independently proving the blocking loses nothing.
    *
    * Scale shape: one corpus scan (the [[vocabulary]] count) collapses
    * everything to the k-row vocabulary; postings fan out O(k·len) keys,
    * pairs expand in-bucket via [[Dedup.bucketPairs]]
    * (buckets are variant-keyed — bounded by alphabet × len, no hot
    * key), and verification is per-candidate. Output: `(tok_a, tok_b,
    * freq_a, freq_b, survivor)`, `tok_a < tok_b`, survivor = the
    * higher-frequency side (ties → `tok_a`). */
  def fuzzyVocabPairs(df: DataFrame, textCol: String,
      topK: Int): DataFrame =
    fuzzyPairs(vocabulary(df, textCol, topK).select(col("token"), col("freq")))

  /** Character `n`-gram vocabulary top-k — [[vocabulary]] over sliding
    * char grams (frequency-weighted, non-distinct per doc; text shorter
    * than `n` contributes itself whole). The gram-level view catches
    * what whole-word counts cannot: OCR noise and tokenizer-splitting
    * hotspots live at the sub-word level. Same scale shape as
    * [[vocabulary]]: map-side-combined counts, `TakeOrderedAndProject`
    * top-k. */
  def charGramVocabulary(df: DataFrame, textCol: String, n: Int,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = transform(
      sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1))),
      i => col(textCol).substr(i, lit(n)))
    val counts = df.select(explode(grams).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    counts.orderBy(col("freq").desc, col("token")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("freq").desc, col("token"))).cast(LongType))
  }

  /** The blocking+verify tail of [[fuzzyVocabPairs]] over any
    * `(token, freq)` vocabulary frame. */
  def fuzzyPairs(vocab: DataFrame): DataFrame = {
    val dels = transform(sequence(lit(1), length(col("token"))),
      i => concat(col("token").substr(lit(1), i - 1),
        col("token").substr(i + 1, length(col("token")))))
    val posts = vocab.select(col("token"), col("freq"),
      explode(array_union(array(col("token")), array_distinct(dels)))
        .as("variant"))
    Dedup.bucketPairs(posts, Seq("variant"), Seq("token", "freq"))
      .select(col("token_a").as("tok_a"), col("token_b").as("tok_b"),
        col("freq_a"), col("freq_b"))
      .distinct()
      .filter(levenshtein(col("tok_a"), col("tok_b")) === 1)
      .withColumn("survivor",
        when(col("freq_a") >= col("freq_b"), col("tok_a"))
          .otherwise(col("tok_b")))
  }

  /** Sliding word `n`-gram shingles as an array column (distinct, to make
    * set semantics explicit for Jaccard). Text with fewer than `n` words
    * yields one shingle = the whole trimmed text. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val count = size(toks)
    when(count < n, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(transform(
        sequence(lit(0), count - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** VOCABULARY COVERAGE CURVE — the Zipf statistic a tokenizer or
    * vocab budget is sized against: what share of the corpus's TOKEN
    * MASS do the top-K types cover? (Heaps/Zipf corpora concentrate
    * hard: a few hundred types usually carry most tokens, and the
    * curve's tail is what a `<unk>` rate will be.) One row per K in
    * `ks`: types used (≤ K), covered token count, total token count,
    * coverage share.
    *
    * Exactness: pure integer counting; the share is ONE double
    * division of exact longs per row. Scale shape: one map-combined
    * type-count pass; the curve reads ONLY the top max(K) types via
    * `orderBy().limit()` (TakeOrderedAndProject — never a global sort
    * or a vocab-sized window), so a 10⁸-type vocabulary ships only
    * max(K) rows + one total. */
  def vocabularyCoverage(df: DataFrame, textCol: String,
      ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks=$ks")
    val kMax = ks.max
    val counts = df
      .select(explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total_tokens"),
      count(lit(1)).as("total_types"))
    val top = counts.orderBy(col("cnt").desc, col("term")).limit(kMax)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("term"))).cast(LongType))
    val kf = df.sparkSession.createDataFrame(
      ks.map(k => Tuple1(k.toLong))).toDF("k")
    kf.crossJoin(top)
      .filter(col("rank") <= col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("cnt")).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("n_types"), col("covered_tokens"),
        col("total_tokens"), col("total_types"),
        (col("covered_tokens").cast(DoubleType) /
          col("total_tokens").cast(DoubleType)).as("coverage"))
  }

  /** TEXTRANK KEYWORD EXTRACTION — corpus-level keyword ranking as
    * PageRank over the token co-occurrence graph (Mihalcea & Tarau's
    * TextRank, the unweighted window-2 form): nodes are distinct
    * tokens, undirected edges connect tokens that appear ADJACENT
    * anywhere in the corpus, and [[graft.operators.Graph.pageRankTop]]
    * ranks them — frequency alone promotes common words; centrality
    * promotes words that co-occur with MANY DIFFERENT words, the
    * difference between a corpus's connective tissue and its topics.
    *
    * Composition contract: tokens map to node ids via `md5_60` (the
    * engine-portable primitive), adjacent pairs canonicalize on the
    * HASH ORDER (`least/greatest` — no string-collation dependence),
    * distinct undirected edges run both directions through the
    * all-integer PageRank, and the `topK` node ids join back to the
    * vocabulary for the words. Hash-identical tokens (2⁻⁶⁰ collision)
    * would merge — the same merge in any engine.
    *
    * Scale shape: pair generation is PER-ROW array algebra inside the
    * scan (no positional self-join — `transform` over the token array
    * emits each adjacency directly), so the only shuffles are the
    * distinct over canonical edges and PageRank's one-exchange-per-
    * iteration loop; the final word join broadcasts `topK` rows
    * against the vocabulary. */
  def textRankKeywords(df: DataFrame, idCol: String, textCol: String,
      iterations: Int = 3, topK: Int = 20): DataFrame = {
    val toksDf = df.select(tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
    val pairs = toksDf.select(explode(expr(
        """transform(slice(toks, 1, size(toks) - 1),
          |  (w, i) -> struct(w AS wa, element_at(toks, i + 2) AS wb))"""
          .stripMargin)).as("p"))
      .select(graft.operators.Dedup.md5_60(col("p.wa")).as("ha"),
        graft.operators.Dedup.md5_60(col("p.wb")).as("hb"))
      .filter(col("ha") =!= col("hb"))
      .select(least(col("ha"), col("hb")).as("src"),
        greatest(col("ha"), col("hb")).as("dst"))
      .distinct()
    val edges = pairs.union(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    val top = Graph.pageRankTop(edges, iterations, topK)
    val vocab = df.select(explode(tokens(col(textCol))).as("word"))
      .distinct()
      .select(col("word"), graft.operators.Dedup.md5_60(col("word"))
        .as("node"))
    vocab.join(broadcast(top), Seq("node"))
      .select(col("word"), col("rank_ppb"))
  }

  /** EXACT PHRASE SEARCH over positional postings — the retrieval shape
    * the bag-of-words rankers ([[bm25Rational]], TF-IDF) cannot express:
    * "these words, adjacent, in this order". Documents are exploded to
    * `(doc_id, pos, term)` postings (positions 1-based, the SQL
    * convention), IMMEDIATELY pruned to the phrase's own vocabulary —
    * the load-bearing step at scale: only postings of the queried words
    * ever reach a shuffle, so a w-word phrase over a 10¹² -token corpus
    * moves `w` term-posting lists, not the corpus. The i-th word's
    * postings are then re-keyed to the phrase start they would imply
    * (`pos − i`) and chained through equi-joins on `(doc_id,
    * start_pos)` — the classic positional-index adjacency merge,
    * degenerating gracefully for repeated words (same pruned postings
    * frame, different shift). Output: one row per matching document
    * with `n_matches` (overlaps count) and `first_pos`.
    *
    * All counting is integer; no floating point anywhere. */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    val posting = df.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos0", "term")))
      .filter(col("term").isin(phrase.distinct: _*))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"),
        col("term"))
    def shifted(word: String, i: Int): DataFrame =
      posting.filter(col("term") === word)
        .select(col("doc_id"), (col("pos") - i).as("start_pos"))
    val m = phrase.zipWithIndex.tail.foldLeft(shifted(phrase.head, 0)) {
      case (acc, (w, i)) => acc.join(shifted(w, i), Seq("doc_id", "start_pos"))
    }
    m.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_matches"),
      min(col("start_pos")).as("first_pos"))
  }

  /** LEXICAL DIVERSITY per group — the vocabulary-richness battery a
    * corpus mix is tuned against: type-token ratio (template/boiler-
    * plate detector), hapax count (productive-vocabulary signal),
    * Simpson's repeat-probability D (P two random tokens are the same
    * type), and Shannon entropy of the unigram distribution in exact
    * quarter-bits (the [[graft.functions.FixedLogFunctions]] integer
    * kernel — no runtime `ln`, so engine and oracle agree bit-for-bit;
    * token masses must stay ≤ ~10⁹ per group for the oracle's HUGEINT
    * b⁴ window — shard or subsample above).
    *
    * Exactness: all masses BIGINT; `ttr_ppb` is a floor-div;
    * `simpson_d = Σ n(n−1) / (N(N−1))` is ONE double division of
    * exact longs (keep N(N−1) under 2⁵³ — N ≤ 9·10⁷); entropy is an
    * exact integer quarter-bit sum with one final `/(4N)` double.
    *
    * Scale shape: one map-combined (group, token) rollup — the same
    * pass every vocab operator here pays — then a per-group fold and
    * one broadcast join of the compact per-group totals back onto the
    * type frame for the entropy terms. */
  def lexicalDiversity(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    import graft.functions.{FixedLogFunctions => FL}
    val toks = df.select(col(groupCol).as("g"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy(col("g"), col("tok"))
      .agg(count(lit(1)).as("n_t"))
    val per = tf.groupBy(col("g"))
      .agg(sum(col("n_t")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when(col("n_t") === 1L, 1)).as("hapax_types"),
        sum(col("n_t") * (col("n_t") - 1L)).as("simpson_num"))
    val ent = tf
      .join(broadcast(per.select(col("g"), col("n_tokens"))), Seq("g"))
      .withColumn("qlb", FL.log2QuarterBits(col("n_t"), col("n_tokens")))
      .groupBy(col("g"))
      .agg(sum(col("n_t") * col("qlb")).as("entropy_q"))
    per.join(broadcast(ent), Seq("g"))
      .select(col("g").as(groupCol), col("n_tokens"), col("n_types"),
        expr("(n_types * 1000000000L) div n_tokens").as("ttr_ppb"),
        col("hapax_types"),
        when(col("n_tokens") > 1L,
          col("simpson_num").cast(DoubleType) /
            (col("n_tokens") * (col("n_tokens") - 1L))
              .cast(DoubleType)).as("simpson_d"),
        col("entropy_q"),
        (col("entropy_q").cast(DoubleType) /
          (lit(4.0) * col("n_tokens").cast(DoubleType)))
          .as("entropy_bits"))
  }

  /** ZIPF SLOPE — the log-log rank-frequency regression over the top-N
    * token types: natural text sits near slope −1 (Zipf's law);
    * template-heavy or synthetic corpora flatten, and the fit quality
    * (r²) says how law-like the curve is at all. The power-law
    * diagnostic beside [[vocabularyCoverage]]'s cumulative view.
    *
    * Exactness: both axes are EXACT INTEGER quarter-bit logs
    * (`floor(4·log2(v))` via the fixed-log kernel — rank and frequency
    * are integers, so no runtime `ln` anywhere); the OLS sufficient
    * statistics are BIGINT sums over ≤ N points, and slope /
    * intercept / r² are fixed-order double combinations. Quarter-bit
    * quantization bounds the slope resolution at ~0.25/log-decade —
    * a diagnostic-grade fit, same contract as the PSI/MI family.
    *
    * Scale shape: one (token) rollup, global top-N via
    * TakeOrderedAndProject (never a global row_number over the full
    * vocabulary), then a single-partition rank window over N rows. */
  def zipfSlope(df: DataFrame, textCol: String,
      topN: Int = 1000): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    import graft.functions.{FixedLogFunctions => FL}
    val tf = df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(topN)
    val ranked = tf.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("tok")))
        .cast(LongType))
    val pts = ranked
      .withColumn("x", FL.log2QuarterBits(lit(1L), col("rank")))
      .withColumn("y", FL.log2QuarterBits(lit(1L), col("freq")))
    pts.agg(count(lit(1)).as("n_points"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("den",
        (col("n_points") * col("sxx") - col("sx") * col("sx"))
          .cast(DoubleType))
      .withColumn("slope",
        when(col("den") =!= 0.0,
          (col("n_points") * col("sxy") - col("sx") * col("sy"))
            .cast(DoubleType) / col("den")))
      .withColumn("intercept_qb",
        when(col("den") =!= 0.0,
          (col("sy").cast(DoubleType) -
            col("slope") * col("sx").cast(DoubleType)) /
            col("n_points").cast(DoubleType)))
      .withColumn("r2",
        when(col("den") =!= 0.0 &&
            (col("n_points") * col("syy") - col("sy") * col("sy")) > 0L,
          ((col("n_points") * col("sxy") - col("sx") * col("sy"))
            .cast(DoubleType) *
            (col("n_points") * col("sxy") - col("sx") * col("sy"))
              .cast(DoubleType)) /
            (col("den") *
              (col("n_points") * col("syy") - col("sy") * col("sy"))
                .cast(DoubleType))))
      .select(col("n_points"), col("sx"), col("sy"), col("sxx"),
        col("syy"), col("sxy"), col("slope"), col("intercept_qb"),
        col("r2"))
  }

  /** TERM BURSTINESS (Fano factor) for the top-N corpus terms — does
    * a term spread evenly across documents (function words, Fano ≈ 1,
    * Poisson-like) or clump into a few (content/topical words,
    * Fano ≫ 1)? The content-word detector TF-IDF only implies;
    * zero-occurrence documents COUNT (the variance is over the full
    * corpus), which the sufficient-statistic form gets for free:
    * `mean = tf/D`, `var = Σc²/D − mean²`, `fano = var/mean`.
    *
    * Exactness: D, tf, Σc², df are exact BIGINTs; fano is one
    * fixed-order double expression (keep Σc² under 2⁵³). Scale shape:
    * the (term, doc) count rollup runs ONLY over the top-N vocabulary
    * (TakeOrdered top-N, then a broadcast semi-join prunes the token
    * stream before the per-doc grouping) — the full corpus never
    * pays the per-doc-per-term pass. */
  def termBurstiness(df: DataFrame, idCol: String, textCol: String,
      topN: Int = 20): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    val top = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("tf_total"))
      .orderBy(col("tf_total").desc, col("tok")).limit(topN)
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val perDoc = toks.join(broadcast(top.select("tok")), Seq("tok"),
        "left_semi")
      .groupBy(col("tok"), col("doc")).agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("tok").as("term"))
      .agg(count(lit(1)).as("df_docs"),
        sum(col("c")).as("tf_total"),
        sum(col("c") * col("c")).as("sum_sq"))
      .crossJoin(broadcast(nDocs))
      .withColumn("mean_per_doc",
        col("tf_total").cast(DoubleType) /
          col("n_docs").cast(DoubleType))
      .withColumn("fano",
        when(col("tf_total") > 0L && col("n_docs") > 0L,
          (col("sum_sq").cast(DoubleType) /
            col("n_docs").cast(DoubleType) -
            col("mean_per_doc") * col("mean_per_doc")) /
            col("mean_per_doc")))
      .select(col("term"), col("n_docs"), col("df_docs"),
        col("tf_total"), col("sum_sq"), col("mean_per_doc"),
        col("fano"))
  }

  /** VOCABULARY GROWTH CURVE (Heaps' law) — how fast does the type
    * inventory grow as the corpus grows? Documents split into id-order
    * deciles; each decile reports its doc/token mass, the NEW types it
    * introduces (types whose first-occurrence doc lands there), and
    * the cumulative type/token curve — the empirical Heaps curve a
    * vocab budget extrapolates from (flattening = saturating
    * vocabulary; linear = open-ended, e.g. ids/noise).
    *
    * All-integer. Scale shape: the (token → first doc) rollup is the
    * only vocabulary-sized state (map-combined min); deciles come from
    * one ntile window over the DOC-ID frame (document-count bounded —
    * at 10⁸⁺ docs switch to range-partitioned quantile boundaries);
    * everything else is ≤10-row arithmetic. */
  def vocabGrowth(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val dd = df.select(col(idCol).as("doc")).distinct()
      .withColumn("decile",
        ntile(10).over(Window.orderBy(col("doc"))).cast(LongType))
    val toks = df.select(col(idCol).as("doc"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    val tpd = toks.join(dd, Seq("doc"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_tokens"))
    val nd = dd.groupBy(col("decile")).agg(count(lit(1)).as("n_docs"))
    val fd = toks.groupBy(col("tok")).agg(min(col("doc")).as("first_doc"))
    val nt = fd
      .join(dd.withColumnRenamed("doc", "first_doc"), Seq("first_doc"))
      .groupBy(col("decile")).agg(count(lit(1)).as("new_types"))
    val wc = Window.orderBy(col("decile"))
    nd.join(tpd, Seq("decile"), "left").join(nt, Seq("decile"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_types", sum(col("new_types")).over(wc))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wc))
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        col("new_types"), col("cum_types"), col("cum_tokens"))
  }

  /** DISTINCTIVE TERMS per group (class-based lift) — the terms that
    * characterize a language/source/slice versus the whole corpus:
    * `lift = share_in_group / share_overall`, top-k per group. The
    * per-CLASS complement to per-document TF-IDF — this is what a
    * corpus card's "what is in this slice" table is made of.
    *
    * Exactness: both shares are floor-ppb integers and the lift is the
    * floor permille ratio of those ppbs (`share_g·10³ div
    * max(share_all, 1)`) — a DEFINED integer statistic, engine-exact
    * at every scale (all intermediates ≤ 10¹²). A `minCount` support
    * floor keeps one-off typos out of the ranking.
    *
    * Scale shape: one (group, token) rollup + one (token) rollup over
    * the same pass shape, broadcast group totals, per-group ranked
    * window over support-floored candidates. */
  def distinctiveTerms(df: DataFrame, groupCol: String,
      textCol: String, minCount: Long = 5L,
      topK: Int = 10): DataFrame = {
    val toks = df.select(col(groupCol).as("g"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    val tfg = toks.groupBy(col("g"), col("tok"))
      .agg(count(lit(1)).as("tf_g"))
    val ng = tfg.groupBy(col("g")).agg(sum(col("tf_g")).as("n_g"))
    val tfa = tfg.groupBy(col("tok"))
      .agg(sum(col("tf_g")).as("tf_all"))
    val nAll = ng.agg(sum(col("n_g")).as("n_all"))
    val scored = tfg.filter(col("tf_g") >= minCount)
      .join(broadcast(ng), Seq("g"))
      .join(tfa, Seq("tok"))
      .crossJoin(broadcast(nAll))
      .withColumn("share_g_ppb", expr("(tf_g * 1000000000L) div n_g"))
      .withColumn("share_all_ppb",
        expr("(tf_all * 1000000000L) div n_all"))
      .withColumn("lift_permille",
        expr("(share_g_ppb * 1000L) div greatest(share_all_ppb, 1L)"))
    val w = Window.partitionBy(col("g"))
      .orderBy(col("lift_permille").desc, col("tok"))
    scored.withColumn("term_rank", row_number().over(w).cast(LongType))
      .filter(col("term_rank") <= topK)
      .select(col("g").as(groupCol), col("tok").as("term"),
        col("tf_g"), col("share_g_ppb"), col("share_all_ppb"),
        col("lift_permille"), col("term_rank"))
  }

  /** CASE/FORMAT HYGIENE PROFILE per group — what shape are the
    * tokens in? Shares of ALL-CAPS, Title-Case, digits-only, and
    * other tokens: the formatting-noise audit that catches shouting
    * boilerplate, serial-number dumps, and OCR debris before they
    * skew a tokenizer. Single-anchor character-class regexes, so Java
    * and RE2 agree.
    *
    * All-integer (counts + floor-ppb shares), one map-combined
    * rollup over the token stream. */
  def caseProfile(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val toks = df.select(col(groupCol).as("g"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    toks.groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("tok").rlike("^[A-Z]{2,}$"), 1))
          .as("n_allcaps"),
        count(when(col("tok").rlike("^[A-Z][a-z]+$"), 1))
          .as("n_titlecase"),
        count(when(col("tok").rlike("^[0-9]+$"), 1)).as("n_digits"))
      .withColumn("allcaps_ppb",
        expr("(n_allcaps * 1000000000L) div n_tokens"))
      .withColumn("titlecase_ppb",
        expr("(n_titlecase * 1000000000L) div n_tokens"))
      .withColumn("digits_ppb",
        expr("(n_digits * 1000000000L) div n_tokens"))
  }

  /** LENGTH-BAND PROFILE per group — the short/medium/long census a
    * context-budget or chunking decision reads: per (group, band),
    * document count, character and token mass, and ppb doc share of
    * the group. Bands by character count (< 500 short, < 2000 medium,
    * else long) — fixed thresholds so the bands mean the same thing
    * across runs and corpora. All-integer, one map-combined rollup. */
  def lengthBands(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("g"),
        length(col(textCol)).cast(LongType).as("n_chars"),
        tokenCount(col(textCol)).cast(LongType).as("n_tokens"))
      .withColumn("band",
        when(col("n_chars") < 500L, lit("short"))
          .otherwise(when(col("n_chars") < 2000L, lit("medium"))
            .otherwise(lit("long"))))
    val cells = base.groupBy(col("g"), col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        sum(col("n_tokens")).as("tokens"))
    cells
      .withColumn("g_total",
        sum(col("n_docs")).over(Window.partitionBy(col("g"))))
      .select(col("g").as(groupCol), col("band"), col("n_docs"),
        col("chars"), col("tokens"),
        expr("(n_docs * 1000000000L) div g_total").as("doc_share_ppb"))
  }

  /** READABILITY PROFILE per group — Flesch reading ease from corpus-
    * level word/sentence/syllable masses: the curation signal that
    * separates technical prose, simple web text, and degenerate
    * boilerplate at a glance. Sentences count as runs of `[.!?]`;
    * syllables use the standard vowel-group proxy (`[aeiouy]+` runs of
    * the lowercased text) — both are single-character-class-run
    * regexes, so greedy (Java) and leftmost-longest (RE2) matching
    * agree and the counts are engine-exact.
    *
    * Exactness: the three masses are BIGINT sums; the Flesch formula
    * `206.835 − 1.015·(W/S) − 84.6·(Y/W)` is ONE fixed-order double
    * expression over their exact conversions (corpus-level, i.e.
    * token-weighted — not the mean of per-doc scores).
    *
    * Scale shape: per-row regex counts inside the scan projection,
    * one map-combined groupBy — scan-bound. */
  def readability(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("g"),
      tokenCount(col(textCol)).cast(LongType).as("w"),
      regexp_count(col(textCol), lit("[.!?]+")).cast(LongType).as("s"),
      regexp_count(lower(col(textCol)), lit("[aeiouy]+"))
        .cast(LongType).as("y"))
    base.groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("s")).as("n_sentences"),
        sum(col("y")).as("n_syllables"))
      .withColumn("words_per_sentence",
        when(col("n_sentences") > 0L,
          col("n_words").cast(DoubleType) /
            col("n_sentences").cast(DoubleType)))
      .withColumn("syllables_per_word",
        when(col("n_words") > 0L,
          col("n_syllables").cast(DoubleType) /
            col("n_words").cast(DoubleType)))
      .withColumn("flesch",
        when(col("n_sentences") > 0L && col("n_words") > 0L,
          lit(206.835) -
            lit(1.015) * (col("n_words").cast(DoubleType) /
              col("n_sentences").cast(DoubleType)) -
            lit(84.6) * (col("n_syllables").cast(DoubleType) /
              col("n_words").cast(DoubleType))))
  }

  /** SLIDING-WINDOW CHUNK CENSUS — the cost sheet of the chunking pass
    * every context-bounded consumer (RAG retrieval, fixed-window
    * pretraining packing) runs over a corpus: windows of `window`
    * tokens advancing by `stride` (overlap = `window - stride`). Per
    * resulting chunk count, one row with how many documents land there,
    * their token total, the tokens the chunker actually EMITS
    * (overlap re-emits `window - stride` tokens per extra chunk:
    * emitted = n_tokens + (n_chunks-1)·(window-stride), last chunk
    * short), and the duplication ratio — the exact storage/compute
    * multiplier the overlap costs at corpus scale, pinned per band
    * instead of estimated.
    *
    * chunks(n) = 1 + ceil(max(0, n - window) / stride) — pure integer
    * arithmetic per row, then one map-combined rollup; ratios are
    * single double divisions of exact longs. */
  def chunkCensus(df: DataFrame, textCol: String,
      window: Int = 256, stride: Int = 192): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"chunkCensus: need 0 < stride <= window, got window=$window stride=$stride")
    df.select(size(tokens(col(textCol))).cast(LongType).as("n_tokens"))
      .withColumn("overflow",
        greatest(col("n_tokens") - window, lit(0L)))
      .withColumn("n_chunks",
        expr(s"1L + (overflow + ${stride - 1}) div $stride"))
      .withColumn("emitted",
        col("n_tokens") +
          (col("n_chunks") - 1) * lit((window - stride).toLong))
      .groupBy(col("n_chunks"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens_total"),
        sum(col("emitted")).as("emitted_total"))
      .withColumn("dup_ratio", when(col("n_tokens_total") > 0,
        col("emitted_total").cast(DoubleType) /
          col("n_tokens_total").cast(DoubleType)))
      .orderBy(col("n_chunks"))
  }

  /** BOILERPLATE SUBSTRING CENSUS — the top repeated character
    * `gram`-grams by DOCUMENT frequency: headers, footers, license
    * blocks, and template debris surface as high-df grams long before
    * pairwise dedup would pay for them (the census is the cheap scan
    * that tells a pipeline WHICH boilerplate to strip; the winnowing
    * family then finds who shares it). Grams are sampled every
    * `stride` characters — a substring of length ≥ gram+stride−1 is
    * always witnessed — and counted once per document.
    *
    * All-integer + strings: per-doc distinct grams, a map-combined df
    * rollup, floor-ppb share against the corpus, TakeOrdered top-k
    * (ties on the gram string — binary collation in both engines). */
  def boilerplateGrams(df: DataFrame, idCol: String, textCol: String,
      gram: Int = 16, stride: Int = 8, topK: Int = 20): DataFrame = {
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    val grams = df
      .select(col(idCol).as("id"), col(textCol).as("t"))
      .filter(length(col("t")) >= gram)
      .select(col("id"), explode(expr(
        s"transform(sequence(1, length(t) - ${gram - 1}, $stride), " +
          s"p -> substring(t, p, $gram))")).as("g"))
      .distinct()
    grams.groupBy(col("g")).agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") >= 2L)
      .crossJoin(broadcast(nDocs))
      .withColumn("df_ppb", expr("(df_docs * 1000000000L) div n_docs"))
      .select(col("g").as("gram"), col("df_docs"), col("df_ppb"))
      .orderBy(col("df_docs").desc, col("gram"))
      .limit(topK)
  }

  /** JENSEN–SHANNON DIVERGENCE between every pair of groups' unigram
    * distributions — the symmetric, bounded [0,1]-bit distance a
    * mixture designer reads before blending corpora: how far apart are
    * the language/source slices lexically? `JSD = H(M) − (H(P)+H(Q))/2`
    * with `M` the even mixture.
    *
    * Exactness (house convention — no libm logs): each group's token
    * shares quantize to floor-ppb BIGINTs, every `x·log2(1/x)` term
    * uses the quarter-bit kernel (`log2_quarter_bits`, BigInteger-
    * exact, oracle identity `bitlen(⌊b⁴/a⁴⌋)−1`), so
    * `jsd2_u = Σ_w [(P+Q)·qb(P+Q, 2·10⁹) − P·qb(P, 10⁹) − Q·qb(Q, 10⁹)]`
    * is an exact BIGINT and `jsd_bits = jsd2_u / 8·10⁹` is ONE double
    * division. The ppb/quarter-bit floors are the stated estimator.
    *
    * Scale shape: one map-combined (group, token) count, then
    * everything runs on the |groups|²·|vocab| grid — group pairs and
    * the per-group share table broadcast; the only corpus-sized work
    * is the initial token rollup. */
  def jsdPairs(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    import graft.functions.FixedLogFunctions.log2QuarterBits
    val toks = df.select(col(groupCol).as("g"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    val tfg = toks.groupBy(col("g"), col("tok"))
      .agg(count(lit(1)).as("tf_g"))
    val ng = tfg.groupBy(col("g")).agg(sum(col("tf_g")).as("n_g"))
    val ppb = tfg.join(broadcast(ng), Seq("g"))
      .withColumn("p", expr("(tf_g * 1000000000L) div n_g"))
      .select(col("g"), col("tok"), col("p"))
    val groups = ppb.select(col("g")).distinct()
    val pairGrid = groups.select(col("g").as("lang_a"))
      .crossJoin(groups.select(col("g").as("lang_b")))
      .filter(col("lang_a") < col("lang_b"))
    val grid = pairGrid
      .crossJoin(ppb.select(col("tok")).distinct())
    val joined = grid
      .join(ppb.select(col("g").as("lang_a"), col("tok"),
        col("p").as("pa")), Seq("lang_a", "tok"), "left")
      .join(ppb.select(col("g").as("lang_b"), col("tok"),
        col("p").as("pb")), Seq("lang_b", "tok"), "left")
      .withColumn("pa", coalesce(col("pa"), lit(0L)))
      .withColumn("pb", coalesce(col("pb"), lit(0L)))
      .filter(col("pa") + col("pb") > 0L)
    val b1 = lit(1000000000L)
    joined
      .withColumn("term",
        (col("pa") + col("pb")) *
          log2QuarterBits(col("pa") + col("pb"), lit(2000000000L)) -
        when(col("pa") > 0L,
          col("pa") * log2QuarterBits(col("pa"), b1)).otherwise(0L) -
        when(col("pb") > 0L,
          col("pb") * log2QuarterBits(col("pb"), b1)).otherwise(0L))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_terms"), sum(col("term")).as("jsd2_u"))
      .withColumn("jsd_bits",
        col("jsd2_u").cast(DoubleType) / lit(8.0e9))
      .orderBy(col("lang_a"), col("lang_b"))
  }
}
