package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the first layer of
  * the LLM-training-data pipeline (tokenize → quality-score → language-ID →
  * fingerprint), feeding the dedup operators in [[Dedup]].
  *
  * Everything here is built from codegen'd built-in expressions (no UDFs);
  * each derivation has a DuckDB-SQL twin in [[TextAnalysisSql]] so the
  * whole layer is oracle-checked end to end.
  *
  * Scale notes: every operator is a narrow per-row projection — no shuffle,
  * no state — so it scales linearly and stays inside whole-stage codegen.
  * Shingle/minhash arrays are bounded by tokens-per-doc, never by corpus
  * size.
  */
object TextAnalysis {

  /** Word tokens: lower-cased maximal `[a-z0-9]+` runs. A deliberately
    * deterministic, cross-engine-reproducible tokenizer (a BPE vocabulary
    * is model-specific; the regex family is what C4/Gopher-style corpus
    * pipelines use for stats and dedup keys). Backed by the native
    * `word_tokens` kernel — byte-identical to
    * `regexp_extract_all(lower(text), '[a-z0-9]+', 0)` (which the DuckDB
    * oracles still use, so every t/dedup oracle doubles as a parity
    * check) but ~2 branch tests per byte instead of a regex NFA walk:
    * tokenization fronts every operator in this file. */
  def tokens(text: Column): Column = graft.functions.word_tokens(text)

  /** Normalized form used for exact-dup keys: tokens re-joined with single
    * spaces (case/punct/whitespace-insensitive). */
  def normalized(text: Column): Column = concat_ws(" ", tokens(text))

  /** Word `n`-gram shingles of the token array; documents shorter than `n`
    * tokens contribute their whole normalized text as one shingle.
    * Native kernel (`word_ngrams`) — the equivalent
    * `transform(sequence(...), i -> concat_ws(" ", slice(toks, i, n)))`
    * pays an interpreted lambda per shingle. */
  def shingles(toks: Column, n: Int): Column =
    graft.functions.word_ngrams(toks, n)

  // --- stopword profiles (tiny, deterministic; the language-ID heuristic
  // scores tokens against each profile and takes the arg-max). Canonical
  // definition lives next to the kernel that scans for them; these
  // aliases keep every SQL twin sharing the same lists. ---
  val stopEn: Seq[String] = graft.functions.VectorKernels.stopEn
  val stopDe: Seq[String] = graft.functions.VectorKernels.stopDe
  val stopFr: Seq[String] = graft.functions.VectorKernels.stopFr
  val stopEs: Seq[String] = graft.functions.VectorKernels.stopEs

  /** Per-document token statistics: `(doc_id, n_tokens, n_distinct,
    * total_token_chars)`. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct"),
      length(concat_ws("", t)).as("total_token_chars"))
  }

  /** Heuristic quality score in [0,1] from length, lexical diversity and
    * stopword density — the C4/Gopher-style cheap filters. All ratios are
    * double divisions of exact ints, so the oracle matches bit-for-bit. */
  def qualityScore(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val t = tokens(col("text"))
    // NO spread here: qualityScore is a pure projection whose consumers
    // include the narrow-wire calibration lane (t18's audit bans text on
    // any exchange there) and streaming intake; a composition that wants
    // the scoring pass parallel on a one-split local file spreads its
    // OWN input (corpusPrep does)
    docs
      .withColumn("n_tokens", size(t))
      .withColumn("n_distinct", size(array_distinct(t)))
      .withColumn("n_stop",
        element_at(graft.functions.stop_profile_counts(col("text")), 1))
      .withColumn("alnum_chars", length(regexp_replace(lower(col("text")), "[^a-z0-9]", "")))
      .select(keep.map(col) ++ Seq(
        col("doc_id"),
        col("n_tokens"),
        when(col("n_tokens") > 0,
          round(col("n_distinct").cast("double") / col("n_tokens"), 6))
          .otherwise(0.0).as("distinct_ratio"),
        when(col("n_tokens") > 0,
          round(col("n_stop").cast("double") / col("n_tokens"), 6))
          .otherwise(0.0).as("stop_ratio"),
        when(length(col("text")) > 0,
          round(col("alnum_chars").cast("double") / length(col("text")), 6))
          .otherwise(0.0).as("alnum_ratio"),
        when(col("n_tokens") > 0,
          round(
            least(lit(1.0), col("n_tokens").cast("double") / 64.0) * 0.4
              + (col("n_distinct").cast("double") / col("n_tokens")) * 0.3
              + (col("n_stop").cast("double") / col("n_tokens")) * 0.3, 6))
          .otherwise(0.0).as("quality")): _*)
  }

  /** Gopher-style rule filter (Rae et al. 2021, table A1 flavor): the
    * published cheap document-quality gates as one narrow projection —
    * word count bounds, mean word length bounds, alphabetic-word
    * fraction, stopword-presence, duplicate-3-gram bound — each emitted
    * as its measured value plus a combined `keep` verdict. Thresholds
    * compare the ROUNDED values so the cross-engine decision is exact.
    * One scan, zero shuffles (ordering aside): the shape that filters
    * 100 TB in one pass. */
  def gopherFilter(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val g = graft.functions.gopher_token_stats(col("text"))
    val shst = graft.functions.ngram_stats(t, 3)
    docs
      .withColumn("g", g)
      .withColumn("shst", shst)
      .withColumn("n_words", element_at(col("g"), 1).cast("int"))
      .withColumn("tok_chars", element_at(col("g"), 2).cast("int"))
      .withColumn("n_alpha_words", element_at(col("g"), 3).cast("int"))
      .withColumn("n_stop_distinct", element_at(col("g"), 4).cast("int"))
      .withColumn("n_sh", element_at(col("shst"), 1).cast("int"))
      .withColumn("n_sh_distinct", element_at(col("shst"), 2).cast("int"))
      .select(
        col("doc_id"),
        col("n_words"),
        when(col("n_words") > 0,
          round(col("tok_chars").cast("double") / col("n_words"), 6))
          .otherwise(0.0).as("mean_word_len"),
        when(col("n_words") > 0,
          round(col("n_alpha_words").cast("double") / col("n_words"), 6))
          .otherwise(0.0).as("frac_alpha_words"),
        col("n_stop_distinct"),
        when(col("n_words") > 0,
          round(lit(1.0) - col("n_sh_distinct").cast("double") / col("n_sh"), 6))
          .otherwise(0.0).as("dup3_ratio"))
      .withColumn("keep",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("frac_alpha_words") >= 0.8 &&
          col("n_stop_distinct") >= 2 &&
          col("dup3_ratio") <= 0.5)
  }

  /** N-gram stopword-profile language ID with a deterministic tie-break
    * (en > de > es > fr > und). Honest heuristic: on synthetic text it
    * mostly answers 'en' or 'und'; the point is the operator + oracle. */
  def langId(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val prof = graft.functions.stop_profile_counts(col("text"))
    docs
      .withColumn("prof", prof)
      .withColumn("s_en", element_at(col("prof"), 1))
      .withColumn("s_de", element_at(col("prof"), 2))
      .withColumn("s_fr", element_at(col("prof"), 3))
      .withColumn("s_es", element_at(col("prof"), 4))
      .select(keep.map(col) ++ Seq(
        col("doc_id"),
        when(greatest(col("s_en"), col("s_de"), col("s_fr"), col("s_es")) === 0, "und")
          .when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
          .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr").as("lang_pred")): _*)
  }

  /** Corpus vocabulary: token → (document frequency, total count), top-k
    * by count with deterministic tie-break. The classic vocabulary/BPE
    * pre-pass: one explode (narrow), one partial+final hash aggregate —
    * shuffle carries (token, partial counts), never documents. */
  def vocabulary(docs: DataFrame, topK: Int): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count("*").as("n"), countDistinct("doc_id").as("doc_freq"))
      .orderBy(col("n").desc, col("token"))
      .limit(topK)

  /** Vocabulary-growth curve (the Heaps'-law audit): distinct-token
    * count after each id-range slice of the corpus in doc_id order —
    * how fast the vocabulary is still growing tells a pipeline whether
    * more data buys coverage or just repetition, and an anomalous jump
    * localizes a crawl segment that changed character.
    * `(bucket, n_docs_cum, new_tokens, vocab)` for `nBuckets` slices.
    *
    * Buckets are PURE ARITHMETIC over the id range — `(doc_id − lo)·k
    * div span` against a broadcast one-row (lo, span) aggregate — not a
    * global rank window: an ntile over the corpus would single-partition
    * sort 100 TB for what the dense ingest ids already encode. Each
    * token folds to its FIRST doc (one vocabulary-width aggregate, the
    * same shuffle class as [[vocabulary]]), first-doc maps to its bucket
    * by the same arithmetic, and the cumulative sums run on the k-row
    * bucket relation. */
  def vocabGrowth(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val stats = docs.agg(min("doc_id").as("lo"),
      (max("doc_id") - min("doc_id") + 1).as("span"))
    def bucketOf(idCol: String) =
      expr(s"($idCol - lo) * $nBuckets div span").as("bucket")
    val docsPer = docs.crossJoin(broadcast(stats))
      .select(bucketOf("doc_id"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
    val newToks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(min("doc_id").as("first_doc"))
      .crossJoin(broadcast(stats))
      .select(bucketOf("first_doc"))
      .groupBy("bucket").agg(count(lit(1)).as("new_tokens"))
    import org.apache.spark.sql.expressions.Window
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsPer.join(newToks, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_tokens"))
      .select(col("bucket"), sum("n_docs").over(cum).as("n_docs_cum"),
        col("new_tokens"), sum("new_tokens").over(cum).as("vocab"))
      .orderBy("bucket")
  }

  /** Zipf rank-frequency slope (the companion audit to [[vocabGrowth]]):
    * least-squares fit of `ln(freq)` on `ln(rank)` over the top-K head
    * of the frequency table — natural text sits near slope −1; a corpus
    * of boilerplate or generated spam bends the head measurably. One
    * row: `(n_used, slope, intercept)`.
    *
    * The fit is the CLOSED FORM `(N·Σxy − Σx·Σy) / (N·Σxx − (Σx)²)` over
    * the bounded, deterministically-selected head (count desc, token
    * tiebreak), so both engines fit the identical point set; the only
    * cross-engine surface is double summation order over ≤K values,
    * orders of magnitude inside the 6-place rounding.
    *
    * Scale shape: one vocabulary-width count aggregate, a top-K
    * TakeOrdered, then all arithmetic on K rows. */
  def zipfSlope(docs: DataFrame, topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 2, s"topK >= 2: $topK")
    val head = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("token"))))
    head
      .select(log(col("rank").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
      .agg(count(lit(1)).as("n_used"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n_used"),
        round((col("n_used") * col("sxy") - col("sx") * col("sy"))
          / (col("n_used") * col("sxx") - col("sx") * col("sx")), 6)
          .as("slope"),
        round((col("sy") - ((col("n_used") * col("sxy") - col("sx") * col("sy"))
            / (col("n_used") * col("sxx") - col("sx") * col("sx"))) * col("sx"))
          / col("n_used"), 6).as("intercept"))
  }

  /** Out-of-vocabulary rate per document against the corpus's own top-K
    * vocabulary — the tokenizer-coverage audit a pipeline runs before
    * committing to a vocab size: `(doc_id, n_tokens, oov_rate)` for every
    * tokenizable document.
    *
    * Scale shape: the vocabulary is [[vocabulary]]'s bounded top-K
    * aggregate collapsed to ONE array row and broadcast; the corpus pass
    * is a single projection testing each token against the broadcast
    * array inside codegen (K is small by construction — a vocab is a
    * model artifact, not data). No corpus-sized exchange: the only
    * shuffle is the vocabulary build's token aggregate, whose width is
    * the distinct-token count, not the corpus. */
  def oovRate(docs: DataFrame, topK: Int = 50): DataFrame = {
    val t = tokens(col("text"))
    val vocabArr = vocabulary(docs, topK)
      .agg(array_sort(collect_list(col("token"))).as("vocab"))
    docs.where(size(t) > 0)
      .crossJoin(broadcast(vocabArr))
      .select(col("doc_id"), size(t).as("n_tokens"),
        round(
          size(filter(t, tok => !array_contains(col("vocab"), tok)))
            .cast("double") / size(t), 6).as("oov_rate"))
  }

  /** Token-distribution drift between two corpus batches — the
    * crawl-over-crawl monitoring every refreshed pretraining corpus
    * needs: per top-K token, both batches' relative frequencies and the
    * token's Jensen–Shannon divergence contribution (natural log).
    * `(token, n_a, n_b, p_a, p_b, js_contrib)`, top-K by combined count
    * with a lexicographic tie-break so the row set is deterministic.
    *
    * Per-token contributions only, no cross-row float sum: a scalar JS
    * total would depend on the engine's reduction order, while each row
    * here is a pure function of four integers (two counts, two totals),
    * so the whole result is oracle-exact. The caller sums `js_contrib`
    * if it wants the scalar (any order — the rounded contributions are
    * data, not floats in flight).
    *
    * Scale shape: one token-explode aggregate (width = distinct-token
    * count, map-side combined), one 2-long totals row broadcast behind a
    * cross join, top-K via TakeOrdered. Nothing corpus-sized shuffles
    * beyond the token aggregate both vocab queries already pay. */
  def tokenDrift(docs: DataFrame, batchAPred: Column, topK: Int = 50): DataFrame = {
    val counts = docs
      .select(explode(tokens(col("text"))).as("token"),
        when(batchAPred, 1L).otherwise(0L).as("in_a"))
      .groupBy("token")
      .agg(sum(col("in_a")).as("n_a"), sum(lit(1L) - col("in_a")).as("n_b"))
    val tot = counts.agg(sum("n_a").as("tot_a"), sum("n_b").as("tot_b"))
    counts
      .orderBy((col("n_a") + col("n_b")).desc, col("token"))
      .limit(topK)
      .crossJoin(broadcast(tot))
      .withColumn("pa", col("n_a").cast("double") / col("tot_a"))
      .withColumn("pb", col("n_b").cast("double") / col("tot_b"))
      .withColumn("m", (col("pa") + col("pb")) / 2.0)
      .select(col("token"), col("n_a"), col("n_b"),
        round(col("pa"), 6).as("p_a"),
        round(col("pb"), 6).as("p_b"),
        round(
          when(col("pa") > 0, col("pa") * log(col("pa") / col("m"))).otherwise(0.0) * 0.5
            + when(col("pb") > 0, col("pb") * log(col("pb") / col("m"))).otherwise(0.0) * 0.5,
          6).as("js_contrib"))
  }

  /** PII patterns for corpus scrubbing — the RE2-safe (lookahead-free)
    * email / phone-ish / IPv4 trio every pretraining pipeline redacts.
    * Shared verbatim with the DuckDB twin. */
  val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val phoneRe = "\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}"
  val ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII scrub: per-document match counts plus the redacted text length
    * (`[PII]` substitution). Counts and length are exact cross-engine
    * values; the scrub itself is one codegen'd projection pass. */
  def piiScrub(docs: DataFrame): DataFrame = {
    def nMatches(re: String) =
      size(regexp_extract_all(col("text"), lit(re), lit(0)))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), emailRe, "[PII]"),
        phoneRe, "[PII]"),
      ipv4Re, "[PII]")
    docs.select(
      col("doc_id"),
      nMatches(emailRe).as("n_email"),
      nMatches(phoneRe).as("n_phone"),
      nMatches(ipv4Re).as("n_ipv4"),
      length(redacted).as("redacted_len"))
  }

  /** Flesch-style reading-ease score — the readability axis of corpus
    * quality reporting (a pretraining mix quotes its reading-level
    * distribution next to its quality and language mixes). Counting
    * rules chosen for CROSS-ENGINE exactness, not linguistic perfection:
    * words = the house tokenizer; sentences = maximal `[.!?]+` runs
    * (floored at 1 so headline-like docs still score); syllables =
    * maximal vowel runs `[aeiouy]+` of the lowercased text (the standard
    * cheap heuristic). The score is the published Flesch formula
    * `206.835 − 1.015·(words/sentence) − 84.6·(syllables/word)` computed
    * in the same operation order on both engines over exact integer
    * counts, rounded 6dp. One narrow projection — no shuffle, linear at
    * any scale. */
  def readability(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val t = tokens(col("text"))
    val words = size(t).cast("bigint")
    val sents = greatest(lit(1L),
      regexp_count(col("text"), lit("[.!?]+")).cast("bigint"))
    val sylls = regexp_count(lower(col("text")), lit("[aeiouy]+"))
      .cast("bigint")
    docs.where(size(t) > 0)
      .select(keep.map(col) ++ Seq(col("doc_id"), words.as("n_words"),
        sents.as("n_sentences"), sylls.as("n_syllables")): _*)
      .withColumn("flesch",
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")),
          6))
  }

  /** Code-vs-prose detector — the cheap structural screen a pretraining
    * mix runs before routing documents to code-specific filters: symbol
    * density (`{}()[];=<>` per character) and indented-line density
    * (newline followed by two spaces or a tab, per line). Both ratios
    * are exact-integer divisions rounded 6dp, and the verdict compares
    * the ROUNDED values (rounded-before-thresholded, the repo-wide
    * convention) so an ulp cannot flip `is_code` in one engine only.
    * One narrow projection, no shuffle. */
  def codeDetect(docs: DataFrame, symThresh: Double = 0.02,
      indentThresh: Double = 0.2): DataFrame = {
    val nChars = length(col("text")).cast("bigint")
    val nLines = size(split(col("text"), "\n", -1)).cast("bigint")
    val nIndent = regexp_count(col("text"), lit("\\n(  |\\t)")).cast("bigint")
    val nSym = regexp_count(col("text"), lit("[{}()\\[\\];=<>]"))
      .cast("bigint")
    docs.where(length(col("text")) > 0)
      .select(col("doc_id"), nLines.as("n_lines"), nIndent.as("n_indent"),
        nSym.as("n_sym"),
        round(nSym.cast("double") / nChars, 6).as("sym_ratio"),
        round(nIndent.cast("double") / nLines, 6).as("indent_ratio"))
      .withColumn("is_code",
        col("sym_ratio") >= symThresh || col("indent_ratio") >= indentThresh)
  }

  /** Benchmark-contamination scan: documents sharing at least one word
    * `n`-gram with a benchmark corpus. The scale shape is an inverted
    * semi-join on exploded benchmark shingles (benchmark side is tiny and
    * broadcasts; the corpus side streams) — never a per-pair comparison.
    * Output: `(doc_id, contaminated)` for every tokenizable doc. */
  def contamination(docs: DataFrame, benchmark: DataFrame, n: Int = 5): DataFrame = {
    val t = tokens(col("text"))
    val benchShingles = benchmark
      .select(explode(array_distinct(shingles(tokens(col("text")), n))).as("sh"))
      .distinct()
      .withColumn("hit", lit(true))
    // one corpus scan: every tokenizable doc has >= 1 shingle (whole-text
    // fallback), so folding the left-joined hits per doc_id loses nobody
    docs.where(size(t) > 0)
      .select(col("doc_id"), explode(array_distinct(shingles(t, n))).as("sh"))
      .join(broadcast(benchShingles), Seq("sh"), "left_outer")
      .groupBy("doc_id")
      .agg(max(coalesce(col("hit"), lit(false))).as("contaminated"))
  }

  /** Sequence packing — assign documents to fixed-token-budget training
    * sequences: `(doc_id, n_tokens, seq_id, seq_offset)` where `seq_id`
    * is the running-total bin `floor(cumsum_before / budget)` over the
    * deterministic doc_id order and `seq_offset` the document's start
    * inside its bin's token stream. The streaming-friendly packing rule
    * (documents may straddle a boundary; the trainer truncates/continues),
    * chosen over first-fit-decreasing because it is one running-total
    * scan — no global sort by size, no driver state beyond the p-row
    * partition offsets.
    *
    * GLOBAL semantics, DISTRIBUTED plan (r16 — VERDICT r15 ask #1): the
    * running total rides [[graft.operators.Ranks.withPrefixSums]], the
    * repo's exact scan primitive (range exchange on doc_id + per-
    * partition windows + a p-row broadcast offset join), so no reducer
    * ever sees the whole corpus — the prior `Window.orderBy` form
    * funneled every surviving row through ONE task. The prefix sums are
    * exact integers over the unique doc_id order, so the result is
    * bit-identical to the window form and the plain-SQL oracle twin.
    * [[packSequencesSharded]] remains the per-source variant whose
    * sequence ids are local to a shard. */
  def packSequences(docs: DataFrame, budget: Int): DataFrame = {
    val t = tokens(col("text"))
    val counted = docs
      .select(col("doc_id"), size(t).cast("bigint").as("n_tokens"))
    val cum = Ranks.withPrefixSums(counted, Seq(col("doc_id")), Seq("n_tokens"))
    graft.CacheScope.transfer(cum,
      cum.select(
        col("doc_id"), col("n_tokens"),
        floor((col("cum_n_tokens") - col("n_tokens")) / budget).as("seq_id"),
        ((col("cum_n_tokens") - col("n_tokens")) % budget).as("seq_offset")))
  }

  /** [[packSequences]] with the plan a 100 TB corpus actually runs: the
    * running sum is windowed per `source` shard, so every partition packs
    * independently (sequence ids are `(source, seq_id)` pairs) and no
    * reducer sees the whole corpus. Same within-shard semantics; the
    * global variant stays registered as the SQL-twin-simple form. */
  def packSequencesSharded(docs: DataFrame, budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tokens(col("text"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"),
        size(t).cast("bigint").as("n_tokens"))
      .withColumn("cum_after", sum("n_tokens").over(w))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        floor((col("cum_after") - col("n_tokens")) / budget).as("seq_id"),
        ((col("cum_after") - col("n_tokens")) % budget).as("seq_offset"))
  }

  /** Overlapping token-window chunking — the retrieval/context-window prep
    * step: every tokenizable document is cut into `size`-token chunks
    * whose starts advance by `size - overlap` tokens, so consecutive
    * chunks share `overlap` tokens of context. Output is one row per
    * chunk: `(doc_id, chunk_id, n_chunk_tokens, chunk_text)`.
    *
    * Chunk-count rule (identical arithmetic in the SQL twin):
    * `1 + max(0, ceil((n - size) / step))`, written as
    * `floor((n - size + step - 1) / step)` over doubles on BOTH engines
    * (token counts are far below 2^53, so the division is exact) — one
    * chunk when the document fits, and never a tail chunk that adds zero
    * new tokens.
    *
    * Scale shape: narrow projection + explode, no shuffle, bounded by
    * tokens-per-doc — chunking 100 TB is embarrassingly parallel. */
  def chunkDocuments(docs: DataFrame, chunkSize: Int = 32, overlap: Int = 8): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      s"chunk overlap ($overlap) must be in [0, chunkSize=$chunkSize)")
    val step = chunkSize - overlap
    val t = tokens(col("text"))
    val chunkToks = slice(col("toks"), col("chunk_id") * step + 1, lit(chunkSize))
    docs
      .select(col("doc_id"), t.as("toks"), size(t).as("n"))
      .where(col("n") > 0)
      .withColumn("n_chunks",
        lit(1) + greatest(lit(0),
          floor((col("n") - chunkSize + (step - 1)) / lit(step)).cast("int")))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id").cast("bigint").as("chunk_id"),
        size(chunkToks).cast("bigint").as("n_chunk_tokens"),
        array_join(chunkToks, " ").as("chunk_text"))
  }

  /** TF-IDF top-`topK` terms per document: `(doc_id, rank, term, tf,
    * tfidf)` with `idf = ln(N / df)` over the tokenizable corpus and the
    * deterministic tie-break (tfidf desc, term asc) on the 6-digit-rounded
    * score so cross-engine ranking is stable.
    *
    * Scale shape: one explode (narrow) feeds two partial+final hash
    * aggregates — (doc, term) term frequencies and per-term document
    * frequencies — joined back ON TERM. The df side is vocabulary-sized,
    * which at 100 TB is far too big to broadcast, so the join is left to
    * Catalyst/AQE (a shuffle join on `term` whose key space is the
    * vocabulary — no skew cliff); only the one-row corpus count is
    * broadcast. The final top-k is a per-doc window, shuffled by doc_id. */
  def tfidfTopTerms(docs: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tokens(col("text"))
    val tok = docs.where(size(t) > 0)
      .select(col("doc_id"), explode(t).as("term"))
    val n = tok.agg(countDistinct("doc_id").as("n_docs"))
    val tf = tok.groupBy("doc_id", "term").agg(count("*").as("tf"))
    val df = tok.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("tfidf"))
  }

  /** BM25 retrieval scoring (Okapi, Lucene's idf variant): score every
    * document against a fixed bag of query terms, return the top `topK`:
    * `(rank, doc_id, score)`.
    *
    * {{{ score = Σ_q idf(q) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *     idf   = ln((N − df + 0.5)/(df + 0.5) + 1) }}}
    *
    * Scale shape: the term filter prunes the exploded stream to query-term
    * rows only BEFORE any shuffle; per-term df is bounded by |query|, so
    * that side broadcasts; corpus stats (N, avgdl) are one broadcast row.
    * One aggregate per (doc, term), one per doc — no vocabulary-sized
    * state anywhere, unlike [[tfidfTopTerms]]. The final top-k is
    * `orderBy().limit(topK)` — `TakeOrderedAndProject`, per-task topK
    * heaps merged on the driver — and the rank window runs over the
    * BOUNDED topK-row result (r16, VERDICT r15 ask #2: the prior
    * rank-filter form ran `row_number()` over an unpartitioned window,
    * which funneled every doc matching a query term — corpus-scale for
    * a common term — through one task; `InferWindowGroupLimit` does not
    * fire on an unpartitioned window, the `Graph.linkPredictionOver`
    * lesson). Ordering ties break on doc_id over the 6dp-rounded score,
    * so the cut is deterministic and cross-engine exact. */
  def bm25(docs: DataFrame, queryTerms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tokens(col("text"))
    val base = docs.where(size(t) > 0).select(col("doc_id"), t.as("toks"))
    val stats = base.agg(
      count("*").as("n_docs"),
      avg(size(col("toks"))).as("avgdl"))
    val tf = base
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "term").agg(count("*").as("tf"))
    val df = tf.groupBy("term").agg(count("*").as("df")) // rows are unique (doc, term)
    val ord = Seq(col("score").desc, col("doc_id"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib", // association mirrors the SQL twin exactly
        col("idf") * (col("tf") * (k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(round(sum("contrib"), 6).as("score"))
      .orderBy(ord: _*)
      .limit(topK)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
      .select(col("rank"), col("doc_id"), col("score"))
  }

  /** Sparse TF-IDF cosine retrieval — the inverted-index complement of
    * the dense ANN lane (`sim_*` ranks embeddings; this ranks the sparse
    * term vectors a retrieval stack serves from an inverted index):
    * every query document (deterministic draw `doc_id % queryMod = 0`)
    * against the corpus, top `topK` by cosine over tf·idf weights,
    * `(query_id, rank, doc_id, cos_sim)`.
    *
    * Exactness (the quantized-idf pattern): `idf_q = round(ln(N/df)·1e6)`
    * is an exact BIGINT in both engines, so weights `w = tf·idf_q`, dot
    * products `Σ w_q·w_d`, and norms `Σ w²` are EXACT integer sums
    * (DECIMAL(38,0) ⇔ HUGEINT — w² reaches ~1e19, past int64), and the
    * one float op per pair is the final `dot/(√n_q·√n_d)` on identical
    * integers. Rounded BEFORE ranking, per the repo convention. Terms
    * with idf 0 (df = N) carry weight 0 and are dropped — they cannot
    * move a dot product, and dropping them keeps an all-ubiquitous-terms
    * document from dividing by a zero norm.
    *
    * Scale posture: candidates meet through the term-keyed equi-join of
    * the query-side postings against the corpus postings — the
    * inverted-index probe, never an all-pairs join; per-pair
    * accumulation is one (q, d)-keyed aggregate; the top-k window
    * partitions by query. The query side is a BOUNDED BATCH
    * (`doc_id % queryMod = 0 AND doc_id < maxQueryId`) — the serving
    * contract: a retrieval workload is a fixed query set, so corpus
    * growth scales the INDEX linearly while the probe's query arm stays
    * constant (an unbounded fraction-of-corpus draw would grow the
    * candidate join quadratically on a dense-vocabulary corpus). The
    * default cap covers every sf0.01/sf0.1 document, so the registered
    * results are unchanged; replicated-growth corpora keep the sf0.1
    * query batch. A 100 TB deployment adds the standard df-ceiling /
    * impact-ordered pruning (WAND) in front of the probe; this corpus's
    * ~31-term vocabulary is fully dense, so a ceiling would only empty
    * the result. */
  def tfidfRetrieval(docs: DataFrame, queryMod: Int = 100,
      topK: Int = 5, maxQueryId: Long = 5000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tokens(col("text"))
    val tok = docs.where(size(t) > 0)
      .select(col("doc_id"), explode(t).as("term"))
    val n = tok.agg(countDistinct("doc_id").as("n_docs"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // persisted: the postings relation feeds THREE consumers (norms +
    // both probe arms) whose lineage otherwise re-runs the tf and df
    // shuffles each (no subplan sharing); released by the harness's
    // per-query clearCache. At 100 TB this is the materialized inverted
    // index a retrieval stack builds once and probes many times.
    val wtd = tf.join(dfr, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tf") * round(log(col("n_docs").cast("double") / col("df"))
          * 1e6).cast("long")).as("w"))
      .where(col("w") =!= 0)
      .persist()
    val norm = wtd.select(col("doc_id"),
        (col("w").cast("decimal(38,0)") * col("w")).as("w2"))
      .groupBy("doc_id").agg(sum("w2").as("n2"))
    val dot = wtd.where(pmod(col("doc_id"), lit(queryMod)) === 0
        && col("doc_id") < maxQueryId)
      .select(col("doc_id").as("q_id"), col("term"), col("w").as("wq"))
      .join(wtd.select(col("doc_id").as("d_id"), col("term"),
        col("w").as("wd")), "term")
      .where(col("d_id") =!= col("q_id"))
      .groupBy("q_id", "d_id")
      .agg(sum(col("wq").cast("decimal(38,0)") * col("wd")).as("dot"))
    val wTop = Window.partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("d_id"))
    dot
      .join(norm.select(col("doc_id").as("q_id"), col("n2").as("nq")), "q_id")
      .join(norm.select(col("doc_id").as("d_id"), col("n2").as("nd")), "d_id")
      .select(col("q_id"), col("d_id"),
        round(col("dot").cast("double")
          / (sqrt(col("nq").cast("double")) * sqrt(col("nd").cast("double"))),
          6).as("cos_sim"))
      .withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= topK)
      .select(col("q_id").as("query_id"), col("rank"), col("d_id").as("doc_id"),
        col("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Model-based quality scoring via the feature-hashing trick — the
    * fastText-style classifier shape every production corpus pipeline runs
    * after the rule filters ([[gopherFilter]]): tokens → `dim` hashed
    * feature buckets → weight lookup → summed linear score. Backed by the
    * native `hashed_lr_score` kernel, so scoring is one
    * codegen'd projection per document — no token explode, no weight-table
    * join, zero shuffles at any corpus size. The deterministic integer
    * weight rule stands in for trained weights (same kernel shape) and
    * keeps the score exactly reproducible in the SQL oracle.
    * `(doc_id, n_tokens, score, score_per_token, keep)`. */
  def hashedLrQuality(docs: DataFrame, dim: Int = 64): DataFrame =
    docs
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        graft.functions.hashed_lr_score(col("text"), dim).as("score"))
      .select(
        col("doc_id"), col("n_tokens"), col("score"),
        when(col("n_tokens") > 0,
          round(col("score").cast("double") / col("n_tokens"), 6))
          .otherwise(0.0).as("score_per_token"),
        (col("score") >= 0).as("keep"))

  /** Exact ROC-AUC of the [[hashedLrQuality]] scorer against an
    * independent boolean label — the classifier-evaluation gate every
    * model-scored corpus pipeline needs before trusting a quality model.
    * Computed as the tie-averaged Mann-Whitney rank-sum over the SCORE
    * HISTOGRAM: `AUC = Σ_s np(s)·(cumNeg(<s) + nn(s)/2) / (NP·NN)`.
    *
    * Scale contract: the corpus pass is one partial/final aggregate per
    * distinct integer score; the rank window then runs over the
    * HISTOGRAM, whose size is bounded by the score RANGE (the hashed-LR
    * weights are integers in ±500, so |distinct scores| ≤ weight-range ×
    * max doc tokens — independent of corpus row count). A naive exact
    * AUC ranks every document through one global sort; this never sorts
    * anything corpus-sized. Exact for ties (average-rank convention,
    * scipy/sklearn-compatible). One row:
    * `(n_pos, n_neg, n_scores, auc)`. */
  def aucOfHashedLr(docs: DataFrame, labelPred: Column, dim: Int = 64): DataFrame =
    aucFromScores(docs.select(
      labelPred.cast("int").as("y"),
      graft.functions.hashed_lr_score(col("text"), dim).as("s")))

  /** The histogram rank-sum itself over a `(y ∈ {0,1}, s)` relation —
    * see [[aucOfHashedLr]] for the contract. */
  private[operators] def aucFromScores(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy("s").agg(
      sum(col("y")).cast("long").as("np"),
      sum(lit(1) - col("y")).cast("long").as("nn"))
    // bounded-relation window (histogram-sized, see scaladoc) — the one
    // place a single-partition window is sanctioned, same contract as the
    // driver-side filter/codebook artifacts
    val w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cum_nn", coalesce(sum("nn").over(w), lit(0L)))
      .agg(
        sum("np").as("n_pos"), sum("nn").as("n_neg"),
        count(lit(1)).as("n_scores"),
        round(sum(col("np") * (col("cum_nn") + col("nn") / 2.0))
          / (sum("np") * sum("nn")), 6).as("auc"))
  }

  /** Reliability (calibration) profile of the [[hashedLrQuality]] scorer
    * against a boolean label — the companion of [[aucOfHashedLr]]: AUC
    * says the scorer RANKS well, the calibration curve says whether a
    * score value MEANS the same positive rate everywhere. Scores bucket
    * into fixed-width integer bins (no data-dependent boundaries — the
    * bin id is a pure function of the score, so the relation stays
    * mergeable and the oracle trivially identical); per bin: count and
    * positive fraction. Bin cardinality is bounded by score range /
    * width, never corpus rows. Everything is integer counts plus one
    * exact division — bit-deterministic cross-engine. */
  def calibrationOfHashedLr(docs: DataFrame, labelPred: Column,
      dim: Int = 64, binWidth: Int = 200): DataFrame =
    docs.select(
        labelPred.cast("int").as("y"),
        floor(graft.functions.hashed_lr_score(col("text"), dim)
          / binWidth.toDouble).cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(sum("y") / count(lit(1)).cast("double"), 6).as("frac_pos"))
      .orderBy("bin")

  /** 64-bit content fingerprint of the normalized text (exact-dup key).
    * xxhash64 is Spark-built-in and codegen'd; dedup correctness never
    * depends on it being collision-free because [[Dedup]] verifies
    * candidates on the text itself. */
  def fingerprint(text: Column): Column = xxhash64(normalized(text))

  /** GPT-2-family pre-tokenizer pattern, restricted to the RE2-safe subset
    * (no lookahead) so the Spark (Java regex) and DuckDB (RE2) sides agree:
    * contractions | optionally-space-prefixed letter runs | digit runs |
    * punctuation runs | whitespace runs. Applied to lowercased text. */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+|\\s+"

  /** Token counting the way a training-data pipeline sizes a corpus:
    * whitespace tokens (the cheap estimate) next to BPE-style pre-tokens
    * (what the model actually pays for): `(doc_id, n_ws_tokens,
    * n_bpe_tokens, n_bpe_distinct)`. */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val bpe = regexp_extract_all(lower(col("text")), lit(bpePattern), lit(0))
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("n_ws_tokens"),
      size(bpe).as("n_bpe_tokens"),
      size(array_distinct(bpe)).as("n_bpe_distinct"))
  }

  /** Per-document shingle statistics — the oracle-checkable face of the
    * shingling kernel that [[shingleFingerprint]], [[Dedup.minhashLshPairs]]
    * and [[Dedup.jaccardPairsExact]] all build on: `(doc_id, n_tokens,
    * n_shingles, n_distinct_shingles)`. Only the murmur-valued fingerprint
    * columns lack a DuckDB twin; the shingle construction itself is checked
    * here value-for-value. */
  def shingleStats(docs: DataFrame, n: Int = 3): DataFrame = {
    val t = tokens(col("text"))
    val shst = graft.functions.ngram_stats(t, n)
    docs.where(size(t) > 0).select(
      col("doc_id"),
      size(t).as("n_tokens"),
      element_at(shst, 1).cast("int").as("n_shingles"),
      element_at(shst, 2).cast("int").as("n_distinct_shingles"))
  }

  /** Default winnowing parameters — shared by [[winnowFingerprint]] and
    * its cross-engine gate so the two can never drift apart. */
  val winnowShingleN = 3
  val winnowWindow = 4

  /** Winnowing fingerprint (MOSS-style): ordered shingle hash sequence →
    * window-`w` rolling minima via the native `winnow`
    * kernel. `(doc_id, fp ARRAY<INT>)` for every tokenizable document;
    * [[shingleFingerprint]] keeps the cheaper min/max variant. */
  def winnowFingerprint(docs: DataFrame,
      n: Int = winnowShingleN, w: Int = winnowWindow): DataFrame = {
    val t = tokens(col("text"))
    docs.where(size(t) > 0).select(
      col("doc_id"),
      graft.functions.winnow(
        graft.functions.hash_array(shingles(t, n), 0), w).as("fp"))
  }

  /** Winnowing-style rolling fingerprint: min/max seeded-murmur over the
    * document's word 3-gram shingles (SURVEY.md operator family F4 reused
    * as a text kernel). Two extremes rather than a full winnow window keep
    * it SQL-expressible; min-hash generalizes it in [[Dedup.minhashSignature]]. */
  def shingleFingerprint(docs: DataFrame, n: Int = 3): DataFrame = {
    val hashes = graft.functions.hash_array(shingles(tokens(col("text")), n), 0)
    docs.select(
      col("doc_id"),
      size(array_distinct(shingles(tokens(col("text")), n))).as("n_shingles"),
      array_min(hashes).as("min_hash"),
      array_max(hashes).as("max_hash"))
  }

  /** CCNet-style unigram-LM quality score: train token frequencies on the
    * corpus batch itself, then score each document by its per-token
    * cross-entropy under that LM — `(doc_id, n_tokens, xent)` in nats,
    * low = head-like fluent text, high = rare-token noise. (CCNet ranks
    * Common Crawl by LM perplexity; a unigram model over the same
    * deterministic tokenizer keeps it cross-engine exact, and the hashed-LR
    * scorer `t16` covers the learned-model variant.) Untokenizable
    * documents have no distribution to score and are omitted, like every
    * other `t*` per-token derivation.
    *
    * Scale: the per-(doc, token) counts aggregate with map-side combine
    * before any exchange; the frequency join carries one bounded word per
    * row and is token-keyed — a stopword key is hot but its build side is
    * exactly ONE row, the shape AQE skew-split handles. The corpus total
    * is a one-row relation, broadcast. At serving scale the freq table is
    * the train-once artifact; training inline here mirrors the
    * self-perplexity batch-hygiene pass. */
  def unigramLmScore(docs: DataFrame): DataFrame =
    unigramLmFace(unigramLmCounts(docs))

  /** The unigram-LM fold: per-`(doc_id, token)` occurrence counts `c_dt`,
    * over a batch or a stream of documents. */
  def unigramLmCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c_dt"))

  /** The unigram-LM finish over the `(doc_id, token, c_dt)` counts: token
    * frequencies, the corpus total, and each document's cross-entropy —
    * shared by t21 and its drained stream (st14). The freq-side key is
    * renamed, so a count relation whose leaf cannot re-instance its
    * attributes (a memory-sink table) self-joins as is. The freq join is
    * left to the planner: a forced broadcast of `freq` cost more executor
    * CPU on both t21 and st14 at sf0.01. */
  def unigramLmFace(dt: DataFrame): DataFrame = {
    val freq = dt.groupBy("token").agg(sum("c_dt").as("c_t"))
      .withColumnRenamed("token", "f_token")
    val total = freq.agg(sum(col("c_t")).cast("double").as("n_total"))
    dt.join(freq, col("token") === col("f_token"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        sum(col("c_dt")).cast("long").as("n_tokens"),
        round(-sum(col("c_dt") * log(col("c_t") / col("n_total")))
          / sum(col("c_dt")), 6).as("xent"))
  }

  /** The RAKE delimiter set: the union of the four language stopword
    * profiles, inlined into both engines. */
  val stopAll: Seq[String] =
    (stopEn ++ stopDe ++ stopFr ++ stopEs).distinct

  /** RAKE keyphrase extraction (Rose et al. 2010) — corpus-level
    * keyword mining, the unsupervised sibling of the tf-idf retrieval
    * lane: candidate phrases are maximal stopword-free token runs;
    * each word scores `deg/freq` (deg = Σ lengths of the phrases it
    * appears in — co-occurrence degree; freq = its occurrence count),
    * and a phrase scores the sum of its words' scores. Word stats come
    * from ALL stopword-free runs; the REPORTED candidates are the
    * global top-`topK` distinct phrases of 2–4 words (single tokens are
    * vocabulary, not keyphrases; the upper band is the standard RAKE
    * candidate cap — without it a stopword-sparse document IS one giant
    * "phrase" and length swamps the score).
    *
    * Cross-engine determinism: segmentation is the stopword PREFIX
    * COUNT (a per-doc ordered window — exact integers); phrase text
    * re-assembles in `pos` order on both sides; `deg`/`freq` are exact
    * integers and each word's `deg/freq` QUANTIZES to a BIGINT on the
    * 1e9 grid, so per-phrase score sums are order-exact; the top-k
    * head breaks ties by phrase text.
    *
    * Scale: token rows flow through per-DOC windows (partitioned, never
    * global), one token-keyed stats aggregate + join (map-side combine;
    * stopwords never reach it — they are dropped at segmentation), and
    * a TakeOrdered head. The phrase relation exchanges fingerprint-free
    * short strings, never documents. */
  def rake(docs: DataFrame, topK: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "token")
      .withColumn("is_stop", col("token").isin(stopAll: _*))
    val wSeg = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seg = tok
      .withColumn("seg",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(wSeg))
      .where(!col("is_stop"))
      .withColumn("plen",
        count(lit(1)).over(Window.partitionBy("doc_id", "seg")))
      .persist()
    val wordScore = seg.groupBy("token")
      .agg(sum("plen").as("deg"), count(lit(1)).as("freq"))
      .select(col("token"),
        round(col("deg").cast("double") / col("freq").cast("double")
          * lit(1e9)).cast("long").as("score_q"))
    val phrases = seg.join(wordScore, "token")
      .groupBy("doc_id", "seg")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x.getField("token")), " ").as("phrase"),
        count(lit(1)).as("n_words"),
        sum("score_q").as("sq"))
      .where(col("n_words").between(2, 4))
    phrases.groupBy("phrase")
      .agg(max(col("n_words")).as("n_words"),
        count(lit(1)).as("n_occurrences"),
        max(col("sq")).as("sq"))
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        round(col("sq").cast("double") / lit(1e9), 6).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }

  /** Pairwise Jensen-Shannon divergence between the SOURCES' unigram
    * token distributions — the corpus-mix diagnostic a pretraining
    * pipeline reads before setting domain weights (p10's temperature
    * mix): JSD ≈ 0 means two sources are near-duplicates of each other
    * at the distribution level (merging them double-counts a domain);
    * JSD near ln 2 means disjoint vocabularies.
    *
    * ABSENT-TOKEN FOLD (the priv4 tCloseness trick): tokens present in
    * only one source each contribute (p/2)·ln 2, so the whole one-sided
    * mass folds to `ln2/2 · (1 − Σ_{t∈both} p)` with the Σ computed from
    * EXACT integer counts — only tokens present in BOTH sources need a
    * float term, and the pair relation stays an inner join (no domain
    * spine, no full outer). Each shared-token term is QUANTIZED to a
    * BIGINT on the 1e12 grid (the priv5 argument: an engine ln-ulp moves
    * the pre-round value by ~1e-7 grid steps), so the per-pair sums are
    * order-exact; ln 2 is inlined as the same decimal literal in both
    * engines.
    *
    * Scale: one explode to (source, token) cells with map-side combine;
    * one token-keyed self-join of the bounded cell relation (≤ vocab ×
    * |sources|² rows in flight, |sources|²/2 rows out); totals broadcast.
    */
  def jsDivergence(docs: DataFrame): DataFrame = {
    val cells = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .persist()
    val totals = cells.groupBy("source").agg(sum("c").as("n"))
    val a = cells.select(col("source").as("sa"), col("token"),
      col("c").as("ca"))
    val b = cells.select(col("source").as("sb"), col("token"),
      col("c").as("cb"))
    val joined = a.join(b, Seq("token")).where(col("sa") < col("sb"))
      .join(broadcast(totals.select(col("source").as("sa"),
        col("n").as("na"))), "sa")
      .join(broadcast(totals.select(col("source").as("sb"),
        col("n").as("nb"))), "sb")
    val p = col("ca").cast("double") / col("na").cast("double")
    val q = col("cb").cast("double") / col("nb").cast("double")
    val m = (p + q) / lit(2.0)
    val tq = round((p / lit(2.0) * log(p / m)
      + q / lit(2.0) * log(q / m)) * lit(1e12)).cast("long")
    val ln2 = lit(0.6931471805599453)
    joined.groupBy("sa", "sb", "na", "nb")
      .agg(sum(tq).as("sq"), sum("ca").as("sca"), sum("cb").as("scb"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        round(col("sq").cast("double") / lit(1e12)
          + ln2 / lit(2.0)
            * ((lit(1.0) - col("sca").cast("double")
                / col("na").cast("double"))
              + (lit(1.0) - col("scb").cast("double")
                / col("nb").cast("double"))), 6).as("jsd"))
      .orderBy("source_a", "source_b")
  }

  /** CCNet-style perplexity PARTITIONING of the corpus — the step after
    * [[unigramLmScore]]: split each language's documents into
    * head / middle / tail by LM cross-entropy and keep head+middle
    * (CCNet, Wenzek et al. 2020, discards the tail third). CCNet cuts at
    * global percentile thirds; a percentile boundary is either an exact
    * global sort (the a15 funnel) or an engine-specific sketch (rows-only
    * territory), so this uses the SORT-FREE analogue: per-language
    * `mean ± k·stddev` thresholds. The threshold relation is
    * language-keyed — dimension-sized, broadcast — and the whole query is
    * aggregates + one broadcast join: no global sort, no percentile
    * funnel, nothing that changes shape at 100 TB.
    *
    * Determinism: thresholds derive from the 6-dp-rounded `xent` both
    * engines agree on; a document flips buckets only if its xent sits
    * within float noise (~1e-15) of `μ ± k·σ`, the same knife-edge
    * tolerance every float-threshold query in the repo accepts. A
    * single-document language has σ = 0 and lands in `head` (its xent
    * equals μ; the head arm tests first in both engines). */
  def perplexityFilter(docs: DataFrame, k: Double = 0.5): DataFrame = {
    val scored = unigramLmScore(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val stats = scored.groupBy("lang")
      .agg(avg("xent").as("mu"), stddev_pop("xent").as("sigma"))
    val bucket = when(col("xent") <= col("mu") - lit(k) * col("sigma"), "head")
      .when(col("xent") >= col("mu") + lit(k) * col("sigma"), "tail")
      .otherwise("middle")
    scored.join(broadcast(stats), "lang")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("xent"),
        bucket.as("bucket"), (bucket =!= "tail").as("kept"))
      .orderBy("doc_id")
  }

  /** Adjacent token bigrams of a token-array column as `(prev, cur)`
    * structs — a narrow per-row derivation (no self-join on position).
    * `private[graft]` for its spec. */
  private[graft] def bigrams(toksCol: String): Column =
    expr(
      s"""transform(sequence(1, size($toksCol) - 1),
         |  i -> struct(element_at($toksCol, i) AS prev,
         |              element_at($toksCol, i + 1) AS cur))""".stripMargin)

  /** The stupid-backoff score of one bigram position: `c(prev,cur)/c(prev)`
    * when the bigram was seen, else `0.4 · c(cur)/N`, else `0.4/N` — the
    * one formula [[bigramLmScore]] and [[dsirFace]]'s two models share. */
  private def backoff(cBi: Column, cPrev: Column, cCur: Column,
      nTotal: Column): Column =
    when(cBi.isNotNull, cBi.cast("double") / cPrev)
      .when(cCur.isNotNull, lit(0.4) * cCur.cast("double") / nTotal)
      .otherwise(lit(0.4) / nTotal)

  /** Bigram-LM cross-entropy with stupid backoff (Brants et al. 2007,
    * "Large Language Models in Machine Translation") — the order-2 upgrade
    * of [[unigramLmScore]], and unlike it a genuine train/serve split:
    * counts come from the `trainPred` slice, scores go to the complement,
    * so unseen bigrams actually exercise the backoff path.
    *
    * Per scored position: `S = c(prev,cur)/c(prev)` when the bigram was
    * seen in training; else `0.4 · c(cur)/N` (backoff to the unigram);
    * else `0.4/N` (OOV floor). `xent = -Σ c·ln(S) / Σ c` in nats over the
    * document's bigram occurrences. All counts are exact integers, the
    * double ops run in one fixed order, and the result rounds to 6 —
    * cross-engine exact like the unigram twin.
    *
    * Scale: the train pass is two token-keyed aggregates with map-side
    * combine (vocabulary/bigram relations, sublinear in corpus); scoring
    * pre-aggregates per `(doc, prev, cur)` before joining, so the three
    * lookup joins carry bounded words — never document text — and the hot
    * stopword-bigram keys have one-row build sides (AQE skew territory,
    * same note as [[unigramLmScore]]). `N` is a one-row broadcast. */
  def bigramLmScore(docs: DataFrame, trainPred: Column): DataFrame = {
    val toked = docs.select(col("doc_id"), trainPred.as("in_train"),
      tokens(col("text")).as("toks"))

    val uni = toked.where(col("in_train"))
      .select(explode(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c_u"))
    val total = uni.agg(sum("c_u").cast("double").as("n_total"))
    val bi = toked.where(col("in_train") && size(col("toks")) >= 2)
      .select(explode(bigrams("toks")).as("bg"))
      .groupBy(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .agg(count(lit(1)).as("c_bi"))

    val db = toked.where(!col("in_train") && size(col("toks")) >= 2)
      .select(col("doc_id"), explode(bigrams("toks")).as("bg"))
      .groupBy(col("doc_id"), col("bg.prev").as("prev"),
        col("bg.cur").as("cur"))
      .agg(count(lit(1)).as("c_db"))

    db.join(bi, Seq("prev", "cur"), "left")
      .join(uni.select(col("token").as("prev"), col("c_u").as("c_prev")),
        Seq("prev"), "left")
      .join(uni.select(col("token").as("cur"), col("c_u").as("c_cur")),
        Seq("cur"), "left")
      .crossJoin(broadcast(total))
      .withColumn("s", backoff(col("c_bi"), col("c_prev"), col("c_cur"),
        col("n_total")))
      .groupBy("doc_id")
      .agg(
        sum("c_db").cast("long").as("n_bigrams"),
        round(-sum(col("c_db") * log(col("s"))) / sum(col("c_db")), 6)
          .as("xent"))
  }

  /** Interpolated Kneser–Ney bigram LM (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1999 with fixed absolute
    * discount d = 0.75) — the smoothing production n-gram pipelines
    * actually ship, next to [[bigramLmScore]]'s stupid backoff. Same
    * train/score split; per scored position `(v, w)`:
    *
    *   - `w` unseen as a continuation anywhere: `d / B` (deterministic
    *     floor — KN assigns such a token zero continuation mass, and a
    *     fixed floor keeps the cross-entropy finite and cross-engine
    *     exact)
    *   - context `v` unseen: `Pc(w) = N1+(·w) / B` (pure continuation
    *     probability — KN's signature: how many contexts `w` completes,
    *     not how often it occurs)
    *   - otherwise: `max(c(vw) − d, 0)/c(v) + d·N1+(v·)/c(v) · Pc(w)`
    *
    * with `c(v) = Σ_w c(vw)`, `N1+(v·)` = distinct continuations of `v`,
    * `N1+(·w)` = distinct contexts of `w`, `B` = total distinct bigram
    * types. Every input is an exact integer count; the double arithmetic
    * runs in one fixed order and rounds to 6 — the DuckDB twin matches
    * bit for bit. `(doc_id, n_bigrams, xent)`.
    *
    * Scale: the KN statistics add two distinct-count aggregates over the
    * BIGRAM TYPE relation (vocabulary-sized, not corpus-sized); scoring
    * keeps [[bigramLmScore]]'s shape — per-(doc, prev, cur)
    * pre-aggregation, three word-keyed lookup joins, one-row broadcast
    * for `B`. */
  def kneserNeyScore(docs: DataFrame, trainPred: Column,
      d: Double = 0.75): DataFrame = {
    val toked = docs.select(col("doc_id"), trainPred.as("in_train"),
      tokens(col("text")).as("toks"))
    val bi = toked.where(col("in_train") && size(col("toks")) >= 2)
      .select(explode(bigrams("toks")).as("bg"))
      .groupBy(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .agg(count(lit(1)).as("c_bi"))
    // context statistics c(v), N1+(v·) — one pass over the type relation
    val ctx = bi.groupBy("prev")
      .agg(sum("c_bi").as("c_prev"), count(lit(1)).as("n_follow"))
    // continuation statistics N1+(·w); B = Σ_w N1+(·w) = bigram types
    val cont = bi.groupBy("cur").agg(count(lit(1)).as("n_precede"))
    val types = cont.agg(sum("n_precede").cast("double").as("b_types"))

    val db = toked.where(!col("in_train") && size(col("toks")) >= 2)
      .select(col("doc_id"), explode(bigrams("toks")).as("bg"))
      .groupBy(col("doc_id"), col("bg.prev").as("prev"),
        col("bg.cur").as("cur"))
      .agg(count(lit(1)).as("c_db"))

    db.join(bi, Seq("prev", "cur"), "left")
      .join(ctx, Seq("prev"), "left")
      .join(cont, Seq("cur"), "left")
      .crossJoin(broadcast(types))
      .withColumn("p",
        when(col("n_precede").isNull, lit(d) / col("b_types"))
          .when(col("c_prev").isNull,
            col("n_precede").cast("double") / col("b_types"))
          .otherwise(
            greatest(coalesce(col("c_bi"), lit(0L)).cast("double") - lit(d),
              lit(0.0)) / col("c_prev")
              + lit(d) * col("n_follow").cast("double") / col("c_prev")
                * (col("n_precede").cast("double") / col("b_types"))))
      .groupBy("doc_id")
      .agg(
        sum("c_db").cast("long").as("n_bigrams"),
        round(-sum(col("c_db") * log(col("p"))) / sum(col("c_db")), 6)
          .as("xent"))
  }

  /** Per-document Shannon entropy of the normalized character
    * distribution, in nats — the cheap gibberish detector corpus
    * pipelines pair with the LM scorers (low = repeated-char junk, high
    * = uniform noise; natural text sits in a band). Uses the closed form
    * `H = ln(n) − (Σ c·ln c)/n` so one `(doc, char)` count aggregate and
    * one per-doc aggregate compute it — no window, no second pass. The
    * per-char expansion is narrow (explode over positions); both
    * aggregates combine map-side. `(doc_id, n_chars, entropy)`. */
  def charEntropy(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("doc_id"), normalized(col("text")).as("norm"))
      .where(length(col("norm")) > 0)
      .select(col("doc_id"), col("norm"),
        explode(expr("sequence(1, length(norm))")).as("i"))
      .select(col("doc_id"), expr("substring(norm, i, 1)").as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id").agg(
      sum("c").cast("long").as("n_chars"),
      round(log(sum("c").cast("double"))
        - sum(col("c") * log(col("c").cast("double"))) / sum("c"), 6)
        .as("entropy"))
  }

  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-candidate-document
    * average log-likelihood ratio between a TARGET-domain LM (trained on
    * the `targetPred` slice — the small high-quality domain you want more
    * of) and a RAW LM (trained on the candidates themselves) —
    * `(doc_id, n_bigrams, log_ratio)`, high = target-like, the weight
    * importance resampling draws against. DSIR's featurization is a
    * hashed-n-gram bag; the order-2 stupid-backoff LM here ([[
    * bigramLmScore]]'s model) is that estimator with exact counts, which
    * keeps the whole operator oracle-checkable.
    *
    * Count the fold, then the face: [[dsirFold]] tokenizes and explodes
    * the corpus once, and [[dsirFace]] collects both models from it and
    * scores the candidates in one aggregate — the finish st15 runs on
    * its drained counts. */
  def dsirWeights(docs: DataFrame, targetPred: Column): DataFrame =
    dsirFace(dsirFold(docs, targetPred))

  /** The DSIR fold: `(doc_id, in_target, kind, key, c)` counts from ONE
    * tokenize pass and ONE explode, where `kind` tags unigram (`u`) vs
    * bigram (`b`) occurrences and `key` is the token or the space-joined
    * bigram (tokens are `[a-z0-9]+`, so the join is unambiguous). The
    * zip_with pair construction is total: a short or empty document
    * yields no bigram, no size guard needed. `doc_id` collapses to -1 on
    * every row [[dsirFace]] never reads per document (target docs and all
    * unigrams feed the model counts only). Per-doc rows are final within
    * any slice holding the whole document, so a stream folds each
    * micro-batch on its own and the face re-aggregates the model rows. */
  def dsirFold(docs: DataFrame, targetPred: Column): DataFrame =
    docs.select(col("doc_id"), targetPred.as("in_target"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("in_target"), explode(expr(
        """concat(
          |  transform(toks, t -> struct('u' AS kind, t AS key)),
          |  transform(
          |    filter(zip_with(toks, slice(toks, 2, size(toks)),
          |             (a, b) -> struct(a AS prev, b AS cur)),
          |           p -> p.cur IS NOT NULL),
          |    p -> struct('b' AS kind,
          |                concat_ws(' ', p.prev, p.cur) AS key)))"""
          .stripMargin)).as("kk"))
      .select(
        when(col("in_target") || col("kk.kind") === "u", lit(-1L))
          .otherwise(col("doc_id")).as("doc_id"),
        col("in_target"), col("kk.kind").as("kind"), col("kk.key").as("key"))
      .groupBy("doc_id", "in_target", "kind", "key")
      .agg(count(lit(1)).as("c"))

  /** The DSIR finish over [[dsirFold]]'s counts — shared by t25 (and
    * pipe4) and the drained stream st15. Both LMs' unigram and bigram
    * tables fold out of the counts in ONE aggregate whose result is
    * VOCABULARY-bounded, so it is collected to the driver (the
    * trained-artifact contract, cf. BloomPipeline.collectFilters) and
    * re-enters the scoring plan as local relations under broadcast hash
    * joins; the totals are exact long sums of the collected unigrams.
    * The candidate relation is the non-target bigram rows, unique per
    * `(doc, key)`, read straight off the counts. */
  def dsirFace(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val model = counts.groupBy("in_target", "kind", "key")
      .agg(sum("c").as("c")).collect()
    def rows(target: Boolean, kind: String) = model.iterator
      .filter(r => r.getBoolean(0) == target && r.getString(1) == kind)
      .map(r => (r.getString(2), r.getLong(3))).toSeq
    def score(target: Boolean, sfx: String)(d: DataFrame): DataFrame = {
      val uni = rows(target, "u")
      val bi = rows(target, "b").map { case (k, c) =>
        val Array(p, n) = k.split(" ", 2)
        (p, n, c)
      }
      d.join(broadcast(bi.toDF("prev", "cur", s"c_bi_$sfx")),
          Seq("prev", "cur"), "left")
        .join(broadcast(uni.toDF("prev", s"c_prev_$sfx")), Seq("prev"), "left")
        .join(broadcast(uni.toDF("cur", s"c_cur_$sfx")), Seq("cur"), "left")
        .withColumn(s"s_$sfx", backoff(col(s"c_bi_$sfx"), col(s"c_prev_$sfx"),
          col(s"c_cur_$sfx"), lit(uni.iterator.map(_._2).sum.toDouble)))
    }
    counts.where(col("kind") === "b" && !col("in_target"))
      .select(col("doc_id"),
        element_at(split(col("key"), " "), 1).as("prev"),
        element_at(split(col("key"), " "), 2).as("cur"),
        col("c").as("c_db"))
      .transform(score(target = true, "t"))
      .transform(score(target = false, "r"))
      .groupBy("doc_id")
      .agg(
        sum("c_db").cast("long").as("n_bigrams"),
        round((sum(col("c_db") * log(col("s_t")))
          - sum(col("c_db") * log(col("s_r")))) / sum(col("c_db")), 6)
          .as("log_ratio"))
  }

  /** Zipf rank-frequency audit of the corpus vocabulary — the classic
    * corpus-health check (natural language follows freq ~ rank^-s with
    * s near 1; machine-generated or templated text bends the curve):
    * least-squares fit of ln(freq) on ln(rank) over the top `topN`
    * vocabulary terms, emitting `(n, slope, intercept, r2)`.
    *
    * Relation to [[zipfSlope]] (t29): t29 is the quick top-100 screen
    * with float regression sums inside the 6-place rounding; this is the
    * EXACT-at-scale form — the rank comes from [[Ranks.withGlobalRank]]
    * (no single-partition window at full-vocabulary width) and the five
    * regression sums are order-independent integers, plus r2.
    *
    * Exactness (the NB-lane quantization pattern): both log coordinates
    * are QUANTIZED to BIGINT (`round(ln(v)*1e6)`), so the five
    * regression sums are exact integers — summation-order independent —
    * and the closed-form combination runs on identical doubles in both
    * engines before the 6-decimal rounding. The 1e6 scale cancels in
    * slope and r2; the intercept divides it back out.
    *
    * Scale posture: one token-count shuffle (vocab-keyed), the global
    * rank via [[Ranks.withGlobalRank]] (range exchange + broadcast
    * offsets — never a single-partition window), then one 5-sum
    * aggregate over the bounded topN relation. */
  def zipfAudit(docs: DataFrame, topN: Int = 1000): DataFrame = {
    val tf = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val (ranked, _) = Ranks.withGlobalRank(
      tf, Seq(col("freq").desc, col("token")), "rank")
    quantLogFit(ranked.where(col("rank") <= topN)
      .select(
        round(log(col("rank").cast("double")) * 1e6).cast("long").as("x_q"),
        round(log(col("freq").cast("double")) * 1e6).cast("long").as("y_q")))
  }

  /** Closed-form least-squares `(n, slope, intercept, r2)` over a
    * relation of QUANTIZED log coordinates `(x_q, y_q)` (BIGINT,
    * `round(ln(v)·1e6)`): the five regression sums are exact integers —
    * summation-order independent — and the combination runs on identical
    * doubles in both engines. Shared by the Zipf and Heaps audits. */
  private def quantLogFit(pts: DataFrame): DataFrame = {
    val s = pts.agg(count(lit(1)).as("n"),
      sum("x_q").as("sx"), sum("y_q").as("sy"),
      sum(col("x_q") * col("y_q")).as("sxy"),
      sum(col("x_q") * col("x_q")).as("sxx"),
      sum(col("y_q") * col("y_q")).as("syy"))
    val n = col("n").cast("double")
    val num = n * col("sxy") - col("sx").cast("double") * col("sy")
    val denx = n * col("sxx") - col("sx").cast("double") * col("sx")
    val deny = n * col("syy") - col("sy").cast("double") * col("sy")
    // zero-variance guards (both engines identically): a constant x has
    // no defined slope; a constant y (e.g. a vocabulary that saturates
    // in the first bucket - the flat Heaps curve IS the finding on a
    // fixed-vocab corpus) fits slope 0 with an undefined r2.
    val slope = when(denx === 0, lit(null).cast("double"))
      .otherwise(num / denx)
    s.select(col("n"),
      round(slope, 6).as("slope"),
      round((col("sy").cast("double") - slope * col("sx")) / n / lit(1e6), 6)
        .as("intercept"),
      when(denx * deny === 0, lit(null).cast("double"))
        .otherwise(round(num * num / (denx * deny), 6)).as("r2"))
  }

  /** Heaps'-law corpus audit (the growth companion of [[zipfAudit]] and
    * the FITTED face of [[vocabGrowth]]): V(n) ≈ K·n^β — vocabulary
    * size as a power of cumulative TOKEN count. Natural corpora sit at
    * β ≈ 0.4–0.6; templated or deduplicated-to-death corpora bend flat.
    * One row `(n, slope, intercept, r2)` where slope is β and
    * `exp(intercept)` estimates K, fitted over the per-bucket cumulative
    * (tokens, vocab) points with the shared quantized-log regression.
    *
    * Scale posture: two bounded bucket aggregates (per-bucket token
    * totals; first-seen vocabulary counts — the vocabGrowth shape), then
    * all arithmetic on ≤ nBuckets rows. The cumulative window runs over
    * the BOUNDED bucket relation, never corpus rows. */
  def heapsAudit(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = docs.agg(min("doc_id").as("lo"),
      (max("doc_id") - min("doc_id") + 1).as("span"))
    def bucketOf(idCol: String) =
      expr(s"($idCol - lo) * $nBuckets div span").as("bucket")
    val toksPer = docs.crossJoin(broadcast(stats))
      .select(bucketOf("doc_id"), size(tokens(col("text"))).as("nt"))
      .groupBy("bucket").agg(sum("nt").as("n_toks"))
    val newToks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(min("doc_id").as("first_doc"))
      .crossJoin(broadcast(stats))
      .select(bucketOf("first_doc"))
      .groupBy("bucket").agg(count(lit(1)).as("new_tokens"))
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    quantLogFit(toksPer.join(newToks, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_tokens"))
      .select(sum("n_toks").over(cum).as("ct"),
        sum("new_tokens").over(cum).as("cv"))
      .where(col("ct") > 0 && col("cv") > 0)
      .select(
        round(log(col("ct").cast("double")) * 1e6).cast("long").as("x_q"),
        round(log(col("cv").cast("double")) * 1e6).cast("long").as("y_q")))
  }

  /** [[heapsAudit]] over a SYNTHETIC Zipf token stream (r10 verdict ask
    * #4): the shipped documents table has a ~31-token vocabulary that
    * saturates in the first bucket, so the registered t39 honestly fits
    * the flat curve (slope 0, r2 NULL) and the power-law branch lived
    * only in a unit test. This audit derives a token stream with a real
    * power-law vocabulary from the lineitem key space, deterministically
    * and IDENTICALLY in both engines:
    *  - position key `l_orderkey·8 + l_linenumber` (unique — linenumber
    *    is 1..7);
    *  - uniform grid draw `h = rowHash(key) ∈ [0, M)` — the repo's
    *    cross-engine multiplicative hash ([[Sampling.rowHash]]);
    *  - Zipf draw by EXACT INTEGER inverse-CDF:
    *    `tok = (M + h) div (h + 1) = ⌈M/(h+1)⌉`, so
    *    `P(tok ≥ k) = P(h + 1 ≤ M/k) ≈ 1/k` — token frequencies fall as
    *    rank⁻², the s = 2 Zipf law whose Heaps exponent is β = 1/s = ½.
    *    No float sampling anywhere: the draw is bit-equal across engines
    *    by integer arithmetic alone.
    * Fit face identical to [[heapsAudit]]: bucket the key span, cumulate
    * `(tokens, first-seen vocab)` per bucket, shared quantized-log
    * regression — exercising the non-degenerate branch (slope ≈ ½,
    * r2 defined) that the shipped corpus cannot. Scale posture matches
    * heapsAudit: two bounded bucket aggregates, arithmetic on ≤ nBuckets
    * rows, the cumulative window over the bounded bucket relation only. */
  def heapsSynth(lineitem: DataFrame, nBuckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Sampling.hashMod
    val tokd = lineitem
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("key"))
      .withColumn("h", Sampling.rowHash(col("key")))
      .select(col("key"), expr(s"($m + h) div (h + 1)").as("tok"))
    val stats = tokd.agg(min("key").as("lo"),
      (max("key") - min("key") + 1).as("span"))
    def bucketOf(c: String) =
      expr(s"($c - lo) * $nBuckets div span").as("bucket")
    val toksPer = tokd.crossJoin(broadcast(stats))
      .select(bucketOf("key"))
      .groupBy("bucket").agg(count(lit(1)).as("n_toks"))
    val newToks = tokd.groupBy("tok").agg(min("key").as("first_key"))
      .crossJoin(broadcast(stats))
      .select(bucketOf("first_key"))
      .groupBy("bucket").agg(count(lit(1)).as("new_tokens"))
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    quantLogFit(toksPer.join(newToks, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_tokens"))
      .select(sum("n_toks").over(cum).as("ct"),
        sum("new_tokens").over(cum).as("cv"))
      .where(col("ct") > 0 && col("cv") > 0)
      .select(
        round(log(col("ct").cast("double")) * 1e6).cast("long").as("x_q"),
        round(log(col("cv").cast("double")) * 1e6).cast("long").as("y_q")))
  }
}

/** DuckDB twins of [[TextAnalysis]] for the driver oracle. Kept adjacent to
  * the Scala derivations so the two stay in lock-step; every constant is
  * shared. (mmh3-valued columns have no DuckDB twin — those queries are
  * registered rows-only.)
  */
object TextAnalysisSql {

  val toks = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  private def nStop(words: Seq[String]): String =
    s"len(list_filter($toks, t -> t IN (${inList(words)})))"

  val tokenStats: String =
    s"""SELECT doc_id,
       |       len($toks) AS n_tokens,
       |       len(list_distinct($toks)) AS n_distinct,
       |       length(array_to_string($toks, '')) AS total_token_chars
       |FROM documents""".stripMargin

  val qualityScore: String =
    s"""SELECT doc_id, n_tokens,
       |  CASE WHEN n_tokens > 0 THEN round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) ELSE 0.0 END AS distinct_ratio,
       |  CASE WHEN n_tokens > 0 THEN round(CAST(n_stop AS DOUBLE) / n_tokens, 6) ELSE 0.0 END AS stop_ratio,
       |  CASE WHEN length(text) > 0 THEN round(CAST(alnum_chars AS DOUBLE) / length(text), 6) ELSE 0.0 END AS alnum_ratio,
       |  CASE WHEN n_tokens > 0 THEN round(
       |    least(1.0, CAST(n_tokens AS DOUBLE) / 64.0) * 0.4
       |      + (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.3
       |      + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3, 6) ELSE 0.0 END AS quality
       |FROM (
       |  SELECT doc_id, text,
       |         len($toks) AS n_tokens,
       |         len(list_distinct($toks)) AS n_distinct,
       |         ${nStop(TextAnalysis.stopEn)} AS n_stop,
       |         length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alnum_chars
       |  FROM documents)""".stripMargin

  /** Twin of [[TextAnalysis.gopherFilter]] — thresholds compare the same
    * rounded values, so the keep verdict is bit-exact across engines. */
  val gopherFilter: String =
    s"""SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stop_distinct,
       |       dup3_ratio,
       |       (n_words >= 50 AND n_words <= 100000
       |         AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |         AND frac_alpha_words >= 0.8
       |         AND n_stop_distinct >= 2
       |         AND dup3_ratio <= 0.5) AS keep
       |FROM (
       |  SELECT doc_id, n_words,
       |    CASE WHEN n_words > 0
       |      THEN round(CAST(tok_chars AS DOUBLE) / n_words, 6)
       |      ELSE 0.0 END AS mean_word_len,
       |    CASE WHEN n_words > 0
       |      THEN round(CAST(n_alpha AS DOUBLE) / n_words, 6)
       |      ELSE 0.0 END AS frac_alpha_words,
       |    n_stop_distinct,
       |    CASE WHEN n_words > 0
       |      THEN round(1.0 - CAST(n_sh_distinct AS DOUBLE)
       |                       / greatest(n_words - 2, 1), 6)
       |      ELSE 0.0 END AS dup3_ratio
       |  FROM (
       |    SELECT doc_id,
       |           len($toks) AS n_words,
       |           length(array_to_string($toks, '')) AS tok_chars,
       |           len(list_filter($toks, w -> regexp_matches(w, '[a-z]')))
       |             AS n_alpha,
       |           len(list_filter(list_distinct($toks),
       |             w -> w IN (${inList(TextAnalysis.stopEn)})))
       |             AS n_stop_distinct,
       |           len(${DedupSql.shinglesSql(3)}) AS n_sh_distinct
       |    FROM documents))""".stripMargin

  def vocabulary(topK: Int): String =
    s"""SELECT token, count(*) AS n, count(DISTINCT doc_id) AS doc_freq
       |FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
       |GROUP BY token ORDER BY n DESC, token LIMIT $topK""".stripMargin

  /** Twin of [[TextAnalysis.vocabGrowth]] — same id-range bucket
    * arithmetic (`//` mirrors Spark's `div` for the non-negative
    * operands), same first-seen fold, same cumulative windows. */
  def vocabGrowth(nBuckets: Int): String =
    s"""WITH st AS (SELECT min(doc_id) AS lo,
       |                   max(doc_id) - min(doc_id) + 1 AS span
       |            FROM documents),
       |dp AS (SELECT (doc_id - lo) * $nBuckets // span AS bucket,
       |              count(*) AS n_docs
       |       FROM documents, st GROUP BY 1),
       |nt AS (SELECT (first_doc - lo) * $nBuckets // span AS bucket,
       |              count(*) AS new_tokens
       |       FROM (SELECT token, min(doc_id) AS first_doc
       |             FROM (SELECT doc_id, unnest($toks) AS token
       |                   FROM documents)
       |             GROUP BY token), st
       |       GROUP BY 1)
       |SELECT dp.bucket,
       |       CAST(sum(dp.n_docs) OVER (ORDER BY dp.bucket) AS BIGINT)
       |         AS n_docs_cum,
       |       CAST(coalesce(nt.new_tokens, 0) AS BIGINT) AS new_tokens,
       |       CAST(sum(coalesce(nt.new_tokens, 0)) OVER (ORDER BY dp.bucket)
       |         AS BIGINT) AS vocab
       |FROM dp LEFT JOIN nt ON dp.bucket = nt.bucket
       |ORDER BY dp.bucket""".stripMargin

  /** Twin of [[TextAnalysis.zipfSlope]]: the same deterministic head
    * selection and the same closed-form nesting. */
  def zipfSlope(topK: Int): String =
    s"""WITH head AS (
       |  SELECT token, count(*) AS n
       |  FROM (SELECT unnest($toks) AS token FROM documents)
       |  GROUP BY token ORDER BY n DESC, token LIMIT $topK),
       |pts AS (
       |  SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, token)
       |             AS DOUBLE)) AS x,
       |         ln(CAST(n AS DOUBLE)) AS y
       |  FROM head),
       |s AS (SELECT count(*) AS n_used, sum(x) AS sx, sum(y) AS sy,
       |             sum(x * y) AS sxy, sum(x * x) AS sxx
       |      FROM pts)
       |SELECT n_used,
       |       round((n_used * sxy - sx * sy)
       |             / (n_used * sxx - sx * sx), 6) AS slope,
       |       round((sy - ((n_used * sxy - sx * sy)
       |                    / (n_used * sxx - sx * sx)) * sx)
       |             / n_used, 6) AS intercept
       |FROM s""".stripMargin

  /** Twin of [[TextAnalysis.tokenDrift]]: identical count, ratio, and
    * JS-term nesting so every double op runs in the same order. */
  def tokenDrift(batchAPredSql: String, topK: Int): String =
    s"""SELECT token, n_a, n_b,
       |       round(pa, 6) AS p_a, round(pb, 6) AS p_b,
       |       round(
       |         (CASE WHEN pa > 0 THEN pa * ln(pa / m) ELSE 0.0 END) * 0.5
       |         + (CASE WHEN pb > 0 THEN pb * ln(pb / m) ELSE 0.0 END) * 0.5,
       |         6) AS js_contrib
       |FROM (
       |  SELECT token, n_a, n_b, pa, pb, (pa + pb) / 2.0 AS m FROM (
       |    SELECT token, n_a, n_b,
       |           CAST(n_a AS DOUBLE) / tot_a AS pa,
       |           CAST(n_b AS DOUBLE) / tot_b AS pb
       |    FROM (SELECT * FROM (
       |            SELECT token,
       |                   CAST(sum(in_a) AS BIGINT) AS n_a,
       |                   CAST(sum(1 - in_a) AS BIGINT) AS n_b
       |            FROM (SELECT unnest($toks) AS token,
       |                         CASE WHEN $batchAPredSql THEN 1 ELSE 0 END AS in_a
       |                  FROM documents)
       |            GROUP BY token)
       |          ORDER BY n_a + n_b DESC, token LIMIT $topK),
       |         (SELECT CAST(sum(in_a) AS BIGINT) AS tot_a,
       |                 CAST(sum(1 - in_a) AS BIGINT) AS tot_b
       |          FROM (SELECT unnest($toks) AS tok2,
       |                       CASE WHEN $batchAPredSql THEN 1 ELSE 0 END AS in_a
       |                FROM documents))))""".stripMargin

  /** Twin of [[TextAnalysis.oovRate]]: the same deterministic top-K
    * vocabulary collapsed to one list, tested per token. */
  def oovRate(topK: Int): String =
    s"""SELECT doc_id, len($toks) AS n_tokens,
       |       round(CAST(len(list_filter($toks,
       |                 tok -> NOT list_contains(v.vocab, tok))) AS DOUBLE)
       |             / len($toks), 6) AS oov_rate
       |FROM documents,
       |     (SELECT list(token ORDER BY token) AS vocab
       |      FROM (${vocabulary(topK)})) v
       |WHERE len($toks) > 0""".stripMargin

  /** Twin of [[TextAnalysis.tokenCounts]] (same RE2-safe pattern; DuckDB
    * standard strings keep backslashes literal, so only quotes need
    * doubling). */
  val tokenCounts: String = {
    val pat = TextAnalysis.bpePattern.replace("'", "''")
    s"""SELECT doc_id,
       |       len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
       |       len(regexp_extract_all(lower(text), '$pat')) AS n_bpe_tokens,
       |       len(list_distinct(regexp_extract_all(lower(text), '$pat')))
       |         AS n_bpe_distinct
       |FROM documents""".stripMargin
  }

  /** Twin of [[TextAnalysis.shingleStats]]: total shingles is
    * `max(len - n + 1, 1)` (short docs yield one whole-text shingle);
    * distinct reuses [[DedupSql.shinglesSql]]. */
  def shingleStats(n: Int): String =
    s"""SELECT doc_id,
       |       len($toks) AS n_tokens,
       |       greatest(len($toks) - ${n - 1}, 1) AS n_shingles,
       |       len(${DedupSql.shinglesSql(n)}) AS n_distinct_shingles
       |FROM documents WHERE len($toks) > 0""".stripMargin

  /** Twin of [[TextAnalysis.piiScrub]] — same regexes; DuckDB's
    * regexp_replace needs the 'g' flag for replace-all (Spark's replaces
    * all by default). */
  val piiScrub: String = {
    val (e, p, i) = (TextAnalysis.emailRe, TextAnalysis.phoneRe, TextAnalysis.ipv4Re)
    s"""SELECT doc_id,
       |       len(regexp_extract_all(text, '$e')) AS n_email,
       |       len(regexp_extract_all(text, '$p')) AS n_phone,
       |       len(regexp_extract_all(text, '$i')) AS n_ipv4,
       |       length(regexp_replace(regexp_replace(regexp_replace(text,
       |         '$e', '[PII]', 'g'), '$p', '[PII]', 'g'), '$i', '[PII]', 'g'))
       |         AS redacted_len
       |FROM documents""".stripMargin
  }

  /** Twin of [[TextAnalysis.contamination]] with the benchmark set given
    * as a SQL predicate over `documents`. */
  def contamination(benchPredSql: String, n: Int): String =
    s"""WITH bench AS MATERIALIZED (
       |  SELECT list_distinct(flatten(list(${DedupSql.shinglesSql(n)}))) AS bsh
       |  FROM documents WHERE ($benchPredSql) AND len($toks) > 0),
       |docsh AS (
       |  SELECT doc_id, ${DedupSql.shinglesSql(n)} AS sh
       |  FROM documents WHERE len($toks) > 0)
       |SELECT doc_id,
       |       coalesce(len(list_intersect(sh, bsh)), 0) > 0 AS contaminated
       |FROM docsh, bench ORDER BY doc_id""".stripMargin

  /** Twin of [[TextAnalysis.packSequences]]. */
  /** Twin of [[TextAnalysis.chunkDocuments]]: same tokenizer, same
    * floor-based chunk-count rule, same 1-based list slicing. */
  def chunkDocuments(chunkSize: Int, overlap: Int): String = {
    val step = chunkSize - overlap
    s"""SELECT doc_id, chunk_id,
       |       CAST(len(toks[chunk_id * $step + 1 : chunk_id * $step + $chunkSize])
       |            AS BIGINT) AS n_chunk_tokens,
       |       array_to_string(
       |         toks[chunk_id * $step + 1 : chunk_id * $step + $chunkSize],
       |         ' ') AS chunk_text
       |FROM (
       |  SELECT doc_id, toks,
       |         unnest(range(1 + greatest(0, CAST(floor(
       |           (n - $chunkSize + ${step - 1}) / $step) AS BIGINT)))) AS chunk_id
       |  FROM (
       |    SELECT doc_id, $toks AS toks, len($toks) AS n
       |    FROM documents) WHERE n > 0)""".stripMargin
  }

  def packSequences(budget: Int): String =
    s"""SELECT doc_id, n_tokens,
       |       CAST(floor((cum_after - n_tokens) / $budget) AS BIGINT) AS seq_id,
       |       CAST((cum_after - n_tokens) % $budget AS BIGINT) AS seq_offset
       |FROM (
       |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
       |         sum(CAST(len($toks) AS BIGINT)) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_after
       |  FROM documents)""".stripMargin

  /** Twin of [[TextAnalysis.packSequencesSharded]]: same running sum,
    * partitioned per source shard. */
  def packSequencesSharded(budget: Int): String =
    s"""SELECT doc_id, source, n_tokens,
       |       CAST(floor((cum_after - n_tokens) / $budget) AS BIGINT) AS seq_id,
       |       CAST((cum_after - n_tokens) % $budget AS BIGINT) AS seq_offset
       |FROM (
       |  SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens,
       |         sum(CAST(len($toks) AS BIGINT)) OVER (PARTITION BY source
       |           ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_after
       |  FROM documents)""".stripMargin

  /** Twin of [[TextAnalysis.tfidfTopTerms]]. The rounded score is computed
    * once in a subquery so the rank and the output value can never use
    * different roundings. */
  def tfidf(topK: Int): String =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, unnest($toks) AS term
       |  FROM documents WHERE len($toks) > 0),
       |n AS MATERIALIZED (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM tok GROUP BY doc_id, term),
       |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |       FROM tok GROUP BY term)
       |SELECT doc_id, rank, term, tf, tfidf FROM (
       |  SELECT doc_id, term, tf, tfidf,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY tfidf DESC, term) AS rank
       |  FROM (SELECT doc_id, term, tf,
       |               round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
       |        FROM tf JOIN df USING (term), n))
       |WHERE rank <= $topK ORDER BY doc_id, rank""".stripMargin

  /** Twin of [[TextAnalysis.tfidfRetrieval]]: identical quantized-idf
    * integer weights (HUGEINT dot products and norms ⇔ Spark
    * DECIMAL(38,0)), one float division per pair, rounded before ranked.
    * The postings CTE is MATERIALIZED — it feeds the norms and both join
    * arms (the nearDupClusters re-evaluation lesson). */
  def tfidfRetrieval(queryMod: Int = 100, topK: Int = 5,
      maxQueryId: Long = 5000L): String =
    s"""WITH tok AS (
       |  SELECT doc_id, t.term FROM documents, unnest($toks) AS t(term)),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |wtd AS MATERIALIZED (
       |  SELECT doc_id, term, w FROM (
       |    SELECT tf.doc_id, tf.term,
       |           tf.tf * CAST(round(ln(CAST(n.n_docs AS DOUBLE) / dfr.df)
       |                              * 1e6) AS BIGINT) AS w
       |    FROM tf JOIN dfr USING (term) CROSS JOIN n)
       |  WHERE w <> 0),
       |nrm AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2
       |        FROM wtd GROUP BY 1),
       |dot AS (
       |  SELECT q.doc_id AS q_id, c.doc_id AS d_id,
       |         sum(CAST(q.w AS HUGEINT) * c.w) AS d
       |  FROM wtd q JOIN wtd c USING (term)
       |  WHERE q.doc_id % $queryMod = 0 AND q.doc_id < $maxQueryId
       |    AND c.doc_id <> q.doc_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT q_id, d_id,
       |         round(CAST(dot.d AS DOUBLE)
       |               / (sqrt(CAST(nq.n2 AS DOUBLE))
       |                  * sqrt(CAST(nd.n2 AS DOUBLE))), 6) AS cos_sim
       |  FROM dot
       |  JOIN nrm nq ON nq.doc_id = dot.q_id
       |  JOIN nrm nd ON nd.doc_id = dot.d_id),
       |rk AS (SELECT q_id, d_id, cos_sim,
       |              row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY cos_sim DESC, d_id) AS rank
       |       FROM scored)
       |SELECT q_id AS query_id, CAST(rank AS BIGINT) AS rank,
       |       d_id AS doc_id, cos_sim
       |FROM rk WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  /** Twin of [[TextAnalysis.bm25]] — identical formula, same constants. */
  def bm25(queryTerms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH base AS MATERIALIZED (
       |  SELECT doc_id, len($toks) AS dl, $toks AS tk
       |  FROM documents WHERE len($toks) > 0),
       |stats AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM base),
       |tf AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(tk) AS term FROM base)
       |  WHERE term IN (${inList(queryTerms)})
       |  GROUP BY doc_id, dl, term),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
       |SELECT rank, doc_id, score FROM (
       |  SELECT doc_id, score,
       |         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM (
       |    SELECT doc_id,
       |           round(sum(
       |             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |               * (tf * ($k1 + 1.0))
       |               / (tf + $k1 * (1.0 - $b + $b * dl / avgdl))), 6) AS score
       |    FROM tf JOIN df USING (term), stats GROUP BY doc_id))
       |WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** The hashed-LR score as a SQL scalar expression — identical
    * all-integer bucket/weight arithmetic to the native kernel (`ascii(t)`
    * is the first character's code in both engines; tokens are pure ASCII,
    * so byte length == char length == `length(t)`). Shared by
    * [[hashedLr]] and the composed export-pipeline twin. The coalesce
    * covers only the EMPTY token list (DuckDB's list_sum([]) is NULL, the
    * kernel says 0); NULL text stays NULL, matching the kernel's
    * null-intolerance — so a NULL-text row fails a `score >= 0` gate in
    * both engines. */
  def lrScore(dim: Int): String =
    s"CASE WHEN text IS NULL THEN NULL ELSE " +
      s"CAST(coalesce(list_sum(list_transform($toks, " +
      s"t -> ((((length(t)*31 + ascii(t)) % $dim) * 2654435761) " +
      s"% 1001) - 500)), 0) AS BIGINT) END"

  /** Twin of [[TextAnalysis.hashedLrQuality]]. */
  def hashedLr(dim: Int): String =
    s"""SELECT doc_id, n_tokens, score,
       |  CASE WHEN n_tokens > 0
       |    THEN round(CAST(score AS DOUBLE) / n_tokens, 6)
       |    ELSE 0.0 END AS score_per_token,
       |  score >= 0 AS keep
       |FROM (
       |  SELECT doc_id, len($toks) AS n_tokens,
       |         ${lrScore(dim)} AS score
       |  FROM documents)""".stripMargin

  /** Twin of [[TextAnalysis.aucOfHashedLr]]: identical integer score,
    * identical histogram rank-sum with the average-tie convention. */
  def aucOfHashedLr(dim: Int, labelSql: String): String =
    s"""WITH sc AS (
       |  SELECT CASE WHEN $labelSql THEN 1 ELSE 0 END AS y,
       |         ${lrScore(dim)} AS s
       |  FROM documents),
       |hist AS (
       |  SELECT s, sum(y) AS np, sum(1 - y) AS nn FROM sc GROUP BY s),
       |cum AS (
       |  SELECT s, np, nn,
       |         coalesce(sum(nn) OVER (ORDER BY s
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS cum_nn
       |  FROM hist)
       |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |       CAST(sum(nn) AS BIGINT) AS n_neg,
       |       count(*) AS n_scores,
       |       round(sum(np * (cum_nn + nn / 2.0))
       |             / (CAST(sum(np) AS DOUBLE) * sum(nn)), 6) AS auc
       |FROM cum""".stripMargin

  /** Twin of [[TextAnalysis.calibrationOfHashedLr]]: identical integer
    * score, identical fixed-width double-floor binning. */
  def calibrationOfHashedLr(dim: Int, labelSql: String, binWidth: Int): String =
    s"""WITH sc AS (
       |  SELECT CASE WHEN $labelSql THEN 1 ELSE 0 END AS y,
       |         ${lrScore(dim)} AS s
       |  FROM documents)
       |SELECT CAST(floor(s / $binWidth.0) AS BIGINT) AS bin,
       |       count(*) AS n,
       |       round(sum(y) / CAST(count(*) AS DOUBLE), 6) AS frac_pos
       |FROM sc GROUP BY 1 ORDER BY bin""".stripMargin

  val langId: String =
    s"""SELECT doc_id,
       |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       |       WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
       |       WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS lang_pred
       |FROM (
       |  SELECT doc_id,
       |         ${nStop(TextAnalysis.stopEn)} AS s_en,
       |         ${nStop(TextAnalysis.stopDe)} AS s_de,
       |         ${nStop(TextAnalysis.stopFr)} AS s_fr,
       |         ${nStop(TextAnalysis.stopEs)} AS s_es
       |  FROM documents)""".stripMargin

  /** Twin of [[TextAnalysis.unigramLmScore]]: identical per-(doc, token)
    * counts, corpus frequencies, and cross-entropy arithmetic. */
  val unigramLm: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toks) AS token FROM documents),
       |dt AS (
       |  SELECT doc_id, token, count(*) AS c_dt FROM tok
       |  GROUP BY doc_id, token),
       |freq AS (
       |  SELECT token, sum(c_dt) AS c_t FROM dt GROUP BY token),
       |total AS (SELECT CAST(sum(c_t) AS DOUBLE) AS n_total FROM freq)
       |SELECT doc_id,
       |       CAST(sum(c_dt) AS BIGINT) AS n_tokens,
       |       round(-sum(c_dt * ln(CAST(c_t AS DOUBLE) / n_total))
       |             / sum(c_dt), 6) AS xent
       |FROM dt JOIN freq USING (token), total
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Twin of [[TextAnalysis.rake]]: identical stopword segmentation via
    * the prefix-count window, identical quantized word scores (1e9
    * grid), phrase text re-assembled in position order, same tie-broken
    * top-k head. */
  /** Twin of [[TextAnalysis.readability]]: identical counting regexes,
    * identical operation order in the Flesch formula over exact ints. */
  val readability: String =
    s"""SELECT doc_id, n_words, n_sentences, n_syllables,
       |       round(206.835
       |             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
       |             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words),
       |             6) AS flesch
       |FROM (
       |  SELECT doc_id,
       |         CAST(len($toks) AS BIGINT) AS n_words,
       |         greatest(CAST(1 AS BIGINT),
       |           CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
       |           AS n_sentences,
       |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
       |              AS BIGINT) AS n_syllables
       |  FROM documents WHERE len($toks) > 0)
       |ORDER BY doc_id""".stripMargin

  /** Twin of [[TextAnalysis.codeDetect]]: identical symbol/indent
    * regexes, identical rounded-before-thresholded verdict. */
  def codeDetect(symThresh: Double = 0.02,
      indentThresh: Double = 0.2): String =
    s"""SELECT doc_id, n_lines, n_indent, n_sym, sym_ratio, indent_ratio,
       |       (sym_ratio >= $symThresh OR indent_ratio >= $indentThresh)
       |         AS is_code
       |FROM (
       |  SELECT doc_id, n_lines, n_indent, n_sym,
       |         round(CAST(n_sym AS DOUBLE) / n_chars, 6) AS sym_ratio,
       |         round(CAST(n_indent AS DOUBLE) / n_lines, 6)
       |           AS indent_ratio
       |  FROM (
       |    SELECT doc_id,
       |           CAST(length(text) AS BIGINT) AS n_chars,
       |           CAST(len(string_split(text, chr(10))) AS BIGINT)
       |             AS n_lines,
       |           CAST(len(regexp_extract_all(text, '\\n(  |\\t)'))
       |                AS BIGINT) AS n_indent,
       |           CAST(len(regexp_extract_all(text, '[{}()\\[\\];=<>]'))
       |                AS BIGINT) AS n_sym
       |    FROM documents WHERE length(text) > 0))
       |ORDER BY doc_id""".stripMargin

  def rake(topK: Int = 25): String = {
    val stops = TextAnalysis.stopAll.map(s => s"'$s'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, i AS pos, tk[i] AS token,
       |         tk[i] IN ($stops) AS is_stop
       |  FROM (SELECT doc_id, $toks AS tk FROM documents) base,
       |       unnest(range(1, len(tk) + 1)) AS r(i)),
       |seg0 AS (
       |  SELECT doc_id, pos, token, is_stop,
       |         sum(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
       |           PARTITION BY doc_id ORDER BY pos
       |           ROWS UNBOUNDED PRECEDING) AS seg
       |  FROM tok),
       |seg AS (
       |  SELECT doc_id, pos, token, seg,
       |         count(*) OVER (PARTITION BY doc_id, seg) AS plen
       |  FROM seg0 WHERE NOT is_stop),
       |ws AS (
       |  SELECT token,
       |         CAST(round(CAST(sum(plen) AS DOUBLE)
       |                    / CAST(count(*) AS DOUBLE) * 1e9) AS BIGINT)
       |           AS score_q
       |  FROM seg GROUP BY 1),
       |ph AS (
       |  SELECT s.doc_id, s.seg,
       |         string_agg(s.token, ' ' ORDER BY s.pos) AS phrase,
       |         count(*) AS n_words,
       |         CAST(sum(ws.score_q) AS BIGINT) AS sq
       |  FROM seg s JOIN ws USING (token)
       |  GROUP BY 1, 2
       |  HAVING count(*) BETWEEN 2 AND 4),
       |agg AS (
       |  SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
       |         count(*) AS n_occurrences, max(sq) AS sq
       |  FROM ph GROUP BY 1)
       |SELECT phrase, n_words, n_occurrences,
       |       round(CAST(sq AS DOUBLE) / 1e9, 6) AS score
       |FROM agg ORDER BY score DESC, phrase LIMIT $topK""".stripMargin
  }

  /** Twin of [[TextAnalysis.jsDivergence]]: identical cells, identical
    * quantized shared-token terms (1e12 grid), identical absent-mass
    * fold with the same inlined ln 2 literal. */
  val jsDivergence: String =
    s"""WITH tok AS (
       |  SELECT source, unnest($toks) AS token FROM documents),
       |cells AS (
       |  SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
       |        FROM cells GROUP BY 1),
       |j AS (
       |  SELECT a.source AS sa, b.source AS sb, ta.n AS na, tb.n AS nb,
       |         a.c AS ca, b.c AS cb,
       |         CAST(a.c AS DOUBLE) / CAST(ta.n AS DOUBLE) AS p,
       |         CAST(b.c AS DOUBLE) / CAST(tb.n AS DOUBLE) AS q
       |  FROM cells a
       |  JOIN cells b ON b.token = a.token AND a.source < b.source
       |  JOIN tot ta ON ta.source = a.source
       |  JOIN tot tb ON tb.source = b.source),
       |g AS (
       |  SELECT sa, sb, na, nb,
       |         CAST(sum(CAST(round((p / 2.0 * ln(p / ((p + q) / 2.0))
       |                              + q / 2.0 * ln(q / ((p + q) / 2.0)))
       |                             * 1e12) AS BIGINT)) AS BIGINT) AS sq,
       |         CAST(sum(ca) AS BIGINT) AS sca,
       |         CAST(sum(cb) AS BIGINT) AS scb
       |  FROM j GROUP BY 1, 2, 3, 4)
       |SELECT sa AS source_a, sb AS source_b, na AS n_a, nb AS n_b,
       |       round(CAST(sq AS DOUBLE) / 1e12
       |             + 0.6931471805599453 / 2.0
       |               * ((1.0 - CAST(sca AS DOUBLE) / CAST(na AS DOUBLE))
       |                 + (1.0 - CAST(scb AS DOUBLE) / CAST(nb AS DOUBLE))),
       |             6) AS jsd
       |FROM g ORDER BY source_a, source_b""".stripMargin

  /** Twin of [[TextAnalysis.perplexityFilter]]: the unigram scores, the
    * per-language μ/σ thresholds over the same rounded xent, the same
    * CASE arm order (head first, so σ = 0 languages agree). */
  def perplexityFilter(k: Double): String = {
    val bucket =
      s"""CASE WHEN sc.xent <= st.mu - $k * st.sigma THEN 'head'
         |            WHEN sc.xent >= st.mu + $k * st.sigma THEN 'tail'
         |            ELSE 'middle' END""".stripMargin
    s"""WITH sc0 AS ($unigramLm),
       |sc AS (SELECT s.doc_id, d.lang, s.n_tokens, s.xent
       |       FROM sc0 s JOIN documents d ON d.doc_id = s.doc_id),
       |st AS (SELECT lang, avg(xent) AS mu, stddev_pop(xent) AS sigma
       |       FROM sc GROUP BY lang)
       |SELECT sc.doc_id, sc.lang, sc.n_tokens, sc.xent,
       |       $bucket AS bucket,
       |       ($bucket) <> 'tail' AS kept
       |FROM sc JOIN st USING (lang)
       |ORDER BY sc.doc_id""".stripMargin
  }

  /** Twin of [[TextAnalysis.bigramLmScore]]: same train/score split, same
    * per-(doc, prev, cur) pre-aggregation, same three-way backoff CASE with
    * the double ops in the same order. */
  def bigramLm(trainPredSql: String): String =
    s"""WITH toked AS (
       |  SELECT doc_id, ($trainPredSql) AS in_train, $toks AS toks
       |  FROM documents),
       |uni AS (
       |  SELECT token, count(*) AS c_u
       |  FROM (SELECT unnest(toks) AS token FROM toked WHERE in_train)
       |  GROUP BY token),
       |tot AS (SELECT CAST(sum(c_u) AS DOUBLE) AS n_total FROM uni),
       |bi AS (
       |  SELECT toks[i] AS prev, toks[i + 1] AS cur, count(*) AS c_bi
       |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM toked WHERE in_train AND len(toks) >= 2)
       |  GROUP BY 1, 2),
       |db AS (
       |  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur,
       |         count(*) AS c_db
       |  FROM (SELECT doc_id, toks,
       |               unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM toked WHERE NOT in_train AND len(toks) >= 2)
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id,
       |       CAST(sum(c_db) AS BIGINT) AS n_bigrams,
       |       round(-sum(c_db * ln(
       |           CASE WHEN c_bi IS NOT NULL
       |                  THEN CAST(c_bi AS DOUBLE) / c_prev
       |                WHEN c_cur IS NOT NULL
       |                  THEN 0.4 * CAST(c_cur AS DOUBLE) / n_total
       |                ELSE 0.4 / n_total END))
       |             / sum(c_db), 6) AS xent
       |FROM db
       |LEFT JOIN bi USING (prev, cur)
       |LEFT JOIN (SELECT token AS prev, c_u AS c_prev FROM uni) USING (prev)
       |LEFT JOIN (SELECT token AS cur, c_u AS c_cur FROM uni) USING (cur)
       |CROSS JOIN tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Twin of [[TextAnalysis.kneserNeyScore]]: same type-relation
    * statistics, same three-way CASE, and every double op in the same
    * order (the continuation probability stays parenthesized as a unit
    * so the multiply order matches the Spark expression tree). */
  def kneserNey(trainPredSql: String, d: Double = 0.75): String =
    s"""WITH toked AS (
       |  SELECT doc_id, ($trainPredSql) AS in_train, $toks AS toks
       |  FROM documents),
       |bi AS (
       |  SELECT toks[i] AS prev, toks[i + 1] AS cur, count(*) AS c_bi
       |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM toked WHERE in_train AND len(toks) >= 2)
       |  GROUP BY 1, 2),
       |ctx AS (SELECT prev, sum(c_bi) AS c_prev, count(*) AS n_follow
       |        FROM bi GROUP BY prev),
       |cont AS (SELECT cur, count(*) AS n_precede FROM bi GROUP BY cur),
       |tot AS (SELECT CAST(sum(n_precede) AS DOUBLE) AS b_types FROM cont),
       |db AS (
       |  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur,
       |         count(*) AS c_db
       |  FROM (SELECT doc_id, toks,
       |               unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM toked WHERE NOT in_train AND len(toks) >= 2)
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id,
       |       CAST(sum(c_db) AS BIGINT) AS n_bigrams,
       |       round(-sum(c_db * ln(
       |           CASE WHEN n_precede IS NULL THEN $d / b_types
       |                WHEN c_prev IS NULL
       |                  THEN CAST(n_precede AS DOUBLE) / b_types
       |                ELSE greatest(
       |                       CAST(coalesce(c_bi, 0) AS DOUBLE) - $d, 0.0)
       |                     / c_prev
       |                     + $d * CAST(n_follow AS DOUBLE) / c_prev
       |                       * (CAST(n_precede AS DOUBLE) / b_types)
       |           END)) / sum(c_db), 6) AS xent
       |FROM db
       |LEFT JOIN bi USING (prev, cur)
       |LEFT JOIN ctx USING (prev)
       |LEFT JOIN cont USING (cur)
       |CROSS JOIN tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Twin of [[TextAnalysis.charEntropy]]: the same per-position char
    * expansion ([[TokenizerSql]]'s `unnest(generate_series)` idiom) and
    * the same closed-form entropy arithmetic. */
  val charEntropy: String =
    s"""SELECT doc_id,
       |       CAST(sum(c) AS BIGINT) AS n_chars,
       |       round(ln(CAST(sum(c) AS DOUBLE))
       |             - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy
       |FROM (
       |  SELECT doc_id, ch, count(*) AS c
       |  FROM (
       |    SELECT doc_id, substr(norm, i, 1) AS ch
       |    FROM (
       |      SELECT doc_id, norm,
       |             unnest(generate_series(1, length(norm))) AS i
       |      FROM (SELECT doc_id, array_to_string($toks, ' ') AS norm
       |            FROM documents)
       |      WHERE length(norm) > 0))
       |  GROUP BY doc_id, ch)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Twin of [[TextAnalysis.dsirWeights]]: two model CTE families (target
    * `_t`, raw `_r`) over the same split, one scored relation joining
    * both, the same backoff CASEs, and the ratio as a difference of the
    * two log-likelihood sums before the single division + round. */
  def dsirWeights(targetPredSql: String): String = {
    def modelCtes(sfx: String, pred: String): String =
      s"""uni_$sfx AS (
         |  SELECT token, count(*) AS c_u
         |  FROM (SELECT unnest(toks) AS token FROM toked WHERE $pred)
         |  GROUP BY token),
         |tot_$sfx AS (SELECT CAST(sum(c_u) AS DOUBLE) AS n_tot_$sfx
         |             FROM uni_$sfx),
         |bi_$sfx AS (
         |  SELECT toks[i] AS prev, toks[i + 1] AS cur, count(*) AS c_bi
         |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
         |        FROM toked WHERE ($pred) AND len(toks) >= 2)
         |  GROUP BY 1, 2)""".stripMargin
    def caseSql(sfx: String): String =
      s"""CASE WHEN c_bi_$sfx IS NOT NULL
         |       THEN CAST(c_bi_$sfx AS DOUBLE) / c_prev_$sfx
         |     WHEN c_cur_$sfx IS NOT NULL
         |       THEN 0.4 * CAST(c_cur_$sfx AS DOUBLE) / n_tot_$sfx
         |     ELSE 0.4 / n_tot_$sfx END""".stripMargin
    s"""WITH toked AS (
       |  SELECT doc_id, ($targetPredSql) AS in_target, $toks AS toks
       |  FROM documents),
       |${modelCtes("t", "in_target")},
       |${modelCtes("r", "NOT in_target")},
       |db AS (
       |  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur,
       |         count(*) AS c_db
       |  FROM (SELECT doc_id, toks,
       |               unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM toked WHERE NOT in_target AND len(toks) >= 2)
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id,
       |       CAST(sum(c_db) AS BIGINT) AS n_bigrams,
       |       round((sum(c_db * ln(${caseSql("t")}))
       |              - sum(c_db * ln(${caseSql("r")}))) / sum(c_db), 6)
       |         AS log_ratio
       |FROM db
       |LEFT JOIN (SELECT prev, cur, c_bi AS c_bi_t FROM bi_t)
       |  USING (prev, cur)
       |LEFT JOIN (SELECT token AS prev, c_u AS c_prev_t FROM uni_t)
       |  USING (prev)
       |LEFT JOIN (SELECT token AS cur, c_u AS c_cur_t FROM uni_t)
       |  USING (cur)
       |LEFT JOIN (SELECT prev, cur, c_bi AS c_bi_r FROM bi_r)
       |  USING (prev, cur)
       |LEFT JOIN (SELECT token AS prev, c_u AS c_prev_r FROM uni_r)
       |  USING (prev)
       |LEFT JOIN (SELECT token AS cur, c_u AS c_cur_r FROM uni_r)
       |  USING (cur)
       |CROSS JOIN tot_t CROSS JOIN tot_r
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The shared quantized-log-fit SQL tail: expects a CTE chain ending
    * in `q(x_q BIGINT, y_q BIGINT)` — twin of `TextAnalysis.quantLogFit`. */
  private def quantLogFitSql(ctes: String): String =
    s"""WITH $ctes,
       |s AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(x_q) AS BIGINT) AS sx,
       |         CAST(sum(y_q) AS BIGINT) AS sy,
       |         CAST(sum(x_q * y_q) AS BIGINT) AS sxy,
       |         CAST(sum(x_q * x_q) AS BIGINT) AS sxx,
       |         CAST(sum(y_q * y_q) AS BIGINT) AS syy
       |  FROM q),
       |c AS (
       |  SELECT n,
       |         CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS num,
       |         CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS denx,
       |         CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS deny,
       |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
       |  FROM s)
       |SELECT n,
       |       round(CASE WHEN denx = 0 THEN NULL ELSE num / denx END, 6)
       |         AS slope,
       |       round((syd - (CASE WHEN denx = 0 THEN NULL
       |                          ELSE num / denx END) * sxd) / n / 1e6, 6)
       |         AS intercept,
       |       CASE WHEN denx * deny = 0 THEN NULL
       |            ELSE round(num * num / (denx * deny), 6) END AS r2
       |FROM c""".stripMargin

  /** Twin of [[TextAnalysis.zipfAudit]]: identical quantized-log
    * regression sums (exact BIGINT), identical double combination. */
  def zipfAudit(topN: Int = 1000): String =
    quantLogFitSql(
      s"""tf AS (
       |  SELECT t.token, count(*) AS freq
       |  FROM documents, unnest($toks) AS t(token) GROUP BY 1),
       |rk AS (
       |  SELECT freq,
       |         row_number() OVER (ORDER BY freq DESC, token) AS rank
       |  FROM tf),
       |q AS (
       |  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x_q,
       |         CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS y_q
       |  FROM rk WHERE rank <= $topN)""".stripMargin)

  /** Twin of [[TextAnalysis.heapsAudit]]: the vocabGrowth bucket CTEs,
    * cumulative (tokens, vocab), the shared quantized-log fit. */
  def heapsAudit(nBuckets: Int = 10): String =
    quantLogFitSql(
      s"""st AS (SELECT min(doc_id) AS lo,
       |                   max(doc_id) - min(doc_id) + 1 AS span
       |            FROM documents),
       |tp AS (SELECT (doc_id - lo) * $nBuckets // span AS bucket,
       |              CAST(sum(len($toks)) AS BIGINT) AS n_toks
       |       FROM documents, st GROUP BY 1),
       |fd AS (SELECT t.token, min(doc_id) AS first_doc
       |       FROM documents, unnest($toks) AS t(token) GROUP BY 1),
       |nt AS (SELECT (first_doc - lo) * $nBuckets // span AS bucket,
       |              count(*) AS new_tokens
       |       FROM fd, st GROUP BY 1),
       |cumrel AS (
       |  SELECT CAST(sum(tp.n_toks)
       |           OVER (ORDER BY tp.bucket ROWS UNBOUNDED PRECEDING)
       |           AS BIGINT) AS ct,
       |         CAST(sum(coalesce(nt.new_tokens, 0))
       |           OVER (ORDER BY tp.bucket ROWS UNBOUNDED PRECEDING)
       |           AS BIGINT) AS cv
       |  FROM tp LEFT JOIN nt ON nt.bucket = tp.bucket),
       |q AS (
       |  SELECT CAST(round(ln(CAST(ct AS DOUBLE)) * 1e6) AS BIGINT) AS x_q,
       |         CAST(round(ln(CAST(cv AS DOUBLE)) * 1e6) AS BIGINT) AS y_q
       |  FROM cumrel WHERE ct > 0 AND cv > 0)""".stripMargin)

  /** Twin of [[TextAnalysis.heapsSynth]]: the identical integer Zipf
    * draw (shared multiplicative hash, `//` = `div` on non-negatives),
    * identical bucket CTEs, the shared quantized-log fit. */
  def heapsSynth(nBuckets: Int = 10): String =
    quantLogFitSql(
      s"""tokd AS (
       |  SELECT key, (${Sampling.hashMod} + h) // (h + 1) AS tok
       |  FROM (SELECT key, ${Sampling.rowHashSql("key")} AS h
       |        FROM (SELECT (l_orderkey * 8 + l_linenumber) AS key
       |              FROM lineitem))),
       |st AS (SELECT min(key) AS lo, max(key) - min(key) + 1 AS span
       |       FROM tokd),
       |tp AS (SELECT (key - lo) * $nBuckets // span AS bucket,
       |              count(*) AS n_toks
       |       FROM tokd, st GROUP BY 1),
       |fd AS (SELECT tok, min(key) AS first_key FROM tokd GROUP BY 1),
       |nt AS (SELECT (first_key - lo) * $nBuckets // span AS bucket,
       |              count(*) AS new_tokens
       |       FROM fd, st GROUP BY 1),
       |cumrel AS (
       |  SELECT CAST(sum(tp.n_toks)
       |           OVER (ORDER BY tp.bucket ROWS UNBOUNDED PRECEDING)
       |           AS BIGINT) AS ct,
       |         CAST(sum(coalesce(nt.new_tokens, 0))
       |           OVER (ORDER BY tp.bucket ROWS UNBOUNDED PRECEDING)
       |           AS BIGINT) AS cv
       |  FROM tp LEFT JOIN nt ON nt.bucket = tp.bucket),
       |q AS (
       |  SELECT CAST(round(ln(CAST(ct AS DOUBLE)) * 1e6) AS BIGINT) AS x_q,
       |         CAST(round(ln(CAST(cv AS DOUBLE)) * 1e6) AS BIGINT) AS y_q
       |  FROM cumrel WHERE ct > 0 AND cv > 0)""".stripMargin)
}
