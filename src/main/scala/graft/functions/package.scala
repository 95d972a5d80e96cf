package graft

import org.apache.spark.sql.{Column, Encoders, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions.{lit, udaf}

/** Column-level API for the engine's custom functions, mirroring
  * `org.apache.spark.sql.functions`. All are native Catalyst expressions
  * (codegen'd) or typed aggregators — no Scala-closure UDFs in hot paths.
  */
package object functions {

  private def col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    Bridge.column(e)
  private def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    Bridge.expression(c)

  /** Seeded murmur3_x86_32 of a string/binary column (signed Int). */
  def mmh3(key: Column, seed: Column): Column = col(Mmh3(expr(key), expr(seed)))
  def mmh3(key: Column, seed: Int): Column = mmh3(key, lit(seed))

  /** Bloom membership probe against a packed filter column. */
  def bloom_might_contain(bits: Column, m: Column, k: Column, key: Column): Column =
    col(BloomMightContain(expr(bits), expr(m), expr(k), expr(key)))

  /** Bloom membership probe against a broadcast driver-collected filter
    * set (the reference testers' shape); NULL for groups with no filter. */
  def bloom_probe_groups(filters: org.apache.spark.broadcast.Broadcast[graft.core.GroupFilters],
      group: Column, key: Column): Column =
    col(BloomProbeGroups(filters, expr(group), expr(key)))

  /** Cosine similarity of two ARRAY<FLOAT|DOUBLE> embedding columns. */
  def cosine_sim(a: Column, b: Column): Column = col(CosineSim(expr(a), expr(b)))

  /** Inner product of two ARRAY<FLOAT|DOUBLE> vector columns. */
  def dot_product(a: Column, b: Column): Column = col(DotProduct(expr(a), expr(b)))

  /** Element-wise difference of two ARRAY<FLOAT|DOUBLE> vector columns. */
  def vec_sub(a: Column, b: Column): Column = col(VecSub(expr(a), expr(b)))

  /** PQ asymmetric-distance lookup: sum of `table[j*ksub + codes[j]]`. */
  def pq_adc(table: Column, codes: Column, ksub: Int): Column =
    col(PqAdc(expr(table), expr(codes), ksub))

  /** PQ code word of a vector against a flat codebook (ARRAY<INT>). */
  def pq_encode(vec: Column, cb: Column, m: Int, ksub: Int): Column =
    col(PqEncode(expr(vec), expr(cb), m, ksub))

  /** PQ flat ADC lookup table of a query vector (ARRAY<DOUBLE>). */
  def pq_table(vec: Column, cb: Column, m: Int, ksub: Int): Column =
    col(PqTable(expr(vec), expr(cb), m, ksub))

  /** 64-bit SimHash of an ARRAY<STRING> token column. */
  def simhash64(tokens: Column): Column = col(SimHash64(expr(tokens)))

  /** MinHash signature (ARRAY<INT>, length numHashes) of an ARRAY<STRING>
    * shingle column. */
  def minhash_sig(shingles: Column, numHashes: Int): Column =
    col(MinHashSig(expr(shingles), numHashes))

  /** Signed-random-projection LSH signature (LONG, low `bits` bits) of an
    * ARRAY<FLOAT|DOUBLE> embedding column. */
  def srp_sig(vec: Column, bits: Int, seed: Int = 0): Column =
    col(SrpSig(expr(vec), bits, seed))

  /** Word n-gram shingles of an ARRAY<STRING> token column. */
  def word_ngrams(tokens: Column, n: Int): Column = col(WordNgrams(expr(tokens), n))

  /** `[top, total]` adjacent-bigram stats of an ARRAY<STRING> token column. */
  def bigram_stats(tokens: Column): Column = col(BigramStats(expr(tokens)))

  /** Native corpus tokenizer: lowercased maximal [a-z0-9]+ runs. */
  def word_tokens(text: Column): Column = col(WordTokens(expr(text)))

  /** Jaro–Winkler similarity of two string columns (DuckDB convention). */
  def jaro_winkler(a: Column, b: Column): Column =
    col(JaroWinklerSim(expr(a), expr(b)))

  /** ASCII byte-histogram L1 distance (edit-distance pigeonhole filter). */
  def hist_l1(a: Column, b: Column): Column = col(HistL1(expr(a), expr(b)))

  /** Byte-histogram common count (Jaro match-count upper bound). */
  def hist_common(a: Column, b: Column): Column =
    col(HistCommon(expr(a), expr(b)))

  /** Integer NB label score `prior + Σ logp_q(token)` over a token array,
    * probing a broadcast quantized-log-prob table (serving kernel). */
  def nb_score_sum(
      model: org.apache.spark.broadcast.Broadcast[graft.core.QuantizedLogProbs],
      prior: Long, tokens: Column): Column =
    col(NbScoreSum(model, prior, expr(tokens)))

  /** Feature-hashed linear quality score (BIGINT) of a text column. */
  def hashed_lr_score(text: Column, dim: Int): Column =
    col(HashedLrScore(expr(text), dim))

  /** `[scale, max_abs_err]` int8-quantization audit of a vector column. */
  def int8_quant_stats(vec: Column): Column = col(Int8QuantStats(expr(vec)))

  /** Self-contained SQ8 container (8-byte scale + int8 codes) of a
    * vector column. */
  def sq8_encode(vec: Column): Column = col(Sq8Encode(expr(vec)))

  /** Asymmetric cosine: full-width query vector vs sq8-encoded corpus
    * vector. */
  def sq8_cos(query: Column, bin: Column): Column =
    col(Sq8Cos(expr(query), expr(bin)))

  /** `[en, de, fr, es]` stopword-profile counts of a text column. */
  def stop_profile_counts(text: Column): Column =
    col(StopProfileCounts(expr(text)))

  /** `[n_words, tok_chars, n_alpha_words, n_stop_distinct]` of a text
    * column (the Gopher rule filter's token measurements). */
  def gopher_token_stats(text: Column): Column =
    col(GopherTokenStats(expr(text)))

  /** `[total, distinct]` word n-gram counts of a token array column. */
  def ngram_stats(tokens: Column, n: Int): Column =
    col(WordNgramStats(expr(tokens), n))

  /** Element-wise seeded murmur3 of an ARRAY<STRING> column. */
  def hash_array(arr: Column, seed: Int): Column = col(HashArray(expr(arr), seed))

  /** Winnowing fingerprint (window-`w` rolling minima, rightmost ties) of
    * an ARRAY<INT> hash-sequence column. */
  def winnow(hashes: Column, w: Int): Column = col(Winnow(expr(hashes), w))

  /** Reference-shaped build from explicit hash indexes:
    * `bloom_build_indexed(idx, m, k)` → BINARY (SURVEY.md §7.2.5b). */
  val bloom_build_indexed: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(BloomIndexAggregator, Encoders.product[BloomIndexInput])

  /** Per-group Bloom build aggregate: `bloom_build_native(key, m, k)` →
    * BINARY, a native TypedImperativeAggregate (no per-row encoder, hashes
    * UTF8String bytes in place). */
  def bloom_build_native(key: Column, m: Column, k: Column): Column =
    col(BloomBuildAgg(expr(key), expr(m), expr(k))
      .toAggregateExpression(isDistinct = false))

  /** The SQL-function surface: (name, arity, builder). Shared between
    * session-local registration ([[registerAll]]) and extension-based
    * injection ([[graft.GraftExtensions]]). */
  private[graft] val sqlBuilders: Seq[(String, Int,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    ("mmh3", 2, exprs => Mmh3(exprs(0), exprs(1))),
    ("bloom_might_contain", 4, exprs =>
      BloomMightContain(exprs(0), exprs(1), exprs(2), exprs(3))),
    ("cosine_sim", 2, exprs => CosineSim(exprs(0), exprs(1))),
    ("dot_product", 2, exprs => DotProduct(exprs(0), exprs(1))),
    ("vec_sub", 2, exprs => VecSub(exprs(0), exprs(1))),
    ("int8_quant_stats", 1, exprs => Int8QuantStats(exprs(0))),
    ("sq8_encode", 1, exprs => Sq8Encode(exprs(0))),
    ("sq8_cos", 2, exprs => Sq8Cos(exprs(0), exprs(1))),
    ("stop_profile_counts", 1, exprs => StopProfileCounts(exprs(0))),
    ("gopher_token_stats", 1, exprs => GopherTokenStats(exprs(0))),
    ("ngram_stats", 2, {
      case Seq(toks, org.apache.spark.sql.catalyst.expressions.Literal(n: Int,
          org.apache.spark.sql.types.IntegerType)) => WordNgramStats(toks, n)
      case _ => throw new IllegalArgumentException(
        "ngram_stats(tokens, n): n must be an INT literal")
    }),
    ("simhash64", 1, exprs => SimHash64(exprs(0))),
    ("bloom_build_native", 3, exprs =>
      BloomBuildAgg(exprs(0), exprs(1), exprs(2))
        .toAggregateExpression(isDistinct = false)),
    ("minhash_sig", 2, {
      case Seq(sh, org.apache.spark.sql.catalyst.expressions.Literal(n: Int,
          org.apache.spark.sql.types.IntegerType)) => MinHashSig(sh, n)
      case _ => throw new IllegalArgumentException(
        "minhash_sig(shingles, numHashes): numHashes must be an INT literal")
    }),
    ("word_tokens", 1, exprs => WordTokens(exprs(0))),
    ("jaro_winkler", 2, exprs => JaroWinklerSim(exprs(0), exprs(1))),
    ("hashed_lr_score", 2, {
      case Seq(text, org.apache.spark.sql.catalyst.expressions.Literal(d: Int,
          org.apache.spark.sql.types.IntegerType)) => HashedLrScore(text, d)
      case _ => throw new IllegalArgumentException(
        "hashed_lr_score(text, dim): dim must be an INT literal")
    }),
    ("bigram_stats", 1, exprs => BigramStats(exprs(0))),
    ("word_ngrams", 2, {
      case Seq(toks, org.apache.spark.sql.catalyst.expressions.Literal(n: Int,
          org.apache.spark.sql.types.IntegerType)) => WordNgrams(toks, n)
      case _ => throw new IllegalArgumentException(
        "word_ngrams(tokens, n): n must be an INT literal")
    }),
    ("hash_array", 2, {
      case Seq(arr, org.apache.spark.sql.catalyst.expressions.Literal(s: Int,
          org.apache.spark.sql.types.IntegerType)) => HashArray(arr, s)
      case _ => throw new IllegalArgumentException(
        "hash_array(strings, seed): seed must be an INT literal")
    }),
    ("winnow", 2, {
      case Seq(arr, org.apache.spark.sql.catalyst.expressions.Literal(w: Int,
          org.apache.spark.sql.types.IntegerType)) => Winnow(arr, w)
      case _ => throw new IllegalArgumentException(
        "winnow(hashes, w): w must be an INT literal")
    }),
    ("srp_sig", 3, {
      case Seq(emb,
          org.apache.spark.sql.catalyst.expressions.Literal(b: Int,
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.catalyst.expressions.Literal(s: Int,
            org.apache.spark.sql.types.IntegerType)) => SrpSig(emb, b, s)
      case _ => throw new IllegalArgumentException(
        "srp_sig(embedding, bits, seed): bits and seed must be INT literals")
    }))

  /** Arity-checked wrapper around a raw builder. */
  private[graft] def checkedBuilder(name: String, n: Int,
      build: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression =
    exprs => {
      if (exprs.length != n) {
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> name, "expectedNum" -> n.toString,
            "actualNum" -> exprs.length.toString, "legacyNum" -> n.toString))
      }
      build(exprs)
    }

  /** Register the SQL surface (`SELECT mmh3(c, 3)`,
    * `bloom_build_native(...)`, `bloom_might_contain(...)`) on an existing
    * session. Sessions built with `spark.sql.extensions=graft.GraftExtensions`
    * get the same functions without this call. */
  def registerAll(spark: SparkSession): Unit =
    sqlBuilders.foreach { case (name, n, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, checkedBuilder(name, n, build), "built-in")
    }
}
