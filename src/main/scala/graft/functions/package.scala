package graft

import org.apache.spark.sql.{Column, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions.{lit, udaf}

/** Column-level API for the engine's custom functions, mirroring
  * `org.apache.spark.sql.functions`. All are native Catalyst expressions
  * (codegen'd) or typed aggregators — no Scala-closure UDFs in hot paths.
  */
package object functions {

  private def col(e: Expression): Column = Bridge.column(e)
  private def expr(c: Column): Expression = Bridge.expression(c)

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

  /** A [[Kernels]] table entry over `cols`, then its INT constants. */
  private def kernel(name: String, cols: Column*)(consts: Int*): Column =
    col(Kernel(Kernels(name), cols.map(expr), consts))

  /** Cosine similarity of two ARRAY<FLOAT|DOUBLE> embedding columns of one
    * element type; a NULL element fails the row (see [[VectorKernels]]). */
  def cosine_sim(a: Column, b: Column): Column = kernel("cosine_sim", a, b)()

  /** Inner product of two ARRAY<FLOAT|DOUBLE> vector columns. */
  def dot_product(a: Column, b: Column): Column = kernel("dot_product", a, b)()

  /** Element-wise difference of two ARRAY<FLOAT|DOUBLE> vector columns. */
  def vec_sub(a: Column, b: Column): Column = kernel("vec_sub", a, b)()

  /** PQ asymmetric-distance lookup: sum of `table[j*ksub + codes[j]]`. */
  def pq_adc(table: Column, codes: Column, ksub: Int): Column =
    kernel("pq_adc", table, codes)(ksub)

  /** PQ code word of a vector against a flat codebook (ARRAY<INT>). */
  def pq_encode(vec: Column, cb: Column, m: Int, ksub: Int): Column =
    kernel("pq_encode", vec, cb)(m, ksub)

  /** PQ flat ADC lookup table of a query vector (ARRAY<DOUBLE>). */
  def pq_table(vec: Column, cb: Column, m: Int, ksub: Int): Column =
    kernel("pq_table", vec, cb)(m, ksub)

  /** 64-bit SimHash of an ARRAY<STRING> token column. */
  def simhash64(tokens: Column): Column = kernel("simhash64", tokens)()

  /** MinHash signature (ARRAY<INT>, length numHashes) of an ARRAY<STRING>
    * shingle column; an empty input yields all Int.MaxValue (filter such
    * documents upstream). */
  def minhash_sig(shingles: Column, numHashes: Int): Column =
    kernel("minhash_sig", shingles)(numHashes)

  /** Signed-random-projection LSH signature (LONG, low `bits` bits) of an
    * ARRAY<FLOAT|DOUBLE> embedding column. */
  def srp_sig(vec: Column, bits: Int, seed: Int = 0): Column =
    kernel("srp_sig", vec)(bits, seed)

  /** Word n-gram shingles of an ARRAY<STRING> token column. */
  def word_ngrams(tokens: Column, n: Int): Column = kernel("word_ngrams", tokens)(n)

  /** `[top, total]` adjacent-bigram stats of an ARRAY<STRING> token column. */
  def bigram_stats(tokens: Column): Column = kernel("bigram_stats", tokens)()

  /** Native corpus tokenizer: lowercased maximal [a-z0-9]+ runs. */
  def word_tokens(text: Column): Column = kernel("word_tokens", text)()

  /** Jaro–Winkler similarity of two string columns (DuckDB convention). */
  def jaro_winkler(a: Column, b: Column): Column = kernel("jaro_winkler", a, b)()

  /** ASCII byte-histogram L1 distance (edit-distance pigeonhole filter). */
  def hist_l1(a: Column, b: Column): Column = kernel("hist_l1", a, b)()

  /** Byte-histogram common count (Jaro match-count upper bound). */
  def hist_common(a: Column, b: Column): Column = kernel("hist_common", a, b)()

  /** Integer NB label score `prior + Σ logp_q(token)` over a token array,
    * probing a broadcast quantized-log-prob table (serving kernel). */
  def nb_score_sum(
      model: org.apache.spark.broadcast.Broadcast[graft.core.QuantizedLogProbs],
      prior: Long, tokens: Column): Column =
    col(NbScoreSum(model, prior, expr(tokens)))

  /** Feature-hashed linear quality score (BIGINT) of a text column. A real
    * deployment swaps the fixed weight rule for trained weights (a
    * `dim`-length array, same kernel shape). */
  def hashed_lr_score(text: Column, dim: Int): Column =
    kernel("hashed_lr_score", text)(dim)

  /** `[scale, max_abs_err]` int8-quantization audit of a vector column. */
  def int8_quant_stats(vec: Column): Column = kernel("int8_quant_stats", vec)()

  /** Self-contained SQ8 container (8-byte scale + int8 codes) of a
    * vector column. */
  def sq8_encode(vec: Column): Column = kernel("sq8_encode", vec)()

  /** Asymmetric cosine: full-width query vector vs sq8-encoded corpus
    * vector. */
  def sq8_cos(query: Column, bin: Column): Column = kernel("sq8_cos", query, bin)()

  /** `[en, de, fr, es]` stopword-profile counts of a text column. */
  def stop_profile_counts(text: Column): Column = kernel("stop_profile_counts", text)()

  /** `[n_words, tok_chars, n_alpha_words, n_stop_distinct]` of a text
    * column (the Gopher rule filter's token measurements). */
  def gopher_token_stats(text: Column): Column = kernel("gopher_token_stats", text)()

  /** `[total, distinct]` word n-gram counts of a token array column. */
  def ngram_stats(tokens: Column, n: Int): Column = kernel("ngram_stats", tokens)(n)

  /** Element-wise seeded murmur3 of an ARRAY<STRING> column. */
  def hash_array(arr: Column, seed: Int): Column = kernel("hash_array", arr)(seed)

  /** Element-wise `xxhash64` of an ARRAY<STRING> column. */
  def xxhash64_array(arr: Column): Column = kernel("xxhash64_array", arr)()

  /** Winnowing fingerprint (window-`w` rolling minima, rightmost ties) of
    * an ARRAY<INT> hash-sequence column. */
  def winnow(hashes: Column, w: Int): Column = kernel("winnow", hashes)(w)

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

  /** The SQL-function surface: (name, arity, builder) for the three
    * hand-written SQL functions and every [[Kernels]] entry. Shared between
    * session-local registration ([[registerAll]]) and extension-based
    * injection ([[graft.GraftExtensions]]). */
  private[graft] val sqlBuilders: Seq[(String, Int, Builder)] = Seq[(String, Int, Builder)](
      ("mmh3", 2, exprs => Mmh3(exprs(0), exprs(1))),
      ("bloom_might_contain", 4, exprs =>
        BloomMightContain(exprs(0), exprs(1), exprs(2), exprs(3))),
      ("bloom_build_native", 3, exprs =>
        BloomBuildAgg(exprs(0), exprs(1), exprs(2))
          .toAggregateExpression(isDistinct = false))) ++
    Kernels.table.map(k => (k.name, k.args.size, k.fromSql _))

  private[graft] type Builder = Seq[Expression] => Expression

  /** Arity-checked wrapper around a raw builder. */
  private[graft] def checkedBuilder(name: String, n: Int, build: Builder): Builder =
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

  /** Register the SQL surface ([[sqlBuilders]]: `SELECT mmh3(c, 3)`,
    * `word_ngrams(tokens, 3)`, ...) on an existing session. Sessions built
    * with `spark.sql.extensions=graft.GraftExtensions` get the same
    * functions without this call. */
  def registerAll(spark: SparkSession): Unit =
    sqlBuilders.foreach { case (name, n, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, checkedBuilder(name, n, build), "built-in")
    }
}
