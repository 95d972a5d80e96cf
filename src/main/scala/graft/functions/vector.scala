package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Murmur3

/** Static kernels behind the [[Kernels]] table's vector and text entries.
  * Kept as plain static methods so whole-stage-generated code can call
  * them without closure objects (same pattern as
  * [[graft.core.BloomFilter]]'s kernels).
  */
object VectorKernels {

  /** `cosine_sim`: cosine similarity of two equal-length vectors,
    * accumulated in double in index order (one pass, three accumulators)
    * by the float or the double loop, picked once per call (the two sides
    * share one element type, checked at analysis). The DuckDB oracle
    * mirrors this exact association: `dot / (sqrt(na) * sqrt(nb))`.
    * Zero-norm input → 0.0. */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double =
    if (aFloat) cosineFloat(a, b) else cosineDouble(a, b)

  def cosineFloat(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"cosine_sim: length mismatch ${n} vs ${b.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      requireNoNullSlot(a, i, "cosine_sim"); requireNoNullSlot(b, i, "cosine_sim")
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def cosineDouble(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"cosine_sim: length mismatch ${n} vs ${b.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      requireNoNullSlot(a, i, "cosine_sim"); requireNoNullSlot(b, i, "cosine_sim")
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // Null-slot contract (vector kernels and winnow): a NULL array element
  // is rejected with a clear error rather than silently read as 0/garbage
  // through getFloat/getDouble — embeddings come from parquet whose list
  // type is nullable-by-default (containsNull=true), so the type check
  // can't forbid them statically without breaking every real caller.
  // Deliberate divergence from the DuckDB twins (which yield SQL NULL for
  // a null slot): a null embedding slot upstream of similarity scoring is
  // corrupt input, and at corpus scale a loud per-row failure is worth
  // more than a silently-NULL score that drops the row from a top-k — a
  // pipeline that wants row-level degradation should filter
  // `!array_contains(..., NULL)` ahead of the kernel, which keeps the
  // policy in the query where it's visible.
  private def requireNoNullSlot(a: ArrayData, i: Int, op: String): Unit =
    if (a.isNullAt(i)) throw new IllegalArgumentException(
      s"$op: NULL element at index $i — array columns must have non-null elements")

  /** `dot_product`: the inner product of two equal-length vectors,
    * accumulated in double in index order, by the float or the double
    * loop picked once per call. DuckDB twin: `list_dot_product`. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double =
    if (aFloat) dotFloat(a, b) else dotDouble(a, b)

  def dotFloat(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"dot_product: length mismatch ${n} vs ${b.numElements()}")
    var dot = 0.0
    var i = 0
    while (i < n) {
      requireNoNullSlot(a, i, "dot_product"); requireNoNullSlot(b, i, "dot_product")
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  def dotDouble(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"dot_product: length mismatch ${n} vs ${b.numElements()}")
    var dot = 0.0
    var i = 0
    while (i < n) {
      requireNoNullSlot(a, i, "dot_product"); requireNoNullSlot(b, i, "dot_product")
      dot += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    dot
  }

  /** PQ encode kernel (`pq_encode`): per subspace `j`, the code of
    * the max-cosine centroid (ties -> lowest code, matching
    * `max_by(code, struct(sim, -code))`). `cb` is the flat codebook laid
    * out `(j*ksub + code)*sd + dim`. One call encodes a full vector —
    * the FAISS-style tight loop, no explode/join/aggregate. */
  def pqEncode(vec: ArrayData, cb: ArrayData, m: Int, ksub: Int): ArrayData = {
    val d = vec.numElements()
    require(d % m == 0, s"pq_encode: m ($m) must divide dims ($d)")
    val sd = d / m
    require(cb.numElements() == m * ksub * sd,
      s"pq_encode: codebook length ${cb.numElements()} != m*ksub*sd (${m * ksub * sd})")
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestCos = Double.NegativeInfinity
      var code = 0
      while (code < ksub) {
        val base = (j * ksub + code) * sd
        var dot = 0.0; var na = 0.0; var nc = 0.0
        var i = 0
        while (i < sd) {
          val x = vec.getDouble(j * sd + i)
          val c = cb.getDouble(base + i)
          dot += x * c; na += x * x; nc += c * c
          i += 1
        }
        val cos = if (na == 0.0 || nc == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nc))
        if (cos > bestCos) { bestCos = cos; best = code }
        code += 1
      }
      out(j) = best
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** PQ ADC-table kernel (`pq_table`): the query's flat lookup table
    * `table[j*ksub + code] = dot(q_j, c_{j,code})`, one call per query. */
  def pqTable(vec: ArrayData, cb: ArrayData, m: Int, ksub: Int): ArrayData = {
    val d = vec.numElements()
    require(d % m == 0, s"pq_table: m ($m) must divide dims ($d)")
    val sd = d / m
    require(cb.numElements() == m * ksub * sd,
      s"pq_table: codebook length ${cb.numElements()} != m*ksub*sd (${m * ksub * sd})")
    val out = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      var code = 0
      while (code < ksub) {
        val base = (j * ksub + code) * sd
        var dot = 0.0
        var i = 0
        while (i < sd) {
          dot += vec.getDouble(j * sd + i) * cb.getDouble(base + i)
          i += 1
        }
        out(j * ksub + code) = dot
        code += 1
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ADC lookup kernel (`pq_adc`): `Σ_j table[j*ksub + codes[j]]` —
    * the product-quantization score is `m` flat-array lookups, never a
    * full-width vector pass. */
  def pqAdc(table: ArrayData, codes: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    val tlen = table.numElements()
    var sum = 0.0
    var j = 0
    while (j < m) {
      val code = codes.getInt(j)
      // per-code bound, not just the flattened index: a code >= ksub at a
      // non-final subspace would land inside ANOTHER subspace's slots and
      // return a silently wrong score instead of failing
      require(code >= 0 && code < ksub,
        s"pq_adc: code $code at subspace $j out of range [0, $ksub)")
      val idx = j * ksub + code
      require(idx < tlen,
        s"pq_adc: slot $idx at subspace $j out of table range $tlen (ksub=$ksub)")
      sum += table.getDouble(idx)
      j += 1
    }
    sum
  }

  /** Element-wise vector subtraction (`vec_sub`): the residual
    * kernel of residual-encoded IVF×PQ. Accepts float or double element
    * arrays on either side; always returns doubles. */
  def vecSub(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): ArrayData = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"vec_sub: length mismatch ${n} vs ${b.numElements()}")
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      requireNoNullSlot(a, i, "vec_sub"); requireNoNullSlot(b, i, "vec_sub")
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      out(i) = x - y
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Int8-quantization audit kernel (`int8_quant_stats`):
    * `[scale, max_abs_err]` for a float/double vector under symmetric
    * per-vector int8 quantization (`scale = max|e|/127`, code =
    * `clamp(floor(e/scale + 0.5), ±127)`). Operation order mirrors the
    * SQL twin exactly (cast → abs-max → divide → round-half-up → clamp →
    * reconstruct), so the audit values match the oracle bit for bit.
    * Zero vector → scale 0, err 0. */
  def int8QuantStats(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      requireNoNullSlot(a, i, "int8_quant_stats")
      val e = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val ab = math.abs(e)
      // NaN sorts greatest in Spark's array_max — propagate it the same
      // way so the composed-form equivalence holds on NaN slots too
      if (ab.isNaN || ab > maxAbs) maxAbs = ab
      i += 1
    }
    val s = maxAbs / 127.0
    var maxErr = 0.0
    if (s != 0.0) {
      i = 0
      while (i < n) {
        val e = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        var q = math.floor(e / s + 0.5)
        if (q > 127.0) q = 127.0
        if (q < -127.0) q = -127.0
        val err = math.abs(e - q * s)
        if (err.isNaN || err > maxErr) maxErr = err
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(s, maxErr))
  }

  /** SQ8 encode kernel (`sq8_encode`): symmetric per-vector int8
    * quantization into ONE self-contained binary — 8 bytes of big-endian
    * IEEE-754 scale (`max|e|/127`), then one signed code byte per
    * dimension (`clamp(floor(e/scale + 0.5), ±127)`; zero vector →
    * scale 0, all-zero codes). Identical arithmetic to
    * [[int8QuantStats]], so the audit query's error bounds govern this
    * container too. The 4× wire/storage compression every 100 TB vector
    * corpus applies, as a column a shuffle can carry. */
  def sq8Encode(a: ArrayData, isFloat: Boolean): Array[Byte] = {
    val n = a.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      requireNoNullSlot(a, i, "sq8_encode")
      val e = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val ab = math.abs(e)
      if (ab.isNaN || ab > maxAbs) maxAbs = ab
      i += 1
    }
    val s = maxAbs / 127.0
    val out = new Array[Byte](8 + n)
    val bits = java.lang.Double.doubleToLongBits(s)
    var j = 0
    while (j < 8) { out(j) = ((bits >>> (56 - 8 * j)) & 0xffL).toByte; j += 1 }
    if (s != 0.0) {
      i = 0
      while (i < n) {
        val e = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        var q = math.floor(e / s + 0.5)
        if (q > 127.0) q = 127.0
        if (q < -127.0) q = -127.0
        out(8 + i) = q.toByte
        i += 1
      }
    }
    out
  }

  /** Asymmetric SQ8 cosine (`sq8_cos`): cosine between a full-width
    * query vector and an [[sq8Encode]]d corpus vector — the ADC-style
    * scoring pass of the IVF×SQ8 lane. The per-vector scale is a positive
    * scalar multiplier and cancels in cosine, so the corpus side is pure
    * integer code math (the scale bytes exist for dot/L2 consumers);
    * zero-norm convention matches [[cosineDouble]]. */
  def sq8Cos(q: ArrayData, bin: Array[Byte], isFloat: Boolean): Double = {
    val n = bin.length - 8
    require(q.numElements() == n,
      s"sq8_cos: length mismatch ${q.numElements()} vs $n")
    var dot = 0.0; var nq = 0.0; var nc = 0L
    var i = 0
    while (i < n) {
      requireNoNullSlot(q, i, "sq8_cos")
      val x = if (isFloat) q.getFloat(i).toDouble else q.getDouble(i)
      val c = bin(8 + i).toInt
      dot += x * c; nq += x * x; nc += c.toLong * c
      i += 1
    }
    if (nq == 0.0 || nc == 0L) 0.0
    else dot / (math.sqrt(nq) * math.sqrt(nc.toDouble))
  }

  /** Bigram-repetition kernel (`bigram_stats`): `[top, total]` where
    * `total` is the number of adjacent token bigrams (`|tokens| - 1`) and
    * `top` the occurrence count of the most frequent one. One local pass
    * with a per-document hash map (bounded by tokens-per-doc, never by
    * corpus) — replaces explode + two aggregate levels with a narrow
    * projection: zero shuffles, and unlike the `aggregate()` higher-order
    * fold it stays out of interpreted-lambda land. Exact: keys are the
    * token pair itself, not a hash. Requires ≥ 2 tokens (callers filter;
    * defensive `[0, 0]` otherwise). */
  def bigramStats(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    if (n < 2) {
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array[Long](0L, 0L))
    }
    def tok(i: Int): UTF8String =
      if (tokens.isNullAt(i)) UTF8String.EMPTY_UTF8 else tokens.getUTF8String(i)
    val counts = new java.util.HashMap[(UTF8String, UTF8String), Long]()
    var top = 0L
    var i = 0
    while (i < n - 1) {
      val key = (tok(i), tok(i + 1))
      val c = counts.merge(key, 1L, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array[Long](top, n - 1L))
  }

  /** Word n-gram kernel (`word_ngrams`). Null tokens render as empty
    * strings inside a shingle (they cannot occur from the tokenizer). */
  def wordNgrams(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    def str(i: Int): UTF8String =
      if (tokens.isNullAt(i)) UTF8String.EMPTY_UTF8 else tokens.getUTF8String(i)
    val sep = UTF8String.fromString(" ")
    if (len < n) {
      val whole = UTF8String.concatWs(sep, Array.tabulate(len)(str): _*)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](whole))
    } else {
      val out = new Array[Any](len - n + 1)
      var i = 0
      while (i <= len - n) {
        out(i) = UTF8String.concatWs(sep, Array.tabulate(n)(j => str(i + j)): _*)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** The four stopword profiles of the language-ID heuristic — canonical
    * definition (the operators layer and every SQL twin alias these).
    * All pure-ASCII lowercase, so byte comparison == string comparison. */
  val stopEn: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
  val stopDe: Seq[String] = Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den")
  val stopFr: Seq[String] = Seq("le", "la", "et", "les", "des", "est", "pas", "une", "dans", "que")
  val stopEs: Seq[String] = Seq("el", "los", "de", "que", "y", "en", "un", "es", "una", "por")

  private val stopProfiles: Array[Array[Array[Byte]]] =
    Array(stopEn, stopDe, stopFr, stopEs)
      .map(_.map(_.getBytes("UTF-8")).toArray)

  /** Stop-profile counting kernel (`stop_profile_counts`): per
    * profile, how many token occurrences are one of its stopwords —
    * `[en, de, fr, es]` in ONE pass over the lowered bytes (the composed
    * form pays one interpreted `filter` lambda per profile per token).
    * A token is compared only against same-length words. */
  def stopProfileCounts(text: UTF8String): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    val n = bytes.length
    val counts = new Array[Int](4)
    var i = 0
    while (i < n) {
      if (isTokenByte(bytes(i))) {
        val start = i
        while (i < n && isTokenByte(bytes(i))) i += 1
        val len = i - start
        var p = 0
        while (p < 4) {
          val words = stopProfiles(p)
          var w = 0
          var hit = false
          while (w < words.length && !hit) {
            val word = words(w)
            if (word.length == len) {
              var j = 0
              while (j < len && word(j) == bytes(start + j)) j += 1
              hit = j == len
            }
            w += 1
          }
          if (hit) counts(p) += 1
          p += 1
        }
      } else i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(counts)
  }

  /** N-gram counting kernel (`ngram_stats`): `[total, distinct]`
    * word `n`-gram shingle counts of a token array WITHOUT materializing
    * the shingle array (the `word_ngrams` → `array_distinct` → `size`
    * composition allocates every shingle string twice). Same semantics as
    * [[wordNgrams]]: inputs shorter than `n` yield one whole-text shingle.
    * Distinctness is decided on the actual shingle strings (a per-doc
    * bounded set) — exact, not hash-approximate. */
  def wordNgramStats(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    val total = math.max(len - n + 1, 1).toLong
    val seen = new java.util.HashSet[UTF8String]()
    val sep = UTF8String.fromString(" ")
    // same null-slot rule as wordNgrams (null renders as empty string) so
    // the two kernels agree on every legal input, not just null-free ones
    def str(i: Int): UTF8String =
      if (tokens.isNullAt(i)) UTF8String.EMPTY_UTF8 else tokens.getUTF8String(i)
    if (len < n) {
      // mirror wordNgrams' short-input fallback: one shingle of all tokens
      seen.add(UTF8String.concatWs(sep, Array.tabulate(len)(str): _*))
    } else {
      var i = 0
      while (i <= len - n) {
        seen.add(UTF8String.concatWs(sep, Array.tabulate(n)(j => str(i + j)): _*))
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      Array(total, seen.size.toLong))
  }

  /** Gopher-rule token statistics kernel (`gopher_token_stats`):
    * `[n_words, tok_chars, n_alpha_words, n_stop_distinct]` in one pass
    * over the lowered bytes — word count, total token characters, tokens
    * containing at least one letter, and DISTINCT English stopwords
    * present (a 10-bit mask over [[stopEn]]). The composed form pays an
    * interpreted `rlike` lambda per token for the alpha-word count. */
  def gopherTokenStats(text: UTF8String): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    val n = bytes.length
    val en = stopProfiles(0)
    var nWords = 0L
    var tokChars = 0L
    var nAlpha = 0L
    var stopMask = 0
    var i = 0
    while (i < n) {
      if (isTokenByte(bytes(i))) {
        val start = i
        var hasAlpha = false
        while (i < n && isTokenByte(bytes(i))) {
          if (bytes(i) >= 'a' && bytes(i) <= 'z') hasAlpha = true
          i += 1
        }
        val len = i - start
        nWords += 1
        tokChars += len
        if (hasAlpha) nAlpha += 1
        var w = 0
        while (w < en.length) {
          if ((stopMask & (1 << w)) == 0 && en(w).length == len) {
            var j = 0
            while (j < len && en(w)(j) == bytes(start + j)) j += 1
            if (j == len) stopMask |= 1 << w
          }
          w += 1
        }
      } else i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      Array(nWords, tokChars, nAlpha, java.lang.Long.bitCount(stopMask.toLong).toLong))
  }

  /** Hashed-feature linear scorer kernel (`hashed_lr_score`): one pass
    * over the lowered bytes; every `[a-z0-9]+` run contributes
    * `weight(bucket(run))` where `bucket = (len*31 + firstByte) % dim` and
    * `weight(b) = (b * 2654435761) % 1001 - 500`. All-integer arithmetic,
    * so a SQL engine computes the identical score from the identical
    * tokens; token runs are bucketed without ever materializing a token
    * array. Tokens are pure ASCII runs, so byte length == char length and
    * the first byte == `ascii(token)`. */
  def hashedLrScore(text: UTF8String, dim: Int): Long = {
    val bytes = text.toLowerCase.getBytes
    val n = bytes.length
    var score = 0L
    var i = 0
    while (i < n) {
      if (isTokenByte(bytes(i))) {
        val first = bytes(i).toLong
        val start = i
        while (i < n && isTokenByte(bytes(i))) i += 1
        val bucket = ((i - start) * 31L + first) % dim
        score += (bucket * 2654435761L) % 1001L - 500L
      } else i += 1
    }
    score
  }

  /** Tokenizer kernel (`word_tokens`): lowercase, then maximal
    * `[a-z0-9]+` byte runs. Byte-for-byte equal to
    * `regexp_extract_all(lower(text), '[a-z0-9]+', 0)` for EVERY input:
    * the lowering is the same `UTF8String.toLowerCase` the built-in
    * `lower` uses, and scanning the lowered UTF-8 bytes is exact because
    * multi-byte code points never contain ASCII-range bytes. */
  def wordTokens(text: UTF8String): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    val n = bytes.length
    var count = 0
    var i = 0
    while (i < n) { // first pass: count runs (no buffer growth/copies)
      if (isTokenByte(bytes(i))) {
        count += 1
        while (i < n && isTokenByte(bytes(i))) i += 1
      } else i += 1
    }
    val out = new Array[Any](count)
    var t = 0
    i = 0
    while (i < n) {
      if (isTokenByte(bytes(i))) {
        val start = i
        while (i < n && isTokenByte(bytes(i))) i += 1
        out(t) = UTF8String.fromBytes(bytes, start, i - start)
        t += 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Element-wise seeded murmur3 (`hash_array`); nulls hash as empty. */
  def hashArray(arr: ArrayData, seed: Int): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val bytes =
        if (arr.isNullAt(i)) Array.emptyByteArray else arr.getUTF8String(i).getBytes
      out(i) = Murmur3.hashBytes(bytes, seed)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Element-wise `xxhash64` (`xxhash64_array`), value-identical to
    * `transform(arr, x -> xxhash64(x))`: Spark's seed 42, and a NULL
    * element hashes to the seed, as `xxhash64(NULL)` does. */
  def xxhash64Array(arr: ArrayData): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      Array.tabulate(arr.numElements())(i => if (arr.isNullAt(i)) 42L else
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(arr.getUTF8String(i), 42L)))

  /** MinHash signature kernel: one murmur3 per (shingle, seed), min-folded
    * in place; returns a primitive int array (no boxing on either path).
    * Null shingles are skipped. */
  def minhashSig(shingles: ArrayData, numHashes: Int): ArrayData = {
    val sig = new Array[Int](numHashes)
    java.util.Arrays.fill(sig, Int.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val bytes = shingles.getUTF8String(i).getBytes
        var s = 0
        while (s < numHashes) {
          val h = Murmur3.hashBytes(bytes, s)
          if (h < sig(s)) sig(s) = h
          s += 1
        }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Winnowing fingerprint kernel (Schleimer/Wilkerson/Aiken, MOSS): from
    * the k-gram hash SEQUENCE, select the minimum of every window of `w`
    * consecutive hashes — rightmost occurrence on ties — recording each
    * selected position once. O(n) via a monotone deque. (This is standard
    * winnowing with a deterministic tie rule; the paper's "robust" variant
    * additionally prefers re-selecting the previous fingerprint on ties,
    * yielding slightly sparser output on tie-heavy input.) Guarantees:
    * every `w`-window contributes a selected hash (detection of any match
    * ≥ w+k-1 grams), and the fingerprint is a position-subset of the
    * input. Sequences shorter than `w` yield their single rightmost
    * minimum. A NULL hash is rejected (the null-slot contract above). */
  def winnow(hashes: ArrayData, w: Int): ArrayData = {
    val n = hashes.numElements()
    def h(i: Int): Int = hashes.getInt(i)
    var j = 0
    while (j < n) { requireNoNullSlot(hashes, j, "winnow"); j += 1 }
    if (n == 0) {
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.emptyIntArray)
    }
    if (n <= w) {
      var best = h(0); var i = 1
      while (i < n) { if (h(i) <= best) best = h(i); i += 1 }
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array(best))
    }
    // deque of candidate indices with strictly increasing hash values;
    // >= pop makes the front the RIGHTMOST minimum of the window
    val deque = new Array[Int](n)
    var head = 0; var tail = 0 // [head, tail)
    val selected = new Array[Int](n - w + 1)
    var nSel = 0; var lastPos = -1
    var i = 0
    while (i < n) {
      while (head < tail && deque(head) <= i - w) head += 1
      while (head < tail && h(deque(tail - 1)) >= h(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (i >= w - 1) {
        val m = deque(head)
        if (m != lastPos) { selected(nSel) = h(m); nSel += 1; lastPos = m }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(selected, nSel))
  }

  // (bits, dims, seed) -> Rademacher hyperplanes; regenerated identically
  // on every executor from murmur3, so no broadcast or shipping needed.
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  private def planes(bits: Int, dims: Int, seed: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((bits, dims, seed), { key =>
      val (b, d, s) = key
      Array.tabulate(b, d) { (bi, di) =>
        val h = Murmur3.hashBytes(s"$s:$bi:$di".getBytes("UTF-8"), 0)
        if ((h & 1) == 1) 1.0 else -1.0
      }
    })

  /** Signed-random-projection signature kernel (`srp_sig`). */
  def srpSig(vec: ArrayData, bits: Int, seed: Int, isFloat: Boolean): Long = {
    val dims = vec.numElements()
    val ps = planes(bits, dims, seed)
    var sig = 0L
    var b = 0
    while (b < bits) {
      val p = ps(b)
      var dot = 0.0
      var d = 0
      while (d < dims) {
        val x = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
        dot += p(d) * x
        d += 1
      }
      if (dot > 0.0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** 64-bit SimHash over a token array: each token contributes a 64-bit
    * hash (two seeded murmur3_x86_32 halves, seeds 0x5131 / 0x7353); the
    * signature bit is the sign of the per-bit vote sum. Near-duplicate
    * documents differ in few bits (compare with `bit_count(a ^ b)`).
    * Null tokens are skipped. */
  def simhash(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val bytes = tokens.getUTF8String(t).getBytes
        val lo = Murmur3.hashBytes(bytes, 0x5131)
        val hi = Murmur3.hashBytes(bytes, 0x7353)
        val h = (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}
