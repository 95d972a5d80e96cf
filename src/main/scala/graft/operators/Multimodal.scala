package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `BINARY`
  * payloads with typed metadata, plus the decode / feature-extract /
  * resize / frame-sample operator family of a training-data pipeline.
  *
  * The container has no image/audio codecs, so the *decode* step is a
  * clearly-marked deterministic stub ([[decodeStub]]) — everything around
  * it is real and tested: the schema, the binary slicing, the
  * partition-batched imperative path ([[decodeBatch]], the Scala analog of
  * a `mapInPandas` decode), and the aggregation shapes. Swapping
  * [[decodeStub]] for a real codec changes no plan shape.
  *
  * Scale notes: payloads never shuffle — every operator here is a narrow
  * projection; the only shuffle is the final small per-modality aggregate.
  * [[repartitionForDecode]] documents the one knob that matters at 100 TB:
  * decode is CPU-bound, so partitions are sized by row count, not bytes.
  */
object Multimodal {

  val frameSize = 64
  val maxFrames = 8

  /** Audio lane constants ([[audioFingerprint]]): 32-char stub frames,
    * up to 12 per track, 4 sub-bands of 8 chars. */
  val audioFrameSize = 32
  val maxAudioFrames = 12

  /** A media record: opaque payload + modality tag. */
  final case class MediaRecord(media_id: Long, modality: String, payload: Array[Byte])

  /** Typed decode output (what a real codec would yield). */
  final case class MediaMeta(width: Int, height: Int, channels: Int)

  final case class DecodedRecord(
      media_id: Long, modality: String, n_bytes: Int, meta: MediaMeta)

  /** Derive a media table from `documents`: the UTF-8 payload is the
    * opaque blob, modality cycles by doc id. This stands in for a real
    * (id, blob) source table; byte lengths and contents are real. */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
      encode(col("text"), "UTF-8").as("payload"))

  /** STUB decode (deliberately codec-free): metadata derived from the
    * payload length by fixed arithmetic, so the oracle can verify the
    * plumbing end-to-end. A real implementation parses the header bytes
    * instead; same signature, same plan. */
  def decodeStub(payload: Array[Byte]): MediaMeta = {
    val n = payload.length
    MediaMeta(
      width = 1 + (n * 31) % 1024,
      height = 1 + (n * 17) % 1024,
      channels = 1 + n % 4)
  }

  /** Column-level twin of [[decodeStub]] (keeps the declarative path in
    * whole-stage codegen; the typed path below demonstrates the
    * batch-imperative shape). */
  def metaColumns(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    struct(
      (lit(1) + pmod(octet_length(payload) * 31, lit(1024))).as("width"),
      (lit(1) + pmod(octet_length(payload) * 17, lit(1024))).as("height"),
      (lit(1) + pmod(octet_length(payload), lit(4))).as("channels"))

  /** Decode-as-projection: `(media_id, modality, n_bytes, meta struct)`. */
  def attachMeta(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("modality"),
      octet_length(col("payload")).as("n_bytes"),
      metaColumns(col("payload")).as("meta"))

  /** Partition-batched imperative decode — the Scala analog of a
    * `mapInPandas` decode stage: one function invocation per batch
    * (partition), rows streamed through it, typed output. This is where a
    * real codec (JNI, native lib) would amortize per-batch init cost. */
  def decodeBatch(media: Dataset[MediaRecord]): Dataset[DecodedRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      // per-batch init of the (stub) codec would go here
      batch.map { r =>
        DecodedRecord(r.media_id, r.modality, r.payload.length, decodeStub(r.payload))
      }
    }
  }

  /** Decode is CPU-bound per row, not per byte: partition by row count so
    * a 1000-executor cluster balances decode work even when blob sizes
    * skew. (With file sources prefer
    * `spark.sql.files.maxPartitionBytes` tuned to blob size.) */
  def repartitionForDecode(media: DataFrame, rowsPerPartition: Int): DataFrame = {
    val n = math.max(1, (media.count() / math.max(1, rowsPerPartition)).toInt)
    media.repartition(n)
  }

  /** Frame sampling: up to [[maxFrames]] fixed-size byte slices per
    * payload (real binary slicing via `substring`; for video this is the
    * frame-stride sample, for audio the window sample). */
  def frames(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(
      sequence(lit(0),
        least(lit(maxFrames - 1),
          greatest(lit(0), // empty payload -> one empty frame, not a
            floor((octet_length(payload) - 1) / frameSize)).cast("int"))), // descending sequence
      i => substring(payload, (i * frameSize + 1).cast("int"), lit(frameSize)))

  /** Crop-resize stub: truncate the payload to `nBytes` (a real resize
    * re-encodes; the byte-level plumbing — bounded output rows — is what
    * matters to the plan). */
  def resizeCrop(payload: org.apache.spark.sql.Column, nBytes: Int): org.apache.spark.sql.Column =
    substring(payload, 1, nBytes)

  /** Per-modality frame statistics over REAL slices:
    * `(modality, n_media, n_frames, sampled_bytes)` — the oracle predicts
    * these numbers from pure length arithmetic, so any slicing bug
    * (off-by-one, short last frame) surfaces as a value mismatch. */
  def frameStats(media: DataFrame): DataFrame =
    media
      .select(col("modality"), frames(col("payload")).as("fr"))
      .select(col("modality"), size(col("fr")).as("nf"),
        aggregate(col("fr"), lit(0), (acc, f) => acc + octet_length(f)).as("fb"))
      .groupBy("modality")
      .agg(count("*").as("n_media"),
        sum("nf").as("n_frames"),
        sum("fb").as("sampled_bytes"))

  /** Perceptual average-hash (aHash) near-dup screen — the classic
    * image-dedup fingerprint (mean-threshold the pixel grid, one bit per
    * cell, hamming-near hashes ≈ visually-near media): 63 "pixels"
    * mean-thresholded into a 63-bit BIGINT (63, not 64, so the hash
    * stays positive in both engines' int64), plus its popcount and the
    * exact-bucket size `n_bucket` (identical hashes = dedup candidates).
    * Per the lane's decode-stub convention the pixel grid is the first
    * 63 code points of the payload text (a real decoder yields the 8×8
    * grayscale grid instead — same expression shape, same plan); the
    * arithmetic is integer-exact so the full query is DuckDB-checkable,
    * unlike the murmur-based [[featurize]].
    *
    * Scale posture: one narrow codegen projection per row (no shuffle
    * for the hash), one hash-keyed window for the bucket size — the
    * exact-dedup exchange carries `(doc_id, hash)` only. */
  def aHash(docs: DataFrame, nPx: Int = 63): DataFrame = {
    val px = transform(sequence(lit(1), lit(nPx)),
      i => ascii(col("text").substr(i, lit(1))))
    val mean = aggregate(col("px"), lit(0L), (a, x) => a + x)
      .cast("double") / lit(nPx.toDouble)
    val hash = aggregate(
      transform(col("px"), (x, i) =>
        when(x.cast("double") > col("mean"),
          call_function("shiftleft", lit(1L), i))
          .otherwise(lit(0L))),
      lit(0L), (a, b) => a + b)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ahash")
    docs.where(length(col("text")) >= nPx)
      .select(col("doc_id"), px.as("px"))
      .select(col("doc_id"), col("px"), mean.as("mean"))
      .select(col("doc_id"), hash.as("ahash"))
      .withColumn("n_ones", bit_count(col("ahash")))
      .withColumn("n_bucket", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  /** Quantized 8×8 DCT-II basis, `round(cos((2r+1)·u·π/16)·1e4)` at index
    * `r·8 + u` — rounded ONCE here and inlined as literals into BOTH
    * engines' plans (the benfordExpected convention), so the transform is
    * pure integer arithmetic and the two engines cannot disagree on a
    * trig ulp. */
  val pHashCos: IndexedSeq[Long] =
    for (r <- 0 until 8; u <- 0 until 8)
      yield math.round(math.cos((2 * r + 1) * u * math.Pi / 16) * 1e4)

  /** Flattened 63×64 AC-coefficient weight matrix:
    * `w[(k−1)·64 + r·8 + c] = cos_q(r, k/8) · cos_q(c, k%8)` for
    * coefficient k = u·8+v ∈ [1, 63] (DC excluded — thresholding against
    * the median is invariant to the shared AC normalization, and DC
    * carries only brightness). Magnitudes: |w| ≤ 1e8, pixel ≤ 0x10FFFF,
    * 64 terms → |C| < 1.4e16, comfortably inside int64. */
  val pHashWeights: IndexedSeq[Long] =
    for (k <- 1 until 64; r <- 0 until 8; c <- 0 until 8)
      yield pHashCos(r * 8 + k / 8) * pHashCos(c * 8 + k % 8)

  /** Perceptual DCT-hash (pHash) near-dup screen — [[aHash]]'s
    * frequency-domain sibling (the production image-dedup pair: aHash
    * catches exact/bright-shifted copies, pHash survives blur and
    * re-encode because it thresholds the LOW-FREQUENCY spectrum): the
    * 8×8 "pixel" grid (decode-stub convention: first 64 code points)
    * transforms through the quantized integer DCT ([[pHashWeights]]),
    * and the 63 AC coefficients threshold against their exact MEDIAN
    * (element 32 of the sorted 63 — scale-free, so the quantization
    * grid cancels) into a 63-bit positive BIGINT.
    *
    * Everything is exact integer arithmetic — code-point pixels ×
    * inlined integer weights, integer sort, strict `>` threshold — so
    * the full query is DuckDB-checkable, per-coefficient and per-bit.
    *
    * Scale posture: one projection per row (4032 multiply-adds through
    * array fold loops — no shuffle for the hash), one hash-keyed window
    * for the bucket size; the exchange carries `(doc_id, phash)` only,
    * never text.
    *
    * The pixel and coefficient arrays are pinned as PHYSICAL columns by
    * re-basing each stage on its own RDD: higher-order array lambdas
    * run outside whole-stage codegen (no subexpression elimination),
    * and `CollapseProject` would otherwise inline the `px` transform
    * into all 63×64 `element_at` references — re-running the 64
    * substring decode thousands of times per row (measured: 424s for
    * 4,876 docs at sf0.1 collapsed vs ~1s staged). The recipe lives in
    * [[graft.functions.Staging]] (VERDICT r13 ask #5). */
  def pHash(docs: DataFrame): DataFrame = {
    val wArr = array(pHashWeights.map(lit): _*)
    val px = transform(sequence(lit(1), lit(64)),
      i => ascii(col("text").substr(i, lit(1))).cast("long"))
    // array folds over the physical px column: ~240ns/interpreted step
    // but only 63×64 steps/row. (The tempting alternative — 63 flat
    // 64-term codegen'd sum expressions — measured 4.5× SLOWER: a
    // 4032-node expression tree per projection blows past the codegen
    // splitting thresholds and loses common-subexpression reuse.)
    val coefs = transform(sequence(lit(1), lit(63)), k =>
      aggregate(sequence(lit(1), lit(64)), lit(0L),
        (acc, i) => acc + element_at(col("px"), i.cast("int")) *
          element_at(wArr, ((k - 1) * 64 + i).cast("int"))))
    val med = element_at(array_sort(col("coefs")), 32)
    val hash = aggregate(
      transform(col("coefs"), (c, idx) =>
        when(c > col("med"), call_function("shiftleft", lit(1L), idx))
          .otherwise(lit(0L))),
      lit(0L), (a, b) => a + b)
    val wv = org.apache.spark.sql.expressions.Window.partitionBy("phash")
    // the Staging recipe: spread (one split at test SF, per-row DCT is
    // the cost), then pin px and coefs as physical columns between stages
    graft.functions.Staging.stagedTransform(
      docs.where(length(col("text")) >= 64))(
      _.select(col("doc_id"), px.as("px")),
      _.select(col("doc_id"), coefs.as("coefs")).withColumn("med", med))
      .select(col("doc_id"), hash.as("phash"))
      .withColumn("n_ones", bit_count(col("phash")))
      .withColumn("n_bucket", count(lit(1)).over(wv))
      .orderBy("doc_id")
  }

  /** Video near-duplicate detection — the multimodal dedup composition a
    * video corpus pipeline runs: sample up to [[maxFrames]] COMPLETE
    * 64-char frame windows (the [[frames]] stride rule restricted to
    * full windows, over the decode-stub text), perceptual-hash each
    * frame (the [[aHash]] rule per window), drop STOP FRAMES
    * (hashes appearing in more than `maxDf` videos — the black-frame /
    * intro-card removal every production video dedup ships; a
    * deterministic SPEC rule mirrored exactly in the twin, not a recall
    * optimization), then pair videos sharing ≥ `minShared` distinct
    * frame hashes via the hash-keyed equi-join.
    *
    * Output `(vid_a, vid_b, n_shared)`. All arithmetic is exact integers
    * (code-point pixels, integer mean threshold comparison on the same
    * double division both engines), so the full composition is
    * DuckDB-checkable.
    *
    * Scale posture: frames explode ≤ [[maxFrames]] per video (linear);
    * the candidate join is hash-keyed with the stop-frame cap bounding
    * bucket width at `maxDf` — pair expansion ≤ maxDf²/2 per bucket, a
    * SPEC constant, never corpus-scaled; exchanges carry `(vid, hash)`
    * only. */
  def videoNearDup(docs: DataFrame, minShared: Int = 2,
      maxDf: Int = 50): DataFrame = {
    val vids = docs
      .where(pmod(col("doc_id"), lit(3)) === 2 && length(col("text")) >= 64)
      .select(col("doc_id").as("vid"), col("text"))
    val framed = vids.select(col("vid"), col("text"),
      explode(sequence(lit(0),
        least(lit(maxFrames - 1),
          (length(col("text")) / 64).cast("int") - 1))).as("f"))
    val px = transform(sequence(lit(1), lit(63)),
      i => ascii(col("text").substr(col("f") * 64 + i, lit(1))).cast("long"))
    val mean = aggregate(col("px"), lit(0L), (a, x) => a + x)
      .cast("double") / lit(63.0)
    val hash = aggregate(
      transform(col("px"), (x, i) =>
        when(x.cast("double") > col("mean"),
          call_function("shiftleft", lit(1L), i))
          .otherwise(lit(0L))),
      lit(0L), (a, b) => a + b)
    // the Staging recipe (see graft.functions.Staging — this lane's 33.8s
    // single-task maiden plan is one of its three motivating cases):
    // spread before the per-frame transform, pin px between the mean fold
    // and the 63 bit lambdas. `hashed` persists because the df-cap and
    // both pair-join sides are three consumers of it; the eager count
    // pins one materialization (the r12 leaf-cache race).
    val withMean = graft.functions.Staging.stagedTransform(framed)(
      _.select(col("vid"), px.as("px")),
      _.select(col("vid"), col("px"), mean.as("mean")))
    val hashed = withMean
      .select(col("vid"), hash.as("fhash"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashed.count()
    val dfCounts = hashed.groupBy("fhash").agg(count(lit(1)).as("df"))
    val kept = hashed
      .join(dfCounts.where(col("df") <= maxDf).select("fhash"), "fhash")
    // cache ownership: `hashed` must stay cached until the returned pair
    // relation's first action — registered for graft.CacheScope.release
    // (harness callers are covered by the per-query clearCache backstop)
    graft.CacheScope.owns(
      kept.as("a")
        .join(kept.as("b"),
          col("a.fhash") === col("b.fhash") && col("a.vid") < col("b.vid"))
        .groupBy(col("a.vid").as("vid_a"), col("b.vid").as("vid_b"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= minShared)
        .orderBy("vid_a", "vid_b"),
      hashed)
  }

  /** Audio fingerprint matching — Shazam-family constellation hashing
    * over the decode-stub byte stream, the audio-modality sibling of
    * [[videoNearDup]] (`doc_id % 3 = 1` is the "audio" slice the way
    * `% 3 = 2` is the video slice): per track, up to [[maxAudioFrames]]
    * COMPLETE [[audioFrameSize]]-char frames; per frame, 4 sub-band
    * "energies" (exact codepoint sums over 8-char bands — a real decoder
    * replaces this with FFT band magnitudes, same plan); each consecutive
    * frame pair emits one 12-bit LANDMARK fingerprint packing both peak
    * band indexes and both peak energies quantized to 16 levels (the
    * energy bits widen the key space so buckets stay thin — a 4-bit
    * peak-pair alone would put every landmark in one of 16 buckets,
    * quadratic at scale; a real FFT fingerprint has ~2^30 keys and the
    * same plan); tracks
    * sharing a fingerprint VOTE on their time offset `f_a − f_b`, and the
    * best-aligned offset's vote count is the match score — the offset
    * histogram is what makes constellation matching robust to where the
    * overlap starts.
    *
    * Stop-fingerprint document-frequency cap (`maxDf`, the [[videoNearDup]]
    * rule): fingerprints in more than `maxDf` tracks are dropped before
    * the pair join, bounding per-bucket pair expansion at a maxDf² SPEC
    * constant. Everything is exact integer arithmetic, so the full
    * composition is DuckDB-checkable. The tie on the best offset breaks
    * to the SMALLEST offset via one packed-integer max (`n·64 + 15 − off`
    * — |off| < [[maxAudioFrames]] keeps the low bits disjoint).
    *
    * Output `(track_a, track_b, n_aligned, best_offset)`, pairs with
    * `n_aligned ≥ minAligned`.
    *
    * Scale posture: landmarks explode ≤ [[maxAudioFrames]]−1 per track
    * (linear); the candidate join is fingerprint-keyed with the df cap
    * bounding bucket width; exchanges carry `(track, f, fp)` only. The
    * per-frame band fold runs through [[graft.functions.Staging]] — the
    * fourth wide-per-row-transform lane, first to ship on the shared
    * recipe rather than re-deriving it by measurement. */
  def audioFingerprint(docs: DataFrame, minAligned: Int = 3,
      maxDf: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fs = audioFrameSize
    val tracks = docs
      .where(pmod(col("doc_id"), lit(3)) === 1 && length(col("text")) >= fs)
      .select(col("doc_id").as("track"), col("text"))
    val framed = tracks.select(col("track"), col("text"),
      explode(sequence(lit(0),
        least(lit(maxAudioFrames - 1),
          (length(col("text")) / fs).cast("int") - 1))).as("f"))
    val energies = array((0 until 4).map { b =>
      aggregate(sequence(lit(1), lit(8)), lit(0L),
        (acc, i) => acc + ascii(col("text")
          .substr(col("f") * fs + lit(b * 8) + i, lit(1))).cast("long"))
    }: _*)
    // Staging: spread the split-bound scan, pin the energy array between
    // the band fold and its two consumers (argmax + max)
    val staged = graft.functions.Staging.stagedTransform(framed)(
      _.select(col("track"), col("f"), energies.as("e")),
      _.select(col("track"), col("f"),
        (array_position(col("e"), array_max(col("e"))) - 1).as("peak"),
        array_max(col("e")).as("emax")))
    val wt = Window.partitionBy("track").orderBy("f")
    val landmarks = staged
      .withColumn("peak2", lead(col("peak"), 1).over(wt))
      .withColumn("emax2", lead(col("emax"), 1).over(wt))
      .where(col("peak2").isNotNull)
      .select(col("track"), col("f"),
        (((col("peak") * 4 + col("peak2")) * 16
          + pmod(expr("emax div 16"), lit(16))) * 16
          + pmod(expr("emax2 div 16"), lit(16))).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    landmarks.count() // pin one materialization (df cap + both join sides)
    val dfCounts = landmarks.select("track", "fp").distinct()
      .groupBy("fp").agg(count(lit(1)).as("df"))
    val kept = landmarks
      .join(dfCounts.where(col("df") <= maxDf).select("fp"), "fp")
    graft.CacheScope.owns(
      kept.as("a")
        .join(kept.as("b"),
          col("a.fp") === col("b.fp") && col("a.track") < col("b.track"))
        .groupBy(col("a.track").as("track_a"), col("b.track").as("track_b"),
          (col("a.f") - col("b.f")).as("off"))
        .agg(count(lit(1)).as("n"))
        .groupBy("track_a", "track_b")
        .agg(max(col("n") * 64 + lit(15) - col("off")).as("score"))
        .select(col("track_a"), col("track_b"),
          expr("score div 64").as("n_aligned"),
          (lit(15) - pmod(col("score"), lit(64))).as("best_offset"))
        .where(col("n_aligned") >= minAligned)
        .orderBy("track_a", "track_b"),
      landmarks)
  }

  /** Deterministic fake feature vector (`dim` floats in [-1, 1]) from
    * frame-level murmur hashes — rows-only checked; connects the binary
    * pipeline to the [[Similarity]] operators. A real extractor replaces
    * the per-frame expression, not the plan. `keep` passes extra input
    * columns through the projection (the house pattern — qualityScore,
    * langId — that lets gates stack without a corpus self-join). */
  def featurize(media: DataFrame, dim: Int = 16,
      keep: Seq[String] = Nil): DataFrame =
    media.select(
      Seq(col("media_id"), col("modality"),
        array((0 until dim).map(d =>
          (graft.functions.mmh3(sha2(col("payload"), 256), d).cast("double")
            / Int.MaxValue.toDouble).cast("float")): _*).as("features"))
        ++ keep.map(col): _*)
}

/** DuckDB twins for the oracle-checkable [[Multimodal]] queries. */
object MultimodalSql {

  private val payloadLen = "octet_length(encode(text))"
  private val modality =
    "['image','audio','video'][CAST(doc_id % 3 AS INT) + 1]"

  /** Flattened (the driver compare hashes scalar columns). */
  val attachMeta: String =
    s"""SELECT doc_id AS media_id, $modality AS modality,
       |       $payloadLen AS n_bytes,
       |       1 + ($payloadLen * 31) % 1024 AS width,
       |       1 + ($payloadLen * 17) % 1024 AS height,
       |       1 + $payloadLen % 4 AS channels
       |FROM documents ORDER BY media_id""".stripMargin

  /** Frame stats from pure length arithmetic (what correct slicing must
    * produce): nf = min(maxFrames, floor((len-1)/frameSize)+1), sampled
    * bytes = min(len, nf*frameSize) truncated to the sampled window.
    * Sums are CAST to BIGINT: DuckDB's sum(INTEGER) yields HUGEINT, which
    * the driver's pandas bridge turns into float64 — hash-mismatching the
    * int64 Spark emits even when every value is identical. */
  val frameStats: String = {
    val fs = Multimodal.frameSize
    val mf = Multimodal.maxFrames
    s"""SELECT modality, count(*) AS n_media,
       |       CAST(sum(nf) AS BIGINT) AS n_frames,
       |       CAST(sum(least(len, nf * $fs)) AS BIGINT) AS sampled_bytes
       |FROM (SELECT $modality AS modality, $payloadLen AS len,
       |             least($mf, greatest(0,
       |               CAST(floor(($payloadLen - 1) / $fs) AS INT)) + 1) AS nf
       |      FROM documents)
       |GROUP BY modality ORDER BY modality""".stripMargin
  }

  /** Twin of the resize-crop projection: the output byte count is pure
    * length arithmetic (`min(len, nBytes)`). */
  def resize(nBytes: Int): String =
    s"""SELECT doc_id AS media_id, $modality AS modality,
       |       $payloadLen AS n_bytes,
       |       least($payloadLen, $nBytes) AS resized_bytes
       |FROM documents ORDER BY media_id""".stripMargin

  /** Twin of [[Multimodal.aHash]]: identical code-point pixels, mean
    * threshold, bit assembly, and bucket window (`unicode()` ⇔ Spark's
    * `ascii()` — both return the first character's code point). */
  def aHash(nPx: Int = 63): String =
    s"""WITH px AS (
       |  SELECT doc_id,
       |         list_transform(range(1, ${nPx + 1}),
       |                        i -> unicode(substr(text, i, 1))) AS px
       |  FROM documents WHERE length(text) >= $nPx),
       |m AS (
       |  SELECT doc_id, px,
       |         CAST(list_sum(px) AS DOUBLE) / CAST($nPx.0 AS DOUBLE)
       |           AS mean
       |  FROM px),
       |h AS (
       |  SELECT doc_id,
       |         list_sum(list_transform(range(0, $nPx),
       |           i -> CASE WHEN CAST(px[i + 1] AS DOUBLE) > mean
       |                     THEN (CAST(1 AS BIGINT) << i)
       |                     ELSE CAST(0 AS BIGINT) END)) AS ahash
       |  FROM m)
       |SELECT doc_id, CAST(ahash AS BIGINT) AS ahash,
       |       bit_count(CAST(ahash AS BIGINT)) AS n_ones,
       |       CAST(count(*) OVER (PARTITION BY ahash) AS BIGINT) AS n_bucket
       |FROM h ORDER BY doc_id""".stripMargin

  /** Twin of [[Multimodal.pHash]]: the identical inlined integer weight
    * matrix (one flat 4032-element literal list), identical code-point
    * pixels, integer DCT folds, median-of-63 threshold, and bit
    * assembly. Coefficients CAST to BIGINT (DuckDB `list_sum` widens to
    * HUGEINT; values fit int64 by construction). */
  val pHash: String = {
    val w = Multimodal.pHashWeights.mkString("[", ", ", "]")
    s"""WITH wt AS (SELECT $w AS w),
       |px AS (
       |  SELECT doc_id,
       |         list_transform(range(1, 65),
       |           i -> CAST(unicode(substr(text, CAST(i AS INT), 1))
       |                     AS BIGINT)) AS px
       |  FROM documents WHERE length(text) >= 64),
       |c AS (
       |  SELECT doc_id,
       |         list_transform(range(1, 64), k ->
       |           CAST(list_sum(list_transform(range(1, 65), i ->
       |             px[i] * w[(k - 1) * 64 + i])) AS BIGINT)) AS coefs
       |  FROM px CROSS JOIN wt),
       |m AS (SELECT doc_id, coefs, list_sort(coefs)[32] AS med FROM c),
       |h AS (
       |  SELECT doc_id,
       |         CAST(list_sum(list_transform(range(1, 64), k ->
       |           CASE WHEN coefs[k] > med
       |                THEN (CAST(1 AS BIGINT) << (k - 1))
       |                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
       |  FROM m)
       |SELECT doc_id, phash, bit_count(phash) AS n_ones,
       |       CAST(count(*) OVER (PARTITION BY phash) AS BIGINT)
       |         AS n_bucket
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** Twin of [[Multimodal.videoNearDup]]: identical complete-frame rule,
    * identical per-frame aHash arithmetic (`unicode()` ⇔ `ascii()`),
    * identical stop-frame document-frequency cap and shared-hash pair
    * join. */
  def videoNearDup(minShared: Int = 2, maxDf: Int = 50): String =
    s"""WITH vids AS (
       |  SELECT doc_id AS vid, text FROM documents
       |  WHERE doc_id % 3 = 2 AND length(text) >= 64),
       |fr AS (
       |  SELECT vid, text, CAST(r.f AS INT) AS f
       |  FROM vids, unnest(range(0,
       |    least(${Multimodal.maxFrames},
       |          CAST(length(text) // 64 AS BIGINT)))) AS r(f)),
       |px AS (
       |  SELECT vid,
       |         list_transform(range(1, 64),
       |                        i -> unicode(substr(text, f * 64 + i, 1)))
       |           AS px
       |  FROM fr),
       |m AS (
       |  SELECT vid, px,
       |         CAST(list_sum(px) AS DOUBLE) / CAST(63.0 AS DOUBLE) AS mean
       |  FROM px),
       |h AS (
       |  SELECT DISTINCT vid,
       |         CAST(list_sum(list_transform(range(0, 63),
       |           i -> CASE WHEN CAST(px[i + 1] AS DOUBLE) > mean
       |                     THEN (CAST(1 AS BIGINT) << i)
       |                     ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fhash
       |  FROM m),
       |keepf AS (
       |  SELECT fhash FROM h GROUP BY fhash HAVING count(*) <= $maxDf),
       |k AS (SELECT vid, fhash FROM h JOIN keepf USING (fhash))
       |SELECT a.vid AS vid_a, b.vid AS vid_b, count(*) AS n_shared
       |FROM k a JOIN k b ON a.fhash = b.fhash AND a.vid < b.vid
       |GROUP BY 1, 2 HAVING count(*) >= $minShared
       |ORDER BY vid_a, vid_b""".stripMargin

  /** Twin of [[Multimodal.audioFingerprint]]: identical complete-frame
    * rule, identical integer band energies (`unicode()` ⇔ `ascii()`),
    * identical landmark packing, df cap, offset votes, and
    * packed-integer best-offset tie-break. Frame constants interpolate
    * from [[Multimodal]] (the videoNearDup ADVICE r13 lesson). */
  def audioFingerprint(minAligned: Int = 3, maxDf: Int = 50): String = {
    val fs = Multimodal.audioFrameSize
    s"""WITH tr AS (
       |  SELECT doc_id AS track, text FROM documents
       |  WHERE doc_id % 3 = 1 AND length(text) >= $fs),
       |fr AS (
       |  SELECT track, text, CAST(r.f AS INT) AS f
       |  FROM tr, unnest(range(0,
       |    least(${Multimodal.maxAudioFrames},
       |          CAST(length(text) // $fs AS BIGINT)))) AS r(f)),
       |e AS (
       |  SELECT track, f,
       |         list_transform(range(0, 4), b ->
       |           CAST(list_sum(list_transform(range(1, 9),
       |             i -> unicode(substr(text, f * $fs + b * 8 + i, 1))))
       |             AS BIGINT)) AS e
       |  FROM fr),
       |pk AS (
       |  SELECT track, f,
       |         CAST(list_position(e, list_max(e)) - 1 AS BIGINT) AS peak,
       |         CAST(list_max(e) AS BIGINT) AS emax
       |  FROM e),
       |lm0 AS (
       |  SELECT track, f, peak, emax,
       |         lead(peak) OVER (PARTITION BY track ORDER BY f) AS peak2,
       |         lead(emax) OVER (PARTITION BY track ORDER BY f) AS emax2
       |  FROM pk),
       |lm AS (
       |  SELECT track, f,
       |         ((peak * 4 + peak2) * 16 + (emax // 16) % 16) * 16
       |           + (emax2 // 16) % 16 AS fp
       |  FROM lm0 WHERE peak2 IS NOT NULL),
       |dfc AS (
       |  SELECT fp FROM (SELECT DISTINCT track, fp FROM lm)
       |  GROUP BY fp HAVING count(*) <= $maxDf),
       |kept AS (SELECT lm.track, lm.f, lm.fp FROM lm JOIN dfc USING (fp)),
       |votes AS (
       |  SELECT a.track AS track_a, b.track AS track_b, a.f - b.f AS off,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.track < b.track
       |  GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT track_a, track_b,
       |         CAST(max(n * 64 + 15 - off) AS BIGINT) AS score
       |  FROM votes GROUP BY 1, 2)
       |SELECT track_a, track_b,
       |       CAST(score // 64 AS BIGINT) AS n_aligned,
       |       CAST(15 - (score % 64) AS BIGINT) AS best_offset
       |FROM best WHERE score // 64 >= $minAligned
       |ORDER BY track_a, track_b""".stripMargin
  }

  /** Typed mapPartitions decode twin (same stub arithmetic; BIGINT casts
    * for the same HUGEINT reason as [[frameStats]]). */
  val decodeBatch: String =
    s"""SELECT $modality AS modality, count(*) AS n,
       |       CAST(sum(1 + ($payloadLen * 31) % 1024) AS BIGINT) AS width_sum,
       |       CAST(sum(1 + ($payloadLen * 17) % 1024) AS BIGINT) AS height_sum
       |FROM documents
       |GROUP BY modality ORDER BY modality""".stripMargin
}
