package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{cosine_sim, dot_product, pq_adc, pq_encode, pq_table,
  sq8_cos, sq8_encode, srp_sig, vec_sub}

/** Similarity search over the `embeddings` table (`vec_id BIGINT,
  * embedding ARRAY<FLOAT>, label INT`).
  *
  * Three paths, per the standard ANN playbook:
  *
  *  - [[bruteForceTopK]] / [[bruteForcePairs]]: exact cosine via the native
  *    `cosine_sim` kernel. Exact and oracle-checkable; the
  *    candidate side stays linear only because the query set is small —
  *    this is the *baseline*, not the scale path.
  *  - [[annTopK]]: signed-random-projection LSH — signatures bucket the
  *    corpus, candidates come from banded bucket joins, and only candidates
  *    pay a cosine. Data-oblivious, sub-linear probes per query.
  *  - [[indexTopK]]: the index family — a list layout ([[OneList]] or
  *    [[Ivf]] inverted lists) times an in-list scorer ([[ExactCos]],
  *    [[Sq8Cos]], [[PqAdc]] raw or residual), then one shortlist and exact
  *    re-rank. Data-adaptive lists and compressed-domain scoring; the
  *    100 TB path.
  *
  * Ranking ties: ranks order by `(round(cos, 6) DESC, neighbor_id)` — the
  * rounding makes cross-engine rank comparison immune to last-ulp float
  * differences, and the id tie-break makes exact ties deterministic.
  */
object Similarity {

  private def cosRounded(a: Column, b: Column): Column = round(cosine_sim(a, b), 6)

  /** Exact top-k neighbors for each query row (marked by `queryPred`):
    * `(query_id, rank, neighbor_id, cos)`. The query set is broadcast; the
    * corpus side streams through one codegen'd cosine per (query, vector)
    * pair — a BroadcastNestedLoopJoin by construction, which is the right
    * plan when |queries| ≪ |corpus|. It is the index family's
    * `OneList × ExactCos` point. */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame =
    indexTopK(emb, queryPred, k, OneList, ExactCos)

  /** kNN label classification over the embedding corpus — the
    * label-propagation / weak-supervision shape (predict a document's
    * class from its nearest labeled neighbors): top-k cosine neighbors
    * per query via [[bruteForceTopK]] (the oracle-exact baseline; the
    * ANN paths are the drop-in scale substitutes for the SAME vote —
    * only the neighbor set changes), then a majority vote with the
    * deterministic `(count desc, label asc)` tie-break. Per query:
    * `(query_id, true_label, pred_label, correct)` — the evaluation
    * face every auto-labeling pipeline gates on. Scale: votes aggregate
    * on (query, label) — bounded by queries × classes; the label side
    * joins neighbor-keyed, never corpus×corpus. */
  def knnClassify(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val nbrs = bruteForceTopK(emb, queryPred, k)
    val votes = nbrs
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
        "neighbor_id")
      .groupBy("query_id", "label").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("query_id").orderBy(col("n").desc, col("label"))
    val pred = votes.withColumn("r", row_number().over(w))
      .where(col("r") === 1)
      .select(col("query_id"), col("label").as("pred_label"))
    emb.where(queryPred)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"))
      .join(pred, "query_id")
      .select(col("query_id"), col("true_label"), col("pred_label"),
        (col("true_label") === col("pred_label")).as("correct"))
      .orderBy("query_id")
  }

  /** ORACLE-ONLY lane: exact near-duplicate pairs `(vec_a, vec_b, cos)`
    * with cosine ≥ `threshold` — the ground truth the ANN recall gates
    * score against, deliberately an O(n²) nested-loop theta-join. The
    * predicate lives in the join condition so the filter runs inside
    * codegen and never materializes the quadratic product, but the LOOP
    * is still quadratic: this lane must never reach a production corpus,
    * which is what `maxRows` enforces — the default fails fast past
    * 200k vectors (~4·10¹⁰ pairs, the edge of single-cluster sanity).
    * The scale paths ARE the ANN queries ([[annTopK]], [[indexTopK]]);
    * raise the bound only for a bigger offline
    * ground-truth build that has the budget for it. */
  def bruteForcePairs(emb: DataFrame, threshold: Double,
      maxRows: Long = 200000L): DataFrame = {
    val n = emb.count()
    require(n <= maxRows,
      s"bruteForcePairs is the O(n^2) oracle lane: corpus has $n vectors" +
        s" > maxRows=$maxRows. Use the ANN operators for corpora this" +
        " size, or raise maxRows explicitly for an offline truth build.")
    val a = spread(emb).select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    // threshold compares the ROUNDED cosine so the boundary decision is
    // identical to the oracle's (which also filters on the rounded value)
    a.join(b, col("vec_a") < col("vec_b")
        && cosRounded(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("vec_a"), col("vec_b"), cosRounded(col("emb_a"), col("emb_b")).as("cos"))
      // bounded survivors over the O(n²) lineage: the registered query
      // sorts this result, and a range sort's boundary-sampling pass
      // would run the whole quadratic loop a second time (the Dedup
      // verify-join lesson, r12 sf1 stage traces). Lazily persisted;
      // harness clearCache releases it.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-cluster the corpus, search for
    * near-duplicate pairs ONLY within a cluster, and keep the first
    * (lowest-id) member of every duplicate relation. Returns the full
    * decision table `(vec_id, cluster_id, kept)` so downstream passes can
    * either drop the removed rows or audit the clustering.
    *
    * The coarse quantizer here is the deterministic sample-seed variant
    * (every `seedStride`-th `vec_id` below `seedCap` is a seed;
    * assignment is argmax rounded-cosine, seed-id tie-break) so the
    * whole operator — including cluster assignment — is exactly twinned
    * in [[SimilaritySql.semanticDedup]]. The 100 TB deployment swaps the
    * seed set for a trained k-means artifact with the `pq_codebook`
    * lifecycle; everything downstream is unchanged.
    *
    * The SEED COUNT IS A DEPLOYMENT CONSTANT (`seedCap` bounds it —
    * SemDeDup's own shape: the paper runs k-means with a fixed,
    * corpus-chosen k, e.g. 50k for LAION). With k ∝ corpus size the
    * ASSIGNMENT term N·k is quadratic — measured 16.5× at 10× rows on
    * the r11 scaling corpus before the cap (every vector scored every
    * seed). With fixed k, assignment is exactly linear; the default cap
    * covers every sf0.01/sf0.1 vec_id, so registered results are
    * unchanged.
    *
    * Scale shape, and why this is the production face of the fenced
    * [[bruteForcePairs]] lane: the quadratic term is bounded by
    * Σ|cluster|² instead of n² — pair candidates come from a cluster-id
    * equi-join, never a corpus×corpus product (clusters grow as N/k for
    * fixed k; the 100 TB knobs are k itself and a hot-cluster size cap,
    * exactly as in the paper). Embeddings cross the wire
    * twice: once for assignment (the groupBy key carries the embedding,
    * so partial aggregation folds the |seeds| candidate rows to ONE row
    * per vector map-side before the exchange) and once keyed by
    * `cluster_id` for the within-cluster join. */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.4,
      seedStride: Int = 50, seedCap: Long = 2000L): DataFrame = {
    val seeds = emb.where(pmod(col("vec_id"), lit(seedStride)) === 0
        && col("vec_id") < seedCap)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("c_emb"))
    val assigned = emb
      .join(broadcast(seeds))
      .groupBy(col("vec_id"), col("embedding"))
      .agg(max_by(col("cluster_id"),
        struct(cosRounded(col("embedding"), col("c_emb")), -col("cluster_id")))
        .as("cluster_id"))
    val a = assigned.select(col("cluster_id"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    // threshold compares the ROUNDED cosine so the boundary decision is
    // identical to the oracle's (same rule as bruteForcePairs)
    val removed = a.join(b, Seq("cluster_id"))
      .where(col("vec_a") < col("vec_b")
        && cosRounded(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("removed", lit(true))
    assigned.select("vec_id", "cluster_id")
      .join(removed, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster_id"),
        col("removed").isNull.as("kept"))
  }

  /** Approximate top-k: SRP signatures (`sigBits` hyperplanes) cut into
    * `bands` equality-blocking bands; a candidate is any vector sharing ≥1
    * band with the query; exact cosine re-ranks candidates only.
    *
    * Scale shape: one row per (vector, band) shuffles to buckets; per-query
    * work is the bucket occupancy, not the corpus. Recall rises with
    * `bands` (more probes) and falls with band width — defaults trade ~25%
    * candidate rate for high recall on clustered data (see SimilaritySpec).
    */
  def annTopK(
      emb: DataFrame,
      queryPred: Column,
      k: Int,
      sigBits: Int = 16,
      bands: Int = 4,
      seed: Int = 0): DataFrame = {
    require(sigBits % bands == 0, s"bands ($bands) must divide sigBits ($sigBits)")
    val width = sigBits / bands
    val mask = (1L << width) - 1

    def banded(df: DataFrame, idCol: String, embCol: String): DataFrame =
      df.select(col(idCol), col(embCol),
          srp_sig(col(embCol), sigBits, seed).as("sig"))
        .select(col(idCol), col(embCol), posexplode(array(
          (0 until bands).map(b =>
            shiftrightunsigned(col("sig"), b * width).bitwiseAND(lit(mask))): _*)))
        .toDF(idCol, embCol, "band", "key")

    val qb = banded(
      emb.where(queryPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "query_id", "q_emb")
    val cb = banded(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding")),
      "neighbor_id", "embedding")

    topK(qb.join(cb, Seq("band", "key"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosRounded(col("q_emb"), col("embedding")).as("cos"))
      .distinct(), k) // a pair can collide in several bands
  }
  /** Recall gate for an approximate top-k result against the exact
    * [[bruteForceTopK]] baseline: one row `(n_queries, n_exact,
    * recall_ok)`. The counts are real DuckDB-oracle values; `recall_ok`
    * is the cross-engine invariant (ANN output is seed-deterministic, so
    * its recall on a fixed dataset is a constant — the floor is chosen
    * well under the measured value). This is how the approximate-by-design
    * queries get a checked row instead of a rows-only shrug. */
  def recallVsExact(
      emb: DataFrame,
      ann: DataFrame,
      queryPred: Column,
      k: Int,
      floor: Double): DataFrame = {
    val exact = bruteForceTopK(emb, queryPred, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = ann.select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1L))
    exact.join(hits, Seq("query_id", "neighbor_id"), "left_outer")
      .agg(
        countDistinct("query_id").as("n_queries"),
        count("*").as("n_exact"),
        (coalesce(sum("hit"), lit(0L)).cast("double") / count("*") >= floor)
          .as("recall_ok"))
  }

  /** Int8 scalar quantization of the embedding column — the storage
    * compression every 100 TB vector corpus applies (4x smaller, ~1e-3
    * reconstruction error): per-vector symmetric scale `max|x|/127`,
    * `q = clamp(floor(x/scale + 0.5), ±127)`. Returns the audit row per
    * vector `(vec_id, n_dims, qscale, max_abs_err)` — the whole
    * quantize→dequantize→error pipeline in ONE pass of the native
    * `int8_quant_stats` kernel (no shuffle, no state,
    * no interpreted lambdas), oracle-checked value-for-value. The error
    * bound `scale/2` is checked in SimilaritySpec; kernel == lambda-
    * composition equivalence in the same suite. */
  def quantizeInt8Stats(emb: DataFrame): DataFrame = {
    val st = graft.functions.int8_quant_stats(col("embedding"))
    emb.select(
      col("vec_id"),
      size(col("embedding")).as("n_dims"),
      round(element_at(st, 1), 6).as("qscale"),
      round(element_at(st, 2), 6).as("max_abs_err"))
  }

  /** Spherical-k-means PQ codebook training, the TRAIN stage of [[PqAdc]]:
    * vectors split into `m` subvectors of `d/m` dims; per subspace, a
    * `ksub`-centroid codebook is trained from a deterministic sample init
    * plus `iters` Lloyd rounds (assignment is max-cosine through the
    * native kernel, update the element-wise mean). Returns the flat
    * codebook laid out at slot `j*ksub + code` plus the per-slot squared
    * centroid norms: a tiny `m × ksub` driver artifact, like the
    * reference's persisted filters. */
  def trainPqCodebook(
      emb: DataFrame,
      m: Int,
      ksub: Int,
      iters: Int,
      seed: Int): (Array[Double], Array[Double]) = {
    val spark = emb.sparkSession
    val d = emb.select(size(col("embedding"))).head.getInt(0)
    require(d % m == 0, s"pq: m ($m) must divide the dimensionality ($d)")
    val sd = d / m

    // (id, j, sub ARRAY<DOUBLE>) — slice + array cast are codegen'd
    def subvectors(df: DataFrame, idCol: String): DataFrame =
      df.select(col(idCol), posexplode(array((0 until m).map(j =>
          slice(col("embedding"), j * sd + 1, sd).cast("array<double>")): _*)))
        .toDF(idCol, "j", "sub")

    val corpusSubs = subvectors(
      spread(emb).select(col("vec_id"), col("embedding")), "vec_id")

    // --- TRAIN ---------------------------------------------------------
    // deterministic sample init: the first ksub vectors in hash order,
    // sliced into subvectors — one TakeOrdered job, assembled driver-side
    // (the codebook is an m × ksub artifact, like the reference's
    // persisted filters)
    import scala.jdk.CollectionConverters._
    val cbSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false)))
    val initRows: Seq[org.apache.spark.sql.Row] = emb
      .orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
      .limit(ksub)
      .select(col("embedding")).collect().toSeq
      .zipWithIndex.flatMap { case (r, code) =>
        // float (raw embeddings) or double (residual vectors) input
        val v = r.getSeq[Any](0).map {
          case f: java.lang.Float  => f.toDouble
          case d: java.lang.Double => d.doubleValue
        }
        (0 until m).map(j => org.apache.spark.sql.Row(
          j, code, v.slice(j * sd, (j + 1) * sd)))
      }
    require(initRows.size == m * ksub,
      s"pq: corpus has fewer than ksub ($ksub) vectors")
    var codebook: DataFrame = spark.createDataFrame(initRows.asJava, cbSchema)

    // one Lloyd round is one flat job: the codebook is materialized
    // driver-side after every round, otherwise each round's plan
    // re-executes all previous rounds through the broadcast lineage and
    // training cost grows superlinearly in iters
    def materialized(df: DataFrame): DataFrame =
      spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    for (_ <- 1 to iters) {
      // assign: nearest centroid by cosine (spherical k-means — scale-
      // invariant, so the mean-update needs no renormalization); max_by
      // keeps the assignment a partial-aggregable reduce, not a window
      val assigned = corpusSubs.join(broadcast(codebook), Seq("j"))
        .select(col("vec_id"), col("j"), col("sub"), col("code"),
          cosine_sim(col("sub"), col("c")).as("sim"))
        .groupBy("vec_id", "j")
        .agg(max_by(struct(col("code"), col("sub")), struct(col("sim"), -col("code")))
          .as("best"))
        .select(col("j"), col("best.code").as("code"), col("best.sub").as("sub"))
      // update: element-wise mean per (subspace, code); a code that lost
      // every member keeps its previous centroid, so the codebook always
      // holds exactly ksub entries per subspace (the ADC flat-table layout
      // below depends on that)
      val updated = assigned
        .select(col("j"), col("code"), posexplode(col("sub")))
        .toDF("j", "code", "dim", "v")
        .groupBy("j", "code", "dim").agg(avg("v").as("v"))
        .groupBy("j", "code")
        .agg(array_sort(collect_list(struct(col("dim"), col("v")))).as("pairs"))
        .select(col("j"), col("code"),
          transform(col("pairs"), p => p("v")).as("c_new"))
      codebook = materialized(
        codebook.join(updated, Seq("j", "code"), "left_outer")
          .select(col("j"), col("code"), coalesce(col("c_new"), col("c")).as("c")))
    }

    // flat codebook + |c|² table, laid out at slot j*ksub + code (the
    // codebook is complete by construction, so every slot fills)
    val cbRows = codebook.collect().toSeq
    val cbFlat = new Array[Double](m * ksub * sd)
    val cn2Flat = new Array[Double](m * ksub)
    cbRows.foreach { r =>
      val slot = r.getInt(0) * ksub + r.getInt(1)
      val c = r.getSeq[Double](2)
      var s = 0.0
      var i = 0
      c.foreach { x => cbFlat(slot * sd + i) = x; s += x * x; i += 1 }
      cn2Flat(slot) = s
    }
    (cbFlat, cn2Flat)
  }

  /** Persist the trained PQ codebook as a parquet artifact — the
    * model-artifact lifecycle of the ANN layer: in production the TRAIN
    * stage runs offline once and every encode/search run loads the SAME
    * artifact (the exact lifecycle the reference gives its filters,
    * S3/S4 + K2/K3). One row: `(cb ARRAY<DOUBLE>, cn2 ARRAY<DOUBLE>)`. */
  def savePqCodebook(emb: DataFrame, path: String, m: Int = 8,
      ksub: Int = 16, iters: Int = 2, seed: Int = 7): Unit = {
    val (cb, cn2) = trainPqCodebook(emb, m, ksub, iters, seed)
    writeCodebook(emb.sparkSession, cb, cn2, path)
  }

  def loadPqCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Double], Array[Double]) = {
    val row = spark.read.parquet(path).head()
    (row.getSeq[Double](0).toArray, row.getSeq[Double](1).toArray)
  }

  private def writeCodebook(spark: org.apache.spark.sql.SparkSession,
      cb: Array[Double], cn2: Array[Double], path: String): Unit = {
    import spark.implicits._
    Seq((cb.toSeq, cn2.toSeq)).toDF("cb", "cn2")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The list layout of an [[indexTopK]] search: which corpus vectors a
    * query's candidates come from. */
  sealed trait ListLayout

  /** One list holding the whole corpus: the queries broadcast into a
    * nested-loop join over the spread corpus, with no assignment step, so
    * recall is attributable to the in-list scorer alone (FAISS `PQ`
    * next to `IVFPQ`). */
  case object OneList extends ListLayout

  /** Inverted lists (FAISS `IVF`): the [[ivfCentroids]] coarse codebook;
    * every corpus vector lands in its ONE nearest list, each query probes
    * its `nProbe` nearest lists, and candidates come from the
    * `centroid_id` equi-join of the probed lists — per-query work is the
    * probed lists, never a corpus×query product. A pair meets at most
    * once: one list per vector, distinct lists per query. IVF adapts to
    * the data distribution (lists follow density); [[annTopK]]'s LSH is
    * data-oblivious. */
  final case class Ivf(nCentroids: Int = 16, nProbe: Int = 4, ivfSeed: Int = 42)
      extends ListLayout {
    require(nProbe <= nCentroids, s"nProbe ($nProbe) must be <= nCentroids ($nCentroids)")
  }

  /** How [[indexTopK]] scores a candidate inside a probed list. */
  sealed trait Scorer { def residual: Boolean = false }

  /** The full-width rounded cosine — the final score itself, so this
    * scorer takes no shortlist and no re-rank. */
  case object ExactCos extends Scorer

  /** Scalar quantization (FAISS `SQ8`): corpus rows carry ONE
    * self-contained binary (8-byte scale + one int8 code per dimension,
    * 4× smaller than float32), scored by the asymmetric
    * [[graft.functions.sq8_cos]] kernel — full-width query vs integer
    * codes; the per-vector scale cancels in cosine. Vs [[PqAdc]]: 4×
    * compression instead of ~16×, but NO trained codebook — no TRAIN
    * stage, no artifact lifecycle, no train/serve drift; per-dimension
    * error is bounded by `scale/2` (the arithmetic [[quantizeInt8Stats]]
    * audits), so recall loss vs the exact scorer is negligible. The
    * classic deployment ladder is raw → SQ8 → PQ as the corpus outgrows
    * memory tiers. */
  case object Sq8Cos extends Scorer

  /** Product quantization scored by asymmetric distance (FAISS `PQ`),
    * against a codebook from [[trainPqCodebook]] or [[loadPqCodebook]]:
    *
    *   - ENCODE: each corpus vector becomes `m` codes through the native
    *     `pq_encode` kernel — a narrow projection straight off the scan
    *     (no explode, no centroid join, no aggregate). A 64-dim float
    *     vector (256 B) compresses to `m` codes (8 B) plus one shared
    *     codebook, so the candidate-scoring working set fits in memory.
    *   - SCORE (ADC): per query, one flat table of `dot(q_sub, centroid)`
    *     for every `(subspace, code)`; a candidate's approximate cosine is
    *     the sum of `m` lookups over its codes — never a full-width float
    *     pass.
    *
    * `residual` codes `v − centroid(v)` instead of the raw vector (the
    * FAISS-default refinement, [[Ivf]] lists only): the codebook is spent
    * on the tighter within-list distribution, and the score decomposes
    * exactly without per-list tables — `dot(q, r̂) = dot(q, c) +
    * Σ_j dot(q_j, reŝ_j)`: the first term once per (query, probed list),
    * the second an ADC over ONE table built from the RAW query; `|r|` is
    * the true vector norm. Its codebook comes from
    * [[trainResidualPqCodebook]] over the SAME lists. */
  final case class PqAdc(codebook: (Array[Double], Array[Double]), m: Int = 8,
      ksub: Int = 16, override val residual: Boolean = false) extends Scorer {
    // a codebook trained with different (m, ksub) can pass the kernels'
    // flat-length checks (m*ksub*sd is m-invariant: it equals ksub*d) and
    // silently score against misaligned centroids — the norm table's
    // length is NOT m-invariant, so gate on it here
    require(codebook._2.length == m * ksub,
      s"codebook shape mismatch: |cn2|=${codebook._2.length}, expected m*ksub=${m * ksub}")
    private def cb: Column = typedLit(codebook._1.toSeq)
    private[Similarity] def encode(v: Column): Column = pq_encode(v, cb, m, ksub)
    private[Similarity] def table(q: Column): Column =
      pq_table(q.cast("array<double>"), cb, m, ksub)
    private[Similarity] def norm2(codes: Column): Column =
      pq_adc(typedLit(codebook._2.toSeq), codes, ksub)
  }

  /** Approximate top-k over an index — the partition → filter → refine
    * pipeline (REPOSE, ICDE 2021), the same shape as the paper's cheap
    * membership filter followed by an exact check:
    *
    *   1. lists: [[OneList]] scans every vector, [[Ivf]] restricts each
    *      query to its probed lists;
    *   2. filter: the [[Scorer]] scores the candidates, in the compressed
    *      domain for [[Sq8Cos]] and [[PqAdc]], and the top-`shortlist`
    *      per query survive;
    *   3. refine: the shortlist re-ranks with an exact cosine.
    *
    * Returns `(query_id, rank, neighbor_id, cos)`. [[ExactCos]] scores
    * with the final rounded cosine, so it skips the shortlist: re-ranking
    * would only recompute the same values. `OneList × ExactCos` is
    * [[bruteForceTopK]]; `Ivf × PqAdc` is FAISS `IVFPQ`, the production
    * composition. */
  def indexTopK(emb: DataFrame, queryPred: Column, k: Int, lists: ListLayout,
      scorer: Scorer, shortlist: Int = 64): DataFrame = {
    val queries = emb.where(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // the corpus payload the scorer reads, encoded off the scan — before
    // any assignment, so lists carry codes rather than floats. Residual
    // codes need the list's centroid: they come from residualLists.
    val (payload, encode): (Seq[String], DataFrame => DataFrame) = scorer match {
      case ExactCos => (Seq("embedding"), identity)
      case Sq8Cos => (Seq("sq8"), _.withColumn("sq8", sq8_encode(col("embedding"))))
      case p: PqAdc => (Seq("codes", "rn2"),
        _.withColumn("codes", p.encode(col("embedding").cast("array<double>")))
          .withColumn("rn2", p.norm2(col("codes"))))
    }
    // per query (and probed list): the scorer's lookup tables
    def tables(probes: DataFrame): DataFrame = scorer match {
      case p: PqAdc =>
        def dot(a: String, b: String) =
          dot_product(col(a).cast("array<double>"), col(b).cast("array<double>"))
        val t = probes.withColumn("ip_flat", p.table(col("q_emb")))
          .withColumn("qn2", dot("q_emb", "q_emb"))
        if (p.residual) t.withColumn("qc_dot", dot("q_emb", "c_emb")) else t
      case _ => probes
    }
    val candidates = lists match {
      case OneList =>
        require(!scorer.residual, "residual PQ encodes v - centroid(v): it needs Ivf lists")
        encode(spread(corpusOf(emb)))
          .join(broadcast(tables(queries)), col("neighbor_id") =!= col("query_id"))
      case ivf: Ivf =>
        val centroids = ivfCentroids(emb, ivf)
        val corpus = scorer match {
          case p: PqAdc if p.residual =>
            residualLists(emb, ivf).withColumn("codes", p.encode(col("resid")))
          case _ => assignLists(encode(corpusOf(emb)), centroids, payload)
        }
        corpus.join(broadcast(tables(probeLists(queries, centroids, ivf.nProbe))),
            Seq("centroid_id"))
          .where(col("neighbor_id") =!= col("query_id"))
    }
    val scored = candidates.select(col("query_id"), col("neighbor_id"), scorer match {
      case ExactCos => cosRounded(col("q_emb"), col("embedding")).as("cos")
      case Sq8Cos => sq8_cos(col("q_emb"), col("sq8")).as("approx_cos")
      case p: PqAdc =>
        val adc = pq_adc(col("ip_flat"), col("codes"), p.ksub)
        when(col("rn2") === 0.0 || col("qn2") === 0.0, 0.0)
          .otherwise((if (p.residual) col("qc_dot") + adc else adc)
            / (sqrt(col("qn2")) * sqrt(col("rn2"))))
          .as("approx_cos")
    })
    // ExactCos already scored with the final cosine. The other scorers
    // re-rank their shortlist exactly: its |Q| × shortlist rows broadcast
    // INTO the corpus — never the other way (Spark has no stats under the
    // window and would happily broadcast the corpus at test scale)
    if (scorer == ExactCos) topK(scored, k)
    else topK(broadcast(top(scored, shortlist, "approx_cos")
        .select(col("query_id"), col("neighbor_id")))
      .join(corpusOf(emb), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosRounded(col("q_emb"), col("embedding")).as("cos")), k)
  }

  /** The top `n` rows per query by `(score desc, tie)`, numbered `rank`:
    * the one ranking window of the similarity operators. */
  private def top(df: DataFrame, n: Int, score: String,
      tie: String = "neighbor_id"): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col(score).desc, col(tie))
    df.withColumn("rank", row_number().over(w)).where(col("rank") <= n)
  }

  /** The top-k tail: `(query_id, rank, neighbor_id, cos)` by
    * `(cos desc, neighbor_id)`. */
  private def topK(df: DataFrame, k: Int): DataFrame =
    top(df, k, "cos").select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))

  private def corpusOf(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("neighbor_id"), col("embedding"))

  /** Spread a scan over the shuffle width: a small parquet corpus arrives
    * as one input partition, which would run the per-row work
    * single-threaded. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** The IVF coarse codebook: `nCentroids` vectors in a deterministic hash
    * order of the corpus (k-means initialization without refinement
    * iterations — honest about being sample-based; swap in trained
    * centroids for production recall). A residual codebook is only valid
    * against the SAME `(corpus, nCentroids, ivfSeed)`: the residual
    * distribution is defined relative to these centroids. */
  private def ivfCentroids(emb: DataFrame, ivf: Ivf): DataFrame =
    emb.orderBy(xxhash64(col("vec_id"), lit(ivf.ivfSeed)))
      .limit(ivf.nCentroids)
      .select(monotonically_increasing_id().as("centroid_id"),
        col("embedding").as("c_emb"))

  /** Corpus list assignment: `(neighbor_id, embedding, payload…)` →
    * `(neighbor_id, centroid_id, payload…)`, each vector in its ONE
    * nearest list (highest cosine, then lowest centroid id). The broadcast
    * centroid candidates fold with a map-side-combining `max_by`: all
    * `nCentroids` copies of a row are born in one partition, so the
    * partial aggregate collapses them before the exchange, and the
    * corpus-scale shuffle carries ids plus the payload — codes when the
    * scorer encodes off the scan, the float vector only when the scorer
    * reads it (exact cosine, residual PQ). */
  private def assignLists(vectors: DataFrame, centroids: DataFrame,
      payload: Seq[String]): DataFrame =
    vectors.join(broadcast(centroids))
      .select(Seq(col("neighbor_id"), col("centroid_id"),
        cosine_sim(col("embedding"), col("c_emb")).as("c_cos")) ++ payload.map(col): _*)
      .groupBy("neighbor_id")
      .agg(max_by(col("centroid_id"), struct(col("c_cos"), -col("centroid_id")))
        .as("centroid_id"), payload.map(p => first(col(p)).as(p)): _*)

  /** Query-side probes: `(query_id, q_emb)` → one row per probed list,
    * `(query_id, q_emb, centroid_id, c_emb)`, the `nProbe` nearest lists
    * by the same order as [[assignLists]]. The window's exchange is
    * query-sized (|Q| rows), not corpus-sized. */
  private def probeLists(queries: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame =
    top(queries.join(broadcast(centroids))
        .withColumn("c_cos", cosine_sim(col("q_emb"), col("c_emb"))),
      nProbe, "c_cos", tie = "centroid_id")
      .drop("c_cos", "rank")

  /** Residual lists `(centroid_id, neighbor_id, resid, rn2)`: every corpus
    * vector's list, its residual `v − centroid(v)` and its TRUE squared
    * norm (one double from the same pass — more accurate than any
    * reconstruction from codes). Residual [[PqAdc]] encodes this relation
    * and [[trainResidualPqCodebook]] trains on it. */
  private def residualLists(emb: DataFrame, ivf: Ivf): DataFrame = {
    val centroids = ivfCentroids(emb, ivf)
    assignLists(corpusOf(emb), centroids, Seq("embedding"))
      .join(broadcast(centroids), Seq("centroid_id"))
      .select(col("centroid_id"), col("neighbor_id"),
        vec_sub(col("embedding"), col("c_emb")).as("resid"),
        dot_product(col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>")).as("rn2"))
  }

  /** TRAIN stage of residual [[PqAdc]], run offline once: the PQ codebook
    * of the residual distribution `v − centroid(v)` over `ivf`'s lists. */
  def trainResidualPqCodebook(emb: DataFrame, ivf: Ivf, m: Int, ksub: Int,
      iters: Int, seed: Int): (Array[Double], Array[Double]) =
    trainPqCodebook(residualLists(emb, ivf)
      .select(col("neighbor_id").as("vec_id"), col("resid").as("embedding")),
      m, ksub, iters, seed)

  /** [[trainResidualPqCodebook]] persisted in the same one-row artifact
    * format as [[savePqCodebook]]. */
  def saveResidualPqCodebook(emb: DataFrame, path: String, ivf: Ivf = Ivf(),
      m: Int = 8, ksub: Int = 16, iters: Int = 2, seed: Int = 7): Unit = {
    val (cb, cn2) = trainResidualPqCodebook(emb, ivf, m, ksub, iters, seed)
    writeCodebook(emb.sparkSession, cb, cn2, path)
  }

  /** One reranker input row: a candidate neighbor with its query
    * relevance and its vector (needed for candidate-candidate cosines). */
  final case class MmrCand(query_id: Long, neighbor_id: Long, cos: Double,
      embedding: Seq[Float])

  /** One reranked output row. */
  final case class MmrPick(query_id: Long, mmr_rank: Int, neighbor_id: Long,
      relevance: Double, mmr_score: Double)

  /** Task-side cosine with the SAME association as
    * [[graft.functions.VectorKernels.cosineFloat]] (dot / (√na·√nb),
    * double accumulation in index order) so in-task candidate-candidate
    * similarities agree bit-for-bit with the column-side kernel. */
  private def cosSeq(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998): the
    * retrieval face every RAG / training-data-selection pipeline puts
    * between ANN candidates and the final context — pure top-k returns
    * near-duplicates of one passage; MMR trades relevance against novelty
    * with `score(c) = λ·cos(q,c) − (1−λ)·max_{s∈S} cos(c,s)` and greedy
    * selection.
    *
    * Shape: candidate generation is the EXISTING [[bruteForceTopK]] plan
    * (per-query top-`n` by cosine; any `sim_ann_*` path is a drop-in
    * substitute at scale — only the candidate set changes), then ONE
    * `groupByKey(query_id).flatMapGroups` where each group holds at most
    * `n` candidate vectors — bounded, task-local state, never the corpus.
    * The greedy loop is O(n·k·dim) per query; at 100 TB the per-query
    * cost is unchanged and query count parallelizes across tasks. The
    * typed mapGroups is the sanctioned ladder rung for whole-group
    * sequential semantics a relational plan can't express (the greedy
    * argmax depends on every prior pick).
    *
    * Determinism: candidates arrive with 6-rounded relevance; ties break
    * by `(mmr_score desc, neighbor_id asc)` — first pick is therefore
    * exactly [[bruteForceTopK]]'s rank-1 row ([[mmrVerify]] gates this).
    */
  def mmrRerank(emb: DataFrame, queryPred: Column, n: Int, k: Int,
      lambda: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cands = bruteForceTopK(emb, queryPred, n)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("embedding"))
      .as[MmrCand]
    cands.groupByKey(_.query_id).flatMapGroups { (qid, it) =>
      val remaining = scala.collection.mutable.ArrayBuffer(it.toSeq: _*)
      val picked = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
      val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
      while (picked.size < k && remaining.nonEmpty) {
        var bestIdx = 0; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < remaining.size) {
          val c = remaining(i)
          // max over an EMPTY pick set is defined as 0 (no diversity
          // penalty for the first pick); once picks exist the running max
          // starts at -inf so an all-negative neighborhood correctly
          // BOOSTS the score, per the documented MMR formula (r8 advice)
          var maxSim =
            if (pickedVecs.isEmpty) 0.0 else Double.NegativeInfinity
          var j = 0
          while (j < pickedVecs.size) {
            val s = cosSeq(c.embedding, pickedVecs(j))
            if (s > maxSim) maxSim = s
            j += 1
          }
          val score = lambda * c.cos - (1.0 - lambda) * maxSim
          if (score > bestScore ||
              (score == bestScore &&
                c.neighbor_id < remaining(bestIdx).neighbor_id)) {
            bestScore = score; bestIdx = i
          }
          i += 1
        }
        val c = remaining.remove(bestIdx)
        pickedVecs += c.embedding
        picked += MmrPick(qid, picked.size + 1, c.neighbor_id, c.cos,
          math.rint(bestScore * 1e6) / 1e6)
      }
      picked
    }.toDF("query_id", "mmr_rank", "neighbor_id", "relevance", "mmr_score")
  }

  /** Exact gate for [[mmrRerank]] (the rerank itself is `no_oracle` —
    * greedy MMR is not SQL-expressible). All counters from lazy
    * single-row aggregates cross-joined (the t9_winnow_verify pattern):
    *  - `n_queries` — real oracle value (rows matching the query pred)
    *  - `n_first_pick_violations` — queries whose MMR rank-1 is not the
    *    relevance top-1 (λ-weighting never changes the FIRST pick)
    *  - `n_subset_violations` — picks outside the candidate set
    *  - `n_count_violations` — queries with ≠ min(k, n_cands) picks or a
    *    duplicate neighbor among them
    */
  def mmrVerify(emb: DataFrame, queryPred: Column, n: Int, k: Int,
      lambda: Double): DataFrame = {
    val cands = bruteForceTopK(emb, queryPred, n)
    val picks = mmrRerank(emb, queryPred, n, k, lambda)
    val nQueries = emb.where(queryPred)
      .agg(count(lit(1)).as("n_queries"))
    val firstViol = picks.where(col("mmr_rank") === 1)
      .join(cands.where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("top_nbr")),
        Seq("query_id"))
      .agg(coalesce(sum(when(col("neighbor_id") =!= col("top_nbr"), 1L)
        .otherwise(0L)), lit(0L)).as("n_first_pick_violations"))
    val subsetViol = picks
      .join(cands.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      .agg(count(lit(1)).as("n_subset_violations"))
    val countViol = picks
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_picks"),
        countDistinct(col("neighbor_id")).as("n_distinct"))
      .join(cands.groupBy("query_id").agg(count(lit(1)).as("n_cands")),
        Seq("query_id"))
      .agg(coalesce(sum(when(
        col("n_picks") =!= least(lit(k.toLong), col("n_cands")) ||
          col("n_distinct") =!= col("n_picks"), 1L).otherwise(0L)), lit(0L))
        .as("n_count_violations"))
    nQueries.crossJoin(firstViol).crossJoin(subsetViol).crossJoin(countViol)
  }
}

/** DuckDB twins for the exact [[Similarity]] operators. The cosine mirrors
  * [[graft.functions.VectorKernels.cosineFloat]]'s association exactly:
  * `dot / (sqrt(na) * sqrt(nb))`, accumulated in double in index order.
  */
object SimilaritySql {

  private def cosSql(a: String, b: String): String =
    s"""round(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
       | / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
       |    * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))), 6)""".stripMargin

  def bruteForceTopK(queryPredSql: String, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |           FROM embeddings WHERE $queryPredSql),
       |c AS (SELECT query_id, e.vec_id AS neighbor_id,
       |             ${cosSql("q_emb", "e.embedding")} AS cos
       |      FROM q, embeddings e WHERE e.vec_id <> query_id)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM c)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Twin of [[Similarity.knnClassify]]: same neighbors, same vote, same
    * tie-break. */
  def knnClassify(queryPredSql: String, k: Int): String =
    s"""WITH nb AS (${bruteForceTopK(queryPredSql, k)}),
       |v AS (SELECT nb.query_id, e.label, count(*) AS n
       |      FROM nb JOIN embeddings e ON e.vec_id = nb.neighbor_id
       |      GROUP BY 1, 2),
       |p AS (SELECT query_id, label AS pred_label FROM (
       |        SELECT query_id, label,
       |               row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY n DESC, label) AS r
       |        FROM v)
       |      WHERE r = 1)
       |SELECT q.vec_id AS query_id, q.label AS true_label, p.pred_label,
       |       q.label = p.pred_label AS correct
       |FROM embeddings q JOIN p ON p.query_id = q.vec_id
       |WHERE $queryPredSql
       |ORDER BY query_id""".stripMargin

  /** Twin of [[Similarity.recallVsExact]]: the query/exact-row counts are
    * real SQL; recall_ok is the cross-engine invariant. n_exact is
    * `sum(least(k, corpus - 1))` — each query has `corpus - 1` non-self
    * candidates, so the twin stays correct at any sf or k instead of
    * assuming every query has ≥ k neighbors. */
  /** Twin of [[Similarity.mmrVerify]]: the query count is the real oracle
    * value; the violation counters are definitionally zero for a correct
    * greedy selection. */
  def mmrVerify(queryPredSql: String): String =
    s"""SELECT (SELECT count(*) FROM embeddings WHERE $queryPredSql)
       |         AS n_queries,
       |       CAST(0 AS BIGINT) AS n_first_pick_violations,
       |       CAST(0 AS BIGINT) AS n_subset_violations,
       |       CAST(0 AS BIGINT) AS n_count_violations""".stripMargin

  def recallGate(queryPredSql: String, k: Int): String =
    s"""WITH n AS MATERIALIZED (SELECT count(*) - 1 AS n_other FROM embeddings)
       |SELECT CAST(count(*) AS BIGINT) AS n_queries,
       |       CAST(sum(least($k, n_other)) AS BIGINT) AS n_exact,
       |       TRUE AS recall_ok
       |FROM embeddings, n WHERE $queryPredSql""".stripMargin

  /** Twin of [[Similarity.quantizeInt8Stats]] — identical arithmetic and
    * association; the lambda recomputes q inline (no list_zip) on both
    * sides so the expressions are structurally the same. */
  val quantizeInt8Stats: String =
    s"""SELECT vec_id, n_dims, round(scale, 6) AS qscale,
       |       CASE WHEN scale = 0.0 THEN 0.0
       |            ELSE round(list_max(list_transform(x, v ->
       |              abs(v - greatest(-127.0, least(127.0,
       |                floor(v / scale + 0.5))) * scale))), 6)
       |       END AS max_abs_err
       |FROM (
       |  SELECT vec_id, len(embedding) AS n_dims,
       |         CAST(embedding AS DOUBLE[]) AS x,
       |         list_max(list_transform(CAST(embedding AS DOUBLE[]),
       |           v -> abs(v))) / 127.0 AS scale
       |  FROM embeddings)
       |ORDER BY vec_id""".stripMargin

  def bruteForcePairs(threshold: Double): String =
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       ${cosSql("a.embedding", "b.embedding")} AS cos
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE ${cosSql("a.embedding", "b.embedding")} >= $threshold
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Twin of [[Similarity.semanticDedup]]: the same seed-stride coarse
    * quantizer, the same argmax rounded-cosine assignment (seed-id
    * tie-break), the same within-cluster pair rule on the rounded
    * cosine — exact down to the kept flag. */
  def semanticDedup(threshold: Double, seedStride: Int,
      seedCap: Long = 2000L): String =
    s"""WITH seeds AS (
       |  SELECT vec_id AS cluster_id, embedding AS c_emb
       |  FROM embeddings
       |  WHERE vec_id % $seedStride = 0 AND vec_id < $seedCap),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, s.cluster_id,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${cosSql("e.embedding", "s.c_emb")} DESC,
       |                    s.cluster_id) AS rn
       |  FROM embeddings e CROSS JOIN seeds s),
       |assigned AS (
       |  SELECT vec_id, embedding, cluster_id FROM scored WHERE rn = 1),
       |removed AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assigned a JOIN assigned b
       |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $threshold)
       |SELECT a.vec_id, a.cluster_id, r.vec_id IS NULL AS kept
       |FROM assigned a LEFT JOIN removed r ON a.vec_id = r.vec_id
       |ORDER BY a.vec_id""".stripMargin
}
