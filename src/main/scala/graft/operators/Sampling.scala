package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-composition operators: the sampling layer a pretraining data
  * pipeline runs AFTER cleaning/dedup — decide how much of each source to
  * keep (temperature mixing) and in what order to emit it (seeded global
  * shuffle into training shards).
  *
  * Both operators make every random choice a pure integer function of the
  * row key (multiplicative hashing, the [[Ratings.splitBucket]] trick
  * scaled up), so the "random" sample is reproducible bit-for-bit across
  * engines and across reruns — which is exactly what a training pipeline
  * wants anyway: re-running the corpus build must yield the same corpus.
  */
object Sampling {

  /** Knuth's multiplicative-hash constant (2^32/φ) and a prime modulus:
    * `(key * prime) mod M` spreads sequential ids uniformly over [0, M). */
  val hashPrime = 2654435761L
  val hashMod = 1000003L

  /** `(doc_id · prime) mod M` with the multiplicand mod-reduced FIRST:
    * `(a·b) mod M == ((a mod M)·(b mod M)) mod M`, and the reduced product
    * stays under 2^39, where the naive `doc_id * hashPrime` overflows Long
    * for any doc_id > ~3.5e9 — a corpus size 100 TB reaches (under ANSI
    * mode the overflow throws; without it the sample silently diverges
    * from the oracle). The SQL twins reduce identically, INCLUDING sign:
    * Spark's `pmod` is always non-negative while SQL `%` preserves the
    * dividend's sign, so the twin adds the `(x % M + M) % M` fold — both
    * sides land in [0, M) for every Long id, negative ids included
    * (`((r+M)·p) mod M == (r·p) mod M`, so the fold changes nothing for
    * the non-negative ids the testdata has). */
  private[graft] def rowHash(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(pmod(id, lit(hashMod)) * (hashPrime % hashMod), lit(hashMod))

  /** The mod-reduced hash as SQL, shared by every twin; non-negative for
    * every input, like the Spark side's `pmod`. */
  private[graft] def rowHashSql(idExpr: String): String =
    s"(((($idExpr % $hashMod) * ${hashPrime % hashMod}) % $hashMod" +
      s" + $hashMod) % $hashMod)"

  /** The per-row face of [[temperatureMix]]: every document with its
    * source's rate parameters and its own `keep` verdict —
    * `(doc_id, source, n_src, milliweight, thresh, keep)`. This is the
    * composable stage ([[graft.SparkEntry]]'s `pipe3_export_corpus`
    * filters on `keep` and shards the survivors); [[temperatureMix]] is
    * its per-source audit aggregate. */
  def temperatureKeep(docs: DataFrame, targetPct: Int = 50): DataFrame = {
    require(targetPct > 0 && targetPct <= 100, s"targetPct in (0,100]: $targetPct")
    val all = Window.partitionBy()
    val rates = docs.groupBy("source").agg(count("*").as("n_src"))
      .withColumn("milliweight", round(sqrt(col("n_src")) * 1000).cast("long"))
      .withColumn("denom", sum("milliweight").over(all))
      .withColumn("target", expr(s"sum(n_src) OVER () * $targetPct div 100"))
      // the rate numerator/denominator go DOUBLE before multiplying:
      // target·milliweight overflows Long for corpus sizes the module
      // claims (N ~ 1e11 docs × milliweight ~ 3e7). Both engines convert
      // sub-2^53 longs exactly and round the big product identically, so
      // cross-engine equality survives the widening.
      .withColumn("thresh",
        floor(least(lit(1.0),
          (col("target").cast("double") * col("milliweight"))
            / (col("denom").cast("double") * col("n_src"))) * hashMod).cast("long"))
      .select("source", "n_src", "milliweight", "thresh")
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .withColumn("keep", rowHash(col("doc_id")) < col("thresh"))
  }

  /** Temperature-weighted source mixing (the GPT-3/LLaMA data-mix shape):
    * sample source `s` at a rate proportional to `n_s^(1/2)` — up-weights
    * small sources, down-weights dominant ones — scaled so the expected
    * kept total is `targetPct`% of the corpus. Returns the per-source
    * audit `(source, n_docs, milliweight, thresh, n_kept)`.
    *
    * Cross-engine exactness: the per-source weight is the INTEGER
    * `round(sqrt(n_s)·1000)` — sqrt and one multiply are IEEE-exact, and
    * integer sums are order-independent, where a floating `Σ n_s^α` would
    * depend on the engine's reduction order. The keep rule compares the
    * row hash against `floor(rate·M)`, every step either exact integer
    * arithmetic or an identically-rounded double op.
    *
    * Scale shape: one tiny per-source count aggregate → a source-count-
    * sized rate table broadcast back → one filter pass over the corpus.
    * Sampling 100 TB is a single scan; nothing corpus-sized shuffles.
    */
  def temperatureMix(docs: DataFrame, targetPct: Int = 50): DataFrame =
    temperatureKeep(docs, targetPct)
      .groupBy("source").agg(
        first("n_src").as("n_docs"),
        first("milliweight").as("milliweight"),
        first("thresh").as("thresh"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))

  /** Seeded global shuffle into training shards: every document gets a
    * pseudo-random but deterministic `shard` in [0, nShards) and a `pos`
    * (its emit order within the shard) — the corpus-export step that
    * breaks source/crawl locality so a trainer's sequential reads see an
    * i.i.d.-ish stream. `(doc_id, shard, pos)`.
    *
    * Scale shape: one shuffle on `shard` + a per-shard sort — exactly the
    * `repartition(shard).sortWithinPartitions(h)` write plan of the
    * partitioned sinks (k2/k3); this query face returns the assignment
    * itself so the shuffle is oracle-checkable row for row.
    */
  def shuffleShards(docs: DataFrame, nShards: Int = 8,
      keep: Seq[String] = Nil): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val win = Window.partitionBy("shard").orderBy("h", "doc_id")
    docs
      .select(col("doc_id") +: keep.map(col) :+
        rowHash(col("doc_id")).as("h"): _*)
      .withColumn("shard", (col("h") % nShards).cast("int"))
      .withColumn("pos", row_number().over(win))
      .select(("doc_id" +: keep) ++ Seq("shard", "pos") map col: _*)
  }

  /** Token-budget planning — the other half of data mixing: given a total
    * training-token budget, how many tokens to DRAW from each source
    * (`target_tokens`, sqrt-temperature-weighted like [[temperatureKeep]])
    * and therefore how many passes over it (`epochs` — >1 means the
    * trainer repeats the small source, the up-sampling [[temperatureKeep]]
    * deliberately caps at rate 1). `(source, avail_tokens, milliweight,
    * target_tokens, epochs)`, all arithmetic integer until the one final
    * exactly-rounded division.
    *
    * Scale shape: one narrow projection (native tokenizer) into one
    * partial/final aggregate over ~|sources| groups, then window sums over
    * the tiny aggregate — counting 100 TB of tokens is a single scan. */
  def tokenBudget(docs: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val all = Window.partitionBy()
    docs
      .select(col("source"),
        size(graft.functions.word_tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("source").agg(sum("n_tokens").as("avail_tokens"))
      .withColumn("milliweight", round(sqrt(col("avail_tokens")) * 1000).cast("long"))
      .withColumn("denom", sum("milliweight").over(all))
      // budget·milliweight overflows Long at real budgets (1e13 tokens ×
      // milliweight ~ 3e9); floor over doubles is identically rounded in
      // both engines for sub-2^53 operands. Zero guards: a source whose
      // documents are all empty/untokenizable has avail_tokens = 0 (and
      // if EVERY source is empty, denom = 0) — Spark would yield NaN for
      // 0.0/0 where DuckDB differs, so both engines take the same
      // explicit NULL branch instead (mirrored CASE in the SQL twin)
      .withColumn("target_tokens",
        when(col("denom") > 0,
          floor(lit(budget.toDouble) * col("milliweight")
            / col("denom").cast("double")).cast("long")))
      .withColumn("epochs",
        when(col("avail_tokens") > 0,
          round(col("target_tokens").cast("double") / col("avail_tokens"), 6)))
      .select("source", "avail_tokens", "milliweight", "target_tokens", "epochs")
  }

  /** Quality-threshold calibration — the step between scoring and
    * filtering: given a per-source keep budget (`keepPct`% of each
    * source), find the quality CUTOFF that budget implies, per source.
    * This is how real curation pipelines pick thresholds (fix the
    * retention rate, read off the score), rather than hand-tuning a
    * global constant that over-filters weak sources. Returns the
    * per-source audit `(source, n_docs, n_kept, cutoff)` where `cutoff`
    * is the quality of the marginal kept document — rank
    * `max(1, ⌊n·keepPct/100⌋)` by `(quality DESC, doc_id)`, the rounded
    * score + id tie-break making the rank (and thus the cutoff)
    * bit-deterministic cross-engine.
    *
    * Scale shape: one scoring projection, then a per-source window over
    * `(doc_id, source, quality)` — 24-byte rows, the same exchange class
    * as [[shuffleShards]]; output is one row per source. The marginal
    * rank IS a per-source sort, which is what an exact quantile costs;
    * the approximate alternative (t-digest/GK per source) trades that
    * for a mergeable sketch when sources are few and huge. */
  def calibrateQuality(docs: DataFrame, keepPct: Int = 30): DataFrame = {
    require(keepPct > 0 && keepPct <= 100, s"keepPct in (0,100]: $keepPct")
    val w = Window.partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
    val wn = Window.partitionBy("source")
    TextAnalysis.qualityScore(docs, keep = Seq("source"))
      .select(col("doc_id"), col("source"), col("quality"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_docs", count("*").over(wn))
      .withColumn("kk",
        greatest(lit(1L), floor(col("n_docs") * keepPct / lit(100.0)).cast("long")))
      .where(col("rnk") === col("kk"))
      .select(col("source"), col("n_docs"), col("kk").as("n_kept"),
        col("quality").as("cutoff"))
  }

  /** Quality-curriculum phase assignment — the data-ORDERING step of
    * training prep: every document gets a phase `1..nPhases` by ascending
    * quality score (equal-count phases, `(quality, doc_id)` tie-break),
    * so phase 1 is the lowest-quality cohort and the final phase the
    * highest — the "anneal toward quality" schedule, where late-training
    * epochs draw from the top phases. Returns
    * `(doc_id, source, quality, phase)`.
    *
    * Scale shape (r8 verdict ask #2): the exact equal-count cut runs
    * through [[Ranks.withGlobalNtile]] — range-partitioned local sorts
    * plus bounded per-partition offsets, never a single-partition window
    * — over 24-byte `(doc_id, source, quality)` rows, bit-identical to
    * the `ntile` window the DuckDB twin still runs. (A pipeline that can
    * tolerate approximate phase boundaries can swap in quantile-sketch
    * cutpoints and skip the sort entirely; the exact form is the
    * registered, twin-checkable one.) */
  def curriculumPhases(docs: DataFrame, nPhases: Int = 4): DataFrame = {
    require(nPhases > 0, s"nPhases must be positive: $nPhases")
    Ranks.withGlobalNtile(
      TextAnalysis.qualityScore(docs, keep = Seq("source"))
        .select(col("doc_id"), col("source"), col("quality")),
      Seq(col("quality"), col("doc_id")), nPhases, "phase")
  }

  /** The composed corpus-EXPORT pass — what actually ships to the
    * trainer: model-score gate (one kernel projection) → exact dedup
    * (hash-keyed keeper window) → temperature mix (broadcast rate table)
    * → seeded shuffle into `nShards` training shards. The composition
    * endpoint of the whole composition layer, one plan end to end:
    * `(doc_id, source, shard, pos)` for every exported document.
    * Complements `pipe2_pretrain_corpus` (the CLEANING composition);
    * every stage keeps its standalone oracle-checked twin. */
  def exportCorpus(docs: DataFrame, dim: Int = 64, targetPct: Int = 50,
      nShards: Int = 8): DataFrame = {
    val scored = docs.where(graft.functions.hashed_lr_score(col("text"), dim) >= 0)
    val keepers = Dedup.exactKeepers(scored)
      .where(col("is_keeper")).select("doc_id")
    // Cache narrow, recompute wide: `surv` is referenced TWICE downstream
    // (temperatureKeep's rate aggregate + its corpus-side join), and each
    // reference would otherwise re-derive the whole text-bearing subtree
    // — measured on the physical plan, persisting this 16-byte-per-row
    // (doc_id, source) relation halves the corpus scans AND the
    // hashed_lr_score kernel evaluations (10 -> 5). The text-bearing
    // stages are deliberately NOT cached: at 100 TB a text cache spills
    // the corpus to executor disks, while the survivor-id relation is
    // ~1/1000th the width. Released by the harness's per-query
    // clearCache (Bench/Verify contract — see Dedup.nearDupPairs note);
    // a library caller should unpersist after the action completes.
    val surv = scored.join(keepers, "doc_id").select("doc_id", "source")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mixed = temperatureKeep(surv, targetPct)
      .where(col("keep")).select("doc_id", "source")
    shuffleShards(mixed, nShards, keep = Seq("source"))
  }

  /** The DSIR paper's end-to-end selection workflow as one composed plan:
    * importance weights ([[TextAnalysis.dsirWeights]]) → keep the top
    * `keepPct`% of candidates by weight (deterministic `(log_ratio DESC,
    * doc_id)` rank; keep count is the exact integer `n·pct div 100`) →
    * hash-shard the survivors for the trainer ([[shuffleShards]]' rule).
    * `(doc_id, log_ratio, shard, pos)`.
    *
    * Scale (r8 verdict ask #2): the weight stage is
    * [[TextAnalysis.dsirWeights]]' word-keyed joins; the top-`keepPct`%
    * rank runs through [[Ranks.withGlobalRank]] over 16-byte `(doc_id,
    * log_ratio)` rows — range-partitioned, never a single-partition
    * window — with the keep count an exact driver integer from the same
    * bounded offsets pass (the DuckDB twin's `count(*) OVER ()` value);
    * the shard pass is narrow hashing plus a per-shard window. Document
    * text never reaches any exchange past the first tokenize. */
  def dsirSelect(docs: DataFrame, targetPred: org.apache.spark.sql.Column,
      keepPct: Int = 25, nShards: Int = 8): DataFrame = {
    require(keepPct > 0 && keepPct <= 100, s"keepPct in (0,100]: $keepPct")
    require(nShards > 0, s"nShards must be positive: $nShards")
    val (rankedAll, nCand) = Ranks.withGlobalRank(
      TextAnalysis.dsirWeights(docs, targetPred),
      Seq(desc("log_ratio"), col("doc_id")), "rnk")
    val ranked = rankedAll.where(col("rnk") <= lit(nCand * keepPct / 100))
    ranked
      .select(col("doc_id"), col("log_ratio"), rowHash(col("doc_id")).as("h"))
      .withColumn("shard", (col("h") % nShards).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy("h", "doc_id")))
      .select("doc_id", "log_ratio", "shard", "pos")
  }

  /** Fixed-size weighted sample WITHOUT replacement (Efraimidis &
    * Spirakis 2006, "Weighted random sampling with a reservoir"): each
    * row draws `u ∈ (0,1]` from the deterministic row hash and gets
    * priority `u^(1/w)`; the k LARGEST priorities are exactly a weighted
    * sample without replacement — the one-pass, mergeable alternative to
    * the rate-based [[temperatureKeep]] when the pipeline needs an exact
    * sample SIZE (eval-set carving, human-review draws) rather than an
    * expected rate. `(doc_id, source, <weight>, rank)`.
    *
    * Cross-engine caveat (documented, not hidden): the priority is a
    * `pow` of the exact integer hash — the one operator family whose
    * twins lean on libm agreement rather than exact integer arithmetic.
    * The comparison is safe in practice because adjacent top-k
    * priorities differ by ~1e-4 while cross-libm `pow` disagreement is
    * ≤1 ulp (~1e-16); the priority itself is NOT in the output, so only
    * the selected set and its order must agree.
    *
    * Scale shape: `orderBy(priority).limit(k)` plans as a distributed
    * TakeOrdered — O(log k) heap work per row, k rows per partition to
    * the driver, NO global sort — then the rank window runs on the k
    * collected rows only. One scan at 100 TB. */
  def weightedSample(docs: DataFrame, k: Int = 100,
      weightCol: String = "n_chars"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val u = (rowHash(col("doc_id")) + 1).cast("double") / hashMod
    val priority =
      pow(u, lit(1.0) / greatest(col(weightCol), lit(1L)).cast("double"))
    docs.select(col("doc_id"), col("source"), col(weightCol),
        priority.as("es_key"))
      .orderBy(desc("es_key"), col("doc_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.partitionBy().orderBy(desc("es_key"), col("doc_id"))))
      .select("doc_id", "source", weightCol, "rank")
  }

  /** Per-group [[weightedSample]]: k docs per source, same E-S priority.
    * The eval-set carve every mixture pipeline runs — a fixed-size draw
    * from EACH source so small sources aren't starved by a global top-k.
    *
    * Scale shape: rank-filtered window → Spark inserts WindowGroupLimit
    * (plan-audited), so each map task pre-prunes to its own top-k per
    * group before the exchange — the shuffle carries ~k rows per
    * (group × task), not the corpus. */
  def stratifiedWeightedSample(docs: DataFrame, kPerGroup: Int = 5,
      weightCol: String = "n_chars"): DataFrame = {
    require(kPerGroup > 0, s"kPerGroup must be positive: $kPerGroup")
    val u = (rowHash(col("doc_id")) + 1).cast("double") / hashMod
    val priority =
      pow(u, lit(1.0) / greatest(col(weightCol), lit(1L)).cast("double"))
    docs.select(col("doc_id"), col("source"), col(weightCol),
        priority.as("es_key"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(desc("es_key"), col("doc_id"))))
      .where(col("rank") <= kPerGroup)
      .select("doc_id", "source", weightCol, "rank")
      .orderBy("source", "rank")
  }

  /** Consistent (hash-ranked) per-stratum sample: the bottom-k docs per
    * language by `md5(doc_id)`. A deterministic uniform draw that is
    * reproducible across engines AND across corpus versions — a doc's
    * verdict depends only on its own hash and the hashes below it, so
    * day-over-day crawl re-samples overlap almost entirely, the property
    * RNG-seeded sampling loses the moment row order or partitioning
    * changes. md5 (not the Knuth hash above) because the E-S lanes
    * already own multiplicative hashing and a crypto hash is the
    * standard choice when the id space is adversarial/clustered
    * (sequential ids stay uniformly spread).
    *
    * Scale shape: rank-filtered window over bounded-cardinality strata →
    * WindowGroupLimit pre-prunes each map task to k rows per (lang ×
    * task) before the exchange, like [[stratifiedWeightedSample]]. */
  def consistentSample(docs: DataFrame, kPerGroup: Int = 5): DataFrame = {
    require(kPerGroup > 0, s"kPerGroup must be positive: $kPerGroup")
    docs.select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string").cast("binary")).as("hk"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(col("hk"), col("doc_id"))))
      .where(col("rank") <= kPerGroup)
      .orderBy("lang", "rank")
  }

  /** Sampled-key join-size estimation — the optimizer-statistics face: how
    * many rows would a self-equi-join on `key` produce, WITHOUT running
    * the join. Exact size is `Σ_k f(k)²` (f = per-key frequency); the
    * estimator evaluates the same sum over a deterministic `[[rowHash]] <
    * threshold` sample of the KEY DOMAIN and scales by the inverse
    * sampling rate — the pre-flight check before any pairwise candidate
    * join (the dedup lane's verify joins, a skewed analytic self-join)
    * that tells the planner whether the join is affordable and which keys
    * explode it.
    *
    * Scale posture: the estimator branch filters rows by the key's hash
    * BEFORE the group-by — the exchange carries only the ~1/rate sampled
    * keys, and no join ever runs. The exact branch (one full group-by,
    * join-free) is the oracle/gate face; at 100 TB only the sampled
    * branch runs, against every candidate join key under consideration.
    * Key-domain sampling (not row sampling) is what keeps the estimator
    * unbiased for the quadratic sum: every retained key contributes its
    * FULL f(k)². One row:
    * `(exact_pairs, est_pairs, sample_keys, rel_err)`. */
  def joinSizeEstimate(df: DataFrame, key: Column,
      threshold: Long = 250000): DataFrame = {
    val scale = hashMod.toDouble / threshold
    val f = df.groupBy(key.as("k")).agg(count(lit(1)).as("f"))
    val exact = f.agg(sum(col("f") * col("f")).as("exact_pairs"))
    val est = df.where(rowHash(key) < threshold)
      .groupBy(key.as("k")).agg(count(lit(1)).as("f"))
      .agg(coalesce(sum(col("f") * col("f")), lit(0L)).as("s2"),
        count(lit(1)).as("sample_keys"))
    exact.crossJoin(est)
      .withColumn("est_pairs", round(col("s2") * scale, 1))
      .withColumn("rel_err",
        round(abs(col("est_pairs") - col("exact_pairs")) /
          col("exact_pairs"), 6))
      .select("exact_pairs", "est_pairs", "sample_keys", "rel_err")
  }

  /** The count-min heavy-hitter gate shared by a8 and its streaming twin
    * st23: each exact `(key, n)` row of `topk` (a bounded top-k,
    * collected) is probed against the serialized count-min `sketch` of
    * `total` rows at relative error `eps`, under the CMS guarantee
    * `exact ≤ estimate ≤ exact + ⌈εN⌉`. `(key, n, cms_ok)`, the key
    * named as in `topk`. */
  def cmsGate(sketch: Array[Byte], total: Long, topk: DataFrame,
      eps: Double): DataFrame = {
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketch))
    val bound = math.ceil(eps * total).toLong
    val gated = topk.collect().map { r =>
      val (key, n) = (r.getLong(0), r.getLong(1))
      val est = cms.estimateCount(key)
      (key, n, est >= n && est <= n + bound)
    }
    topk.sparkSession.createDataFrame(gated.toSeq)
      .toDF(topk.columns.head, "n", "cms_ok")
  }
}

/** DuckDB twins of [[Sampling]] — identical integer hash/weight
  * arithmetic, term for term. */
object SamplingSql {
  import Sampling.hashMod

  def temperatureMix(targetPct: Int): String =
    s"""WITH counts AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_src
       |  FROM documents GROUP BY source),
       |rates AS (
       |  SELECT source, n_src,
       |         CAST(round(sqrt(n_src) * 1000) AS BIGINT) AS milliweight,
       |         sum(CAST(round(sqrt(n_src) * 1000) AS BIGINT)) OVER () AS denom,
       |         sum(n_src) OVER () * $targetPct // 100 AS target
       |  FROM counts),
       |thresholds AS (
       |  SELECT source, n_src, milliweight,
       |         CAST(floor(least(1.0,
       |           CAST(target AS DOUBLE) * milliweight
       |             / (CAST(denom AS DOUBLE) * n_src))
       |           * $hashMod) AS BIGINT) AS thresh
       |  FROM rates)
       |SELECT d.source, t.n_src AS n_docs, t.milliweight, t.thresh,
       |       CAST(sum(CASE WHEN ${Sampling.rowHashSql("d.doc_id")} < t.thresh
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM documents d JOIN thresholds t USING (source)
       |GROUP BY d.source, t.n_src, t.milliweight, t.thresh
       |ORDER BY d.source""".stripMargin

  def shuffleShards(nShards: Int): String =
    s"""SELECT doc_id, shard, pos FROM (
       |  SELECT doc_id, CAST(h % $nShards AS INT) AS shard,
       |         row_number() OVER (PARTITION BY h % $nShards
       |                            ORDER BY h, doc_id) AS pos
       |  FROM (SELECT doc_id, ${Sampling.rowHashSql("doc_id")} AS h
       |        FROM documents))
       |ORDER BY shard, pos""".stripMargin

  /** Twin of [[Sampling.tokenBudget]] — same double-widened target
    * arithmetic (integer `budget·milliweight` overflows at real budgets)
    * and the same explicit NULL branches for zero-token sources. */
  def tokenBudget(budget: Long): String =
    s"""SELECT source, avail_tokens, milliweight,
       |       CASE WHEN denom > 0 THEN
       |         CAST(floor(CAST($budget AS DOUBLE) * milliweight
       |                    / CAST(denom AS DOUBLE)) AS BIGINT)
       |       END AS target_tokens,
       |       CASE WHEN avail_tokens > 0 THEN
       |         round(floor(CAST($budget AS DOUBLE) * milliweight
       |                     / CAST(denom AS DOUBLE))
       |               / avail_tokens, 6)
       |       END AS epochs
       |FROM (
       |  SELECT source, avail_tokens,
       |         CAST(round(sqrt(avail_tokens) * 1000) AS BIGINT) AS milliweight,
       |         sum(CAST(round(sqrt(avail_tokens) * 1000) AS BIGINT)) OVER ()
       |           AS denom
       |  FROM (
       |    SELECT source,
       |           CAST(sum(len(${TextAnalysisSql.toks})) AS BIGINT)
       |             AS avail_tokens
       |    FROM documents GROUP BY source))
       |ORDER BY source""".stripMargin

  /** Twin of [[Sampling.calibrateQuality]]: identical rank and marginal-
    * row arithmetic over the shared quality-score twin. */
  /** Twin of [[Sampling.curriculumPhases]]: same rounded quality, same
    * ascending `(quality, doc_id)` ntile. */
  def curriculumPhases(nPhases: Int): String =
    s"""SELECT doc_id, d.source, quality,
       |       CAST(ntile($nPhases) OVER (ORDER BY quality, doc_id)
       |            AS BIGINT) AS phase
       |FROM documents d JOIN (${TextAnalysisSql.qualityScore}) q USING (doc_id)""".stripMargin

  def calibrateQuality(keepPct: Int): String =
    s"""SELECT source, n_docs, kk AS n_kept, quality AS cutoff FROM (
       |  SELECT d.source, q.quality, q.doc_id,
       |         row_number() OVER (PARTITION BY d.source
       |                            ORDER BY q.quality DESC, q.doc_id) AS rnk,
       |         count(*) OVER (PARTITION BY d.source) AS n_docs,
       |         greatest(1, CAST(floor(count(*) OVER (PARTITION BY d.source)
       |                            * $keepPct / 100.0) AS BIGINT)) AS kk
       |  FROM documents d
       |  JOIN (${TextAnalysisSql.qualityScore}) q USING (doc_id))
       |WHERE rnk = kk ORDER BY source""".stripMargin

  /** Twin of [[Sampling.exportCorpus]] — the four stages as CTEs, each
    * reusing its standalone twin's arithmetic verbatim. */
  def exportCorpus(dim: Int, targetPct: Int, nShards: Int): String =
    s"""WITH kept1 AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE ${TextAnalysisSql.lrScore(dim)} >= 0),
       |keepers AS (
       |  SELECT doc_id,
       |         doc_id = min(doc_id) OVER (PARTITION BY ${DedupSql.norm})
       |           AS is_keeper
       |  FROM kept1),
       |surv AS (
       |  SELECT k.doc_id, k.source FROM kept1 k
       |  JOIN keepers USING (doc_id) WHERE is_keeper),
       |counts AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_src
       |  FROM surv GROUP BY source),
       |rates AS (
       |  SELECT source, n_src,
       |         CAST(round(sqrt(n_src) * 1000) AS BIGINT) AS milliweight,
       |         sum(CAST(round(sqrt(n_src) * 1000) AS BIGINT)) OVER () AS denom,
       |         sum(n_src) OVER () * $targetPct // 100 AS target
       |  FROM counts),
       |thresholds AS (
       |  SELECT source,
       |         CAST(floor(least(1.0,
       |           CAST(target AS DOUBLE) * milliweight
       |             / (CAST(denom AS DOUBLE) * n_src))
       |           * $hashMod) AS BIGINT) AS thresh
       |  FROM rates),
       |mixed AS (
       |  SELECT s.doc_id, s.source FROM surv s
       |  JOIN thresholds t USING (source)
       |  WHERE ${Sampling.rowHashSql("s.doc_id")} < t.thresh)
       |SELECT doc_id, source, shard, pos FROM (
       |  SELECT doc_id, source, CAST(h % $nShards AS INT) AS shard,
       |         row_number() OVER (PARTITION BY h % $nShards
       |                            ORDER BY h, doc_id) AS pos
       |  FROM (SELECT doc_id, source, ${Sampling.rowHashSql("doc_id")} AS h
       |        FROM mixed))
       |ORDER BY shard, pos""".stripMargin

  /** Twin of [[Sampling.dsirSelect]]: the dsir twin as a CTE, the same
    * exact integer keep rule, the same hash/shard arithmetic. */
  def dsirSelect(targetPredSql: String, keepPct: Int, nShards: Int): String =
    s"""WITH w AS (${TextAnalysisSql.dsirWeights(targetPredSql)}),
       |ranked AS (
       |  SELECT doc_id, log_ratio,
       |         row_number() OVER (ORDER BY log_ratio DESC, doc_id) AS rnk,
       |         count(*) OVER () AS n_cand
       |  FROM w),
       |sel AS (
       |  SELECT doc_id, log_ratio, ${Sampling.rowHashSql("doc_id")} AS h
       |  FROM ranked WHERE rnk <= n_cand * $keepPct // 100)
       |SELECT doc_id, log_ratio, CAST(h % $nShards AS INT) AS shard,
       |       row_number() OVER (PARTITION BY h % $nShards
       |                          ORDER BY h, doc_id) AS pos
       |FROM sel ORDER BY shard, pos""".stripMargin

  /** Twin of [[Sampling.weightedSample]]: same hash-drawn uniform, same
    * `u^(1/w)` priority (the one libm-dependent twin — see the operator
    * scaladoc for why the comparison is safe), same desc/doc_id order. */
  def weightedSample(k: Int, weightCol: String = "n_chars"): String =
    s"""SELECT doc_id, source, $weightCol, rank FROM (
       |  SELECT doc_id, source, $weightCol,
       |         row_number() OVER (
       |           ORDER BY pow((${Sampling.rowHashSql("doc_id")} + 1)
       |                          / ${Sampling.hashMod}.0,
       |                        1.0 / greatest($weightCol, 1)) DESC,
       |                    doc_id) AS rank
       |  FROM documents)
       |WHERE rank <= $k ORDER BY rank""".stripMargin

  /** Twin of [[Sampling.stratifiedWeightedSample]]. */
  def stratifiedWeightedSample(kPerGroup: Int,
      weightCol: String = "n_chars"): String =
    s"""SELECT doc_id, source, $weightCol, rank FROM (
       |  SELECT doc_id, source, $weightCol,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY pow((${Sampling.rowHashSql("doc_id")} + 1)
       |                          / ${Sampling.hashMod}.0,
       |                        1.0 / greatest($weightCol, 1)) DESC,
       |                    doc_id) AS rank
       |  FROM documents)
       |WHERE rank <= $kPerGroup ORDER BY source, rank""".stripMargin

  /** Twin of [[Sampling.consistentSample]] — DuckDB's `md5(VARCHAR)` and
    * Spark's `md5(BINARY)` of the identical decimal id string emit the
    * same lowercase hex. */
  def consistentSample(kPerGroup: Int): String =
    s"""SELECT doc_id, lang, hk, rank FROM (
       |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hk,
       |         row_number() OVER (PARTITION BY lang
       |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
       |  FROM documents)
       |WHERE rank <= $kPerGroup ORDER BY lang, rank""".stripMargin

  /** Twin of [[Sampling.joinSizeEstimate]] — identical hash sample,
    * identical inverse-rate scaling and rounding. */
  def joinSizeEstimate(table: String, keyExpr: String,
      threshold: Long = 250000): String = {
    val scale = s"(${hashMod}.0 / $threshold)"
    s"""WITH f AS (SELECT $keyExpr AS k, count(*) AS f
       |           FROM $table GROUP BY 1),
       |e AS (SELECT CAST(sum(f*f) AS BIGINT) AS exact_pairs FROM f),
       |s AS (SELECT CAST(coalesce(sum(f*f), 0) AS BIGINT) AS s2,
       |             count(*) AS sample_keys
       |      FROM f WHERE ${Sampling.rowHashSql("k")} < $threshold)
       |SELECT e.exact_pairs,
       |       round(s.s2 * $scale, 1) AS est_pairs,
       |       s.sample_keys,
       |       round(abs(round(s.s2 * $scale, 1) - e.exact_pairs)
       |             / e.exact_pairs, 6) AS rel_err
       |FROM e, s""".stripMargin
  }
}
