package graft.lanes

import org.apache.spark.sql.functions._

import graft.operators.{
  Dedup, DedupSql, FeatureEng, FeatureEngSql, NaiveBayes, NaiveBayesSql, Sampling, SamplingSql,
  Tables, TextAnalysis, TextAnalysisSql, Tokenizer, TokenizerSql, Training}
import DedupLanes.{batchAPredSql, batchASources}

/** Text analysis over `documents`, the composed corpus pipelines and
  * in-engine Naive Bayes (the LLM-pipeline layer). */
object TextLanes extends LaneFamily("text") {
  // DSIR's "target domain": a deliberately small high-quality slice
  private[lanes] val dsirTargetSources = Seq("src0", "src1")
  private[lanes] val dsirTargetPredSql =
    dsirTargetSources.map(s => s"'$s'").mkString("source IN (", ", ", ")")

  /** Retrieval-scoring constants shared by the queries and their twins. */
  private val tfidfTopK = 5
  private[lanes] val bm25Query = Seq("hash", "join", "filter")
  private val bm25TopK = 20

  val lanes: Seq[Lane] = Seq(
    // --- T: text analysis over documents (LLM-pipeline layer)
    Lane("t1_token_stats", Some(s"${TextAnalysisSql.tokenStats} ORDER BY doc_id"))((s, dir) =>
      TextAnalysis.tokenStats(Tables(s, dir, "documents")).orderBy("doc_id")),
    Lane("t2_quality", Some(s"${TextAnalysisSql.qualityScore} ORDER BY doc_id"))((s, dir) =>
      TextAnalysis.qualityScore(Tables(s, dir, "documents")).orderBy("doc_id")),
    Lane("t3_langid", Some(s"${TextAnalysisSql.langId} ORDER BY doc_id"))((s, dir) =>
      TextAnalysis.langId(Tables(s, dir, "documents")).orderBy("doc_id")),
    Lane("t14_gopher_filter", Some(
        s"${TextAnalysisSql.gopherFilter} ORDER BY doc_id"))((s, dir) =>
      // published rule-gate quality pass
      TextAnalysis.gopherFilter(Tables(s, dir, "documents")).orderBy("doc_id")),
    // identical integer bucket/weight arithmetic
    Lane("t16_hashed_lr", Some(
        s"${TextAnalysisSql.hashedLr(64)} ORDER BY doc_id"))((s, dir) =>
      // feature-hashed linear scorer, one pass
      TextAnalysis.hashedLrQuality(Tables(s, dir, "documents")).orderBy("doc_id")),
    Lane("dedup_passage", Some(DedupSql.passageDedup(8)))((s, dir) =>
      // sub-document first-occurrence dedup
      Dedup.passageDedup(Tables(s, dir, "documents")).orderBy("doc_id")),
    Lane("t17_boilerplate_rate", Some(DedupSql.boilerplateRate(8)))((s, dir) =>
      // per-source sub-doc repeat rate
      Dedup.boilerplateRate(Tables(s, dir, "documents")).orderBy("source")),
    Lane("p10_temperature_mix", Some(SamplingSql.temperatureMix(50)))((s, dir) =>
      // temperature-weighted source mix
      Sampling.temperatureMix(Tables(s, dir, "documents")).orderBy("source")),
    Lane("p11_shuffle_shards", Some(SamplingSql.shuffleShards(8)))((s, dir) =>
      // seeded global shuffle -> shards
      Sampling.shuffleShards(Tables(s, dir, "documents")).orderBy("shard", "pos")),
    Lane("p12_token_budget", Some(SamplingSql.tokenBudget(100000L)))((s, dir) =>
      // per-source epoch plan for a budget
      Sampling.tokenBudget(Tables(s, dir, "documents"), budget = 100000L)
        .orderBy("source")),
    Lane("t4_shingle_fp", None)((s, dir) => // mmh3-valued -> rows-only check
      TextAnalysis.shingleFingerprint(Tables(s, dir, "documents")).orderBy("doc_id")),
    Lane("t4_verify", Some(
        s"""SELECT (SELECT count(*) FROM documents
           |        WHERE len(${TextAnalysisSql.toks}) > 0) AS n_docs,
           |       (SELECT CAST(sum(len(${DedupSql.shinglesSql(3)})) AS BIGINT)
           |        FROM documents
           |        WHERE len(${TextAnalysisSql.toks}) > 0) AS sum_shingles,
           |       (SELECT count(*)
           |        FROM (SELECT doc_id, ${DedupSql.norm} AS nrm FROM documents
           |              WHERE len(${TextAnalysisSql.toks}) > 0) a
           |        JOIN (SELECT doc_id, ${DedupSql.norm} AS nrm FROM documents
           |              WHERE len(${TextAnalysisSql.toks}) > 0) b
           |          ON a.nrm = b.nrm AND a.doc_id < b.doc_id) AS n_exact_pairs,
           |       CAST(0 AS BIGINT) AS n_order_violations,
           |       CAST(0 AS BIGINT) AS n_dup_mismatch""".stripMargin))((s, dir) => {
      // Cross-engine gate for the shingle-fingerprint kernel (t9_winnow_
      // verify pattern): the distinct-shingle count is a REAL oracle
      // value (DuckDB recomputes it), min<=max must hold per doc, and
      // exact-dup documents must fingerprint identically. One lazy plan;
      // the pair join keys on the 64-bit text fingerprint (narrow
      // exchange) with a post-join norm equality to drop collisions.
      val t = TextAnalysis.tokens(col("text"))
      val sh = TextAnalysis.shingles(t, 3)
      val hashes = graft.functions.hash_array(sh, 0)
      val keyed = Tables(s, dir, "documents").where(size(t) > 0)
        .select(col("doc_id"),
          TextAnalysis.normalized(col("text")).as("norm"),
          xxhash64(TextAnalysis.normalized(col("text"))).as("nfp"),
          size(array_distinct(sh)).cast("long").as("n_shingles"),
          array_min(hashes).as("min_hash"),
          array_max(hashes).as("max_hash"))
      val docAgg = keyed.agg(
        count("*").as("n_docs"),
        sum("n_shingles").as("sum_shingles"),
        coalesce(sum(when(col("min_hash") > col("max_hash"), 1L)
          .otherwise(0L)), lit(0L)).as("n_order_violations"))
      val pairAgg = keyed.as("x")
        .join(keyed.as("y"),
          col("x.nfp") === col("y.nfp") && col("x.doc_id") < col("y.doc_id"))
        .where(col("x.norm") === col("y.norm"))
        .agg(
          count("*").as("n_exact_pairs"),
          coalesce(sum(when(col("x.min_hash") =!= col("y.min_hash")
              || col("x.max_hash") =!= col("y.max_hash"), 1L)
            .otherwise(0L)), lit(0L)).as("n_dup_mismatch"))
      docAgg.crossJoin(pairAgg)
        .select(col("n_docs"), col("sum_shingles"), col("n_exact_pairs"),
          col("n_order_violations"), col("n_dup_mismatch"))
    }),
    Lane("t5_vocab", Some(TextAnalysisSql.vocabulary(50)))((s, dir) =>
      TextAnalysis.vocabulary(Tables(s, dir, "documents"), topK = 50)),
    Lane("t18_quality_calibrate", Some(SamplingSql.calibrateQuality(30)))((s, dir) =>
      // keep-rate -> quality cutoff
      Sampling.calibrateQuality(Tables(s, dir, "documents"), keepPct = 30)
        .orderBy("source")),
    Lane("p13_curriculum", Some(
        s"${SamplingSql.curriculumPhases(4)} ORDER BY doc_id"))((s, dir) =>
      // quality-ordered training phases
      Sampling.curriculumPhases(Tables(s, dir, "documents"), nPhases = 4)
        .orderBy("doc_id")),
    Lane("p14_weighted_sample", Some(SamplingSql.weightedSample(100)))((s, dir) =>
      // fixed-SIZE weighted draw (E-S)
      Sampling.weightedSample(Tables(s, dir, "documents"), k = 100)),
    Lane("p15_stratified_es", Some(SamplingSql.stratifiedWeightedSample(5)))((s, dir) =>
      // k-per-source draw, same priority
      Sampling.stratifiedWeightedSample(Tables(s, dir, "documents"),
        kPerGroup = 5)),
    Lane("p17_consistent_sample", Some(SamplingSql.consistentSample(5)))((s, dir) =>
      // md5-ranked stable per-lang draw
      Sampling.consistentSample(Tables(s, dir, "documents"), kPerGroup = 5)),
    // identical k-row rollup, identical capped
    // double arithmetic, rounded 6dp (2dp on the token mass)
    Lane("p19_domain_mix", Some(
        """WITH per AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |         CAST(sum(len(regexp_extract_all(text, '\S+')))
          |              AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY source),
          |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total,
          |               CAST(count(*) AS DOUBLE) AS k FROM per),
          |mixed AS (
          |  SELECT source, n_docs, n_tokens, total / k AS target,
          |         least(total / k, 4.0 * n_tokens) AS expected
          |  FROM per CROSS JOIN tot)
          |SELECT source, n_docs, n_tokens,
          |       round(least(target / n_tokens, 4.0), 6) AS weight,
          |       round(expected, 2) AS expected_tokens,
          |       round(expected / (SELECT sum(expected) FROM mixed), 6)
          |         AS share_after
          |FROM mixed ORDER BY source""".stripMargin))((s, dir) => {
      // Mixture-weight planner — the static data-mixing step a pretrain
      // corpus runs before sampling (the SlimPajama/DoReMi-lite shape):
      // per source, the repetition factor ("epochs") that moves its
      // token mass toward the UNIFORM target share, capped at maxEpochs
      // (up-weighting a tiny source 100× memorizes it, so the cap is
      // the policy knob), plus the post-cap expected token mass and its
      // renormalized share. All arithmetic on the k-row per-source
      // rollup: one corpus scan (persisted — totals and the final
      // projection are two consumers), then broadcast stitches of the
      // one-row totals. Identical double ops in the twin, rounded 6dp.
      val maxEpochs = 4.0
      val per = Tables(s, dir, "documents")
        .select(col("source"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast("bigint").as("t"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("t").cast("bigint").as("n_tokens"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = per.agg(sum("n_tokens").cast("double").as("total"),
        count(lit(1)).cast("double").as("k"))
      val mixed = per.crossJoin(broadcast(tot))
        .withColumn("target", col("total") / col("k"))
        .withColumn("expected",
          least(col("target"), lit(maxEpochs) * col("n_tokens")))
      val denom = mixed.agg(sum("expected").as("sum_exp"))
      mixed.crossJoin(broadcast(denom))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(least(col("target") / col("n_tokens"), lit(maxEpochs)), 6)
            .as("weight"),
          round(col("expected"), 2).as("expected_tokens"),
          round(col("expected") / col("sum_exp"), 6).as("share_after"))
        .orderBy("source")
    }),
    // identical integer hash, identical tokenization
    Lane("p18_kfold", Some(
        s"""SELECT ${Sampling.rowHashSql("doc_id")} % 5 AS fold,
           |       count(*) AS n_docs,
           |       CAST(sum(len(${TextAnalysisSql.toks})) AS BIGINT)
           |         AS n_tokens
           |FROM documents GROUP BY fold ORDER BY fold""".stripMargin))((s, dir) =>
      // Deterministic k-fold cross-validation assignment — p8's 2-way
      // split generalized: fold = rowHash(doc_id) mod 5, so folds are
      // reproducible across engines and reruns (the property RNG folds
      // lose on any reshuffle) and every doc lands in exactly one fold.
      // Emitted as the per-fold balance audit (count + token mass) the
      // CV harness checks before training; the row-level assignment is
      // the same expression inline. One projection + one 5-group
      // aggregate — a single scan at any corpus size.
      Tables(s, dir, "documents")
        .select((Sampling.rowHash(col("doc_id")) % 5).as("fold"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .orderBy("fold")),
    Lane("t19_oov_rate", Some(s"${TextAnalysisSql.oovRate(50)} ORDER BY doc_id"))((s, dir) =>
      // tokenizer-coverage audit vs top-K vocab
      TextAnalysis.oovRate(Tables(s, dir, "documents"), topK = 50)
        .orderBy("doc_id")),
    Lane("t28_vocab_growth", Some(TextAnalysisSql.vocabGrowth(10)))((s, dir) =>
      // Heaps'-law curve: vocab vs corpus
      TextAnalysis.vocabGrowth(Tables(s, dir, "documents"), nBuckets = 10)),
    Lane("t29_zipf_slope", Some(TextAnalysisSql.zipfSlope(100)))((s, dir) =>
      // rank-frequency head fit (Zipf audit)
      TextAnalysis.zipfSlope(Tables(s, dir, "documents"), topK = 100)),
    Lane("t20_token_drift", Some(
        s"${TextAnalysisSql.tokenDrift(batchAPredSql, 50)} ORDER BY token"))((s, dir) =>
      // crawl-over-crawl distribution drift
      TextAnalysis.tokenDrift(Tables(s, dir, "documents"),
        col("source").isin(batchASources: _*), topK = 50).orderBy("token")),
    Lane("t21_unigram_lm", Some(TextAnalysisSql.unigramLm))((s, dir) =>
      // CCNet-style LM cross-entropy score
      TextAnalysis.unigramLmScore(Tables(s, dir, "documents"))
        .orderBy("doc_id")),
    Lane("t32_perplexity_filter", Some(TextAnalysisSql.perplexityFilter(0.5)))((s, dir) =>
      // CCNet head/middle/tail split
      TextAnalysis.perplexityFilter(Tables(s, dir, "documents"))),
    Lane("t33_auc", Some(TextAnalysisSql.aucOfHashedLr(64,
        s"list_contains(${TextAnalysisSql.toks}, 'spark')")))((s, dir) =>
      // exact histogram ROC-AUC of the t16 scorer
      TextAnalysis.aucOfHashedLr(Tables(s, dir, "documents"),
        array_contains(TextAnalysis.tokens(col("text")), "spark"))),
    Lane("t34_calibration", Some(TextAnalysisSql.calibrationOfHashedLr(64,
        s"list_contains(${TextAnalysisSql.toks}, 'spark')", 200)))((s, dir) =>
      // reliability curve of the t16 scorer
      TextAnalysis.calibrationOfHashedLr(Tables(s, dir, "documents"),
        array_contains(TextAnalysis.tokens(col("text")), "spark"))),
    Lane("t40_tfidf_retrieval", Some(TextAnalysisSql.tfidfRetrieval()))((s, dir) =>
      // inverted-index sparse cosine
      // retrieval: quantized-idf integer weights, exact dot/norms
      TextAnalysis.tfidfRetrieval(Tables(s, dir, "documents"))),
    Lane("t41_contamination", Some(DedupSql.contamination(3, 50, 0.5)))((s, dir) =>
      // eval-vs-train n-gram overlap
      // screen: eval shingle set broadcasts, corpus never self-joined
      Dedup.contaminationReport(Tables(s, dir, "documents"))),
    Lane("t42_ngram_novelty", Some(DedupSql.ngramNovelty(3)))((s, dir) =>
      // per-doc first-occurrence
      // n-gram novelty: the corpus-diversity curve (min-doc attribution,
      // one explode, no window, no self-join)
      Dedup.ngramNovelty(Tables(s, dir, "documents"))),
    Lane("t38_zipf", Some(TextAnalysisSql.zipfAudit()))((s, dir) =>
      // quantized-log Zipf rank-frequency fit
      TextAnalysis.zipfAudit(Tables(s, dir, "documents"))),
    Lane("t39_heaps", Some(TextAnalysisSql.heapsAudit()))((s, dir) =>
      // Heaps'-law vocabulary-growth fit
      TextAnalysis.heapsAudit(Tables(s, dir, "documents"))),
    Lane("t43_js_domains", Some(TextAnalysisSql.jsDivergence))((s, dir) =>
      // pairwise Jensen-Shannon between
      // the sources' unigram distributions (absent-mass folded exactly)
      TextAnalysis.jsDivergence(Tables(s, dir, "documents"))),
    Lane("t45_readability", Some(TextAnalysisSql.readability))((s, dir) =>
      // Flesch reading-ease profile:
      // cross-engine-exact counting rules, one narrow projection
      TextAnalysis.readability(Tables(s, dir, "documents"))
        .orderBy("doc_id")),
    Lane("t46_code_detect", Some(TextAnalysisSql.codeDetect()))((s, dir) =>
      // code-vs-prose structural screen:
      // symbol + indent densities, rounded-before-thresholded verdict
      TextAnalysis.codeDetect(Tables(s, dir, "documents"))
        .orderBy("doc_id")),
    Lane("t44_rake", Some(TextAnalysisSql.rake()))((s, dir) =>
      // RAKE keyphrase mining: stopword-run
      // segmentation, deg/freq word scores, tie-broken top-k head
      TextAnalysis.rake(Tables(s, dir, "documents"))),
    Lane("t39_heaps_synth", Some(TextAnalysisSql.heapsSynth()))((s, dir) =>
      // non-degenerate Heaps fit over the
      // deterministic integer-Zipf token stream (beta ~ 1/2 branch)
      TextAnalysis.heapsSynth(Tables(s, dir, "lineitem"))),
    Lane("fe11_cramers_v", Some(FeatureEngSql.cramersV))((s, dir) =>
      // chi-square effect size in [0,1]
      FeatureEng.cramersV(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"))),
    Lane("fe13_vif", Some(FeatureEngSql.vif))((s, dir) => // multicollinearity screen: closed-form
      // 3-variable variance-inflation factors from exact co-moments
      FeatureEng.vif(Tables(s, dir, "lineitem"))),
    Lane("fe12_woe_ntile", Some(FeatureEngSql.woeIvNtile()))((s, dir) =>
      // equal-frequency (decile) WOE/IV via
      // the distributed exact ntile -- no single-partition window
      FeatureEng.woeIvNtile(Tables(s, dir, "orders"))),
    Lane("fe14_pca2", Some(FeatureEngSql.pca2))((s, dir) => // 2-feature covariance eigen split:
      // one-scan exact co-moments, closed quadratic eigenvalues
      FeatureEng.pca2(Tables(s, dir, "lineitem"))),
    Lane("fe15_gini", Some(FeatureEngSql.gini))((s, dir) => // Gini concentration + top-decile share
      // via the distributed exact rank -- no single-partition window
      FeatureEng.gini(Tables(s, dir, "orders"))),
    Lane("fe16_anova", Some(FeatureEngSql.anova))((s, dir) => // one-way ANOVA F + eta^2 across the
      // fixed priority domain: one scan, pivoted exact co-moments
      FeatureEng.anova(Tables(s, dir, "orders"))),
    Lane("fe17_partial_corr", Some(FeatureEngSql.partialCorr))((s, dir) =>
      // confounder screen: residual
      // association per pair once the third feature is partialled out
      FeatureEng.partialCorr(Tables(s, dir, "lineitem"))),
    Lane("fe18_spearman", Some(FeatureEngSql.spearman))((s, dir) => // monotone-association screen:
      // exact average-tie ranks via the distributed global rank,
      // Pearson closed form on the DECIMAL(38,0) rank power sums
      FeatureEng.spearman(Tables(s, dir, "lineitem"))),
    Lane("fe19_xcorr", Some(FeatureEngSql.xcorr()))((s, dir) =>
      // lead-lag screen: lagged Pearson over
      // the zero-filled hourly grid per event-type pair (bounded cells)
      FeatureEng.xcorr(Tables(s, dir, "events"))),
    Lane("t6_shingle_stats",
      Some(s"${TextAnalysisSql.shingleStats(3)} ORDER BY doc_id"))((s, dir) =>
      // the oracle-checked face of shingling
      TextAnalysis.shingleStats(Tables(s, dir, "documents")).orderBy("doc_id")),
    Lane("t7_token_counts", Some(s"${TextAnalysisSql.tokenCounts} ORDER BY doc_id"))((s, dir) =>
      // whitespace + BPE-style pre-tokens
      TextAnalysis.tokenCounts(Tables(s, dir, "documents")).orderBy("doc_id")),
    Lane("t8_pack_sequences", Some(
        s"${TextAnalysisSql.packSequences(512)} ORDER BY doc_id"))((s, dir) =>
      // fixed-token-budget packing
      TextAnalysis.packSequences(Tables(s, dir, "documents"), budget = 512)
        .orderBy("doc_id")),
    Lane("t22_chunk", Some(
        s"${TextAnalysisSql.chunkDocuments(32, 8)} ORDER BY doc_id, chunk_id"))((s, dir) =>
      // overlapping token-window chunking (RAG prep)
      TextAnalysis.chunkDocuments(Tables(s, dir, "documents"),
        chunkSize = 32, overlap = 8).orderBy("doc_id", "chunk_id")),
    Lane("t23_bpe_pairs", Some(TokenizerSql.bpePairCounts(50)))((s, dir) =>
      // BPE training's pair-count stage
      Tokenizer.bpePairCounts(Tables(s, dir, "documents"), topK = 50)),
    Lane("t23_bpe_merges", None)((s, dir) => // iterative BPE merge table; the
      // argmax loop has no SQL twin -> rows-only here; TokenizerSpec gates
      // it against an independent reference trainer, and round 1 must
      // equal the oracle-checked t23_bpe_pairs head
      Tokenizer.bpeTrain(Tables(s, dir, "documents"), nMerges = 8)
        .orderBy("rank")),
    Lane("t27_bpe_encode", None)((s, dir) => { // serve the learned BPE artifact
      // merge list is the bounded trained artifact (8 rows) — loading it
      // driver-side is the PQ-codebook lifecycle, not a corpus collect
      val ms = s.read.parquet(Fixtures.bpeMerges(s, dir))
        .orderBy("rank").collect()
        .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
      Tokenizer.encodeWithMerges(Tables(s, dir, "documents"), ms.toSeq)
        .orderBy("doc_id")
    }),
    // t27_bpe_encode ships rows-only (subword counts depend on the
    // learned merges); this gate row carries the exact-valued
    // roundtrip/bounds invariants plus real corpus counts
    Lane("t27_verify", Some(TokenizerSql.encodeVerify))((s, dir) => {
      // exact gate for t27 (roundtrip +
      // bounds over the same artifact; corpus counts are real oracle
      // values — r8 verdict ask #5)
      val ms = s.read.parquet(Fixtures.bpeMerges(s, dir))
        .orderBy("rank").collect()
        .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
      Tokenizer.encodeVerify(Tables(s, dir, "documents"), ms.toSeq)
    }),
    Lane("t24_bigram_lm", Some(TextAnalysisSql.bigramLm(batchAPredSql)))((s, dir) =>
      // stupid-backoff bigram LM scoring
      TextAnalysis.bigramLmScore(Tables(s, dir, "documents"),
        col("source").isin(batchASources: _*)).orderBy("doc_id")),
    Lane("t30_kneser_ney", Some(TextAnalysisSql.kneserNey(batchAPredSql)))((s, dir) =>
      // interpolated Kneser-Ney bigram LM
      TextAnalysis.kneserNeyScore(Tables(s, dir, "documents"),
        col("source").isin(batchASources: _*)).orderBy("doc_id")),
    // label = a KNOWN lexical rule (doc contains the token "spark"): this
    // synthetic corpus draws every language from ONE shared vocabulary,
    // so `lang` is text-independent and unlearnable — a token-derived
    // label is the honest learnable target, and recovering it proves the
    // trainer end to end (a real corpus swaps in real labels unchanged)
    Lane("t31_lr_train", None)((s, dir) => // in-engine classifier training history
      Training.lrTrainHistory(Tables(s, dir, "documents"),
        array_contains(TextAnalysis.tokens(col("text")), "spark"), dir)
        .orderBy("iter")),
    // t31_lr_train ships rows-only (learned floats are engine-specific);
    // this gate row carries the exact-valued invariants
    Lane("t31_verify", Some(
        s"""SELECT CAST(sum(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_train,
           |       CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_holdout,
           |       TRUE AS loss_monotone, TRUE AS loss_halved,
           |       TRUE AS holdout_acc_ok
           |FROM documents
           |WHERE len(${TextAnalysisSql.toks}) > 0""".stripMargin))((s, dir) =>
      // gates derived from t31's one fit (memo)
      Training.lrVerify(Tables(s, dir, "documents"),
        array_contains(TextAnalysis.tokens(col("text")), "spark"), dir)),
    Lane("t25_dsir", Some(TextAnalysisSql.dsirWeights(dsirTargetPredSql)))((s, dir) =>
      // DSIR importance weights for data selection
      TextAnalysis.dsirWeights(Tables(s, dir, "documents"),
        col("source").isin(dsirTargetSources: _*)).orderBy("doc_id")),
    Lane("pipe4_dsir_select", Some(
        SamplingSql.dsirSelect(dsirTargetPredSql, 25, 8)))((s, dir) =>
      // DSIR select-and-shard workflow
      Sampling.dsirSelect(Tables(s, dir, "documents"),
        col("source").isin(dsirTargetSources: _*), keepPct = 25, nShards = 8)
        .orderBy("shard", "pos")),
    Lane("t8_pack_sharded", Some(
        s"${TextAnalysisSql.packSequencesSharded(512)} ORDER BY doc_id"))((s, dir) =>
      // the per-shard packing plan 100 TB runs
      TextAnalysis.packSequencesSharded(Tables(s, dir, "documents"),
        budget = 512).orderBy("doc_id")),
    Lane("t12_tfidf", Some(TextAnalysisSql.tfidf(tfidfTopK)))((s, dir) =>
      // top terms per doc by tf-idf
      TextAnalysis.tfidfTopTerms(Tables(s, dir, "documents"), topK = tfidfTopK)
        .orderBy("doc_id", "rank")),
    Lane("t13_bm25", Some(TextAnalysisSql.bm25(bm25Query, bm25TopK)))((s, dir) =>
      // Okapi BM25 retrieval over the corpus
      TextAnalysis.bm25(Tables(s, dir, "documents"), bm25Query, topK = bm25TopK)
        .orderBy("rank")),
    Lane("p9_stratified_sample", Some(
        s"""SELECT lang, rank, doc_id, quality FROM (
           |  SELECT d.lang, q.doc_id, q.quality,
           |         row_number() OVER (PARTITION BY d.lang
           |                            ORDER BY q.quality DESC, q.doc_id) AS rank
           |  FROM documents d JOIN (${TextAnalysisSql.qualityScore}) q
           |    ON d.doc_id = q.doc_id)
           |WHERE rank <= 20 ORDER BY lang, rank""".stripMargin))((s, dir) => {
      // Corpus curation: the top-quality documents per language stratum
      // (deterministic tie-break on doc_id) — the shape of a curated
      // fine-tuning subset. Quality is scored in the same scan that
      // carries the stratum key, so the plan is one projection pass plus
      // the window's shuffle on lang.
      import org.apache.spark.sql.expressions.Window
      val scored = TextAnalysis
        .qualityScore(Tables(s, dir, "documents"), keep = Seq("lang"))
        .select(col("lang"), col("doc_id"), col("quality"))
      val w = Window.partitionBy("lang")
        .orderBy(col("quality").desc, col("doc_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 20)
        .select(col("lang"), col("rank"), col("doc_id"), col("quality"))
        .orderBy("lang", "rank")
    }),
    Lane("t10_pii_scrub", Some(s"${TextAnalysisSql.piiScrub} ORDER BY doc_id"))((s, dir) =>
      // PII redaction: counts + scrubbed length
      TextAnalysis.piiScrub(Tables(s, dir, "documents")).orderBy("doc_id")),
    Lane("t11_contamination",
      Some(TextAnalysisSql.contamination("doc_id % 100 = 0", 5)))((s, dir) => {
      // benchmark-contamination scan: every 100th doc stands in for the
      // held-out benchmark; corpus docs sharing any 5-gram are flagged
      val docs = Tables(s, dir, "documents")
      TextAnalysis.contamination(docs, docs.where(col("doc_id") % 100 === 0))
        .orderBy("doc_id")
    }),
    Lane("t9_winnow", None)((s, dir) => // murmur-valued -> rows-only; gated below
      TextAnalysis.winnowFingerprint(Tables(s, dir, "documents"))
        .select(col("doc_id"), size(col("fp")).as("n_fp"),
          element_at(col("fp"), 1).as("fp_first"),
          element_at(col("fp"), -1).as("fp_last"))
        .orderBy("doc_id")),
    Lane("t9_winnow_verify", Some(
        s"""SELECT (SELECT count(*) FROM documents
           |        WHERE len(${TextAnalysisSql.toks}) > 0) AS n_docs,
           |       (SELECT count(*)
           |        FROM (SELECT doc_id, ${DedupSql.norm} AS nrm FROM documents
           |              WHERE len(${TextAnalysisSql.toks}) > 0) a
           |        JOIN (SELECT doc_id, ${DedupSql.norm} AS nrm FROM documents
           |              WHERE len(${TextAnalysisSql.toks}) > 0) b
           |          ON a.nrm = b.nrm AND a.doc_id < b.doc_id) AS n_exact_pairs,
           |       CAST(0 AS BIGINT) AS n_subset_violations,
           |       CAST(0 AS BIGINT) AS n_dup_mismatch""".stripMargin))((s, dir) => {
      // Cross-engine gate for the winnow kernel: fingerprints are
      // position-subsets of their hash sequence, and exact-dup documents
      // fingerprint identically. Counts are real oracle values. One lazy
      // plan (two single-row aggregates cross-joined) — no driver-side
      // actions, and the winnow parameters come from the SAME constants
      // as the t9 query it gates.
      val t = TextAnalysis.tokens(col("text"))
      val hashes = graft.functions.hash_array(
        TextAnalysis.shingles(t, TextAnalysis.winnowShingleN), 0)
      val keyed = Tables(s, dir, "documents").where(size(t) > 0)
        .select(col("doc_id"), TextAnalysis.normalized(col("text")).as("norm"),
          xxhash64(TextAnalysis.normalized(col("text"))).as("nfp"),
          (size(array_except(
            graft.functions.winnow(hashes, TextAnalysis.winnowWindow),
            hashes)) > 0).as("not_subset"),
          graft.functions.winnow(hashes, TextAnalysis.winnowWindow).as("fp"))
      val docAgg = keyed.agg(
        count("*").as("n_docs"),
        coalesce(sum(when(col("not_subset"), 1L).otherwise(0L)), lit(0L))
          .as("n_subset_violations"))
      // exact-pair join keys on the 64-bit fingerprint (narrow exchange);
      // the post-join norm equality drops any hash collision
      val pairAgg = keyed.as("x")
        .join(keyed.as("y"),
          col("x.nfp") === col("y.nfp") && col("x.doc_id") < col("y.doc_id"))
        .where(col("x.norm") === col("y.norm"))
        .agg(
          count("*").as("n_exact_pairs"),
          coalesce(sum(when(col("x.fp") =!= col("y.fp"), 1L).otherwise(0L)),
            lit(0L)).as("n_dup_mismatch"))
      docAgg.crossJoin(pairAgg)
        .select(col("n_docs"), col("n_exact_pairs"),
          col("n_subset_violations"), col("n_dup_mismatch"))
    }),

    // ---- in-engine Naive Bayes: the counting-aggregate trainable model
    // (exactness contract on operators.NaiveBayes) ----
    Lane("t35_nb_model", Some(NaiveBayesSql.model))((s, dir) => // fitted (label, token) model cells
      NaiveBayes.model(Tables(s, dir, "documents"), memoKey = dir)),
    Lane("t36_nb_classify", Some(NaiveBayesSql.apply))((s, dir) => // held-out integer-score argmax
      NaiveBayes(Tables(s, dir, "documents"), memoKey = dir)),
    Lane("t37_nb_eval", Some(NaiveBayesSql.evaluate))((s, dir) => // per-class precision/recall/F1
      NaiveBayes.evaluate(Tables(s, dir, "documents"), memoKey = dir))
  )
}
