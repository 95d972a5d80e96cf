package graft.lanes

import org.apache.spark.sql.functions._

import graft.SparkEntry.defaultP
import graft.operators.{
  Dedup, DedupSql, Multimodal, MultimodalSql, Sampling, SamplingSql, Similarity, SimilaritySql,
  Tables}

/** Deduplication over `documents` (the LLM-pipeline layer). */
object DedupLanes extends LaneFamily("dedup") {
  /** Cross-batch dedup split: "old" corpus batch A vs "new" batch B, by
    * source id (src0..src9 vs src10..src19). */
  private[lanes] val batchASources = (0 to 9).map(i => s"src$i")
  private[lanes] val batchAPredSql = batchASources.map(s => s"'$s'").mkString("source IN (", ", ", ")")

  val lanes: Seq[Lane] = Seq(
    // --- D: deduplication (LLM-pipeline layer)
    Lane("dedup_exact", Some(s"${DedupSql.exactKeepers} ORDER BY doc_id"))((s, dir) =>
      Dedup.exactKeepers(Tables(s, dir, "documents")).orderBy("doc_id")),
    Lane("dedup_bloom_xbatch", Some(
        DedupSql.bloomNewDocs(batchAPredSql, s"NOT $batchAPredSql")))((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.bloomNewDocs(
        docs.where(col("source").isin(batchASources: _*)),
        docs.where(!col("source").isin(batchASources: _*)), defaultP)
        .orderBy("doc_id")
    }),
    Lane("dedup_minhash_lsh", Some(DedupSql.minhashLshPairs(0.8, 3)))((s, dir) =>
      Dedup.minhashLshPairs(Tables(s, dir, "documents")).orderBy("doc_a", "doc_b")),
    Lane("dedup_simhash", None)((s, dir) => // simhash-valued -> rows-only check
      Dedup.simhashPairs(Tables(s, dir, "documents")).orderBy("doc_a", "doc_b")),
    Lane("dedup_simhash_verify", Some(DedupSql.simhashExactDupCheck))((s, dir) =>
      // cross-engine zero-miss gate
      Dedup.simhashExactDupCheck(Tables(s, dir, "documents"))),
    Lane("dedup_jaccard_exact", Some(DedupSql.jaccardAllPairs(0.5, 3)))((s, dir) =>
      // prefix-filtered exact join, θ
      // below the LSH banding sweet spot on purpose — this path is exact
      // at any threshold
      Dedup.jaccardPairsExact(Tables(s, dir, "documents"), threshold = 0.5)
        .orderBy("doc_a", "doc_b")),
    Lane("dedup_containment", Some(DedupSql.containmentAllPairs(0.8, 3)))((s, dir) =>
      // asymmetric subset-dup detector
      Dedup.containmentPairs(Tables(s, dir, "documents"), threshold = 0.8)
        .orderBy("doc_a", "doc_b")),
    Lane("dedup_clusters", Some(DedupSql.nearDupClusters(0.8, 3)))((s, dir) =>
      // connected components over near-dups
      Dedup.nearDupClusters(Tables(s, dir, "documents")).orderBy("doc_id")),
    Lane("p16_leakage_split", Some(DedupSql.leakageSafeSplit(80, 0.8, 3)))((s, dir) =>
      // cluster-aware train/test split
      Dedup.leakageSafeSplit(Tables(s, dir, "documents"))),
    Lane("dedup_keep_best", Some(DedupSql.keepBest(0.8, 3)))((s, dir) =>
      // survivor policy: each near-dup
      // cluster keeps its highest-quality member, not the minimum id
      Dedup.keepBest(Tables(s, dir, "documents"))),
    Lane("dedup_embedding_cos", Some(SimilaritySql.bruteForcePairs(0.4)))((s, dir) =>
      Similarity.bruteForcePairs(Tables(s, dir, "embeddings"), 0.4)
        .orderBy("vec_a", "vec_b")),
    Lane("dedup_semantic", Some(SimilaritySql.semanticDedup(0.4, 50)))((s, dir) =>
      // SemDeDup: cluster-blocked embedding
      // dedup — the scale face of the fenced all-pairs lane above
      Similarity.semanticDedup(Tables(s, dir, "embeddings"), threshold = 0.4)
        .orderBy("vec_id")),
    Lane("pipe1_clean_corpus", Some(DedupSql.cleanCorpus(0.5)))((s, dir) =>
      // composed: quality filter -> dedup
      Dedup.cleanCorpus(Tables(s, dir, "documents"), minQuality = 0.5)
        .orderBy("doc_id")),
    Lane("pipe3_export_corpus", Some(SamplingSql.exportCorpus(64, 50, 8)))((s, dir) =>
      // the composed EXPORT pass:
      // model-score gate -> exact dedup -> temperature mix -> shuffle
      // shards, one plan (each stage keeps its standalone oracle query)
      Sampling.exportCorpus(Tables(s, dir, "documents"))
        .orderBy("shard", "pos")),
    Lane("pipe2_pretrain_corpus",
      Some(DedupSql.pretrainCorpus("doc_id % 100 = 0", 0.5)))((s, dir) => {
      // the full composed pretraining pass: quality -> language ->
      // benchmark decontamination -> exact dedup, one plan (every stage
      // also has its own oracle-checked query; this checks the chain)
      val docs = Tables(s, dir, "documents")
      Dedup.pretrainCorpus(docs, docs.where(col("doc_id") % 100 === 0),
        minQuality = 0.5).orderBy("doc_id")
    }),
    Lane("pipe5_corpus_prep", Some(DedupSql.corpusPrep("doc_id % 100 = 0",
        minQuality = 0.5, threshold = 0.8, shingleN = 3, contamN = 5,
        budget = 512)))((s, dir) => {
      // the corpus-PREP showcase: quality filter -> near-dup KEEP-BEST ->
      // benchmark decontamination -> sequence packing, one composed plan
      // (each stage keeps its standalone oracle; this checks the chain
      // and that the pack layout is computed over exactly the survivors)
      val docs = Tables(s, dir, "documents")
      Dedup.corpusPrep(docs, docs.where(col("doc_id") % 100 === 0))
        .orderBy("doc_id")
    }),
    Lane("mm9_video_neardup", Some(MultimodalSql.videoNearDup()))((s, dir) =>
      // frame-sampled perceptual-hash
      // video dedup: per-frame aHash, stop-frame df cap, shared-hash
      // pair join — the multimodal dedup composition
      Multimodal.videoNearDup(Tables(s, dir, "documents"))),
    Lane("mm10_audio_fp", Some(MultimodalSql.audioFingerprint()))((s, dir) =>
      // constellation audio fingerprinting:
      // landmark hashes over band-energy peaks, offset-histogram vote,
      // df-capped pair join — the audio-modality dedup composition,
      // first lane shipped on the shared Staging recipe
      Multimodal.audioFingerprint(Tables(s, dir, "documents"))),
    Lane("dedup_lsh_tune", Some(DedupSql.lshTune()))((s, dir) =>
      // LSH (bands, rows) planning table:
      // S-curve recall/fp per split, argmax flagged (bloom-geometry
      // pow class; the grid is 8 constant rows)
      Dedup.lshTune(s)),
    Lane("dedup_editdist", Some(DedupSql.editDistancePairs(8, 10, 40, 8, 1024)))((s, dir) =>
      // length-banded bounded edit distance
      Dedup.editDistancePairs(Tables(s, dir, "documents"))
        .orderBy("doc_a", "doc_b")),
    Lane("dedup_editdist_fence", Some(DedupSql.editDistanceFenceReport(8, 1024)))((s, dir) =>
      // the density fence's drop
      // metric: blocks over the cap, membership removed, and the pair
      // bound the fence declined to score (r16, VERDICT r15 ask #3)
      Dedup.editDistanceFenceReport(Tables(s, dir, "documents"))),
    Lane("dedup_fuzzy_names", Some(DedupSql.fuzzyNamePairs(0.94)))((s, dir) =>
      // brand-blocked Jaro-Winkler ER
      Dedup.fuzzyNamePairs(Tables(s, dir, "part"))),
    Lane("dedup_snm", Some(DedupSql.sortedNeighborhoodPairs(4, 40, 2, 10)))((s, dir) =>
      // sorted-neighborhood (sort + sliding window)
      Dedup.sortedNeighborhoodPairs(Tables(s, dir, "documents"))
        .orderBy("doc_a", "doc_b")),
    Lane("dedup_span_rate", Some(DedupSql.dupSpanRate(8)))((s, dir) =>
      // per-doc duplicated n-gram fraction
      Dedup.dupSpanRate(Tables(s, dir, "documents")).orderBy("doc_id")),
    Lane("dedup_snm_multi", Some(DedupSql.sortedNeighborhoodMultipass(4, 40, 2, 10)))((s, dir) =>
      // two-key multi-pass SNM (prefix + suffix)
      Dedup.sortedNeighborhoodMultipass(Tables(s, dir, "documents"))
        .orderBy("doc_a", "doc_b"))
  )
}
