package graft.lanes

import org.apache.spark.sql.functions._

import graft.Config
import graft.operators.{Similarity, SimilaritySql, Tables, TextAnalysis, TextAnalysisSql}
import graft.operators.Similarity.{ExactCos, Ivf, OneList, PqAdc, Sq8Cos}
import TextLanes.bm25Query

/** Similarity search over `embeddings`: exact and approximate top-k,
  * re-ranking and fusion. */
object SimilarityLanes extends LaneFamily("similarity") {
  /** Similarity query set: every 50th vector. */
  private val simQueryPredSql = "vec_id % 50 = 0"
  private val simK = 5

  /** MMR rerank: candidate pool size, picks, relevance weight. */
  private val mmrN = 25
  private val mmrLambda = 0.7

  val lanes: Seq[Lane] = Seq(
    // --- V: similarity search over embeddings (LLM-pipeline layer)
    Lane("sim_topk", Some(SimilaritySql.bruteForceTopK(simQueryPredSql, simK)))((s, dir) =>
      Similarity.bruteForceTopK(Tables(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, simK).orderBy("query_id", "rank")),
    Lane("sim_knn_classify", Some(SimilaritySql.knnClassify(simQueryPredSql, simK)))((s, dir) =>
      // kNN majority-vote label eval
      Similarity.knnClassify(Tables(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, simK)),
    Lane("sim_ann_lsh", None)((s, dir) => // approximate by design -> rows-only check
      Similarity.annTopK(Tables(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, simK).orderBy("query_id", "rank")),
    Lane("sim_ann_ivf", None)((s, dir) => // approximate by design -> rows-only check
      Similarity.indexTopK(Tables(s, dir, "embeddings"), col("vec_id") % 50 === 0,
        simK, Ivf(), ExactCos).orderBy("query_id", "rank")),
    // Recall gates for the ANN paths: counts are real oracle values,
    // recall_ok the cross-engine invariant (seed-deterministic recall on
    // the random-unit-vector testdata measures 0.46/0.48 for LSH/IVF —
    // and 0.48 for IVF×SQ8 at sf0.01: scalar quantization's ~1e-2 per-dim
    // error costs NO recall vs raw IVF, the point of the lane — and
    // 0.72/0.56 for PQ at sf0.01/sf0.1, floor 0.25; the IVF×PQ composition
    // measures 0.48/0.35 — coarse pruning stacks on quantization loss —
    // and its residual variant 0.42/0.295 (residuals only tighten when
    // lists are clustered; this testdata is near-uniform — the clustered
    // case is pinned in SimilaritySpec); floor 0.2).
    Lane("sim_ann_lsh_recall", Some(SimilaritySql.recallGate(simQueryPredSql, simK)))((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.recallVsExact(emb,
        Similarity.annTopK(emb, col("vec_id") % 50 === 0, simK),
        col("vec_id") % 50 === 0, simK, floor = 0.25)
    }),
    Lane("sim_ann_ivf_recall", Some(SimilaritySql.recallGate(simQueryPredSql, simK)))((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.recallVsExact(emb,
        Similarity.indexTopK(emb, col("vec_id") % 50 === 0, simK, Ivf(), ExactCos),
        col("vec_id") % 50 === 0, simK, floor = 0.25)
    }),
    Lane("sim_ann_sq8", None)((s, dir) => // approximate by design -> rows-only check
      // IVF lists scored in the 4x-compressed scalar-quantized domain;
      // no trained artifact (per-vector scale), unlike the PQ lanes
      Similarity.indexTopK(Tables(s, dir, "embeddings"), col("vec_id") % 50 === 0,
        simK, Ivf(), Sq8Cos).orderBy("query_id", "rank")),
    Lane("sim_ann_sq8_recall", Some(SimilaritySql.recallGate(simQueryPredSql, simK)))((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.recallVsExact(emb,
        Similarity.indexTopK(emb, col("vec_id") % 50 === 0, simK, Ivf(), Sq8Cos),
        col("vec_id") % 50 === 0, simK, floor = 0.25)
    }),
    Lane("sim_ann_pq", None)((s, dir) => { // approximate by design -> rows-only check
      // PQ training/encode shuffles are tiny (n·m rows, m·ksub groups) —
      // right-size their partition count in a child session, like the
      // streaming state stores
      val c = Config.child(s, "spark.sql.shuffle.partitions" -> "8")
      val cb = Similarity.loadPqCodebook(c, Fixtures.pqCodebook(c, dir))
      Similarity.indexTopK(Tables(c, dir, "embeddings"),
        col("vec_id") % 50 === 0, simK, OneList, PqAdc(cb))
        .orderBy("query_id", "rank")
    }),
    Lane("sim_ann_pq_recall", Some(SimilaritySql.recallGate(simQueryPredSql, simK)))((s, dir) => {
      val c = Config.child(s, "spark.sql.shuffle.partitions" -> "8")
      val emb = Tables(c, dir, "embeddings")
      val cb = Similarity.loadPqCodebook(c, Fixtures.pqCodebook(c, dir))
      Similarity.recallVsExact(emb,
        Similarity.indexTopK(emb, col("vec_id") % 50 === 0, simK, OneList, PqAdc(cb)),
        col("vec_id") % 50 === 0, simK, floor = 0.25)
    }),
    Lane("sim_ann_ivfpq", None)((s, dir) => { // approximate by design -> rows-only
      // IVF restricts the lists scanned, PQ scores inside a list — the
      // production ANN composition; small-shuffle child session like pq
      val c = Config.child(s, "spark.sql.shuffle.partitions" -> "8")
      val cb = Similarity.loadPqCodebook(c, Fixtures.pqCodebook(c, dir))
      Similarity.indexTopK(Tables(c, dir, "embeddings"),
        col("vec_id") % 50 === 0, simK, Ivf(), PqAdc(cb))
        .orderBy("query_id", "rank")
    }),
    Lane("sim_ann_ivfpq_recall",
      Some(SimilaritySql.recallGate(simQueryPredSql, simK)))((s, dir) => {
      val c = Config.child(s, "spark.sql.shuffle.partitions" -> "8")
      val emb = Tables(c, dir, "embeddings")
      val cb = Similarity.loadPqCodebook(c, Fixtures.pqCodebook(c, dir))
      Similarity.recallVsExact(emb,
        Similarity.indexTopK(emb, col("vec_id") % 50 === 0, simK, Ivf(), PqAdc(cb)),
        col("vec_id") % 50 === 0, simK, floor = 0.2)
    }),
    Lane("sim_ann_ivfpq_res", None)((s, dir) => { // approximate by design -> rows-only
      // residual-encoded IVF×PQ (the FAISS-default refinement): codes
      // spend the codebook on the within-list residual distribution;
      // the codebook loads from the offline TRAIN artifact, like ivfpq
      val c = Config.child(s, "spark.sql.shuffle.partitions" -> "8")
      val cb = Similarity.loadPqCodebook(c, Fixtures.pqCodebookRes(c, dir))
      Similarity.indexTopK(Tables(c, dir, "embeddings"), col("vec_id") % 50 === 0,
        simK, Ivf(), PqAdc(cb, residual = true))
        .orderBy("query_id", "rank")
    }),
    Lane("sim_ann_ivfpq_res_recall",
      Some(SimilaritySql.recallGate(simQueryPredSql, simK)))((s, dir) => {
      val c = Config.child(s, "spark.sql.shuffle.partitions" -> "8")
      val emb = Tables(c, dir, "embeddings")
      val cb = Similarity.loadPqCodebook(c, Fixtures.pqCodebookRes(c, dir))
      Similarity.recallVsExact(emb,
        Similarity.indexTopK(emb, col("vec_id") % 50 === 0, simK,
          Ivf(), PqAdc(cb, residual = true)),
        col("vec_id") % 50 === 0, simK, floor = 0.2)
    }),
    Lane("sim_mmr_rerank", None)((s, dir) => // greedy selection -> rows-only +
      // exact gate below (scale posture on Similarity.mmrRerank)
      Similarity.mmrRerank(Tables(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, mmrN, simK, mmrLambda)
        .orderBy("query_id", "mmr_rank")),
    Lane("sim_mmr_verify", Some(SimilaritySql.mmrVerify(simQueryPredSql)))((s, dir) =>
      Similarity.mmrVerify(Tables(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, mmrN, simK, mmrLambda)),
    // same two rankers, same 1/(60+rank) fusion
    Lane("sim_rrf_fusion", Some(
        s"""WITH lex AS (SELECT doc_id, rank AS lex_rank
           |             FROM (${TextAnalysisSql.bm25(bm25Query, 20)})),
           |vec AS (SELECT neighbor_id AS doc_id, rank AS vec_rank
           |        FROM (${SimilaritySql.bruteForceTopK("vec_id = 0", 20)}))
           |SELECT rank, doc_id, lex_rank, vec_rank, rrf FROM (
           |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
           |         l.lex_rank, v.vec_rank,
           |         round(coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0)
           |               + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), 0), 6)
           |           AS rrf,
           |         row_number() OVER (
           |           ORDER BY round(coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0)
           |             + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), 0), 6) DESC,
           |             coalesce(l.doc_id, v.doc_id)) AS rank
           |  FROM lex l FULL JOIN vec v ON v.doc_id = l.doc_id)
           |WHERE rank <= 10 ORDER BY rank""".stripMargin))((s, dir) => {
      // Hybrid retrieval — reciprocal-rank fusion (Cormack et al. 2009)
      // of the lexical and vector rankers the engine already owns: BM25
      // top-20 for the fixed term query (t13's exact plan) fused with
      // cosine top-20 around query vector 0 (sim_topk's plan; any
      // sim_ann_* path substitutes at scale) by
      // score(d) = Σ 1/(60 + rank_i(d)). Rank fusion needs no score
      // calibration between heterogeneous rankers — that robustness is
      // why RAG stacks default to it. Shape: two top-k relations (each
      // already bounded) FULL-OUTER joined on the shared doc/vec id
      // space, one bounded sort. doc_id and vec_id are aligned by
      // construction in the testdata (TESTDATA.md).
      import org.apache.spark.sql.expressions.Window
      val lex = TextAnalysis.bm25(Tables(s, dir, "documents"), bm25Query,
        topK = 20).select(col("doc_id"), col("rank").as("lex_rank"))
      val vec = Similarity.bruteForceTopK(Tables(s, dir, "embeddings"),
        col("vec_id") === 0, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rank"))
      val w = Window.orderBy(col("rrf").desc, col("doc_id"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
        .select("rank", "doc_id", "lex_rank", "vec_rank", "rrf")
        .orderBy("rank")
    })
  )
}
