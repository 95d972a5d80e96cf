package graft.lanes

import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, MultimodalSql, Similarity, SimilaritySql, Tables}

/** Multimodal binary-column plumbing and the ORC, zstd and row-group
  * storage round trips. */
object MediaLanes extends LaneFamily("media") {
  val lanes: Seq[Lane] = Seq(
    // --- M: multimodal binary-column plumbing (LLM-pipeline layer;
    // decode is a deterministic stub, the byte plumbing is real)
    Lane("mm1_meta", Some(MultimodalSql.attachMeta))((s, dir) =>
      Multimodal.attachMeta(Multimodal.fromDocuments(Tables(s, dir, "documents")))
        .select(col("media_id"), col("modality"), col("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.channels").as("channels"))
        .orderBy("media_id")),
    Lane("mm2_frame_stats", Some(MultimodalSql.frameStats))((s, dir) =>
      Multimodal.frameStats(Multimodal.fromDocuments(Tables(s, dir, "documents")))
        .orderBy("modality")),
    Lane("mm3_decode_batch", Some(MultimodalSql.decodeBatch))((s, dir) => {
      import s.implicits._
      val media = Multimodal.fromDocuments(Tables(s, dir, "documents"))
        .as[Multimodal.MediaRecord]
      Multimodal.decodeBatch(media)
        .groupBy("modality").agg(
          count("*").as("n"),
          sum(col("meta.width")).as("width_sum"),
          sum(col("meta.height")).as("height_sum"))
        .orderBy("modality")
    }),
    Lane("mm4_features", None)((s, dir) => // hash-derived fake features -> rows-only
      // Scalar reductions of the feature vector, not the raw array: the
      // driver's compare bridge can't sort/hash array-typed columns, so the
      // registered surface is (norm, mean, min, max) — which still forces
      // the full featurize plan to execute.
      Multimodal.featurize(Multimodal.fromDocuments(Tables(s, dir, "documents")))
        .select(col("media_id"), col("modality"), size(col("features")).as("dim"),
          round(sqrt(aggregate(col("features"), lit(0.0d),
            (acc, x) => acc + x * x)), 6).as("f_norm"),
          round(aggregate(col("features"), lit(0.0d), (acc, x) => acc + x)
            / size(col("features")), 6).as("f_mean"),
          round(array_min(col("features")), 6).as("f_min"),
          round(array_max(col("features")), 6).as("f_max"))
        .orderBy("media_id")),
    Lane("mm4_verify", Some(
        s"""SELECT (SELECT count(*) FROM documents) AS n_media,
           |       (SELECT count(*) FROM documents a JOIN documents b
           |          ON a.text = b.text AND a.doc_id < b.doc_id)
           |         AS n_exact_pairs,
           |       CAST(0 AS BIGINT) AS n_dim_violations,
           |       CAST(0 AS BIGINT) AS n_range_violations,
           |       CAST(0 AS BIGINT) AS n_dup_mismatch""".stripMargin))((s, dir) => {
      // Cross-engine gate for the featurize stub (t9_winnow_verify
      // pattern): media count and exact-payload dup pairs are REAL
      // oracle values; the dimension (16), the hash-feature range
      // (mmh3/IntMax ∈ [-1-2⁻³¹, 1]) and payload-dup feature equality
      // are zero-violation gates. Pair join keys on the payload's
      // xxhash64 (narrow) with a post-join byte equality. featurize's
      // keep passthrough carries the payload — no corpus self-join to
      // re-attach it.
      val docs = Tables(s, dir, "documents")
      val media = Multimodal.fromDocuments(docs)
      val keyed = Multimodal.featurize(media, keep = Seq("payload"))
        .withColumn("pfp", xxhash64(col("payload")))
      val docAgg = keyed.agg(
        count("*").as("n_media"),
        coalesce(sum(when(size(col("features")) =!= 16, 1L).otherwise(0L)),
          lit(0L)).as("n_dim_violations"),
        coalesce(sum(when(array_min(col("features")) < -1.0000001
            || array_max(col("features")) > 1.0000001, 1L).otherwise(0L)),
          lit(0L)).as("n_range_violations"))
      val pairAgg = keyed.as("x")
        .join(keyed.as("y"),
          col("x.pfp") === col("y.pfp") && col("x.media_id") < col("y.media_id"))
        .where(col("x.payload") === col("y.payload"))
        .agg(
          count("*").as("n_exact_pairs"),
          coalesce(sum(when(col("x.features") =!= col("y.features"), 1L)
            .otherwise(0L)), lit(0L)).as("n_dup_mismatch"))
      docAgg.crossJoin(pairAgg)
        .select(col("n_media"), col("n_exact_pairs"), col("n_dim_violations"),
          col("n_range_violations"), col("n_dup_mismatch"))
    }),

    // --- O/MM extras: ORC source+sink round trip; resize-crop projection
    Lane("o1_orc_roundtrip", Some(
        "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id"))((s, dir) => {
      val path = Fixtures.docsOrc(s, dir)
      s.read.orc(path).orderBy("doc_id")
    }),
    // top-bigram mass per doc (boilerplate flag)
    Lane("t15_repetition", Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
          |  FROM documents),
          |b AS (SELECT doc_id,
          |             unnest(list_transform(range(1, len(tk)),
          |               i -> tk[i] || ' ' || tk[i + 1])) AS bg
          |      FROM t WHERE len(tk) >= 2),
          |c AS (SELECT doc_id, bg, count(*) AS n FROM b GROUP BY 1, 2)
          |SELECT doc_id, CAST(max(n) AS BIGINT) AS top_bigram,
          |       CAST(sum(n) AS BIGINT) AS n_bigrams,
          |       round(max(n) / sum(n), 6) AS rep_frac
          |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin))((s, dir) => {
      // Gopher-style repetition signal: mass of the most frequent word
      // bigram per document — high values flag boilerplate/spam for the
      // training-data quality gate. Three formulations, fastest wins:
      // the zero-shuffle aggregate() HOF fold runs interpreted lambdas
      // (slowest); explode + two-level hash agg stays in codegen but
      // shuffles every distinct (doc, bigram) pair (r4's choice, 2.9s at
      // sf0.1); the native bigram_stats kernel is ONE narrow projection
      // — per-doc hash map, zero shuffles (equivalence to the explode
      // formulation pinned in TextDedupSpec).
      val t = graft.operators.TextAnalysis.tokens(col("text"))
      Tables(s, dir, "documents")
        .where(size(t) >= 2)
        .select(col("doc_id"), graft.functions.bigram_stats(t).as("bs"))
        .select(col("doc_id"),
          element_at(col("bs"), 1).as("top_bigram"),
          element_at(col("bs"), 2).as("n_bigrams"))
        .withColumn("rep_frac", round(col("top_bigram") / col("n_bigrams"), 6))
        .orderBy("doc_id")
    }),
    // physical path agrees with partition value
    Lane("s4_file_metadata", Some(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n,
          |       TRUE AS path_consistent
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))((s, dir) => {
      // hidden metadata columns (_metadata.file_path): per-row lineage at
      // zero storage cost — at 100 TB this is how a bad shard is traced
      // and re-processed without a lineage sidecar. The gate: every row's
      // physical file path agrees with its hive partition value.
      val path = Fixtures.docsByLangMeta(s, dir)
      s.read.parquet(path)
        .select(col("lang"), col("_metadata.file_path").as("fp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          min(col("fp").contains(concat(lit("lang="), col("lang"))))
            .as("path_consistent"))
        .orderBy("lang")
    }),
    // pruned scan returns exactly the range
    Lane("k6_rowgroup_pruning", Some(
        """SELECT doc_id, lang, n_chars
          |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin))((s, dir) => {
      // storage-side pruning: a selective range predicate over the sorted
      // small-row-group layout — parquet skips non-matching row groups at
      // the footer, so the scan decodes ~selectivity of the file instead
      // of all of it (the rows-read drop vs the scrambled twin is pinned
      // in ParquetPruningSpec; correctness here is the filtered result).
      val path = Fixtures.docsRgSorted(s, dir)
      s.read.parquet(path).where(col("doc_id") < 50)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // codec change is invisible to the data
    Lane("o2_zstd_roundtrip", Some(
        """SELECT doc_id, lang, CAST(length(text) AS INT) AS len
          |FROM documents ORDER BY doc_id""".stripMargin))((s, dir) => {
      // codec control: zstd-compressed parquet round trip (the archival
      // tier codec — denser than snappy at comparable scan cost on modern
      // CPUs; at 100 TB the delta is tens of TB of storage). Correctness
      // is the roundtrip; the spec checks zstd actually shrinks the files.
      val path = Fixtures.docsZstd(s, dir)
      s.read.parquet(path)
        .select(col("doc_id"), col("lang"), length(col("text")).as("len"))
        .orderBy("doc_id")
    }),
    // bounded dims: the only sane Cartesian
    Lane("j8_cross", Some(
        """SELECT r_name, o_orderstatus, CAST(n_orders AS BIGINT) AS n_orders
          |FROM region CROSS JOIN (SELECT o_orderstatus, count(*) AS n_orders
          |                        FROM orders GROUP BY o_orderstatus)
          |ORDER BY r_name, o_orderstatus""".stripMargin))((s, dir) =>
      // explicit controlled Cartesian: both sides are bounded dimension
      // aggregates (5 regions x 5 order-statuses-ish), so the product is
      // provably tiny — the ONLY join shape where a cross join is sane;
      // anything row-count-driven must go through a keyed join
      Tables(s, dir, "region").select(col("r_name"))
        .crossJoin(Tables(s, dir, "orders")
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n_orders")))
        .orderBy("r_name", "o_orderstatus")),
    Lane("mm5_resize", Some(MultimodalSql.resize(128)))((s, dir) =>
      Multimodal.fromDocuments(Tables(s, dir, "documents"))
        .select(col("media_id"), col("modality"),
          octet_length(col("payload")).as("n_bytes"),
          octet_length(Multimodal.resizeCrop(col("payload"), 128))
            .as("resized_bytes"))
        .orderBy("media_id")),
    Lane("mm6_quantize", Some(SimilaritySql.quantizeInt8Stats))((s, dir) =>
      // int8 embedding compression audit
      Similarity.quantizeInt8Stats(Tables(s, dir, "embeddings"))
        .orderBy("vec_id")),
    Lane("mm7_ahash", Some(MultimodalSql.aHash()))((s, dir) =>
      // perceptual average-hash dedup screen
      // over the payload "pixels" (integer-exact, fully oracle-checked)
      Multimodal.aHash(Tables(s, dir, "documents"))),
    Lane("mm8_phash", Some(MultimodalSql.pHash))((s, dir) => // perceptual DCT-hash: integer-exact
      // 8x8 DCT via inlined quantized basis, median-thresholded
      Multimodal.pHash(Tables(s, dir, "documents")))
  )
}
