package graft.lanes

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry.defaultP
import graft.core.BloomFilter
import graft.functions.bloom_might_contain
import graft.operators.{BloomPipeline, FilterStore, Ingest, Layout, LayoutSql, Ratings, Tables}
import Fixture.tmpPath

/** The paper's Bloom pipeline: build, probe and FP statistics, the
  * reference-shaped build and artifact round trips, and the sharded filter
  * (SURVEY §2.2-2.4). */
object BloomLanes extends LaneFamily("bloom") {
  private def bitsPerKey(p: Double): Double =
    -math.log(p) / (math.log(2) * math.log(2))

  private lazy val bpk = f"${bitsPerKey(defaultP)}%.17g"

  /** Slab size for the sharded-bloom queries: small enough that sf0.01
    * groups (~10k keys, ~50k bits) split into ~4 shards. */
  private[lanes] val shardedSlabBits = 16384L

  /** The `(rating, total, hits)` face of a bloom probe over train keys:
    * zero FN makes hits == total, so the oracle predicts both columns. */
  private def probeTotals(stats: DataFrame): DataFrame =
    stats.select(col("rating"), col("total"), col("falsePositives").as("hits"))
      .orderBy("rating")

  val lanes: Seq[Lane] = Seq(
    // --- Bloom pipeline (SURVEY §2.4 A2/A3, §2.3 J1/J2, §2.2 P3/P4)
    Lane("bloom_geometry", Some(
        s"""SELECT rating, n,
           |       CAST(least(${Int.MaxValue.toLong - 8}, greatest(1, ceil(n * $bpk))) AS INT) AS m,
           |       ${BloomFilter.numHashes(defaultP)} AS k
           |FROM (SELECT rating, count(*) AS n FROM ($train) GROUP BY rating)
           |ORDER BY rating""".stripMargin))((s, dir) =>
      BloomPipeline.sized(
        BloomPipeline.linecount(Ratings.trainFromLineitem(s, dir)), defaultP)
        .orderBy("rating")),
    // bloom_filters / bloom_fpstats: hash/bit-valued, not SQL-expressible
    // (SURVEY.md §7.4.3) -> driver rows-only check; invariants covered by
    // bloom_zero_fn + PipelineSpec/statistical e2e.
    Lane("bloom_filters", None)((s, dir) =>
      BloomPipeline.buildFilters(Ratings.trainFromLineitem(s, dir), defaultP)
        .orderBy("rating")),
    Lane("bloom_fpstats", None)((s, dir) =>
      BloomPipeline.endToEnd(
        Ratings.trainFromLineitem(s, dir),
        Ratings.testFromLineitem(s, dir), defaultP).orderBy("rating")),
    Lane("bloom_probe_totals", Some(
        s"""SELECT rating, count(*) AS total, count(*) AS hits FROM ($train)
           |GROUP BY rating ORDER BY rating""".stripMargin))((s, dir) => {
      // A REAL probe with an exact oracle: probe the train keys against
      // their own filters. Zero-false-negatives guarantees hits == total,
      // so DuckDB can predict both columns from plain group counts — while
      // the Spark plan still executes the full build + bloom_might_contain
      // probe path (the `hit` column forces it; nothing prunes away).
      //
      // COGROUP formulation (r14): every join-shaped probe pays a hidden
      // per-row memcpy — codegen's getBinary copies the joined bitset
      // for EACH probe row (measured at sf5: 403s unsharded join, 1072s
      // slab join, 3.1s collected broadcast). fpStatsSharded extracts
      // each slab's bits once per cogroup and probes the iterator through
      // the same core kernel — distributed, no driver artifact, per-probe
      // cost back to k hashes.
      val train = Ratings.trainFromLineitem(s, dir)
      val filters = BloomPipeline.buildShardedFilters(train, defaultP)
      probeTotals(BloomPipeline.fpStatsSharded(train, filters))
    }),
    Lane("bloom_zero_fn", Some("SELECT CAST(0 AS BIGINT) AS false_negatives"))((s, dir) => {
      // The hard invariant, as a cross-engine oracle: probing every train
      // key against its own group's filter can NEVER miss. Probes through
      // the collected broadcast artifact (the reference testers' shape).
      val train = Ratings.trainFromLineitem(s, dir)
      val bc = BloomPipeline.broadcastFilters(train, defaultP)
      train.select(
          graft.functions.bloom_probe_groups(bc, col("rating"), col("movieId")).as("hit"))
        .agg(sum(when(col("hit"), 0L).otherwise(1L)).as("false_negatives"))
    }),

    // --- A2/K/S leftovers: reference-shaped build equivalence, filter
    // persist+reload round-trip, text sink round-trip, TSV ingest
    Lane("a2_indexed_equiv", Some("SELECT CAST(0 AS BIGINT) AS mismatched"))((s, dir) => {
      // Cross-formulation invariant: the reference-shaped explicit-index
      // build must produce byte-identical filters to the fused aggregator.
      val train = Ratings.trainFromLineitem(s, dir)
      val fused = BloomPipeline.buildFilters(train, defaultP)
        .select(col("rating"), col("bits").as("bits_fused"))
      val indexed = BloomPipeline.buildFiltersIndexed(train, defaultP)
        .select(col("rating"), col("bits").as("bits_indexed"))
      fused.join(indexed, "rating")
        .agg(sum(when(col("bits_fused") === col("bits_indexed"), 0L).otherwise(1L))
          .as("mismatched"))
    }),
    Lane("bloom_reload_probe", Some(
        s"""SELECT rating, count(*) AS total, count(*) AS hits FROM ($train)
           |GROUP BY rating ORDER BY rating""".stripMargin))((s, dir) => {
      // Reference lifecycle S3/S4+K2/K3: build -> persist artifact ->
      // reload -> probe. hits == total by zero-FN, so fully oracle-checked.
      // The artifact is a write-once fixture (Bench materializes it in the
      // untimed setup pass), so the timed region is reload + probe — the
      // capability this query names. The reload mirrors the reference
      // testers exactly: load the persisted filters driver-side, ship once
      // per worker, probe as a projection.
      val train = Ratings.trainFromLineitem(s, dir)
      val path = Fixtures.filters(s, dir)
      val bc = s.sparkContext.broadcast(
        BloomPipeline.collectFilters(FilterStore.load(s, path)))
      probeTotals(BloomPipeline.fpStatsCollected(train, bc))
    }),
    // zero-FN through the SequenceFile artifact
    Lane("bloom_seqfile_reload", Some(
        s"""SELECT rating, count(*) AS total, count(*) AS hits FROM ($train)
           |GROUP BY rating ORDER BY rating""".stripMargin))((s, dir) => {
      // S3/K2 LITERAL-format parity: the same reload -> probe lifecycle
      // as bloom_reload_probe, but through the reference's own Hadoop
      // SequenceFile artifact instead of the production Parquet one.
      // hits == total by zero-FN, so fully oracle-checked.
      val train = Ratings.trainFromLineitem(s, dir)
      val path = Fixtures.filtersSeq(s, dir)
      val bc = s.sparkContext.broadcast(
        BloomPipeline.collectFilters(FilterStore.loadSequenceFile(s, path)))
      probeTotals(BloomPipeline.fpStatsCollected(train, bc))
    }),
    // zero-FN: every routed train probe hits
    Lane("bloom_sharded_reload", Some(
        s"""SELECT rating, count(*) AS total, count(*) AS hits FROM ($train)
           |GROUP BY rating ORDER BY rating""".stripMargin))((s, dir) => {
      // The 100 TB lifecycle: sharded build -> persist slab artifact ->
      // reload -> route -> probe (slabs may be too many to collect OR to
      // broadcast, so the probe is the cogroup shape of
      // BloomPipeline.fpStatsSharded — r15). hits == total by zero-FN on
      // the train split, so fully oracle-checked.
      val train = Ratings.trainFromLineitem(s, dir)
      val path = Fixtures.shardedFilters(s, dir)
      probeTotals(BloomPipeline.fpStatsSharded(train, FilterStore.load(s, path)))
    }),
    // quoted/escaped CSV survives the round trip
    Lane("k5_csv_roundtrip", Some(
        """SELECT doc_id, lang,
          |       chr(34) || 'q' || chr(34) || ', ' || chr(10) || text AS text
          |FROM documents ORDER BY doc_id""".stripMargin))((s, dir) => {
      // CSV sink with real quoting/escaping (commas, quotes, newlines in
      // document text survive), then read back with an explicit schema and
      // multiLine — the lossless interchange path the raw text sink (K1)
      // can't provide. multiLine costs split-parallelism on read (quoted
      // newlines defeat line-splitting), so it's the archival/interchange
      // sink, not the hot ingest path.
      val path = Fixtures.docsCsv(s, dir)
      val src = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          concat(lit("\"q\", \n"), col("text")).as("text"))
      s.read.schema(src.schema)
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .csv(path)
        .orderBy("doc_id")
    }),
    Lane("k1_text_roundtrip", Some(
        s"SELECT rating, count(*) AS n FROM ($li) GROUP BY rating ORDER BY rating"))((s, dir) => {
      // K1 text sink + K4 single-file merge + P6 format-project + re-scan:
      // linecount formatted as "rating\tn" text lines (the reference's
      // count-number-of-keys.py:37 output shape), merged to one file,
      // read back and re-parsed.
      val path = tmpPath(dir, "linecount_txt")
      BloomPipeline.linecount(Ratings.fromLineitem(s, dir))
        .select(format_string("%d\t%d", col("rating"), col("n")).as("value"))
        .coalesce(1).write.mode("overwrite").text(path)
      s.read.text(path)
        .select(split(col("value"), "\t").as("f"))
        .select(col("f").getItem(0).cast("int").as("rating"),
          col("f").getItem(1).cast("bigint").as("n"))
        .orderBy("rating")
    }),
    // the fixture breaks exactly the %50 lines
    Lane("s5_json_malformed", Some(
        """SELECT doc_id, lang, n_chars FROM documents
          |WHERE doc_id % 50 <> 0 ORDER BY doc_id""".stripMargin))((s, dir) => {
      // §2.6 for the JSONL corpus lane: PERMISSIVE + _corrupt_record,
      // corrupt count observed on the same job, clean rows returned.
      // The oracle knows which lines the fixture broke (doc_id % 50).
      val path = Fixtures.docsJsonlDirty(s, dir)
      Ingest.readDocsJsonObserved(s, path,
          new org.apache.spark.sql.Observation())
        .orderBy("doc_id")
    }),
    // gen=1 predates n_chars -> null-filled
    Lane("s6_schema_evolution", Some(
        """SELECT CAST(1 + doc_id % 2 AS BIGINT) AS gen, count(*) AS n,
          |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
          |         AS BIGINT) AS n_with_chars,
          |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END)
          |         AS BIGINT) AS total_chars
          |FROM documents GROUP BY 1 ORDER BY gen""".stripMargin))((s, dir) => {
      // Schema evolution at the source: two dataset generations written
      // with different schemas (gen=1 predates n_chars) read back in ONE
      // mergeSchema scan — the 100 TB reality where years of files
      // differ. Partition discovery supplies `gen`; the missing column
      // null-fills, and the rollup proves both the union and the fill
      // (non-null counts only on gen=2). mergeSchema costs one footer
      // read per file at planning — at real scale the merged schema
      // lives in a catalog and the per-file cost disappears.
      val path = Fixtures.docsEvolved(s, dir)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("gen").cast("long").as("gen"))
        .agg(count(lit(1)).as("n"),
          count(col("n_chars")).as("n_with_chars"),
          sum("n_chars").as("total_chars"))
        .orderBy("gen")
    }),
    Lane("s2_jsonl_ingest", Some(
        "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id"))((s, dir) => {
      // JSONL sink + scan round trip — the fourth corpus format next to
      // parquet (Tables), TSV (s1) and text (k1); schema-explicit read so
      // no inference pass at scale
      import org.apache.spark.sql.types._
      val path = Fixtures.docsJsonl(s, dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(path).orderBy("doc_id")
    }),
    // k8: the rewrite preserves the row set and shrinks the file count
    Lane("k9_zorder", Some(LayoutSql.zorderManifest(16, 8)))((s, dir) =>
      // multi-dim clustering manifest (OPTIMIZE
      // ZORDER planning face; write path = repartitionByRange over zval)
      Layout.zorderManifest(Tables(s, dir, "lineitem")).orderBy("file_id")),
    Lane("k10_hilbert", Some(LayoutSql.hilbertManifest(16, 8)))((s, dir) =>
      // Hilbert-curve clustering: k9's manifest
      // with the jump-free curve (liquid-clustering trade; see Layout)
      Layout.hilbertManifest(Tables(s, dir, "lineitem")).orderBy("file_id")),
    Lane("k11_skip_stats", Some(LayoutSql.skipStats(16, 8)))((s, dir) =>
      // files a pruned band scan touches
      // under linear/zorder/hilbert at the same file budget (see Layout)
      Layout.skipStats(Tables(s, dir, "lineitem"))),
    Lane("k8_compact", Some(("SELECT TRUE AS files_reduced, TRUE AS rows_match, "
        + "CAST(count(*) AS BIGINT) AS n_rows FROM documents")))((s, dir) => {
      // Small-files compaction — the table-maintenance op every long-run
      // ingest needs (streaming sinks and per-batch appends fragment a
      // table into thousands of tiny files whose open/footer cost
      // eventually dominates scans). The rewrite IS the measured
      // capability: read the fragmented layout, coalesce to the target
      // file count, prove the row set survived and the file count fell.
      // At 100 TB the same plan runs per partition with the target count
      // derived from bytes/targetFileSize.
      val frag = s.read.parquet(Fixtures.docsFragmented(s, dir))
      val before = frag.agg(
        countDistinct(col("_metadata.file_path")).as("files_before"),
        count("*").as("rows_before"))
      // PID-scoped like the st9/st11 sinks: this query READS its own sink
      // back, so two JVMs over the same dir (bench + verify) must not
      // clobber each other's rewrite mid-scan
      val outPath = tmpPath(dir,
        s"docs_compacted_${java.lang.ProcessHandle.current().pid()}")
      frag.repartition(4).write.mode("overwrite").parquet(outPath)
      val after = s.read.parquet(outPath).agg(
        countDistinct(col("_metadata.file_path")).as("files_after"),
        count("*").as("rows_after"))
      before.crossJoin(after).select(
        (col("files_before") > col("files_after")).as("files_reduced"),
        (col("rows_before") === col("rows_after")).as("rows_match"),
        col("rows_after").as("n_rows"))
    }),
    Lane("k3_range_sink", Some(
        """SELECT TRUE AS files_in_range, count(*) AS n_rows,
          |       CAST(0 AS BIGINT) AS range_overlaps FROM documents""".stripMargin))((s, dir) => {
      // Range-partitioned sorted layout — globally ordered training
      // shards: repartitionByRange gives disjoint key ranges per file,
      // sortWithinPartitions orders inside each. The invariants (4
      // files, disjoint [min,max] ranges, full row count) are checked
      // from the files themselves via input_file_name().
      import org.apache.spark.sql.expressions.Window
      val path = tmpPath(dir, "docs_range")
      Tables(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(path)
      val byFile = s.read.parquet(path)
        .select(col("doc_id"), input_file_name().as("f"))
        .groupBy("f").agg(count("*").as("n"),
          min("doc_id").as("lo"), max("doc_id").as("hi"))
      byFile
        .withColumn("prev_hi", lag("hi", 1).over(Window.orderBy("lo")))
        .agg(
          // structural invariant: between 1 and 4 files (empty range
          // partitions write no file, so exactly-4 is data-dependent)
          (count("*").between(1, 4)).as("files_in_range"),
          sum("n").as("n_rows"),
          coalesce(sum(when(col("prev_hi") >= col("lo"), 1L).otherwise(0L)),
            lit(0L)).as("range_overlaps"))
    }),
    Lane("k2_partitioned_sink", Some(
        """SELECT lang, count(*) AS n,
          |       CAST(sum(n_chars) AS BIGINT) AS total_chars
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))((s, dir) => {
      // Hive-style partitioned layout — the training-shard sink: one
      // directory per lang, rows sorted by doc_id inside each file so
      // shard readers stream in key order. Read back through partition
      // discovery; partition pruning on lang is now free for consumers.
      val path = tmpPath(dir, "docs_by_lang")
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(col("lang"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").partitionBy("lang").parquet(path)
      s.read.parquet(path)
        .groupBy("lang").agg(count("*").as("n"), sum("n_chars").as("total_chars"))
        .orderBy("lang")
    }),
    Lane("s3_split_sizing", Some(
        """SELECT count(*) AS n_rows, TRUE AS multi_split
          |FROM lineitem WHERE l_quantity >= 2.5""".stripMargin))((s, dir) => {
      // S2 (NLine split sizing) made concrete: a line-based text source
      // splits at byte boundaries, so shrinking maxPartitionBytes fans
      // the scan out across tasks — the knob that balances 100 TB of
      // text across executors. Executed inside the conf scope (restored
      // after); oracle checks the row count and the >1-split invariant.
      val path = Fixtures.splitTsv(s, dir)
      val prev = s.conf.getOption("spark.sql.files.maxPartitionBytes")
      s.conf.set("spark.sql.files.maxPartitionBytes", (32 * 1024).toString)
      try {
        val agg = s.read.text(path)
          .select(spark_partition_id().as("pid"))
          .agg(count("*").as("n"), countDistinct("pid").as("p")).head()
        import s.implicits._
        Seq((agg.getLong(0), agg.getLong(1) > 1L)).toDF("n_rows", "multi_split")
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxPartitionBytes", v)
        case None => s.conf.unset("spark.sql.files.maxPartitionBytes")
      }
    }),
    Lane("s1_tsv_ingest", Some(s"SELECT * FROM ($li) ORDER BY movieId"))((s, dir) => {
      // S1 TSV scan + F1/F2/F3 parse/cast/round: materialize the ratings
      // TSV shape (movieId, averageRating, numVotes) from lineitem, then
      // ingest it through the reference-parity reader.
      val path = Fixtures.ratingsTsv(s, dir)
      Ingest.readRatingsTsv(s, path).orderBy("movieId")
    }),

    // --- Sharded bloom (the 100 TB shape; slab size forced small here so
    // even sf0.01 groups split into multiple shards and the routing is
    // genuinely exercised)
    Lane("bloom_sharded_geometry", Some(
        s"""SELECT rating, n, s,
           |       CAST(least(${Int.MaxValue.toLong - 8}, greatest(1,
           |         ceil(ceil(n / CAST(s AS DOUBLE)) * $bpk))) AS INT) AS m,
           |       ${BloomFilter.numHashes(defaultP)} AS k
           |FROM (SELECT rating, n,
           |        CAST(greatest(1, ceil(ceil(n * $bpk) / $shardedSlabBits.0)) AS INT) AS s
           |      FROM (SELECT rating, count(*) AS n FROM ($train) GROUP BY rating))
           |ORDER BY rating""".stripMargin))((s, dir) =>
      BloomPipeline.shardedSized(
        BloomPipeline.linecount(Ratings.trainFromLineitem(s, dir)),
        defaultP, maxSlabBits = shardedSlabBits).orderBy("rating")),
    Lane("bloom_sharded_zero_fn", Some("SELECT CAST(0 AS BIGINT) AS false_negatives"))((s, dir) => {
      val train = Ratings.trainFromLineitem(s, dir)
      val filters = BloomPipeline.buildShardedFilters(train, defaultP, shardedSlabBits)
      val geometry = filters.select("rating", "s", "m", "k").distinct()
      train.join(broadcast(geometry), "rating")
        .withColumn("shard",
          pmod(graft.functions.mmh3(col("movieId"), BloomPipeline.routeSeed), col("s")))
        .join(filters.select("rating", "shard", "bits"), Seq("rating", "shard"))
        .select(bloom_might_contain(col("bits"), col("m"), col("k"), col("movieId")).as("hit"))
        .agg(sum(when(col("hit"), 0L).otherwise(1L)).as("false_negatives"))
    }),
    Lane("bloom_sharded_fpstats", None)((s, dir) => // bit-valued internals -> rows-only
      // COGROUP FP face (r15): the per-rating (fp, total, rate) output on
      // the probe shape whose per-probe cost stays k hashes at any slab
      // size (a join-form slab probe's per-row getBinary memcpy priced at
      // 1071.8s for 8 MB slabs in the r14 sf5 campaign)
      BloomPipeline.fpStatsSharded(
        Ratings.testFromLineitem(s, dir),
        BloomPipeline.buildShardedFilters(
          Ratings.trainFromLineitem(s, dir), defaultP, shardedSlabBits))
        .orderBy("rating")),
    // sketch sizing inside the fixed envelope
    Lane("bloom_approx_geometry", Some(
        s"""SELECT count(DISTINCT rating) AS groups,
           |       CAST(0 AS BIGINT) AS envelope_violations FROM ($train)""".stripMargin))((s, dir) => {
      // The SURVEY §2.4 sizing substitution, gated: geometry from the HLL
      // sketch (approx_count_distinct × headroom) must land within a fixed
      // envelope of the exact-count geometry — [0.8, 1.35] covers the
      // sketch's ±3·rsd band plus the 1.1 headroom by construction. Group
      // count is the real oracle value; violations the invariant. At
      // 100 TB the approx pass sizes by DISTINCT keys (what a filter
      // actually holds) at fixed sketch memory.
      val train = Ratings.trainFromLineitem(s, dir)
      val exact = BloomPipeline.sized(BloomPipeline.linecount(train), defaultP)
        .select(col("rating"), col("m").as("m_exact"))
      val approx = BloomPipeline.sizedApprox(train, defaultP)
        .select(col("rating"), col("m").as("m_approx"))
      exact.join(approx, "rating")
        .agg(count("*").as("groups"),
          sum(when((col("m_approx").cast("double") / col("m_exact"))
            .between(0.8, 1.35), 0L).otherwise(1L)).as("envelope_violations"))
    }),
    // FP-rate bound gates: the observed per-group FPP of a filter sized for
    // p must stay under 2p (the test splits are key-disjoint from train, so
    // every hit is a false positive; at sf0.01 group sizes the binomial
    // 6-sigma band around p=0.05 is ±0.03, well inside the 2x margin).
    // Group count is a real oracle value; violations is the invariant.
    // groups = test ratings that ALSO have a train-built filter (the
    // probe inner-joins on rating, so a test-only rating contributes no
    // group; the intersect keeps the gate scale-robust)
    Lane("bloom_fp_bound", Some(
        s"""SELECT CAST(count(DISTINCT rating) AS BIGINT) AS groups,
           |       CAST(0 AS BIGINT) AS violations FROM ($test)
           |WHERE rating IN (SELECT rating FROM ($train))""".stripMargin))((s, dir) =>
      BloomPipeline.endToEnd(
        Ratings.trainFromLineitem(s, dir),
        Ratings.testFromLineitem(s, dir), defaultP)
        .agg(count("*").as("groups"),
          sum(when(col("fpRate") > defaultP * 2, 1L).otherwise(0L))
            .as("violations"))),
    Lane("bloom_sharded_fp_bound", Some(
        s"""SELECT CAST(count(DISTINCT rating) AS BIGINT) AS groups,
           |       CAST(0 AS BIGINT) AS violations FROM ($test)
           |WHERE rating IN (SELECT rating FROM ($train))""".stripMargin))((s, dir) =>
      // the green FP-bound gate rides the COGROUP face (r15), the
      // scale-safe sharded probe
      BloomPipeline.fpStatsSharded(
        Ratings.testFromLineitem(s, dir),
        BloomPipeline.buildShardedFilters(
          Ratings.trainFromLineitem(s, dir), defaultP, shardedSlabBits))
        .agg(count("*").as("groups"),
          sum(when(col("fpRate") > defaultP * 2, 1L).otherwise(0L))
            .as("violations")))
  )
}
