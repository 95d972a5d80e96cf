package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.BloomFilter
import graft.functions.bloom_might_contain
import graft.operators.{AsOf, BloomPipeline, Bucketing, Dedup, DedupSql, FeatureEng, FeatureEngSql, FilterStore, Graph, GraphSql, Ingest, Kmv, KmvSql, Layout, LayoutSql, Multimodal, MultimodalSql, NaiveBayes, NaiveBayesSql, Privacy, PrivacySql, RangeJoin, Ranks, Ratings, Sampling, SamplingSql, Similarity, SimilaritySql, Skew, Tables, TextAnalysis, TextAnalysisSql, Tokenizer, TokenizerSql, Training}
import graft.operators.Similarity.{ExactCos, Ivf, OneList, PqAdc, Sq8Cos}

/** Driver contract (see the build brief + SURVEY.md §7).
  *
  * Query names carry the SURVEY.md §2 operator ids they demonstrate
  * (p1 = parse-project, a1 = count-per-key, j1 = broadcast join, ...).
  * Every SQL-expressible query has a DuckDB oracle in [[oracleSql]]; the
  * hash/bit-valued bloom queries are covered by the cross-engine
  * *invariant* oracle (`bloom_zero_fn` must be exactly 0 in any engine)
  * plus ScalaTest/golden specs.
  */
object SparkEntry {

  /** Default false-positive probability (the reference scripts' p=0.2 is
    * the CLI default; its experiments use 0.01/0.05/0.1 — we standardize
    * on 0.05 for the flagship). */
  val defaultP = 0.05

  private def bitsPerKey(p: Double): Double =
    -math.log(p) / (math.log(2) * math.log(2))

  /** Cross-batch dedup split: "old" corpus batch A vs "new" batch B, by
    * source id (src0..src9 vs src10..src19). */
  private val batchASources = (0 to 9).map(i => s"src$i")
  // DSIR's "target domain": a deliberately small high-quality slice
  private val dsirTargetSources = Seq("src0", "src1")
  private val dsirTargetPredSql =
    dsirTargetSources.map(s => s"'$s'").mkString("source IN (", ", ", ")")
  private val batchAPredSql = batchASources.map(s => s"'$s'").mkString("source IN (", ", ", ")")

  /** Similarity query set: every 50th vector. */
  private val simQueryPredSql = "vec_id % 50 = 0"
  private val simK = 5

  /** MMR rerank: candidate pool size, picks, relevance weight. */
  private val mmrN = 25
  private val mmrLambda = 0.7

  /** Privacy lane: generalization-ladder band widths, release threshold
    * k, DP budget ε and noise seed — shared by queries and twins. */
  private val kAnonWidths = Seq(500, 2000, 10000)
  private val kAnonK = 5
  private val tClosenessT = 0.2
  private val entropyLDiversityL = 3.0
  private val dpEpsilon = 0.5
  private val dpSeed = 2026

  /** Retrieval-scoring constants shared by the queries and their twins. */
  private val tfidfTopK = 5
  private val bm25Query = Seq("hash", "join", "filter")
  private val bm25TopK = 20

  /** Slab size for the sharded-bloom queries: small enough that sf0.01
    * groups (~10k keys, ~50k bits) split into ~4 shards. */
  private val shardedSlabBits = 16384L

  /** The `(rating, total, hits)` face of a bloom probe over train keys:
    * zero FN makes hits == total, so the oracle predicts both columns. */
  private def probeTotals(stats: DataFrame): DataFrame =
    stats.select(col("rating"), col("total"), col("falsePositives").as("hits"))
      .orderBy("rating")

  /** approx_percentile accuracy for the a15 equi-depth boundaries: rank
    * error ≤ n/accuracy per boundary — 0.01% of n, far inside the gate's
    * tolerance, at a fixed few-KB sketch per partition. */
  private val equidepthAccuracy = 10000

  /** The a15 boundary artifact: 19 sketch-derived vigintile edges of
    * l_extendedprice, one mergeable partial/final aggregate over the scan
    * (never a single-group exact percentile — that funnels the full
    * column through one buffer). Shared by the detail and gate faces so
    * both bucket against identical edges. */
  private def equidepthBounds(s: SparkSession, dir: String): Seq[Double] = {
    val qs = (1 to 19).map(_ / 20.0)
    Tables(s, dir, "lineitem")
      .agg(expr(s"approx_percentile(l_extendedprice, array(${qs.mkString(", ")}), $equidepthAccuracy)"))
      .head.getSeq[Double](0)
  }

  /** Scratch dir for queries that demonstrate sink → re-scan round trips
    * (filter artifacts, text output, TSV fixtures). Deterministic per
    * (input dir, name) so repeated runs overwrite rather than accumulate. */
  private[graft] def tmpPath(dir: String, name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${name}_${math.abs(dir.hashCode)}"

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Write-once fixture: materialize `write` at the deterministic tmp path
    * unless a marker stamped with this build's [[buildFingerprint]] says
    * it's already there, and return the path. The fixture is a pure
    * function of (dir, name, the code that wrote it), so reuse across runs
    * is sound, and a rebuilt program never serves an artifact an earlier
    * build wrote: that marker carries another fingerprint, so the fixture
    * is rebuilt and replaced. Two different builds running at once against
    * the same `java.io.tmpdir` replace each other's fixtures; give them
    * separate tmpdirs.
    *
    * First-touch is race-hardened (VERDICT r13 ask #7, tightened per
    * ADVICE r14 and the r15 review): the fixture is built in a private
    * temp dir (marker included) and published with a single ATOMIC_MOVE
    * rename, so no reader ever observes a half-built fixture at `path`.
    * All destructive steps run under a cross-JVM FILE LOCK
    * (`<path>.lock`), because a check-then-move of the target can never
    * be atomic on its own: without the lock, JVM A could re-check the
    * marker, JVM B publish the current build's fixture and start scanning
    * it, and A then rename B's fresh fixture aside — exactly the
    * mid-scan-deletion the protocol must exclude. Under the lock the
    * invariant holds: a CURRENT-stamp fixture at `path` is never
    * deleted or moved (publishers re-check the marker inside the
    * critical section and stand down); only a STALE target (current
    * marker absent) is renamed aside before the publish. Readers take
    * no lock — a reader from another build can still lose its files to
    * this build's publish, which is the stamp contract, not a race.
    * If the lock cannot be acquired or the publish fails with no
    * current marker appearing, the function THROWS instead of silently
    * returning a path holding another build's artifact (the
    * swallowed-exception staleness hazard the r14 advice flagged).
    * Builds happen outside the lock; only the target swap is serialized.
    */
  private[graft] def ensureFixture(dir: String, name: String)(
      write: String => Unit): String =
    ensureStamped(dir, name, buildFingerprint)(write)

  /** [[ensureFixture]] with the marker stamped `stamp`. */
  private[graft] def ensureStamped(dir: String, name: String, stamp: String)(
      write: String => Unit): String = {
    val path = tmpPath(dir, name)
    val target = new java.io.File(path)
    val marker = new java.io.File(target, fixtureMarker(stamp))
    if (!marker.isFile) {
      val tag = s"${java.lang.ProcessHandle.current.pid}_${System.nanoTime}"
      val tmp = new java.io.File(s"$path.build_$tag")
      write(tmp.getPath) // build outside the lock — only the swap serializes
      new java.io.File(tmp, fixtureMarker(stamp)).createNewFile()
      val lockFile = new java.io.File(s"$path.lock")
      // in-process serialization first (FileLock is per-JVM and throws on
      // overlap), then the cross-JVM lock
      fixtureLockMonitor.synchronized {
        val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val lock = ch.lock() // blocks until the competing publisher exits
          try {
            if (marker.isFile) deleteRecursively(tmp) // winner stands
            else {
              if (target.exists()) { // another build's: rename aside, drop
                val aside = new java.io.File(s"$path.stale_$tag")
                java.nio.file.Files.move(target.toPath, aside.toPath,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                deleteRecursively(aside)
              }
              java.nio.file.Files.move(tmp.toPath, target.toPath,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            }
          } finally { lock.release(); () }
        } finally ch.close()
      }
      if (!marker.isFile)
        throw new IllegalStateException(s"fixture $name: publish failed " +
          s"and no marker of this build ($stamp) exists at $path")
    }
    path
  }

  /** The marker file of a fixture published by the build `stamp`. */
  private[graft] def fixtureMarker(stamp: String): String = s"_GRAFT_FIXTURE_$stamp"

  /** Content hash of the code source that holds this class — the jar, or
    * the classes dir (every file, by relative path) — computed once per
    * process: the stamp of every fixture this build writes. */
  private[graft] lazy val buildFingerprint: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(f: java.io.File, rel: String): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
        .foreach(c => add(c, s"$rel/${c.getName}"))
      else {
        md.update(rel.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    add(new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI), "")
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** JVM-wide monitor for [[ensureFixture]]'s publish critical section
    * (`FileLock` guards across JVMs but throws on overlap WITHIN one). */
  private val fixtureLockMonitor = new Object

  /** Fixture builders for the round-trip queries: each returns the on-disk
    * artifact path, writing it only on first touch. The QUERIES call these
    * too (self-contained for Verify/standalone use); Bench additionally
    * runs every builder in an untimed setup pass so the timed region of a
    * round-trip query measures the scan/probe, not the sink (the sink
    * operators' own timings live in the k-queries that ARE sinks). */
  lazy val fixtures: Map[String, (SparkSession, String) => String] = ListMap(
    "filters" -> ((s, dir) => ensureFixture(dir, "filters") { path =>
      FilterStore.save(
        BloomPipeline.buildFilters(Ratings.trainFromLineitem(s, dir), defaultP), path)
    }),
    "sharded_filters" -> ((s, dir) => ensureFixture(dir, "sharded_filters") { path =>
      FilterStore.save(
        BloomPipeline.buildShardedFilters(
          Ratings.trainFromLineitem(s, dir), defaultP, shardedSlabBits), path)
    }),
    "filters_seq" -> ((s, dir) => ensureFixture(dir, "filters_seq") { path =>
      // the reference's literal K2 artifact format (Hadoop SequenceFile)
      FilterStore.saveSequenceFile(
        BloomPipeline.buildFilters(Ratings.trainFromLineitem(s, dir), defaultP), path)
    }),
    "split_tsv" -> ((s, dir) => ensureFixture(dir, "split_tsv") { path =>
      Tables(s, dir, "lineitem").where(col("l_quantity") >= 2.5)
        .select(format_string("it%d-%d\t%s",
          col("l_orderkey"), col("l_linenumber"), col("l_quantity")).as("value"))
        .write.mode("overwrite").text(path)
    }),
    "ratings_tsv" -> ((s, dir) => ensureFixture(dir, "ratings_tsv") { path =>
      Tables(s, dir, "lineitem")
        .where(col("l_quantity") >= 2.5)
        .select(
          concat(lit("it"), col("l_orderkey"), lit("-"), col("l_linenumber")).as("movieId"),
          (col("l_quantity") / 5.0).as("averageRating"),
          lit(1).as("numVotes"))
        .write.mode("overwrite").option("sep", "\t").option("header", "true").csv(path)
    }),
    "docs_fragmented" -> ((s, dir) => ensureFixture(dir, "docs_fragmented") { path =>
      // the pathological layout every long-run ingest produces: the
      // corpus sprayed across 64 tiny files (k8_compact's input)
      Tables(s, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(path)
    }),
    "bpe_merges" -> ((s, dir) => ensureFixture(dir, "bpe_merges") { path =>
      // the tokenizer-training artifact: 8 BPE merges learned once from
      // the corpus (Tokenizer.bpeTrain), persisted like every other
      // train-once/serve-many model in the repo; the encode query and
      // its spec gate load this same artifact.
      Tokenizer.bpeTrain(Tables(s, dir, "documents"), nMerges = 8)
        .write.mode("overwrite").parquet(path)
    }),
    "pq_codebook" -> ((s, dir) => ensureFixture(dir, "pq_codebook") { path =>
      // the ANN layer's model artifact: the PQ codebook trains OFFLINE
      // once (spherical k-means over the corpus) and every encode/search
      // run loads the same artifact — the lifecycle the reference gives
      // its filters. Queries and the recall gates all probe this one.
      Similarity.savePqCodebook(Tables(s, dir, "embeddings"), path)
    }),
    "pq_codebook_res" -> ((s, dir) => ensureFixture(dir, "pq_codebook_res") { path =>
      // sibling artifact for the residual-encoded composition: trained on
      // the v - centroid(v) distribution against the SAME coarse
      // quantizer the serve path derives (defaults pinned on both sides)
      Similarity.saveResidualPqCodebook(Tables(s, dir, "embeddings"), path)
    }),
    "docs_csv" -> ((s, dir) => ensureFixture(dir, "docs_csv") { path =>
      // the corpus itself has no quotes/commas/newlines — prepend them so
      // the escaping machinery is actually exercised, not just present
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          concat(lit("\"q\", \n"), col("text")).as("text"))
        .write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .option("escape", "\"")
        .csv(path)
    }),
    "docs_jsonl" -> ((s, dir) => ensureFixture(dir, "docs_jsonl") { path =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").json(path)
    }),
    "docs_jsonl_dirty" -> ((s, dir) =>
      ensureFixture(dir, "docs_jsonl_dirty") { path =>
        // every 50th doc's line loses its closing chars -> malformed
        // JSON, the s5 PERMISSIVE corrupt-record lane's input
        val js = "to_json(struct(doc_id, lang, n_chars))"
        Tables(s, dir, "documents")
          .select(when(col("doc_id") % 50 === 0,
              expr(s"substring($js, 1, length($js) - 2)"))
            .otherwise(expr(js)).as("value"))
          .write.mode("overwrite").text(path)
      }),
    "events_by_type" -> ((s, dir) => ensureFixture(dir, "events_by_type") { path =>
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(path)
    }),
    "docs_by_lang_meta" -> ((s, dir) => ensureFixture(dir, "docs_by_lang_meta") { path =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").partitionBy("lang").parquet(path)
    }),
    "docs_evolved" -> ((s, dir) => ensureFixture(dir, "docs_evolved") { path =>
      // two dataset generations with DIFFERENT schemas: gen=1 predates
      // the n_chars column, gen=2 carries it — the evolved-over-years
      // source layout s6 reads back through one mergeSchema scan
      val d = Tables(s, dir, "documents")
      d.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$path/gen=1")
      d.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$path/gen=2")
    }),
    "docs_orc" -> ((s, dir) => ensureFixture(dir, "docs_orc") { path =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").orc(path)
    }),
    "docs_zstd" -> ((s, dir) => ensureFixture(dir, "docs_zstd") { path =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .write.mode("overwrite")
        .option("compression", "zstd").parquet(path)
    }),
    // storage-pruning twins: ONE file each, tiny row groups. The sorted
    // layout (by doc_id, no parquet blooms) lets range predicates skip row
    // groups via footer min/max; the scrambled layout carries a parquet
    // BLOOM FILTER on `source`, so an equality probe for an absent value
    // skips every row group even though min/max can't exclude it — the
    // storage-side complement of the engine's own filters. Pruning is
    // observable because Spark leaves record-level filtering to itself
    // (spark.sql.parquet.recordLevelFilter.enabled=false default): the
    // scan's numOutputRows IS the undecoded-row-group drop, asserted in
    // ParquetPruningSpec.
    // Dictionary encoding is disabled on both twins: at test cardinality
    // parquet dictionary pages prove absence on their own, which is
    // exactly the mechanism that FALLS AWAY on high-cardinality columns
    // at real scale — the regime parquet blooms exist for. Plain-encoded
    // pages model that regime at sf-test size.
    "docs_rg_sorted" -> ((s, dir) => ensureFixture(dir, "docs_rg_sorted") { path =>
      Tables(s, dir, "documents")
        .coalesce(1).sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("parquet.block.size", (16 * 1024).toString)
        .option("parquet.enable.dictionary", "false")
        .parquet(path)
    }),
    "docs_rg_scrambled" -> ((s, dir) => ensureFixture(dir, "docs_rg_scrambled") { path =>
      Tables(s, dir, "documents")
        .orderBy(xxhash64(col("doc_id")))
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.block.size", (16 * 1024).toString)
        .option("parquet.enable.dictionary", "false")
        .option("parquet.bloom.filter.enabled#source", "true")
        .parquet(path)
    }),
    // one-time bucketed-table CREATEs (b1's timed region is then the
    // exchange-free join itself)
    "bucketed_tables" -> ((s, dir) => {
      val suffix = math.abs(dir.hashCode).toString
      Bucketing.ensureBucketed(s,
        Tables(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        s"graft_li_$suffix", "l_orderkey")
      Bucketing.ensureBucketed(s,
        Tables(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        s"graft_od_$suffix", "o_orderkey")
    })
  )

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Full reference pipeline in one plan: parse -> split -> sizing agg ->
    * per-group bloom build -> broadcast probe join -> FP stats. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    BloomPipeline.endToEnd(
      Ratings.trainFromLineitem(spark, dir),
      Ratings.testFromLineitem(spark, dir),
      defaultP
    ).orderBy("rating")
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    // --- S/P: scans, projections, filters, limits, splits (SURVEY §2.1-2.2)
    "p1_parse_project" -> ((s, dir) =>
      Ratings.fromLineitem(s, dir).orderBy("movieId")),
    "p1_events_project" -> ((s, dir) =>
      Ratings.fromEvents(s, dir).orderBy("movieId")),
    "p5_filter" -> ((s, dir) =>
      Ratings.fromLineitem(s, dir)
        .where(col("rating").between(3, 8)).orderBy("movieId")),
    "p7_limit" -> ((s, dir) =>
      Ratings.fromLineitem(s, dir).orderBy("movieId").limit(10)),
    "p8_split_train" -> ((s, dir) =>
      Ratings.trainFromLineitem(s, dir).orderBy("movieId")),
    "p8_split_test" -> ((s, dir) =>
      Ratings.testFromLineitem(s, dir).orderBy("movieId")),

    // --- A: aggregations (SURVEY §2.4)
    "a1_linecount" -> ((s, dir) =>
      BloomPipeline.linecount(Ratings.fromLineitem(s, dir)).orderBy("rating")),
    "a4_group_stats" -> ((s, dir) =>
      Tables(s, dir, "events").groupBy("event_type").agg(
        count("*").as("total"),
        round(sum("value"), 2).as("sum_value"),
        min("value").as("min_value"),
        max("value").as("max_value")).orderBy("event_type")),

    "a6_percentiles" -> ((s, dir) =>
      // exact percentiles (SQL `percentile`, not the approx sketch) so the
      // oracle matches bit-for-bit; the approx path is a7
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99_price"))
        .orderBy("l_returnflag")),
    "a7_approx_distinct" -> ((s, dir) => {
      // HLL sketch vs exact: the exact count is the oracle value, the
      // sketch landing within its rsd envelope is the invariant (rsd=0.05,
      // 6 sigma => 30% — far outside anything a healthy sketch produces)
      val d = Tables(s, dir, "lineitem")
        .agg(
          countDistinct("l_partkey").as("exact_parts"),
          approx_count_distinct("l_partkey", 0.05).as("approx_parts"))
      d.select(
        col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double")
          / col("exact_parts") <= 0.3).as("approx_ok"))
    }),

    "a8_cms_topk" -> ((s, dir) => {
      // Count-min-sketch heavy hitters: the sketch is built as ONE
      // distributed partial-merge aggregate (each partition folds its rows
      // into a local sketch; merge is cell-wise add), then collected —
      // a bounded ~1 MB artifact, same contract as the bloom filters.
      // The gate encodes the CMS guarantee: exact ≤ estimate ≤ exact+εN.
      val eps = 1e-4
      val li = Tables(s, dir, "lineitem")
      val row = li.agg(
        count_min_sketch(col("l_suppkey"), lit(eps), lit(0.99), lit(42))
          .as("sk"),
        count(lit(1)).as("n")).head()
      val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("sk")))
      val bound = math.ceil(eps * row.getAs[Long]("n")).toLong
      // exact top-10 (deterministic tiebreak), probed against the sketch
      val topk = li.groupBy("l_suppkey").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l_suppkey")).limit(10).collect()
        .map { r =>
          val (key, n) = (r.getLong(0), r.getLong(1))
          val est = sk.estimateCount(key)
          (key, n, est >= n && est <= n + bound)
        }
      s.createDataFrame(topk.toSeq).toDF("l_suppkey", "n", "cms_ok")
    }),
    "a9_hll_merge" -> ((s, dir) => {
      // Mergeable-sketch distinct: per-language HLL sketches unioned into
      // one estimate — the re-aggregation pattern that lets 1000 executors
      // each ship a 16 KB sketch instead of their distinct key sets. Gate:
      // the merged estimate lands within 5% of exact (lgK=14 → rsd 0.65%).
      val docs = Tables(s, dir, "documents")
      val merged = docs.groupBy("lang")
        .agg(hll_sketch_agg(col("doc_id"), 14).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
      docs.agg(countDistinct("doc_id").as("exact_docs")).crossJoin(merged)
        .select(col("exact_docs"),
          (abs(col("approx") - col("exact_docs")).cast("double")
            / col("exact_docs") <= 0.05).as("merge_ok"))
    }),

    "a13_kmv_distinct" -> ((s, dir) =>
      // KMV distinct sketch (exact-arithmetic twin in KmvSql): unlike
      // a7/a9's HLL lane, the k-min-values sketch itself is
      // oracle-checkable — hash, rank filter and estimator are all
      // deterministic integer arithmetic until one rounded division.
      Kmv.distinctEstimate(Tables(s, dir, "events"), "event_type",
        "user_id")),
    "a14_kmv_jaccard" -> ((s, dir) =>
      // What KMV buys over HLL: sketch SET ALGEBRA. Merged k-min
      // sketches estimate pairwise Jaccard/overlap between the groups'
      // key sets — the cross-shard overlap triage a corpus runs before
      // paying for full dedup; the exact hashed-set Jaccard rides along.
      Kmv.jaccardEstimate(Tables(s, dir, "events"), "event_type",
        "user_id")),

    "a11_histogram" -> ((s, dir) =>
      // Fixed-width histogram by integer bin arithmetic — the profiling
      // pass that sizes skew before a pipeline runs. floor((x-lo)/width)
      // is exact in both engines (no width_bucket dialect differences);
      // one partial/final aggregate over ~20 bins.
      Tables(s, dir, "lineitem")
        .select((floor((col("l_extendedprice") - 900.0) / 5000.0))
          .cast("long").as("bin"))
        .groupBy("bin").agg(count("*").as("n"))
        .orderBy("bin")),
    "a15_equidepth_hist" -> ((s, dir) => {
      // Equi-DEPTH histogram — the skew-robust profiling twin of a11's
      // equi-width bins (same count per bucket, data-driven edges). Scale
      // shape (r7 verdict ask #3): the 19 boundaries come from ONE
      // `approx_percentile` (KLL-family sketch: mergeable partial/final
      // aggregate, bounded buffer — the a10 sketch-is-the-scale-path
      // split), collected as a bounded artifact (19 doubles) and inlined
      // like the PQ codebooks; bucket assignment is a branch-free
      // comparison sum in the scan projection. Neither a global ntile
      // sort NOR a single-group exact percentile — the latter funnels
      // every value into one final buffer, the 100 TB killer the old
      // formulation had. Sketch boundaries are engine-specific, so this
      // detail face ships rows-only; `a15_depth_verify` is the
      // hash-matched gate that the buckets are genuinely equi-depth
      // within the sketch's rank-error envelope.
      val bounds = equidepthBounds(s, dir)
      val bucket = bounds
        .map(b => when(col("l_extendedprice") > b, 1).otherwise(0))
        .reduce(_ + _)
      Tables(s, dir, "lineitem")
        .select(bucket.cast("long").as("bucket"), col("l_extendedprice"))
        .groupBy("bucket").agg(count(lit(1)).as("n"),
          round(min("l_extendedprice"), 2).as("lo"),
          round(max("l_extendedprice"), 2).as("hi"))
        .orderBy("bucket")
    }),
    "a15_depth_verify" -> ((s, dir) => {
      // The exact-valued gate over a15's sketch: every bucket's count
      // must sit within the approx_percentile rank-error envelope of the
      // ideal depth n/20. Each boundary's rank is off by at most
      // n/accuracy, so a bucket (two boundaries) deviates by at most
      // 2n/accuracy; the tolerance doubles that and adds a constant for
      // duplicate boundary values and n%20 remainders. Columns are
      // integers/booleans — oracle-exact (the a10 gate pattern).
      val bounds = equidepthBounds(s, dir)
      val bucket = bounds
        .map(b => when(col("l_extendedprice") > b, 1).otherwise(0))
        .reduce(_ + _)
      val tol = lit(4.0) * col("n_total") / equidepthAccuracy + lit(40.0)
      Tables(s, dir, "lineitem")
        .select(bucket.cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_buckets"), sum("n").as("n_total"),
          max("n").as("mx"), min("n").as("mn"))
        .select(col("n_total"), col("n_buckets"),
          (col("mx") - col("n_total") / 20.0 <= tol
            && col("n_total") / 20.0 - col("mn") <= tol).as("depth_ok"))
    }),
    "a16_join_size_est" -> ((s, dir) =>
      // pre-flight self-join size estimation from a deterministic
      // key-domain sample — scale posture on Sampling.joinSizeEstimate
      Sampling.joinSizeEstimate(Tables(s, dir, "events"), col("user_id"))),
    "a17_expectations" -> ((s, dir) => {
      // Data-contract evaluation (the Deequ/Great-Expectations shape):
      // a12 PROFILES the table; this EVALUATES named expectations against
      // thresholds and emits one verdict row per rule — the gate a
      // pipeline run passes or fails on. Four rules ride ONE aggregate
      // pass over lineitem (count, PK uniqueness via distinct struct,
      // null count, min — all partial/final aggregable); the referential
      // rule is one LEFT ANTI join against the orders key relation
      // (orphans = rows whose FK has no parent) collapsed to a count.
      // At 100 TB: one scan + one anti join, nothing row-scaled returns.
      // The testdata's lineitem (orderkey, linenumber) is genuinely
      // non-unique, so pk_unique_violations reports passed=false — the
      // verdicts are demonstrably non-vacuous, and both engines agree.
      val li = Tables(s, dir, "lineitem")
      val base = li.agg(
        count(lit(1)).as("n"),
        countDistinct(struct(col("l_orderkey"), col("l_linenumber")))
          .as("n_pk"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("n_null"),
        min(col("l_quantity")).as("mn"))
      val orphans = li.select(col("l_orderkey"))
        .join(Tables(s, dir, "orders").select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      val m = base.crossJoin(orphans) // two one-row relations
      def rule(name: String, observed: org.apache.spark.sql.Column,
          threshold: Double, passed: org.apache.spark.sql.Column) =
        m.select(lit(name).as("rule"),
          round(observed.cast("double"), 6).as("observed"),
          lit(threshold).as("threshold"), passed.as("passed"))
      rule("fk_orders_orphans", col("n_orphans"), 0.0,
          col("n_orphans") === 0)
        .union(rule("pk_unique_violations", col("n") - col("n_pk"), 0.0,
          col("n") === col("n_pk")))
        .union(rule("qty_min_nonnegative", col("mn"), 0.0,
          col("mn") >= 0.0))
        .union(rule("qty_null_count", col("n_null"), 0.0,
          col("n_null") === 0))
        .union(rule("rowcount_min", col("n"), 1.0, col("n") >= 1))
        .orderBy("rule")
    }),
    "a12_profile" -> ((s, dir) =>
      // One-pass corpus profile — the dbt/Deequ-style health row every
      // ingest emits: row count, per-column null counts, key cardinality,
      // value ranges. ONE aggregate, no shuffle beyond the single-row
      // final merge.
      Tables(s, dir, "documents").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_text"),
        countDistinct("doc_id").as("n_ids"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        sum("n_chars").as("total_chars"))),
    "a10_approx_quantile" -> ((s, dir) => {
      // approx_percentile (GK sketch) vs its own rank-error contract: the
      // estimate must land between the exact percentiles at 0.9 ± ε. Like
      // a7/a8/a9, the sketch is the scale path (mergeable, bounded size);
      // the exact branch exists only to publish the gate.
      Tables(s, dir, "lineitem")
        .agg(
          // ONE percentile buffer for all three exact ranks — three
          // separate percentile() calls each materialize the column
          expr("percentile(l_extendedprice, array(0.895, 0.9, 0.905))")
            .as("ex"),
          expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("approx"))
        .select(round(element_at(col("ex"), 2), 6).as("p90_exact"),
          (col("approx") >= element_at(col("ex"), 1)
            && col("approx") <= element_at(col("ex"), 3)).as("approx_ok"))
    }),
    "x3_dpp" -> ((s, dir) => {
      // dynamic partition pruning: the fact table is partitioned on the
      // join key; the dim side's non-foldable filter can't prune statically,
      // so the optimizer plants the dim's build result as a runtime
      // partition filter on the fact scan (dynamicpruningexpression in
      // PartitionFilters — locked in PlanAuditSpec). At 100 TB this is the
      // difference between scanning 3/5 partitions and all of them.
      val path = fixtures("events_by_type")(s, dir)
      val ev = Tables(s, dir, "events")
      val dim = ev.select("event_type").distinct()
        .where(length(col("event_type")) <= 5)
      s.read.parquet(path).join(broadcast(dim), "event_type")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // --- J: joins (SURVEY §2.3)
    "j1_broadcast_join" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .join(broadcast(Tables(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(
          count("*").as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment")),
    "j2_shuffle_join" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(
          count("*").as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")),
    "j3_union_tag" -> ((s, dir) =>
      Ratings.fromLineitem(s, dir).withColumn("tag", lit("li"))
        .unionByName(Ratings.fromEvents(s, dir).withColumn("tag", lit("ev")))
        .groupBy("tag", "rating").agg(count("*").as("n"))
        .orderBy("tag", "rating")),

    // --- G/U/D: grouping sets, set ops, distinct aggregation (SURVEY
    // §2.7 explicit absences in the reference — covered here as bonus
    // surface; null grouping keys coalesced to 'ALL' for stable compare)
    "g1_rollup" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(count("*").as("n"), round(sum("o_totalprice"), 2).as("revenue"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("revenue"))
        .orderBy("priority", "status")),
    "g2_cube" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count("*").as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"))
        .orderBy("rf", "ls")),
    "g3_pivot" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority")),
    "g4_grouping_sets" -> ((s, dir) =>
      // explicit GROUPING SETS (the general form rollup/cube specialize):
      // two independent one-dimension aggregates in ONE scan + shuffle
      Tables(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count("*").as("n"), round(sum("o_totalprice"), 2).as("revenue"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("revenue"))
        .orderBy("priority", "status")),
    "j5_asof_join" -> ((s, dir) => {
      // As-of join (operator Spark lacks; AsOf composes it from a union +
      // keyed window — one shuffle, one sort). Probes = every 10th event;
      // quotes = the rest, deduped to one row per (type, microsecond).
      // Times compare at µs (integer `div`, no double rounding); the
      // no-match case is coalesced to sentinels because the compare
      // bridge floats nullable int columns.
      val ev = Tables(s, dir, "events")
      val probes = ev.where(pmod(col("event_id"), lit(10)) === 0)
        .select(col("event_id"), col("event_type"),
          expr("ts div 1000").as("p_us"))
      val quotes = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
        .groupBy(col("event_type"), expr("ts div 1000").as("q_us"))
        .agg(round(max("value"), 6).as("q_value"))
      AsOf.asofJoin(probes, quotes, "event_type", "p_us", "q_us",
        Seq("q_us", "q_value"))
        .select(col("event_id"), col("event_type"), col("p_us"),
          coalesce(col("asof.q_us"), lit(-1L)).as("q_us"),
          coalesce(col("asof.q_value"), lit(0.0d)).as("q_value"))
        .orderBy("event_id")
    }),
    "j11_asof_tolerance" -> ((s, dir) => {
      // j5's as-of join with a 30-minute staleness tolerance (pandas
      // merge_asof `tolerance`): a preceding quote older than the bound
      // does not match — the stale-quote guard. Same one-shuffle window
      // plan; the tolerance is a projection (AsOf.asofJoinTolerance).
      // 30 min bisects the testdata's gap distribution (p50 ≈ 15 min,
      // p90 ≈ 53 min), so both branches are exercised.
      val ev = Tables(s, dir, "events")
      val probes = ev.where(pmod(col("event_id"), lit(10)) === 0)
        .select(col("event_id"), col("event_type"),
          expr("ts div 1000").as("p_us"))
      val quotes = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
        .groupBy(col("event_type"), expr("ts div 1000").as("q_us"))
        .agg(round(max("value"), 6).as("q_value"))
      AsOf.asofJoinTolerance(probes, quotes, "event_type", "p_us", "q_us",
        Seq("q_us", "q_value"), tolerance = 1800000000L)
        .select(col("event_id"), col("event_type"), col("p_us"),
          coalesce(col("asof.q_us"), lit(-1L)).as("q_us"),
          coalesce(col("asof.q_value"), lit(0.0d)).as("q_value"))
        .orderBy("event_id")
    }),
    "j6_range_join" -> ((s, dir) => {
      // Range join via bin bucketing (never a nested loop — asserted in
      // PlanAuditSpec): price bands from every 10th part, lineitem prices
      // matched into overlapping bands, aggregated per band.
      val bands = Tables(s, dir, "part")
        .where(pmod(col("p_partkey"), lit(10)) === 0)
        .select(col("p_partkey").as("band_id"),
          (col("p_retailprice") - 50.0).as("lo"),
          (col("p_retailprice") + 50.0).as("hi"))
      RangeJoin.bucketed(
        Tables(s, dir, "lineitem").select(col("l_extendedprice")),
        bands, "l_extendedprice", "lo", "hi", binWidth = 100.0)
        .groupBy("band_id")
        .agg(count("*").as("n"),
          round(sum("l_extendedprice"), 2).as("total_price"))
        .orderBy("band_id")
    }),
    "j4_semi_anti" -> ((s, dir) => {
      // left-semi + left-anti as one tagged result: customers with and
      // without orders
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_orders").as("tag"))
        .unionByName(
          c.join(o, Seq("c_custkey"), "left_anti")
            .select(col("c_custkey"), lit("no_orders").as("tag")))
        .groupBy("tag").agg(count("*").as("n"))
        .orderBy("tag")
    }),
    "u1_intersect" -> ((s, dir) =>
      Ratings.fromLineitem(s, dir).select("rating").distinct()
        .intersect(Ratings.fromEvents(s, dir).select("rating").distinct())
        .orderBy("rating")),
    "u2_except" -> ((s, dir) =>
      Ratings.fromLineitem(s, dir).select("rating").distinct()
        .except(Ratings.fromEvents(s, dir).select("rating").distinct())
        .orderBy("rating")),
    "d1_distinct_agg" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_parts"),
          count("*").as("n_rows"))
        .orderBy("l_returnflag")),
    "d2_upsert_latest" -> ((s, dir) =>
      // CDC / SCD-1 merge: the event stream as a change log keyed by
      // user, latest record wins (ts, then event_id). max_by keeps this a
      // partial-aggregable reduce — map-side combine shrinks each
      // partition to one row per key BEFORE the shuffle, where a
      // row_number window would shuffle and sort every change record
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max_by(
          struct(col("event_id"), expr("ts div 1000").as("ts_us"),
            col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"))
        .select(col("user_id"), col("last.event_id").as("event_id"),
          col("last.ts_us").as("ts_us"),
          col("last.event_type").as("event_type"),
          col("last.value").as("value"))
        .orderBy("user_id")),

    "d4_incremental_mv" -> ((s, dir) => {
      // incremental materialized-view maintenance: the hourly rollup is
      // kept as MERGEABLE partial aggregates — a delta slice (a tenth of
      // the events, standing in for newly-arrived data) aggregates
      // SEPARATELY and merges into the base rollup by key, exactly how a
      // 100 TB MV refreshes without re-scanning history (count and sum
      // are the canonical self-merging states; the oracle recomputes from
      // scratch, pinning merge == recompute).
      val ev = Tables(s, dir, "events").select(
        expr("ts div 3600000000000").as("hr"), col("event_type"),
        col("value"), (col("event_id") % 10 === 0).as("is_delta"))
      def partial(p: org.apache.spark.sql.Column) = ev.where(p)
        .groupBy("hr", "event_type")
        .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      partial(!col("is_delta")).unionByName(partial(col("is_delta")))
        .groupBy("hr", "event_type")
        .agg(sum("n").as("n"), round(sum("sv"), 2).as("sum_value"))
        .orderBy("hr", "event_type")
    }),
    "d5_merge_cdc" -> ((s, dir) => {
      // MERGE-shaped CDC apply with DELETES: the event stream as an
      // insert/update/delete changelog over user profiles (signup=I,
      // error=D, everything else=U). A base snapshot (first half of the
      // time range, SCD-1-reduced like d2) is merged with the later
      // delta's reduction via ONE full-outer join on the key — the
      // MERGE INTO physical shape, where delta verdicts win and a
      // delta-side D (or a base row already deleted) drops the key.
      // At 100 TB the base never re-scans history: both sides are
      // map-side-combining max_by reductions, and the merge join is
      // key-partitioned. The oracle recomputes final state from scratch
      // (global latest op per user, D filtered), pinning merge ==
      // recompute, the d4 contract extended to deletes.
      val ops = Tables(s, dir, "events").select(
        col("user_id"), col("event_id"), col("ts"),
        when(col("event_type") === "signup", lit("I"))
          .when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")).as("op"),
        col("value"))
      // integer midpoint (min + (max-min) div 2): all-Long arithmetic —
      // a (min+max)/2 double round-trip would hit DuckDB's round-to-
      // nearest vs Spark's truncate cast on values above 2^53
      val mid = ops.agg(min("ts").as("mn"), max("ts").as("mx"))
        .select(expr("mn + (mx - mn) div 2").as("mid"))
      val withMid = ops.crossJoin(mid) // one-row scalar broadcast
      def latest(p: org.apache.spark.sql.Column) = withMid.where(p)
        .groupBy("user_id")
        .agg(max_by(
          struct(col("event_id"), expr("ts div 1000").as("ts_us"),
            col("op"), col("value")),
          struct(col("ts"), col("event_id"))).as("r"))
      val base = latest(col("ts") <= col("mid"))
        .select(col("user_id"), col("r").as("b"))
      val delta = latest(col("ts") > col("mid"))
        .select(col("user_id"), col("r").as("d"))
      base.join(delta, Seq("user_id"), "full_outer")
        .select(col("user_id"), coalesce(col("d"), col("b")).as("f"))
        .where(col("f.op") =!= "D")
        .select(col("user_id"), col("f.event_id").as("event_id"),
          col("f.ts_us").as("ts_us"), col("f.op").as("op"),
          col("f.value").as("value"))
        .orderBy("user_id")
    }),
    "d6_snapshot_diff" -> ((s, dir) => {
      // Snapshot diff — the data-regression face of the CDC lane: the
      // latest-wins state (d2's reduce) materialized at two points in
      // time (mid-stream and end), full states compared key for key.
      // Per user: added (absent at the cutoff), changed (a newer change
      // record won), unchanged. Append-only log → no removals; the
      // delete-aware state is d5's. Shape: two partial-aggregable max_by
      // reductions + ONE key-equi join of two key-sized relations — at
      // 100 TB the exchanges carry one row per user, never the log.
      val ev = Tables(s, dir, "events")
      val cut = ev.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
        .select(expr("mn + (mx - mn) div 2").as("cut"))
      val withCut = ev.crossJoin(cut) // one-row scalar broadcast
      def latest(p: org.apache.spark.sql.Column) = withCut.where(p)
        .groupBy("user_id")
        .agg(max_by(col("event_id"), struct(col("ts"), col("event_id")))
          .as("eid"))
      latest(lit(true)).withColumnRenamed("eid", "new_eid")
        .join(latest(col("ts") < col("cut"))
          .withColumnRenamed("eid", "old_eid"), Seq("user_id"), "left_outer")
        .select(col("user_id"), col("old_eid"), col("new_eid"),
          when(col("old_eid").isNull, "added")
            .when(col("old_eid") =!= col("new_eid"), "changed")
            .otherwise("unchanged").as("status"))
        .orderBy("user_id")
    }),

    "u5_lateral" -> ((s, dir) => {
      // LATERAL correlated subquery (Spark 4 SQL surface): per-nation
      // top-2 customers — the parser/analyzer turn the per-row subquery
      // into a LateralJoin the optimizer can reason about; the identical
      // SQL runs on DuckDB, so the decorrelation is oracle-checked.
      val sp = Config.child(s)
      Tables(sp, dir, "nation").createOrReplaceTempView("nation_v")
      Tables(sp, dir, "customer").createOrReplaceTempView("customer_v")
      sp.sql("""SELECT n.n_name, l.c_name, l.c_acctbal
               |FROM nation_v n,
               |LATERAL (SELECT c_name, c_acctbal FROM customer_v c
               |         WHERE c.c_nationkey = n.n_nationkey
               |         ORDER BY c_acctbal DESC, c_name LIMIT 2) l
               |ORDER BY n.n_name, l.c_acctbal DESC, l.c_name""".stripMargin)
    }),
    "u6_recursive" -> ((s, dir) => {
      // WITH RECURSIVE (Spark 4 SQL surface): the hour-of-day spine
      // generated by the recursion itself (e3 builds the same spine with
      // sequence()), left-joined to hour-of-day event counts so empty
      // hours surface as zero. Identical SQL is the DuckDB oracle.
      val sp = Config.child(s)
      Tables(sp, dir, "events").createOrReplaceTempView("events_v")
      sp.sql("""WITH RECURSIVE hours(hr) AS (
               |  SELECT 0 UNION ALL SELECT hr + 1 FROM hours WHERE hr < 23)
               |SELECT h.hr, count(e.hr) AS n
               |FROM hours h LEFT JOIN
               |  (SELECT CAST(ts div 3600000000000 AS BIGINT) % 24 AS hr
               |   FROM events_v) e
               |  ON e.hr = h.hr
               |GROUP BY h.hr ORDER BY h.hr""".stripMargin)
    }),
    "f5_variant" -> ((s, dir) => {
      // VARIANT (Spark 4 semi-structured type): parse the JSON props
      // payload once into a variant and extract typed paths — the open
      // schema-on-read shape for event payloads. The oracle extracts the
      // same value with engine-neutral string functions, so the variant
      // path is value-checked without assuming DuckDB's JSON extension.
      val sp = Config.child(s)
      Tables(sp, dir, "events").createOrReplaceTempView("events_vv")
      sp.sql("""SELECT event_type,
               |       count(*) AS n,
               |       sum(variant_get(parse_json(props), '$.k', 'long')) AS sum_k,
               |       max(variant_get(parse_json(props), '$.k', 'long')) AS max_k
               |FROM events_vv GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    "u3_exists_subquery" -> ((s, dir) => {
      // the SQL front door: correlated EXISTS through the parser; the
      // analyzer decorrelates it to a left-semi join (same physical shape
      // as j4) — no per-row subquery execution survives to the plan
      val sp = Config.child(s)
      Tables(sp, dir, "orders").createOrReplaceTempView("orders_v")
      Tables(sp, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      sp.sql("""SELECT o_orderpriority, count(*) AS n
               |FROM orders_v o
               |WHERE EXISTS (SELECT 1 FROM lineitem_v l
               |              WHERE l.l_orderkey = o.o_orderkey
               |                AND l.l_quantity >= 45)
               |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),
    "u4_scalar_subquery" -> ((s, dir) => {
      // correlated scalar-aggregate subquery -> decorrelated to one
      // aggregate + join (RewriteCorrelatedScalarSubquery); compares each
      // customer to their segment's average balance
      val sp = Config.child(s)
      Tables(sp, dir, "customer").createOrReplaceTempView("customer_v")
      sp.sql("""SELECT c_mktsegment, count(*) AS n_above
               |FROM customer_v c
               |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer_v c2
               |                   WHERE c2.c_mktsegment = c.c_mktsegment)
               |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),
    "g5_unpivot" -> ((s, dir) =>
      // wide -> long melt via the native Unpivot node (Expand under the
      // hood: one scan, rows×metrics output, no shuffle before the sort)
      Tables(s, dir, "lineitem")
        .where(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")),
    "j9_right_outer" -> ((s, dir) => {
      // right outer: the preserved side is the dimension — BUILDING
      // customers keep their row even with zero orders (null-filled left)
      val o = Tables(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      val c = Tables(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_acctbal"))
      o.join(c, o("o_custkey") === c("c_custkey"), "right_outer")
        .select(col("c_custkey"), col("c_acctbal"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("c_custkey")
    }),
    "f4_higher_order" -> ((s, dir) =>
      // array higher-order functions as first-class row logic: L2 norm by
      // fold, positive-component count by filter — all codegen'd lambdas
      // over the array column, zero UDFs, zero explodes (no row blowup)
      Tables(s, dir, "embeddings").select(
        col("vec_id"),
        round(sqrt(aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 4)
          .as("l2"),
        size(filter(col("embedding"), _ > 0f)).as("n_pos"))
        .orderBy("vec_id")),
    "j7_full_outer" -> ((s, dir) => {
      // full outer with BOTH dangling sides real: one customer segment vs
      // order counts across all customers — left-only rows are BUILDING
      // customers with no orders, right-only rows are other segments'
      // buyers. Shuffle hash join on the key; no broadcast (full outer
      // cannot broadcast either side).
      val c = Tables(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_acctbal"))
      val o = Tables(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_acctbal"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("custkey")
    }),
    "d3_scd2" -> ((s, dir) => {
      // SCD-2 materialization of the same change log: each change record
      // becomes a validity interval [valid_from, valid_to) via one lead()
      // window — a single shuffle on the dimension key, no self-join. At
      // 100 TB the shuffle carries (key, ts) sorted runs; state never
      // exceeds one row in flight per key within a partition.
      import org.apache.spark.sql.expressions.Window
      // ordered by the derived MICROS key (+ event_id), not raw nanos ts:
      // the oracle orders by its micros-grain timestamp, so both engines
      // must tiebreak on identical-grain keys even if the storage ever
      // returns to sub-microsecond precision
      val w = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts"), expr("ts div 1000").as("valid_from_us"))
        .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
        .withColumn("is_current", col("valid_to_us").isNull)
        .drop("ts")
        .orderBy("user_id", "valid_from_us", "event_id")
    }),

    "j10_interval_lookup" -> ((s, dir) => {
      // Point-in-time lookup against the SCD-2 dimension d3 materializes
      // — the canonical temporal-dimension join of warehouse fact loads.
      // Probes sit 1 µs BEFORE each change record, so each one must
      // resolve to the user's PREVIOUS version (half-open [from, to)
      // semantics exercised at the boundary; a user's first event probes
      // before any interval and left-joins to NULL). The equi-key
      // (user_id) makes this a hash/sort-merge join with the interval
      // predicate as a residual — never a nested loop; intervals per key
      // are disjoint, so at most one dimension row matches a probe.
      import org.apache.spark.sql.expressions.Window
      // micros-grain ordering key + event_id, matching the oracle's grain
      // exactly (see d3) — raw nanos d_ts could order same-micro ties
      // differently than the micros-grain oracle if storage precision drifts
      val w = Window.partitionBy("d_user")
        .orderBy("valid_from_us", "dim_event_id")
      val dim = Tables(s, dir, "events")
        .select(col("user_id").as("d_user"),
          col("event_id").as("dim_event_id"), col("value").as("dim_value"),
          expr("ts div 1000").as("valid_from_us"))
        .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      val probes = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id").as("probe_event_id"),
          (expr("ts div 1000") - 1).as("probe_us"))
      probes.join(dim,
          col("user_id") === col("d_user")
            && col("probe_us") >= col("valid_from_us")
            && (col("valid_to_us").isNull
              || col("probe_us") < col("valid_to_us")),
          "left")
        .select(col("user_id"), col("probe_event_id"),
          col("dim_event_id"), col("dim_value"))
        .orderBy("user_id", "probe_event_id")
    }),

    // --- X: skew-salted join (scale technique; oracle is the UNSALTED
    // join, proving the rewrite is semantics-preserving)
    "x1_salted_join" -> ((s, dir) =>
      Skew.saltedJoin(
        Tables(s, dir, "lineitem").withColumnRenamed("l_orderkey", "orderkey"),
        Tables(s, dir, "orders").withColumnRenamed("o_orderkey", "orderkey"),
        key = "orderkey", saltFactor = 8,
        bigSaltSource = Seq("orderkey", "l_linenumber"))
        .groupBy("o_orderpriority").agg(
          count("*").as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")),
    // --- X2: the runtime bloom-filter optimizer rule, driver-checked —
    // the rule injects bloom_might_contain(scalar-subquery(build)) under
    // the probe side so non-joinable rows die before the shuffle; zero
    // false negatives make the rewrite semantics-preserving, so the
    // oracle is the PLAIN join. Scoped to this query via
    // experimental.extraOptimizations (the rule's idempotency guard makes
    // the fixed-point batch safe); executed inside the scope so the
    // restored session state cannot un-inject it, then returned as a
    // local relation (the result is a handful of grouped rows).
    "x2_runtime_bloom" -> ((outer, dir) => {
      // isolated session: extraOptimizations + confs live and die here, so
      // nothing leaks into the shared session even under concurrent queries
      val s = Config.child(outer, "spark.graft.runtimeBloom.enabled" -> "true",
        "spark.graft.runtimeBloom.minProbeBytes" -> "1")
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.InjectBloomRuntimeFilter(s)
      val big = Tables(s, dir, "lineitem")
        .select(concat(lit("p"), col("l_partkey")).as("pk"), col("l_quantity"))
      val small = Tables(s, dir, "part").where(col("p_size") <= 5)
        .select(concat(lit("p"), col("p_partkey")).as("pk"), col("p_size"))
      val df = big.join(small, "pk")
        .groupBy("p_size").agg(
          count("*").as("n_items"),
          round(sum("l_quantity"), 2).as("total_qty"))
        .orderBy("p_size")
      require(df.queryExecution.optimizedPlan.toString.contains("bloom_might_contain"),
        "runtime bloom filter was not injected")
      import scala.jdk.CollectionConverters._
      // materialize under the isolated session, hand rows to the caller's
      outer.createDataFrame(df.collect().toSeq.asJava, df.schema)
    }),

    // --- B: bucketed co-located join (write-time pre-shuffle; the plan
    // has NO exchange on either join side — asserted in BucketingSpec)
    "b1_bucketed_join" -> ((s, dir) => {
      val suffix = math.abs(dir.hashCode).toString
      val li = Bucketing.ensureBucketed(s,
        Tables(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        s"graft_li_$suffix", "l_orderkey")
      val od = Bucketing.ensureBucketed(s,
        Tables(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        s"graft_od_$suffix", "o_orderkey")
      s.table(li)
        .join(s.table(od), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(
          count("*").as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // --- F: JSON + map scalar functions (SURVEY §2.5 absences) — the
    // to_json -> from_json/get_json_object round trip must reproduce the
    // source columns exactly, so the oracle is the identity projection
    "f2_json_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      Tables(s, dir, "documents")
        .select(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))).as("j"))
        .select(from_json(col("j"), schema).as("p"),
          get_json_object(col("j"), "$.lang").as("lang_path"))
        .select(col("p.doc_id").as("doc_id"), col("p.lang").as("lang"),
          col("p.n_chars").as("n_chars"), col("lang_path"))
        .orderBy("doc_id")
    }),
    "f3_map_ops" -> ((s, dir) =>
      // map construction + lookup + size; identity-checkable projection
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          map_from_arrays(
            array(lit("lang"), lit("source")),
            array(col("lang"), col("source"))).as("m"))
        .select(col("doc_id"),
          element_at(col("m"), "lang").as("lang"),
          element_at(col("m"), "source").as("source"),
          size(col("m")).as("n_keys"))
        .orderBy("doc_id")),

    // --- E: event-time / date functions over events (SURVEY §2.5 absence)
    "e1_event_hourly" -> ((s, dir) =>
      Tables(s, dir, "events")
        // integer `div`: double division of ~1.7e18 nanos loses the last
        // ~8 bits and can misplace hour-boundary events vs the oracle
        .select(date_format(timestamp_micros(expr("ts div 1000")),
          "yyyy-MM-dd HH:00").as("hour"), col("event_type"))
        .groupBy("hour", "event_type").agg(count("*").as("n"))
        .orderBy("hour", "event_type")),
    "e6_sliding" -> ((s, dir) =>
      // Hopping (sliding) event-time windows — 1 h windows advancing
      // every 15 min, so each event lands in exactly 4 overlapping
      // windows: the trend-detection shape e1's tumbling windows can't
      // express. Spark's window() plans the 4 assignments as a narrow
      // explode in the scan projection (no self-join); the aggregate
      // stays one partial/final pair keyed by (window, type). The
      // oracle regenerates the same 4 hops per event with integer
      // arithmetic on epoch micros.
      Tables(s, dir, "events")
        .select(timestamp_micros(expr("ts div 1000")).as("t"),
          col("event_type"))
        .groupBy(window(col("t"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(expr("unix_micros(window.start)").as("w_start_us"),
          col("event_type"), col("n"))
        .orderBy("w_start_us", "event_type")),
    "e5_retention" -> ((s, dir) => {
      // cohort retention: users grouped by first-seen day, activity
      // counted per day offset — the classic growth-analytics matrix.
      // Two user-keyed aggregates and one user-keyed join over narrow
      // rows; distinct-user counting shuffles (cohort, offset, user)
      // triples, never event payloads.
      val ev = Tables(s, dir, "events")
        .select(col("user_id"),
          to_date(timestamp_micros(expr("ts div 1000"))).as("day"))
      val first = ev.groupBy("user_id").agg(min("day").as("cohort"))
      ev.join(first, "user_id")
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          datediff(col("day"), col("cohort")).as("day_offset"),
          col("user_id"))
        .groupBy("cohort", "day_offset")
        .agg(countDistinct("user_id").as("n_active"))
        .orderBy("cohort", "day_offset")
    }),
    "e10_cohort_ltv" -> ((s, dir) => {
      // cohort LTV triangle: per signup cohort (first-seen day), the
      // per-offset revenue and its CUMULATIVE total — the money face of
      // e5's retention matrix (the growth-analytics "LTV by cohort age"
      // curve). Value sums are cents-exact integers (the benford
      // precedent), so the running totals are summation-order
      // independent; the cumulative window runs over the BOUNDED
      // (cohort × offset) cell relation partitioned by cohort — never a
      // row-scaled window. Same two user-keyed aggregates + user-keyed
      // join scale shape as e5.
      val ev = Tables(s, dir, "events")
        .select(col("user_id"),
          to_date(timestamp_micros(expr("ts div 1000"))).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val first = ev.groupBy("user_id").agg(min("day").as("cohort"))
      val cells = ev.join(first, "user_id")
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          datediff(col("day"), col("cohort")).as("day_offset"),
          col("cents"))
        .groupBy("cohort", "day_offset").agg(sum("cents").as("c"))
      val wLtv = org.apache.spark.sql.expressions.Window
        .partitionBy("cohort").orderBy("day_offset")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      cells.select(col("cohort"), col("day_offset"),
        round(col("c").cast("double") / 100, 2).as("rev"),
        round(sum(col("c")).over(wLtv).cast("double") / 100, 2)
          .as("cum_ltv"))
        .orderBy("cohort", "day_offset")
    }),
    "e11_seasonality" -> ((s, dir) => {
      // hour-of-day seasonal index per event type: each type's hourly
      // profile against the corpus-wide profile (index > 1 = the hour is
      // over-represented for that type) — the seasonality screen a
      // volume-drift monitor consults before alerting. One fact shuffle
      // to the bounded (|type| × 24) cells; margins are second-level
      // aggregates broadcast back (the fe4/fe5 shape); the index is
      // n·N/(n_type·n_hod) on doubles derived from exact counts.
      val cells = Tables(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 3600000000000) % 24").as("hod"))
        .groupBy("event_type", "hod").agg(count(lit(1)).as("n"))
        .persist()
      val byType = cells.groupBy("event_type").agg(sum("n").as("n_type"))
      val byHod = cells.groupBy("hod").agg(sum("n").as("n_hod"))
      val tot = cells.agg(sum("n").as("n_tot"))
      cells.join(broadcast(byType), "event_type")
        .join(broadcast(byHod), "hod")
        .crossJoin(tot)
        .select(col("event_type"), col("hod"), col("n"),
          round(col("n").cast("double") / col("n_type"), 6).as("share"),
          round(col("n").cast("double") * col("n_tot")
            / (col("n_type").cast("double") * col("n_hod")), 6)
            .as("seasonal_index"))
        .orderBy("event_type", "hod")
    }),
    "w12_mad_anomaly" -> ((s, dir) => {
      // Robust anomaly flags: MAD z-scores per event type — w7's
      // mean/std z is itself dragged by the outliers it hunts (masking);
      // the median/MAD pair is the robust standard (Hampel identifier,
      // |0.6745·(v − med)/MAD| > 3.5). Two bounded per-type aggregates
      // (exact `percentile` ⇔ quantile_cont, the a6-proven parity)
      // broadcast back onto the scan; the z is ROUNDED BEFORE the
      // threshold per the repo convention.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .where(col("value").isNotNull)
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val mad = ev.join(broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
      ev.join(broadcast(mad), "event_type")
        .where(col("mad") > 0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(lit(0.6745) * (col("value") - col("med")) / col("mad"), 6)
            .as("rz"))
        .where(abs(col("rz")) > 3.5)
        .orderBy("event_id")
    }),
    "e12_holdout_lift" -> ((s, dir) => {
      // holdout conversion uplift with a two-proportion z-score — the
      // A/B readout every growth-analytics deployment runs; the "arms"
      // are the deterministic user_id % 2 split (integer arithmetic,
      // never RNG — the p8/p18 discipline). ONE distinct-counting
      // aggregate produces all four exact integers; the lift and the
      // pooled-variance z are closed forms on those integers, so both
      // engines compute identical doubles (the fe9 precedent), rounded
      // to 6dp. Scale: the exchange carries (cohort, user) pairs for
      // the distinct counts — 16 bytes/row — and the output is one row.
      // conversion = HIGH-VALUE purchase (value ≥ 200): on this event
      // mix every user purchases *something*, which would make plain
      // purchase-conversion degenerate (1.0 in both arms)
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("value"),
          pmod(col("user_id"), lit(2L)).as("cohort"))
      val conv = col("event_type") === "purchase" && col("value") >= 200.0
      val agg = ev.agg(
        countDistinct(when(col("cohort") === 0, col("user_id"))).as("n_ctl"),
        countDistinct(when(col("cohort") === 1, col("user_id"))).as("n_trt"),
        countDistinct(when(col("cohort") === 0 && conv, col("user_id")))
          .as("c_ctl"),
        countDistinct(when(col("cohort") === 1 && conv, col("user_id")))
          .as("c_trt"))
      val p0 = col("c_ctl").cast("double") / col("n_ctl")
      val p1 = col("c_trt").cast("double") / col("n_trt")
      val pPool = (col("c_ctl") + col("c_trt")).cast("double") /
        (col("n_ctl") + col("n_trt"))
      val se = sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("n_ctl") + lit(1.0) / col("n_trt")))
      agg.select(col("n_ctl"), col("n_trt"),
        round(p0, 6).as("conv_ctl"), round(p1, 6).as("conv_trt"),
        round(p1 - p0, 6).as("lift"),
        round(when(se > 0, (p1 - p0) / se), 6).as("z"))
    }),
    "e13_rfm" -> ((s, dir) => {
      // RFM segmentation — the customer-value grid every growth/CRM
      // deployment maintains: per customer, Recency (last order date),
      // Frequency (order count), Monetary (lifetime cents), each scored
      // 1-5 by exact global quintile, then the bounded 5×5×5 segment
      // grid with member counts and total spend. The quintiles come from
      // Ranks.withGlobalNtile over UNIQUE total orders (metric,
      // o_custkey) — the fe12 discipline: range exchange + broadcast
      // offsets, never a single-partition window, and the tie-break
      // makes the split engine-identical (RanksSpec pins the
      // Spark=DuckDB ntile convention). Higher score = later last
      // order / more orders / more spend. Scale: one orders shuffle to
      // the per-customer relation, three rank passes over CUSTOMERS
      // (not orders), one bounded aggregate out.
      // cents accumulate in DECIMAL(38,0) (the fe13/fe15/a19 exact-sum
      // discipline — a plain BIGINT sum would wrap silently at extreme
      // row counts); cast back to long only after each sum, mirroring
      // the twin's HUGEINT-then-BIGINT
      val perCust = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_dt"),
          count(lit(1)).as("freq"),
          sum(round(col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("long").as("cents"))
        .persist()
      // three rank passes over CUSTOMERS: size their range exchanges by
      // the measured customer count (r17, guide §2.2 — at sf0.1 each
      // pass otherwise paid session-width exchange+sort+collect stages
      // over ~15k rows; a 100 TB customer relation keeps the session
      // width). The count doubles as the perCust-cache materializer all
      // three passes read.
      val w = graft.functions.Staging.roundWidth(s, perCust.count())
      val r = Ranks.withGlobalNtile(perCust,
        Seq(col("last_dt"), col("o_custkey")), 5, "r_score", w)
      val rf = Ranks.withGlobalNtile(r,
        Seq(col("freq"), col("o_custkey")), 5, "f_score", w)
      val rfm = Ranks.withGlobalNtile(rf,
        Seq(col("cents"), col("o_custkey")), 5, "m_score", w)
      graft.CacheScope.owns(
        rfm.groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("cents").cast("decimal(38,0)")).cast("long")
              .as("total_cents"))
          .orderBy("r_score", "f_score", "m_score"),
        perCust)
    }),
    "e15_segment_migration" -> ((s, dir) => {
      // Customer value-segment MIGRATION matrix — what e13's static RFM
      // grid cannot show: split the corpus at its day midpoint, score
      // each customer's spend quintile in each half (the fe12/e13 exact
      // distributed ntile over UNIQUE (cents, custkey) orders), and
      // count customers per (first-half segment, second-half segment)
      // cell for customers active in BOTH halves. The upgrade/downgrade
      // off-diagonals are the churn-risk signal a lifecycle program
      // acts on. Exactness: integer day indexes (the e14 convention),
      // DECIMAL(38,0) cents sums cast back to long, the RanksSpec-pinned
      // ntile split. Scale: one orders scan into per-(customer, half)
      // cents, two rank passes over CUSTOMERS, one bounded 5x5 matrix.
      val di = expr("timestampdiff(DAY, timestamp_ntz'1970-01-01 " +
        "00:00:00', o_orderdate)")
      val base = Tables(s, dir, "orders")
        .select(col("o_custkey"), di.as("d"),
          round(col("o_totalprice") * 100).cast("decimal(38,0)")
            .as("cents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val span = base.agg(min("d").as("d0"), max("d").as("d1"))
      // Midpoint uses FLOOR division to match DuckDB's `//` even for a
      // negative (pre-1970) day-index sum: subtract pmod first so the
      // truncating `div` sees an exact multiple (ADVICE r13). The day
      // index `d` itself keeps the e14 positive-epoch convention.
      val half = base.crossJoin(broadcast(span))
        .select(col("o_custkey"),
          (col("d") <= expr(
            "(d0 + d1 - pmod(d0 + d1, 2)) div 2")).as("first_half"),
          col("cents"))
        .groupBy("o_custkey", "first_half")
        .agg(sum("cents").cast("long").as("cents"))
        .persist()
      // both rank passes read the counted (customer, half) cache; the
      // count sizes their range exchanges (r17, the e13 treatment)
      val w = graft.functions.Staging.roundWidth(s, half.count())
      val h1 = Ranks.withGlobalNtile(half.where(col("first_half")),
        Seq(col("cents"), col("o_custkey")), 5, "r_first", w)
        .select(col("o_custkey"), col("r_first"))
      val h2 = Ranks.withGlobalNtile(half.where(!col("first_half")),
        Seq(col("cents"), col("o_custkey")), 5, "r_second", w)
        .select(col("o_custkey"), col("r_second"))
      graft.CacheScope.owns(
        h1.join(h2, "o_custkey")
          .groupBy("r_first", "r_second")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("r_first", "r_second"),
        half)
    }),
    "e14_survival" -> ((s, dir) => {
      // Kaplan-Meier churn survival over customer LIFETIMES (days from
      // first to last order), with right-censoring: a customer whose
      // last order falls within 90 days of the corpus horizon is still
      // alive ("at risk"), not churned — dropping that distinction is
      // survival analysis's textbook bias. Per distinct event time t:
      // the risk set n_t (lifetimes >= t), churn events d_t, and
      // S(t) = prod_{u<=t}(1 - d_u/n_u).
      //
      // Cross-engine determinism: day indexes are exact integers
      // (complete days since the epoch, both engines); the KM product
      // re-expresses as exp(sum(ln(1 - d/n))) with each per-time ln term
      // QUANTIZED to a BIGINT at 1e12 (the priv5 grid argument:
      // an engine ln-ulp moves the pre-round value ~1e-4 grid steps),
      // prefix-summed exactly, ONE exp at the end, rounded to 6dp.
      // When n_t = d_t the curve hits exact 0 and a running flag pins
      // every later row to 0.0 (sum-over-NULL would silently revive it).
      //
      // Scale: two customer-keyed aggregates; every window runs over the
      // BOUNDED distinct-lifetime grid (days within the corpus span — a
      // deployment constant, not a row count; the e10 bounded-cells
      // argument). The horizon is a one-row broadcast cross join.
      val di = "timestampdiff(DAY, timestamp_ntz'1970-01-01 00:00:00', " +
        "o_orderdate)"
      // persisted: the horizon aggregate and the lifetime cells are two
      // consumers of the same customer-keyed relation — one orders scan,
      // not two (the e11 cells discipline; harness clearCache releases)
      val per = Tables(s, dir, "orders")
        .select(col("o_custkey"), expr(di).as("di"))
        .groupBy("o_custkey").agg(min("di").as("f"), max("di").as("l"))
        .persist()
      val mx = per.agg(max("l").as("m"))
      val cells = per.crossJoin(broadcast(mx))
        .select((col("l") - col("f")).as("dur"),
          (col("m") - col("l") > 90).as("event"))
        .groupBy("dur").agg(count(lit(1)).as("n_all"),
          sum(when(col("event"), 1L).otherwise(0L)).as("d"))
      val unb = org.apache.spark.sql.expressions.Window.unboundedPreceding
      val cur = org.apache.spark.sql.expressions.Window.currentRow
      val wDesc = org.apache.spark.sql.expressions.Window
        .orderBy(col("dur").desc).rowsBetween(unb, cur)
      val wAsc = org.apache.spark.sql.expressions.Window
        .orderBy(col("dur")).rowsBetween(unb, cur)
      cells.withColumn("n_risk", sum("n_all").over(wDesc))
        .where(col("d") > 0)
        .withColumn("tq", when(col("n_risk") > col("d"),
          round(log(lit(1.0) - col("d").cast("double")
            / col("n_risk").cast("double")) * lit(1e12)).cast("long"))
          .otherwise(lit(0L)))
        .withColumn("dead",
          max(when(col("n_risk") === col("d"), 1).otherwise(0)).over(wAsc))
        .withColumn("cq", sum("tq").over(wAsc))
        .select(col("dur").as("t_days"), col("n_risk"),
          col("d").as("d_events"),
          when(col("dead") === 1, lit(0.0))
            .otherwise(round(exp(col("cq").cast("double") / lit(1e12)), 6))
            .as("survival"))
        .orderBy("t_days")
    }),
    "w13_cusum" -> ((s, dir) => {
      // CUSUM changepoint screen over hourly volumes per event type —
      // the drift detector an ingestion monitor runs upstream of w7/w12's
      // pointwise outlier flags (a LEVEL SHIFT never trips a z-score but
      // accumulates in a CUSUM). The recursive statistic
      // S_t = max(0, S_{t-1} + y_t) is re-expressed with the
      // reflection identity S_t = cumsum_t − min(0, running_min(cumsum))
      // so both engines compute it with two stock window functions over
      // the BOUNDED (|type| × hours) cell relation — no recursion, no
      // row-scaled window. y_t = n·x_t − Σx (mean-centered, scaled by n)
      // keeps the whole recurrence in exact integers; the only float is
      // the final ratio against σ_scaled = sqrt(n·Σx² − (Σx)²), a
      // closed form on DECIMAL(38,0)-exact sums (fe9/fe13 precedent),
      // ROUNDED BEFORE the 4σ threshold per the repo convention.
      // Arithmetic lives in FeatureEng.cusumFace — ONE face shared with
      // the streaming monitor st29, the benford/psi/ks convention.
      val cells = Tables(s, dir, "events")
        .select(col("event_type"), expr("ts div 3600000000000").as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("x"))
      FeatureEng.cusumFace(cells)
    }),
    "w14_mann_kendall" -> ((s, dir) => {
      // Mann-Kendall trend test + Theil-Sen slope over hourly volumes
      // per event type — the robust MONOTONE-TREND detector that
      // completes the w-lane's drift family (w13's CUSUM sees level
      // SHIFTS; MK sees gradual drift a changepoint statistic smears
      // over): S = Σ sign(x_j − x_i) over all hour pairs i<j, the
      // tie-corrected variance n(n−1)(2n+5)/18 − Σ_t t(t−1)(2t+5)/18
      // (counts tie heavily — the correction is NOT optional on count
      // data), the continuity-corrected z, and the Theil-Sen median of
      // the pairwise slopes (the robust trend magnitude).
      //
      // Exactness: S, n, and the tie term are exact integers (the sign
      // fold and the tie triple products commute); z is ONE closed form
      // on their doubles, rounded BEFORE the 1.96 verdict; each pairwise
      // slope (x_j−x_i)/(h_j−h_i) is the identical double division in
      // both engines, and the median is the a6-proven exact
      // percentile ⇔ quantile_cont parity over the identical multiset.
      //
      // Scale: the pair relation is |type| × hours² — hours grow with
      // TIME, not data volume (a deployment constant like w13's cells);
      // the type-keyed self-join carries 24-byte cell rows and the
      // per-type aggregates fold it without materialization.
      val cells = Tables(s, dir, "events")
        .select(col("event_type"), expr("ts div 3600000000000").as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("x"))
        .persist()
      val pairs = cells.select(col("event_type"),
          col("hr").as("h1"), col("x").as("x1"))
        .join(cells.select(col("event_type"),
          col("hr").as("h2"), col("x").as("x2")), Seq("event_type"))
        .where(col("h2") > col("h1"))
      val pstats = pairs.groupBy("event_type").agg(
        sum(signum(col("x2") - col("x1")).cast("long")).as("s_stat"),
        expr("percentile((x2 - x1) / (h2 - h1), 0.5)").as("sen_raw"))
      val ties = cells.groupBy(col("event_type"), col("x"))
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(sum(col("c") * (col("c") - 1) * (lit(2L) * col("c") + 5))
          .as("tie_term"))
      val nh = cells.groupBy("event_type").agg(count(lit(1)).as("n"))
      val varS = (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5)
        - col("tie_term")).cast("double") / lit(18.0)
      val z = when(varS > 0,
        when(col("s_stat") > 0,
          (col("s_stat") - lit(1L)).cast("double") / sqrt(varS))
          .when(col("s_stat") < 0,
            (col("s_stat") + lit(1L)).cast("double") / sqrt(varS))
          .otherwise(lit(0.0)))
      nh.join(broadcast(pstats), "event_type")
        .join(broadcast(ties), "event_type")
        .select(col("event_type"), col("n").as("n_hours"),
          col("s_stat"), round(z, 6).as("z"),
          (abs(round(z, 6)) > 1.96).as("trend"),
          round(col("sen_raw"), 6).as("sen_slope"))
        .orderBy("event_type")
    }),
    "a18_mode" -> ((s, dir) => {
      // exact per-group MODE with a deterministic tie-break (largest
      // count, then smallest hour) — the categorical profiling statistic
      // the a11/a12 profilers lack. One bounded (|type| × 24) counting
      // aggregate, then a row_number over the BOUNDED cell relation
      // partitioned by type — never a row-scaled window.
      val cells = Tables(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 3600000000000) % 24").as("hod"))
        .groupBy("event_type", "hod").agg(count(lit(1)).as("n"))
      val wm = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("n").desc, col("hod"))
      cells.withColumn("rn", row_number().over(wm))
        .where(col("rn") === 1)
        .select(col("event_type"), col("hod").as("mode_hod"), col("n"))
        .orderBy("event_type")
    }),
    "a19_moments" -> ((s, dir) => {
      // exact higher-moment profile per priority class: skewness and
      // excess kurtosis from raw power sums — the distribution-shape
      // columns a12's profiler lacks (a z-score monitor tuned on a
      // skewed column fires asymmetrically; the profile says so BEFORE
      // deployment). Values are integer dollars (round(o_totalprice)):
      // v^4 stays inside DECIMAL(38,0) up to ~1e12 rows, so all four
      // power sums are EXACT and the central-moment closed forms run
      // once per bounded group on identical doubles in both engines
      // (the fe13/fe14 discipline) — no float summation across rows,
      // nothing to quantize. One scan, one bounded aggregate.
      val v = round(col("o_totalprice")).cast("long")
      val vd = v.cast("decimal(38,0)")
      val g = Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"), sum(vd).as("s1"),
          sum(vd * v).as("s2"), sum(vd * v * v).as("s3"),
          sum(vd * v * v * v).as("s4"))
      val nD = col("n").cast("double")
      val mu = col("s1").cast("double") / nD
      val m2 = col("s2").cast("double") / nD - mu * mu
      val m3 = col("s3").cast("double") / nD -
        lit(3.0) * mu * (col("s2").cast("double") / nD) +
        lit(2.0) * mu * mu * mu
      val m4 = col("s4").cast("double") / nD -
        lit(4.0) * mu * (col("s3").cast("double") / nD) +
        lit(6.0) * mu * mu * (col("s2").cast("double") / nD) -
        lit(3.0) * mu * mu * mu * mu
      g.select(col("priority"), col("n"),
          round(when(m2 > 0, m3 / sqrt(m2 * m2 * m2)), 6).as("skewness"),
          round(when(m2 > 0, m4 / (m2 * m2) - lit(3.0)), 6)
            .as("ex_kurtosis"))
        .orderBy("priority")
    }),
    "a20_iqr_outliers" -> ((s, dir) => {
      // Tukey-fence outlier audit per event type — the robust anomaly
      // count a monitoring profile quotes next to a12's mean/stddev
      // (z-scores assume normality; the IQR fence doesn't): Q1/Q3 via
      // the EXACT percentile (the a6-proven percentile ⇔ quantile_cont
      // parity), fences Q1 − 1.5·IQR / Q3 + 1.5·IQR rounded 6dp BEFORE
      // the comparison (rounded-before-thresholded), outliers counted
      // against the rounded fences. Scale: one bounded per-type
      // aggregate (|type| rows broadcast back), one counting pass.
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("value"))
      val q = ev.groupBy("event_type").agg(
          expr("percentile(value, 0.25)").as("q1"),
          expr("percentile(value, 0.75)").as("q3"))
        .select(col("event_type"),
          round(col("q1") - lit(1.5) * (col("q3") - col("q1")), 6).as("lo"),
          round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 6).as("hi"))
      ev.join(broadcast(q), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
            .otherwise(0L)).as("n_outliers"),
          min(col("lo")).as("lo_fence"), min(col("hi")).as("hi_fence"))
        .withColumn("outlier_frac",
          round(col("n_outliers").cast("double") / col("n"), 6))
        .orderBy("event_type")
    }),
    "e4_funnel" -> ((s, dir) => {
      // strict sequential funnel view -> click -> purchase per user:
      // each stage's first qualifying event must be STRICTLY after the
      // previous stage's. Three user-keyed min-aggregates chained by
      // user-keyed joins over (user_id, ts) rows — at 100 TB every
      // exchange carries 16 bytes/row and the per-stage relations only
      // shrink. Counts + rounded conversion rates, one row.
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.where(col("event_type") === "click").join(v, "user_id")
        .where(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
        .where(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
        .select(col("n_view"), col("n_click"), col("n_purchase"),
          when(col("n_view") > 0,
            round(col("n_click").cast("double") / col("n_view"), 6))
            .as("view_to_click"),
          when(col("n_click") > 0,
            round(col("n_purchase").cast("double") / col("n_click"), 6))
            .as("click_to_purchase"))
    }),
    "t26_char_entropy" -> ((s, dir) => // char-distribution gibberish signal
      TextAnalysis.charEntropy(Tables(s, dir, "documents"))
        .orderBy("doc_id")),
    "e3_gapfill" -> ((s, dir) => {
      // time-series gap fill: a generated hour spine (min..max hour ×
      // event types) left-joins the sparse counts, missing cells become
      // zero. The spine is (time range × type cardinality) rows — tiny at
      // any data scale, broadcast into the join; only the counts shuffle.
      val ev = Tables(s, dir, "events")
        .select(expr("ts div 3600000000000").as("hr"), col("event_type"))
      val counts = ev.groupBy("hr", "event_type").agg(count(lit(1)).as("n"))
      val spine = ev.agg(min("hr").as("lo"), max("hr").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("hr"))
        .crossJoin(ev.select("event_type").distinct())
      spine.join(counts, Seq("hr", "event_type"), "left")
        .select(col("hr"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("hr", "event_type")
    }),
    "e2_sessionize" -> ((s, dir) => {
      // session windows (30-min inactivity gap) per user — the classic
      // event-stream sessionization, via the built-in session_window
      // (state merges inside one shuffle on user_id; no self-join)
      val ev = Tables(s, dir, "events")
        .select(timestamp_micros(expr("ts div 1000")).as("event_time"),
          col("user_id"))
      ev.groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
        .agg(count("*").as("n"))
        .groupBy("user_id")
        .agg(count("*").as("n_sessions"),
          sum("n").as("n_events"),
          max("n").as("max_session_events"))
        .orderBy("user_id")
    }),
    "e7_dynamic_sessions" -> ((s, dir) => {
      // DYNAMIC-gap sessionization: the inactivity window depends on the
      // event itself (engagement events hold a session open 15 min,
      // everything else 45) — session_window's expression-gap form, a
      // different planner path from e2's static gap (per-row window
      // construction feeding the same merging state). The oracle
      // rebuilds the islands with a running max of per-event window
      // ends, the exact merge rule the variable gap induces.
      val ev = Tables(s, dir, "events")
        .select(timestamp_micros(expr("ts div 1000")).as("event_time"),
          col("user_id"),
          when(col("event_type").isin("view", "click"), lit("15 minutes"))
            .otherwise(lit("45 minutes")).as("gap"))
      ev.groupBy(col("user_id"),
          session_window(col("event_time"), col("gap")))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum("n").as("n_events"),
          max("n").as("max_session_events"))
        .orderBy("user_id")
    }),

    "w7_zscore_anomaly" -> ((s, dir) => {
      // streaming-telemetry outlier flagging: each event's value scored
      // against the trailing 50 same-type events' mean/σ (full-frame
      // only, σ > 0), |z| > 3 flagged. Frames ride a per-type window
      // partition (bounded-cardinality keys, the w3 family); both
      // engines aggregate the identical ordered frame, z rounds to 6.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-50, -1)
      Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          col("ts"),
          count(lit(1)).over(w).as("n_prev"),
          avg("value").over(w).as("mu"),
          stddev_samp(col("value")).over(w).as("sd"))
        .where(col("n_prev") === 50 && col("sd") > 0)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"),
          round((col("value") - col("mu")) / col("sd"), 6).as("z"))
        .where(abs(col("z")) > 3)
        .orderBy("event_id")
    }),
    "w8_rolling_median" -> ((s, dir) => {
      // Rolling MEDIAN over each user's trailing 15 readings — the
      // outlier-robust smoother w6's EWMA is not (one wild reading moves
      // every mean-based stat; the median shrugs). Spark has no median
      // window function, so the BOUNDED 15-row frame collects into an
      // in-task array sorted per row — O(frame·log frame) per row at a
      // CONSTANT frame width, the sanctioned shape for small-frame order
      // statistics (an unbounded frame would be the scale bug, not the
      // collect). DuckDB's native windowed median (interpolating the even
      // case exactly like the two-middle average here) is the oracle.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-14, 0)
      Tables(s, dir, "events").where(col("user_id") <= 50)
        .select(col("user_id"), col("event_id"), round(col("value"), 6)
          .as("value"),
          sort_array(collect_list(col("value")).over(w)).as("s"))
        .withColumn("n", size(col("s")))
        .select(col("user_id"), col("event_id"), col("value"),
          round(when(col("n") % 2 === 1,
            element_at(col("s"), expr("cast((n + 1) div 2 as int)")))
            .otherwise((element_at(col("s"), expr("cast(n div 2 as int)"))
              + element_at(col("s"), expr("cast(n div 2 + 1 as int)")))
              / 2.0), 6)
            .as("roll_median"))
        .orderBy("user_id", "event_id")
    }),
    "w10_winsorize" -> ((s, dir) => {
      // Winsorization — percentile-clipped features, the standard
      // outlier-robust normalization before model training: per-type
      // p01/p99 cut points (EXACT percentile over the BOUNDED type
      // domain — 5 groups, so the sort-based aggregate is tiny; a6's
      // exact-vs-sketch split applies if the group domain ever grows),
      // broadcast back over one scan, values clamped with a was_clipped
      // audit flag. At 100 TB: one bounded aggregate + one broadcast
      // join + one projection pass.
      val ev = Tables(s, dir, "events")
      val cuts = ev.groupBy("event_type").agg(
        expr("percentile(value, 0.01)").as("lo"),
        expr("percentile(value, 0.99)").as("hi"))
      ev.join(broadcast(cuts), "event_type")
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"),
          round(least(greatest(col("value"), col("lo")), col("hi")), 6)
            .as("clipped"),
          (col("value") < col("lo") || col("value") > col("hi"))
            .as("was_clipped"))
        .orderBy("event_id")
    }),
    "w9_autocorr" -> ((s, dir) => {
      // Lag-1 autocorrelation of each user's reading sequence — the
      // time-series memory feature (is the signal trending or white?).
      // One lag() window pass builds the (x_i, x_{i-1}) pairs, then a
      // per-user corr aggregate: partial/final co-moment merge, exchanges
      // carry one row per user. Pearson r is invariant to the 1/n vs
      // 1/(n-1) convention, so Spark's corr and DuckDB's corr agree to
      // double noise, far inside the 6-decimal rounding. Degenerate
      // (zero-variance) series emit NULL on both engines by the guard.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev"))
        .where(col("prev").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          when(stddev_samp(col("value")) > 0
              && stddev_samp(col("prev")) > 0,
            round(corr(col("value"), col("prev")), 6)).as("rho"))
        .orderBy("user_id")
    }),
    "e8_markov" -> ((s, dir) => {
      // first-order Markov transition matrix over each user's event
      // sequence: lead() windowed PER USER (bounded partitions, the e2
      // scale contract — never a global sequence sort), then transition
      // probabilities via a partitioned window over the (type × type)
      // relation, which is bounded by event-type cardinality squared.
      // The sequence-model feature layer for behavioral events.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tr = Tables(s, dir, "events")
        .select(col("event_type").as("prev_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .where(col("next_type").isNotNull)
        .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
      tr.withColumn("p",
          round(col("n") / sum("n").over(Window.partitionBy("prev_type")), 6))
        .orderBy("prev_type", "next_type")
    }),
    "e9_attribution" -> ((s, dir) => {
      // last-touch attribution: each purchase credits the most recent
      // preceding click/view by the same user within a 7-day lookback,
      // else 'organic'. The carried last-touch rides the same per-user
      // forward-fill frame as w5 (bounded partitions, never a global
      // sort); `last(..., ignoreNulls)` over a running frame is a
      // single-pass window — no self-join against the touch set, which
      // at 100 TB would rebuild the event table per purchase.
      import org.apache.spark.sql.expressions.Window
      val lookbackNs = 7L * 24 * 3600 * 1000000000L
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touched = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
          last(when(col("event_type").isin("click", "view"),
            struct(col("ts").as("t_ts"), col("event_id").as("t_id"),
              col("event_type").as("t_type"))), ignoreNulls = true)
            .over(w).as("touch"))
      val inWin = col("touch").isNotNull &&
        col("ts") - col("touch.t_ts") <= lit(lookbackNs)
      touched.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          expr("ts div 1000").as("purchase_ts_us"),
          when(inWin, col("touch.t_id")).as("touch_id"),
          when(inWin, col("touch.t_type")).otherwise(lit("organic"))
            .as("channel"))
        .orderBy("purchase_id")
    }),

    // --- W: window functions (beyond the reference; SURVEY §2.7 gap)
    "w1_window_share" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      BloomPipeline.linecount(Ratings.fromLineitem(s, dir))
        .withColumn("share", round(col("n") / sum("n").over(Window.partitionBy()), 6))
        .orderBy("rating")
    }),
    "w2_topn_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .orderBy("o_orderpriority", "rn")
    }),

    "w5_ffill" -> ((s, dir) => {
      // Forward fill (last non-null carried forward) — the sparse-signal
      // repair of event pipelines: error events carry no reading (nullif
      // plants the gaps), each user's stream fills from its own past via
      // last(..., ignoreNulls) over a unique total order. One window
      // pass, shuffled on user_id only.
      import org.apache.spark.sql.expressions.Window
      // micros-grain ordering (+ event_id), the oracle's exact grain —
      // see j10/w6 for the storage-precision-drift rationale
      val w = Window.partitionBy("user_id")
        .orderBy(expr("ts div 1000"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .where(col("user_id") <= 200) // bounded output; fill logic intact
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "error", lit(null))
            .otherwise(col("value")).as("reading"))
        .withColumn("filled", last("reading", ignoreNulls = true).over(w))
        .select("user_id", "event_id", "reading", "filled")
        .orderBy("user_id", "event_id")
    }),

    "w6_ewma" -> ((s, dir) => {
      // Exponentially-weighted moving average per user over the 32 most
      // recent events — the time-decayed feature engineering op (fraud /
      // engagement scoring). α = 1/2 on purpose: every decay weight is a
      // power of two, so the scale factors are EXACT in binary floating
      // point and the only rounding is the ordered cumulative sum, which
      // both engines execute in the identical (ts, event_id) frame order
      // — cross-engine exact like the w3 frames. The closed form of
      // s_i = α·x_i + (1−α)·s_{i−1}, s_1 = x_1 over m rows is
      // (2·x_1 + Σ_{i≥2} x_i·2^{i−1}) / 2^m. Bounding history to 32
      // events bounds the weights (and is the production shape: a
      // decayed feature over unbounded history is state, over a bounded
      // suffix it's a window). One shuffle on user_id for both windows.
      import org.apache.spark.sql.expressions.Window
      // both windows order by the derived MICROS key + event_id — the
      // oracle's exact grain — so same-micro ties can never order
      // differently across engines (raw nanos ts would, if storage
      // precision drifts back below the microsecond)
      val recentW = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val seqW = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      val cumW = seqW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .withColumn("rd", row_number().over(recentW))
        .where(col("rd") <= 32)
        .withColumn("i", row_number().over(seqW))
        .withColumn("m", count(lit(1)).over(Window.partitionBy("user_id")))
        .withColumn("cum",
          sum(col("value") *
            when(col("i") === 1, lit(2.0)).otherwise(pow(lit(2.0), col("i") - 1)))
            .over(cumW))
        .where(col("i") === col("m"))
        .select(col("user_id"), col("m").as("n_events"),
          round(col("cum") / pow(lit(2.0), col("m")), 6).as("ewma"))
        .orderBy("user_id")
    }),
    "w3_frames" -> ((s, dir) => {
      // rows-frame running aggregates + lag over a unique total order per
      // key. Frame aggregates chosen for cross-engine exactness: sums of
      // integral-valued doubles and min/max are order-insensitive, where a
      // running avg's last-bit drift could flip a rounding boundary.
      import org.apache.spark.sql.expressions.Window
      val ord = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy("l_suppkey").orderBy(ord: _*)
      Tables(s, dir, "lineitem")
        .where(col("l_suppkey") <= 10) // bounded output; frame logic intact
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum("l_quantity").over(w.rowsBetween(-3, 0)).as("mov_qty"),
          max("l_extendedprice").over(w.rowsBetween(-3, 0)).as("mov_max"),
          lag("l_extendedprice", 1).over(w).as("prev_price"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),
    "w4_rank_family" -> ((s, dir) => {
      // the full ranking family over one window pass; ordering keys are
      // unique so peer groups are single rows -> all four deterministic
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .withColumn("q4", ntile(4).over(w))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .where(col("rn") <= 100)
        .drop("o_totalprice")
        .orderBy("o_orderpriority", "rn")
    }),

    // --- Bloom pipeline (SURVEY §2.4 A2/A3, §2.3 J1/J2, §2.2 P3/P4)
    "bloom_geometry" -> ((s, dir) =>
      BloomPipeline.sized(
        BloomPipeline.linecount(Ratings.trainFromLineitem(s, dir)), defaultP)
        .orderBy("rating")),
    "bloom_filters" -> ((s, dir) =>
      BloomPipeline.buildFilters(Ratings.trainFromLineitem(s, dir), defaultP)
        .orderBy("rating")),
    "bloom_fpstats" -> ((s, dir) =>
      BloomPipeline.endToEnd(
        Ratings.trainFromLineitem(s, dir),
        Ratings.testFromLineitem(s, dir), defaultP).orderBy("rating")),
    "bloom_probe_totals" -> ((s, dir) => {
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
    "bloom_zero_fn" -> ((s, dir) => {
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
    "a2_indexed_equiv" -> ((s, dir) => {
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
    "bloom_reload_probe" -> ((s, dir) => {
      // Reference lifecycle S3/S4+K2/K3: build -> persist artifact ->
      // reload -> probe. hits == total by zero-FN, so fully oracle-checked.
      // The artifact is a write-once fixture (Bench materializes it in the
      // untimed setup pass), so the timed region is reload + probe — the
      // capability this query names. The reload mirrors the reference
      // testers exactly: load the persisted filters driver-side, ship once
      // per worker, probe as a projection.
      val train = Ratings.trainFromLineitem(s, dir)
      val path = fixtures("filters")(s, dir)
      val bc = s.sparkContext.broadcast(
        BloomPipeline.collectFilters(FilterStore.load(s, path)))
      probeTotals(BloomPipeline.fpStatsCollected(train, bc))
    }),
    "bloom_seqfile_reload" -> ((s, dir) => {
      // S3/K2 LITERAL-format parity: the same reload -> probe lifecycle
      // as bloom_reload_probe, but through the reference's own Hadoop
      // SequenceFile artifact instead of the production Parquet one.
      // hits == total by zero-FN, so fully oracle-checked.
      val train = Ratings.trainFromLineitem(s, dir)
      val path = fixtures("filters_seq")(s, dir)
      val bc = s.sparkContext.broadcast(
        BloomPipeline.collectFilters(FilterStore.loadSequenceFile(s, path)))
      probeTotals(BloomPipeline.fpStatsCollected(train, bc))
    }),
    "bloom_sharded_reload" -> ((s, dir) => {
      // The 100 TB lifecycle: sharded build -> persist slab artifact ->
      // reload -> route -> probe (slabs may be too many to collect OR to
      // broadcast, so the probe is the cogroup shape of
      // BloomPipeline.fpStatsSharded — r15). hits == total by zero-FN on
      // the train split, so fully oracle-checked.
      val train = Ratings.trainFromLineitem(s, dir)
      val path = fixtures("sharded_filters")(s, dir)
      probeTotals(BloomPipeline.fpStatsSharded(train, FilterStore.load(s, path)))
    }),
    "k5_csv_roundtrip" -> ((s, dir) => {
      // CSV sink with real quoting/escaping (commas, quotes, newlines in
      // document text survive), then read back with an explicit schema and
      // multiLine — the lossless interchange path the raw text sink (K1)
      // can't provide. multiLine costs split-parallelism on read (quoted
      // newlines defeat line-splitting), so it's the archival/interchange
      // sink, not the hot ingest path.
      val path = fixtures("docs_csv")(s, dir)
      val src = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          concat(lit("\"q\", \n"), col("text")).as("text"))
      s.read.schema(src.schema)
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .csv(path)
        .orderBy("doc_id")
    }),
    "k1_text_roundtrip" -> ((s, dir) => {
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
    "s5_json_malformed" -> ((s, dir) => {
      // §2.6 for the JSONL corpus lane: PERMISSIVE + _corrupt_record,
      // corrupt count observed on the same job, clean rows returned.
      // The oracle knows which lines the fixture broke (doc_id % 50).
      val path = fixtures("docs_jsonl_dirty")(s, dir)
      Ingest.readDocsJsonObserved(s, path,
          new org.apache.spark.sql.Observation())
        .orderBy("doc_id")
    }),
    "s6_schema_evolution" -> ((s, dir) => {
      // Schema evolution at the source: two dataset generations written
      // with different schemas (gen=1 predates n_chars) read back in ONE
      // mergeSchema scan — the 100 TB reality where years of files
      // differ. Partition discovery supplies `gen`; the missing column
      // null-fills, and the rollup proves both the union and the fill
      // (non-null counts only on gen=2). mergeSchema costs one footer
      // read per file at planning — at real scale the merged schema
      // lives in a catalog and the per-file cost disappears.
      val path = fixtures("docs_evolved")(s, dir)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("gen").cast("long").as("gen"))
        .agg(count(lit(1)).as("n"),
          count(col("n_chars")).as("n_with_chars"),
          sum("n_chars").as("total_chars"))
        .orderBy("gen")
    }),
    "s2_jsonl_ingest" -> ((s, dir) => {
      // JSONL sink + scan round trip — the fourth corpus format next to
      // parquet (Tables), TSV (s1) and text (k1); schema-explicit read so
      // no inference pass at scale
      import org.apache.spark.sql.types._
      val path = fixtures("docs_jsonl")(s, dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(path).orderBy("doc_id")
    }),
    "k9_zorder" -> ((s, dir) => // multi-dim clustering manifest (OPTIMIZE
      // ZORDER planning face; write path = repartitionByRange over zval)
      Layout.zorderManifest(Tables(s, dir, "lineitem")).orderBy("file_id")),
    "k10_hilbert" -> ((s, dir) => // Hilbert-curve clustering: k9's manifest
      // with the jump-free curve (liquid-clustering trade; see Layout)
      Layout.hilbertManifest(Tables(s, dir, "lineitem")).orderBy("file_id")),
    "k11_skip_stats" -> ((s, dir) => // files a pruned band scan touches
      // under linear/zorder/hilbert at the same file budget (see Layout)
      Layout.skipStats(Tables(s, dir, "lineitem"))),
    "k8_compact" -> ((s, dir) => {
      // Small-files compaction — the table-maintenance op every long-run
      // ingest needs (streaming sinks and per-batch appends fragment a
      // table into thousands of tiny files whose open/footer cost
      // eventually dominates scans). The rewrite IS the measured
      // capability: read the fragmented layout, coalesce to the target
      // file count, prove the row set survived and the file count fell.
      // At 100 TB the same plan runs per partition with the target count
      // derived from bytes/targetFileSize.
      val frag = s.read.parquet(fixtures("docs_fragmented")(s, dir))
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
    "k3_range_sink" -> ((s, dir) => {
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
    "k2_partitioned_sink" -> ((s, dir) => {
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
    "s3_split_sizing" -> ((s, dir) => {
      // S2 (NLine split sizing) made concrete: a line-based text source
      // splits at byte boundaries, so shrinking maxPartitionBytes fans
      // the scan out across tasks — the knob that balances 100 TB of
      // text across executors. Executed inside the conf scope (restored
      // after); oracle checks the row count and the >1-split invariant.
      val path = fixtures("split_tsv")(s, dir)
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
    "s1_tsv_ingest" -> ((s, dir) => {
      // S1 TSV scan + F1/F2/F3 parse/cast/round: materialize the ratings
      // TSV shape (movieId, averageRating, numVotes) from lineitem, then
      // ingest it through the reference-parity reader.
      val path = fixtures("ratings_tsv")(s, dir)
      Ingest.readRatingsTsv(s, path).orderBy("movieId")
    }),

    // --- Sharded bloom (the 100 TB shape; slab size forced small here so
    // even sf0.01 groups split into multiple shards and the routing is
    // genuinely exercised)
    "bloom_sharded_geometry" -> ((s, dir) =>
      BloomPipeline.shardedSized(
        BloomPipeline.linecount(Ratings.trainFromLineitem(s, dir)),
        defaultP, maxSlabBits = shardedSlabBits).orderBy("rating")),
    "bloom_sharded_zero_fn" -> ((s, dir) => {
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
    "bloom_sharded_fpstats" -> ((s, dir) => // bit-valued internals -> rows-only
      // COGROUP FP face (r15): the per-rating (fp, total, rate) output on
      // the probe shape whose per-probe cost stays k hashes at any slab
      // size (a join-form slab probe's per-row getBinary memcpy priced at
      // 1071.8s for 8 MB slabs in the r14 sf5 campaign)
      BloomPipeline.fpStatsSharded(
        Ratings.testFromLineitem(s, dir),
        BloomPipeline.buildShardedFilters(
          Ratings.trainFromLineitem(s, dir), defaultP, shardedSlabBits))
        .orderBy("rating")),
    "bloom_approx_geometry" -> ((s, dir) => {
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
    "bloom_fp_bound" -> ((s, dir) =>
      BloomPipeline.endToEnd(
        Ratings.trainFromLineitem(s, dir),
        Ratings.testFromLineitem(s, dir), defaultP)
        .agg(count("*").as("groups"),
          sum(when(col("fpRate") > defaultP * 2, 1L).otherwise(0L))
            .as("violations"))),
    "bloom_sharded_fp_bound" -> ((s, dir) =>
      // the green FP-bound gate rides the COGROUP face (r15), the
      // scale-safe sharded probe
      BloomPipeline.fpStatsSharded(
        Ratings.testFromLineitem(s, dir),
        BloomPipeline.buildShardedFilters(
          Ratings.trainFromLineitem(s, dir), defaultP, shardedSlabBits))
        .agg(count("*").as("groups"),
          sum(when(col("fpRate") > defaultP * 2, 1L).otherwise(0L))
            .as("violations"))),

    // --- T: text analysis over documents (LLM-pipeline layer)
    "t1_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(Tables(s, dir, "documents")).orderBy("doc_id")),
    "t2_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables(s, dir, "documents")).orderBy("doc_id")),
    "t3_langid" -> ((s, dir) =>
      TextAnalysis.langId(Tables(s, dir, "documents")).orderBy("doc_id")),
    "t14_gopher_filter" -> ((s, dir) => // published rule-gate quality pass
      TextAnalysis.gopherFilter(Tables(s, dir, "documents")).orderBy("doc_id")),
    "t16_hashed_lr" -> ((s, dir) => // feature-hashed linear scorer, one pass
      TextAnalysis.hashedLrQuality(Tables(s, dir, "documents")).orderBy("doc_id")),
    "dedup_passage" -> ((s, dir) => // sub-document first-occurrence dedup
      Dedup.passageDedup(Tables(s, dir, "documents")).orderBy("doc_id")),
    "t17_boilerplate_rate" -> ((s, dir) => // per-source sub-doc repeat rate
      Dedup.boilerplateRate(Tables(s, dir, "documents")).orderBy("source")),
    "p10_temperature_mix" -> ((s, dir) => // temperature-weighted source mix
      Sampling.temperatureMix(Tables(s, dir, "documents")).orderBy("source")),
    "p11_shuffle_shards" -> ((s, dir) => // seeded global shuffle -> shards
      Sampling.shuffleShards(Tables(s, dir, "documents")).orderBy("shard", "pos")),
    "p12_token_budget" -> ((s, dir) => // per-source epoch plan for a budget
      Sampling.tokenBudget(Tables(s, dir, "documents"), budget = 100000L)
        .orderBy("source")),
    "t4_shingle_fp" -> ((s, dir) => // mmh3-valued -> rows-only check
      TextAnalysis.shingleFingerprint(Tables(s, dir, "documents")).orderBy("doc_id")),
    "t4_verify" -> ((s, dir) => {
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
    "t5_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(Tables(s, dir, "documents"), topK = 50)),
    "t18_quality_calibrate" -> ((s, dir) => // keep-rate -> quality cutoff
      Sampling.calibrateQuality(Tables(s, dir, "documents"), keepPct = 30)
        .orderBy("source")),
    "p13_curriculum" -> ((s, dir) => // quality-ordered training phases
      Sampling.curriculumPhases(Tables(s, dir, "documents"), nPhases = 4)
        .orderBy("doc_id")),
    "p14_weighted_sample" -> ((s, dir) => // fixed-SIZE weighted draw (E-S)
      Sampling.weightedSample(Tables(s, dir, "documents"), k = 100)),
    "p15_stratified_es" -> ((s, dir) => // k-per-source draw, same priority
      Sampling.stratifiedWeightedSample(Tables(s, dir, "documents"),
        kPerGroup = 5)),
    "p17_consistent_sample" -> ((s, dir) => // md5-ranked stable per-lang draw
      Sampling.consistentSample(Tables(s, dir, "documents"), kPerGroup = 5)),
    "p19_domain_mix" -> ((s, dir) => {
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
    "p18_kfold" -> ((s, dir) =>
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
    "t19_oov_rate" -> ((s, dir) => // tokenizer-coverage audit vs top-K vocab
      TextAnalysis.oovRate(Tables(s, dir, "documents"), topK = 50)
        .orderBy("doc_id")),
    "t28_vocab_growth" -> ((s, dir) => // Heaps'-law curve: vocab vs corpus
      TextAnalysis.vocabGrowth(Tables(s, dir, "documents"), nBuckets = 10)),
    "t29_zipf_slope" -> ((s, dir) => // rank-frequency head fit (Zipf audit)
      TextAnalysis.zipfSlope(Tables(s, dir, "documents"), topK = 100)),
    "t20_token_drift" -> ((s, dir) => // crawl-over-crawl distribution drift
      TextAnalysis.tokenDrift(Tables(s, dir, "documents"),
        col("source").isin(batchASources: _*), topK = 50).orderBy("token")),
    "t21_unigram_lm" -> ((s, dir) => // CCNet-style LM cross-entropy score
      TextAnalysis.unigramLmScore(Tables(s, dir, "documents"))
        .orderBy("doc_id")),
    "t32_perplexity_filter" -> ((s, dir) => // CCNet head/middle/tail split
      TextAnalysis.perplexityFilter(Tables(s, dir, "documents"))),
    "t33_auc" -> ((s, dir) => // exact histogram ROC-AUC of the t16 scorer
      TextAnalysis.aucOfHashedLr(Tables(s, dir, "documents"),
        array_contains(TextAnalysis.tokens(col("text")), "spark"))),
    "t34_calibration" -> ((s, dir) => // reliability curve of the t16 scorer
      TextAnalysis.calibrationOfHashedLr(Tables(s, dir, "documents"),
        array_contains(TextAnalysis.tokens(col("text")), "spark"))),
    "t40_tfidf_retrieval" -> ((s, dir) => // inverted-index sparse cosine
      // retrieval: quantized-idf integer weights, exact dot/norms
      TextAnalysis.tfidfRetrieval(Tables(s, dir, "documents"))),
    "t41_contamination" -> ((s, dir) => // eval-vs-train n-gram overlap
      // screen: eval shingle set broadcasts, corpus never self-joined
      Dedup.contaminationReport(Tables(s, dir, "documents"))),
    "t42_ngram_novelty" -> ((s, dir) => // per-doc first-occurrence
      // n-gram novelty: the corpus-diversity curve (min-doc attribution,
      // one explode, no window, no self-join)
      Dedup.ngramNovelty(Tables(s, dir, "documents"))),
    "t38_zipf" -> ((s, dir) => // quantized-log Zipf rank-frequency fit
      TextAnalysis.zipfAudit(Tables(s, dir, "documents"))),
    "t39_heaps" -> ((s, dir) => // Heaps'-law vocabulary-growth fit
      TextAnalysis.heapsAudit(Tables(s, dir, "documents"))),
    "t43_js_domains" -> ((s, dir) => // pairwise Jensen-Shannon between
      // the sources' unigram distributions (absent-mass folded exactly)
      TextAnalysis.jsDivergence(Tables(s, dir, "documents"))),
    "t45_readability" -> ((s, dir) => // Flesch reading-ease profile:
      // cross-engine-exact counting rules, one narrow projection
      TextAnalysis.readability(Tables(s, dir, "documents"))
        .orderBy("doc_id")),
    "t46_code_detect" -> ((s, dir) => // code-vs-prose structural screen:
      // symbol + indent densities, rounded-before-thresholded verdict
      TextAnalysis.codeDetect(Tables(s, dir, "documents"))
        .orderBy("doc_id")),
    "t44_rake" -> ((s, dir) => // RAKE keyphrase mining: stopword-run
      // segmentation, deg/freq word scores, tie-broken top-k head
      TextAnalysis.rake(Tables(s, dir, "documents"))),
    "t39_heaps_synth" -> ((s, dir) => // non-degenerate Heaps fit over the
      // deterministic integer-Zipf token stream (beta ~ 1/2 branch)
      TextAnalysis.heapsSynth(Tables(s, dir, "lineitem"))),
    "fe11_cramers_v" -> ((s, dir) => // chi-square effect size in [0,1]
      FeatureEng.cramersV(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"))),
    "fe13_vif" -> ((s, dir) => // multicollinearity screen: closed-form
      // 3-variable variance-inflation factors from exact co-moments
      FeatureEng.vif(Tables(s, dir, "lineitem"))),
    "fe12_woe_ntile" -> ((s, dir) => // equal-frequency (decile) WOE/IV via
      // the distributed exact ntile -- no single-partition window
      FeatureEng.woeIvNtile(Tables(s, dir, "orders"))),
    "fe14_pca2" -> ((s, dir) => // 2-feature covariance eigen split:
      // one-scan exact co-moments, closed quadratic eigenvalues
      FeatureEng.pca2(Tables(s, dir, "lineitem"))),
    "fe15_gini" -> ((s, dir) => // Gini concentration + top-decile share
      // via the distributed exact rank -- no single-partition window
      FeatureEng.gini(Tables(s, dir, "orders"))),
    "fe16_anova" -> ((s, dir) => // one-way ANOVA F + eta^2 across the
      // fixed priority domain: one scan, pivoted exact co-moments
      FeatureEng.anova(Tables(s, dir, "orders"))),
    "fe17_partial_corr" -> ((s, dir) => // confounder screen: residual
      // association per pair once the third feature is partialled out
      FeatureEng.partialCorr(Tables(s, dir, "lineitem"))),
    "fe18_spearman" -> ((s, dir) => // monotone-association screen:
      // exact average-tie ranks via the distributed global rank,
      // Pearson closed form on the DECIMAL(38,0) rank power sums
      FeatureEng.spearman(Tables(s, dir, "lineitem"))),
    "fe19_xcorr" -> ((s, dir) => // lead-lag screen: lagged Pearson over
      // the zero-filled hourly grid per event-type pair (bounded cells)
      FeatureEng.xcorr(Tables(s, dir, "events"))),
    "t6_shingle_stats" -> ((s, dir) => // the oracle-checked face of shingling
      TextAnalysis.shingleStats(Tables(s, dir, "documents")).orderBy("doc_id")),
    "t7_token_counts" -> ((s, dir) => // whitespace + BPE-style pre-tokens
      TextAnalysis.tokenCounts(Tables(s, dir, "documents")).orderBy("doc_id")),
    "t8_pack_sequences" -> ((s, dir) => // fixed-token-budget packing
      TextAnalysis.packSequences(Tables(s, dir, "documents"), budget = 512)
        .orderBy("doc_id")),
    "t22_chunk" -> ((s, dir) => // overlapping token-window chunking (RAG prep)
      TextAnalysis.chunkDocuments(Tables(s, dir, "documents"),
        chunkSize = 32, overlap = 8).orderBy("doc_id", "chunk_id")),
    "t23_bpe_pairs" -> ((s, dir) => // BPE training's pair-count stage
      Tokenizer.bpePairCounts(Tables(s, dir, "documents"), topK = 50)),
    "t23_bpe_merges" -> ((s, dir) => // iterative BPE merge table; the
      // argmax loop has no SQL twin -> rows-only here; TokenizerSpec gates
      // it against an independent reference trainer, and round 1 must
      // equal the oracle-checked t23_bpe_pairs head
      Tokenizer.bpeTrain(Tables(s, dir, "documents"), nMerges = 8)
        .orderBy("rank")),
    "t27_bpe_encode" -> ((s, dir) => { // serve the learned BPE artifact
      // merge list is the bounded trained artifact (8 rows) — loading it
      // driver-side is the PQ-codebook lifecycle, not a corpus collect
      val ms = s.read.parquet(fixtures("bpe_merges")(s, dir))
        .orderBy("rank").collect()
        .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
      Tokenizer.encodeWithMerges(Tables(s, dir, "documents"), ms.toSeq)
        .orderBy("doc_id")
    }),
    "t27_verify" -> ((s, dir) => { // exact gate for t27 (roundtrip +
      // bounds over the same artifact; corpus counts are real oracle
      // values — r8 verdict ask #5)
      val ms = s.read.parquet(fixtures("bpe_merges")(s, dir))
        .orderBy("rank").collect()
        .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
      Tokenizer.encodeVerify(Tables(s, dir, "documents"), ms.toSeq)
    }),
    "t24_bigram_lm" -> ((s, dir) => // stupid-backoff bigram LM scoring
      TextAnalysis.bigramLmScore(Tables(s, dir, "documents"),
        col("source").isin(batchASources: _*)).orderBy("doc_id")),
    "t30_kneser_ney" -> ((s, dir) => // interpolated Kneser-Ney bigram LM
      TextAnalysis.kneserNeyScore(Tables(s, dir, "documents"),
        col("source").isin(batchASources: _*)).orderBy("doc_id")),
    // label = a KNOWN lexical rule (doc contains the token "spark"): this
    // synthetic corpus draws every language from ONE shared vocabulary,
    // so `lang` is text-independent and unlearnable — a token-derived
    // label is the honest learnable target, and recovering it proves the
    // trainer end to end (a real corpus swaps in real labels unchanged)
    "t31_lr_train" -> ((s, dir) => // in-engine classifier training history
      Training.lrTrainHistory(Tables(s, dir, "documents"),
        array_contains(TextAnalysis.tokens(col("text")), "spark"), dir)
        .orderBy("iter")),
    "t31_verify" -> ((s, dir) => // gates derived from t31's one fit (memo)
      Training.lrVerify(Tables(s, dir, "documents"),
        array_contains(TextAnalysis.tokens(col("text")), "spark"), dir)),
    "t25_dsir" -> ((s, dir) => // DSIR importance weights for data selection
      TextAnalysis.dsirWeights(Tables(s, dir, "documents"),
        col("source").isin(dsirTargetSources: _*)).orderBy("doc_id")),
    "pipe4_dsir_select" -> ((s, dir) => // DSIR select-and-shard workflow
      Sampling.dsirSelect(Tables(s, dir, "documents"),
        col("source").isin(dsirTargetSources: _*), keepPct = 25, nShards = 8)
        .orderBy("shard", "pos")),
    "t8_pack_sharded" -> ((s, dir) => // the per-shard packing plan 100 TB runs
      TextAnalysis.packSequencesSharded(Tables(s, dir, "documents"),
        budget = 512).orderBy("doc_id")),
    "t12_tfidf" -> ((s, dir) => // top terms per doc by tf-idf
      TextAnalysis.tfidfTopTerms(Tables(s, dir, "documents"), topK = tfidfTopK)
        .orderBy("doc_id", "rank")),
    "t13_bm25" -> ((s, dir) => // Okapi BM25 retrieval over the corpus
      TextAnalysis.bm25(Tables(s, dir, "documents"), bm25Query, topK = bm25TopK)
        .orderBy("rank")),
    "p9_stratified_sample" -> ((s, dir) => {
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
    "t10_pii_scrub" -> ((s, dir) => // PII redaction: counts + scrubbed length
      TextAnalysis.piiScrub(Tables(s, dir, "documents")).orderBy("doc_id")),
    "t11_contamination" -> ((s, dir) => {
      // benchmark-contamination scan: every 100th doc stands in for the
      // held-out benchmark; corpus docs sharing any 5-gram are flagged
      val docs = Tables(s, dir, "documents")
      TextAnalysis.contamination(docs, docs.where(col("doc_id") % 100 === 0))
        .orderBy("doc_id")
    }),
    "t9_winnow" -> ((s, dir) => // murmur-valued -> rows-only; gated below
      TextAnalysis.winnowFingerprint(Tables(s, dir, "documents"))
        .select(col("doc_id"), size(col("fp")).as("n_fp"),
          element_at(col("fp"), 1).as("fp_first"),
          element_at(col("fp"), -1).as("fp_last"))
        .orderBy("doc_id")),
    "t9_winnow_verify" -> ((s, dir) => {
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

    // --- D: deduplication (LLM-pipeline layer)
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactKeepers(Tables(s, dir, "documents")).orderBy("doc_id")),
    "dedup_bloom_xbatch" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.bloomNewDocs(
        docs.where(col("source").isin(batchASources: _*)),
        docs.where(!col("source").isin(batchASources: _*)), defaultP)
        .orderBy("doc_id")
    }),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables(s, dir, "documents")).orderBy("doc_a", "doc_b")),
    "dedup_simhash" -> ((s, dir) => // simhash-valued -> rows-only check
      Dedup.simhashPairs(Tables(s, dir, "documents")).orderBy("doc_a", "doc_b")),
    "dedup_simhash_verify" -> ((s, dir) => // cross-engine zero-miss gate
      Dedup.simhashExactDupCheck(Tables(s, dir, "documents"))),
    "dedup_jaccard_exact" -> ((s, dir) => // prefix-filtered exact join, θ
      // below the LSH banding sweet spot on purpose — this path is exact
      // at any threshold
      Dedup.jaccardPairsExact(Tables(s, dir, "documents"), threshold = 0.5)
        .orderBy("doc_a", "doc_b")),
    "dedup_containment" -> ((s, dir) => // asymmetric subset-dup detector
      Dedup.containmentPairs(Tables(s, dir, "documents"), threshold = 0.8)
        .orderBy("doc_a", "doc_b")),
    "dedup_clusters" -> ((s, dir) => // connected components over near-dups
      Dedup.nearDupClusters(Tables(s, dir, "documents")).orderBy("doc_id")),
    "p16_leakage_split" -> ((s, dir) => // cluster-aware train/test split
      Dedup.leakageSafeSplit(Tables(s, dir, "documents"))),
    "dedup_keep_best" -> ((s, dir) => // survivor policy: each near-dup
      // cluster keeps its highest-quality member, not the minimum id
      Dedup.keepBest(Tables(s, dir, "documents"))),
    "dedup_embedding_cos" -> ((s, dir) =>
      Similarity.bruteForcePairs(Tables(s, dir, "embeddings"), 0.4)
        .orderBy("vec_a", "vec_b")),
    "dedup_semantic" -> ((s, dir) => // SemDeDup: cluster-blocked embedding
      // dedup — the scale face of the fenced all-pairs lane above
      Similarity.semanticDedup(Tables(s, dir, "embeddings"), threshold = 0.4)
        .orderBy("vec_id")),
    "pipe1_clean_corpus" -> ((s, dir) => // composed: quality filter -> dedup
      Dedup.cleanCorpus(Tables(s, dir, "documents"), minQuality = 0.5)
        .orderBy("doc_id")),
    "pipe3_export_corpus" -> ((s, dir) => // the composed EXPORT pass:
      // model-score gate -> exact dedup -> temperature mix -> shuffle
      // shards, one plan (each stage keeps its standalone oracle query)
      Sampling.exportCorpus(Tables(s, dir, "documents"))
        .orderBy("shard", "pos")),
    "pipe2_pretrain_corpus" -> ((s, dir) => {
      // the full composed pretraining pass: quality -> language ->
      // benchmark decontamination -> exact dedup, one plan (every stage
      // also has its own oracle-checked query; this checks the chain)
      val docs = Tables(s, dir, "documents")
      Dedup.pretrainCorpus(docs, docs.where(col("doc_id") % 100 === 0),
        minQuality = 0.5).orderBy("doc_id")
    }),
    "pipe5_corpus_prep" -> ((s, dir) => {
      // the corpus-PREP showcase: quality filter -> near-dup KEEP-BEST ->
      // benchmark decontamination -> sequence packing, one composed plan
      // (each stage keeps its standalone oracle; this checks the chain
      // and that the pack layout is computed over exactly the survivors)
      val docs = Tables(s, dir, "documents")
      Dedup.corpusPrep(docs, docs.where(col("doc_id") % 100 === 0))
        .orderBy("doc_id")
    }),
    "mm9_video_neardup" -> ((s, dir) => // frame-sampled perceptual-hash
      // video dedup: per-frame aHash, stop-frame df cap, shared-hash
      // pair join — the multimodal dedup composition
      Multimodal.videoNearDup(Tables(s, dir, "documents"))),
    "mm10_audio_fp" -> ((s, dir) => // constellation audio fingerprinting:
      // landmark hashes over band-energy peaks, offset-histogram vote,
      // df-capped pair join — the audio-modality dedup composition,
      // first lane shipped on the shared Staging recipe
      Multimodal.audioFingerprint(Tables(s, dir, "documents"))),
    "dedup_lsh_tune" -> ((s, dir) => // LSH (bands, rows) planning table:
      // S-curve recall/fp per split, argmax flagged (bloom-geometry
      // pow class; the grid is 8 constant rows)
      Dedup.lshTune(s)),
    "dedup_editdist" -> ((s, dir) => // length-banded bounded edit distance
      Dedup.editDistancePairs(Tables(s, dir, "documents"))
        .orderBy("doc_a", "doc_b")),
    "dedup_editdist_fence" -> ((s, dir) => // the density fence's drop
      // metric: blocks over the cap, membership removed, and the pair
      // bound the fence declined to score (r16, VERDICT r15 ask #3)
      Dedup.editDistanceFenceReport(Tables(s, dir, "documents"))),
    "dedup_fuzzy_names" -> ((s, dir) => // brand-blocked Jaro-Winkler ER
      Dedup.fuzzyNamePairs(Tables(s, dir, "part"))),
    "dedup_snm" -> ((s, dir) => // sorted-neighborhood (sort + sliding window)
      Dedup.sortedNeighborhoodPairs(Tables(s, dir, "documents"))
        .orderBy("doc_a", "doc_b")),
    "dedup_span_rate" -> ((s, dir) => // per-doc duplicated n-gram fraction
      Dedup.dupSpanRate(Tables(s, dir, "documents")).orderBy("doc_id")),
    "dedup_snm_multi" -> ((s, dir) => // two-key multi-pass SNM (prefix + suffix)
      Dedup.sortedNeighborhoodMultipass(Tables(s, dir, "documents"))
        .orderBy("doc_a", "doc_b")),

    // --- M: multimodal binary-column plumbing (LLM-pipeline layer;
    // decode is a deterministic stub, the byte plumbing is real)
    "mm1_meta" -> ((s, dir) =>
      Multimodal.attachMeta(Multimodal.fromDocuments(Tables(s, dir, "documents")))
        .select(col("media_id"), col("modality"), col("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.channels").as("channels"))
        .orderBy("media_id")),
    "mm2_frame_stats" -> ((s, dir) =>
      Multimodal.frameStats(Multimodal.fromDocuments(Tables(s, dir, "documents")))
        .orderBy("modality")),
    "mm3_decode_batch" -> ((s, dir) => {
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
    "mm4_features" -> ((s, dir) => // hash-derived fake features -> rows-only
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
    "mm4_verify" -> ((s, dir) => {
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

    // --- V: similarity search over embeddings (LLM-pipeline layer)
    "sim_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, simK).orderBy("query_id", "rank")),
    "sim_knn_classify" -> ((s, dir) => // kNN majority-vote label eval
      Similarity.knnClassify(Tables(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, simK)),
    "sim_ann_lsh" -> ((s, dir) => // approximate by design -> rows-only check
      Similarity.annTopK(Tables(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, simK).orderBy("query_id", "rank")),
    "sim_ann_ivf" -> ((s, dir) => // approximate by design -> rows-only check
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
    "sim_ann_lsh_recall" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.recallVsExact(emb,
        Similarity.annTopK(emb, col("vec_id") % 50 === 0, simK),
        col("vec_id") % 50 === 0, simK, floor = 0.25)
    }),
    "sim_ann_ivf_recall" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.recallVsExact(emb,
        Similarity.indexTopK(emb, col("vec_id") % 50 === 0, simK, Ivf(), ExactCos),
        col("vec_id") % 50 === 0, simK, floor = 0.25)
    }),
    "sim_ann_sq8" -> ((s, dir) => // approximate by design -> rows-only check
      // IVF lists scored in the 4x-compressed scalar-quantized domain;
      // no trained artifact (per-vector scale), unlike the PQ lanes
      Similarity.indexTopK(Tables(s, dir, "embeddings"), col("vec_id") % 50 === 0,
        simK, Ivf(), Sq8Cos).orderBy("query_id", "rank")),
    "sim_ann_sq8_recall" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.recallVsExact(emb,
        Similarity.indexTopK(emb, col("vec_id") % 50 === 0, simK, Ivf(), Sq8Cos),
        col("vec_id") % 50 === 0, simK, floor = 0.25)
    }),
    "sim_ann_pq" -> ((s, dir) => { // approximate by design -> rows-only check
      // PQ training/encode shuffles are tiny (n·m rows, m·ksub groups) —
      // right-size their partition count in a child session, like the
      // streaming state stores
      val c = Config.child(s, "spark.sql.shuffle.partitions" -> "8")
      val cb = Similarity.loadPqCodebook(c, fixtures("pq_codebook")(c, dir))
      Similarity.indexTopK(Tables(c, dir, "embeddings"),
        col("vec_id") % 50 === 0, simK, OneList, PqAdc(cb))
        .orderBy("query_id", "rank")
    }),
    "sim_ann_pq_recall" -> ((s, dir) => {
      val c = Config.child(s, "spark.sql.shuffle.partitions" -> "8")
      val emb = Tables(c, dir, "embeddings")
      val cb = Similarity.loadPqCodebook(c, fixtures("pq_codebook")(c, dir))
      Similarity.recallVsExact(emb,
        Similarity.indexTopK(emb, col("vec_id") % 50 === 0, simK, OneList, PqAdc(cb)),
        col("vec_id") % 50 === 0, simK, floor = 0.25)
    }),
    "sim_ann_ivfpq" -> ((s, dir) => { // approximate by design -> rows-only
      // IVF restricts the lists scanned, PQ scores inside a list — the
      // production ANN composition; small-shuffle child session like pq
      val c = Config.child(s, "spark.sql.shuffle.partitions" -> "8")
      val cb = Similarity.loadPqCodebook(c, fixtures("pq_codebook")(c, dir))
      Similarity.indexTopK(Tables(c, dir, "embeddings"),
        col("vec_id") % 50 === 0, simK, Ivf(), PqAdc(cb))
        .orderBy("query_id", "rank")
    }),
    "sim_ann_ivfpq_recall" -> ((s, dir) => {
      val c = Config.child(s, "spark.sql.shuffle.partitions" -> "8")
      val emb = Tables(c, dir, "embeddings")
      val cb = Similarity.loadPqCodebook(c, fixtures("pq_codebook")(c, dir))
      Similarity.recallVsExact(emb,
        Similarity.indexTopK(emb, col("vec_id") % 50 === 0, simK, Ivf(), PqAdc(cb)),
        col("vec_id") % 50 === 0, simK, floor = 0.2)
    }),
    "sim_ann_ivfpq_res" -> ((s, dir) => { // approximate by design -> rows-only
      // residual-encoded IVF×PQ (the FAISS-default refinement): codes
      // spend the codebook on the within-list residual distribution;
      // the codebook loads from the offline TRAIN artifact, like ivfpq
      val c = Config.child(s, "spark.sql.shuffle.partitions" -> "8")
      val cb = Similarity.loadPqCodebook(c, fixtures("pq_codebook_res")(c, dir))
      Similarity.indexTopK(Tables(c, dir, "embeddings"), col("vec_id") % 50 === 0,
        simK, Ivf(), PqAdc(cb, residual = true))
        .orderBy("query_id", "rank")
    }),
    "sim_ann_ivfpq_res_recall" -> ((s, dir) => {
      val c = Config.child(s, "spark.sql.shuffle.partitions" -> "8")
      val emb = Tables(c, dir, "embeddings")
      val cb = Similarity.loadPqCodebook(c, fixtures("pq_codebook_res")(c, dir))
      Similarity.recallVsExact(emb,
        Similarity.indexTopK(emb, col("vec_id") % 50 === 0, simK,
          Ivf(), PqAdc(cb, residual = true)),
        col("vec_id") % 50 === 0, simK, floor = 0.2)
    }),
    "sim_mmr_rerank" -> ((s, dir) => // greedy selection -> rows-only +
      // exact gate below (scale posture on Similarity.mmrRerank)
      Similarity.mmrRerank(Tables(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, mmrN, simK, mmrLambda)
        .orderBy("query_id", "mmr_rank")),
    "sim_mmr_verify" -> ((s, dir) =>
      Similarity.mmrVerify(Tables(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, mmrN, simK, mmrLambda)),
    "sim_rrf_fusion" -> ((s, dir) => {
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
    }),

    // --- ST: Structured Streaming drained to a deterministic result —
    // the incremental engine must reproduce the batch answer exactly
    "st1_stream_hourly" -> ((s, dir) =>
      graft.streaming.StreamingQueries.eventHourly(s, dir)),
    "st17_stream_sliding" -> ((s, dir) => // hopping windows, e6's twin
      graft.streaming.StreamingQueries.eventSliding(s, dir)),
    "st18_stream_mv" -> ((s, dir) => // incremental MV merges across batches
      graft.streaming.StreamingQueries.incrementalMv(s, dir)),
    "st19_checkpoint_resume" -> ((s, dir) => // exactly-once across restart
      graft.streaming.StreamingQueries.checkpointResume(s, dir)),
    "st16_stream_kmv" -> ((s, dir) => // modulus-bounded cardinality monitor
      graft.streaming.StreamingQueries.kmvState(s, dir)),
    "st2_stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamingQueries.dedupState(s, dir)),
    "st13_stream_corpus" -> ((s, dir) => // streaming corpus ingest: model
      // gate inside the stream, (source, fp)-keyed dedup state
      graft.streaming.StreamingQueries.corpusIngest(s, dir)),
    "st14_stream_lm" -> ((s, dir) => // t21's LM scoring as an ingest stream
      graft.streaming.StreamingQueries.lmScore(s, dir)),
    "st15_stream_dsir" -> ((s, dir) => // t25's DSIR weights as an ingest stream
      graft.streaming.StreamingQueries.dsirScore(s, dir, dsirTargetSources)),
    "st3_stream_bloom_probe" -> ((s, dir) =>
      graft.streaming.StreamingQueries.bloomProbe(s, dir)),
    "st4_stream_append" -> ((s, dir) => // append mode: finalized windows only
      graft.streaming.StreamingQueries.eventHourlyAppend(s, dir)),
    "st5_stream_stream_join" -> ((s, dir) => // watermarked two-stream join
      graft.streaming.StreamingQueries.streamStreamJoin(s, dir)),
    "st6_stream_state" -> ((s, dir) => // flatMapGroupsWithState counts
      graft.streaming.StreamingQueries.statefulUserCounts(s, dir)),
    "st10_transform_state" -> ((s, dir) => // transformWithState + MapState
      graft.streaming.StreamingQueries.transformWithStateCounts(s, dir)),
    "st11_multibatch" -> ((s, dir) => // state accumulates across 2 batches
      graft.streaming.StreamingQueries.multiBatchState(s, dir)),
    "st12_stream_sessions" -> ((s, dir) => // watermark-finalized sessions
      graft.streaming.StreamingQueries.streamSessions(s, dir)),
    "st8_stream_left_outer" -> ((s, dir) => // watermark-emitted nulls
      graft.streaming.StreamingQueries.streamStreamLeftOuter(s, dir)),
    "st9_foreach_sink" -> ((s, dir) => // foreachBatch -> batch parquet writer
      graft.streaming.StreamingQueries.foreachBatchSink(s, dir)),
    "st7_stream_dropdup" -> ((s, dir) => // at-least-once -> exactly-once
      graft.streaming.StreamingQueries.streamDropDuplicates(s, dir)),
    "st20_stream_markov" -> ((s, dir) => // e8's transitions, incremental
      graft.streaming.StreamingQueries.streamMarkov(s, dir)),
    "st21_stream_anomaly" -> ((s, dir) => // w7's outliers, incremental
      graft.streaming.StreamingQueries.streamAnomaly(s, dir)),
    "st22_stream_attribution" -> ((s, dir) => // e9's credits, incremental
      graft.streaming.StreamingQueries.streamAttribution(s, dir)),
    "st23_stream_cms" -> ((s, dir) => // a8's sketch as always-on state:
      // one ~80 KB CMS buffer merged across micro-batches; exact top-10
      // probed against the stream-built sketch under exact ≤ est ≤ exact+εN
      graft.streaming.StreamingQueries.cmsState(s, dir)),
    "st24_stream_contract" -> ((s, dir) => // a17's verdicts as stream
      // state: one fixed-width metric row across micro-batch commits
      graft.streaming.StreamingQueries.contractMonitor(s, dir)),
    "st25_stream_benford" -> ((s, dir) => // fe3's audit as an always-on
      // fact-stream monitor: state is the 9-row digit-count relation
      graft.streaming.StreamingQueries.benfordMonitor(s, dir)),
    "st26_stream_nb_serve" -> ((s, dir) => // t35's fitted model serving a
      // stream: STATELESS scoring projection, verdict final per row
      graft.streaming.StreamingQueries.nbServe(s, dir)),
    "st27_stream_psi" -> ((s, dir) => // fe5's drift monitor as stream state
      graft.streaming.StreamingQueries.psiMonitor(s, dir)),
    "st28_stream_ks" -> ((s, dir) => // binned two-sample KS on drained
      // (cohort, bin) state -- the O(|bins|) monitor form of fe10
      graft.streaming.StreamingQueries.ksMonitor(s, dir)),
    "st29_stream_cusum" -> ((s, dir) => // w13's changepoint screen on
      // drained hourly cells via the shared cusumFace
      graft.streaming.StreamingQueries.cusumMonitor(s, dir)),
    "st30_stream_intake_gate" -> ((s, dir) => // the t2/t45 screens as an
      // always-on per-source admission ledger (shared faces, bounded state)
      graft.streaming.StreamingQueries.intakeGate(s, dir)),
    "st31_stream_neardup" -> ((s, dir) => // dedup_minhash_lsh at ingest:
      // static LSH index, stateless stream signature + banded probe,
      // exact-Jaccard verify, per-doc admission verdict
      graft.streaming.StreamingQueries.nearDupAdmission(s, dir)),
    "mm7_ahash" -> ((s, dir) => // perceptual average-hash dedup screen
      // over the payload "pixels" (integer-exact, fully oracle-checked)
      Multimodal.aHash(Tables(s, dir, "documents"))),
    "mm8_phash" -> ((s, dir) => // perceptual DCT-hash: integer-exact
      // 8x8 DCT via inlined quantized basis, median-thresholded
      Multimodal.pHash(Tables(s, dir, "documents"))),

    // --- O/MM extras: ORC source+sink round trip; resize-crop projection
    "o1_orc_roundtrip" -> ((s, dir) => {
      val path = fixtures("docs_orc")(s, dir)
      s.read.orc(path).orderBy("doc_id")
    }),
    "t15_repetition" -> ((s, dir) => {
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
    "s4_file_metadata" -> ((s, dir) => {
      // hidden metadata columns (_metadata.file_path): per-row lineage at
      // zero storage cost — at 100 TB this is how a bad shard is traced
      // and re-processed without a lineage sidecar. The gate: every row's
      // physical file path agrees with its hive partition value.
      val path = fixtures("docs_by_lang_meta")(s, dir)
      s.read.parquet(path)
        .select(col("lang"), col("_metadata.file_path").as("fp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          min(col("fp").contains(concat(lit("lang="), col("lang"))))
            .as("path_consistent"))
        .orderBy("lang")
    }),
    "k6_rowgroup_pruning" -> ((s, dir) => {
      // storage-side pruning: a selective range predicate over the sorted
      // small-row-group layout — parquet skips non-matching row groups at
      // the footer, so the scan decodes ~selectivity of the file instead
      // of all of it (the rows-read drop vs the scrambled twin is pinned
      // in ParquetPruningSpec; correctness here is the filtered result).
      val path = fixtures("docs_rg_sorted")(s, dir)
      s.read.parquet(path).where(col("doc_id") < 50)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "o2_zstd_roundtrip" -> ((s, dir) => {
      // codec control: zstd-compressed parquet round trip (the archival
      // tier codec — denser than snappy at comparable scan cost on modern
      // CPUs; at 100 TB the delta is tens of TB of storage). Correctness
      // is the roundtrip; the spec checks zstd actually shrinks the files.
      val path = fixtures("docs_zstd")(s, dir)
      s.read.parquet(path)
        .select(col("doc_id"), col("lang"), length(col("text")).as("len"))
        .orderBy("doc_id")
    }),
    "j8_cross" -> ((s, dir) =>
      // explicit controlled Cartesian: both sides are bounded dimension
      // aggregates (5 regions x 5 order-statuses-ish), so the product is
      // provably tiny — the ONLY join shape where a cross join is sane;
      // anything row-count-driven must go through a keyed join
      Tables(s, dir, "region").select(col("r_name"))
        .crossJoin(Tables(s, dir, "orders")
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n_orders")))
        .orderBy("r_name", "o_orderstatus")),
    "mm5_resize" -> ((s, dir) =>
      Multimodal.fromDocuments(Tables(s, dir, "documents"))
        .select(col("media_id"), col("modality"),
          octet_length(col("payload")).as("n_bytes"),
          octet_length(Multimodal.resizeCrop(col("payload"), 128))
            .as("resized_bytes"))
        .orderBy("media_id")),
    "mm6_quantize" -> ((s, dir) => // int8 embedding compression audit
      Similarity.quantizeInt8Stats(Tables(s, dir, "embeddings"))
        .orderBy("vec_id")),

    // ---- graph analytics over the event-derived interaction graph ----
    // (edge contract + scale posture documented on graft.operators.Graph)
    "gr1_degrees" -> ((s, dir) =>
      Graph.degrees(Tables(s, dir, "events"))),
    "gr2_triangles" -> ((s, dir) =>
      Graph.triangles(Tables(s, dir, "events"))),
    "gr3_pagerank" -> ((s, dir) =>
      Graph.pagerank(Tables(s, dir, "events"))),
    "gr4_neighbor_jaccard" -> ((s, dir) =>
      Graph.neighborJaccard(Tables(s, dir, "events"))),
    "gr5_cluster_coeff" -> ((s, dir) =>
      Graph.clusteringCoefficient(Tables(s, dir, "events"))),
    "gr6_bfs_hops" -> ((s, dir) => // frontier-relational multi-source BFS
      Graph.bfsHops(Tables(s, dir, "events"), col("node") % 50 === 0)),
    "gr7_link_pred" -> ((s, dir) => // Adamic-Adar scores for distance-2
      // non-edges; rounded-before-ranked so ordering is cross-engine safe
      Graph.linkPrediction(Tables(s, dir, "events"))),
    "gr8_ppr" -> ((s, dir) => // random-walk-with-restart seed proximity
      Graph.personalizedPagerank(Tables(s, dir, "events"),
        col("node") % 50 === 0)),
    "gr9_communities" -> ((s, dir) => // bounded-round min-label propagation
      Graph.labelPropagation(Tables(s, dir, "events"))),
    "gr10_kcore" -> ((s, dir) => // bounded-round k-core peel + converged flag
      Graph.kCore(Tables(s, dir, "events"))),
    "gr11_assortativity" -> ((s, dir) => // Newman degree correlation
      Graph.assortativity(Tables(s, dir, "events"))),
    "gr12_hits" -> ((s, dir) => // Kleinberg hubs/authorities, L1-normalized
      Graph.hits(Tables(s, dir, "events"))),
    "gr13_wcc" -> ((s, dir) => // weakly connected components, run to
      // convergence via pointer jumping (O(log diameter) rounds)
      Graph.connectedComponents(Tables(s, dir, "events"))),
    "gr14_reciprocity" -> ((s, dir) => // fraction of edges whose reverse
      // exists: one semi-join of the edge set against its reversal
      Graph.reciprocity(Tables(s, dir, "events"))),
    "gr15_modularity" -> ((s, dir) => // Newman-Girvan quality of the gr9
      // assignment, decomposed per community so every additive term is
      // hash-checked (Q = sum(contrib))
      Graph.modularity(Tables(s, dir, "events"))),

    // ---- privacy lane: disclosure-risk audit + DP release ----
    // (thresholds shared with the twins; scale posture on operators.Privacy)
    "priv1_k_anonymity" -> ((s, dir) =>
      Privacy.kAnonymityLadder(Tables(s, dir, "customer"),
        kAnonWidths, kAnonK)),
    "priv2_dp_counts" -> ((s, dir) => // noise-valued by design -> rows-only
      // + exact gate below (seeded Laplace; see Privacy.dpCounts)
      Privacy.dpCounts(Tables(s, dir, "customer"), dpEpsilon, dpSeed)),
    "priv2_verify" -> ((s, dir) =>
      Privacy.dpVerify(Tables(s, dir, "customer"), dpEpsilon, dpSeed)),
    "priv3_k_suppress" -> ((s, dir) => // the enforcement face of priv1:
      // rows in QI groups under k are suppressed, survivors carry only
      // the generalized band (scale posture on Privacy.kSuppress)
      Privacy.kSuppress(Tables(s, dir, "customer"), kAnonWidths(1), kAnonK)),
    "priv4_t_closeness" -> ((s, dir) => // distribution-leak audit: TVD of
      // each QI group's sensitive distribution vs the global one
      Privacy.tCloseness(Tables(s, dir, "customer"), kAnonWidths(2),
        tClosenessT)),
    "priv5_l_diversity" -> ((s, dir) => // entropy l-diversity: the strict
      // form of the ladder's distinct-count l (quantized-cell exact sums)
      Privacy.entropyLDiversity(Tables(s, dir, "customer"), kAnonWidths(1),
        entropyLDiversityL)),

    // ---- feature-engineering / data-audit lane (operators.FeatureEng) ----
    "fe1_target_encode" -> ((s, dir) => // smoothed (m-estimate) encoder
      FeatureEng.targetEncode(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"))),
    "fe2_assoc_rules" -> ((s, dir) => // per-basket support/confidence/lift
      FeatureEng.associationRules(Tables(s, dir, "lineitem"))),
    "fe4_cv_target_encode" -> ((s, dir) => // leakage-free out-of-fold encoder
      FeatureEng.cvTargetEncode(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"))),
    "fe3_benford" -> ((s, dir) => // first-digit fabricated-numbers screen
      FeatureEng.benford(Tables(s, dir, "lineitem"))),
    "fe5_psi_drift" -> ((s, dir) => // cohort distribution-drift monitor
      FeatureEng.psiDrift(Tables(s, dir, "orders"))),
    "fe6_woe_iv" -> ((s, dir) => // weight-of-evidence feature screen
      FeatureEng.woeIv(Tables(s, dir, "orders"))),
    "fe7_chi2" -> ((s, dir) => // chi-square categorical independence screen
      FeatureEng.chiSquare(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"))),
    "fe8_mutual_info" -> ((s, dir) => // mutual-information dependence screen
      FeatureEng.mutualInfo(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"))),
    "fe9_corr_matrix" -> ((s, dir) => // exact-sum Pearson redundancy screen
      FeatureEng.corrMatrix(Tables(s, dir, "lineitem"))),
    "fe10_ks_test" -> ((s, dir) => // exact two-sample KS via prefix sums
      FeatureEng.ksTest(Tables(s, dir, "orders"))),

    // ---- in-engine Naive Bayes: the counting-aggregate trainable model
    // (exactness contract on operators.NaiveBayes) ----
    "t35_nb_model" -> ((s, dir) => // fitted (label, token) model cells
      NaiveBayes.model(Tables(s, dir, "documents"), memoKey = dir)),
    "t36_nb_classify" -> ((s, dir) => // held-out integer-score argmax
      NaiveBayes(Tables(s, dir, "documents"), memoKey = dir)),
    "t37_nb_eval" -> ((s, dir) => // per-class precision/recall/F1
      NaiveBayes.evaluate(Tables(s, dir, "documents"), memoKey = dir))
  )

  lazy val oracleSql: Map[String, String] = {
    val li = Ratings.fromLineitemSql
    val ev = Ratings.fromEventsSql
    val train = Ratings.splitSql("<")
    val test = Ratings.splitSql(">=")
    val bpk = f"${bitsPerKey(defaultP)}%.17g"
    // shared by e8_markov and its incremental twin st20_stream_markov:
    // identical per-user lead + per-prev normalization
    // shared by e9_attribution and its incremental twin
    // st22_stream_attribution: per-user carried last-touch, 7-day lookback
    val attributionSql =
      """WITH seq AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns, event_type,
        |         last_value(CASE WHEN event_type IN ('click', 'view')
        |                         THEN epoch_ns(ts) END IGNORE NULLS)
        |           OVER w AS t_ns,
        |         last_value(CASE WHEN event_type IN ('click', 'view')
        |                         THEN event_id END IGNORE NULLS)
        |           OVER w AS t_id,
        |         last_value(CASE WHEN event_type IN ('click', 'view')
        |                         THEN event_type END IGNORE NULLS)
        |           OVER w AS t_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id AS purchase_id,
        |       tns // 1000 AS purchase_ts_us,
        |       CASE WHEN t_ns IS NOT NULL AND tns - t_ns <= 604800000000000
        |            THEN t_id END AS touch_id,
        |       CASE WHEN t_ns IS NOT NULL AND tns - t_ns <= 604800000000000
        |            THEN t_type ELSE 'organic' END AS channel
        |FROM seq WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin
    // shared by w7_zscore_anomaly and its incremental twin
    // st21_stream_anomaly: identical trailing 50-frame, rounded-z filter
    val zscoreSql =
      """WITH f AS (
        |  SELECT event_id, event_type, value,
        |         count(*) OVER w AS n_prev,
        |         avg(value) OVER w AS mu,
        |         stddev_samp(value) OVER w AS sd
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type
        |               ORDER BY epoch_ns(ts), event_id
        |               ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, event_type, round(value, 6) AS value,
        |       round((value - mu) / sd, 6) AS z
        |FROM f
        |WHERE n_prev = 50 AND sd > 0
        |  AND abs(round((value - mu) / sd, 6)) > 3
        |ORDER BY event_id""".stripMargin
    val markovSql =
      """WITH seq AS (
        |  SELECT event_type AS prev_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_ns(ts), event_id) AS next_type
        |  FROM events),
        |tr AS (SELECT prev_type, next_type, count(*) AS n
        |       FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |       round(n / CAST(sum(n) OVER (PARTITION BY prev_type)
        |                      AS DOUBLE), 6) AS p
        |FROM tr ORDER BY prev_type, next_type""".stripMargin
    ListMap(
      "p1_parse_project" -> s"SELECT * FROM ($li) ORDER BY movieId",
      "p1_events_project" -> s"SELECT * FROM ($ev) ORDER BY movieId",
      "p5_filter" ->
        s"SELECT * FROM ($li) WHERE rating BETWEEN 3 AND 8 ORDER BY movieId",
      "p7_limit" -> s"SELECT * FROM ($li) ORDER BY movieId LIMIT 10",
      "p8_split_train" -> s"SELECT * FROM ($train) ORDER BY movieId",
      "p8_split_test" -> s"SELECT * FROM ($test) ORDER BY movieId",
      "a1_linecount" ->
        s"SELECT rating, count(*) AS n FROM ($li) GROUP BY rating ORDER BY rating",
      "a4_group_stats" ->
        """SELECT event_type, count(*) AS total, round(sum(value), 2) AS sum_value,
          |       min(value) AS min_value, max(value) AS max_value
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "a6_percentiles" ->
        """SELECT l_returnflag,
          |       round(quantile_cont(l_quantity, 0.5), 6) AS p50,
          |       round(quantile_cont(l_quantity, 0.9), 6) AS p90,
          |       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "a7_approx_distinct" ->
        """SELECT count(DISTINCT l_partkey) AS exact_parts,
          |       TRUE AS approx_ok FROM lineitem""".stripMargin,
      "a11_histogram" -> // identical integer bin arithmetic
        """SELECT CAST(floor((l_extendedprice - 900.0) / 5000.0) AS BIGINT)
          |         AS bin, count(*) AS n
          |FROM lineitem GROUP BY bin ORDER BY bin""".stripMargin,
      // a15_equidepth_hist ships rows-only (sketch boundaries are
      // engine-specific); a15_depth_verify is its exact-valued gate
      "a15_depth_verify" -> // sketch buckets land inside the rank envelope
        """SELECT CAST(count(*) AS BIGINT) AS n_total,
          |       CAST(20 AS BIGINT) AS n_buckets,
          |       TRUE AS depth_ok FROM lineitem""".stripMargin,
      "a16_join_size_est" -> // identical hash sample + inverse-rate scaling
        SamplingSql.joinSizeEstimate("events", "user_id"),
      "a17_expectations" -> // same rules, same thresholds, same verdicts
        """WITH b AS (SELECT count(*) AS n,
          |                  count(DISTINCT (l_orderkey, l_linenumber))
          |                    AS n_pk,
          |                  CAST(sum(CASE WHEN l_quantity IS NULL
          |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
          |                  min(l_quantity) AS mn
          |           FROM lineitem),
          |o AS (SELECT count(*) AS n_orphans FROM lineitem l
          |      LEFT JOIN orders r ON r.o_orderkey = l.l_orderkey
          |      WHERE r.o_orderkey IS NULL)
          |SELECT * FROM (
          |  SELECT 'fk_orders_orphans' AS rule,
          |         round(CAST(o.n_orphans AS DOUBLE), 6) AS observed,
          |         CAST(0.0 AS DOUBLE) AS threshold,
          |         o.n_orphans = 0 AS passed FROM b, o
          |  UNION ALL
          |  SELECT 'pk_unique_violations',
          |         round(CAST(b.n - b.n_pk AS DOUBLE), 6),
          |         CAST(0.0 AS DOUBLE), b.n = b.n_pk FROM b, o
          |  UNION ALL
          |  SELECT 'qty_min_nonnegative', round(CAST(b.mn AS DOUBLE), 6),
          |         CAST(0.0 AS DOUBLE), b.mn >= 0.0 FROM b, o
          |  UNION ALL
          |  SELECT 'qty_null_count', round(CAST(b.n_null AS DOUBLE), 6),
          |         CAST(0.0 AS DOUBLE), b.n_null = 0 FROM b, o
          |  UNION ALL
          |  SELECT 'rowcount_min', round(CAST(b.n AS DOUBLE), 6),
          |         CAST(1.0 AS DOUBLE), b.n >= 1 FROM b, o)
          |ORDER BY rule""".stripMargin,
      "a12_profile" -> // the one-row corpus health profile
        """SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |         AS null_text,
          |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
          |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
          |       CAST(sum(n_chars) AS BIGINT) AS total_chars
          |FROM documents""".stripMargin,
      "a10_approx_quantile" -> // GK sketch lands inside its rank envelope
        """SELECT round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_exact,
          |       TRUE AS approx_ok FROM lineitem""".stripMargin,
      "x3_dpp" -> // runtime-pruned fact join == plain filtered join
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
          |WHERE length(event_type) <= 5
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "a8_cms_topk" -> // CMS estimate must bracket the exact count
        """SELECT l_suppkey, count(*) AS n, TRUE AS cms_ok FROM lineitem
          |GROUP BY l_suppkey ORDER BY n DESC, l_suppkey LIMIT 10""".stripMargin,
      "a9_hll_merge" -> // per-group sketches union to the global distinct
        """SELECT count(DISTINCT doc_id) AS exact_docs,
          |       TRUE AS merge_ok FROM documents""".stripMargin,
      // the KMV sketch is deterministic integer arithmetic end to end:
      // the oracle checks the sketch itself, not just an accuracy band
      "a13_kmv_distinct" ->
        KmvSql.distinctEstimate("events", "event_type", "user_id"),
      "a14_kmv_jaccard" ->
        KmvSql.jaccardEstimate("events", "event_type", "user_id"),
      "w5_ffill" -> // last_value IGNORE NULLS carries readings forward
        """SELECT user_id, event_id, reading,
          |       last_value(reading IGNORE NULLS) OVER (
          |         PARTITION BY user_id ORDER BY ts, event_id
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
          |FROM (SELECT user_id, event_id, ts,
          |             CASE WHEN event_type = 'error' THEN NULL
          |                  ELSE value END AS reading
          |      FROM events WHERE user_id <= 200)
          |ORDER BY user_id, event_id""".stripMargin,
      "w6_ewma" -> // identical power-of-two weights, identical frame order
        """WITH recent AS (
          |  SELECT user_id, ts, event_id, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rd
          |  FROM events),
          |seq AS (
          |  SELECT user_id, ts, event_id, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts, event_id) AS i,
          |         count(*) OVER (PARTITION BY user_id) AS m
          |  FROM recent WHERE rd <= 32),
          |cum AS (
          |  SELECT user_id, i, m,
          |         sum(value * (CASE WHEN i = 1 THEN 2.0
          |                           ELSE pow(2.0, i - 1) END)) OVER (
          |           PARTITION BY user_id ORDER BY i
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
          |  FROM seq)
          |SELECT user_id, CAST(m AS BIGINT) AS n_events,
          |       round(c / pow(2.0, m), 6) AS ewma
          |FROM cum WHERE i = m ORDER BY user_id""".stripMargin,
      "u5_lateral" -> // identical SQL: the LATERAL subquery cross-engine
        """SELECT n.n_name, l.c_name, l.c_acctbal
          |FROM nation n,
          |LATERAL (SELECT c_name, c_acctbal FROM customer c
          |         WHERE c.c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_name LIMIT 2) l
          |ORDER BY n.n_name, l.c_acctbal DESC, l.c_name""".stripMargin,
      "u6_recursive" -> // identical recursion; hour-of-day via epoch nanos
        """WITH RECURSIVE hours(hr) AS (
          |  SELECT 0 UNION ALL SELECT hr + 1 FROM hours WHERE hr < 23)
          |SELECT h.hr, count(e.hr) AS n
          |FROM hours h LEFT JOIN
          |  (SELECT epoch_ns(ts) // 3600000000000 % 24 AS hr FROM events) e
          |  ON e.hr = h.hr
          |GROUP BY h.hr ORDER BY h.hr""".stripMargin,
      "f5_variant" -> // variant_get's value via engine-neutral extraction
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
          |                     AS BIGINT)) AS BIGINT) AS sum_k,
          |       max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
          |                AS BIGINT)) AS max_k
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "u3_exists_subquery" -> // correlated EXISTS, decorrelated to semi join
        """SELECT o_orderpriority, count(*) AS n
          |FROM orders o
          |WHERE EXISTS (SELECT 1 FROM lineitem l
          |              WHERE l.l_orderkey = o.o_orderkey
          |                AND l.l_quantity >= 45)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "u4_scalar_subquery" -> // correlated scalar agg vs segment average
        """SELECT c_mktsegment, count(*) AS n_above
          |FROM customer c
          |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
          |                   WHERE c2.c_mktsegment = c.c_mktsegment)
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
      "g5_unpivot" -> // wide -> long melt
        """SELECT l_orderkey, l_linenumber, metric, value FROM (
          |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
          |         l_quantity AS value FROM lineitem
          |  UNION ALL
          |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
          |  FROM lineitem
          |  UNION ALL
          |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
          |  FROM lineitem)
          |WHERE l_orderkey <= 100
          |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
      "st11_multibatch" -> // 2-batch delta stream sums to the batch count
        """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "st12_stream_sessions" -> // only watermark-finalized sessions emit:
        // session end (last event + gap) <= max event ms (watermark
        // precision) - 1h delay; strict-gap session rebuild as in e2
        """WITH m AS MATERIALIZED (
          |  SELECT ((epoch_ns(max(ts)) // 1000000) - 3600000) * 1000 AS wm_us
          |  FROM events),
          |o AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us,
          |             lag(epoch_ns(ts) // 1000) OVER
          |               (PARTITION BY user_id ORDER BY ts) AS prev
          |      FROM events),
          |s AS (SELECT user_id, ts_us,
          |             sum(CASE WHEN prev IS NULL
          |                        OR ts_us - prev > 1800000000 THEN 1
          |                      ELSE 0 END) OVER
          |               (PARTITION BY user_id ORDER BY ts_us
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |               AS sid
          |      FROM o),
          |g AS (SELECT user_id, sid, min(ts_us) AS s_start_us,
          |             max(ts_us) + 1800000000 AS s_end_us,
          |             CAST(count(*) AS BIGINT) AS n
          |      FROM s GROUP BY user_id, sid)
          |SELECT user_id, s_start_us, s_end_us, n
          |FROM g, m WHERE s_end_us <= wm_us
          |ORDER BY user_id, s_start_us""".stripMargin,
      "j9_right_outer" -> // dimension side preserved, zero-filled left
        """SELECT c_custkey, c_acctbal,
          |       coalesce(n_orders, 0) AS n_orders
          |FROM (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
          |      FROM orders GROUP BY o_custkey) o
          |RIGHT JOIN (SELECT c_custkey, c_acctbal FROM customer
          |            WHERE c_mktsegment = 'BUILDING') c
          |  ON o_custkey = c_custkey
          |ORDER BY c_custkey""".stripMargin,
      "f4_higher_order" -> // fold/filter lambdas over the array column
        """SELECT vec_id,
          |       round(sqrt(list_aggregate(
          |         list_transform(embedding, x -> CAST(x AS DOUBLE) * x),
          |         'sum')), 4) AS l2,
          |       CAST(len(list_filter(embedding, x -> x > 0)) AS INT)
          |         AS n_pos
          |FROM embeddings ORDER BY vec_id""".stripMargin,
      "t15_repetition" -> // top-bigram mass per doc (boilerplate flag)
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
          |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "j7_full_outer" -> // both dangling sides preserved
        """SELECT coalesce(c_custkey, o_custkey) AS custkey, c_acctbal,
          |       coalesce(n_orders, 0) AS n_orders
          |FROM (SELECT c_custkey, c_acctbal FROM customer
          |      WHERE c_mktsegment = 'BUILDING') c
          |FULL JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
          |           FROM orders GROUP BY o_custkey) o
          |  ON c_custkey = o_custkey
          |ORDER BY custkey""".stripMargin,
      "w3_frames" -> // rows-frame running aggs + lag, unique total order
        """SELECT l_suppkey, l_orderkey, l_linenumber,
          |       sum(l_quantity) OVER w3 AS mov_qty,
          |       max(l_extendedprice) OVER w3 AS mov_max,
          |       lag(l_extendedprice, 1) OVER
          |         (PARTITION BY l_suppkey
          |          ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev_price
          |FROM lineitem WHERE l_suppkey <= 10
          |WINDOW w3 AS (PARTITION BY l_suppkey
          |              ORDER BY l_shipdate, l_orderkey, l_linenumber
          |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
          |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
      "w4_rank_family" -> // row_number / ntile / percent_rank / cume_dist
        """SELECT * FROM (
          |  SELECT o_orderpriority, o_orderkey,
          |         CAST(row_number() OVER w AS INT) AS rn,
          |         CAST(ntile(4) OVER w AS INT) AS q4,
          |         round(percent_rank() OVER w, 6) AS pr,
          |         round(cume_dist() OVER w, 6) AS cd
          |  FROM orders
          |  WINDOW w AS (PARTITION BY o_orderpriority
          |               ORDER BY o_totalprice DESC, o_orderkey))
          |WHERE rn <= 100 ORDER BY o_orderpriority, rn""".stripMargin,
      "d3_scd2" -> // change log -> validity intervals, lead() per key
        """SELECT user_id, event_id, event_type, value,
          |       epoch_ns(ts) // 1000 AS valid_from_us,
          |       lead(epoch_ns(ts) // 1000) OVER
          |         (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us,
          |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |         IS NULL AS is_current
          |FROM events
          |ORDER BY user_id, valid_from_us, event_id""".stripMargin,
      "k2_partitioned_sink" ->
        """SELECT lang, count(*) AS n,
          |       CAST(sum(n_chars) AS BIGINT) AS total_chars
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
      "j1_broadcast_join" ->
        """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
      "j2_shuffle_join" ->
        """SELECT o_orderpriority, count(*) AS n_items,
          |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "j3_union_tag" ->
        s"""SELECT tag, rating, count(*) AS n FROM (
           |  SELECT movieId, rating, 'li' AS tag FROM ($li)
           |  UNION ALL
           |  SELECT movieId, rating, 'ev' AS tag FROM ($ev)
           |) GROUP BY tag, rating ORDER BY tag, rating""".stripMargin,
      "b1_bucketed_join" -> // bucketing must not change results
        """SELECT o_orderpriority, count(*) AS n_items,
          |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "x2_runtime_bloom" -> // the rule must not change results: plain join
        """SELECT p_size, count(*) AS n_items,
          |       round(sum(l_quantity), 2) AS total_qty
          |FROM lineitem JOIN part ON concat('p', l_partkey) = concat('p', p_partkey)
          |WHERE p_size <= 5
          |GROUP BY p_size ORDER BY p_size""".stripMargin,
      "x1_salted_join" -> // the UNSALTED join: salting must not change results
        """SELECT o_orderpriority, count(*) AS n_items,
          |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "f2_json_roundtrip" ->
        """SELECT doc_id, lang, n_chars, lang AS lang_path
          |FROM documents ORDER BY doc_id""".stripMargin,
      "f3_map_ops" ->
        """SELECT doc_id, lang, source, 2 AS n_keys
          |FROM documents ORDER BY doc_id""".stripMargin,
      "e1_event_hourly" ->
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
          |       event_type, count(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
      "e6_sliding" -> // the same 4 hops per event via integer micros
        """WITH ev AS (SELECT epoch_ns(ts) // 1000 AS us, event_type
          |            FROM events),
          |hops AS (
          |  SELECT ((us // 900000000) - k) * 900000000 AS w_start_us,
          |         event_type
          |  FROM ev, (SELECT unnest(generate_series(0, 3)) AS k))
          |SELECT w_start_us, event_type, count(*) AS n
          |FROM hops GROUP BY 1, 2
          |ORDER BY w_start_us, event_type""".stripMargin,
      "g1_rollup" ->
        """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
          |       coalesce(o_orderstatus, 'ALL') AS status,
          |       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
          |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
          |ORDER BY priority, status""".stripMargin,
      "g2_cube" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          |       coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY rf, ls""".stripMargin,
      "g3_pivot" ->
        """SELECT o_orderpriority,
          |       count(*) FILTER (o_orderstatus = 'F') AS "F",
          |       count(*) FILTER (o_orderstatus = 'O') AS "O",
          |       count(*) FILTER (o_orderstatus = 'P') AS "P"
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "g4_grouping_sets" ->
        """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
          |       coalesce(o_orderstatus, 'ALL') AS status,
          |       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
          |ORDER BY priority, status""".stripMargin,
      "e5_retention" ->
        """WITH ev AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
          |            FROM events),
          |first AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY 1)
          |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
          |       date_diff('day', cohort, day) AS day_offset,
          |       count(DISTINCT user_id) AS n_active
          |FROM ev JOIN first USING (user_id)
          |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,
      "e10_cohort_ltv" -> // identical cents-exact cumulative triangle
        """WITH ev AS (
          |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
          |         CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |first AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY 1),
          |cells AS (
          |  SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
          |         date_diff('day', cohort, day) AS day_offset,
          |         CAST(sum(cents) AS BIGINT) AS c
          |  FROM ev JOIN first USING (user_id) GROUP BY 1, 2)
          |SELECT cohort, day_offset,
          |       round(CAST(c AS DOUBLE) / 100, 2) AS rev,
          |       round(CAST(sum(c) OVER (PARTITION BY cohort
          |               ORDER BY day_offset ROWS UNBOUNDED PRECEDING)
          |             AS DOUBLE) / 100, 2) AS cum_ltv
          |FROM cells ORDER BY cohort, day_offset""".stripMargin,
      "e11_seasonality" -> // identical bounded cells + broadcast margins
        """WITH cells AS (
          |  SELECT event_type, (epoch_ns(ts) // 3600000000000) % 24 AS hod,
          |         count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |bt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type
          |       FROM cells GROUP BY 1),
          |bh AS (SELECT hod, CAST(sum(n) AS BIGINT) AS n_hod
          |       FROM cells GROUP BY 1),
          |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM cells)
          |SELECT c.event_type, c.hod, CAST(c.n AS BIGINT) AS n,
          |       round(CAST(c.n AS DOUBLE) / bt.n_type, 6) AS share,
          |       round(CAST(c.n AS DOUBLE) * t.n_tot
          |             / (CAST(bt.n_type AS DOUBLE) * bh.n_hod), 6)
          |         AS seasonal_index
          |FROM cells c
          |JOIN bt ON bt.event_type = c.event_type
          |JOIN bh ON bh.hod = c.hod
          |CROSS JOIN t
          |ORDER BY c.event_type, c.hod""".stripMargin,
      "w12_mad_anomaly" -> // identical exact medians + Hampel threshold
        """WITH ev AS (SELECT event_id, event_type, value FROM events
          |            WHERE value IS NOT NULL),
          |med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
          |        FROM ev GROUP BY 1),
          |mad AS (SELECT ev.event_type, med.med,
          |               quantile_cont(abs(ev.value - med.med), 0.5) AS mad
          |        FROM ev JOIN med USING (event_type) GROUP BY 1, 2)
          |SELECT ev.event_id, ev.event_type, ev.value,
          |       round(CAST(0.6745 AS DOUBLE) * (ev.value - mad.med)
          |             / mad.mad, 6) AS rz
          |FROM ev JOIN mad USING (event_type)
          |WHERE mad.mad > 0
          |  AND abs(round(CAST(0.6745 AS DOUBLE) * (ev.value - mad.med)
          |                / mad.mad, 6)) > 3.5
          |ORDER BY event_id""".stripMargin,
      "e12_holdout_lift" -> // identical exact distinct counts + pooled-z
        """WITH a AS (
          |  SELECT
          |    count(DISTINCT CASE WHEN user_id % 2 = 0
          |                        THEN user_id END) AS n_ctl,
          |    count(DISTINCT CASE WHEN user_id % 2 = 1
          |                        THEN user_id END) AS n_trt,
          |    count(DISTINCT CASE WHEN user_id % 2 = 0
          |                        AND event_type = 'purchase'
          |                        AND value >= 200.0
          |                        THEN user_id END) AS c_ctl,
          |    count(DISTINCT CASE WHEN user_id % 2 = 1
          |                        AND event_type = 'purchase'
          |                        AND value >= 200.0
          |                        THEN user_id END) AS c_trt
          |  FROM events),
          |d AS (
          |  SELECT CAST(n_ctl AS BIGINT) AS n_ctl,
          |         CAST(n_trt AS BIGINT) AS n_trt,
          |         CAST(c_ctl AS DOUBLE) / n_ctl AS p0,
          |         CAST(c_trt AS DOUBLE) / n_trt AS p1,
          |         CAST(c_ctl + c_trt AS DOUBLE) / (n_ctl + n_trt) AS pp
          |  FROM a),
          |e AS (
          |  SELECT n_ctl, n_trt, p0, p1,
          |         sqrt(pp * (CAST(1.0 AS DOUBLE) - pp)
          |              * (CAST(1.0 AS DOUBLE) / n_ctl
          |                 + CAST(1.0 AS DOUBLE) / n_trt)) AS se
          |  FROM d)
          |SELECT n_ctl, n_trt,
          |       round(p0, 6) AS conv_ctl, round(p1, 6) AS conv_trt,
          |       round(p1 - p0, 6) AS lift,
          |       round(CASE WHEN se > 0 THEN (p1 - p0) / se END, 6) AS z
          |FROM e""".stripMargin,
      "e13_rfm" -> // DuckDB's own ntile() over the identical unique
        // orders (RanksSpec pins the Spark=DuckDB split convention)
        """WITH pc AS (
          |  SELECT o_custkey, max(o_orderdate) AS last_dt,
          |         count(*) AS freq,
          |         CAST(sum(CAST(round(o_totalprice * 100) AS HUGEINT))
          |              AS BIGINT) AS cents
          |  FROM orders GROUP BY 1),
          |sc AS (
          |  SELECT cents,
          |         ntile(5) OVER (ORDER BY last_dt, o_custkey) AS r_score,
          |         ntile(5) OVER (ORDER BY freq, o_custkey) AS f_score,
          |         ntile(5) OVER (ORDER BY cents, o_custkey) AS m_score
          |  FROM pc)
          |SELECT CAST(r_score AS BIGINT) AS r_score,
          |       CAST(f_score AS BIGINT) AS f_score,
          |       CAST(m_score AS BIGINT) AS m_score,
          |       count(*) AS n_customers,
          |       CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT)
          |         AS total_cents
          |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
      "e15_segment_migration" -> // DuckDB's own ntile over the identical
        // unique (cents, custkey) orders per half, identical day
        // midpoint, HUGEINT cents sums cast back (RanksSpec parity)
        """WITH base AS (
          |  SELECT o_custkey,
          |         epoch_us(o_orderdate) // 86400000000 AS d,
          |         CAST(round(o_totalprice * 100) AS HUGEINT) AS cents
          |  FROM orders),
          |span AS (SELECT min(d) AS d0, max(d) AS d1 FROM base),
          |half AS (
          |  SELECT o_custkey,
          |         d <= (d0 + d1) // 2 AS first_half,
          |         CAST(sum(cents) AS BIGINT) AS cents
          |  FROM base CROSS JOIN span
          |  GROUP BY 1, 2),
          |h1 AS (
          |  SELECT o_custkey,
          |         ntile(5) OVER (ORDER BY cents, o_custkey) AS r_first
          |  FROM half WHERE first_half),
          |h2 AS (
          |  SELECT o_custkey,
          |         ntile(5) OVER (ORDER BY cents, o_custkey) AS r_second
          |  FROM half WHERE NOT first_half)
          |SELECT CAST(r_first AS BIGINT) AS r_first,
          |       CAST(r_second AS BIGINT) AS r_second,
          |       count(*) AS n_customers
          |FROM h1 JOIN h2 USING (o_custkey)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "e14_survival" -> // identical integer day indexes, quantized
        // ln terms (1e12 grid), exact prefix sums, one exp at the end
        """WITH per AS (
          |  SELECT o_custkey,
          |         min(epoch_us(o_orderdate) // 86400000000) AS f,
          |         max(epoch_us(o_orderdate) // 86400000000) AS l
          |  FROM orders GROUP BY 1),
          |mx AS (SELECT max(l) AS m FROM per),
          |b AS (SELECT l - f AS dur, (m - l) > 90 AS event
          |      FROM per CROSS JOIN mx),
          |cells AS (
          |  SELECT dur, count(*) AS n_all,
          |         CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
          |           AS d
          |  FROM b GROUP BY 1),
          |r AS (
          |  SELECT dur, d,
          |         CAST(sum(n_all) OVER (ORDER BY dur DESC
          |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
          |  FROM cells),
          |e AS (
          |  SELECT dur, n_risk, d,
          |         CASE WHEN n_risk > d
          |              THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE)
          |                                / CAST(n_risk AS DOUBLE))
          |                              * 1e12) AS BIGINT)
          |              ELSE CAST(0 AS BIGINT) END AS tq,
          |         CASE WHEN n_risk = d THEN 1 ELSE 0 END AS dd
          |  FROM r WHERE d > 0),
          |k AS (
          |  SELECT dur, n_risk, d,
          |         sum(tq) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
          |           AS cq,
          |         max(dd) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
          |           AS dead
          |  FROM e)
          |SELECT dur AS t_days, n_risk, d AS d_events,
          |       CASE WHEN dead = 1 THEN 0.0
          |            ELSE round(exp(CAST(cq AS DOUBLE) / 1e12), 6)
          |       END AS survival
          |FROM k ORDER BY t_days""".stripMargin,
      "w13_cusum" -> // identical reflection-identity CUSUM, exact ints
        FeatureEngSql.cusum,
      "a18_mode" -> // identical cells, row_number tie-break
        """WITH cells AS (
          |  SELECT event_type, (epoch_ns(ts) // 3600000000000) % 24 AS hod,
          |         count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |r AS (SELECT event_type, hod, n,
          |             row_number() OVER (PARTITION BY event_type
          |                                ORDER BY n DESC, hod) AS rn
          |      FROM cells)
          |SELECT event_type, hod AS mode_hod, CAST(n AS BIGINT) AS n
          |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
      "w14_mann_kendall" -> // identical exact S / tie term / n, one
        // closed-form z, quantile_cont over the identical slope multiset
        """WITH cells AS (
          |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
          |         count(*) AS x
          |  FROM events GROUP BY 1, 2),
          |p AS (
          |  SELECT a.event_type,
          |         CAST(sum(CASE WHEN b.x > a.x THEN 1
          |                       WHEN b.x < a.x THEN -1
          |                       ELSE 0 END) AS BIGINT) AS s_stat,
          |         quantile_cont((b.x - a.x) / (b.hr - a.hr), 0.5)
          |           AS sen_raw
          |  FROM cells a JOIN cells b
          |    ON b.event_type = a.event_type AND b.hr > a.hr
          |  GROUP BY 1),
          |t AS (
          |  SELECT event_type,
          |         CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT)
          |           AS tie_term
          |  FROM (SELECT event_type, x, count(*) AS c
          |        FROM cells GROUP BY 1, 2)
          |  GROUP BY 1),
          |n AS (SELECT event_type, count(*) AS n FROM cells GROUP BY 1),
          |j AS (
          |  SELECT n.event_type, n.n, p.s_stat, p.sen_raw,
          |         CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term
          |              AS DOUBLE) / 18.0 AS var_s
          |  FROM n JOIN p USING (event_type) JOIN t USING (event_type)),
          |z AS (
          |  SELECT event_type, n, s_stat, sen_raw,
          |         CASE WHEN var_s > 0 THEN
          |           CASE WHEN s_stat > 0
          |                THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
          |                WHEN s_stat < 0
          |                THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
          |                ELSE 0.0 END
          |         END AS zv
          |  FROM j)
          |SELECT event_type, n AS n_hours, s_stat,
          |       round(zv, 6) AS z,
          |       abs(round(zv, 6)) > 1.96 AS trend,
          |       round(sen_raw, 6) AS sen_slope
          |FROM z ORDER BY event_type""".stripMargin,
      "a20_iqr_outliers" -> // identical exact quantiles (a6 parity),
        // identical fence arithmetic rounded before the comparison
        """WITH q AS (
          |  SELECT event_type,
          |         quantile_cont(value, 0.25) AS q1,
          |         quantile_cont(value, 0.75) AS q3
          |  FROM events GROUP BY 1),
          |f AS (
          |  SELECT event_type,
          |         round(q1 - 1.5 * (q3 - q1), 6) AS lo,
          |         round(q3 + 1.5 * (q3 - q1), 6) AS hi
          |  FROM q)
          |SELECT e.event_type, count(*) AS n,
          |       CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
          |       min(f.lo) AS lo_fence, min(f.hi) AS hi_fence,
          |       round(CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi
          |                          THEN 1 ELSE 0 END) AS DOUBLE)
          |             / count(*), 6) AS outlier_frac
          |FROM events e JOIN f USING (event_type)
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "a19_moments" -> // identical HUGEINT power sums, closed forms on
        // identical doubles, same zero-variance guards
        """WITH g AS (
          |  SELECT o_orderpriority AS priority,
          |         count(*) AS n,
          |         sum(CAST(round(o_totalprice) AS HUGEINT)) AS s1,
          |         sum(CAST(round(o_totalprice) AS HUGEINT)
          |             * CAST(round(o_totalprice) AS BIGINT)) AS s2,
          |         sum(CAST(round(o_totalprice) AS HUGEINT)
          |             * CAST(round(o_totalprice) AS BIGINT)
          |             * CAST(round(o_totalprice) AS BIGINT)) AS s3,
          |         sum(CAST(round(o_totalprice) AS HUGEINT)
          |             * CAST(round(o_totalprice) AS BIGINT)
          |             * CAST(round(o_totalprice) AS BIGINT)
          |             * CAST(round(o_totalprice) AS BIGINT)) AS s4
          |  FROM orders GROUP BY 1),
          |m AS (
          |  SELECT priority, n,
          |         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
          |         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
          |         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
          |         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
          |  FROM g),
          |cm AS (
          |  SELECT priority, n,
          |         r2 - mu * mu AS m2,
          |         r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
          |         r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
          |           - 3.0 * mu * mu * mu * mu AS m4
          |  FROM m)
          |SELECT priority, n,
          |       round(CASE WHEN m2 > 0
          |                  THEN m3 / sqrt(m2 * m2 * m2) END, 6)
          |         AS skewness,
          |       round(CASE WHEN m2 > 0
          |                  THEN m4 / (m2 * m2) - 3.0 END, 6)
          |         AS ex_kurtosis
          |FROM cm ORDER BY priority""".stripMargin,
      "e4_funnel" ->
        """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
          |           WHERE event_type = 'view' GROUP BY 1),
          |c AS (SELECT e.user_id, min(e.ts) AS t_click
          |      FROM events e JOIN v USING (user_id)
          |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
          |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
          |      FROM events e JOIN c USING (user_id)
          |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
          |SELECT nv AS n_view, nc AS n_click, np AS n_purchase,
          |       CASE WHEN nv > 0
          |         THEN round(CAST(nc AS DOUBLE) / nv, 6) END AS view_to_click,
          |       CASE WHEN nc > 0
          |         THEN round(CAST(np AS DOUBLE) / nc, 6) END AS click_to_purchase
          |FROM (SELECT count(*) AS nv FROM v),
          |     (SELECT count(*) AS nc FROM c),
          |     (SELECT count(*) AS np FROM p)""".stripMargin,
      "t26_char_entropy" -> TextAnalysisSql.charEntropy,
      "e2_sessionize" -> // lag/gap/cumsum replicates session_window exactly:
        // an event starts a new session iff it is STRICTLY more than the
        // gap after the previous one (an event at exactly last+gap merges
        // — session_window's interval is closed; RetrievalSpec pins this)
        """WITH o AS (
          |  SELECT user_id, ts,
          |         CASE WHEN prev IS NULL
          |                OR ts - prev > INTERVAL 30 MINUTE THEN 1
          |              ELSE 0 END AS new_s
          |  FROM (SELECT user_id, ts,
          |               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          |        FROM events)),
          |s AS (
          |  SELECT user_id,
          |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM o),
          |g AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY user_id, sid)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
          |       CAST(sum(n) AS BIGINT) AS n_events,
          |       CAST(max(n) AS BIGINT) AS max_session_events
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
      "st20_stream_markov" -> markovSql, // drained stream == batch twin
      "e8_markov" -> markovSql,
      "e9_attribution" -> attributionSql, // carried last-touch, 7-day look
      "st22_stream_attribution" -> attributionSql, // drained == batch twin
      "st23_stream_cms" -> // stream-built CMS must bracket the exact count
        """SELECT user_id, count(*) AS n, TRUE AS cms_ok FROM events
          |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10""".stripMargin,
      "st24_stream_contract" -> // drained metrics == batch contract facts
        """SELECT * FROM (
          |  SELECT 'rowcount_min' AS rule,
          |         round(CAST(count(*) AS DOUBLE), 6) AS observed,
          |         CAST(1.0 AS DOUBLE) AS threshold,
          |         count(*) >= 1 AS passed FROM events
          |  UNION ALL
          |  SELECT 'type_domain',
          |         round(CAST(count(DISTINCT event_type) AS DOUBLE), 6),
          |         CAST(5.0 AS DOUBLE),
          |         count(DISTINCT event_type) = 5 FROM events
          |  UNION ALL
          |  SELECT 'value_min_nonnegative', round(min(value), 6),
          |         CAST(0.0 AS DOUBLE), min(value) >= 0.0 FROM events
          |  UNION ALL
          |  SELECT 'value_null_count',
          |         round(CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
          |               AS DOUBLE), 6),
          |         CAST(0.0 AS DOUBLE),
          |         sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0
          |  FROM events)
          |ORDER BY rule""".stripMargin,
      // drained digit state == the batch audit, row for row
      "st25_stream_benford" -> FeatureEngSql.benford,
      // stream-served predictions == the batch classifier's own oracle
      "st26_stream_nb_serve" -> NaiveBayesSql.apply,
      "st27_stream_psi" -> FeatureEngSql.psiDrift(),
      "st28_stream_ks" -> FeatureEngSql.ksBinned(),
      "st29_stream_cusum" -> FeatureEngSql.cusum,
      "st30_stream_intake_gate" -> // the composed quality+readability
        // twins, grouped into the identical per-source ledger
        s"""WITH s AS (
           |  SELECT d.source, q.quality, r.flesch
           |  FROM documents d
           |  JOIN (${TextAnalysisSql.qualityScore}) q USING (doc_id)
           |  JOIN (${TextAnalysisSql.readability}) r USING (doc_id))
           |SELECT source, count(*) AS n_docs,
           |       CAST(sum(CASE WHEN quality >= 0.5 AND flesch >= 20.0
           |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           |       round(CAST(sum(CASE WHEN quality >= 0.5
           |                           AND flesch >= 20.0
           |                          THEN 1 ELSE 0 END) AS DOUBLE)
           |             / count(*), 6) AS pass_rate
           |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
      "d5_merge_cdc" -> // from-scratch recompute: global latest op, D wins
        """WITH ops AS (
          |  SELECT user_id, event_id, epoch_ns(ts) AS tns,
          |         CASE event_type WHEN 'signup' THEN 'I'
          |                         WHEN 'error' THEN 'D'
          |                         ELSE 'U' END AS op,
          |         value
          |  FROM events),
          |seq AS (SELECT *, row_number() OVER (PARTITION BY user_id
          |          ORDER BY tns DESC, event_id DESC) AS rn FROM ops)
          |SELECT user_id, event_id, tns // 1000 AS ts_us, op, value
          |FROM seq WHERE rn = 1 AND op <> 'D'
          |ORDER BY user_id""".stripMargin,
      "w7_zscore_anomaly" -> zscoreSql, // identical frame, rounded-z filter
      "st21_stream_anomaly" -> zscoreSql, // drained stream == batch twin
      "e7_dynamic_sessions" -> // islands via running max of per-event ends
        """WITH ev AS (
          |  SELECT user_id, ts,
          |         CASE WHEN event_type IN ('view', 'click')
          |                THEN INTERVAL 15 MINUTE
          |              ELSE INTERVAL 45 MINUTE END AS gap
          |  FROM events),
          |m AS (
          |  SELECT user_id, ts,
          |         max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |           AS prev_end
          |  FROM ev),
          |o AS (SELECT user_id, ts,
          |             CASE WHEN prev_end IS NULL OR ts > prev_end THEN 1
          |                  ELSE 0 END AS new_s
          |      FROM m),
          |s AS (SELECT user_id,
          |             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |               AS sid
          |      FROM o),
          |g AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
          |       CAST(sum(n) AS BIGINT) AS n_events,
          |       CAST(max(n) AS BIGINT) AS max_session_events
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
      "j5_asof_join" -> // DuckDB's native ASOF JOIN is the oracle
        """WITH probes AS (
          |  SELECT event_id, event_type, epoch_us(ts) AS p_us
          |  FROM events WHERE event_id % 10 = 0),
          |quotes AS (
          |  SELECT event_type, epoch_us(ts) AS q_us, round(max(value), 6) AS q_value
          |  FROM events WHERE event_id % 10 <> 0
          |  GROUP BY event_type, epoch_us(ts))
          |SELECT p.event_id, p.event_type, p.p_us,
          |       coalesce(q.q_us, -1) AS q_us,
          |       coalesce(q.q_value, 0.0) AS q_value
          |FROM probes p ASOF LEFT JOIN quotes q
          |  ON p.event_type = q.event_type AND q.q_us <= p.p_us
          |ORDER BY event_id""".stripMargin,
      "j11_asof_tolerance" -> // native ASOF + staleness null-out
        """WITH probes AS (
          |  SELECT event_id, event_type, epoch_us(ts) AS p_us
          |  FROM events WHERE event_id % 10 = 0),
          |quotes AS (
          |  SELECT event_type, epoch_us(ts) AS q_us, round(max(value), 6) AS q_value
          |  FROM events WHERE event_id % 10 <> 0
          |  GROUP BY event_type, epoch_us(ts))
          |SELECT p.event_id, p.event_type, p.p_us,
          |       coalesce(CASE WHEN p.p_us - q.q_us <= 1800000000
          |                     THEN q.q_us END, -1) AS q_us,
          |       coalesce(CASE WHEN p.p_us - q.q_us <= 1800000000
          |                     THEN q.q_value END, 0.0) AS q_value
          |FROM probes p ASOF LEFT JOIN quotes q
          |  ON p.event_type = q.event_type AND q.q_us <= p.p_us
          |ORDER BY event_id""".stripMargin,
      "j6_range_join" -> // plain BETWEEN join (DuckDB plans IEJoin)
        """SELECT p_partkey AS band_id, count(*) AS n,
          |       round(sum(l_extendedprice), 2) AS total_price
          |FROM lineitem JOIN part
          |  ON l_extendedprice BETWEEN p_retailprice - 50.0 AND p_retailprice + 50.0
          |WHERE p_partkey % 10 = 0
          |GROUP BY p_partkey ORDER BY band_id""".stripMargin,
      "j4_semi_anti" ->
        """SELECT tag, count(*) AS n FROM (
          |  SELECT c_custkey, CASE WHEN EXISTS (SELECT 1 FROM orders
          |           WHERE o_custkey = c_custkey)
          |         THEN 'has_orders' ELSE 'no_orders' END AS tag
          |  FROM customer)
          |GROUP BY tag ORDER BY tag""".stripMargin,
      "u1_intersect" ->
        s"""SELECT DISTINCT rating FROM ($li)
           |INTERSECT SELECT DISTINCT rating FROM ($ev) ORDER BY rating""".stripMargin,
      "u2_except" ->
        s"""SELECT DISTINCT rating FROM ($li)
           |EXCEPT SELECT DISTINCT rating FROM ($ev) ORDER BY rating""".stripMargin,
      "d1_distinct_agg" ->
        """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
          |       count(*) AS n_rows
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "d6_snapshot_diff" -> // two latest-wins states compared key for key
        """WITH cut AS (SELECT (min(epoch_ns(ts))
          |                     + (max(epoch_ns(ts)) - min(epoch_ns(ts))) // 2)
          |                AS c FROM events),
          |n AS (SELECT user_id, event_id AS new_eid FROM (
          |        SELECT *, row_number() OVER (PARTITION BY user_id
          |          ORDER BY ts DESC, event_id DESC) AS rn FROM events)
          |      WHERE rn = 1),
          |o AS (SELECT user_id, event_id AS old_eid FROM (
          |        SELECT *, row_number() OVER (PARTITION BY user_id
          |          ORDER BY ts DESC, event_id DESC) AS rn FROM events
          |        WHERE epoch_ns(ts) < (SELECT c FROM cut))
          |      WHERE rn = 1)
          |SELECT n.user_id, o.old_eid, n.new_eid,
          |       CASE WHEN o.old_eid IS NULL THEN 'added'
          |            WHEN o.old_eid <> n.new_eid THEN 'changed'
          |            ELSE 'unchanged' END AS status
          |FROM n LEFT JOIN o ON o.user_id = n.user_id
          |ORDER BY n.user_id""".stripMargin,
      "p18_kfold" -> // identical integer hash, identical tokenization
        s"""SELECT ${Sampling.rowHashSql("doc_id")} % 5 AS fold,
           |       count(*) AS n_docs,
           |       CAST(sum(len(${TextAnalysisSql.toks})) AS BIGINT)
           |         AS n_tokens
           |FROM documents GROUP BY fold ORDER BY fold""".stripMargin,
      "w10_winsorize" -> // same exact percentiles, same clamp
        """WITH c AS (SELECT event_type,
          |                  quantile_cont(value, 0.01) AS lo,
          |                  quantile_cont(value, 0.99) AS hi
          |           FROM events GROUP BY 1)
          |SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
          |       round(least(greatest(e.value, c.lo), c.hi), 6) AS clipped,
          |       (e.value < c.lo OR e.value > c.hi) AS was_clipped
          |FROM events e JOIN c ON c.event_type = e.event_type
          |ORDER BY e.event_id""".stripMargin,
      "w9_autocorr" -> // same lag pairs, same Pearson, same degeneracy guard
        """SELECT user_id, count(*) AS n_pairs,
          |       CASE WHEN stddev_samp(value) > 0
          |                 AND stddev_samp(prev) > 0
          |            THEN round(corr(value, prev), 6) END AS rho
          |FROM (SELECT user_id, value,
          |             lag(value) OVER (PARTITION BY user_id
          |               ORDER BY ts, event_id) AS prev
          |      FROM events)
          |WHERE prev IS NOT NULL
          |GROUP BY user_id ORDER BY user_id""".stripMargin,
      "w8_rolling_median" -> // native windowed median, identical frame
        """SELECT user_id, event_id, round(value, 6) AS value,
          |       round(median(value) OVER (PARTITION BY user_id
          |         ORDER BY ts, event_id
          |         ROWS BETWEEN 14 PRECEDING AND CURRENT ROW), 6)
          |         AS roll_median
          |FROM events WHERE user_id <= 50
          |ORDER BY user_id, event_id""".stripMargin,
      "d2_upsert_latest" -> // latest change record per key wins
        """SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
          |       event_type, value
          |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
          |WHERE rn = 1 ORDER BY user_id""".stripMargin,
      "d4_incremental_mv" -> // merge of partials == full recompute
        """SELECT epoch_ns(ts) // 3600000000000 AS hr, event_type,
          |       count(*) AS n, round(sum(value), 2) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin,
      "j10_interval_lookup" -> // same intervals, same half-open boundary
        """WITH dim AS (
          |  SELECT user_id AS d_user, event_id AS dim_event_id,
          |         value AS dim_value,
          |         epoch_ns(ts) // 1000 AS valid_from_us,
          |         lead(epoch_ns(ts) // 1000) OVER
          |           (PARTITION BY user_id ORDER BY ts, event_id)
          |           AS valid_to_us
          |  FROM events),
          |probes AS (
          |  SELECT user_id, event_id AS probe_event_id,
          |         epoch_ns(ts) // 1000 - 1 AS probe_us
          |  FROM events)
          |SELECT p.user_id, p.probe_event_id, d.dim_event_id, d.dim_value
          |FROM probes p LEFT JOIN dim d
          |  ON p.user_id = d.d_user AND p.probe_us >= d.valid_from_us
          |  AND (d.valid_to_us IS NULL OR p.probe_us < d.valid_to_us)
          |ORDER BY p.user_id, p.probe_event_id""".stripMargin,
      "st18_stream_mv" -> // 2-batch MV merge chain == full recompute
        """SELECT epoch_ns(ts) // 3600000000000 AS hr, event_type,
          |       count(*) AS n, round(sum(value), 2) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin,
      "st19_checkpoint_resume" -> // two checkpointed runs == one batch pass
        """SELECT event_type, count(*) AS n
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
      "w1_window_share" ->
        s"""SELECT rating, n, round(n / sum(n) OVER (), 6) AS share
           |FROM (SELECT rating, count(*) AS n FROM ($li) GROUP BY rating)
           |ORDER BY rating""".stripMargin,
      "w2_topn_per_group" ->
        """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
          |  SELECT o_orderpriority, o_orderkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_orderpriority
          |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders)
          |WHERE rn <= 2 ORDER BY o_orderpriority, rn""".stripMargin,
      "bloom_geometry" ->
        s"""SELECT rating, n,
           |       CAST(least(${Int.MaxValue.toLong - 8}, greatest(1, ceil(n * $bpk))) AS INT) AS m,
           |       ${BloomFilter.numHashes(defaultP)} AS k
           |FROM (SELECT rating, count(*) AS n FROM ($train) GROUP BY rating)
           |ORDER BY rating""".stripMargin,
      "bloom_probe_totals" ->
        s"""SELECT rating, count(*) AS total, count(*) AS hits FROM ($train)
           |GROUP BY rating ORDER BY rating""".stripMargin,
      "bloom_zero_fn" -> "SELECT CAST(0 AS BIGINT) AS false_negatives",
      "bloom_sharded_geometry" ->
        s"""SELECT rating, n, s,
           |       CAST(least(${Int.MaxValue.toLong - 8}, greatest(1,
           |         ceil(ceil(n / CAST(s AS DOUBLE)) * $bpk))) AS INT) AS m,
           |       ${BloomFilter.numHashes(defaultP)} AS k
           |FROM (SELECT rating, n,
           |        CAST(greatest(1, ceil(ceil(n * $bpk) / $shardedSlabBits.0)) AS INT) AS s
           |      FROM (SELECT rating, count(*) AS n FROM ($train) GROUP BY rating))
           |ORDER BY rating""".stripMargin,
      "bloom_sharded_zero_fn" -> "SELECT CAST(0 AS BIGINT) AS false_negatives",
      "a2_indexed_equiv" -> "SELECT CAST(0 AS BIGINT) AS mismatched",
      "bloom_reload_probe" ->
        s"""SELECT rating, count(*) AS total, count(*) AS hits FROM ($train)
           |GROUP BY rating ORDER BY rating""".stripMargin,
      "bloom_sharded_reload" -> // zero-FN: every routed train probe hits
        s"""SELECT rating, count(*) AS total, count(*) AS hits FROM ($train)
           |GROUP BY rating ORDER BY rating""".stripMargin,
      "bloom_seqfile_reload" -> // zero-FN through the SequenceFile artifact
        s"""SELECT rating, count(*) AS total, count(*) AS hits FROM ($train)
           |GROUP BY rating ORDER BY rating""".stripMargin,
      "bloom_approx_geometry" -> // sketch sizing inside the fixed envelope
        s"""SELECT count(DISTINCT rating) AS groups,
           |       CAST(0 AS BIGINT) AS envelope_violations FROM ($train)""".stripMargin,
      "k1_text_roundtrip" ->
        s"SELECT rating, count(*) AS n FROM ($li) GROUP BY rating ORDER BY rating",
      "k5_csv_roundtrip" -> // quoted/escaped CSV survives the round trip
        """SELECT doc_id, lang,
          |       chr(34) || 'q' || chr(34) || ', ' || chr(10) || text AS text
          |FROM documents ORDER BY doc_id""".stripMargin,
      "e3_gapfill" -> // hour spine x types, sparse counts zero-filled
        """WITH ev AS (SELECT epoch_ns(ts) // 3600000000000 AS hr, event_type
          |            FROM events),
          |spine AS (SELECT unnest(generate_series((SELECT min(hr) FROM ev),
          |                                        (SELECT max(hr) FROM ev))) AS hr),
          |types AS (SELECT DISTINCT event_type FROM ev),
          |counts AS (SELECT hr, event_type, count(*) AS n FROM ev GROUP BY 1, 2)
          |SELECT s.hr, t.event_type,
          |       CAST(coalesce(c.n, 0) AS BIGINT) AS n
          |FROM spine s CROSS JOIN types t
          |LEFT JOIN counts c ON c.hr = s.hr AND c.event_type = t.event_type
          |ORDER BY s.hr, t.event_type""".stripMargin,
      "s1_tsv_ingest" -> s"SELECT * FROM ($li) ORDER BY movieId",
      "s3_split_sizing" ->
        """SELECT count(*) AS n_rows, TRUE AS multi_split
          |FROM lineitem WHERE l_quantity >= 2.5""".stripMargin,
      "s2_jsonl_ingest" ->
        "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
      "s6_schema_evolution" -> // gen=1 predates n_chars -> null-filled
        """SELECT CAST(1 + doc_id % 2 AS BIGINT) AS gen, count(*) AS n,
          |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
          |         AS BIGINT) AS n_with_chars,
          |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END)
          |         AS BIGINT) AS total_chars
          |FROM documents GROUP BY 1 ORDER BY gen""".stripMargin,
      "s5_json_malformed" -> // the fixture breaks exactly the %50 lines
        """SELECT doc_id, lang, n_chars FROM documents
          |WHERE doc_id % 50 <> 0 ORDER BY doc_id""".stripMargin,
      "t1_token_stats" -> s"${TextAnalysisSql.tokenStats} ORDER BY doc_id",
      "t2_quality" -> s"${TextAnalysisSql.qualityScore} ORDER BY doc_id",
      "t3_langid" -> s"${TextAnalysisSql.langId} ORDER BY doc_id",
      "t14_gopher_filter" ->
        s"${TextAnalysisSql.gopherFilter} ORDER BY doc_id",
      "t16_hashed_lr" -> // identical integer bucket/weight arithmetic
        s"${TextAnalysisSql.hashedLr(64)} ORDER BY doc_id",
      "dedup_passage" -> DedupSql.passageDedup(8),
      "t17_boilerplate_rate" -> DedupSql.boilerplateRate(8),
      "p10_temperature_mix" -> SamplingSql.temperatureMix(50),
      "p11_shuffle_shards" -> SamplingSql.shuffleShards(8),
      "p12_token_budget" -> SamplingSql.tokenBudget(100000L),
      "t5_vocab" -> TextAnalysisSql.vocabulary(50),
      "t18_quality_calibrate" -> SamplingSql.calibrateQuality(30),
      "p13_curriculum" ->
        s"${SamplingSql.curriculumPhases(4)} ORDER BY doc_id",
      "p14_weighted_sample" -> SamplingSql.weightedSample(100),
      "p17_consistent_sample" -> SamplingSql.consistentSample(5),
      "p15_stratified_es" -> SamplingSql.stratifiedWeightedSample(5),
      "t19_oov_rate" -> s"${TextAnalysisSql.oovRate(50)} ORDER BY doc_id",
      "t28_vocab_growth" -> TextAnalysisSql.vocabGrowth(10),
      "t29_zipf_slope" -> TextAnalysisSql.zipfSlope(100),
      "t20_token_drift" ->
        s"${TextAnalysisSql.tokenDrift(batchAPredSql, 50)} ORDER BY token",
      "t21_unigram_lm" -> TextAnalysisSql.unigramLm,
      "t32_perplexity_filter" -> TextAnalysisSql.perplexityFilter(0.5),
      "t38_zipf" -> TextAnalysisSql.zipfAudit(),
      "t39_heaps" -> TextAnalysisSql.heapsAudit(),
      "t39_heaps_synth" -> TextAnalysisSql.heapsSynth(),
      "t40_tfidf_retrieval" -> TextAnalysisSql.tfidfRetrieval(),
      "t41_contamination" -> DedupSql.contamination(3, 50, 0.5),
      "t42_ngram_novelty" -> DedupSql.ngramNovelty(3),
      "t43_js_domains" -> TextAnalysisSql.jsDivergence,
      "t44_rake" -> TextAnalysisSql.rake(),
      "t45_readability" -> TextAnalysisSql.readability,
      "t46_code_detect" -> TextAnalysisSql.codeDetect(),
      "fe11_cramers_v" -> FeatureEngSql.cramersV,
      "fe13_vif" -> FeatureEngSql.vif,
      "fe14_pca2" -> FeatureEngSql.pca2,
      "fe15_gini" -> FeatureEngSql.gini,
      "fe16_anova" -> FeatureEngSql.anova,
      "fe17_partial_corr" -> FeatureEngSql.partialCorr,
      "fe18_spearman" -> FeatureEngSql.spearman,
      "fe19_xcorr" -> FeatureEngSql.xcorr(),
      "fe12_woe_ntile" -> FeatureEngSql.woeIvNtile(),
      "t33_auc" -> TextAnalysisSql.aucOfHashedLr(64,
        s"list_contains(${TextAnalysisSql.toks}, 'spark')"),
      "t34_calibration" -> TextAnalysisSql.calibrationOfHashedLr(64,
        s"list_contains(${TextAnalysisSql.toks}, 'spark')", 200),
      // the drained stream must reproduce the batch LM scores exactly
      "st14_stream_lm" -> TextAnalysisSql.unigramLm,
      // the drained stream must reproduce the batch DSIR weights exactly
      "st15_stream_dsir" -> TextAnalysisSql.dsirWeights(dsirTargetPredSql),
      "dedup_exact" -> s"${DedupSql.exactKeepers} ORDER BY doc_id",
      "dedup_bloom_xbatch" ->
        DedupSql.bloomNewDocs(batchAPredSql, s"NOT $batchAPredSql"),
      "dedup_minhash_lsh" -> DedupSql.minhashLshPairs(0.8, 3),
      "dedup_containment" -> DedupSql.containmentAllPairs(0.8, 3),
      "dedup_clusters" -> DedupSql.nearDupClusters(0.8, 3),
      "dedup_keep_best" -> DedupSql.keepBest(0.8, 3),
      "p16_leakage_split" -> DedupSql.leakageSafeSplit(80, 0.8, 3),
      "pipe1_clean_corpus" -> DedupSql.cleanCorpus(0.5),
      "pipe2_pretrain_corpus" -> DedupSql.pretrainCorpus("doc_id % 100 = 0", 0.5),
      "pipe3_export_corpus" -> SamplingSql.exportCorpus(64, 50, 8),
      "dedup_lsh_tune" -> DedupSql.lshTune(),
      "pipe5_corpus_prep" -> DedupSql.corpusPrep("doc_id % 100 = 0",
        minQuality = 0.5, threshold = 0.8, shingleN = 3, contamN = 5,
        budget = 512),
      "mm1_meta" -> MultimodalSql.attachMeta,
      "mm2_frame_stats" -> MultimodalSql.frameStats,
      "mm3_decode_batch" -> MultimodalSql.decodeBatch,
      "dedup_embedding_cos" -> SimilaritySql.bruteForcePairs(0.4),
      "dedup_semantic" -> SimilaritySql.semanticDedup(0.4, 50),
      "sim_topk" -> SimilaritySql.bruteForceTopK(simQueryPredSql, simK),
      "sim_knn_classify" -> SimilaritySql.knnClassify(simQueryPredSql, simK),
      "t6_shingle_stats" -> s"${TextAnalysisSql.shingleStats(3)} ORDER BY doc_id",
      "t7_token_counts" -> s"${TextAnalysisSql.tokenCounts} ORDER BY doc_id",
      "t8_pack_sequences" ->
        s"${TextAnalysisSql.packSequences(512)} ORDER BY doc_id",
      "t8_pack_sharded" ->
        s"${TextAnalysisSql.packSequencesSharded(512)} ORDER BY doc_id",
      "t22_chunk" ->
        s"${TextAnalysisSql.chunkDocuments(32, 8)} ORDER BY doc_id, chunk_id",
      "t23_bpe_pairs" -> TokenizerSql.bpePairCounts(50),
      // t27_bpe_encode ships rows-only (subword counts depend on the
      // learned merges); this gate row carries the exact-valued
      // roundtrip/bounds invariants plus real corpus counts
      "t27_verify" -> TokenizerSql.encodeVerify,
      "t24_bigram_lm" -> TextAnalysisSql.bigramLm(batchAPredSql),
      "t30_kneser_ney" -> TextAnalysisSql.kneserNey(batchAPredSql),
      // t31_lr_train ships rows-only (learned floats are engine-specific);
      // this gate row carries the exact-valued invariants
      "t31_verify" ->
        s"""SELECT CAST(sum(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_train,
           |       CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_holdout,
           |       TRUE AS loss_monotone, TRUE AS loss_halved,
           |       TRUE AS holdout_acc_ok
           |FROM documents
           |WHERE len(${TextAnalysisSql.toks}) > 0""".stripMargin,
      "t25_dsir" -> TextAnalysisSql.dsirWeights(dsirTargetPredSql),
      "pipe4_dsir_select" ->
        SamplingSql.dsirSelect(dsirTargetPredSql, 25, 8),
      "t12_tfidf" -> TextAnalysisSql.tfidf(tfidfTopK),
      "t13_bm25" -> TextAnalysisSql.bm25(bm25Query, bm25TopK),
      "p9_stratified_sample" ->
        s"""SELECT lang, rank, doc_id, quality FROM (
           |  SELECT d.lang, q.doc_id, q.quality,
           |         row_number() OVER (PARTITION BY d.lang
           |                            ORDER BY q.quality DESC, q.doc_id) AS rank
           |  FROM documents d JOIN (${TextAnalysisSql.qualityScore}) q
           |    ON d.doc_id = q.doc_id)
           |WHERE rank <= 20 ORDER BY lang, rank""".stripMargin,
      "t10_pii_scrub" -> s"${TextAnalysisSql.piiScrub} ORDER BY doc_id",
      "t11_contamination" -> TextAnalysisSql.contamination("doc_id % 100 = 0", 5),
      // k8: the rewrite preserves the row set and shrinks the file count
      "k9_zorder" -> LayoutSql.zorderManifest(16, 8),
      "k10_hilbert" -> LayoutSql.hilbertManifest(16, 8),
      "k11_skip_stats" -> LayoutSql.skipStats(16, 8),
      "k8_compact" -> ("SELECT TRUE AS files_reduced, TRUE AS rows_match, "
        + "CAST(count(*) AS BIGINT) AS n_rows FROM documents"),
      "k3_range_sink" ->
        """SELECT TRUE AS files_in_range, count(*) AS n_rows,
          |       CAST(0 AS BIGINT) AS range_overlaps FROM documents""".stripMargin,
      "t9_winnow_verify" ->
        s"""SELECT (SELECT count(*) FROM documents
           |        WHERE len(${TextAnalysisSql.toks}) > 0) AS n_docs,
           |       (SELECT count(*)
           |        FROM (SELECT doc_id, ${DedupSql.norm} AS nrm FROM documents
           |              WHERE len(${TextAnalysisSql.toks}) > 0) a
           |        JOIN (SELECT doc_id, ${DedupSql.norm} AS nrm FROM documents
           |              WHERE len(${TextAnalysisSql.toks}) > 0) b
           |          ON a.nrm = b.nrm AND a.doc_id < b.doc_id) AS n_exact_pairs,
           |       CAST(0 AS BIGINT) AS n_subset_violations,
           |       CAST(0 AS BIGINT) AS n_dup_mismatch""".stripMargin,
      "t4_verify" ->
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
           |       CAST(0 AS BIGINT) AS n_dup_mismatch""".stripMargin,
      "mm4_verify" ->
        s"""SELECT (SELECT count(*) FROM documents) AS n_media,
           |       (SELECT count(*) FROM documents a JOIN documents b
           |          ON a.text = b.text AND a.doc_id < b.doc_id)
           |         AS n_exact_pairs,
           |       CAST(0 AS BIGINT) AS n_dim_violations,
           |       CAST(0 AS BIGINT) AS n_range_violations,
           |       CAST(0 AS BIGINT) AS n_dup_mismatch""".stripMargin,
      "dedup_simhash_verify" -> DedupSql.simhashExactDupCheck,
      "dedup_jaccard_exact" -> DedupSql.jaccardAllPairs(0.5, 3),
      "dedup_editdist" -> DedupSql.editDistancePairs(8, 10, 40, 8, 1024),
      "dedup_editdist_fence" -> DedupSql.editDistanceFenceReport(8, 1024),
      "dedup_fuzzy_names" -> DedupSql.fuzzyNamePairs(0.94),
      "dedup_snm" -> DedupSql.sortedNeighborhoodPairs(4, 40, 2, 10),
      "dedup_span_rate" -> DedupSql.dupSpanRate(8),
      "dedup_snm_multi" -> DedupSql.sortedNeighborhoodMultipass(4, 40, 2, 10),
      // groups = test ratings that ALSO have a train-built filter (the
      // probe inner-joins on rating, so a test-only rating contributes no
      // group; the intersect keeps the gate scale-robust)
      "bloom_fp_bound" ->
        s"""SELECT CAST(count(DISTINCT rating) AS BIGINT) AS groups,
           |       CAST(0 AS BIGINT) AS violations FROM ($test)
           |WHERE rating IN (SELECT rating FROM ($train))""".stripMargin,
      "bloom_sharded_fp_bound" ->
        s"""SELECT CAST(count(DISTINCT rating) AS BIGINT) AS groups,
           |       CAST(0 AS BIGINT) AS violations FROM ($test)
           |WHERE rating IN (SELECT rating FROM ($train))""".stripMargin,
      "sim_ann_lsh_recall" -> SimilaritySql.recallGate(simQueryPredSql, simK),
      "sim_ann_ivf_recall" -> SimilaritySql.recallGate(simQueryPredSql, simK),
      "sim_ann_sq8_recall" -> SimilaritySql.recallGate(simQueryPredSql, simK),
      "sim_ann_pq_recall" -> SimilaritySql.recallGate(simQueryPredSql, simK),
      "sim_ann_ivfpq_recall" -> SimilaritySql.recallGate(simQueryPredSql, simK),
      "sim_ann_ivfpq_res_recall" -> SimilaritySql.recallGate(simQueryPredSql, simK),
      "st1_stream_hourly" ->
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
          |       event_type, count(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
      "st17_stream_sliding" -> // drained complete state == batch e6
        """WITH ev AS (SELECT epoch_ns(ts) // 1000 AS us, event_type
          |            FROM events),
          |hops AS (
          |  SELECT ((us // 900000000) - k) * 900000000 AS w_start_us,
          |         event_type
          |  FROM ev, (SELECT unnest(generate_series(0, 3)) AS k))
          |SELECT w_start_us, event_type, count(*) AS n
          |FROM hops GROUP BY 1, 2
          |ORDER BY w_start_us, event_type""".stripMargin,
      // drained (grp, h) state -> the batch sketch, minus the exact
      // column the bounded-state stream deliberately does not keep
      "st16_stream_kmv" ->
        KmvSql.distinctSketch("events", "event_type", "user_id"),
      "st2_stream_dedup" -> // coalesce: Spark's concat_ws key maps NULL
        // text to "" while count(DISTINCT) would skip a NULL outright
        s"""SELECT count(*) AS n_docs,
           |       count(DISTINCT coalesce(
           |         array_to_string(${TextAnalysisSql.toks}, ' '), ''))
           |         AS n_distinct
           |FROM documents""".stripMargin,
      "st13_stream_corpus" -> // drained (source, fp) state == batch rollup
        s"""SELECT source,
           |       CAST(count(DISTINCT coalesce(
           |         array_to_string(${TextAnalysisSql.toks}, ' '), ''))
           |         AS BIGINT) AS n_unique,
           |       CAST(count(*) AS BIGINT) AS n_docs
           |FROM documents WHERE ${TextAnalysisSql.lrScore(64)} >= 0
           |GROUP BY source ORDER BY source""".stripMargin,
      "st4_stream_append" -> // append mode emits only watermark-finalized
        // windows: window_end <= max event time (ms floor, Spark's
        // watermark precision) - 1h delay. The trailing windows stay open.
        """WITH m AS MATERIALIZED (
          |  SELECT (epoch_ns(max(ts)) // 1000000) - 3600000 AS wm_ms
          |  FROM events)
          |SELECT strftime(h, '%Y-%m-%d %H:00') AS hour, event_type,
          |       CAST(count(*) AS BIGINT) AS n
          |FROM (SELECT date_trunc('hour', ts) AS h, event_type FROM events), m
          |WHERE epoch_ms(h + INTERVAL 1 HOUR) <= wm_ms
          |GROUP BY h, event_type ORDER BY hour, event_type""".stripMargin,
      "st5_stream_stream_join" -> // inner emission == batch join; µs
        // precision on both sides (Spark casts ts div 1000 before joining)
        """WITH c AS (SELECT user_id, epoch_ns(ts) // 1000 AS c_us
          |           FROM events WHERE event_type = 'click'),
          |p AS (SELECT user_id, epoch_ns(ts) // 1000 AS p_us
          |      FROM events WHERE event_type = 'purchase')
          |SELECT strftime(make_timestamp(c_us), '%Y-%m-%d %H:00') AS hour,
          |       CAST(count(*) AS BIGINT) AS n_conversions
          |FROM c JOIN p ON c.user_id = p.user_id
          |  AND p_us >= c_us AND p_us < c_us + 3600000000
          |GROUP BY 1 ORDER BY hour""".stripMargin,
      "st8_stream_left_outer" -> // matches emit always; a null row emits
        // iff the click's join window closed under the final global
        // watermark = min over sides of (max side event ms − 1h delay)
        """WITH c AS (SELECT user_id, epoch_ns(ts) // 1000 AS c_us
          |           FROM events WHERE event_type = 'click'),
          |p AS (SELECT user_id, epoch_ns(ts) // 1000 AS p_us
          |      FROM events WHERE event_type = 'purchase'),
          |wm AS MATERIALIZED (
          |  SELECT least((SELECT max(c_us) FROM c) // 1000 - 3600000,
          |               (SELECT max(p_us) FROM p) // 1000 - 3600000)
          |         AS wm_ms),
          |m AS (SELECT c_us FROM c JOIN p ON c.user_id = p.user_id
          |        AND p_us >= c_us AND p_us < c_us + 3600000000),
          |ab AS (SELECT c_us FROM c, wm
          |       WHERE NOT EXISTS (SELECT 1 FROM p
          |               WHERE p.user_id = c.user_id
          |                 AND p_us >= c_us AND p_us < c_us + 3600000000)
          |         AND c_us + 3600000000 <= wm_ms * 1000)
          |SELECT strftime(make_timestamp(c_us), '%Y-%m-%d %H:00') AS hour,
          |       CAST(sum(CASE WHEN kind = 'm' THEN 1 ELSE 0 END) AS BIGINT)
          |         AS matched,
          |       CAST(sum(CASE WHEN kind = 'a' THEN 1 ELSE 0 END) AS BIGINT)
          |         AS abandoned
          |FROM (SELECT c_us, 'm' AS kind FROM m
          |      UNION ALL SELECT c_us, 'a' FROM ab)
          |GROUP BY 1 ORDER BY hour""".stripMargin,
      "st7_stream_dropdup" -> // doubled stream collapses to the batch rows
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "st9_foreach_sink" -> // sink round-trip preserves the batch row set
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "st6_stream_state" -> // delta emission sums to the batch count
        """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "st10_transform_state" -> // MapState deltas sum to the batch count
        """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
          |FROM events GROUP BY user_id, event_type
          |ORDER BY user_id, event_type""".stripMargin,
      "st3_stream_bloom_probe" -> // zero-FN: hits == total per group
        s"""SELECT rating, count(*) AS total, count(*) AS hits FROM ($train)
           |GROUP BY rating ORDER BY rating""".stripMargin,
      "o1_orc_roundtrip" ->
        "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
      "s4_file_metadata" -> // physical path agrees with partition value
        """SELECT lang, CAST(count(*) AS BIGINT) AS n,
          |       TRUE AS path_consistent
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
      "o2_zstd_roundtrip" -> // codec change is invisible to the data
        """SELECT doc_id, lang, CAST(length(text) AS INT) AS len
          |FROM documents ORDER BY doc_id""".stripMargin,
      "k6_rowgroup_pruning" -> // pruned scan returns exactly the range
        """SELECT doc_id, lang, n_chars
          |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,
      "j8_cross" -> // bounded dims: the only sane Cartesian
        """SELECT r_name, o_orderstatus, CAST(n_orders AS BIGINT) AS n_orders
          |FROM region CROSS JOIN (SELECT o_orderstatus, count(*) AS n_orders
          |                        FROM orders GROUP BY o_orderstatus)
          |ORDER BY r_name, o_orderstatus""".stripMargin,
      "mm5_resize" -> MultimodalSql.resize(128),
      "mm6_quantize" -> SimilaritySql.quantizeInt8Stats,
      "mm7_ahash" -> MultimodalSql.aHash(),
      "mm8_phash" -> MultimodalSql.pHash,
      "mm9_video_neardup" -> MultimodalSql.videoNearDup(),
      "mm10_audio_fp" -> MultimodalSql.audioFingerprint(),
      "st31_stream_neardup" -> DedupSql.nearDupAdmission(0.8, 3),
      "gr15_modularity" -> GraphSql.modularity(),
      "p19_domain_mix" -> // identical k-row rollup, identical capped
        // double arithmetic, rounded 6dp (2dp on the token mass)
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
          |FROM mixed ORDER BY source""".stripMargin,
      "gr1_degrees" -> GraphSql.degrees,
      "gr2_triangles" -> GraphSql.triangles,
      "gr3_pagerank" -> GraphSql.pagerank(),
      "gr4_neighbor_jaccard" -> GraphSql.neighborJaccard,
      "gr5_cluster_coeff" -> GraphSql.clusteringCoefficient,
      "gr6_bfs_hops" -> GraphSql.bfsHops("node % 50 = 0"),
      "gr7_link_pred" -> GraphSql.linkPrediction(),
      "gr8_ppr" -> GraphSql.personalizedPagerank("node % 50 = 0"),
      "gr9_communities" -> GraphSql.labelPropagation(),
      "gr10_kcore" -> GraphSql.kCore(),
      "gr11_assortativity" -> GraphSql.assortativity,
      "gr12_hits" -> GraphSql.hits(),
      "gr13_wcc" -> GraphSql.connectedComponents(),
      "gr14_reciprocity" -> GraphSql.reciprocity,
      "priv1_k_anonymity" -> PrivacySql.kAnonymityLadder(kAnonWidths, kAnonK),
      "priv2_verify" -> PrivacySql.dpVerify,
      "priv3_k_suppress" -> PrivacySql.kSuppress(kAnonWidths(1), kAnonK),
      "priv4_t_closeness" -> PrivacySql.tCloseness(kAnonWidths(2),
        tClosenessT),
      "priv5_l_diversity" -> PrivacySql.entropyLDiversity(kAnonWidths(1),
        entropyLDiversityL),
      "fe1_target_encode" -> FeatureEngSql.targetEncode(),
      "fe2_assoc_rules" -> FeatureEngSql.associationRules(),
      "fe4_cv_target_encode" -> FeatureEngSql.cvTargetEncode(),
      "fe3_benford" -> FeatureEngSql.benford,
      "fe5_psi_drift" -> FeatureEngSql.psiDrift(),
      "fe6_woe_iv" -> FeatureEngSql.woeIv(),
      "fe7_chi2" -> FeatureEngSql.chiSquare,
      "fe8_mutual_info" -> FeatureEngSql.mutualInfo,
      "fe9_corr_matrix" -> FeatureEngSql.corrMatrix,
      "fe10_ks_test" -> FeatureEngSql.ksTest,
      "t35_nb_model" -> NaiveBayesSql.model,
      "t36_nb_classify" -> NaiveBayesSql.apply,
      "t37_nb_eval" -> NaiveBayesSql.evaluate,
      "sim_mmr_verify" -> SimilaritySql.mmrVerify(simQueryPredSql),
      "sim_rrf_fusion" -> // same two rankers, same 1/(60+rank) fusion
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
           |WHERE rank <= 10 ORDER BY rank""".stripMargin
      // bloom_filters / bloom_fpstats: hash/bit-valued, not SQL-expressible
      // (SURVEY.md §7.4.3) -> driver rows-only check; invariants covered by
      // bloom_zero_fn above + PipelineSpec/statistical e2e.
      // t4_shingle_fp / dedup_simhash: mmh3/simhash-valued -> rows-only +
      // ScalaTest (TextDedupSpec). sim_ann_lsh: approximate by design ->
      // rows-only + recall bound in SimilaritySpec.
    )
  }
}
